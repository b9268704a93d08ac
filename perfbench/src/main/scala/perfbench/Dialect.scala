package perfbench

import scala.util.Random

/** Seeded query stream in the reference dialect (`==` for equality,
  * comma joins, AND/OR nesting) over an integer catalog whose first and
  * last columns share one key domain, so any first/last pair joins; the
  * columns between them hold values in [-1000, 1000).
  * Shapes cycle in a fixed order, so every stream of the same length has
  * the same mix; only tables, columns and literals follow the seed.
  * Range filters compare value columns with literals near 0, so each
  * keeps 40-60% of rows and output sizes vary little between seeds.
  */
object Dialect {
  val shapes = Seq("project", "star", "andor", "aggregate", "distinct", "join2", "joinN")

  def stream(rng: Random, catalog: Seq[(String, Seq[String])], n: Int): Seq[String] = {
    def table() = catalog(rng.nextInt(catalog.size))
    def col(t: (String, Seq[String])) = t._2(rng.nextInt(t._2.size))
    def value(t: (String, Seq[String])) = t._2(1 + rng.nextInt(t._2.size - 2))
    def lit() = rng.nextInt(400) - 200
    def key() = rng.nextInt(40)
    def chain(k: Int) = rng.shuffle(catalog).take(k)
    def joinWhere(ts: Seq[(String, Seq[String])]) =
      ts.sliding(2).map { case Seq(a, b) => s"${a._1}.${a._2.last} == ${b._1}.${b._2.head}" }
    (0 until n).map { i =>
      shapes(i % shapes.size) match {
        case "project" =>
          val t = table()
          s"SELECT ${col(t)}, ${col(t)} FROM ${t._1} WHERE ${value(t)} > ${lit()}"
        case "star" =>
          val t = table()
          s"SELECT * FROM ${t._1} WHERE ${t._2.head} == ${key()}"
        case "andor" =>
          val t = table()
          s"SELECT ${t._2.head}, ${col(t)} FROM ${t._1} WHERE (${t._2.head} == ${key()} " +
            s"OR ${value(t)} < ${lit()}) AND ${value(t)} > ${lit()}"
        case "aggregate" =>
          val t = table()
          val agg = Seq("MAX", "MIN", "COUNT")(rng.nextInt(3))
          s"SELECT SUM(${col(t)}), AVG(${col(t)}), $agg(${col(t)}) FROM ${t._1} " +
            s"WHERE ${value(t)} > ${lit()}"
        case "distinct" =>
          val t = table()
          s"SELECT DISTINCT ${t._2.head} FROM ${t._1} WHERE ${value(t)} < ${lit()}"
        case "join2" =>
          val Seq(a, b) = chain(2)
          s"SELECT ${a._1}.${col(a)}, ${b._1}.${col(b)} FROM ${a._1}, ${b._1} WHERE " +
            (joinWhere(Seq(a, b)).toSeq :+ s"${b._1}.${value(b)} > ${lit()}").mkString(" AND ")
        case _ =>
          val ts = chain(3 + rng.nextInt(2))
          val (a, z) = (ts.head, ts.last)
          s"SELECT ${a._1}.${col(a)}, ${z._1}.${col(z)} FROM ${ts.map(_._1).mkString(", ")} WHERE " +
            (joinWhere(ts).toSeq ++ Seq(s"${a._1}.${value(a)} > ${lit()}",
              s"${z._1}.${value(z)} < ${lit()}")).mkString(" AND ")
      }
    }
  }
}
