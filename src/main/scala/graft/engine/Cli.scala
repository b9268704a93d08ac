package graft.engine

import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's only entry point (`20172086.sh:1` →
  * `python sqlengine.py "<query>"`): query text as argv(0), data
  * directory (metadata.txt + CSVs) as optional argv(1), result printed in
  * the reference format. Errors come out as clean one-line messages
  * instead of raw tracebacks (SURVEY.md §2.11).
  */
object Cli {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.engine.Cli \"<sql query>\" [dataDir]")
      sys.exit(1)
    }
    val query = args(0)
    val dir = if (args.length > 1) args(1) else "."
    val spark = graft.GraftSession
      .builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-cli")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val run = Engine.forDirectory(spark, dir)
      println(ResultFormatter.render(run(query)))
    } catch {
      // ParseException extends AnalysisException, so it must match first
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        System.err.println(s"parse error: ${e.getMessage.trim.linesIterator.next()}")
        sys.exit(3)
      case e: org.apache.spark.sql.AnalysisException =>
        System.err.println(s"error: ${e.getSimpleMessage}")
        sys.exit(2)
    } finally spark.stop()
  }
}
