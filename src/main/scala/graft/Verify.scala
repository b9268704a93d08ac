package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args = run only these queries (dev loop); the
    // driver passes exactly (sfDir, outDir) and gets the full dump
    val only = args.drop(2).toSet
    def selected(name: String) = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .appName("graft-verify")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.filter(q => selected(q._1))
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
