package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Bench, GraftSession, SparkEntry, Tables}
import graft.engine.{Catalog, Engine, ResultFormatter}

/** One benchmark run in one JVM: set-up (several times), an untimed check
  * pass that writes every result to `--check` for the output check, one
  * uncounted warm-up pass, then timed passes over the same queries until
  * `--seconds` have gone by. Writes `run.json`
  * (metrics and the query list) and, when traced, `spans.jsonl` and
  * `queries.jsonl` into `--out`.
  *
  * Closed loop: one thread, one query in flight.
  */
object Main {

  /** Set-ups per run. A warm dialect set-up takes about 0.3 s and
    * varies by a third from one to the next, so it is repeated more often
    * than the pipeline's 1.6 s one.
    */
  private def setups(dialect: Boolean) = if (dialect) 11 else 5

  /** Dialect queries per pass: 10 of each shape. */
  private val streamLength = 70

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val out = new File(args("out"))
    val tmp = args("tmp")
    val data = args("data")
    val checkDir = new File(args("check"))
    checkDir.mkdirs()

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spans = new Spans(traced)
    val listener = new LayerListener
    val dialect = workload == "dialect"
    val rng = new Random(seed)

    // --- set-up, several times; the first counts from JVM start
    var spark: SparkSession = null
    var catalogTables: Seq[(String, Seq[String])] = Nil
    val setupS = mutable.ArrayBuffer.empty[Double]
    val jobs: Seq[String] = if (dialect) Nil else Workloads.pipeline
    for (i <- 0 until setups(dialect)) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        // the stopped session's garbage is collected here, not inside
        // the next set-up's timing
        System.gc()
      }
      val t0 = System.nanoTime()
      spark = spans("setup.session", "") {
        GraftSession.builder(s"local[$cores]", cores)
          .appName("perfbench")
          .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
          .config("spark.local.dir", s"$tmp/local")
          .getOrCreate()
      }
      spark.sparkContext.setLogLevel("WARN")
      if (dialect) {
        val run = spans("engine.catalog", "") { Engine.forDirectory(spark, data) }
        catalogTables = Catalog.load(s"$data/metadata.txt").toSeq.sortBy(_._1)
          .map { case (t, s) => t -> s.fieldNames.toSeq }
        spans("setup.warmup", "") {
          ResultFormatter.render(run(s"SELECT * FROM ${catalogTables.head._1}"))
        }
      } else {
        spans("tables.register", "") { Tables.registerAll(spark, data) }
        spans("setup.warmup", "") {
          Bench.materialize(SparkEntry.queries(jobs.head)(spark, data))
        }
      }
      setupS += (if (i == 0) (System.currentTimeMillis() - jvmStart) / 1e3
        else (System.nanoTime() - t0) / 1e9)
    }
    val sc = spark.sparkContext
    val setupSpans = spans.done.toVector

    // --- untimed check pass over exactly the queries the timed passes
    // run: every result goes to --check for run.py
    val failures = mutable.LinkedHashMap.empty[String, String]
    val checked = mutable.ArrayBuffer.empty[String]
    val stream: Seq[(String, String)] =
      if (!dialect) Nil
      else Dialect.stream(rng, catalogTables, streamLength).zipWithIndex.map { case (q, i) => f"d$i%02d" -> q }
    val dialectLog = new PrintWriter(new File(checkDir, "dialect.jsonl"))
    spans.enabled = false
    if (dialect) {
      stream.foreach { case (name, q) =>
        checked += name
        try dialectLog.println(Json.obj(Map("name" -> name, "sql" -> q,
          "out" -> ResultFormatter.render(Engine.run(spark, q)))))
        catch { case NonFatal(e) => failures(name) = e.toString }
      }
    } else {
      rng.shuffle(jobs).foreach { name =>
        checked += name
        // the same dump graft.Verify writes for the graded check
        try SparkEntry.queries(name)(spark, data).coalesce(1).write
          .parquet(new File(checkDir, name).getPath)
        catch { case NonFatal(e) => failures(name) = e.toString }
      }
    }
    dialectLog.close()

    // --- timed passes
    final case class Pass(wallS: Double, cpuS: Double, traced: Boolean,
        latencies: Seq[(String, Double)], layers: Map[String, Double])
    val passes = mutable.ArrayBuffer.empty[Pass]
    val queryRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
    var executed = 0L
    var attached = false
    def runPass(p: Int, tracing: Boolean): Pass = {
      spans.enabled = tracing
      if (traced) { ListenerBusDrain(sc); listener.clear() }
      // attach once per traced stretch: a listener added twice counts twice
      if (tracing != attached) {
        if (tracing) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
        attached = tracing
      }
      val spanFrom = spans.done.size
      val census = mutable.Map.from(Census.kinds.map(_ -> 0L))
      val engine = mutable.Map("rows_out" -> 0.0)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val gc0 = gcMs
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val lat = mutable.ArrayBuffer.empty[(String, Double)]
      def timed(qid: String)(body: => DataFrame): Unit = {
        val q0 = System.nanoTime()
        val df = try spans("query", qid)(body)
          catch { case NonFatal(e) => failures(qid) = e.toString; null }
        lat += qid.takeWhile(_ != '#') -> (System.nanoTime() - q0) / 1e6
        executed += 1
        if (tracing && df != null)
          Census(df.queryExecution.executedPlan).foreach { case (k, v) => census(k) += v }
      }
      def layer(qid: String, name: String) = {
        sc.setLocalProperty(Keys.Qid, qid)
        sc.setLocalProperty(Keys.Layer, name)
      }
      if (dialect) rng.shuffle(stream).foreach { case (name, q) =>
        val qid = s"$name#$p"
        timed(qid) {
          layer(qid, "analyze")
          val df = spans("engine.analyze", qid)(Engine.run(spark, q))
          layer(qid, "plan")
          spans("plan", qid)(df.queryExecution.executedPlan)
          layer(qid, "render")
          val text = spans("engine.render", qid)(ResultFormatter.render(df))
          if (!text.endsWith("\nNo Results Found")) engine("rows_out") += text.count(_ == '\n')
          df
        }
        // Engine.run applies the pre-pass itself, inside engine.analyze;
        // traced passes time it once more on its own, outside the query
        if (tracing) spans("engine.prepass", qid)(Engine.prePass(q))
      } else rng.shuffle(jobs).foreach { name =>
        val qid = s"$name#$p"
        timed(qid) {
          layer(qid, "build")
          val df = spans("build", qid)(SparkEntry.queries(name)(spark, data))
          layer(qid, "plan")
          spans("plan", qid)(df.queryExecution.executedPlan)
          layer(qid, "exec")
          spans("exec", qid)(Bench.materialize(df))
          df
        }
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val gcPass = (gcMs - gc0).toDouble
      val layers =
        if (!tracing) Map.empty[String, Double]
        else {
          ListenerBusDrain(sc)
          val (ls, recs) = Layers(spans.done.drop(spanFrom).toSeq, spans.selfMs,
            listener.snapshot(), cores, cpuS)
          queryRecords ++= recs
          ls ++ census.map { case (k, v) => s"plan.$k" -> v.toDouble } ++
            engine.map { case (k, v) => s"engine.$k" -> v } ++ Map(
              "jvm.gc_ms" -> gcPass,
              "jvm.codegen_compiles" ->
                (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
              "jvm.codegen_ms" -> (CodeGenerator.compileTime - compileNs0) / 1e6)
        }
      Pass(wallS, cpuS, tracing, lat.toSeq, layers)
    }
    // One uncounted pass first: the check pass runs the same plans, but
    // the first timed-style pass is still ~30% slower while the JIT
    // settles.
    runPass(-1, tracing = false)
    // live heap after each counted pass, outside the pass timing. The
    // first GC lets Spark's ContextCleaner see which checkpoint and
    // broadcast blocks are unreferenced; the second runs after it has
    // dropped them. One GC alone read 100 or 132 MB on the same workload,
    // depending on whether the cleaner had run yet.
    var heapPeakMb = 0.0
    def liveHeapMb() = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    val windowStart = System.nanoTime()
    // traced runs interleave untraced and traced passes as U T T U, so
    // the JIT's steady speed-up over a run cancels out; tracing overhead
    // is the difference between the two medians
    def passTraced(p: Int) = traced && (p % 4 == 1 || p % 4 == 2)
    while (passes.size < (if (traced) 4 else 1) ||
        (System.nanoTime() - windowStart) / 1e9 < seconds) {
      passes += runPass(passes.size, passTraced(passes.size))
      heapPeakMb = math.max(heapPeakMb, liveHeapMb())
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    spark.stop()

    // --- metrics
    val untraced = passes.filterNot(_.traced)
    val lat = untraced.flatMap(_.latencies.map(_._2)).sorted
    val (tailPct, tailMs) = Stats.tail(lat.toSeq)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "wall_s" -> Stats.median(untraced.map(_.wallS).toSeq),
      "cpu_s" -> Stats.median(untraced.map(_.cpuS).toSeq),
      "latency_p50_ms" -> Stats.median(lat.toSeq),
      "latency_tail_ms" -> tailMs,
      "heap_peak_mb" -> heapPeakMb)
    val perLayer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tp = passes.filter(_.traced)
        val keys = tp.flatMap(_.layers.keys).distinct
        val med = keys.map(k => k -> Stats.median(tp.map(_.layers.getOrElse(k, 0.0)).toSeq)).toMap
        def setupMs(name: String) = setupSpans.filter(_.name == name).map(_.ms)
        med ++ Map(
          "tables.register_ms" -> Stats.median(setupMs("tables.register")),
          "engine.catalog_ms" -> Stats.median(setupMs("engine.catalog")),
          "trace.overhead_ms" ->
            (Stats.median(tp.map(_.wallS).toSeq) - Stats.median(untraced.map(_.wallS).toSeq)) * 1e3)
      }

    if (traced) {
      val w = new PrintWriter(new File(out, "spans.jsonl"))
      try spans.done.foreach(s => w.println(Json.obj(Map("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "qid" -> s.qid))))
      finally w.close()
      val q = new PrintWriter(new File(out, "queries.jsonl"))
      try queryRecords.foreach(r => q.println(Json.obj(r))) finally q.close()
    }
    val run = Map(
      "workload" -> workload,
      "cores" -> cores,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.version"),
      "queries" -> (if (dialect) Dialect.shapes.map(s => s"dialect:$s") else jobs),
      "checked" -> checked.toSeq,
      "oracle" -> SparkEntry.oracleSql.filter { case (n, _) => jobs.contains(n) },
      "failures" -> failures.toMap,
      "passes" -> passes.size,
      "traced_passes" -> passes.count(_.traced),
      "executed" -> executed,
      "window_s" -> windowS,
      "setup_runs_s" -> setupS.toSeq,
      "pass_wall_s" -> passes.map(_.wallS).toSeq,
      "latency_n" -> lat.size,
      "latency_by_query_ms" -> untraced.flatMap(_.latencies).groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(_._2) },
      "latency_tail_pct" -> tailPct,
      "end_to_end" -> e2e,
      "per_layer" -> perLayer)
    val w = new PrintWriter(new File(out, "run.json"))
    try w.println(Json.obj(run)) finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest whole percentile that still has at least ten samples
    * above it, but never below p75 (a run with fewer than 40 samples
    * reports p75), and the sample at that rank (nearest-rank).
    */
  def tail(sorted: Seq[Double]): (Int, Double) = {
    val n = sorted.size
    val pct = math.max(75, math.floor(100.0 * (n - 10) / n).toInt)
    val rank = math.max(1, math.ceil(pct / 100.0 * n).toInt)
    (pct, if (n == 0) 0.0 else sorted(rank - 1))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
