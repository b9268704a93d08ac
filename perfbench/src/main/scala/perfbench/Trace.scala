package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One timed layer call. `parent` is the id of the enclosing span, -1 at
  * the top. Times are System.nanoTime values.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, qid: String) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled, it only runs the body. */
final class Spans(var enabled: Boolean) {
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String, qid: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, t0, System.nanoTime(), parent, qid)
        stack = stack.tail
      }
    }

  /** Duration minus the durations of direct children, per span id. */
  def selfMs: Map[Int, Double] = {
    val childMs = done.groupBy(_.parent).view.mapValues(_.map(_.ms).sum)
    done.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}

/** Scheduler totals for one (query, layer) pair. */
final class LayerTotals {
  var jobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** [submission, completion] of every completed stage, epoch ms. */
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Ties jobs, stages and tasks to the query and layer the benchmark set
  * as local properties on the submitting thread. Events without those
  * properties (none are expected while it is attached) land under
  * ("", "").
  */
final class LayerListener extends SparkListener {
  private val byKey = mutable.Map.empty[(String, String), LayerTotals]
  private val stageKey = mutable.Map.empty[Int, (String, String)]

  private def key(p: java.util.Properties): (String, String) =
    if (p == null) ("", "")
    else (Option(p.getProperty(Keys.Qid)).getOrElse(""),
      Option(p.getProperty(Keys.Layer)).getOrElse(""))

  private def totals(k: (String, String)) = byKey.getOrElseUpdate(k, new LayerTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = key(e.properties)
    totals(k).jobs += 1
    e.stageIds.foreach(stageKey(_) = k)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.properties != null) stageKey(e.stageInfo.stageId) = key(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val t = totals(stageKey.getOrElse(info.stageId, ("", "")))
    t.stages += 1
    if (info.numTasks == 1) t.singleTaskStages += 1
    for (s <- info.submissionTime; c <- info.completionTime) t.stageIntervals += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageKey.getOrElse(e.stageId, ("", "")))
    t.tasks += 1
    if (!e.taskInfo.successful) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.taskRunMs += m.executorRunTime
      t.taskCpuNs += m.executorCpuTime
      t.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Map[(String, String), LayerTotals] = synchronized(byKey.toMap)
  def clear(): Unit = synchronized { byKey.clear(); stageKey.clear() }
}

object Keys {
  val Qid = "perfbench.qid"
  val Layer = "perfbench.layer"
}

/** Operator counts of a final physical plan, subqueries and AQE stages
  * included. Read it after the action: only then has AQE fixed the
  * join strategies.
  */
object Census {
  val kinds = Seq("exchanges", "smj", "bhj", "bnlj", "windows")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  def apply(plan: SparkPlan): Map[String, Long] = {
    val names = nodes(plan).map(_.getClass.getSimpleName)
    def n(p: String => Boolean) = names.count(p).toLong
    Map(
      "exchanges" -> n(s => s == "ShuffleExchangeExec" || s == "BroadcastExchangeExec"),
      "smj" -> n(_ == "SortMergeJoinExec"),
      "bhj" -> n(_ == "BroadcastHashJoinExec"),
      "bnlj" -> n(_ == "BroadcastNestedLoopJoinExec"),
      "windows" -> n(_ == "WindowExec"))
  }
}

/** Union length of possibly overlapping intervals. */
object Intervals {
  def union(xs: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
