package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Spark-side accounting for the traced run, read from outside the
  * engine: a listener attributes every job, stage and task to the
  * operation and phase (construct | exec) named by the client thread's
  * local properties at submission time. */
final class OpListener extends SparkListener {
  final class Acc {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val cpuNs = new AtomicLong
    val runMs = new AtomicLong
    val gcMs = new AtomicLong
    val inputRows = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    // (start ms, end ms) of jobs and stages, filled as they complete
    val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val stageSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  }
  private val accs = new ConcurrentHashMap[(Long, String), Acc]
  private val stageKey = new ConcurrentHashMap[Int, (Long, String)]
  private val jobKey = new ConcurrentHashMap[Int, ((Long, String), Long)]
  private val taskSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  val jobsStarted = new AtomicInteger
  val jobsEnded = new AtomicInteger
  val tasksStarted = new AtomicInteger
  val tasksEnded = new AtomicInteger
  @volatile var lastEventNs: Long = System.nanoTime()

  def acc(op: Long, phase: String): Acc = accs.computeIfAbsent((op, phase), _ => new Acc)
  def get(op: Long, phase: String): Option[Acc] = Option(accs.get((op, phase)))

  private def keyOf(p: java.util.Properties): (Long, String) =
    if (p == null) (-1L, "none")
    else (Option(p.getProperty(OpListener.OpProp)).map(_.toLong).getOrElse(-1L),
      Option(p.getProperty(OpListener.PhaseProp)).getOrElse("none"))

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch(); jobsStarted.incrementAndGet()
    val k = keyOf(e.properties)
    jobKey.put(e.jobId, (k, e.time))
    acc(k._1, k._2).jobs.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch(); jobsEnded.incrementAndGet()
    Option(jobKey.remove(e.jobId)).foreach { case (k, start) =>
      acc(k._1, k._2).jobSpans.add((start, e.time))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    touch()
    val k = keyOf(e.properties)
    stageKey.put(e.stageInfo.stageId, k)
    acc(k._1, k._2).stages.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val si = e.stageInfo
    val k = Option(stageKey.get(si.stageId)).getOrElse((-1L, "none"))
    for (s <- si.submissionTime; c <- si.completionTime)
      acc(k._1, k._2).stageSpans.add((s, c))
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    touch(); tasksStarted.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch(); tasksEnded.incrementAndGet()
    val k = Option(stageKey.get(e.stageId)).getOrElse((-1L, "none"))
    val m = e.taskMetrics
    // executor-side interval: the driver records finishTime only when the
    // result arrives, after the slot may already run the next task
    if (k._1 >= 0 && m != null) taskSpans.add((e.taskInfo.launchTime,
      e.taskInfo.launchTime + m.executorDeserializeTime + m.executorRunTime))
    val a = acc(k._1, k._2)
    a.tasks.incrementAndGet()
    if (m != null) {
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.runMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.inputRows.addAndGet(m.inputMetrics.recordsRead)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Most tasks of timed operations running at once, from task
    * launch/finish times (a task that ends in the millisecond another
    * starts does not overlap it). */
  def peakTasks: Int = {
    val ev = taskSpans.asScala.toSeq.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) }
    ev.scanLeft(0)(_ + _._2).max
  }

  /** The listener bus is asynchronous: wait until every started job and
    * task has ended and no event arrived for a quiet period. */
  def drain(timeoutMs: Long = 10000): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = jobsStarted.get == jobsEnded.get &&
      tasksStarted.get == tasksEnded.get &&
      System.nanoTime() - lastEventNs > 200000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
    settled
  }
}

object OpListener {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"
}

/** One operation's client-side timeline (ns from a shared origin, plus
  * the wall-clock ms the listener and the planning tracker speak). */
final case class OpSpan(id: Long, name: String, family: String, kind: String,
    startNs: Long, constructNs: Long, endNs: Long,
    startMs: Long, constructMs: Long, endMs: Long,
    phases: Map[String, (Long, Long)], rules: Map[String, (Long, Long, Long)],
    physical: Map[String, Double], extra: Map[String, Double])

object Trace {
  /** Length of the union of [s, e) intervals clipped to [lo, hi). */
  def unionMs(spans: Iterable[(Long, Long)], lo: Long = Long.MinValue,
      hi: Long = Long.MaxValue): Long = {
    val clipped = spans.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Planning-tracker phases of the DataFrame: name -> (start ms, end ms). */
  def phases(df: DataFrame): Map[String, (Long, Long)] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }

  /** Tracker rule summaries: rule -> (ns, invocations, effective). */
  def rules(df: DataFrame): Map[String, (Long, Long, Long)] =
    df.queryExecution.tracker.rules.map { case (k, v) =>
      k -> (v.totalTimeNs, v.numInvocations, v.numEffectiveInvocations)
    }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** SQLMetrics of AQE's final plan, summed by node kind, in seconds. */
  def physical(df: DataFrame): Map[String, Double] = {
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    def secs(m: org.apache.spark.sql.execution.metric.SQLMetric): Double =
      m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => 0.0
      }
    val wanted = Seq(
      ("FileSourceScanExec", "scanTime", "scan_time_s"),
      ("HashAggregateExec", "aggTime", "agg_time_s"),
      ("ObjectHashAggregateExec", "aggTime", "agg_time_s"),
      ("SortExec", "sortTime", "sort_time_s"),
      ("ShuffleExchangeExec", "shuffleWriteTime", "shuffle_write_time_s"),
      ("ShuffledHashJoinExec", "buildTime", "join_build_time_s"),
      ("BroadcastExchangeExec", "buildTime", "join_build_time_s"))
    try nodes(df.queryExecution.executedPlan).foreach { n =>
      val kind = n.getClass.getSimpleName
      wanted.foreach { case (k, metric, name) =>
        if (kind == k) n.metrics.get(metric).foreach(m => out(name) += secs(m))
      }
    } catch { case _: Throwable => }
    out.toMap
  }

  def tempViews(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTempViewNames().size

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}
