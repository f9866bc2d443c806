package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-layer tracing for one traced pass.
  *
  * A span is one call the benchmark makes into a product layer. `span`
  * tags every Spark job started inside the call with a local property
  * (inherited by the catalog's worker threads and captured by Spark's
  * broadcast threads), and a listener attributes jobs, stages and task
  * metrics to the span through that tag. Jobs submitted without a tag are
  * counted as unattributed, never silently dropped.
  *
  * A job is a fixpoint job (`wcc_*`) when the call site of one of its
  * stages, or of the SQL execution that submitted it, passes through
  * `Dedup.componentMinLabels`. The match is on the method name only, so a
  * moved line never breaks the attribution.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private final class JobRec(val span: String, val start: Long,
                             val stages: Seq[Int], val wcc: Boolean) {
    @volatile var end: Long = -1L
  }
  private final class StageAgg {
    val taskMs, gcMs, shuffleWrite, peakTaskWrite, spill, inputBytes,
      inputRecords, outputBytes, outputRecords = new AtomicLong
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val executionSite = new ConcurrentHashMap[Long, String]()
  private val stageOwner = new ConcurrentHashMap[Int, JobRec]()
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  private val taskEvents = new AtomicLong
  private val spans = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val tag = prop(SpanKey).getOrElse(Unattributed)
    // adaptive execution submits most stages from its own thread pool, so
    // the SQL execution's call site is the one that names the caller
    val sites = e.stageInfos.map(_.details) ++
      prop(ExecutionIdKey).flatMap(id => Option(executionSite.get(id.toLong)))
    val wcc = sites.exists(WccFrame.findFirstIn(_).isDefined)
    val rec = new JobRec(tag, e.time, e.stageIds, wcc)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageOwner.putIfAbsent(_, rec))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionSite.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      val w = m.shuffleWriteMetrics.bytesWritten
      a.taskMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleWrite.addAndGet(w)
      a.peakTaskWrite.getAndUpdate(p => math.max(p, w))
      a.spill.addAndGet(m.diskBytesSpilled)
      a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      a.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      a.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      a.outputRecords.addAndGet(m.outputMetrics.recordsWritten)
    }
    taskEvents.incrementAndGet()
  }

  /** Run `body` as span `name`; spans of one pass run one after another. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += ((name, t0, System.currentTimeMillis()))
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Wait for the asynchronous listener bus to deliver every job end and
    * task end of the pass: all jobs ended and two quiet polls in a row.
    */
  def drain(): Unit = {
    var quiet = 0
    var last = -1L
    val deadline = System.currentTimeMillis() + 30000
    while (quiet < 2 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val n = taskEvents.get()
      val open = jobs.values.asScala.exists(_.end < 0)
      if (!open && n == last) quiet += 1 else quiet = 0
      last = n
    }
  }

  /** Counters per span, plus the unattributed remainder of the pass. */
  def report(passWallS: Double): Map[String, Double] = {
    drain()
    val all = jobs.values.asScala.toSeq
    def stagesOf(js: Seq[JobRec]): Seq[StageAgg] =
      js.flatMap(j => j.stages.filter(s => stageOwner.get(s) eq j))
        .flatMap(s => Option(stageAgg.get(s)))
    def sum(as: Seq[StageAgg])(f: StageAgg => AtomicLong): Long =
      as.map(a => f(a).get).sum
    val perSpan = spans.toSeq.flatMap { case (name, t0, t1) =>
      val js = all.filter(_.span == name)
      val st = stagesOf(js)
      val wcc = js.filter(_.wcc)
      val write = sum(st)(_.shuffleWrite)
      val peak = if (st.isEmpty) 0L else st.map(_.peakTaskWrite.get).max
      val covered = union(js.map(j => (math.max(j.start, t0), math.min(j.end, t1))))
      val wall = (t1 - t0) / 1e3
      val counters = Seq(
        "wall_s" -> wall,
        "jobs" -> js.size.toDouble,
        "driver_gap_s" -> (wall - covered / 1e3),
        "small_job_share" ->
          (if (js.isEmpty) 0.0
           else js.count(j => j.end - j.start <= SmallJobMs).toDouble / js.size),
        "task_s" -> sum(st)(_.taskMs) / 1e3,
        "gc_s" -> sum(st)(_.gcMs) / 1e3,
        "shuffle_write_mb" -> write / MiB,
        "spill_mb" -> sum(st)(_.spill) / MiB,
        "skew" -> (if (write == 0) 0.0 else peak.toDouble / write),
        "rows_in" -> sum(st)(_.inputRecords).toDouble,
        "scan_mb" -> sum(st)(_.inputBytes) / MiB,
        "write_mb" -> sum(st)(_.outputBytes) / MiB,
        "rows_out" -> sum(st)(_.outputRecords).toDouble,
        "wcc_jobs" -> wcc.size.toDouble,
        "wcc_task_s" -> sum(stagesOf(wcc))(_.taskMs) / 1e3)
      counters.map { case (k, v) => s"$name.$k" -> v }
    }
    val spanWall = spans.map { case (_, t0, t1) => (t1 - t0) / 1e3 }.sum
    (perSpan ++ Seq(
      "trace.unattributed_s" -> (passWallS - spanWall),
      "trace.unattributed_jobs" -> all.count(_.span == Unattributed).toDouble
    )).toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val ExecutionIdKey = "spark.sql.execution.id"
  val Unattributed = "<none>"
  val SmallJobMs = 50L
  val MiB: Double = 1024.0 * 1024.0
  /** A stack frame of `graft.llm.Dedup.componentMinLabels` or one of its
    * closures, e.g. `graft.llm.Dedup$.$anonfun$componentMinLabels$2(`.
    */
  val WccFrame = """graft\.llm\.Dedup\$\.[\w$]*componentMinLabels[\w$]*\(""".r

  /** Total length of the union of [start, end] intervals (ms). */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
