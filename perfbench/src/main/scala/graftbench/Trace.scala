package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracing for the benchmark's traced runs.
  *
  * Spans are recorded in the benchmark's own code around each call into a
  * layer (pass → op → build / action / verify / layer probes). Spark work
  * is observed from outside through public listeners: every job with its
  * stages, tasks and task metrics, the Catalyst phase intervals of every
  * query execution (`QueryExecution.tracker`), and streaming progress. After
  * the run, each Spark record is attached to the innermost span whose
  * interval holds its start, so that self time can be computed per layer.
  * Nothing is written until the run ends.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var on = false

  /** Record `body` as a span when tracing is attached; otherwise just run it. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, parent, layer, name, System.nanoTime(), -1L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(t1 = System.nanoTime())
      }
    }

  // --- Spark-side records (filled on the listener bus thread) ---
  private val lock = new Object
  val jobs = ArrayBuffer.empty[Job]
  private val stageToJob = scala.collection.mutable.Map.empty[Int, Job]
  val phases = ArrayBuffer.empty[Phase]
  val progress = ArrayBuffer.empty[Progress]
  @volatile private var lastEventNs = System.nanoTime()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val j = new Job(e.jobId, msToNs(e.time))
      jobs += j
      e.stageInfos.foreach(s => stageToJob(s.stageId) = j)
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.t1 = msToNs(e.time))
      lastEventNs = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageToJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageToJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runNs += m.executorRunTime * 1000000L
          j.cpuNs += m.executorCpuTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      lastEventNs = System.nanoTime()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, msToNs(p.startTimeMs), msToNs(p.endTimeMs))
      }
      lastEventNs = System.nanoTime()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val d = e.progress.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        progress += Progress(ms("triggerExecution"), ms("latestOffset"),
          ms("queryPlanning"), e.progress.numInputRows)
      }
  }

  def attach(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def detach(): Unit = if (on) {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Wait until the asynchronous listener bus has delivered everything (no
    * event for 200 ms, at most 5 s).
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 200000000L && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  // --- Attribution ---

  /** Per-span rollup of the Spark work that started inside it. */
  def rollup(spanIds: Set[Int]): Rollup = lock.synchronized {
    val ivs = spanIds.toSeq.map(i => (spans(i).t0, spans(i).t1))
    def inside(t: Long) = ivs.exists { case (a, b) => t >= a - 2000000L && t <= b + 2000000L }
    val js = jobs.filter(j => inside(j.t0))
    val ps = phases.filter(p => inside(p.t0))
    def ph(n: String) = ps.filter(_.name == n).map(p => (p.t1 - p.t0) / 1e9).sum
    Rollup(
      jobs = js.size, stages = js.map(_.stagesRun).sum, tasks = js.map(_.tasks).sum,
      taskRunS = js.map(_.runNs).sum / 1e9, taskCpuS = js.map(_.cpuNs).sum / 1e9,
      shuffleRead = js.map(_.shuffleRead).sum, shuffleWrite = js.map(_.shuffleWrite).sum,
      spill = js.map(_.spill).sum,
      analysisS = ph("analysis"), optimizationS = ph("optimization"), planningS = ph("planning"),
      busy = (js.map(j => (j.t0, if (j.t1 > 0) j.t1 else j.t0)) ++ ps.map(p => (p.t0, p.t1))).toSeq)
  }

  /** Self time per layer over the spans in `ids` and their descendants: a
    * span's duration minus the part covered by its children, where Spark
    * jobs and Catalyst phases are children of the innermost span holding
    * their start.
    */
  def selfTimes(roots: Set[Int]): Map[String, Double] = lock.synchronized {
    val inTree = Array.fill(spans.length)(false)
    spans.foreach(s => inTree(s.id) = roots(s.id) || (s.parent >= 0 && inTree(s.parent)))
    val kids = spans.filter(s => inTree(s.id)).map(s => s.id -> ArrayBuffer.empty[(Long, Long)]).toMap
    spans.filter(s => inTree(s.id) && s.parent >= 0 && inTree(s.parent))
      .foreach(s => kids(s.parent) += ((s.t0, s.t1)))
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def innermost(t: Long): Option[Span] =
      spans.filter(s => inTree(s.id) && t >= s.t0 && t <= s.t1).maxByOption(_.t0)
    val extra = jobs.map(j => ("exec", j.t0, if (j.t1 > 0) j.t1 else j.t0)) ++
      phases.map(p => ("catalyst", p.t0, p.t1))
    val extraIn = scala.collection.mutable.Map.empty[(Int, String), ArrayBuffer[(Long, Long)]]
    extra.foreach { case (layer, a, b) =>
      innermost(a).foreach { s =>
        kids(s.id) += ((a, math.min(b, s.t1)))
        extraIn.getOrElseUpdate((s.id, layer), ArrayBuffer.empty) += ((a, math.min(b, s.t1)))
      }
    }
    // concurrent jobs (or phases) inside one span count once: wall covered
    extraIn.foreach { case ((id, layer), ivs) =>
      self(layer) += unionNs(ivs.toSeq, spans(id).t0, spans(id).t1) / 1e9
    }
    spans.filter(s => inTree(s.id)).foreach { s =>
      self(s.layer) += ((s.t1 - s.t0) - unionNs(kids(s.id).toSeq, s.t0, s.t1)) / 1e9
    }
    self.toMap
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String, t0: Long, t1: Long)
  final case class Phase(name: String, t0: Long, t1: Long)
  final case class Progress(triggerS: Double, latestOffsetS: Double, planningS: Double,
      rows: Long)
  final class Job(val id: Int, val t0: Long) {
    var t1 = -1L
    var stagesRun = 0
    var tasks = 0L
    var runNs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  final case class Rollup(jobs: Int, stages: Int, tasks: Long, taskRunS: Double,
      taskCpuS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      analysisS: Double, optimizationS: Double, planningS: Double,
      busy: Seq[(Long, Long)])

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val s = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    s.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
