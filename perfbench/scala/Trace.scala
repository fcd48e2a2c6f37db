package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call made by the benchmark: the op itself, or a call into an
  * engine layer inside it. `firstJob until endJob` are the Spark job ids
  * submitted while it was open. */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val startNs: Long, val startMs: Long, val firstJob: Int) {
  var endNs = 0L
  var endMs = 0L
  var endJob = 0
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from the benchmark's own code, and a SparkListener that
  * records every job with its stages and tasks. A span's jobs are those
  * whose ids fall in its id window, so an op's jobs include those of the
  * layer calls inside it. There is one client and ops never overlap, so
  * the window holds exactly the jobs its call submitted. Spans are
  * recorded only while `recording` is true: a traced run leaves every
  * other op unrecorded, and untraced runs never attach the listener. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  @volatile var recording = false
  var op = -1

  def span[A](name: String)(f: => A): A =
    if (!recording) f
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), op,
        System.nanoTime(), System.currentTimeMillis(),
        SchedulerAccess.nextJobId(sc))
      spans += s
      open = s :: open
      try f
      finally {
        s.endJob = SchedulerAccess.nextJobId(sc)
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
      }
    }

  def drain(): Unit = SchedulerAccess.drainListenerBus(sc)

  // ---- listener side (runs on the listener bus thread) ------------------

  final class JobRec(val startMs: Long, val stageIds: Seq[Int]) {
    var endMs = -1L
    var stages = 0
    var tasks = 0
    var failedTasks = 0
    var cpuNs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val activeJobs = mutable.SortedSet[Int]()
  private val stageJob = mutable.Map[(Int, Int), Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.put(e.jobId, new JobRec(e.time, e.stageIds))
    activeJobs += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    activeJobs -= e.jobId
  }

  /** A shared shuffle stage runs once, for the lowest running job that
    * lists it. */
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      activeJobs.find(j => jobs.get(j).stageIds.contains(id)).foreach { j =>
        stageJob((id, e.stageInfo.attemptNumber())) = j
        jobs.get(j).stages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get((e.stageId, e.stageAttemptId)).map(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  // ---- aggregation (call after drain) -----------------------------------

  def jobsOf(s: Span): Seq[JobRec] =
    (s.firstJob until s.endJob).flatMap(j => Option(jobs.get(j)))

  /** Total length of the union of job intervals clipped to the span, and
    * the summed job time inside it (their ratio is the mean number of
    * jobs running while any runs). */
  def busy(s: Span): (Long, Long) = {
    val iv = jobsOf(s).filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var union = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { union += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    union += curB - curA
    (union, iv.map { case (a, b) => b - a }.sum)
  }

  /** Spans named `name`, in recording order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""op":${s.op},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""s":${s.seconds},"jobs":[${s.firstJob},${s.endJob}]}"""
  }.mkString("[", ",\n", "]")
}
