package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What one op reports back: input rows it completed, a label (the day or
  * pass it ran), and the check of its outputs, which runs after the op's
  * timing stops. */
final case class OpOutcome(inputRows: Long, label: String,
    check: () => Boolean)

/** One workload: a closed loop with one client. */
trait Workload {
  /** Untimed ops run after the last set-up, until op time has stopped
    * falling (JIT and Spark codegen caches warm). */
  def warmupOps: Int
  /** Traced ops whose Spark counters are reported: a fixed number, so two
    * traced runs of one seed count the same ops. */
  def countedOps: Int
  /** Set-up rounds of an untraced run; `setup_s` is the median of all
    * but the first, cold one. */
  def setUpRounds: Int = 3
  /** Build fresh inputs and state. Called once per set-up round; round 0
    * of an untraced run only primes the JIT. */
  def setUp(round: Int): Unit
  /** Untimed preparation of op `i` (input generation). */
  def prepare(i: Int): Unit = ()
  /** Op `i` (numbered across warm-up and timed ops), timed. */
  def op(i: Int, t: Tracer): OpOutcome
  /** Untimed bookkeeping after op `i` and its check. */
  def afterOp(i: Int): Unit = ()
  /** `first` is the index of the first timed op. */
  def timedWindowStarts(first: Int): Unit = ()
  def timedWindowEnds(): Unit = ()
  /** Checks that need the whole timed window (run after it); a failure
    * fails every timed op. */
  def finalCheck(): Boolean = true
  /** Per-layer metrics of this workload, from the traced ops' spans. */
  def layerMetrics(t: Tracer, counted: Seq[Span]): Map[String, Double]
  /** Workload-specific run metadata (input sizes and the like). */
  def meta: Map[String, Any] = Map.empty
}

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String, threads: Int,
    corruptExpected: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("out"),
      m.getOrElse("threads", "4").toInt,
      m.getOrElse("corrupt-expected", "0") == "1")
  }
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
  def cpuS: Double = os match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3
  def jitS: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .fold(0.0)(_.getTotalCompilationTime / 1e3)
  def load1: Double = os.getSystemLoadAverage
  /** Heap in use after GC. Three collections a second apart: the first
    * lets Spark's ContextCleaner see unreachable RDDs and drop their
    * cached blocks, the later ones collect what that released. */
  def liveHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(500) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
  /** Compiled code held in the code cache; a full cache stops the JIT. */
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(b => b.getName.contains("CodeHeap") || b.getName == "CodeCache")
    .map(_.getUsage.getUsed).sum / 1048576.0

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).fold(0L)(_.map(c => dirBytes(c.getPath)).sum)
  }

  def rmTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
}

/** Seconds spent in each named phase of one piece of untimed work. */
final class PhaseClock {
  private val out = collection.mutable.LinkedHashMap[String, Double]()
  def apply[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally out(name) = (System.nanoTime() - t0) / 1e9
  }
  def phases: Map[String, Double] = out.toMap
}

object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.threads.toString)
      .config("spark.sql.limit.initialNumPartitions", a.threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/stream-ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    if (a.trace) spark.sparkContext.addSparkListener(tracer)
    val w: Workload = a.workload match {
      case "crime_daily" => new CrimeDaily(spark, a)
      case "curation_batch" => new CurationBatch(spark, a, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = run(spark, w, a, tracer)
    val spansPath = s"${a.work}/spans.json"
    if (a.trace) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(spansPath), tracer.spansJson)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out),
      Json.render(result))
    spark.stop()
  }

  final case class OpRec(i: Int, s: Double, cpu: Double, traced: Boolean,
      ok: Boolean, rows: Long, label: String)

  def run(spark: SparkSession, w: Workload, a: Args,
      tracer: Tracer): Map[String, Any] = {
    val load0 = Jvm.load1
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var next = 0
    def runOp(traced: Boolean): OpRec = {
      val i = next
      next += 1
      tracer.recording = traced
      tracer.op = i
      def failed(stage: String, e: Exception) = {
        System.err.println(s"[perfbench] op $i failed in $stage: $e")
        e.printStackTrace()
        false
      }
      w.prepare(i)
      val cpu0 = Jvm.cpuS
      val t0 = System.nanoTime()
      val out =
        try tracer.span("op")(w.op(i, tracer))
        catch { case e: Exception =>
          failed("run", e)
          OpOutcome(0, "error", () => false)
        }
      val s = (System.nanoTime() - t0) / 1e9
      val cpu = Jvm.cpuS - cpu0
      tracer.recording = false
      if (traced) tracer.drain()
      val ok = try out.check() catch { case e: Exception => failed("check", e) }
      w.afterOp(i)
      OpRec(i, s, cpu, traced, ok, out.inputRows, out.label)
    }

    // set-up rounds: fresh inputs and state each. The first one is cold
    // and primes the JIT, so `setup_s` leaves it out; the warm-up ops and
    // the timed window run on the state of the last. A traced run reports
    // no set-up time, so it sets up once
    val rounds = (0 until (if (a.trace) 1 else w.setUpRounds)).map { r =>
      val t0 = System.nanoTime()
      w.setUp(r)
      (System.nanoTime() - t0) / 1e9
    }
    val warmup = (0 until w.warmupOps).map(_ => runOp(false))
    val processToFirstOp =
      (System.currentTimeMillis() - jvmStartMs) / 1e3

    // timed window
    w.timedWindowStarts(next)
    val (gc0, jit0, t0) = (Jvm.gcS, Jvm.jitS, System.nanoTime())
    def elapsed = (System.nanoTime() - t0) / 1e9
    val ops = collection.mutable.ArrayBuffer[OpRec]()
    def countedSoFar = ops.count(_.traced)
    var consecutiveErrors = 0
    // at least two ops, even when one outlasts `--seconds`: a median of
    // one op is a single sample
    while ((elapsed < a.seconds || ops.size < 2 ||
        (a.trace && countedSoFar < w.countedOps)) && consecutiveErrors < 3) {
      val traced = a.trace && ops.size % 2 == 1
      val r = runOp(traced)
      consecutiveErrors = if (r.label == "error") consecutiveErrors + 1 else 0
      ops += r
    }
    val wall = elapsed
    val (gc, jit) = (Jvm.gcS - gc0, Jvm.jitS - jit0)
    // rates are over the ops' own time: checks and preparation between
    // ops are not the system's work
    val opWall = ops.map(_.s).sum
    val cpu = ops.map(_.cpu).sum
    w.timedWindowEnds()
    val liveHeap = Jvm.liveHeapMb
    val finalOk =
      try w.finalCheck()
      catch { case e: Exception =>
        System.err.println(s"[perfbench] final check failed: $e")
        e.printStackTrace()
        false
      }

    val plain = ops.filterNot(_.traced).map(_.s).toSeq
    val n = plain.size
    val tailP = Stats.tailPct(n)
    val okOps = if (finalOk) ops.count(_.ok) else 0
    val warmOk = warmup.forall(_.ok)
    // drift: the last quarter of the timed ops against the first quarter
    val all = ops.map(_.s).toSeq
    val q = math.max(1, ops.size / 4)
    val drift = Stats.median(all.takeRight(q)) / Stats.median(all.take(q))
    val endToEnd = Map[String, Double](
      "setup_s" -> Stats.median(if (rounds.size > 1) rounds.drop(1) else rounds),
      "op_s.p50" -> Stats.median(plain),
      "rows_per_s" -> ops.map(_.rows).sum / opWall,
      "cpu_s_per_op" -> cpu / ops.size,
      "ok_frac" -> okOps.toDouble / ops.size,
      "live_heap_mb" -> liveHeap)

    val counted = tracer.named("op").filter(s => ops.exists(o => o.traced && o.i == s.op))
      .take(w.countedOps)
    val perLayer: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val traced = ops.filter(_.traced).map(_.s).toSeq
        sparkLayer(tracer, counted) ++ w.layerMetrics(tracer, counted) ++ Map(
          "trace.overhead_s" -> (Stats.median(traced) - Stats.median(plain)),
          "jvm.gc_s_per_op" -> gc / ops.size,
          "jvm.jit_s_timed" -> jit,
          "op.drift" -> drift)
      }

    Map(
      "attempted" -> ops.size,
      "failed" -> (ops.size - okOps),
      "correct" -> (finalOk && warmOk && okOps == ops.size),
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "meta" -> (Map[String, Any](
        "workload" -> a.workload,
        "seed" -> a.seed,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_threads" -> a.threads,
        "heap_mb" -> Jvm.maxHeapMb,
        "load1_start" -> load0,
        "load1_end" -> Jvm.load1,
        "traced" -> a.trace,
        "set_up_rounds_s" -> rounds,
        "warmup_op_s" -> warmup.map(_.s),
        "warmup_ok" -> warmOk,
        "process_to_first_timed_op_s" -> processToFirstOp,
        "timed_wall_s" -> wall,
        "timed_ops" -> ops.size,
        "untraced_ops" -> n,
        "op_s_tail" -> Stats.pct(plain, tailP),
        "tail_percentile" -> tailP,
        "tail_samples_beyond" -> Stats.beyond(n, tailP),
        "drift" -> drift,
        "jit_s_timed" -> jit,
        "gc_s_timed" -> gc,
        "cpu_s_timed" -> cpu,
        "final_check_ok" -> finalOk,
        "code_cache_mb" -> Jvm.codeCacheMb,
        "ops" -> ops.map(o => Map("i" -> o.i, "s" -> o.s, "traced" -> o.traced,
          "ok" -> o.ok, "label" -> o.label))) ++ w.meta))
  }

  /** Work counters of the counted ops, per op. */
  def sparkLayer(t: Tracer, counted: Seq[Span]): Map[String, Double] = {
    val n = math.max(1, counted.size).toDouble
    val js = counted.flatMap(t.jobsOf)
    val busy = counted.map(t.busy)
    val opMs = counted.map(s => (s.endMs - s.startMs).toDouble).sum
    val unionMs = busy.map(_._1).sum.toDouble
    Map(
      "spark.jobs_per_op" -> js.size / n,
      "spark.stages_per_op" -> js.map(_.stages).sum / n,
      "spark.tasks_per_op" -> js.map(_.tasks).sum / n,
      "spark.task_cpu_s_per_op" -> js.map(_.cpuNs).sum / 1e9 / n,
      "spark.input_bytes_per_op" -> js.map(_.inputBytes).sum / n,
      "spark.output_bytes_per_op" -> js.map(_.outputBytes).sum / n,
      "spark.shuffle_bytes_per_op" -> js.map(_.shuffleBytes).sum / n,
      "spark.spill_bytes_per_op" -> js.map(_.spillBytes).sum / n,
      "spark.failed_tasks" -> js.map(_.failedTasks).sum.toDouble,
      "spark.driver_gap_frac" ->
        (if (opMs > 0) math.max(0.0, 1 - unionMs / opMs) else 0.0),
      "Par.job_concurrency" ->
        (if (unionMs > 0) busy.map(_._2).sum / unionMs else 0.0))
  }
}
