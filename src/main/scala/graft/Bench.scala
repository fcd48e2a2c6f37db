package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE JSON contract line on stdout (last line):
  *
  * {{{
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{<name>:<sec>,…},
  *  "chain_per_day_sec":[…], "host_load":{"start":…,"end":…},
  *  "errors":[<query name>,…], "sf":"<dir>"}
  * }}}
  *
  * CONTRACT NOTES for consumers:
  *  - `errors` is an ARRAY OF QUERY NAMES (since r12; before r12 it was
  *    a name→message object — r11's five 200-char messages pushed the
  *    line past the harness's tail-capture window and the parse returned
  *    null). Full messages live in the detail file and on stderr.
  *  - a failed query reports -1.0 in `queries` and is excluded from
  *    `value`.
  *  - `chain_per_day_sec` (and the detail file's q51_split
  *    .chain_admit_sec, since r13) is the per-day MEDIAN across the n=3
  *    chain runs; raw per-run arrays with load stamps are in the detail
  *    file's q51_split.chain_runs.
  *
  * The full diagnostic payload (per-query cpu/gc/jit/io, q51_split)
  * goes to stderr and to `$SPARK_GRAFT_BENCH_DETAIL` (default
  * BENCH_DETAIL.json). */
object Bench {

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private def processCpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  private def jitMillis: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  /** 1-minute host load average — stamped into the output so a bench run
    * captured in a contended window self-identifies (r05/r09 both needed
    * the wall≫cpu lockstep argument re-derived in prose; a machine-
    * readable load field replaces it). On a 32-cpu host, load well above
    * 32 at either end means other processes were competing for the cores
    * the whole run assumes. -1 when the JVM can't read it. */
  private def hostLoad: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Accumulates task-level IO/shuffle metrics so each query's row in the
    * JSON carries its actual data movement — the evidence behind the
    * plan-shape claims (a "narrow" query must show ~zero shuffle bytes). */
  private class IoListener extends org.apache.spark.scheduler.SparkListener {
    val input = new java.util.concurrent.atomic.AtomicLong
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        input.addAndGet(m.inputMetrics.bytesRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snapshot: (Long, Long, Long) = (input.get, shuffleRead.get, shuffleWrite.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Wait-for-idle gate (SPARK_GRAFT_LOAD_GATE=<1-min loadavg
    // threshold>), ON BY DEFAULT at 2.0 since r18: official runs captured
    // at host load 3+ have inflated small-query slots up to 2x on
    // UNCHANGED code (r17's raw driver artifact read 104.8 s summed at
    // load 2.9→11 vs the same build's 57.3 s gated an hour apart), and
    // every such round re-litigated host noise in the per-query diff.
    // The gate polls until the load drops under the threshold or the
    // timeout (default 600 s, SPARK_GRAFT_LOAD_GATE_TIMEOUT_SEC)
    // expires — it never blocks unboundedly, so unattended/driver runs
    // proceed either way — then stamps what happened into both outputs:
    // `met:false` is the machine-readable "this artifact may be
    // contaminated" flag a cold reader needs. SPARK_GRAFT_LOAD_GATE=off
    // (or any non-positive value) disables.
    val loadGateJson: String =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "2.0") match {
      case s if s.equalsIgnoreCase("off") ||
          scala.util.Try(s.toDouble).toOption.forall(_ <= 0) => ""
      case thr =>
        val threshold = thr.toDouble
        val timeoutSec =
          sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE_TIMEOUT_SEC", "600").toLong
        val t0 = System.nanoTime()
        def elapsed = (System.nanoTime() - t0) / 1e9
        while (hostLoad >= threshold && elapsed < timeoutSec) {
          System.err.println(
            f"[bench] load gate: load=${hostLoad}%.2f >= $threshold, waiting (${elapsed}%.0f s)")
          // never sleep past the deadline: the stamped waited_sec must
          // not exceed the configured timeout by a poll interval
          Thread.sleep(math.max(1L,
            math.min(15000L, ((timeoutSec - elapsed) * 1000).toLong)))
        }
        // re-read AFTER the final sleep so the stamp reflects the
        // actual wait, including the interval that ended it
        val waited = elapsed
        val met = hostLoad < threshold
        System.err.println(
          f"[bench] load gate: ${if (met) "met" else "TIMED OUT"} at load=${hostLoad}%.2f after ${waited}%.0f s")
        s""""load_gate":{"threshold":$threshold,"waited_sec":${"%.0f".format(waited)},"met":$met},"""
    }
    // default to ALL host cores, not a fixed 4: the silent local[4]
    // fallback once produced a discarded 116 s sf1 artifact that read as
    // a 3x regression (SCALE.md, r13) — an unset env var must mean "use
    // this machine", never "quietly run 8x under-parallel"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // bounded take(K+1) probes (frontier takes, band probes, guarded
      // limits) dominate the chain queries' job counts; the default
      // 1-partition-then-scale-up limit execution turns each into 2-4
      // sequential jobs over relations that are SMALL by construction.
      // Scanning all partitions in the first wave makes every bounded
      // take exactly one job (measured: -4 jobs/day on the text chain).
      .config("spark.sql.limit.initialNumPartitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/codegen/parquet-reader init, then ONE pass of
    // every query at the smallest scale factor. Cold-run profiling showed
    // 5-10 s of background JIT compilation charged to each heavy query's
    // first execution (jit_sec column) — warming at sf0.001 moves that
    // one-time cost out of the timed sf0.1 pass, so the reported seconds
    // measure steady-state throughput of the PLAN, not HotSpot ramp-up.
    // The cpu/gc/jit columns below stay in the output so any residual
    // warm-up is visible rather than hidden.
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    // warm at the smallest sibling scale of the benched dir (fall back
    // to the benched dir itself — slower warmup but never silently none)
    val warmDir = {
      val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sibling.isDirectory) sibling.toString else sfDir
    }
    System.err.println(s"[bench] warmup pass over $warmDir")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }
    // timed queries rebuild their own caches at the benched scale
    graft.operators.Dedup.clearShingleCaches()
    // One-time index builds run UNTIMED, like the JIT warmup: q43/q35
    // query the persisted PQ/IVF indexes (their production steady
    // state), so the build cost — paid once per corpus, amortized over
    // every later query batch — is measured separately and stamped into
    // the detail output as pq_build_sec/ivf_build_sec rather than
    // charged to every run of those queries. The stamped value is the
    // ACTUAL build duration recorded by ensureIndex no matter which
    // call paid it (when the warmup ran at the benched dir — no
    // sf0.001 sibling — the warmup's q43/q35 already built them); a
    // FAILED build stamps -1.0, so the timed q43/q35 paying a rebuild
    // self-identifies instead of reading as steady state.
    def prebuild(ensure: => Unit, kind: String): Double = {
      try ensure catch { case e: Throwable =>
        System.err.println(s"[bench] $kind index prebuild failed: ${e.getMessage}")
      }
      graft.operators.Similarity.ensuredBuildSeconds(kind, sfDir)
        .getOrElse(-1.0)
    }
    val pqBuildSec = prebuild(
      { graft.operators.Similarity.ensurePqIndex(spark, sfDir); () }, "pq")
    val ivfBuildSec = prebuild(
      { graft.operators.Similarity.ensureIvfIndex(spark, sfDir); () }, "ivf")
    val ivfPqBuildSec = prebuild(
      { graft.operators.Similarity.ensureIvfPqIndex(spark, sfDir); () },
      "ivfpq")
    val ivfPqLearnedBuildSec = prebuild(
      { graft.operators.Similarity.ensureIvfPqLearnedIndex(spark, sfDir); () },
      "ivfpq_learned")
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    // noop sink: forces full computation + materialization of every output
    // column (count() would let Catalyst prune the projections away).
    // A failed query must NOT look like a timing: record -1 as its value
    // and surface the message in an "errors" object, so a broken query
    // can't silently pass the bench surface.
    //
    // Alongside wall seconds, record per-query PROCESS-CPU seconds and GC
    // seconds: a query whose wall time vastly exceeds its cpu+gc time was
    // stalled by something outside this JVM (host contention), not by its
    // plan — bench runs on shared hosts have shown exactly that signature
    // (e.g. a 3-s aggregation reading as 200 s wall with idle CPU).
    val loadStart = hostLoad
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val c0 = processCpuNanos
      val g0 = gcMillis
      val j0 = jitMillis
      val (in0, sr0, sw0) = io.snapshot
      val err: Option[String] =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = if (c0 < 0) -1.0 else (processCpuNanos - c0) / 1e9
      val gc = (gcMillis - g0) / 1e3
      val jit = (jitMillis - j0) / 1e3
      // listener events are posted asynchronously; drain before snapshot.
      // A drain timeout must only degrade io_mb accuracy for this query,
      // never abort the bench (the JSON prints at the very end).
      try org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext, 10000)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[bench] listener drain timed out after $name; io_mb may lag")
      }
      val (in1, sr1, sw1) = io.snapshot
      val mb = ((in1 - in0) / 1048576.0, (sr1 - sr0) / 1048576.0,
        (sw1 - sw0) / 1048576.0)
      (name, if (err.isEmpty) wall else -1.0, cpu, gc, jit, mb, err)
    }
    // Quiet-window steady-state stamps for the heaviest queries: half of
    // every round's cross-round attribution work has been re-separating
    // host-load windows from plan cost (r16 MinHash family, r17 q51), so
    // the artifact now pre-answers it. Re-run the top-10 queries (by
    // first-pass wall) twice more under identical cache state (shingle
    // caches cleared, exactly like the timed pass) and stamp the MIN
    // wall across the three observations — the least-contended
    // measurement of the same plan. A timed slot reading far above its
    // steady_state_sec with a high per-run load stamp is a host window,
    // not a regression. Detail-file only. SPARK_GRAFT_STEADY_N sets the
    // extra-run count (0 disables — the scale sweep's big-sf points,
    // where re-running the deliberate O(N²) complement twice would
    // dominate the sweep's wall; the official sf0.1 artifact keeps the
    // default 2).
    val steadyExtraN = sys.env.getOrElse("SPARK_GRAFT_STEADY_N", "2").toInt
    val steadyState: Seq[(String, Double, Seq[(Double, Double)])] =
      if (steadyExtraN <= 0) Nil
      else results.filter(_._2 > 0).sortBy(-_._2).take(10).map {
        case (name, wall, _, _, _, _, _) =>
          val fn = SparkEntry.queries(name)
          val extra = (0 until steadyExtraN).map { _ =>
            graft.operators.Dedup.clearShingleCaches()
            val ld = hostLoad
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] steady-state $name failed: ${e.getMessage}")
                false
              }
            (ld, if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
          }
          (name, (wall +: extra.map(_._2).filter(_ > 0)).min, extra)
      }
    graft.operators.Dedup.clearShingleCaches()
    // Locale.ROOT: the default-locale f-interpolator renders 1.234 as
    // "1,234" under comma-decimal locales — invalid JSON
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      java.lang.Double.valueOf(v))
    // q51 attribution: its headline number above is dominated by the
    // day-0 bootstrap fixpoint (a one-time deployment cost), which made
    // the query read as if every day paid it. Time the two phases apart
    // (each with its Spark JOB COUNT — admit's wall at toy scale is the
    // fixed overhead of its multi-action chain, not data volume), then
    // chain 10 daily admissions through the PERSISTED-state path
    // (DedupStream commit per day — each day reloads committed parquet,
    // so lineage is bounded by construction and per-day wall must stay
    // flat, not compound). The chain runs n=3 with per-day cpu/gc/
    // state-write/job columns so a wall spike is attributable: host
    // variance shows wall >> cpu+gc with flat jobs/writes, a real
    // compounding cost shows cpu or write bytes growing with the day
    // index. Supplemental: detail JSON only, not the contract line's
    // total.
    val q51Split: Option[(String, Seq[Double])] = try {
      import org.apache.spark.sql.functions.col
      val jobCount = new java.util.concurrent.atomic.AtomicLong
      val jobListener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(jobListener)
      def jobsNow: Long = {
        try org.apache.spark.sql.graftbridge.Bridge
          .drainListenerBus(spark.sparkContext, 10000)
        catch { case _: java.util.concurrent.TimeoutException => }
        jobCount.get
      }
      val docs = graft.engine.Tables.documents(spark, sfDir)
      val t0 = System.nanoTime(); val bj0 = jobsNow
      val st0 = graft.operators.IncrementalDedup.initialState(
        docs.filter(col("doc_id") % 5 =!= 0))
      Seq(st0.labels, st0.sizes, st0.bands, st0.shingles)
        .foreach(_.write.format("noop").mode("overwrite").save())
      val boot = (System.nanoTime() - t0) / 1e9
      val bootJobs = jobsNow - bj0
      val t1 = System.nanoTime(); val aj0 = jobsNow
      val st1 = graft.operators.IncrementalDedup.admitBatch(st0,
        docs.filter(col("doc_id") % 5 === 0))
      graft.operators.IncrementalDedup.labelsWithSizes(st1)
        .write.format("noop").mode("overwrite").save()
      val admit = (System.nanoTime() - t1) / 1e9
      val admitJobs = jobsNow - aj0
      // bytes actually WRITTEN to the state dir this day = sizes of files
      // that did not exist before (the version-retention prune deletes
      // old files, so a plain directory-size delta would understate)
      def fileSizes(dir: java.io.File): Map[String, Long] =
        if (!dir.isDirectory) Map.empty
        else {
          import scala.jdk.CollectionConverters._
          org.apache.commons.io.FileUtils.listFiles(dir, null, true)
            .asScala.map(f => f.getPath -> f.length).toMap
        }
      // the chain fixture's day-batch is 10% of the corpus — its band
      // keys cover every bucket, so the layout's probe pruning cannot
      // show in the per-day numbers at toy scale. This A/B isolates it
      // at the DEPLOYMENT ratio (batch ≪ corpus/buckets): a 4-doc batch
      // admitted against the final accumulated state, once with the
      // bucketed probe and once forced to the full-state scan
      // (buckets=None on the same loaded state), comparing input bytes
      // and wall on identical semantics.
      var probeAb: Option[String] = None
      val chainRuns = (0 until 3).map { r =>
        graft.operators.Dedup.clearShingleCaches()
        val runLoad = hostLoad
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-chain$r").toString
        val stateDir = new java.io.File(s"$root/state")
        val days = (0 until 10).map { d =>
          docs.filter(col("doc_id") % 10 === d)
            .write.parquet(s"$root/docs/day$d")
          val before = fileSizes(stateDir)
          val s = System.nanoTime(); val c0 = processCpuNanos
          val g0 = gcMillis; val dj0 = jobsNow
          graft.streaming.DedupStream.admitNewDrops(
            spark, s"$root/docs/*", s"$root/state", s"$root/ckpt")
          val wall = (System.nanoTime() - s) / 1e9
          val cpu = if (c0 < 0) -1.0 else (processCpuNanos - c0) / 1e9
          val gc = (gcMillis - g0) / 1e3
          val nJobs = jobsNow - dj0
          val writtenMb = fileSizes(stateDir)
            .collect { case (p, n) if !before.contains(p) => n }
            .sum / 1048576.0
          (wall, cpu, gc, writtenMb, nJobs)
        }
        if (r == 2) probeAb =
          try {
            val st = graft.streaming.DedupStream
              .loadState(spark, s"$root/state").get
            val tiny = docs.orderBy("doc_id").limit(4)
              .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
              .localCheckpoint()
            def measure(s: graft.operators.DedupState,
                mode: graft.operators.IncrementalDedup.ProbeMode): (Double, Double) = {
              graft.operators.Dedup.clearShingleCaches()
              val (i0, _, _) = io.snapshot
              val t = System.nanoTime()
              val res = graft.operators.IncrementalDedup.admitBatch(s, tiny,
                probeMode = mode)
              graft.operators.IncrementalDedup.labelsWithSizes(res)
                .write.format("noop").mode("overwrite").save()
              val wall = (System.nanoTime() - t) / 1e9
              try org.apache.spark.sql.graftbridge.Bridge
                .drainListenerBus(spark.sparkContext, 10000)
              catch { case _: java.util.concurrent.TimeoutException => }
              val (i1, _, _) = io.snapshot
              (wall, (i1 - i0) / 1048576.0)
            }
            // auto must win-or-tie BOTH forced modes at every sf — the
            // routing claim the round-13 work added (IncrementalDedup
            // .routeProbe); forced pruned/full stay measured so the
            // crossover itself remains visible round over round.
            // One DISCARDED warm run first: the first admission after a
            // cache clear pays file-listing/footer warmup that r13's
            // artifacts showed charging ~0.2 s to whichever mode ran
            // first — the A/B compares plans, not listing-cache state
            measure(st, graft.operators.IncrementalDedup.ProbeAuto)
            val (autoSec, autoMb) =
              measure(st, graft.operators.IncrementalDedup.ProbeAuto)
            val (prunedSec, prunedMb) =
              measure(st, graft.operators.IncrementalDedup.ProbePruned)
            val (fullSec, fullMb) =
              measure(st, graft.operators.IncrementalDedup.ProbeFull)
            Some(s"""{"batch_docs":4,"auto_sec":${fmt(autoSec)},""" +
              s""""auto_input_mb":${fmt(autoMb)},""" +
              s""""pruned_sec":${fmt(prunedSec)},""" +
              s""""pruned_input_mb":${fmt(prunedMb)},""" +
              s""""full_sec":${fmt(fullSec)},"full_input_mb":${fmt(fullMb)}}""")
          } catch { case e: Throwable =>
            System.err.println(s"[bench] probe A/B failed: ${e.getMessage}")
            None
          }
        try org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
        catch { case _: Exception => }
        (runLoad, days)
      }
      spark.sparkContext.removeSparkListener(jobListener)
      def arr(xs: Seq[Double]) = xs.map(fmt).mkString("[", ",", "]")
      val runsJson = chainRuns.map { case (runLoad, days) =>
        s"""{"host_load":${fmt(runLoad)},"wall_sec":${arr(days.map(_._1))},""" +
          s""""cpu_sec":${arr(days.map(_._2))},""" +
          s""""gc_sec":${arr(days.map(_._3))},"state_write_mb":${arr(days.map(_._4))},""" +
          s""""n_jobs":${days.map(_._5).mkString("[", ",", "]")}}"""
      }.mkString("[", ",", "]")
      // per-day MEDIAN wall across the n=3 runs — the chain is the
      // production shape, so its round-over-round trend must be diffable
      // from the contract line alone (the detail file keeps the raw runs)
      val medians = chainRuns.head._2.indices.map { d =>
        chainRuns.map(_._2(d)._1).sorted.apply(chainRuns.size / 2)
      }
      // chain_admit_sec is the per-day MEDIAN across the n runs (one
      // contended run must not dominate the round-over-round diff — the
      // raw per-run arrays live in chain_runs with per-run load stamps)
      Some((s"""{"bootstrap_sec":${fmt(boot)},"bootstrap_jobs":$bootJobs,""" +
        s""""admit_sec":${fmt(admit)},"admit_jobs":$admitJobs,""" +
        s""""chain_admit_sec":${arr(medians)},""" +
        probeAb.map(ab => s""""probe_ab":$ab,""").getOrElse("") +
        s""""chain_runs":$runsJson}""", medians))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] q51 split failed: ${e.getMessage}"); None
    }
    // q62/q63 attribution (the q51 pattern on the embedding side): both
    // headline slots are dominated by the one-shot day-0 BOOTSTRAP
    // clustering — a per-deployment cost, not a per-admission one — so
    // the detail file carries the phases apart. q62 = the in-memory
    // admission; q63 = the persisted 2-drop chain via direct
    // bootstrapDrop/admitDrop (the headline q63 slot additionally pays
    // the streaming wrapper; this isolates the store commits).
    val embedSplit: Option[String] = try {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val emb = graft.engine.Tables.embeddings(spark, sfDir)
      def secs(f: => Unit): Double = {
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
      }
      val st0Holder = new Array[graft.operators.EmbedDedupState](1)
      val boot62 = secs {
        st0Holder(0) = graft.operators.EmbeddingIncremental.initialState(
          emb.filter(col("vec_id") % 5 =!= 0))
        Seq(st0Holder(0).labels, st0Holder(0).sizes, st0Holder(0).buckets)
          .foreach(_.write.format("noop").mode("overwrite").save())
      }
      val admit62 = secs {
        val st1 = graft.operators.EmbeddingIncremental.admitBatch(
          st0Holder(0), emb.filter(col("vec_id") % 5 === 0))
        graft.operators.EmbeddingIncremental.labelsWithSizes(st1)
          .write.format("noop").mode("overwrite").save()
      }
      val root = java.nio.file.Files.createTempDirectory("graft-embsplit").toString
      val subset = emb
        .filter(col("vec_id") < graft.streaming.EmbedStream.ChainSubsetMax)
        .withColumn("day", pmod(col("vec_id"), lit(2)))
      val day0 = subset.filter(col("day") === 0).drop("day").localCheckpoint()
      val day1 = subset.filter(col("day") === 1).drop("day").localCheckpoint()
      val boot63 = secs(graft.operators.EmbeddingIncremental.bootstrapDrop(
        spark, s"$root/state", day0))
      val admit63 = secs(graft.operators.EmbeddingIncremental.admitDrop(
        spark, s"$root/state", day1, maxLiveSegments = 1))
      try org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(root))
      catch { case _: Exception => }
      Some(s"""{"q62_bootstrap_sec":${fmt(boot62)},""" +
        s""""q62_admit_sec":${fmt(admit62)},""" +
        s""""q63_bootstrap_sec":${fmt(boot63)},""" +
        s""""q63_admit_sec":${fmt(admit63)}}""")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] embed split failed: ${e.getMessage}"); None
    }
    // q85 attribution (the q51/q62 pattern on the substring side):
    // bootstrap vs append-admission phases of the persisted window-log
    // store, plus the O(batch)-writes evidence the r18 verdict asked
    // for — the append segment's row count equals the BATCH's window
    // count, not the grown log's (stamped so a layout regression that
    // starts rewriting the corpus per day is diffable round-over-round).
    val substringSplit: Option[String] = try {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val docs = graft.engine.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      def day(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      def secs(f: => Unit): Double = {
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
      }
      val root = java.nio.file.Files.createTempDirectory("graft-subsplit").toString
      // the manifest's totalRows is the window log's committed size
      def windowRows() =
        graft.operators.VersionedIndex.metaOrThrow(s"$root/state").totalRows
      val boot = secs(graft.operators.SubstringDedup.bootstrapStore(
        spark, s"$root/state", day(0).union(day(1))))
      val batchRows = windowRows()
      val admit = secs(graft.operators.SubstringDedup.admitDrop(
        spark, s"$root/state", day(2)))
      val segRows = windowRows() - batchRows
      try org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(root))
      catch { case _: Exception => }
      Some(s"""{"q85_bootstrap_sec":${fmt(boot)},""" +
        s""""q85_admit_sec":${fmt(admit)},""" +
        s""""q85_admit_seg_rows":$segRows,""" +
        s""""q85_bootstrap_seg_rows":$batchRows}""")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] substring split failed: ${e.getMessage}")
      None
    }
    // The near-dup router's recall evidence at THIS corpus (supplemental,
    // detail-only, untimed): the sampled exact-vs-LSH ratio the auto
    // route's route_recall column would carry — stamped so the evidence
    // is diffable round-over-round without re-running the query. Since
    // r17 the stamp carries the threshold-conditioned decomposition too
    // (recall is a property of the corpus's pair-similarity mix as much
    // as of the grid — bench/ROUTE_RECALL_r17_attrib.txt): recall@θ≥0.6
    // and the per-cos-bucket curve [[lo, exact, found], ...]. NaN
    // (stratum held no true pairs) is omitted rather than stamped as a
    // vacuous number.
    val routeRecall: Option[(Double, Double, Seq[(Double, Long, Long)])] =
      try {
        val emb = graft.engine.Tables.embeddings(spark, sfDir)
        // score the grid the router ACTUALLY takes at its default θ —
        // since r18 the weak-theta tier (Dedup.routerLshGrid)
        val (rTables, rPlanes, rProbes) =
          graft.operators.Dedup.routerLshGrid(0.45)
        val buckets = graft.operators.Dedup
          .lshRouteRecallDecomposed(emb, 0.45, emb.count(),
            nTables = rTables, planes = rPlanes, probes = rProbes)
        val overall = graft.operators.Dedup.recallFromBuckets(buckets)
        if (overall.isNaN) None
        else Some((overall,
          graft.operators.Dedup.recallFromBuckets(buckets, 0.60), buckets))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] route_recall probe failed: ${e.getMessage}")
        None
      }
    graft.operators.Dedup.clearShingleCaches()
    val qs = results.map { case (k, v, _, _, _, _, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val cpus_ = results.map { case (k, _, c, _, _, _, _) => s"\"" + k + "\":" + fmt(c) }
      .mkString("{", ",", "}")
    val gcs = results.map { case (k, _, _, g, _, _, _) => s"\"" + k + "\":" + fmt(g) }
      .mkString("{", ",", "}")
    val jits = results.map { case (k, _, _, _, j, _, _) => s"\"" + k + "\":" + fmt(j) }
      .mkString("{", ",", "}")
    val shuffles = results.map { case (k, _, _, _, _, (im, srm, swm), _) =>
      s"\"" + k + "\":" + s"""{"input":${fmt(im)},"shuffle_read":${fmt(srm)},"shuffle_write":${fmt(swm)}}""" }
      .mkString("{", ",", "}")
    def jstr(s: String) = "\"" + s.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200) + "\""
    val errs = results.collect { case (k, _, _, _, _, _, Some(m)) => s"\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _, _, _, None) => v }.sum
    // the scale-comparison total WITHOUT the deliberately-exact O(N²)
    // complement (q16): at sf10 that one query is ~28% of the gated
    // total by design, and every cross-round scale comparison needed a
    // prose caveat — now the artifact carries both numbers itself (q71
    // is the routed sibling that stays in)
    val totalRouted = results
      .collect { case (k, v, _, _, _, _, None) if k != "q16_embed_neardup" => v }
      .sum
    // The harness that invokes this main captures only the last few KB of
    // stdout and parses the ONE JSON line it finds there. The full
    // diagnostic payload (per-query cpu/gc/jit/io) is ~7 KB for 50
    // queries — printing it on stdout pushed the line's START out of the
    // capture window and the parse failed (BENCH_r03/r04 "parsed": null).
    // So: diagnostics go to stderr AND a detail file; stdout gets only the
    // compact contract line, printed LAST so it sits at the tail.
    val loadEnd = hostLoad
    // host_ab_factor (r18 ask #5): the same-day host-speed calibration
    // measured by tools/host_ab.py — the median per-query cpu_sec ratio
    // of a fresh sf0.1 run on THIS host vs a committed round artifact
    // for the same build. Stamped INTO the artifact (next to host_load)
    // so cross-round scale comparisons divide by it instead of living
    // in BASELINE.md prose; absent when no A/B was run. The VALUE comes
    // from the env because the A/B is a separate bench invocation by
    // construction (it must finish before this run starts).
    val hostAbJson = sys.env.get("SPARK_GRAFT_HOST_AB_FACTOR")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .map(f => s""""host_ab_factor":${fmt(f)},""").getOrElse("")
    val loadJson = hostAbJson +
      s""""host_load":{"start":${fmt(loadStart)},"end":${fmt(loadEnd)}}"""
    val chainJson = q51Split
      .map { case (_, m) =>
        s""""chain_per_day_sec":${m.map(fmt).mkString("[", ",", "]")},""" }
      .getOrElse("")
    val steadyJson =
      if (steadyState.isEmpty) ""
      else {
        val mins = steadyState.map { case (k, v, _) => s"\"$k\":${fmt(v)}" }
          .mkString("{", ",", "}")
        val runs = steadyState.map { case (k, _, rs) =>
          s"\"$k\":" + rs.map { case (ld, sec) =>
            s"[${fmt(ld)},${fmt(sec)}]" }.mkString("[", ",", "]")
        }.mkString("{", ",", "}")
        s""""steady_state_sec":$mins,"steady_state_runs":$runs,"""
      }
    val detail = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_routed":${fmt(totalRouted)},"queries":$qs,""" +
      steadyJson +
      s""""cpu_sec":$cpus_,"gc_sec":$gcs,"jit_sec":$jits,"io_mb":$shuffles,""" +
      s""""pq_build_sec":${fmt(pqBuildSec)},"ivf_build_sec":${fmt(ivfBuildSec)},""" +
      s""""ivfpq_build_sec":${fmt(ivfPqBuildSec)},""" +
      s""""ivfpq_learned_build_sec":${fmt(ivfPqLearnedBuildSec)},""" +
      q51Split.map { case (s, _) => s""""q51_split":$s,""" }.getOrElse("") +
      embedSplit.map(s => s""""embed_split":$s,""").getOrElse("") +
      substringSplit.map(s => s""""substring_split":$s,""").getOrElse("") +
      routeRecall.map { case (overall, t060, curve) =>
        s""""route_recall":${fmt(overall)},""" +
          (if (t060.isNaN) ""
           else s""""route_recall_t060":${fmt(t060)},""") +
          curve.map { case (lo, ex, hit) => s"[${fmt(lo)},$ex,$hit]" }
            .mkString(""""route_recall_curve":[""", ",", "],")
      }.getOrElse("") +
      loadGateJson +
      chainJson + loadJson + s""","errors":$errs,"sf":"$sfDir"}"""
    System.err.println(s"[bench-detail] $detail")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}")
    }
    // stop BEFORE printing the contract line: the harness tail-parses the
    // last stdout line as JSON, and stop()'s shutdown logging (stderr, but
    // captured 2>&1) must not land behind it
    try spark.stop() catch { case e: Exception =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
    }
    // error NAMES only on the contract line: r11's five 200-char error
    // messages grew the line past the harness's tail-capture window and
    // the parse returned null ("parsed": null) — full messages live in
    // the detail file and stderr
    val errNames = results
      .collect { case (k, _, _, _, _, _, Some(_)) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":$qs,$chainJson$loadGateJson$loadJson,"errors":$errNames,"sf":"$sfDir"}""")
  }
}
