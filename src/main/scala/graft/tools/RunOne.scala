package graft.tools

import org.apache.spark.sql.SparkSession

/** Profiling helper: run ONE SparkEntry query (repeatedly) outside the
  * full bench, so a slow query can be isolated from cross-query JVM state.
  *
  * Usage: RunOne <query_name> [sfDir] [iters]
  *   tools/run_verify.sh graft.tools.RunOne q35_ann_ivf_kmeans /root/testdata/sf0.1 3
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.limit.initialNumPartitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // job counter: the chain queries' wall floor is sequential small
    // jobs, so the count is the first thing to read off a profile
    val jobCount = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
      })
    // drain the listener bus first, so the last action's jobs are counted
    def jobs: Long = {
      org.apache.spark.sql.graftbridge.Bridge
        .drainListenerBus(spark.sparkContext, 10000)
      jobCount.get
    }
    (1 to iters).foreach { i =>
      graft.operators.Dedup.clearShingleCaches() // bench-identical cache state
      val j0 = jobs
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis + optimization + planning
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      val nJobs = jobs - j0
      println(f"[runone] $name iter $i: build=${(t1 - t0) / 1e9}%.2f " +
        f"plan=${(t2 - t1) / 1e9}%.2f exec=${(t3 - t2) / 1e9}%.2f s " +
        f"cpu=$cpu%.2f s jobs=$nJobs")
    }
    spark.stop()
  }
}
