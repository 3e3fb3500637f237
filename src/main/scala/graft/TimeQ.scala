package graft
import org.apache.spark.sql.SparkSession
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // core-count A/Bs (e.g. the local[8]-vs-local[32] scaling
    // adjudications): same env knob as Bench
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // scale probes: more shuffle partitions = smaller per-task sort
      // runs (the q21 512x spill knob); default matches Bench
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_PARTS", "32").toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val t0s = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        private val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          t0s.put(j.jobId, System.nanoTime())
          val graftFrames = j.stageInfos.flatMap(si =>
            si.details.linesIterator.find(l => l.contains("graft.") &&
              !l.contains("TimeQ"))).map(_.trim.stripPrefix("at ")).distinct
          sites.put(j.jobId,
            (j.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct
              .mkString(" | ") + " @ " + graftFrames.mkString(" | ")).take(220))
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = Option(t0s.remove(j.jobId)).getOrElse(System.nanoTime())
          val site = Option(sites.remove(j.jobId)).getOrElse("")
          println(f"  JOB ${j.jobId}%3d ${(System.nanoTime()-t0)/1e9}%6.2f s  $site")
        }
      })
    try SparkEntry.queries("q_scan_project")(spark, dir).count() catch { case _: Throwable => }
    // SPARK_GRAFT_TIMEQ_FULL=1: force the FULL executed plan by counting
    // its Catalyst rows (GraftColumnBridge.collectRows, which keeps the
    // session's classloader, so a repeat does not recompile; count()
    // lets the optimizer prune unused expensive columns — e.g.
    // an unreferenced window collapses entirely, which skews an A/B
    // against any operator the pruner can't see into)
    val full = sys.env.get("SPARK_GRAFT_TIMEQ_FULL").contains("1")
    // spill accounting: wall time on a shared box is load-noisy, but
    // bytes spilled is a deterministic function of the plan + partition
    // count — the signal the partitions-knob scale probes record
    val spilled = new java.util.concurrent.atomic.AtomicLong()
    // source rows actually read (parquet/file scans): the deterministic
    // witness for scan-dedup claims — e.g. exchange reuse showing one
    // corpus scan where the static plan prints three
    val inputRecs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) {
            spilled.addAndGet(t.taskMetrics.diskBytesSpilled)
            inputRecs.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
          }
      })
    // listener events arrive on an async bus: without a quiesce the
    // last tasks' spill lands after count() returns (undercounting
    // this query, crediting the next one)
    def quiesce(): Long = {
      var prev = -1L
      var cur = spilled.get()
      var waited = 0
      while (cur != prev && waited < 20) {
        prev = cur; Thread.sleep(250); waited += 1; cur = spilled.get()
      }
      cur
    }
    for (name <- args.drop(1)) {
      val s0 = quiesce()
      val i0 = inputRecs.get()
      val t0 = System.nanoTime()
      val df = Registry.all(name).fn(spark, dir)
      val n = if (full) org.apache.spark.sql.GraftColumnBridge
          .collectRows(df)(rows => rows.mapPartitions(it =>
            Iterator.single(it.size.toLong))).sum
        else df.count()
      val t1 = System.nanoTime()
      println(f"TIME $name ${(t1-t0)/1e9}%.2f s rows=$n " +
        f"spillMB=${(quiesce() - s0) / 1e6}%.0f " +
        f"inputRecs=${inputRecs.get() - i0}")
      graft.ops.Caches.drain()
    }
    spark.stop()
  }
}
