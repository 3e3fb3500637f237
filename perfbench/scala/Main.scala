package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop workload driven by one caller thread. */
trait Workload {
  /** Warm-up inside the set-up clock: JIT, per-JVM memo state, and the
    * full output check once.
    */
  def setup(): Unit
  /** Expected wall time of one round at HEAD. A run times
    * round(seconds / nominalRoundS) rounds, so every commit measures the
    * same work.
    */
  def nominalRoundS: Double
  /** Op keys of round `r`. Empty: input used up. */
  def round(r: Int): Seq[String]
  /** The timed op. */
  def op(key: String): Unit
  /** Output check of the op just run, outside the clock; None passes. */
  def check(key: String): Option[String]
  /** Input contacts an op processes (0 where it reads none). */
  def contacts(key: String): Long = 0L
  /** End-of-run checks; a failure here fails every op of its key ("*" all). */
  def finish(): Seq[(String, String)] = Nil
  def info: Seq[(String, String)] = Nil
}

/** The benchmark's JVM: builds the session, sets up one workload, times
  * whole rounds of ops for about `--seconds`, checks every op's output and
  * prints one result line `PERFBENCH_RESULT {...}`.
  *
  * Args: --workload fithic_cli|suite_sf0.01 --seconds S --trace 0|1
  *   --cores K --work DIR --hic DIR [--sf DIR --pins FILE] [--spans FILE];
  *   or --pin OUT --sf DIR to write the suite pins.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = o.getOrElse(k, sys.error(s"missing $k"))
    val cores = opt("--cores").toInt
    val work = opt("--work")
    val t0 = System.nanoTime()
    // traced runs attribute jobs by their whole call stack
    if (o.get("--trace").contains("1"))
      System.setProperty("spark.callstack.depth", "256")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp/hadoop")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (o.contains("--pin")) Suite.pin(spark, opt("--sf"), opt("--pin"))
      else if (o.contains("--train")) train(spark, opt, work)
      else run(spark, o, opt, cores, work, t0)
    } finally spark.stop()
  }

  /** The build's class-data-sharing training: every workload's set-up
    * and one round, on a tiny input.
    */
  private def train(spark: SparkSession, opt: String => String,
      work: String): Unit = {
    val tracer = new Tracer
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    Seq[() => Workload](
      () => new FithicCli(spark, opt("--hic"), work, tracer, counters),
      () => new Suite(spark, opt("--sf"), Suite.readPins(opt("--pins")),
        tracer, new StreamW(spark, opt("--hic"), work, tracer))).foreach { mk =>
      val w = mk()
      w.setup()
      w.round(0).foreach { k => w.op(k); w.check(k) }
      w.finish()
    }
  }

  private def run(spark: SparkSession, o: Map[String, String],
      opt: String => String, cores: Int, work: String, t0: Long): Unit = {
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val tracer = new Tracer
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val name = opt("--workload")
    val w: Workload = name match {
      case "fithic_cli" => new FithicCli(spark, opt("--hic"), work, tracer,
        counters)
      case "suite_sf0.01" => new Suite(spark, opt("--sf"),
        Suite.readPins(opt("--pins")), tracer,
        new StreamW(spark, opt("--hic"), work, tracer))
      case other => sys.error(s"unknown workload $other")
    }
    info("cores", cores.toString)
    info("shuffle_partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    val probes = new Probes(spark)
    val sampler = if (trace) Some(new Sampler(10)) else None

    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    val heap = new OldGenPeak
    heap.start()
    // the ops start from a collected heap, its old generation the floor of
    // the peak; the second collection runs after Spark's cleaner has
    // released what the first found unreachable (broadcasts, shuffles)
    System.gc()
    Thread.sleep(200)
    System.gc()

    final case class Op(i: Int, round: Int, key: String, wall: Double,
        cpu: Double, traced: Boolean)
    val ops = mutable.ArrayBuffer.empty[Op]
    val failed = mutable.ArrayBuffer.empty[(Int, String, String)]
    val windows = mutable.ArrayBuffer.empty[Window]
    // traced runs trace the odd rounds: round 0 absorbs what the warm-up
    // left cold, rounds 1 and 2 pair up for the tracing overhead
    val rounds = math.max(if (trace) 3 else 1,
      math.round(seconds / w.nominalRoundS).toInt)
    var r = 0
    var stop = false
    while (!stop) {
      val keys = w.round(r)
      if (keys.isEmpty || r >= rounds) stop = true
      else {
        val traced = trace && r % 2 == 1
        if (traced) { probes.attach(); tracer.active = true }
        keys.foreach { k =>
          val i = ops.size
          tracer.op = i
          val c0 = cpuNs()
          val ms0 = System.currentTimeMillis()
          val s0 = System.nanoTime()
          val err =
            try {
              sampler.foreach(_.on = traced)
              tracer.span("op." + k)(w.op(k)); None
            } catch { case e: Throwable => Some(e.toString.take(300)) }
            finally sampler.foreach(_.on = false)
          val wall = (System.nanoTime() - s0) / 1e9
          val cpu = (cpuNs() - c0) / 1e9
          if (traced) windows += Window(k, ms0, System.currentTimeMillis())
          ops += Op(i, r, k, wall, cpu, traced)
          err.orElse(scala.util.Try(w.check(k)).fold(
            e => Some(e.toString.take(300)), identity))
            .foreach(e => failed += ((i, k, e)))
        }
        if (traced) {
          probes.detach()
          tracer.active = false
        }
        r += 1
      }
    }
    val heapMb = heap.stop()
    val endFails = scala.util.Try(w.finish())
      .fold(e => Seq("*" -> e.toString.take(300)), identity)
    val failedOps = ops.filter(op => failed.exists(_._1 == op.i) ||
      endFails.exists(f => f._1 == "*" || f._1 == op.key))
    (failed.map(f => (f._2, f._3)) ++ endFails).distinct.foreach {
      case (k, e) => info("failed", s"$k: $e")
    }
    val walls = ops.map(_.wall)
    val contacts = ops.map(o => w.contacts(o.key)).sum
    info("ops", ops.size.toString)
    info("rounds", r.toString)
    info("timed_s", num(walls.sum))
    info("fail_frac", num(failedOps.size.toDouble / ops.size.max(1)))
    if (contacts > 0) info("contacts_per_s", num(contacts / walls.sum))
    if (ops.size >= 100) info("op_p90_s", num(quantile(walls, 0.9)))
    info("op_walls", ops.map(o => s"${o.key}:${"%.4f".format(o.wall)}")
      .mkString(","))
    w.info.foreach { case (k, v) => info(k, v) }

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "op_p50_s" -> quantile(walls, 0.5),
        "ops_per_s" -> ops.size / walls.sum,
        "cpu_per_op_s" -> ops.map(_.cpu).sum / ops.size,
        "peak_heap_mb" -> heapMb)
      else {
        val tr = ops.filter(_.traced)
        val un = ops.filter(o => !o.traced && o.round > 0)
        val rounds = tr.map(_.round).distinct.size.max(1).toDouble
        PerLayer.metrics(tracer, probes, sampler.get, windows.toSeq,
          counters.toMap,
          cores, rounds, tr.map(o => o.key -> o.wall).toSeq,
          un.map(o => o.key -> o.wall).toSeq)
      }
    o.get("--spans").foreach(tracer.writeJsonl)
    val body = metrics.map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${failedOps.isEmpty && ops.nonEmpty},""" +
      s""""attempted":${ops.size},"failed":${failedOps.size},"metrics":$body}""")
  }

  def info(k: String, v: String): Unit = println(s"PERFBENCH_INFO $k=$v")

  /** Full precision, never NaN/Infinity in the JSON. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
      .replace("E", "e")

  /** Linear-interpolated quantile (the midpoint median for even counts). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime
}

/** The largest old-generation usage after a collection, MB, over every
  * collection while it listens: a GC notification listener, so the
  * collections that happen inside the timed ops count, and the memory an
  * op holds while it runs shows.
  */
final class OldGenPeak {
  import javax.management.{Notification, NotificationEmitter,
    NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val used = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if pool.contains("Old") ||
              pool.contains("Tenured") => u.getUsed
          }.sum
        OldGenPeak.this.synchronized { peak = math.max(peak, used) }
      }
  }

  def start(): Unit =
    emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    val p: Long = synchronized(peak)
    p.toDouble / (1024.0 * 1024.0)
  }
}
