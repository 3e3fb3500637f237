package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: name, start, end, the span that caused it, and the op
  * it belongs to. Layers are the name's first dotted component.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, var endNs: Long) {
  def dur: Long = endNs - startNs
}

/** Spans around the benchmark's own calls into the program, kept in
  * memory and written as JSONL when the run ends. Inactive (untraced runs
  * and rounds), `span` only evaluates its body.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile var op: Int = -1
  @volatile var active: Boolean = false

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val s = synchronized {
        val s = Span(spans.length, name, stack.get.headOption.getOrElse(-1),
          op, System.nanoTime(), -1L)
        spans += s
        s
      }
      stack.set(s.id :: stack.get)
      try body
      finally { s.endNs = System.nanoTime(); stack.set(stack.get.tail) }
    }

  def closed: Seq[Span] = synchronized(spans.filter(_.endNs >= 0).toList)

  /** name -> (total seconds, self seconds): self is the span minus the
    * child spans it contains.
    */
  def totals: Map[String, (Double, Double)] = {
    val ss = closed
    val child = ss.groupBy(_.parent).view.mapValues(_.map(_.dur).sum).toMap
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> (xs.map(_.dur).sum / 1e9,
        xs.map(x => x.dur - child.getOrElse(x.id, 0L)).sum / 1e9)
    }
  }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    closed.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      sb.toString)
  }
}

/** A traced op's wall-clock window, epoch milliseconds (the clock Spark
  * stamps its job and query events with).
  */
final case class Window(key: String, startMs: Long, endMs: Long) {
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
}

/** Engine-side counters from the listener buses: jobs, stages and task
  * metrics (SparkListener), Catalyst phase times (QueryExecutionListener)
  * and micro-batch progress (StreamingQueryListener). Attached only for
  * traced ops; events are attributed to ops by their own timestamps.
  */
final class Probes(spark: SparkSession) {
  private final case class Job(start: Long, var end: Long, site: Set[String],
      exec: String)
  private final class Agg {
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs, schedMs = 0L
    var shW, shR, spill, inRows, hicRows = 0L
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val jobAgg = mutable.Map.empty[Int, Agg]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val hicScan = mutable.Set.empty[Int]
  // (first phase start ms, analysis, optimization, planning ms)
  private val plans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  // (batch start ms, durationMs, state rows, state bytes, commit ms)
  private val batches = mutable.ArrayBuffer.empty[
    (Long, Map[String, Long], Long, Long, Long)]

  private val sparkL = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Probes.this.synchronized {
        // the result stage is created last; its details are the job's
        // call site, the stack of the thread that ran the action
        val site = e.stageInfos.maxByOption(_.stageId)
          .fold(Set.empty[String])(s => CallSites.stages(s.details))
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("")
        jobs(e.jobId) = Job(e.time, -1L, site, exec)
        jobAgg(e.jobId) = new Agg
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Probes.this.synchronized {
        if (e.stageInfo.rddInfos.exists(_.scope.exists(
            _.name.startsWith("BatchScan hic-tsv"))))
          hicScan += e.stageInfo.stageId
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Probes.this.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probes.this.synchronized(agg(e.stageInfo.stageId).foreach(_.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Probes.this.synchronized(agg(e.stageId).foreach { a =>
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          val i = e.taskInfo
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          val getting =
            if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime
            else 0L
          a.schedMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - getting)
          a.shW += m.shuffleWriteMetrics.bytesWritten
          a.shR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.inRows += m.inputMetrics.recordsRead
          if (hicScan(e.stageId)) a.hicRows += m.inputMetrics.recordsRead
        }
      })
  }

  private def agg(stage: Int): Option[Agg] =
    stageJob.get(stage).flatMap(jobAgg.get)

  private val qeL = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start =
        if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      Probes.this.synchronized(plans += ((start, ms("analysis"),
        ms("optimization"), ms("planning"))))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      rec(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = rec(qe)
  }

  private val streamL = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs)
        .asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators
      Probes.this.synchronized(batches += ((
        java.time.Instant.parse(p.timestamp).toEpochMilli, d,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.commitTimeMs).sum)))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkL)
    spark.listenerManager.register(qeL)
    spark.streams.addListener(streamL)
  }

  /** Deliver every queued event, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkL)
    spark.listenerManager.unregister(qeL)
    spark.streams.removeListener(streamL)
  }

  /** Job-open milliseconds inside `w`: the union of its jobs' intervals. */
  private def openMs(w: Window, js: Seq[Job]): Long = {
    var covered = 0L
    var reach = w.startMs
    js.map(j => (math.max(j.start, w.startMs),
        math.min(if (j.end < 0) w.endMs else j.end, w.endMs)))
      .sortBy(_._1).foreach { case (s, e) =>
        val s1 = math.max(s, reach)
        if (e > s1) { covered += e - s1; reach = e }
      }
    covered
  }

  /** Per-window engine counters: jobs, gap seconds. */
  def jobsIn(w: Window): (Int, Double) = synchronized {
    val js = jobs.values.filter(j => w.contains(j.start)).toSeq
    (js.size, (w.endMs - w.startMs - openMs(w, js)) / 1e3)
  }

  /** Engine and Catalyst totals over the windows, by metric name. */
  def sparkMetrics(ws: Seq[Window], cores: Int): Map[String, Double] =
    synchronized {
      val ids = jobs.collect {
        case (id, j) if ws.exists(_.contains(j.start)) => id
      }.toSeq
      val as = ids.map(jobAgg)
      val open = ws.map(w => openMs(w,
        jobs.values.filter(j => w.contains(j.start)).toSeq)).sum / 1e3
      val wall = ws.map(w => w.endMs - w.startMs).sum / 1e3
      val run = as.map(_.runMs).sum / 1e3
      val ps = plans.filter(p => ws.exists(_.contains(p._1)))
      val mb = 1024.0 * 1024.0
      Map(
        "spark.jobs" -> ids.size.toDouble,
        "spark.stages" -> as.map(_.stages).sum.toDouble,
        "spark.tasks" -> as.map(_.tasks).sum.toDouble,
        "spark.gap_s" -> (wall - open),
        "spark.gap_frac" -> (if (wall > 0) (wall - open) / wall else 0.0),
        "spark.task_run_s" -> run,
        "spark.task_cpu_s" -> as.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> as.map(_.gcMs).sum / 1e3,
        "spark.sched_delay_s" -> as.map(_.schedMs).sum / 1e3,
        "spark.util" -> (if (open > 0) run / (open * cores) else 0.0),
        "spark.shuffle_write_mb" -> as.map(_.shW).sum / mb,
        "spark.shuffle_read_mb" -> as.map(_.shR).sum / mb,
        "spark.spill_mb" -> as.map(_.spill).sum / mb,
        "spark.input_rows" -> as.map(_.inRows).sum.toDouble,
        "sources.read_rows" -> as.map(_.hicRows).sum.toDouble,
        "catalyst.analysis_s" -> ps.map(_._2).sum / 1e3,
        "catalyst.optimization_s" -> ps.map(_._3).sum / 1e3,
        "catalyst.planning_s" -> ps.map(_._4).sum / 1e3,
        "catalyst.actions" -> ps.size.toDouble)
    }

  /** Job time of the windows by the program stage that ran each job
    * (`CallSites.stages`): every instant with jobs open is shared equally
    * among them, and a job counts toward every stage on its call stack,
    * so a stage's figure includes the stages it calls, as a span's total
    * does. A job submitted off the caller's stack (an adaptive query
    * stage, a broadcast) takes the stages of the other jobs of its SQL
    * execution. The FitHiC passes are wall segments: pass 2 starts with
    * the first binning job after a BH job, and ends where the first output
    * write starts. `trace.attributed_frac` is the share of job-open time
    * that has a named stage.
    */
  def stageMetrics(ws: Seq[Window]): Map[String, Double] = synchronized {
    val tot = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var open, named, pass1, pass2 = 0.0
    val byExec = jobs.values.filter(_.exec.nonEmpty).groupMapReduce(_.exec)(
      _.site)(_ ++ _)
    ws.foreach { w =>
      val js = jobs.values.filter(j => w.contains(j.start)).map(j =>
        (j.start, if (j.end < 0) w.endMs else math.min(j.end, w.endMs),
          j.site ++ byExec.getOrElse(j.exec, Set.empty))).toSeq
      val cuts = js.flatMap(j => Seq(j._1, j._2)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val on = js.filter(j => j._1 <= a && j._2 >= b)
        if (on.nonEmpty) {
          val share = (b - a) / 1e3 / on.size
          open += (b - a) / 1e3
          on.foreach { j =>
            j._3.filter(CallSites.metricStages).foreach(tot(_) += share)
            if (j._3.nonEmpty) named += share
          }
        }
      }
      def first(st: String, after: Long) =
        js.filter(j => j._3(st) && j._1 > after).map(_._1).minOption
      for (bh <- first("hic.bh", Long.MinValue);
           b <- first("hic.binning", bh);
           e <- first(CallSites.write, b)) {
        pass1 += (b - w.startMs) / 1e3
        pass2 += (e - b) / 1e3
      }
    }
    CallSites.metricStages.toSeq.map(st => s"${st}_s" -> tot(st)).toMap ++
      Map("hic.pass1_s" -> pass1, "hic.pass2_s" -> pass2,
        "trace.attributed_frac" -> (if (open > 0) named / open else 0.0))
  }

  /** Micro-batch totals over the windows (state sizes: the largest seen). */
  def streamMetrics(ws: Seq[Window]): Map[String, Double] = synchronized {
    val bs = batches.filter(b => ws.exists(_.contains(b._1)))
    def d(k: String*) = bs.map(b => k.map(b._2.getOrElse(_, 0L)).sum).sum / 1e3
    Map(
      "stream.add_batch_s" -> d("addBatch"),
      "stream.latest_offset_s" -> d("latestOffset", "getBatch"),
      "stream.query_planning_s" -> d("queryPlanning"),
      "stream.wal_commit_s" -> d("walCommit", "commitOffsets"),
      "stream.state_rows" -> bs.map(_._3).maxOption.getOrElse(0L).toDouble,
      "stream.state_mb" ->
        bs.map(_._4).maxOption.getOrElse(0L) / (1024.0 * 1024.0),
      "stream.state_commit_s" -> bs.map(_._5).sum / 1e3)
  }
}

/** The program stages named by the frames of a job's call site: the stack
  * of the thread that ran the action, as Spark records it in the result
  * stage's details, innermost frame first.
  */
object CallSites {
  private val named: Seq[(String, String => Boolean, String)] = Seq(
    ("graft.hic.Binning$", _ == "collectBins", "hic.binning"),
    ("graft.hic.Stats$", _ == "bhQ", "hic.bh"),
    ("graft.hic.Fragments$", _.startsWith("possible"), "hic.possible_pairs"),
    ("graft.hic.Pipeline$", _.contains("interSignificances"), "hic.inter"))
  val metricStages: Set[String] = named.map(_._3).toSet
  // the innermost program frame is the CLI: its output writes
  val write = "fithic.write"

  def frames(details: String): Seq[(String, String)] =
    details.linesIterator.flatMap { l =>
      val call = l.trim.takeWhile(_ != '(')
      val name = call.drop(call.lastIndexOf('/') + 1)
      val dot = name.lastIndexOf('.')
      if (dot > 0) Some(name.take(dot) -> name.drop(dot + 1)) else None
    }.toSeq

  def stages(details: String): Set[String] = {
    val fs = frames(details)
    val inner = fs.find(_._1.startsWith("graft."))
    fs.flatMap { case (c, m) =>
      named.collect { case (nc, nm, st) if c == nc && nm(m) => st }
    }.toSet ++
      inner.collect { case ("graft.hic.FitHiCMain$", _) => write }
  }
}

/** Samples, every `periodMs` while `on`, the stacks of the threads that
  * run the program's code: Spark's task threads, the caller and the
  * driver-side pool and stream threads. The time since the last sample
  * is charged, for each such thread that is running and is inside the
  * program, to its innermost program frame: to that frame's package
  * (`self.<package>`, the layer's self time) and, for a few named
  * classes, to that function. Busy is all the sampled thread time of
  * task threads and of threads inside the program.
  */
final class Sampler(periodMs: Long) {
  @volatile var on = false
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var busy = 0.0
  private val named: Seq[(String, String)] = Seq(
    "graft.sources.HicTsvReader" -> "sources.read",
    "graft.sources.HicTsvFilters" -> "sources.read",
    "graft.sources.HicTsvWriter" -> "sources.write",
    "graft.sources.HicTsvStreamingWriter" -> "sources.write",
    "graft.functions.Binom" -> "functions.binom_sf",
    "graft.hic.Spline" -> "hic.spline")
  private val callers = Seq("Executor task launch worker", "main",
    "scala-execution-context-global", "ForkJoinPool",
    "stream execution thread")

  private val thread = new Thread(() => {
    var last = System.nanoTime()
    while (true) {
      Thread.sleep(periodMs)
      val now = System.nanoTime()
      if (on) sample((now - last) / 1e9)
      last = now
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  private def threads(): Seq[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val a = new Array[Thread](g.activeCount * 2 + 16)
    a.take(g.enumerate(a, true)).toSeq
  }

  private def sample(dt: Double): Unit = threads().foreach { t =>
    val n = t.getName
    if (t.getState == Thread.State.RUNNABLE && callers.exists(p => n.startsWith(p))) {
      val inner = t.getStackTrace.find(_.getClassName.startsWith("graft."))
        .map(_.getClassName)
      if (inner.isDefined || n.startsWith(callers.head)) synchronized {
        busy += dt
        inner.foreach { c =>
          acc("self." + c.split("\\.")(1)) += dt
          named.find(x => c.startsWith(x._1)).foreach(x => acc(x._2) += dt)
        }
      }
    }
  }

  /** Sampled thread seconds by name, and the busy total. */
  def seconds: (Map[String, Double], Double) =
    synchronized((acc.toMap.withDefaultValue(0.0), busy))
}
