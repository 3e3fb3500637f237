package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.stream.{Events, HicStream}
import graft.stream.Events.Event

/** Structured Streaming semantics (SURVEY.md §2.10, FIXTURES.md §4):
  * batch/stream parity, watermark late-data handling, stateful dedup.
  */
class StreamingSpec extends AnyFunSuite with Matchers with SparkTest {
  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L) // 2024-01-01 UTC + m

  private def ev(id: Long, m: Long, user: Long = 1L,
      typ: String = "click", v: Double = 1.0): Event =
    Event(id, ts(m), user, typ, v, "{}")

  private def runStream(events: Seq[Seq[Event]],
      logic: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      outputMode: String): Array[org.apache.spark.sql.Row] = {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[Event]
    val name = s"memsink_${System.nanoTime()}"
    val q = logic(mem.toDF()).writeStream.format("memory")
      .queryName(name).outputMode(outputMode).start()
    try {
      events.foreach { batch => mem.addData(batch); q.processAllAvailable() }
      sp.table(name).collect()
    } finally q.stop()
  }

  test("tumbling: stream (complete) equals batch on in-order data") {
    val sp = spark
    import sp.implicits._
    val data = Seq(ev(1, 0), ev(2, 10, typ = "view"), ev(3, 61), ev(4, 65))
    val streamed = runStream(Seq(data), Events.tumbling(_), "complete")
    val batch = Events.tumbling(data.toDF()).collect()
    streamed.map(_.toString).sorted shouldBe batch.map(_.toString).sorted
  }

  test("stream-static enrich: stream (complete) equals batch; dim joined " +
      "per micro-batch") {
    val sp = spark
    import sp.implicits._
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val data = Seq(ev(1, 0, user = 1), ev(2, 10, user = 2),
      ev(3, 61, user = 1), ev(4, 65, user = 9)) // user 9: no dim row
    val streamed = runStream(Seq(data.take(2), data.drop(2)),
      Events.enrich(_, dim), "complete")
    val batch = Events.enrich(data.toDF(), dim).collect()
    streamed.map(_.toString).sorted shouldBe batch.map(_.toString).sorted
    // inner join: the dim-less user contributes no row
    streamed.map(_.getAs[Long]("n")).sum shouldBe 3L
  }

  test("late row within watermark updates its window") {
    val batches = Seq(
      Seq(ev(1, 0), ev(2, 70)),   // advances watermark to 70m − 2h < 0
      Seq(ev(3, 30)))             // 30m is late but within watermark
    val out = runStream(batches, Events.tumbling(_), "complete")
    val hour0 = out.filter(_.getAs[Timestamp]("win_start") == ts(0))
    hour0.head.getAs[Long]("n") shouldBe 2L // both rows 0m and 30m counted
  }

  test("late row beyond watermark is dropped from append output") {
    // watermark 10 minutes for a tight test
    val logic = (df: org.apache.spark.sql.DataFrame) =>
      df.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("win_start"), col("n"))
    val batches = Seq(
      Seq(ev(1, 30)),            // hour-0 window open
      Seq(ev(2, 200)),           // watermark → 190m; hour-0 closes+emits
      Seq(ev(3, 40)),            // beyond watermark → dropped
      Seq(ev(4, 400)))           // push watermark further
    val out = runStream(batches, logic, "append")
    val hour0 = out.filter(_.getAs[Timestamp]("win_start") == ts(0))
    hour0.head.getAs[Long]("n") shouldBe 1L // late row 3 did NOT count
  }

  test("dropDuplicatesWithinWatermark removes cross-batch duplicates") {
    val batches = Seq(
      Seq(ev(1, 0), ev(2, 5)),
      Seq(ev(1, 0), ev(3, 10))) // event_id 1 re-delivered
    val out = runStream(batches, Events.dedup(_), "append")
    out.map(_.getAs[Long]("event_id")).sorted shouldBe Array(1L, 2L, 3L)
  }

  test("incremental marginals accumulate state across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[HicStream.ContactEvent]
    val name = s"marg_${System.nanoTime()}"
    val q = HicStream.incrementalMarginals(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("update").start()
    try {
      mem.addData(
        HicStream.ContactEvent(ts(0), "chr1", 2500L, "chr1", 7500L, 5L))
      q.processAllAvailable()
      mem.addData(
        HicStream.ContactEvent(ts(1), "chr1", 2500L, "chr1", 7500L, 3L),
        HicStream.ContactEvent(ts(2), "chr1", 2500L, "chr2", 2500L, 2L))
      q.processAllAvailable()
      val byLocus = sp.table(name).groupBy("chr", "mid")
        .agg(org.apache.spark.sql.functions.max("hitCount").as("h"),
          org.apache.spark.sql.functions.max("n_pairs").as("np"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3)))
        .toMap
      byLocus(("chr1", 2500L)) shouldBe ((10L, 3L)) // 5+3+2 carried in state
      byLocus(("chr1", 7500L)) shouldBe ((8L, 2L))
      byLocus(("chr2", 2500L)) shouldBe ((2L, 1L))
    } finally q.stop()
  }

  test("streaming count-distinct IVM: micro-batched merge-on-read " +
      "maintenance equals the batch recompute across a compaction, " +
      "for both the view and the resolved support state") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // "yesterday's" corpus the state seeds from, then three micro-
    // batches — sized so a compaction fires MID-STREAM (compactEvery=2)
    val seedEvents = Seq(ev(1, 0, user = 1, typ = "click"),
      ev(2, 1, user = 1, typ = "view"), ev(3, 2, user = 2, typ = "click"))
    val batches = Seq(
      Seq(ev(4, 10, user = 1, typ = "click"),   // no crossing: known pair
        ev(5, 11, user = 3, typ = "purchase")), // new supplier
      Seq(ev(6, 20, user = 2, typ = "view"),    // 0→1 crossing
        ev(7, 21, user = 2, typ = "view")),     // same batch dup: one pair
      Seq(ev(8, 30, user = 3, typ = "click")))  // post-compaction batch
    val root = graft.io.Scratch.sub("ivm_stream_spec")
    val s = new ops.Warehouse.IvmDistinctStream(sp, root,
      ops.Warehouse.eventPairDelta(seedEvents.toDF()), compactEvery = 2)
    val mem = MemoryStream[Event]
    val q = mem.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        s.processBatch(ops.Warehouse.eventPairDelta(batch)); ()
      }.start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // batch twin: one-shot recompute over seed ∪ all batches
    val all = (seedEvents ++ batches.flatten).toDF()
    val expectedView = ops.Warehouse.eventPairDelta(all)
      .groupBy("l_suppkey")
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    s.view.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      expectedView
    expectedView(2L) shouldBe 2L // the 0→1 crossing landed
    val expectedSupport = ops.Warehouse.eventPairDelta(all)
      .groupBy("l_suppkey", "l_partkey").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    s.resolvedSupport.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap shouldBe expectedSupport
    // the compaction genuinely fired: the live base advanced past v0
    // and batch 3's sidecar is the only one outstanding
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "BASE_MANIFEST")),
      java.nio.charset.StandardCharsets.UTF_8).trim
    mf should not be "base_v0"
    // RESUME: a new driver on the same root reattaches through the
    // manifest + surviving sidecars and reads the same state
    val s2 = new ops.Warehouse.IvmDistinctStream(sp, root,
      ops.Warehouse.eventPairDelta(Seq.empty[Event].toDF()))
    s2.view.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      expectedView
    ops.Caches.drain()
  }

  test("IVM stream seeder arbitration: two fresh runs racing one root " +
      "publish exactly one seed; the loser reaps its own and resumes " +
      "through the winner's manifest") {
    val sp = spark
    import sp.implicits._
    val root = graft.io.Scratch.sub("ivm_seed_race_spec")
    val seed = ops.Warehouse.eventPairDelta(Seq(
      ev(1, 0, user = 1, typ = "click"),
      ev(2, 1, user = 2, typ = "view")).toDF())
    // both constructors take the no-manifest branch concurrently; the
    // link(2) CAS must let exactly one publish
    val mk = (tag: String) => new Thread {
      var s: ops.Warehouse.IvmDistinctStream = _
      override def run(): Unit =
        s = new ops.Warehouse.IvmDistinctStream(sp, root, seed,
          compactEvery = 0, runTag = tag)
    }
    val (ta, tb) = (mk("runA"), mk("runB"))
    ta.start(); tb.start(); ta.join(); tb.join()
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "BASE_MANIFEST")),
      java.nio.charset.StandardCharsets.UTF_8).trim
    mf should startWith("base_v000000-run")
    // exactly one seed dir survives, and it is the manifest's
    val seedDirs = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("base_v000000")).toSeq
    seedDirs shouldBe Seq(mf)
    // both instances resolve the same (single) seeded state
    val want = Map(1L -> 1L, 2L -> 1L)
    ta.s.view.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap shouldBe want
    tb.s.view.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap shouldBe want
    ops.Caches.drain()
  }

  test("IVM stream committed floor: a resume reaps sidecars written " +
      "above the floor (never published) and keeps those at or below " +
      "it, so a replayed micro-batch cannot double-count") {
    val sp = spark
    import sp.implicits._
    val root = graft.io.Scratch.sub("ivm_floor_spec")
    val seed = ops.Warehouse.eventPairDelta(
      Seq(ev(1, 0, user = 1, typ = "click")).toDF())
    val s = new ops.Warehouse.IvmDistinctStream(sp, root, seed,
      compactEvery = 0, runTag = "runA")
    // batch 0 publishes (CAS + floor); batch 1's sidecar lands but the
    // run "crashes" before its commit — no markCommitted
    s.processBatch(ops.Warehouse.eventPairDelta(
      Seq(ev(2, 10, user = 2, typ = "view")).toDF()))
    s.markCommitted(0L)
    s.committedFloor shouldBe Some(1 -> 0L)
    s.processBatch(ops.Warehouse.eventPairDelta(
      Seq(ev(3, 20, user = 3, typ = "purchase")).toDF()))
    // resume: the orphan (delta_000002) must be reaped, not adopted —
    // the streaming checkpoint will re-deliver that batch and the
    // re-fold would double-count the (3, purchase) pair
    val s2 = new ops.Warehouse.IvmDistinctStream(sp, root,
      seed.limit(0), compactEvery = 0, runTag = "runB")
    val names = new java.io.File(root).listFiles().map(_.getName).toSeq
    names.filter(_.startsWith("delta_000002")) shouldBe empty
    names.count(_.startsWith("delta_000001")) shouldBe 1
    s2.resolvedSupport.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap.keySet.map(_._1) shouldBe Set(1L, 2L)
    // the re-delivered fold restores exactly-once
    s2.processBatch(ops.Warehouse.eventPairDelta(
      Seq(ev(3, 20, user = 3, typ = "purchase")).toDF()))
    s2.resolvedSupport.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap.values.toSet shouldBe Set(1L) // every cnt exactly once
    ops.Caches.drain()
  }

  test("IVM stream empty seed (files-source shape): batch 0 builds the " +
      "state from nothing; view and support match the batch recompute " +
      "across a compaction of the flat zero-row seed layout") {
    val sp = spark
    import sp.implicits._
    val root = graft.io.Scratch.sub("ivm_emptyseed_spec")
    val corpus = Seq(ev(1, 0, user = 1, typ = "click"),
      ev(2, 1, user = 1, typ = "view"), ev(3, 2, user = 2, typ = "click"))
    val s = new ops.Warehouse.IvmDistinctStream(sp, root,
      ops.Warehouse.eventPairDelta(corpus.toDF()).limit(0),
      compactEvery = 0, runTag = "runE")
    s.view.count() shouldBe 0L
    // the zero-row seed must still be a readable parquet dir (schema
    // in the footer) — this is the layout the whole resume path reads
    sp.read.parquet(root + "/" + new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "BASE_MANIFEST")),
      java.nio.charset.StandardCharsets.UTF_8).trim).count() shouldBe 0L
    s.processBatch(ops.Warehouse.eventPairDelta(corpus.toDF()))
    val want = ops.Warehouse.eventPairDelta(corpus.toDF())
      .groupBy("l_suppkey")
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    s.view.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap shouldBe want
    // first compaction folds the flat seed + sidecar back into the
    // bucket-partitioned layout
    s.compact()
    s.view.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap shouldBe want
    s.resolvedSupport.count() shouldBe 3L
    ops.Caches.drain()
  }

  test("incremental marginals: steady state equals batch q_hic_marginals") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    val contacts = graft.hic.ContactsView(sp, dir)
      .select("chr", "mid1", "mid2", "contactCount").collect()
      .map(r => HicStream.ContactEvent(ts(0), r.getString(0), r.getLong(1),
        r.getString(0), r.getLong(2), r.getLong(3)))
    // three micro-batches over the full sf0.001 contact set
    val batches = contacts.grouped((contacts.length + 2) / 3).toSeq
    val mem = MemoryStream[HicStream.ContactEvent]
    val name = s"margpar_${System.nanoTime()}"
    val q = HicStream.incrementalMarginals(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("update").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      // final state per locus = last (max — both fields are monotone)
      val streamed = sp.table(name).groupBy("chr", "mid")
        .agg(org.apache.spark.sql.functions.max("hitCount").as("hitCount"),
          org.apache.spark.sql.functions.max("n_pairs").as("n_pairs"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted
      val batch = SparkEntry.queries("q_hic_marginals")(sp, dir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted
      streamed shouldBe batch
    } finally { q.stop(); graft.ops.Caches.drain() }
  }

  test("incremental marginals drop contacts older than the watermark") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[HicStream.ContactEvent]
    val name = s"marglate_${System.nanoTime()}"
    val q = HicStream.incrementalMarginals(mem.toDS(), "10 minutes")
      .writeStream
      .format("memory").queryName(name).outputMode("update").start()
    try {
      mem.addData(
        HicStream.ContactEvent(ts(0), "chr1", 2500L, "chr1", 7500L, 5L))
      q.processAllAvailable()
      // advance watermark to 200m − 10m = 190m
      mem.addData(
        HicStream.ContactEvent(ts(200), "chr2", 2500L, "chr2", 7500L, 1L))
      q.processAllAvailable()
      // a 30m-stamped delta is far older than the watermark → dropped
      mem.addData(
        HicStream.ContactEvent(ts(30), "chr1", 2500L, "chr1", 7500L, 7L),
        HicStream.ContactEvent(ts(210), "chr3", 2500L, "chr3", 7500L, 2L))
      q.processAllAvailable()
      val byLocus = sp.table(name).groupBy("chr", "mid")
        .agg(org.apache.spark.sql.functions.max("hitCount").as("h"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      byLocus(("chr1", 2500L)) shouldBe 5L // late +7 did NOT count
      byLocus(("chr3", 2500L)) shouldBe 2L // on-time row same batch counted
    } finally q.stop()
  }

  test("foreachBatch spline refit equals the batch A14-A16 fit") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = graft.hic.ContactsView(sp, dir)
      .select("chr", "mid1", "mid2", "contactCount").collect()
    // split some pair counts across batches: the refitter must merge
    // per-pair deltas back into the batch row before binning
    val events = rows.zipWithIndex.flatMap { case (r, i) =>
      val (chr, m1, m2, c) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      if (i < 50 && c > 1)
        Seq(HicStream.ContactEvent(ts(0), chr, m1, chr, m2, c - 1),
          HicStream.ContactEvent(ts(1), chr, m1, chr, m2, 1L))
      else Seq(HicStream.ContactEvent(ts(0), chr, m1, chr, m2, c))
    }
    val batches = events.grouped((events.length + 2) / 3).toSeq
    val refitter = new HicStream.SplineRefitter(
      nBins = 100, distLo = graft.hic.HicQueries.L,
      distHi = graft.hic.HicQueries.U)
    val mem = MemoryStream[HicStream.ContactEvent]
    val q = mem.toDS().writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[HicStream.ContactEvent],
            id: Long) => refitter.processBatch(b, id)
      }
      .start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      refitter.refitCount shouldBe batches.length
      // the batch-side fit over the identical observation set
      val f = graft.hic.ContactsView(sp, dir)
        .filter(org.apache.spark.sql.functions.col("dist")
          .between(graft.hic.HicQueries.L, graft.hic.HicQueries.U))
        .persist()
      val total = f.agg(org.apache.spark.sql.functions
        .sum(org.apache.spark.sql.functions.col("contactCount")))
        .first().getLong(0)
      val bins = graft.hic.Binning.collectBins(f, 100,
        Seq("chr", "mid1", "mid2"))
      f.unpersist()
      val (xs, raw, fit) = graft.hic.Spline.fitFromBins(bins, total)
      val got = refitter.latest.get
      got.total shouldBe total
      got.avgDist shouldBe xs
      got.rawProb shouldBe raw
      got.fittedProb shouldBe fit
    } finally { q.stop(); refitter.close() }
  }

  test("a batch with no in-range intra mass adds no fit and throws nothing") {
    val sp = spark
    import sp.implicits._
    val refitter = new HicStream.SplineRefitter(nBins = 10, distLo = 10000L,
      distHi = 100000L)
    def batch(chr2: String, mid2: Long, count: Long) = Seq(HicStream
      .ContactEvent(ts(0), "c1", 2500L, chr2, mid2, count)).toDS()
    try {
      refitter.processBatch(batch("c2", 2500L, 3L), 0L) // inter only
      refitter.processBatch(batch("c1", 7500L, 3L), 1L) // below distLo
      refitter.processBatch(batch("c1", 52500L, 0L), 2L) // zero mass
      refitter.refitCount shouldBe 0
      refitter.processBatch(batch("c1", 42500L, 4L), 3L)
      refitter.refitCount shouldBe 1
      refitter.latest.map(f => (f.batchId, f.total)) shouldBe Some((3L, 4L))
    } finally refitter.close()
  }

  test("a refit runs only the binning's jobs: N comes from the bins") {
    val sp = spark
    import sp.implicits._
    val refitter = new HicStream.SplineRefitter(nBins = 10, distLo = 0L,
      distHi = Long.MaxValue)
    val events = (0 until 40).map(i => HicStream.ContactEvent(ts(0), "c1",
      2500L, "c1", 2500L + 5000L * i, 1L + i % 3))
    try {
      val jobs = jobsStartedBy(refitter.processBatch(events.toDS(), 0L))
      // the call site of each job's result stage, innermost frame first
      val refitJobs = jobs.map(_.stageInfos.maxBy(_.stageId).details)
        .filter(_.contains("refit(HicStream.scala"))
      refitJobs should not be empty
      refitJobs.foreach(_ should include("Binning$.collectBins("))
      refitter.latest.map(_.total) shouldBe Some(events.map(_.contactCount).sum)
    } finally refitter.close()
  }

  test("interval join: stream-stream purchase x prior-views equals batch") {
    val sp = spark
    import sp.implicits._
    val data = Seq(
      ev(1, 0, typ = "view"), ev(2, 10, typ = "view"),
      ev(3, 25, typ = "purchase"),  // pairs with views at 0 and 10
      ev(4, 100, typ = "view"),
      ev(5, 120, typ = "purchase"), // pairs with the view at 100 only
      ev(6, 300, typ = "purchase"), // no view in its 30-min lookback
      ev(7, 10, user = 2, typ = "purchase")) // other user: no own views
    val logic = (df: org.apache.spark.sql.DataFrame) =>
      Events.intervalJoin(
        df.filter(col("event_type") === "purchase"),
        df.filter(col("event_type") === "view"))
    val streamed = runStream(Seq(data.take(4), data.drop(4)), logic,
      "append")
    val batch = logic(data.toDF()).collect()
    streamed.map(_.toString).sorted shouldBe batch.map(_.toString).sorted
    streamed.map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("v_id")))
      .sorted shouldBe Array((3L, 1L), (3L, 2L), (5L, 4L))
  }

  test("outer interval join: unmatched purchases emit null rows after the watermark passes") {
    val sp = spark
    import sp.implicits._
    val data = Seq(
      ev(1, 0, typ = "view"), ev(2, 10, typ = "view"),
      ev(3, 25, typ = "purchase"),  // pairs with views at 0 and 10
      ev(4, 100, typ = "view"),
      ev(5, 120, typ = "purchase"), // pairs with the view at 100 only
      ev(6, 300, typ = "purchase"), // no view in its lookback → NULL row
      ev(7, 10, user = 2, typ = "purchase")) // other user → NULL row
    // far-future flush on BOTH sides: the null row for an unmatched
    // purchase is emitted only once the GLOBAL watermark (min of the two
    // sides) proves no view can still arrive — without late events on
    // each side the stream would end with the outer rows still in state.
    // The flush purchase's own row can't be finalized (nothing advances
    // the watermark past IT), so both legs exclude it from the compare.
    val flush = Seq(ev(98, 10000, user = 98, typ = "purchase"),
      ev(99, 10000, user = 99, typ = "view"))
    val logic = (df: org.apache.spark.sql.DataFrame) =>
      Events.intervalJoinOuter(
        df.filter(col("event_type") === "purchase"),
        df.filter(col("event_type") === "view"))
    val streamed = runStream(Seq(data.take(4), data.drop(4), flush),
        logic, "append")
      .filter(_.getAs[Long]("p_id") != 98L)
    val batch = logic((data ++ flush).toDF()).collect()
      .filter(_.getAs[Long]("p_id") != 98L)
    streamed.map(_.toString).sorted shouldBe batch.map(_.toString).sorted
    // the outer semantics themselves: both no-match purchases surface
    // exactly once, with null view columns
    val outer = streamed.filter(_.isNullAt(3)).map(_.getAs[Long]("p_id"))
    outer.sorted shouldBe Array(6L, 7L)
  }

  test("full outer interval join: null rows emit on BOTH sides once " +
      "watermarks pass") {
    val sp = spark
    import sp.implicits._
    val data = Seq(
      ev(1, 0, typ = "view"), ev(2, 10, typ = "view"),
      ev(3, 25, typ = "purchase"),  // pairs with views at 0 and 10
      ev(4, 100, typ = "view"),
      ev(5, 120, typ = "purchase"), // pairs with the view at 100 only
      ev(6, 300, typ = "purchase"), // no view in lookback → NULL views
      ev(7, 10, user = 2, typ = "purchase"), // other user → NULL views
      ev(8, 290, user = 3, typ = "view")) // no purchase follows → NULL p
    // two-sided finalization needs the far-future flush on both legs;
    // the flush rows themselves can never finalize — exclude from both
    val flush = Seq(ev(98, 10000, user = 98, typ = "purchase"),
      ev(99, 10000, user = 99, typ = "view"))
    val logic = (df: org.apache.spark.sql.DataFrame) =>
      Events.intervalJoinFull(
        df.filter(col("event_type") === "purchase"),
        df.filter(col("event_type") === "view"))
    def keep(r: org.apache.spark.sql.Row): Boolean =
      r.getAs[Any]("p_id") != 98L && r.getAs[Any]("v_id") != 99L
    val streamed = runStream(Seq(data.take(4), data.drop(4), flush),
      logic, "append").filter(keep)
    val batch = logic((data ++ flush).toDF()).collect().filter(keep)
    streamed.map(_.toString).sorted shouldBe batch.map(_.toString).sorted
    // two-sided outer semantics: unmatched purchases AND the unmatched
    // view each surface exactly once, user_id never null
    streamed.filter(_.isNullAt(3)).map(_.getAs[Long]("p_id"))
      .sorted shouldBe Array(6L, 7L)
    streamed.filter(_.isNullAt(0)).map(_.getAs[Long]("v_id"))
      .sorted shouldBe Array(8L)
    streamed.count(_.isNullAt(1)) shouldBe 0
  }

  test("right outer interval join: every view emits, unmatched " +
      "purchases drop, stream equals batch") {
    val sp = spark
    import sp.implicits._
    val data = Seq(
      ev(1, 0, typ = "view"), ev(2, 10, typ = "view"),
      ev(3, 25, typ = "purchase"),
      ev(4, 100, typ = "view"),
      ev(5, 120, typ = "purchase"),
      ev(6, 300, typ = "purchase"), // unmatched purchase → DROPPED
      ev(8, 290, user = 3, typ = "view")) // unmatched view → NULL p
    val flush = Seq(ev(98, 10000, user = 98, typ = "purchase"),
      ev(99, 10000, user = 99, typ = "view"))
    val logic = (df: org.apache.spark.sql.DataFrame) =>
      Events.intervalJoinRight(
        df.filter(col("event_type") === "purchase"),
        df.filter(col("event_type") === "view"))
    def keep(r: org.apache.spark.sql.Row): Boolean =
      r.getAs[Any]("v_id") != 99L
    val streamed = runStream(Seq(data.take(4), data.drop(4), flush),
      logic, "append").filter(keep)
    val batch = logic((data ++ flush).toDF()).collect().filter(keep)
    streamed.map(_.toString).sorted shouldBe batch.map(_.toString).sorted
    // view-side projection: every non-flush view surfaces exactly once
    // per match (or once with null purchase), the unmatched purchase
    // never does
    streamed.map(_.getAs[Long]("v_id")).distinct.sorted shouldBe
      Array(1L, 2L, 4L, 8L)
    streamed.filter(_.isNullAt(0)).map(_.getAs[Long]("v_id"))
      .sorted shouldBe Array(8L)
    streamed.exists(r => !r.isNullAt(0) &&
      r.getAs[Long]("p_id") == 6L) shouldBe false
    streamed.count(_.isNullAt(1)) shouldBe 0
  }

  test("interval join state is watermark-bounded: the store evicts once " +
      "the watermark passes — the 100 TB stream guarantee") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[Event]
    val df = mem.toDF()
    val joined = Events.intervalJoinOuter(
      df.filter(col("event_type") === "purchase"),
      df.filter(col("event_type") === "view"))
    val name = s"memsink_state_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      def stateRows: Long = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      mem.addData((1 to 40).map(i =>
        ev(i, i, typ = if (i % 2 == 0) "view" else "purchase")))
      q.processAllAvailable()
      val loaded = stateRows
      // both sides resident while the watermark can't prove anything
      loaded should be >= 40L
      // far-future rows on BOTH legs push the global watermark past
      // every resident row + band + delay; eviction runs in the batch
      // that executes WITH the advanced watermark, hence two flushes
      mem.addData(Seq(ev(98, 100000, user = 98, typ = "purchase"),
        ev(99, 100000, user = 99, typ = "view")))
      q.processAllAvailable()
      mem.addData(Seq(ev(96, 100001, user = 96, typ = "purchase"),
        ev(97, 100001, user = 97, typ = "view")))
      q.processAllAvailable()
      val after = stateRows
      // every pre-flush row left the store; only the un-finalizable
      // flush tail may remain. Without eviction this is ≥44 — the
      // unbounded-state failure a year-long stream dies of.
      after should be < loaded
      after should be <= 4L
    } finally q.stop()
  }

  test("binned batch interval queries equal the direct streaming " +
      "transform on real data, all four join types") {
    // the declared queries run the binned-band shape (skew-immune);
    // the streaming leg runs the direct single-key formulation. This
    // closes the chain stream ≡ direct-batch ≡ binned-batch — the
    // DuckDB oracles pin the other end
    val sp = spark
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables(sp, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
    val v = ev.filter(col("event_type") === "view")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def direct(join: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.DataFrame) =
      join(p, v, Events.defaultWatermark)
        .select(coalesce(col("p_id"), lit(-1L)).as("p_id"),
          col("user_id"),
          coalesce(graft.ops.Cols.epochUs(col("p_ts")), lit(-1L))
            .as("p_tus"),
          coalesce(col("v_id"), lit(-1L)).as("v_id"),
          coalesce(graft.ops.Cols.epochUs(col("v_ts")), lit(-1L))
            .as("v_tus"))
    def declared(name: String) = Registry.all(name).fn(sp, dir)
      .select(coalesce(col("p_id"), lit(-1L)).as("p_id"),
        col("user_id"), col("p_tus"),
        coalesce(col("v_id"), lit(-1L)).as("v_id"),
        coalesce(col("v_tus"), lit(-1L)).as("v_tus"))
    rows(declared("q_stream_interval_join")) shouldBe
      rows(direct(Events.intervalJoin))
    rows(declared("q_stream_interval_join_outer")) shouldBe
      rows(direct(Events.intervalJoinOuter))
    rows(declared("q_stream_interval_join_full")) shouldBe
      rows(direct(Events.intervalJoinFull))
    rows(declared("q_stream_interval_join_right")) shouldBe
      rows(direct(Events.intervalJoinRight))
    graft.ops.Caches.drain()
  }

  test("sessions: stream equals batch gaps-and-islands on in-order data") {
    val sp = spark
    import sp.implicits._
    val data = Seq(ev(1, 0), ev(2, 10), ev(3, 70), // user 1: 2 sessions
      ev(4, 0, user = 2))
    val streamed = runStream(Seq(data), Events.sessions(_), "complete")
    val batch = Events.sessions(data.toDF()).collect()
    streamed.map(_.toString).sorted shouldBe batch.map(_.toString).sorted
    streamed.count(_.getAs[Long]("user_id") == 1L) shouldBe 2
  }
}

/** Restart-recovery gate: stop a checkpointed stream mid-input, restart
  * from the same checkpoint, and prove the resumed operator converges to
  * the batch answer over the FULL input — the property a production
  * restart actually needs (state-store recovery for the
  * flatMapGroupsWithState marginals; snapshot recovery for the
  * foreachBatch spline refitter, whose cumulative table lives outside
  * Spark's checkpoint).
  */
class StreamRestartSpec extends AnyFunSuite with Matchers with SparkTest {
  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L)

  test("incremental marginals resume from checkpoint with batch parity") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    val contacts = graft.hic.ContactsView(sp, dir)
      .select("chr", "mid1", "mid2", "contactCount").collect()
      .map(r => HicStream.ContactEvent(ts(0), r.getString(0), r.getLong(1),
        r.getString(0), r.getLong(2), r.getLong(3)))
    val (firstHalf, secondHalf) = contacts.splitAt(contacts.length / 2)
    val ckpt = graft.io.Scratch.sub("restart_ckpt")
    // foreachBatch sink (memory sink refuses checkpoint recovery): keep
    // each batch's updates keyed by batchId so a replayed id overwrites
    // its own rows instead of double-counting
    val buf = scala.collection.concurrent.TrieMap
      .empty[Long, Array[(String, Long, Long, Long)]]
    val mem = MemoryStream[HicStream.ContactEvent]
    def start() = HicStream.incrementalMarginals(mem.toDS()).writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[HicStream.LocusMarginal],
            id: Long) =>
          buf(id) = b.collect()
            .map(m => (m.chr, m.mid, m.hitCount, m.n_pairs))
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    val q1 = start()
    try { mem.addData(firstHalf.toSeq); q1.processAllAvailable() }
    finally q1.stop()
    // restart from the checkpoint: the state store must carry the
    // first half's per-locus accumulations into the resumed query
    mem.addData(secondHalf.toSeq)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // final state per locus = the row from its highest-emitting batch
    val streamed = buf.toSeq.sortBy(_._1).flatMap { case (id, rows) =>
      rows.map(r => (r._1, r._2) -> ((id, r._3, r._4)))
    }.groupBy(_._1).map { case (k, vs) =>
      val (_, h, np) = vs.map(_._2).maxBy(_._1)
      (k._1, k._2, h, np)
    }.toSeq.sorted
    val batch = SparkEntry.queries("q_hic_marginals")(sp, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    streamed shouldBe batch
    graft.ops.Caches.drain()
  }

  test("spline refitter resumes from its state snapshot with batch parity") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    val events = graft.hic.ContactsView(sp, dir)
      .select("chr", "mid1", "mid2", "contactCount").collect()
      .map(r => HicStream.ContactEvent(ts(0), r.getString(0), r.getLong(1),
        r.getString(0), r.getLong(2), r.getLong(3)))
    val (firstHalf, secondHalf) = events.splitAt(events.length / 2)
    val ckpt = graft.io.Scratch.sub("refit_ckpt")
    val state = graft.io.Scratch.sub("refit_state")
    val mem = MemoryStream[HicStream.ContactEvent]
    def start(r: HicStream.SplineRefitter) = mem.toDS().writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[HicStream.ContactEvent],
            id: Long) => r.processBatch(b, id)
      }
      .option("checkpointLocation", ckpt).start()
    val r1 = new HicStream.SplineRefitter(nBins = 100,
      distLo = graft.hic.HicQueries.L, distHi = graft.hic.HicQueries.U,
      stateDir = Some(state))
    val q1 = start(r1)
    try { mem.addData(firstHalf.toSeq); q1.processAllAvailable() }
    finally { q1.stop(); r1.close() }
    // a FRESH refitter (restarted process) recovers the snapshot and the
    // restarted query replays only uncommitted batches
    mem.addData(secondHalf.toSeq)
    val r2 = new HicStream.SplineRefitter(nBins = 100,
      distLo = graft.hic.HicQueries.L, distHi = graft.hic.HicQueries.U,
      stateDir = Some(state))
    val q2 = start(r2)
    try q2.processAllAvailable() finally q2.stop()
    try {
      // the batch-side fit over the identical full observation set
      val f = graft.hic.ContactsView(sp, dir)
        .filter(col("dist")
          .between(graft.hic.HicQueries.L, graft.hic.HicQueries.U))
        .persist()
      val total = f.agg(sum(col("contactCount"))).first().getLong(0)
      val bins = graft.hic.Binning.collectBins(f, 100,
        Seq("chr", "mid1", "mid2"))
      f.unpersist()
      val (xs, raw, fit) = graft.hic.Spline.fitFromBins(bins, total)
      val got = r2.latest.get
      got.total shouldBe total
      got.avgDist shouldBe xs
      got.rawProb shouldBe raw
      got.fittedProb shouldBe fit
    } finally { r2.close(); graft.ops.Caches.drain() }
  }
}
