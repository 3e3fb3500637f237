package graft.llm

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.ops.Cols
import graft.{Q, Tables}

/** Data-selection operators for a training pipeline: incremental
  * corpus-membership via a Bloom filter (the "is this new shard's document
  * already in the 100 TB corpus?" primitive) and DSIR-style hashed-n-gram
  * importance weights (Xie et al. 2023, "Data Selection for Language
  * Models via Importance Resampling") for choosing pre-training data that
  * looks like a target distribution.
  */
object Selection {

  /** Spark ships `bloom_filter_agg` / `might_contain` as Catalyst
    * expressions (they power runtime join filters) but does not expose
    * them in the public FunctionRegistry — register them for the session,
    * once: a name the session already has is left as is (the
    * `BinomSf.register` guard).
    */
  def registerBloom(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("bloom_filter_agg")))
      reg.createOrReplaceTempFunction("bloom_filter_agg",
        (c: Seq[Expression]) => new BloomFilterAggregate(c(0), c(1), c(2)),
        "built-in")
    if (!reg.functionExists(FunctionIdentifier("might_contain")))
      reg.createOrReplaceTempFunction("might_contain",
        (c: Seq[Expression]) => BloomFilterMightContain(c(0), c(1)),
        "built-in")
  }

  /** Distributed Bloom-filter build over `keyCol`: per-partition partial
    * filters OR-merged by the aggregate — bitwise-commutative, so the
    * returned bytes are independent of partitioning and row order (pinned
    * in SelectionSpec). The blob is numBits/8 bytes regardless of input
    * size; at 100 TB, numBits sizes to corpus-key cardinality (1 % FPP ≈
    * 9.6 bits/key) and the build stays one map-combined aggregation.
    */
  def bloomBuild(keys: DataFrame, keyCol: Column, expectedItems: Long,
      numBits: Long): Array[Byte] = {
    registerBloom(keys.sparkSession)
    keys.select(xxhash64(keyCol).as("__k"))
      .agg(call_function("bloom_filter_agg", col("__k"),
        lit(expectedItems), lit(numBits)).as("bf"))
      .head.getAs[Array[Byte]](0)
  }

  /** Codegen'd membership probe against a built filter: the serialized
    * filter rides into the plan as a BinaryType literal (deserialized
    * once per task, Spark's own runtime-filter pattern), so the probe
    * side is a pure narrow map — no shuffle, no join.
    */
  def bloomMightContain(filter: Array[Byte], keyCol: Column): Column =
    call_function("might_contain", lit(filter), xxhash64(keyCol))

  /** Bitwise-OR merge of two serialized filters built with identical
    * params — equal to a from-scratch build over the union of their
    * inserted keys (the incremental-state absorption step; byte
    * identity pinned in SelectionSpec and PqSpec).
    */
  def bloomMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
    fa.mergeInPlace(
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
    val bos = new java.io.ByteArrayOutputStream()
    fa.writeTo(bos)
    bos.toByteArray
  }

  private val stateWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** (doc_id, clean_md5) content-address frame over `dir`'s documents —
    * the one normalization+hash pass every dedup-state job shares.
    */
  private[graft] def addressed(spark: SparkSession, dir: String)
      : DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), cleanMd5.as("clean_md5"))

  /** Dedup-state Bloom sizing FLOORS — the build sizes the sidecar to
    * the corpus it actually fingerprints ([[sizedToCorpus]]), floored
    * here so small fixtures stay byte-comparable across tests. The
    * STORED params (readStateBloom) drive every later merge, so
    * extensions stay bit-compatible with their build regardless of
    * what the corpus grew to.
    */
  private val stateExpectedKeys = 1L << 16
  private val stateNumBits = 1L << 20

  /** Bloom params sized to a measured key count: next power of two
    * above `n`, `bitsPerKey` bits per expected key — an UNDERSIZED
    * sidecar saturates at scale (a 1M-bit filter over 2.3M keys reads
    * ~90 % "maybe", so every probe residue is shard-sized and the
    * bucket pruning the residue drives degrades to a full state scan).
    * The per-family ratio preserves each family's fixture floor
    * exactly (docs: 2^16 keys × 16 = 2^20 bits; spans: 2^20 keys × 8
    * = 2^23 bits); capped at 2^30 bits (128 MB) where a production
    * ingestion would shard the sidecar itself.
    */
  private[graft] def sizedToCorpus(n: Long, floorKeys: Long,
      bitsPerKey: Long): (Long, Long) = {
    val expected = math.max(floorKeys,
      java.lang.Long.highestOneBit(math.max(1L, n * 2 - 1)))
    (expected, math.min(1L << 30, expected * bitsPerKey))
  }

  /** Bucket fanout of the persisted fingerprint tables: the state is
    * hash-partitioned on its content address so a probe whose Bloom
    * residue is SMALL (the nominal daily shard — mostly-novel docs,
    * residue ≈ false positives) reads only the buckets its keys hash
    * to instead of streaming the whole corpus-scale state. Content
    * addresses are uniform, so the pruning win is bounded by
    * |residue| vs the bucket count: a replay-shaped residue touches
    * every bucket and degrades gracefully to the full scan it used to
    * be. 64 here; a 100 TB ingestion sizes this so one bucket ≈ one
    * scan-task's worth of state.
    */
  private[graft] val StateBuckets = 64

  private def stateBucket(c: Column): Column =
    pmod(hash(c), lit(StateBuckets))

  /** Builds (once per JVM × corpus) and PERSISTS the cross-run dedup
    * state for `dir`'s corpus split: a `fingerprints` table (distinct
    * clean-md5 content addresses — the exact backstop and audit
    * surface) plus the one-row Bloom sidecar. This is how daily corpus
    * ingestion actually runs — ONE build job writes the state, later
    * probe jobs ([[probeDedupState]]) and absorption jobs
    * ([[extendDedupState]]) read it and never rescan the corpus.
    */
  /** The LIVE-state manifest of a dedup-state root — base fingerprints
    * dir, the novel dirs nightly extends absorbed since the last
    * compaction (merge-on-read: probes read base ∪ novels), and the
    * live Bloom sidecar dir. The RENDERED manifest is the commit-log
    * payload: every state mutation (extend, compact) commits a new
    * manifest through `CommitLog.commitStateRetry`, so two PROCESSES
    * racing one root serialize in winner order — replacing the r17
    * single-maintenance-writer contract that documentation alone
    * enforced (the round-18 live race proved documented contracts
    * don't survive contact with two processes). Blooms are VERSIONED
    * dirs, never overwritten in place, so a concurrent probe can
    * never read a half-replaced sidecar.
    */
  private[graft] final case class StateManifest(
      base: String, novel: Seq[String], bloom: String) {
    def render: String =
      s"base=$base;novel=${novel.mkString(",")};bloom=$bloom"
    def fpPaths(root: String): Seq[String] =
      (base +: novel).map(n => s"$root/$n")
    def dirNames: Seq[String] = (base +: novel) :+ bloom
  }

  private[graft] object StateManifest {
    def parse(s: String): StateManifest = {
      val kv = s.split(';').map { p =>
        val i = p.indexOf('=')
        p.substring(0, i) -> p.substring(i + 1)
      }.toMap
      StateManifest(kv("base"),
        kv.getOrElse("novel", "").split(',').filter(_.nonEmpty).toSeq,
        kv("bloom"))
    }
  }

  /** Resolves the live manifest: the commit-log HEAD payload when the
    * root has a log (every state built here commits v0), else the
    * legacy MANIFEST-pointer/fixed-name layout of a pre-log root.
    */
  private[graft] def liveManifest(root: String): StateManifest =
    graft.io.CommitLog.headSnapshot(root) match {
      case Some((_, payload)) if payload.startsWith("base=") =>
        StateManifest.parse(payload)
      case _ =>
        val mf = java.nio.file.Paths.get(root, "MANIFEST")
        val base =
          if (java.nio.file.Files.exists(mf))
            new String(java.nio.file.Files.readAllBytes(mf),
              java.nio.charset.StandardCharsets.UTF_8).trim
          else "fingerprints"
        StateManifest(base, Nil, "bloom")
    }

  /** The live fingerprint dirs (base ∪ novels) as absolute paths. */
  private[graft] def liveFpPaths(root: String): Seq[String] =
    liveManifest(root).fpPaths(root)

  /** The live fingerprint table: base ∪ novels, each dir read
    * separately so the bucket partition filter pushes into EVERY scan
    * (one partitioned root per read — no cross-dir discovery).
    */
  private[graft] def liveFps(spark: SparkSession, root: String)
      : DataFrame = fpsOf(spark, liveManifest(root), root)

  private def fpsOf(spark: SparkSession, m: StateManifest, root: String)
      : DataFrame =
    m.fpPaths(root).map(p => spark.read.parquet(p))
      .reduce(_.unionByName(_))

  def persistedDedupState(spark: SparkSession, dir: String): String =
    stateWritten.computeIfAbsent(s"$dir#dedupstate", { _ =>
      val out = graft.io.Scratch.stable("dedupstate_" +
        java.lang.Integer.toHexString(dir.hashCode))
      buildDedupStateAt(spark, dir, out)
      out
    })

  /** The build job behind [[persistedDedupState]], to an EXPLICIT root
    * (the cross-process maintenance harness `DevStateMaint` builds on
    * a shared durable root two racing processes then extend).
    */
  private[graft] def buildDedupStateAt(spark: SparkSession, dir: String,
      out: String): Unit = {
    val corpus = addressed(spark, dir)
      .filter(col("doc_id") % 10 =!= shardMod)
    corpus.select("clean_md5").distinct()
      .withColumn("fb", stateBucket(col("clean_md5")))
      // cluster by the partition column: one file per bucket, not
      // one per (writer task × bucket)
      .repartition(StateBuckets, col("fb"))
      .write.partitionBy("fb").mode("overwrite")
      .parquet(s"$out/fingerprints")
    // size the sidecar to the corpus just fingerprinted (footer-only
    // count of the table we wrote); the stored params pin every
    // later extension bit-compatible
    val (expected, numBits) = sizedToCorpus(
      spark.read.parquet(s"$out/fingerprints").count(),
      stateExpectedKeys, stateNumBits / stateExpectedKeys)
    writeStateBloom(spark, out, "bloom_v000000",
      bloomBuild(corpus, col("clean_md5"), expected, numBits),
      expected, numBits)
    // v0 through the commit log: all later maintenance arbitrates
    // against this (see [[StateManifest]])
    graft.io.CommitLog.tryCommit(out, -1,
      StateManifest("fingerprints", Nil, "bloom_v000000").render)
  }

  private def writeStateBloom(spark: SparkSession, root: String,
      name: String, bytes: Array[Byte], expected: Long,
      numBits: Long): Unit = {
    import spark.implicits._
    Seq((bytes, expected, numBits))
      .toDF("bf", "expected", "numbits")
      .write.mode("overwrite").parquet(s"$root/$name")
  }

  /** (bytes, expected, numbits) of one bloom dir — the STORED params,
    * not the session constants, drive every later merge: a build sized
    * to its corpus cardinality stays bit-compatible with its
    * extensions.
    */
  private def readBloom(spark: SparkSession, path: String)
      : (Array[Byte], Long, Long) = {
    val r = spark.read.parquet(path).head()
    (r.getAs[Array[Byte]]("bf"), r.getAs[Long]("expected"),
      r.getAs[Long]("numbits"))
  }

  /** The live Bloom sidecar of a state root. */
  private[graft] def readStateBloom(spark: SparkSession, root: String)
      : (Array[Byte], Long, Long) =
    readBloom(spark, s"$root/${liveManifest(root).bloom}")

  /** EXACT incremental membership of a (doc_id, clean_md5) shard
    * against the persisted state — the daily-ingestion probe job, and
    * the same three-step scale shape as `Pq.pendingArrivals`: the Bloom
    * sidecar prefilters the shard in a narrow codegen'd map (negative =
    * proven new), the maybe-known residue broadcast-builds a semi join
    * the fingerprint table STREAMS through, and the confirmed addresses
    * broadcast back onto the shard. Every broadcast is shard-bounded;
    * the corpus itself is never rescanned — its only trace in the probe
    * plan is the persisted state tables.
    *
    * A DEGENERATE shard (full-corpus replay, merged backfill) can make
    * the maybe-known residue state-sized; as in `Pq.pendingArrivals`
    * the residue is counted first and above `maxBroadcastKeys` the
    * probe falls back to the shuffled exact join (both sides exchange
    * on the content address — the state contributes the same one
    * narrow column). SelectionSpec parity-pins the branches.
    */
  /** Resolves the LIVE fingerprints directory: a `MANIFEST` pointer
    * (written atomically by [[compactDedupState]]) names the current
    * version; absent manifest = the original build layout. Probe and
    * extend both resolve through this, so a compaction swap is
    * invisible to daily ingestion — the same pointer discipline as the
    * ANN index's codes table (Pq.codesDir).
    */
  /** Serializes the two STATE-MUTATING maintenance jobs on one root —
    * [[extendDedupState]] and [[compactDedupState]] — WITHIN a
    * process, so two threads never stage duplicate work only for one
    * to lose its CAS and redo it. Cross-PROCESS safety does NOT come
    * from this lock: every manifest mutation commits through
    * `CommitLog.commitStateRetry`, so a second process racing the same
    * root loses the link(2) CAS, re-derives against the winner's
    * manifest, and retries — serial execution in winner order.
    * PROBES never take this lock (read-only, pinned to the manifest
    * they resolved).
    */
  private val maintenanceLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def withMaintenanceLock[A](root: String)(body: => A): A =
    maintenanceLocks.computeIfAbsent(root, _ => new AnyRef)
      .synchronized(body)

  /** First maintenance op on a pre-log root commits its legacy layout
    * as v0 so later arbitration has a base; no-op when a log exists.
    * Losing the CAS means another migrator won — equally fine.
    */
  private def migrateLegacy(root: String): Unit =
    if (graft.io.CommitLog.currentVersion(root) < 0)
      graft.io.CommitLog.tryCommit(root, -1, liveManifest(root).render)

  /** Control-flow sentinel: a rebased extend found nothing novel left
    * to absorb (the winner already carried every address) — abandon
    * the commit instead of bumping the version with an identical
    * manifest.
    */
  private object NothingNovel extends RuntimeException
    with scala.util.control.NoStackTrace

  private def stateDirPattern(n: String): Boolean =
    n == "fingerprints" || n == "bloom" ||
      n.startsWith("fingerprints_v") || n.startsWith("novel_v") ||
      n.startsWith("bloom_v")

  /** Every committed manifest's dir names, in version order — the
    * caller-side half of the shared [[graft.io.StateGc]] policy
    * (superseded-history reap + crash-residue VACUUM; the why of the
    * split lives there).
    */
  private def committedDirNames(root: String): Seq[Seq[String]] =
    graft.io.CommitLog.versions(root)
      .map(v => scala.util.Try(StateManifest.parse(v._2)))
      .collect { case scala.util.Success(m) => m.dirNames }

  private def reapUnreferenced(root: String): Unit =
    graft.io.StateGc.reapSuperseded(root, committedDirNames(root),
      stateDirPattern)

  /** Reclaims never-referenced state dirs (staged by a run that died
    * before its CAS). Operator-invoked with an explicit retention —
    * the caller asserts no maintenance job older than `olderThanMs`
    * is still staging against this root, exactly the contract of a
    * lakehouse VACUUM ([[graft.io.StateGc.vacuum]]). The referenced
    * set includes the LIVE manifest's dirs, so a legacy root whose
    * build predates the commit log (empty log, fixed dir names) never
    * has its live tables aged into "crash residue". Returns the
    * reaped dir names.
    */
  def vacuumDedupState(root: String,
      olderThanMs: Long = 7L * 24 * 3600 * 1000): Seq[String] =
    graft.io.StateGc.vacuum(root,
      committedDirNames(root).flatten.toSet ++
        liveManifest(root).dirNames,
      stateDirPattern, olderThanMs)

  /** COMPACTS the fingerprint state — the maintenance job after a run
    * of nightly [[extendDedupState]] absorbs, each landing its own
    * small novel dir (the small-files problem on the dedup state
    * itself): fold base ∪ novels into ONE new base generation, REBUILD
    * the Bloom sidecar sized to the live corpus, and commit the new
    * manifest through the log (in-flight probes keep their pinned
    * snapshot; superseded generations reap with one-version grace).
    *
    * The sidecar rebuild is the long-run-drift fix: extends OR-merge
    * into params frozen at build time, so enough growth saturates the
    * filter and the probe residue degrades back toward shard-size —
    * re-sizing via [[sizedToCorpus]] on the live count costs one extra
    * pass over a table this job is already rewriting. With unchanged
    * params the rebuild is byte-identical to the merged sidecar
    * (pinned in SelectionSpec), so compaction stays invisible.
    */
  private[graft] def compactDedupState(spark: SparkSession, root: String,
      targetFiles: Int = 4): Unit = withMaintenanceLock(root) {
    migrateLegacy(root)
    var staged: Seq[String] = Nil
    graft.io.CommitLog.commitStateRetry(root) { (cur, snap) =>
      // a retry abandons the loser's staged dirs (scratch discipline)
      staged.foreach(graft.io.Scratch.reap); staged = Nil
      val m = snap.map(StateManifest.parse).getOrElse(liveManifest(root))
      val tag = f"${cur + 1}%06d-" +
        java.util.UUID.randomUUID().toString.take(8)
      val baseName = s"fingerprints_v$tag"
      // bucket-preserving rewrite: clustering by the partition column
      // lands each bucket wholly in one task, so the new generation
      // has exactly ONE file per non-empty bucket — the small nightly
      // novel dirs collapse without destroying the probe's pruning
      // layout (`targetFiles` caps the shuffle width, not the total)
      fpsOf(spark, m, root).repartition(targetFiles, col("fb"))
        .write.partitionBy("fb").mode("overwrite")
        .parquet(s"$root/$baseName")
      val (_, expected0, numBits0) = readBloom(spark, s"$root/${m.bloom}")
      val rebuilt = spark.read.parquet(s"$root/$baseName")
      val keyCol = rebuilt.columns.filterNot(_ == "fb").head
      val (expected, numBits) = sizedToCorpus(rebuilt.count(),
        floorKeys = expected0,
        bitsPerKey = math.max(1L, numBits0 / expected0))
      val bloomName = s"bloom_v$tag"
      writeStateBloom(spark, root, bloomName,
        bloomBuild(rebuilt, col(keyCol), expected, numBits),
        expected, numBits)
      staged = Seq(s"$root/$baseName", s"$root/$bloomName")
      StateManifest(baseName, Nil, bloomName).render
    }
    staged = Nil // committed — these dirs are the live state now
    reapUnreferenced(root)
  }

  private[graft] def probeDedupState(spark: SparkSession, root: String,
      shard: DataFrame, maxBroadcastKeys: Long = -1L,
      key: String = "clean_md5"): DataFrame =
    probeDedupStateAt(spark, root, liveManifest(root), shard,
      maxBroadcastKeys, key)

  /** The live sidecar as a BROADCAST handle, one per bloom dir per JVM
    * (bloom dirs are versioned and immutable, so the path is a content
    * key). The probe expression ships the handle, not the blob: a
    * corpus-sized rebuilt sidecar (16 MB at 5M keys) as a plan literal
    * costs tasks × blob-bytes of task-binary serialization on EVERY
    * probe job — measured 2.7× on the 512× drift probe — while the
    * broadcast is fetched once per executor and parsed once per JVM.
    */
  private val bloomBcCache = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.SparkContext,
      org.apache.spark.broadcast.Broadcast[Array[Byte]])]()

  private def bloomBcOf(spark: SparkSession, path: String)
      : org.apache.spark.broadcast.Broadcast[Array[Byte]] = {
    // overflow drops the STRONG refs only — no explicit unpersist: an
    // in-flight lazy frame may still hold a cleared entry's handle,
    // and unpersisting under it fails its materialization. Cleared
    // handles become GC-collectable and Spark's ContextCleaner
    // reclaims their blocks once every consumer is done.
    if (bloomBcCache.size > 64) bloomBcCache.clear()
    // the owning SparkContext rides along: a handle minted by a
    // since-stopped context (same JVM, successor session reading the
    // same versioned bloom path) is dead — rebroadcast on mismatch
    val sc = spark.sparkContext
    bloomBcCache.compute(path, (_, prev) =>
      if (prev != null && (prev._1 eq sc)) prev
      else (sc, sc.broadcast(readBloom(spark, path)._1)))._2
  }

  private def probeDedupStateAt(spark: SparkSession, root: String,
      m: StateManifest, shard: DataFrame, maxBroadcastKeys: Long,
      key: String): DataFrame = {
    val bc = bloomBcOf(spark, s"$root/${m.bloom}")
    val fps = fpsOf(spark, m, root)
    // uncached on purpose: registering the residue would put an
    // InMemoryRelation into the consumer plan and break the
    // shard-scans-only plan gate; the three passes (size probe,
    // bucket-set collect, semi build) are each one narrow
    // delta-bounded scan
    val maybe = shard.filter(graft.functions.BloomProbeBc.mightContain(
        bc, xxhash64(col(key))))
      .select(key).distinct()
    // byte-derived cap: the broadcast rows are the residue's key
    // projection (see Warehouse.broadcastRowCap)
    if (graft.ops.Warehouse.fitsBroadcast(maybe,
        graft.ops.Warehouse.broadcastRowCap(maybe.schema,
          maxBroadcastKeys))) {
      // bucket pruning: the residue's hash-bucket set (≤ StateBuckets
      // values — a constant-sized collect) becomes a PARTITION filter
      // on the fingerprint scan, so a small daily residue reads only
      // the state files that can contain its keys; a residue touching
      // every bucket reads what the unpruned scan always did
      val touchedFb = maybe.select(stateBucket(col(key)).as("fb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val confirmed = fps.filter(col("fb").isin(touchedFb: _*))
        .join(broadcast(maybe), Seq(key), "left_semi")
        .select(col(key)).withColumn("__in", lit(true))
      shard.join(broadcast(confirmed), Seq(key), "left")
        .select(col("doc_id"), col(key),
          coalesce(col("__in"), lit(false)).as("in_corpus"))
    } else {
      // degenerate residue (replay/backfill): every bucket is touched,
      // pruning buys nothing — the counted fallback exchanges both
      // sides on the content address as before
      shard.join(fps.select(col(key)).withColumn("__in", lit(true))
          .hint("shuffle_merge"), Seq(key), "left")
        .select(col("doc_id"), col(key),
          coalesce(col("__in"), lit(false)).as("in_corpus"))
    }
  }

  /** SPAN-granular cross-run state — the window-key analog of
    * [[persistedDedupState]] for the contamination-at-ingestion
    * question "does this new shard copy any W-token span already in
    * the corpus?": one build job persists the corpus's distinct W=8
    * md5-window keys (the SpanDedup device) plus their Bloom sidecar
    * (sized up — window keys outnumber documents ~text/W-fold), and
    * daily probe jobs answer EXACTLY from the state alone via the
    * generalized [[probeDedupState]].
    */
  def persistedSpanState(spark: SparkSession, dir: String): String =
    stateWritten.computeIfAbsent(s"$dir#spanstate", { _ =>
      val out = graft.io.Scratch.stable("spanstate_" +
        java.lang.Integer.toHexString(dir.hashCode))
      val corpus = spanKeys(spark, dir)
        .filter(col("doc_id") % 10 =!= shardMod)
      corpus.select("win_md5").distinct()
        .withColumn("fb", stateBucket(col("win_md5")))
        .repartition(StateBuckets, col("fb"))
        .write.partitionBy("fb").mode("overwrite")
        .parquet(s"$out/fingerprints")
      val (expected, numBits) = sizedToCorpus(
        spark.read.parquet(s"$out/fingerprints").count(),
        1L << 20, bitsPerKey = 8L)
      writeStateBloom(spark, out, "bloom_v000000",
        bloomBuild(corpus, col("win_md5"), expected, numBits),
        expected, numBits)
      graft.io.CommitLog.tryCommit(out, -1,
        StateManifest("fingerprints", Nil, "bloom_v000000").render)
      out
    })

  /** ABSORB a probed shard into the persisted state — the nightly
    * ingestion commit, arbitrated CROSS-PROCESS through the commit
    * log: the genuinely novel addresses land in a run-unique `novel_*`
    * dir, the OR-merged Bloom sidecar (byte-identical to a
    * from-scratch build over the union) in a run-unique `bloom_*` dir,
    * and the new manifest commits via `commitStateRetry`. A CAS loser
    * re-probes against the WINNER's manifest — the novel set can only
    * SHRINK (addresses are never removed), so concurrent extends
    * serialize in winner order and every address lands exactly once.
    * Replaying an absorbed shard is a full no-op: nothing novel, no
    * commit, no version bump.
    */
  private[graft] def extendDedupState(spark: SparkSession, root: String,
      shard: DataFrame, key: String = "clean_md5"): Unit =
    withMaintenanceLock(root) {
      migrateLegacy(root)
      var staged: Seq[String] = Nil
      try {
        graft.io.CommitLog.commitStateRetry(root) { (cur, snap) =>
          // a retry abandons the loser's staged dirs
          staged.foreach(graft.io.Scratch.reap); staged = Nil
          val m = snap.map(StateManifest.parse)
            .getOrElse(liveManifest(root))
          val novel = graft.ops.Caches.register(
            probeDedupStateAt(spark, root, m, shard, -1L, key)
              .filter(!col("in_corpus")).select(key).distinct()
              .persist())
          // count() (not isEmpty) fully materializes the cache BEFORE
          // the novel-dir write the probe plan's state also backs
          if (novel.count() == 0L) throw NothingNovel
          val tag = f"${cur + 1}%06d-" +
            java.util.UUID.randomUUID().toString.take(8)
          val novelName = s"novel_v$tag"
          novel.withColumn("fb", stateBucket(col(key)))
            .write.partitionBy("fb").mode("overwrite")
            .parquet(s"$root/$novelName")
          val (curB, expected, numBits) =
            readBloom(spark, s"$root/${m.bloom}")
          val bloomName = s"bloom_v$tag"
          writeStateBloom(spark, root, bloomName, bloomMerge(curB,
            bloomBuild(novel, col(key), expected, numBits)),
            expected, numBits)
          staged = Seq(s"$root/$novelName", s"$root/$bloomName")
          m.copy(novel = m.novel :+ novelName, bloom = bloomName).render
        }
        staged = Nil // committed
        reapUnreferenced(root)
      } catch {
        case NothingNovel => staged.foreach(graft.io.Scratch.reap)
      }
    }

  /** The q_text_clean normalization chain (same expression shape there —
    * casefold, strip tags, drop non-alphanumerics, collapse whitespace,
    * trim), reduced to its md5 content address.
    */
  private def cleanMd5: Column =
    md5(trim(regexp_replace(regexp_replace(regexp_replace(
      lower(col("text")), "<[^>]*>", " "), "[^a-z0-9 ]", ""),
      " +", " ")).cast("binary"))

  private val cleanMd5Sql: String =
    "md5(trim(regexp_replace(regexp_replace(regexp_replace(" +
      "lower(text), '<[^>]*>', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), " +
      "' +', ' ', 'g')))"

  /** Exact per-doc span-hit reduction — the shared oracle of
    * q_dedup_bloom_spans_exactcheck (in-run exact join) and
    * q_dedup_bloom_spans_incremental (persisted-state probe). Lazy:
    * interpolates shardMod, declared later in the file.
    */
  private lazy val spanMembershipSql: String =
    "WITH " + spanKeysSql + " " +
      "SELECT k.doc_id, COUNT(*) AS n_win, " +
      "CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM w c WHERE " +
      s"c.doc_id % 10 <> $shardMod AND c.win_md5 = k.win_md5) " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
      "(CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM w c WHERE " +
      s"c.doc_id % 10 <> $shardMod AND c.win_md5 = k.win_md5) " +
      "THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*) " +
      "AS hit_ppm " +
      s"FROM w k WHERE k.doc_id % 10 = $shardMod " +
      "GROUP BY k.doc_id ORDER BY doc_id"

  /** Exact shard-vs-corpus membership — the shared oracle of
    * q_dedup_bloom_exactcheck (in-run exact join) and
    * q_dedup_bloom_incremental (persisted-state probe): same split,
    * same content address, same output shape.
    */
  // lazy: interpolates shardMod, declared later in the file — an eager
  // val here would capture the uninitialized 0
  private lazy val exactMembershipSql: String =
    "WITH keyed AS (SELECT doc_id, " + cleanMd5Sql +
      " AS clean_md5 FROM documents) " +
      "SELECT k.doc_id, k.clean_md5, EXISTS (SELECT 1 FROM keyed c " +
      s"WHERE c.doc_id % 10 <> $shardMod " +
      "AND c.clean_md5 = k.clean_md5) AS in_corpus " +
      s"FROM keyed k WHERE k.doc_id % 10 = $shardMod ORDER BY doc_id"

  /** Simulated shard split: incoming = every 10th doc, corpus = the rest
    * (deterministic, engine-agnostic — both sides express it as doc_id
    * arithmetic).
    */
  private val shardMod = 7

  // DSIR hash-bucket count: real DSIR uses 10^4–10^6 buckets; 4096 keeps
  // the per-bucket count tables broadcast-sized at any corpus scale (the
  // tables are B rows by construction — corpus size never touches them).
  private val B = 4096

  /** Deterministic bucket hash both engines compute identically: the
    * VALUES of the first three (lowercase) hex chars of md5 folded
    * base-16 — 16^3 = B, so every bucket in [0, 4096) is reachable and
    * uniformly loaded (folding raw ascii codes instead aliases 'a'-'f'
    * onto '1'-'6' in the top digit and covers well under B buckets).
    * Not murmur — the POINT is a fixed B-bucket feature hash whose exact
    * function is irrelevant to the algorithm, only its determinism and
    * spread. lowercase hex digit → value: ascii − 48 − 39·[ascii ≥ 97].
    */
  private def hexdCol(c: Column): Column =
    ascii(c) - lit(48) -
      when(ascii(c) >= 97, lit(39)).otherwise(lit(0))

  private def bucketCol(c: Column): Column =
    ((hexdCol(substring(c, 1, 1)) * lit(16) +
      hexdCol(substring(c, 2, 1))) * lit(16) +
      hexdCol(substring(c, 3, 1))) % lit(B)

  private def hexdSql(e: String): String =
    s"(ascii($e) - 48 - CASE WHEN ascii($e) >= 97 THEN 39 ELSE 0 END)"

  private def bucketSql(e: String): String =
    s"((${hexdSql(s"substr($e, 1, 1)")} * 16 + " +
      s"${hexdSql(s"substr($e, 2, 1)")}) * 16 + " +
      s"${hexdSql(s"substr($e, 3, 1)")}) % $B"

  /** W=8 token-window md5 keys per doc — the SAME window device as
    * SpanDedup (`md5(concat_ws(' ', slice(toks, i+1, W)))`), emitted here
    * with the doc_id for the shard-split bloom/contamination queries.
    */
  private val W = 8

  private def spanKeys(spark: SparkSession, dir: String): DataFrame =
    // fused byte-window kernel (SpanWindowKeys): md5 straight off the
    // text bytes, short docs implicit-empty — same device as SpanDedup
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextKernels.spanWindowCol(W)(col("text")))
          .as("win_md5"))

  private val spanKeysSql: String =
    "w AS (SELECT doc_id, " +
      s"md5(array_to_string(toks[i : i + ${W - 1}], ' ')) AS win_md5 " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS toks " +
      s"FROM documents WHERE len(string_split(text, ' ')) >= $W), " +
      s"unnest(generate_series(1, len(toks) - ${W - 1})) AS s(i))"

  /** Shared DSIR scoring kernel: (doc_id, n_bg, llr_sum_q) — exact BIGINT
    * per-doc sums over the B-bucket quantized-llr table. Consumed by both
    * q_text_importance (weights) and q_sample_importance (resampling).
    */
  private def importanceScores(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
    // per-ROW feature multiset (graft.functions.WordBigramBuckets,
    // codegen'd): tokenize → md5 → 12-bit bucket fold → per-bucket count,
    // all inside the scan stage — the old explode → md5 → groupBy(doc,
    // lang, hb) hash aggregate (one row per word of the corpus, plus its
    // shuffle at scale) collapses to one bounded array per document.
    // Bucket arithmetic is bit-identical to bucketCol (first 12 digest
    // bits mod B), so the oracle CTEs are unchanged. Not persisted: the
    // kernel is a narrow map of the document scan, and a re-scan is
    // cheaper than the cache's build job (and the ≤ B-row counts below,
    // recomputed per reader, cost less than their own cache's jobs).
    val feat = docs
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextKernels.wordBigramBucketCol(B)(
          col("text"))).as("e"))
      .select(col("doc_id"), col("lang"),
        col("e.hb").as("hb"), col("e.mult").as("mult"))
    // source AND target counts in ONE aggregation (the target is a
    // conditional sum, not a second filtered groupBy). ct = 0 where the
    // old left-joined tgtCnt read null — identical after the coalesce
    // below.
    val cnts = feat.groupBy("hb")
      .agg(sum(col("mult")).as("cs"),
        sum(when(col("lang") === "en", col("mult")).otherwise(0L))
          .as("ct"))
    val totals = cnts.agg(sum(col("cs")).as("ts"), sum(col("ct")).as("tt"))
    // full B-bucket smoothed tables: buckets unseen in the target (or
    // even the source) still carry a defined llr — seq 0..B-1 ⟕ counts
    val llr = spark.range(0, B).select(col("id").cast("int").as("hb"))
      .join(cnts, Seq("hb"), "left")
      .crossJoin(broadcast(totals))
      .select(col("hb"), expr(
        "CAST(ROUND((ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / " +
          s"CAST(tt + $B AS DOUBLE)) - " +
          "ln(CAST(coalesce(cs, 0) + 1 AS DOUBLE) / " +
          s"CAST(ts + $B AS DOUBLE))) * 1000000, 0) AS BIGINT)")
        .as("llr_q"))
    feat.join(broadcast(llr), "hb")
      .groupBy("doc_id")
      .agg(sum(col("mult") * col("llr_q")).as("llr_sum_q"),
        sum(col("mult")).as("n_bg"))
  }

  /** DuckDB twin of [[importanceScores]]: the WITH-body producing `agg`
    * (doc_id, llr_sum_q, n_bg) — spliced into both importance oracles.
    */
  private val importanceCtes: String =
    "docs AS (SELECT doc_id, lang, string_split(text, ' ') " +
      "AS t FROM documents), " +
      "bg AS (SELECT doc_id, lang, " +
      "unnest(list_transform(generate_series(1, len(t) - 1), " +
      "i -> t[i] || ' ' || t[i+1])) AS bg FROM docs WHERE len(t) >= 2), " +
      "feat AS (SELECT doc_id, lang, " + bucketSql("md5(bg)") +
      " AS hb, COUNT(*) AS mult FROM bg GROUP BY doc_id, lang, " +
      bucketSql("md5(bg)") + "), " +
      "sc AS (SELECT hb, CAST(SUM(mult) AS BIGINT) AS cs FROM feat " +
      "GROUP BY hb), " +
      "tc AS (SELECT hb, CAST(SUM(mult) AS BIGINT) AS ct FROM feat " +
      "WHERE lang = 'en' GROUP BY hb), " +
      "tot AS (SELECT (SELECT CAST(SUM(cs) AS BIGINT) FROM sc) AS ts, " +
      "(SELECT CAST(SUM(ct) AS BIGINT) FROM tc) AS tt), " +
      s"ids AS (SELECT unnest(generate_series(0, ${B - 1})) AS hb), " +
      "llr AS (SELECT ids.hb, CAST(ROUND((LN(CAST(" +
      s"coalesce(tc.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + $B " +
      "AS DOUBLE)) - LN(CAST(coalesce(sc.cs, 0) + 1 AS DOUBLE) / " +
      s"CAST(tot.ts + $B AS DOUBLE))) * 1000000, 0) AS BIGINT) " +
      "AS llr_q FROM ids LEFT JOIN sc ON ids.hb = sc.hb " +
      "LEFT JOIN tc ON ids.hb = tc.hb CROSS JOIN tot), " +
      "agg AS (SELECT f.doc_id, " +
      "CAST(SUM(f.mult * l.llr_q) AS BIGINT) AS llr_sum_q, " +
      "CAST(SUM(f.mult) AS BIGINT) AS n_bg FROM feat f " +
      "JOIN llr l ON f.hb = l.hb GROUP BY f.doc_id)"

  def queries: Map[String, Q] = Map(
    "q_dedup_bloom" -> Q(
      (spark, dir) => {
        // Incremental corpus dedup, the at-scale shape: ONE distributed
        // aggregation builds the corpus-side filter (bytes are
        // partition-order-free), then the incoming shard is probed by a
        // narrow codegen'd map — the incoming side never shuffles and the
        // corpus is never joined. might_contain can false-positive
        // (maybe_in_corpus=true for a genuinely new doc; at this sizing
        // — 2^20 bits for 2^16 expected keys = 16 bits/key — FPP is
        // ~5e-4 at Spark's optimal k, and smaller still at the actual
        // sub-2^16 sf corpus count) but NEVER false-negatives: maybe_in_corpus=false
        // is a proof the content address is new. SelectionSpec pins
        // no-false-negatives against the exact join, byte determinism
        // across partitionings, and the FPP band; the bloom bit array
        // itself is not SQL-expressible → rows-only, with the twin below
        // oracle-pinning every other leg of this plan.
        val keyed = Tables(spark, dir, "documents")
          .select(col("doc_id"), cleanMd5.as("clean_md5"))
        val corpus = keyed.filter(col("doc_id") % 10 =!= shardMod)
        val bytes = bloomBuild(corpus, col("clean_md5"),
          expectedItems = 1L << 16, numBits = 1L << 20)
        keyed.filter(col("doc_id") % 10 === shardMod)
          .select(col("doc_id"), col("clean_md5"),
            bloomMightContain(bytes, col("clean_md5"))
              .as("maybe_in_corpus"))
          .orderBy("doc_id")
      },
      None),

    "q_dedup_bloom_exactcheck" -> Q(
      (spark, dir) => {
        // Oracle twin for q_dedup_bloom: the SAME shard split, clean-md5
        // content address, output shape and ordering, with the one
        // non-SQL-expressible leg (the bloom probe) replaced by exact
        // membership — a broadcast left-semi-shaped mark join on the
        // corpus side. Exact-in ⊆ bloom-maybe is the no-false-negative
        // law SelectionSpec asserts between the two.
        val keyed = Tables(spark, dir, "documents")
          .select(col("doc_id"), cleanMd5.as("clean_md5"))
        val corpusKeys = keyed.filter(col("doc_id") % 10 =!= shardMod)
          .select(col("clean_md5")).distinct()
          .withColumn("__in", lit(true))
        keyed.filter(col("doc_id") % 10 === shardMod)
          .join(broadcast(corpusKeys), Seq("clean_md5"), "left")
          .select(col("doc_id"), col("clean_md5"),
            coalesce(col("__in"), lit(false)).as("in_corpus"))
          .orderBy("doc_id")
      },
      Some(exactMembershipSql)),

    "q_dedup_bloom_incremental" -> Q(
      (spark, dir) => {
        // CROSS-RUN dedup state (the daily-ingestion shape): the corpus
        // filter + fingerprint table are PERSISTED by one build job
        // (persistedDedupState) and this probe job reads only that
        // state — Bloom prefilter (narrow map), shard-bounded broadcast
        // semi against the streamed fingerprint table, confirmed
        // addresses broadcast back. Unlike q_dedup_bloom's in-run
        // filter the corpus is never rescanned (plan-gated: one
        // documents scan — the shard's own), and unlike the maybe-
        // answer the output is EXACT membership → the same full oracle
        // as the exactcheck twin. SelectionSpec pins the absorption
        // cycle: extend with the corpus = no-op, extend with the shard
        // = all-known on replay, sidecar byte-identical to scratch.
        val root = persistedDedupState(spark, dir)
        probeDedupState(spark, root, addressed(spark, dir)
          .filter(col("doc_id") % 10 === shardMod))
          .orderBy("doc_id")
      },
      Some(exactMembershipSql)),

    "q_dedup_bloom_spans" -> Q(
      (spark, dir) => {
        // Span-granular incremental contamination — the join-free scale
        // path for "does this new shard copy any W-token span already in
        // the corpus?" (the q_text_contamination question, asked against
        // the WHOLE corpus instead of a small eval set, where a join
        // would shuffle corpus-sized window tables). One aggregation
        // builds the filter over the corpus's window keys (the SAME
        // W=8 md5-window device as SpanDedup); the incoming shard's
        // windows are probed by the literal-riding might_contain map and
        // reduced per-doc to an exact-integer hit ppm. maybe-hit can
        // false-positive (ppm is an upper bound — safe direction for a
        // drop decision) but never false-negative: ppm=0 proves the doc
        // shares no W-token span with the corpus. Rows-only; the twin
        // below swaps the probe for exact membership (full oracle) and
        // SelectionSpec asserts the per-doc upper-bound law.
        val keyed = spanKeys(spark, dir)
        val corpus = keyed.filter(col("doc_id") % 10 =!= shardMod)
        val bytes = bloomBuild(corpus, col("win_md5"),
          expectedItems = 1L << 20, numBits = 1L << 23)
        keyed.filter(col("doc_id") % 10 === shardMod)
          .select(col("doc_id"),
            bloomMightContain(bytes, col("win_md5")).cast("long")
              .as("hit"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_win"), sum(col("hit")).as("n_hit"))
          .select(col("doc_id"), col("n_win"), col("n_hit"),
            expr("(n_hit * 1000000L) div n_win").as("hit_ppm"))
          .orderBy("doc_id")
      },
      None),

    "q_dedup_bloom_spans_exactcheck" -> Q(
      (spark, dir) => {
        // Oracle twin: the SAME shard split, window device, per-doc
        // reduction and output shape, with the bloom probe replaced by
        // exact window membership (left join against the corpus's
        // distinct window keys — broadcast at test SF, a key-partitioned
        // semi-join at scale). Exact ppm ≤ bloom ppm per doc is the
        // upper-bound law SelectionSpec asserts.
        val keyed = spanKeys(spark, dir)
        val corpusWins = keyed.filter(col("doc_id") % 10 =!= shardMod)
          .select("win_md5").distinct().withColumn("__in", lit(1L))
        keyed.filter(col("doc_id") % 10 === shardMod)
          .join(broadcast(corpusWins), Seq("win_md5"), "left")
          .select(col("doc_id"), coalesce(col("__in"), lit(0L)).as("hit"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_win"), sum(col("hit")).as("n_hit"))
          .select(col("doc_id"), col("n_win"), col("n_hit"),
            expr("(n_hit * 1000000L) div n_win").as("hit_ppm"))
          .orderBy("doc_id")
      },
      Some(spanMembershipSql)),

    "q_dedup_bloom_spans_incremental" -> Q(
      (spark, dir) => {
        // cross-run SPAN state: the probe job reads only the persisted
        // window-key fingerprints + sidecar (persistedSpanState — one
        // corpus-side build job), answers exact per-window membership
        // through the generalized three-step probe, and reduces to the
        // same per-doc hit ppm as the in-run twins. Exact output → the
        // SAME full oracle as the exactcheck twin; the corpus text is
        // never re-windowed in the probe job.
        val root = persistedSpanState(spark, dir)
        val shard = spanKeys(spark, dir)
          .filter(col("doc_id") % 10 === shardMod)
        probeDedupState(spark, root, shard, key = "win_md5")
          .select(col("doc_id"),
            col("in_corpus").cast("long").as("hit"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_win"), sum(col("hit")).as("n_hit"))
          .select(col("doc_id"), col("n_win"), col("n_hit"),
            expr("(n_hit * 1000000L) div n_win").as("hit_ppm"))
          .orderBy("doc_id")
      },
      Some(spanMembershipSql)),

    "q_sample_quality_threshold" -> Q(
      (spark, dir) => {
        // Per-language quantile-calibrated quality filtering — the guard
        // against a single global threshold silently deleting whole
        // languages (every serious pipeline calibrates per domain).
        // Keep the top 60% of each language by an integer-exact quality
        // score (stopword-hit ppm, the q_text_quality signal on the
        // exact-integer plane). The 100 TB-safe shape: the quantile is
        // found on the per-(lang, score) HISTOGRAM — the cumulative
        // window runs over distinct scores (bounded by the score
        // codomain), never over documents, so a 90%-one-language corpus
        // cannot funnel a doc-sized partition; the |langs|-row threshold
        // table broadcasts back and the keep decision is a narrow map.
        // Threshold = the ceil(0.6·n)-th doc's score from the top;
        // keep = score ≥ threshold (ties at the boundary keep — standard
        // quantile semantics, deterministic).
        val stop = "array('the','a','of','and','to','value','table','row')"
        val scored = Tables(spark, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"), col("lang"),
            expr(s"(size(filter(toks, t -> array_contains($stop, t))) " +
              "* 1000000L) div size(toks)").as("score_ppm"))
        val hist = scored.groupBy("lang", "score_ppm")
          .agg(count(lit(1)).as("c"))
        val n = scored.groupBy("lang").agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(desc("score_ppm"))
        val thr = hist
          .withColumn("cum", sum(col("c")).over(w))
          .join(broadcast(n), "lang")
          .withColumn("keep_n", expr("(3 * n + 4) div 5")) // ceil(0.6n)
          .filter(col("cum") >= col("keep_n") &&
            col("cum") - col("c") < col("keep_n"))
          .select(col("lang"), col("score_ppm").as("thr"))
        scored.join(broadcast(thr), "lang")
          .select(col("doc_id"), col("lang"), col("score_ppm"),
            col("thr"), (col("score_ppm") >= col("thr")).as("keep"))
          .orderBy("doc_id")
      },
      Some("WITH scored AS (SELECT doc_id, lang, " +
        "(len(list_filter(string_split(text, ' '), t -> " +
        "list_contains(['the','a','of','and','to','value','table','row']" +
        ", t))) * 1000000) // len(string_split(text, ' ')) AS score_ppm " +
        "FROM documents), " +
        "hist AS (SELECT lang, score_ppm, COUNT(*) AS c FROM scored " +
        "GROUP BY lang, score_ppm), " +
        "n AS (SELECT lang, COUNT(*) AS n FROM scored GROUP BY lang), " +
        "cum AS (SELECT h.lang, h.score_ppm, h.c, " +
        "SUM(h.c) OVER (PARTITION BY h.lang ORDER BY h.score_ppm DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "n.n FROM hist h JOIN n USING (lang)), " +
        "thr AS (SELECT lang, score_ppm AS thr FROM cum " +
        "WHERE cum >= (3 * n + 4) // 5 AND cum - c < (3 * n + 4) // 5) " +
        "SELECT s.doc_id, s.lang, s.score_ppm, t.thr, " +
        "s.score_ppm >= t.thr AS keep FROM scored s " +
        "JOIN thr t USING (lang) ORDER BY doc_id")),

    "q_text_importance" -> Q(
      (spark, dir) => {
        // DSIR-style importance weight per document: score(d) =
        // Σ_features mult·[ln p_target(b) − ln p_source(b)] over hashed
        // word-bigram buckets, target = the corpus's English slice,
        // source = the whole corpus, add-1 smoothing over the B buckets.
        // Plan shape is the q_text_perplexity two-shuffle discipline: the
        // bigram explode reduces to (doc, bucket, mult) once, the
        // per-bucket count tables are ≤ B rows (broadcast back — corpus
        // size never reaches them), and the per-doc sum is exact BIGINT
        // via the quantized-log device: each DISTINCT bucket's llr
        // becomes ROUND((ln pt − ln ps)·1e6) ONCE, so the order-dependent
        // float-sum hazard is gone and both engines share one IEEE
        // expression shape under fround. Ln-parity boundary probe
        // (round-14, sf0.01): min distance of llr·1e6 to a .5 boundary
        // across all 4096 buckets is 1.03e-3 ≈ 4.5e12 ulps — last-ulp
        // libm drift cannot flip a bucket here (same probed assumption
        // as q_text_perplexity documents).
        importanceScores(spark, dir)
          .select(col("doc_id"), col("n_bg"), col("llr_sum_q"),
            Cols.fround(col("llr_sum_q").cast("double") /
              (col("n_bg").cast("double") * lit(1e6)), 6)
              .as("importance"))
          .orderBy("doc_id")
      },
      Some("WITH " + importanceCtes +
        " SELECT doc_id, n_bg, llr_sum_q, " +
        Cols.froundSql("CAST(llr_sum_q AS DOUBLE) / " +
          "(CAST(n_bg AS DOUBLE) * 1e6)", 6) +
        " AS importance FROM agg ORDER BY doc_id")),

    "q_sample_importance" -> Q(
      (spark, dir) => {
        // The DSIR resampling step itself: sample-without-replacement
        // ∝ exp(score) via Gumbel-top-k — key = score + Gumbel(0,1),
        // take the K largest. Randomness is a SEEDED engine-agnostic
        // device (the md5-hex→uniform lift below, u = (v+0.5)/16^6 from
        // the doc_id's hex digits), so both engines draw the SAME noise
        // and the selection is reproducible run-to-run and across
        // partitionings — the property an at-scale pipeline needs to
        // resume a selection job. score = length-normalized importance
        // (llr_sum_q/(n_bg·1e6), the q_text_importance weight) so
        // selection isn't dominated by document length. TakeOrdered K —
        // never a global sort. Float-parity: the key is one shared IEEE
        // expression over exact integers; ordering can only diverge if
        // two keys sit within a ulp — probed at sf0.01 (round 14): min
        // adjacent key gap over ALL 500 keys is 1.8e-5 (≈ 8e10 ulps),
        // the K=64 boundary gap is 4.2e-3, and the top-64's fround
        // emissions sit ≥ 1.5e-3 from a .5 boundary — last-ulp libm
        // drift cannot flip a rank or a rounded digit here.
        val K = 64
        val scored = importanceScores(spark, dir)
        val u = (expr("CAST(conv(substring(md5(CAST(CAST(doc_id AS " +
          "STRING) AS BINARY)), 1, 6), 16, 10) AS BIGINT)")
          .cast("double") + lit(0.5)) / lit(16777216.0)
        scored
          .withColumn("gkey",
            col("llr_sum_q").cast("double") /
              (col("n_bg").cast("double") * lit(1e6)) -
              log(-log(u)))
          .orderBy(desc("gkey"), asc("doc_id"))
          .limit(K)
          .select(col("doc_id"),
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(desc("gkey"), asc("doc_id"))).as("rk"),
            Cols.fround(col("gkey"), 6).as("gumbel_key"))
          .orderBy("rk")
      },
      Some {
        // DuckDB's md5 hex digits → the same uniform: hex char value =
        // ascii − 48 − 39·[ascii ≥ 97] (digits vs a-f), horner-folded
        val hx = (i: Int) =>
          s"(ascii(substr(h, $i, 1)) - 48 - " +
            s"CASE WHEN ascii(substr(h, $i, 1)) >= 97 THEN 39 ELSE 0 END)"
        val v = (1 to 6).map(i => s"${hx(i)} * ${1L << ((6 - i) * 4)}")
          .mkString(" + ")
        "WITH " + importanceCtes + ", " +
          "hsh AS (SELECT doc_id, llr_sum_q, n_bg, " +
          "md5(CAST(doc_id AS VARCHAR)) AS h FROM agg), " +
          s"keyed AS (SELECT doc_id, (CAST($v AS DOUBLE) + 0.5) / " +
          "16777216.0 AS u, CAST(llr_sum_q AS DOUBLE) / " +
          "(CAST(n_bg AS DOUBLE) * 1e6) AS sc FROM hsh), " +
          "rk AS (SELECT doc_id, sc - LN(-LN(u)) AS gkey FROM keyed " +
          "ORDER BY gkey DESC, doc_id LIMIT 64) " +
          "SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY gkey DESC, " +
          "doc_id) AS INT) AS rk, " + Cols.froundSql("gkey", 6) +
          " AS gumbel_key FROM rk ORDER BY rk"
      }),

    "q_text_cms_freq" -> Q(
      (spark, dir) => {
        // Count-min-sketch token-frequency estimation — the third sketch
        // next to bloom (membership) and HLL (cardinality): "how often
        // does each of the incoming shard's tokens appear in the 100 TB
        // corpus?" without a corpus-wide groupBy or join. The sketch is
        // a d×w counter table built by ONE map-combined aggregation
        // (output ≤ d·w rows BY CONSTRUCTION — corpus size never touches
        // it), broadcast to the shard's bounded vocabulary, est =
        // min over d counters (Cormode-Muthukrishnan 2005). Counters are
        // sums → partition-order-free; the hash is the house md5-fold
        // device, so the WHOLE estimate — unusually for a sketch — is
        // SQL-expressible and full-oracle. est ≥ true always (one-sided
        // error, pinned against exact counts in SelectionSpec).
        val toks = Tables(spark, dir, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        val corpus = toks.filter(col("doc_id") % 10 =!= shardMod)
        val hashes = (0 until cmsD).map(i =>
          cmsBucketCol(col("token"), i).as(s"h$i"))
        val counters = corpus.select(hashes: _*)
          .select(expr(s"stack($cmsD, " +
            (0 until cmsD).map(i => s"$i, h$i").mkString(", ") +
            ") AS (i, b)"))
          .groupBy("i", "b").agg(count(lit(1)).as("c"))
        toks.filter(col("doc_id") % 10 === shardMod)
          .groupBy("token").agg(count(lit(1)).as("shard_cnt"))
          .select((col("token") +: col("shard_cnt") +: hashes): _*)
          .select(col("token"), col("shard_cnt"),
            expr(s"stack($cmsD, " +
              (0 until cmsD).map(i => s"$i, h$i").mkString(", ") +
              ") AS (i, b)"))
          .join(broadcast(counters), Seq("i", "b"), "left")
          .groupBy("token", "shard_cnt")
          .agg(min(coalesce(col("c"), lit(0L))).as("corpus_est"))
          .orderBy("token")
      },
      Some {
        val bucket = (i: Int) => cmsBucketSql("token", i)
        "WITH toks AS (SELECT doc_id, tok AS token FROM " +
          "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
          "FROM documents) WHERE tok <> ''), " +
          "hashed AS (SELECT doc_id, token, i, CASE " +
          (0 until cmsD).map(i =>
            s"WHEN i = $i THEN ${bucket(i)} ").mkString +
          "END AS b FROM toks CROSS JOIN " +
          s"(SELECT unnest(generate_series(0, ${cmsD - 1})) AS i)), " +
          s"counters AS (SELECT i, b, COUNT(*) AS c FROM hashed " +
          s"WHERE doc_id % 10 <> $shardMod GROUP BY i, b), " +
          "shard AS (SELECT token, COUNT(*) AS shard_cnt FROM toks " +
          s"WHERE doc_id % 10 = $shardMod GROUP BY token), " +
          "probes AS (SELECT s.token, s.shard_cnt, h.i, CASE " +
          (0 until cmsD).map(i =>
            s"WHEN h.i = $i THEN ${cmsBucketSql("s.token", i)} ")
            .mkString +
          "END AS b FROM shard s CROSS JOIN " +
          s"(SELECT unnest(generate_series(0, ${cmsD - 1})) AS i) h) " +
          "SELECT p.token, p.shard_cnt, " +
          "MIN(COALESCE(c.c, 0)) AS corpus_est " +
          "FROM probes p LEFT JOIN counters c ON p.i = c.i AND p.b = c.b " +
          "GROUP BY p.token, p.shard_cnt ORDER BY token"
      })
  )

  /** CMS geometry: d=4 independent md5-fold hash rows of width w=16^4 —
    * the counter table is d·w = 262 144 longs REGARDLESS of corpus size.
    * At 100 TB, w scales with corpus token count (est error ≤ N/w per
    * row); the build stays one aggregation and the table stays broadcast.
    */
  private val cmsD = 4

  /** Row-i bucket: the first 4 hex-digit VALUES of md5(token ⧺ "#i"),
    * horner-folded base-16 — uniform over [0, 65536), same device (and
    * same engine-agnosticism argument) as the DSIR bucket hash.
    */
  private def cmsBucketCol(c: Column, i: Int): Column = {
    val h = md5(concat(c, lit(s"#$i")).cast("binary"))
    (((hexdCol(substring(h, 1, 1)) * lit(16) +
      hexdCol(substring(h, 2, 1))) * lit(16) +
      hexdCol(substring(h, 3, 1))) * lit(16) +
      hexdCol(substring(h, 4, 1))).cast("long")
  }

  private def cmsBucketSql(e: String, i: Int): String = {
    val h = s"md5($e || '#$i')"
    val hx = (j: Int) => hexdSql(s"substr($h, $j, 1)")
    s"CAST(((${hx(1)} * 16 + ${hx(2)}) * 16 + ${hx(3)}) * 16 + ${hx(4)} " +
      "AS BIGINT)"
  }
}
