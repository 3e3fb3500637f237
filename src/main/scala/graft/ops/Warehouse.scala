package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

import graft.{Q, Tables}

/** Warehouse-shaped workloads: the classic TPC-H join/agg compositions
  * (shipping-priority and local-supplier-volume) and an SCD2 dimension
  * build from the event stream — the shapes a lakehouse team runs daily.
  *
  * Scale notes (100 TB bar):
  *   - q3/q5: every dimension (customer at 1.5M rows/TB-of-lineitem,
  *     supplier, nation, region) broadcasts; lineitem — the fact — is
  *     filtered AT THE SCAN (date pushdown) and never shuffles except for
  *     the final small-key aggregation. Revenue math is an exact BIGINT
  *     lift (cents × basis points) so partial-agg order can't drift it.
  *   - SCD2: one per-entity window pass (lag to detect changes, lead to
  *     close intervals) — the standard change-data-capture build, no
  *     self-join, nothing global.
  */
object Warehouse {
  /** Per-row l_extendedprice·(1−l_discount) in exact cent·percent units:
    * price cents × (100 − discount points), both integers — the signed
    * delta terms of the IVM view need the row term, not just its sum.
    */
  private def revCpRow = Cols.cents(col("l_extendedprice")) *
    (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))

  /** Σ [[revCpRow]] — exact, so partial-agg order can't drift it. */
  private def revenueCp = sum(revCpRow)
  private val revenueCpSql = "SUM(CAST(ROUND(l_extendedprice*100,0) AS " +
    "BIGINT) * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT)))"
  /** cent·percent → currency, one double division (identical shape). */
  private def asMoney(c: org.apache.spark.sql.Column) =
    Cols.fround(c.cast("double") / lit(10000.0), 4)

  /** The ONE broadcast-capacity probe (shared by [[cdcSide]],
    * [[deltaSide]], the MoR IVM step, and `Selection.probeDedupState`):
    * true iff `probeRows` has at most `cap` rows, decided by a
    * limit-capped count so an oversized probe early-exits instead of
    * materializing the frame. Centralized because a divergent
    * off-by-one here would silently split the broadcast/shuffle
    * cutover between delta consumers.
    */
  private[graft] def fitsBroadcast(
      probeRows: org.apache.spark.sql.DataFrame, cap: Long): Boolean = {
    val probe = math.min(cap + 1, Int.MaxValue).toInt
    probeRows.limit(probe).count() <= cap
  }

  /** The ONE byte-based broadcast cap (guide §3: size broadcasts in
    * bytes, not rows): how many rows of `schema` fit the broadcast
    * budget. The budget defaults to 64 MB of unserialized row data —
    * several × the 10 MB autoBroadcastJoinThreshold default, far under
    * the 8 GB / 512M-row hard cap, and small enough that the built hash
    * relation (2-4× raw) stays comfortable in a default driver and
    * executor. Row width comes from the schema's defaultSize, so
    * two-long rows keep the historical 1<<22-row cutover exactly
    * (64 MiB / 16 B = 4 194 304) and wider rows scale down
    * proportionally instead of inheriting a row-count convention sized
    * for 16-byte rows. `SPARK_GRAFT_BC_BUDGET_MB` overrides the budget
    * for cluster memory profiles. Negative `explicit` means "derive";
    * a non-negative caller value (spec parity pins force 0) wins.
    */
  private[graft] def broadcastRowCap(
      schema: org.apache.spark.sql.types.StructType,
      explicit: Long = -1L): Long =
    if (explicit >= 0L) explicit
    else math.max(1L,
      broadcastBudgetBytes(sys.env.get("SPARK_GRAFT_BC_BUDGET_MB")) /
        math.max(8L, schema.map(_.dataType.defaultSize).sum))

  /** The broadcast budget in bytes from `SPARK_GRAFT_BC_BUDGET_MB` (unset:
    * 64 MB). A value that is not a positive whole number of MB fails
    * loudly: 0 would silently demote every broadcast to a shuffle, and
    * garbage would silently fall back to the default.
    */
  private[graft] def broadcastBudgetBytes(mb: Option[String]): Long =
    mb.map { v =>
      val x = v.trim.toLongOption
        .filter(x => x > 0 && x <= (Long.MaxValue >> 20))
      require(x.isDefined, "SPARK_GRAFT_BC_BUDGET_MB must be a positive " +
        s"whole number of MB, got '$v'")
      x.get << 20
    }.getOrElse(64L << 20)

  /** Picks the join strategy for a changeset-derived side: broadcast
    * for the nominal daily delta, a forced shuffle join once the
    * collapsed changeset exceeds `cap` keys — the backfill/initial-load
    * case where the changeset is comparable to the base and a
    * broadcast build would not fit. Shared by [[applyCdc]] and
    * [[applyCdcFull]]; CdcLawSpec parity-pins the branches (cap forced
    * to 0) and gates the fallback broadcast-free.
    */
  private def cdcSide(changes: org.apache.spark.sql.DataFrame, cap: Long)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    // sized from the RAW changeset's distinct keys (== collapsed rows)
    // rather than the cached collapsed frame: probing the cache would
    // force-materialize it before the consumer plan is built, and the
    // printed plan then carries two generations of the window exchange
    // (breaking the one-key-exchange plan gate for a cosmetic reason)
    if (fitsBroadcast(changes.select("key").distinct(), cap)) broadcast
    else _.hint("shuffle_merge")

  /** [[cdcSide]]'s twin for FACT-DERIVED deltas (the IVM views): the
    * probe counts raw delta rows — an upper bound on its keys — on an
    * uncached limit-capped scan, so an oversized probe early-exits and
    * never materializes the delta. Broadcast for the nominal daily
    * delta; forced shuffle once the bound exceeds `cap` (the
    * backfill/late-cut case where the "delta" is corpus-proportional:
    * at 64× the distinct-IVM's pair set passes 6M rows, and a 6M-row
    * broadcast is a ~150 MB driver+executor build). IvmLawSpec
    * parity-pins the branches (cap forced to 0) and gates the fallback
    * broadcast-free.
    */
  private def deltaSide(probeRows: org.apache.spark.sql.DataFrame,
      cap: Long)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    if (fitsBroadcast(probeRows, cap)) broadcast
    else _.hint("shuffle_merge")

  /** Applies a keyed CDC changeset to a base table. `base`: (key, name,
    * bal_c); `changes`: raw op rows (key, tus, event_id, op ∈ {U, D},
    * new_bal_c). Collapses the changeset to one winning op per key
    * (last writer by (tus, event_id) — so replaying the feed applies
    * identically), then: survivors = base BROADCAST-ANTI all changed
    * keys; updates = base BROADCAST-INNER the U-rows (changed columns
    * from the changeset, others from base); inserts = U-rows whose key
    * is absent from base. The base never shuffles; the changeset's
    * per-key window is the one exchange. Returns
    * (key, name, bal_c, action).
    *
    * Semantics note (CdcLawSpec pins both): on the WRITTEN columns the
    * op stream is associative — applying day-1 then day-2 changesets
    * equals applying their union — and replay is idempotent. The
    * unwritten columns (name) follow partial-update semantics: an
    * update to a live key keeps the base's name, so a delete-then-
    * update sequence applied in separate batches re-inserts with the
    * default name while the collapsed form retains the original — the
    * standard upsert-vs-partial-update distinction, documented not
    * hidden.
    */
  private[graft] def applyCdc(base: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame,
      maxBroadcastKeys: Long = -1L)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("key")
      .orderBy(desc("tus"), desc("event_id"))
    // persisted: the collapsed changeset feeds three branches (survivor
    // anti, update join, insert anti) — cache it so the per-key window
    // exchange is paid ONCE, not once per branch
    val latest = Caches.register(changes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("key", "op", "new_bal_c")
      .persist())
    // cap sized (bytes, not rows) to the collapsed-changeset row — an
    // upper bound on every projection the side function wraps
    val side = cdcSide(changes,
      broadcastRowCap(latest.schema, maxBroadcastKeys))
    val survivors = base
      .join(side(latest.select("key")), Seq("key"), "left_anti")
      .select(col("key"), col("name"), col("bal_c"),
        lit("kept").as("action"))
    val ups = latest.filter(col("op") === "U")
    // persisted too: the inserted branch's broadcast build would
    // otherwise RE-EXECUTE this base join — a third full base scan
    val updated = Caches.register(base.join(side(ups), Seq("key"))
      .select(col("key"), col("name"),
        col("new_bal_c").as("bal_c"), lit("updated").as("action"))
      .persist())
    val inserted = ups
      .join(side(updated.select("key")), Seq("key"), "left_anti")
      .select(col("key"), lit("(new)").as("name"),
        col("new_bal_c").as("bal_c"), lit("inserted").as("action"))
    survivors.unionByName(updated).unionByName(inserted)
  }

  /** FULL-COLUMN upsert variant of [[applyCdc]] — closes that method's
    * documented partial-update caveat: the changeset carries EVERY
    * writable column (name AND bal_c), so a winning U-row fully
    * determines its output row and the delete-then-update-across-
    * batches asymmetry disappears. The sequencing law therefore holds
    * on ALL columns (CdcLawSpec pins it): split-batch application
    * equals the collapsed union, with only the action LABEL free to
    * differ (a day-1-deleted, day-2-updated key reads `inserted`
    * sequentially but `updated` collapsed — same output row).
    *
    * Same 100 TB shape as [[applyCdc]]: the base never shuffles (two
    * narrow broadcast-probed scans — survivor anti + live-key semi),
    * every broadcast build is changeset-bounded, and the changeset's
    * per-key window is the one exchange.
    */
  private[graft] def applyCdcFull(base: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame,
      maxBroadcastKeys: Long = -1L)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("key")
      .orderBy(desc("tus"), desc("event_id"))
    val latest = Caches.register(changes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("key", "op", "new_name", "new_bal_c")
      .persist())
    val side = cdcSide(changes,
      broadcastRowCap(latest.schema, maxBroadcastKeys))
    val survivors = base
      .join(side(latest.select("key")), Seq("key"), "left_anti")
      .select(col("key"), col("name"), col("bal_c"),
        lit("kept").as("action"))
    val ups = latest.filter(col("op") === "U")
      .select(col("key"), col("new_name").as("name"),
        col("new_bal_c").as("bal_c"))
    // live/dead only picks the action label: key membership probed by
    // streaming base through a semi join built from the (small) U-set,
    // the result again changeset-bounded → broadcastable
    val live = base.select("key")
      .join(side(ups.select("key")), Seq("key"), "left_semi")
      .withColumn("__live", lit(true))
    val upserted = ups.join(side(live), Seq("key"), "left")
      .select(col("key"), col("name"), col("bal_c"),
        when(col("__live"), "updated").otherwise("inserted")
          .as("action"))
    survivors.unionByName(upserted)
  }

  /** Open-interval sentinel for SCD2 rows: 9999-01-01T00:00Z in µs.
    * A literal (not MaxValue) so the DuckDB oracle can write the same
    * BIGINT and interval arithmetic never overflows.
    */
  private[graft] val Scd2OpenUs = 253402300800000000L

  /** SCD2 (type-2 history) variant of [[applyCdcFull]]: instead of
    * replacing rows, the merge CLOSES the current version of every
    * effectively-changed key (valid_to ← the winning op's commit time)
    * and OPENS a new version for updates — deletes close without
    * opening. Base rows are (key, name, bal_c, vf_us, vt_us) with open
    * versions at vt_us = [[Scd2OpenUs]]; history rows of changed keys
    * pass through labeled `history`.
    *
    * Replay/out-of-order guard: an op only applies when its commit time
    * is NEWER than the key's history BOUNDARY — the open version's
    * valid_from, or for a fully-closed (deleted) key its latest close
    * time — so replaying a batch is a strict no-op (everything `kept`),
    * a late stale batch cannot corrupt history, and a genuinely later
    * re-insert of a deleted key still applies. The monotone discipline
    * the rest of the CDC family pins via replay laws (Scd2 laws in
    * CdcLawSpec: current-projection ≡ [[applyCdcFull]], replay
    * idempotence, interval sanity).
    *
    * 100 TB shape (the family contract): the base never shuffles as a
    * whole — the untouched anti and close join are narrow scans against
    * changeset-bounded broadcast builds; the boundary probe semi-filters
    * the base to the CHANGED keys and partial-aggregates map-side, so
    * only changeset-bounded partials move. Two hash exchanges total:
    * the changeset's per-key window + the bounded boundary aggregate.
    */
  private[graft] def applyCdcScd2(base: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame,
      maxBroadcastKeys: Long = -1L,
      sideOpt: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("key")
      .orderBy(desc("tus"), desc("event_id"))
    val latest = Caches.register(changes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("key", "tus", "op", "new_name", "new_bal_c")
      .persist())
    // the capacity probe costs a distinct+limit job over the changeset —
    // a caller folding several day-splits passes ONE whole-changeset
    // decision (a superset bound: if the union's keys broadcast, each
    // split's do; if not, every split takes the scale-safe shuffle —
    // conservative in exactly the direction that matters) instead of
    // paying the probe per fold
    val side = sideOpt.getOrElse(cdcSide(changes,
      broadcastRowCap(latest.schema, maxBroadcastKeys)))
    // the changed keys' history boundary (open version → vf; closed
    // versions → vt, so a replayed DELETE is recognized): base STREAMS
    // through a broadcast semi probe and partial-aggregates map-side;
    // the (changeset-bounded) result broadcasts into the guard
    // NOT persisted: eff is bound's only consumer — its broadcast (or
    // shuffle) build runs this plan exactly once either way, and the
    // old persist only added a dead cache write
    val bound = base
      .join(side(latest.select("key")), Seq("key"), "left_semi")
      .groupBy("key")
      .agg(max(when(col("vt_us") === Scd2OpenUs, col("vf_us"))
        .otherwise(col("vt_us"))).as("boundary"))
    val eff = Caches.register(latest
      .join(side(bound), Seq("key"), "left")
      .filter(col("boundary").isNull || col("tus") > col("boundary"))
      .select("key", "tus", "op", "new_name", "new_bal_c")
      .persist())
    // the anti probe and the close join broadcast the SAME (key, tus)
    // projection: identical build subplans, so the second is a
    // ReusedExchange — one broadcast construction instead of two (the
    // extra tus column on the anti's build side is dead weight of a few
    // bytes per changed key, far cheaper than a second build job)
    val untouched = base
      .join(side(eff.select("key", "tus")), Seq("key"), "left_anti")
      .select(col("key"), col("name"), col("bal_c"), col("vf_us"),
        col("vt_us"), lit("kept").as("action"))
    val closed = base
      .join(side(eff.select("key", "tus")), Seq("key"))
      .select(col("key"), col("name"), col("bal_c"), col("vf_us"),
        when(col("vt_us") === Scd2OpenUs, col("tus"))
          .otherwise(col("vt_us")).as("vt_us"),
        when(col("vt_us") === Scd2OpenUs, lit("closed"))
          .otherwise(lit("history")).as("action"))
    val opened = eff.filter(col("op") === "U")
      .select(col("key"), col("new_name").as("name"),
        col("new_bal_c").as("bal_c"), col("tus").as("vf_us"),
        lit(Scd2OpenUs).as("vt_us"), lit("opened").as("action"))
    untouched.unionByName(closed).unionByName(opened)
  }

  /** One streaming fold step of [[applyCdcScd2]] over COMPACT state —
    * the long-running-stream shape: the full type-2 history grows
    * without bound, so rewriting it per micro-batch is O(history) per
    * batch; instead the fold carries only the open versions plus ONE
    * tombstone per fully-closed key (its latest closed version — the
    * row carrying the monotone guard's boundary), and each batch's
    * newly-closed versions stream to an APPEND-ONLY history log.
    * Correctness: intervals abut (an open version's vf equals the
    * previous close's vt), so the compact rows carry exactly the same
    * per-key boundary as the full history — the guard, and therefore
    * the fold, behaves identically (CdcLawSpec reconstruction law:
    * append-log ∪ final open rows ≡ the full-history fold).
    *
    * Returns (nextCompact, closedThisBatch): persist/write the first
    * as the next state version, append the second to the log. Both are
    * key-bounded / changeset-bounded — nothing history-sized moves.
    */
  private[graft] def applyCdcScd2Compact(
      compact: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame,
      maxBroadcastKeys: Long = -1L,
      sideOpt: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame] = None)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val out = Caches.register(
      applyCdcScd2(compact, changes, maxBroadcastKeys, sideOpt).persist())
    val cols = Seq("key", "name", "bal_c", "vf_us", "vt_us")
    val closedNow = out.filter(col("action") === "closed")
      .select(cols.head, cols.tail: _*)
    val open = out.filter(col("vt_us") === Scd2OpenUs)
      .select(cols.head, cols.tail: _*)
    // tombstone = the latest-closed version of each key with NO open
    // version (deleted keys): bounded by key cardinality, never by ops
    val wT = Window.partitionBy("key").orderBy(desc("vt_us"), desc("vf_us"))
    val tomb = out.filter(col("vt_us") =!= Scd2OpenUs)
      .join(open.select("key"), Seq("key"), "left_anti")
      .withColumn("rn", row_number().over(wT))
      .filter(col("rn") === 1)
      .select(cols.head, cols.tail: _*)
    (open.unionByName(tomb), closedNow)
  }

  /** The events-derived changeset feeding q_warehouse_merge_cdc (and
    * CdcLawSpec's split fixtures): user_id keys, every 11th key a
    * DELETE, every 7th-residue-3 key shifted out of the base domain so
    * it lands as an INSERT, props."k" the new balance.
    */
  private[graft] def cdcChanges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    cdcChangesFrom(Tables(spark, dir, "events"))

  /** Same derivation over ANY events-shaped frame — the streaming CLI's
    * `--logic cdc` feeds micro-batches through it.
    */
  private[graft] def cdcChangesFrom(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events.select(
      when(col("user_id") % 7 === 3, col("user_id") + 2000000L)
        .otherwise(col("user_id")).as("key"),
      Cols.epochUs(col("ts")).as("tus"), col("event_id"),
      when(col("user_id") % 11 === 0, "D").otherwise("U").as("op"),
      // NULLIF before the cast: on a props payload WITHOUT "k" (e.g. the
      // CLI's rate source) regexp_extract yields "" and an ANSI cast of
      // "" to BIGINT is a runtime error, not NULL — the oracle's
      // TRY_CAST(NULLIF(...)) twin has always guarded this; the Spark
      // side must too
      coalesce(nullif(regexp_extract(col("props"), "\"k\": (\\d+)", 1),
        lit("")).cast("long"), lit(0L)).as("new_bal_c"))

  /** Full-column changeset: [[cdcChangesFrom]] plus a per-op
    * replacement name — every writable column present, the
    * [[applyCdcFull]] contract.
    */
  private[graft] def cdcChangesFullFrom(
      events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cdcChangesFrom(events)
      .withColumn("new_name", concat(lit("ev"), col("event_id")))

  private[graft] def cdcBase(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(spark, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        Cols.cents(col("c_acctbal")).as("bal_c"))

  /** Signed-delta INCREMENTAL maintenance of a JOIN view (the DBSP /
    * differential-dataflow algebra, batch-shaped): the materialized view
    * V = γ_custkey(orders ⋈ lineitem) was built over yesterday's data
    * (orders before `cutLit`, lineitem shipped before it — materialized
    * to parquet as MV0); today's feed brings order ARRIVALS (o_orderdate
    * ≥ cut), order RETRACTIONS (every `retractMod`-th old order is
    * cancelled — the signed case plain insert-only IVM can't express),
    * and lineitem arrivals (l_shipdate ≥ cut). The bilinearity of ⋈
    * gives the exact update
    *
    *   (A + ΔA) ⋈ (B + ΔB)  =  A⋈B  +  ΔA ⋈ (B + ΔB)  +  A ⋈ ΔB
    *
    * with ΔA carrying weight ±1 — so the maintained view is MV0 plus two
    * delta terms, each joining a DELTA-BOUNDED broadcast side against
    * ONE narrow base scan, merged by a single mergeable re-aggregation.
    * A group whose weight reaches zero (fully-cancelled customer) leaves
    * the view. At 100 TB this is the difference between touching the
    * day's deltas and re-joining seven years of facts; the oracle
    * recomputes the view from scratch, so the hash match proves
    * incremental ≡ recompute (IvmLawSpec re-pins it at shifted cuts, and
    * the production refinement — maintaining a co-partitioned join
    * INDEX so ΔA⋈B is a lookup rather than a base scan — changes the
    * constant, not the algebra).
    *
    * Plan contract (PlanSpec): the fact scans never shuffle — both delta
    * joins are BroadcastHashJoins built from the deltas; the ONE hash
    * exchange is the final custkey aggregation, map-side-combined over
    * the three-branch union.
    */
  /** Filename-safe verbatim parameter tag: identity for persisted
    * per-JVM state must be the PARAMETERS, not a 32-bit hashCode — a
    * colliding tuple would silently read another build's state.
    */
  private def tagOf(parts: Any*): String =
    parts.map(_.toString.replaceAll("[^a-zA-Z0-9.-]", "_"))
      .mkString("_")

  private[graft] def ivmJoinView(spark: org.apache.spark.sql.SparkSession,
      dir: String, cutLit: String = "1998-01-01", retractMod: Long = 13L,
      maxBroadcastKeys: Long = -1L)
      : org.apache.spark.sql.DataFrame = {
    val cut = Cols.ts(cutLit)
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), revCpRow.as("rev_cp"))
    val oldOrd = ord.filter(col("o_orderdate") < cut)
    // "yesterday's" materialized view — the standing table a nightly
    // job maintains, built once per JVM × params (the tag carries every
    // parameter, so shifted-cut law runs build their own state)
    val mv0 = Caches.readStanding(tagOf("ivm_mv0", dir, cutLit, retractMod),
      dir,
      oldOrd.join(li.filter(col("l_shipdate") < cut).drop("l_shipdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_lines"), sum("rev_cp").as("rev_cp")))
    // ΔA: today's orders at +1, cancelled old orders at −1
    val dOrd = ord.filter(col("o_orderdate") >= cut)
      .withColumn("w", lit(1L))
      .unionByName(oldOrd.filter(col("o_orderkey") % retractMod === 0)
        .withColumn("w", lit(-1L)))
      .select("o_orderkey", "o_custkey", "w")
    val dLi = li.filter(col("l_shipdate") >= cut).drop("l_shipdate")
    // both delta builds pick broadcast-vs-shuffle adaptively: a late
    // cut (backfill) makes the "daily" delta corpus-proportional, and
    // the correct plan is then a shuffle join, not a giant broadcast.
    // The probes count the SAME frames the joins build from (uncached),
    // so the sizing decision can't drift from the real delta
    val ordSide = deltaSide(dOrd,
      broadcastRowCap(dOrd.schema, maxBroadcastKeys))
    val liSide = deltaSide(dLi,
      broadcastRowCap(dLi.schema, maxBroadcastKeys))
    ivmJoinApply(mv0, oldOrd, li.drop("l_shipdate"), dOrd, dLi, ordSide,
        liSide)
      .select(col("o_custkey"), col("n_lines"),
        asMoney(col("rev_cp")).as("revenue"))
      .orderBy("o_custkey")
  }

  /** One signed-delta maintenance step of the join view (the shared
    * kernel of [[ivmJoinView]] and [[ivmJoinFold]]):
    *
    *   MV' = MV + ΔA ⋈ (B + ΔB) + A ⋈ ΔB
    *
    * `mv`: (o_custkey, n_lines, rev_cp); `aPrev`: the A relation BEFORE
    * this batch (o_orderkey, o_custkey); `bAfter`: B + ΔB, i.e. the B
    * relation AFTER this batch (l_orderkey, rev_cp); `dA`: signed order
    * delta carrying `w` ∈ {−1, +1}; `dB`: lineitem arrivals. `sideA`/
    * `sideB` pick the delta build strategy (broadcast vs shuffle).
    */
  private def ivmJoinApply(mv: org.apache.spark.sql.DataFrame,
      aPrev: org.apache.spark.sql.DataFrame,
      bAfter: org.apache.spark.sql.DataFrame,
      dA: org.apache.spark.sql.DataFrame,
      dB: org.apache.spark.sql.DataFrame,
      sideA: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      sideB: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // ΔA ⋈ (B + ΔB): the fact scan probed by the signed order delta —
    // rows contribute w to the count and w·rev to the revenue
    val term1 = bAfter
      .join(sideA(dA), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("w").as("n_lines"),
        (col("w") * col("rev_cp")).as("rev_cp"))
    // A ⋈ ΔB: the pre-batch orders probed by the lineitem delta — A is
    // the set BEFORE this batch's retractions (they are already
    // retracted by term1's −ΔA ⋈ ΔB part; excluding them here would
    // double-count)
    val term2 = aPrev
      .join(sideB(dB), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), lit(1L).as("n_lines"), col("rev_cp"))
    mv.unionByName(term1).unionByName(term2)
      .groupBy("o_custkey")
      .agg(sum("n_lines").as("n_lines"), sum("rev_cp").as("rev_cp"))
      .filter(col("n_lines") > 0)
  }

  /** ITERATIVE maintenance — the production nightly loop: MV0 folds
    * through TWO successive delta batches (window [cut0, cut1), then
    * [cut1, ∞); retractions land in batch 1), each step one
    * [[ivmJoinApply]]. The intermediate MV round-trips through a
    * scratch parquet between folds (Caches.parquetHandoff — the
    * fold-lineage discipline, drain-immune): without the cut, fold 2's
    * plan nests fold 1's whole tree and driver planning dominates. The declared query's oracle recomputes
    * the FINAL state from scratch, so the hash match proves the view
    * is maintainable iteratively, not just one-shot; IvmLawSpec pins
    * fold ≡ one-shot recompute at shifted splits.
    */
  private[graft] def ivmJoinFold(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cut0Lit: String = "1997-07-01", cut1Lit: String = "1998-01-01",
      retractMod: Long = 13L, maxBroadcastKeys: Long = -1L)
      : org.apache.spark.sql.DataFrame = {
    val c0 = Cols.ts(cut0Lit)
    val c1 = Cols.ts(cut1Lit)
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), revCpRow.as("rev_cp"))
    val a0 = ord.filter(col("o_orderdate") < c0)
    val mv0 = Caches.readStanding(tagOf("ivm_fold_mv0", dir, cut0Lit,
        retractMod), dir,
      a0.join(li.filter(col("l_shipdate") < c0).drop("l_shipdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_lines"), sum("rev_cp").as("rev_cp")))
    val retracted = col("o_orderkey") % retractMod === 0
    // ONE capacity probe per relation over the whole fold window (the
    // scd2 discipline): both batches' deltas are slices of these
    // supersets, so if the union fits broadcast each slice does, and an
    // oversized backfill sends every slice down the scale-safe shuffle
    // — two probe scans instead of four
    val sideA = deltaSide(ord.filter(col("o_orderdate") >= c0)
      .unionByName(a0.filter(retracted)),
      broadcastRowCap(ord.schema, maxBroadcastKeys))
    val sideB = deltaSide(li.filter(col("l_shipdate") >= c0),
      broadcastRowCap(li.schema, maxBroadcastKeys))
    // batch 1: arrivals in [cut0, cut1) at +1, old cancellations at −1
    val dA1 = ord.filter(col("o_orderdate") >= c0 &&
        col("o_orderdate") < c1).withColumn("w", lit(1L))
      .unionByName(a0.filter(retracted).withColumn("w", lit(-1L)))
      .select("o_orderkey", "o_custkey", "w")
    val dB1 = li.filter(col("l_shipdate") >= c0 &&
      col("l_shipdate") < c1).drop("l_shipdate")
    val mv1 = ivmJoinApply(mv0,
      a0, li.filter(col("l_shipdate") < c1).drop("l_shipdate"),
      dA1, dB1, sideA, sideB)
    // drain-immune fold-lineage cut (see Caches.parquetHandoff)
    val mv1ck = Caches.parquetHandoff(mv1, "ivm_fold_mv1")
    // batch 2 applies onto A₁ = A₀ ∖ retracted ∪ batch-1 arrivals
    val a1 = a0.filter(!retracted)
      .unionByName(ord.filter(col("o_orderdate") >= c0 &&
        col("o_orderdate") < c1))
      .select("o_orderkey", "o_custkey")
    val dA2 = ord.filter(col("o_orderdate") >= c1)
      .withColumn("w", lit(1L))
      .select("o_orderkey", "o_custkey", "w")
    val dB2 = li.filter(col("l_shipdate") >= c1).drop("l_shipdate")
    ivmJoinApply(mv1ck, a1, li.drop("l_shipdate"), dA2, dB2,
        sideA, sideB)
      .select(col("o_custkey"), col("n_lines"),
        asMoney(col("rev_cp")).as("revenue"))
      .orderBy("o_custkey")
  }

  /** From-scratch recompute of [[ivmJoinView]]'s final state — the law
    * twin IvmLawSpec compares against at shifted cuts and retract
    * moduli (the declared query's oracle is the same recompute in
    * DuckDB at the default parameters).
    */
  private[graft] def ivmJoinRecompute(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cutLit: String = "1998-01-01", retractMod: Long = 13L)
      : org.apache.spark.sql.DataFrame = {
    val cut = Cols.ts(cutLit)
    Tables(spark, dir, "orders")
      .filter(!(col("o_orderdate") < cut &&
        col("o_orderkey") % retractMod === 0))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), revCpRow.as("rev_cp")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_lines"), sum("rev_cp").as("rev_cp"))
      .select(col("o_custkey"), col("n_lines"),
        asMoney(col("rev_cp")).as("revenue"))
      .orderBy("o_custkey")
  }

  /** IVM for a NON-INVERTIBLE aggregate (MAX): a retraction can remove
    * the current maximum, and no signed fold can recover the runner-up
    * from the aggregate alone — the case [[ivmJoinView]]'s ±1 algebra
    * cannot express. The production answer (Materialize's MIN/MAX
    * reduction, Delta MVs alike) is GROUP-SCOPED RECOMPUTE: groups
    * untouched by the delta pass through from the materialized view
    * unread; only the delta's own key set — arrivals ∪ retractions,
    * delta-bounded — recomputes, from a base scan semi-filtered by
    * those keys. At 100 TB the recompute term reads one narrow
    * broadcast-probed pass of the fact, not seven years of history per
    * group, and the MV supplies every other group byte-for-byte
    * (IvmLawSpec pins that untouched rows ARE the MV0 rows).
    *
    * Plan contract (PlanSpec): no SortMergeJoin; the MV anti probe and
    * the base semi probe both build from the delta key set; the ONE
    * hash exchange is the touched-group re-aggregation.
    */
  private[graft] def ivmMinmaxView(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cutLit: String = "1998-01-01", retractMod: Long = 13L,
      maxBroadcastKeys: Long = -1L)
      : org.apache.spark.sql.DataFrame = {
    val cut = Cols.ts(cutLit)
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        Cols.cents(col("o_totalprice")).as("price_c"))
    val oldOrd = ord.filter(col("o_orderdate") < cut)
    val retracted = col("o_orderkey") % retractMod === 0
    val mv0 = Caches.readStanding(tagOf("ivm_mm0", dir, cutLit, retractMod),
      dir,
      oldOrd.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), max("price_c").as("max_price_c")))
    // the touched key set: every group an arrival or retraction lands
    // in — the delta-bounded build side of both probes. Persisted:
    // it feeds the anti probe plus the semi probe Catalyst pushes
    // through the recompute union (one per branch), so without the
    // cache the distinct would recompute three times
    def touchedPlan = ord.filter(col("o_orderdate") >= cut)
      .unionByName(oldOrd.filter(retracted))
      .select("o_custkey").distinct()
    val touched = Caches.register(touchedPlan.persist())
    // counted fallback like every sibling IVM path: a backfill/early
    // cut makes `touched` corpus-proportional and an unconditional
    // broadcast OOMs. Sized on a SEPARATE uncached twin — counting
    // the registered cache would materialize a second generation of
    // the cached exchange into the consumer plan (the r17 cdcSide
    // plan-gate lesson).
    val side = deltaSide(touchedPlan,
      broadcastRowCap(touchedPlan.schema, maxBroadcastKeys))
    val untouched = mv0
      .join(side(touched), Seq("o_custkey"), "left_anti")
    // group-scoped recompute over the FINAL state of the touched keys:
    // (A ∖ ΔA⁻ ∪ ΔA⁺) ⋉ touched — one semi-probed narrow fact pass
    val recomputed = oldOrd.filter(!retracted)
      .unionByName(ord.filter(col("o_orderdate") >= cut))
      .join(side(touched), Seq("o_custkey"), "left_semi")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), max("price_c").as("max_price_c"))
    untouched.unionByName(recomputed)
      .select(col("o_custkey"), col("n_orders"), col("max_price_c"))
      .orderBy("o_custkey")
  }

  /** From-scratch recompute twin of [[ivmMinmaxView]] (IvmLawSpec). */
  private[graft] def ivmMinmaxRecompute(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cutLit: String = "1998-01-01", retractMod: Long = 13L)
      : org.apache.spark.sql.DataFrame = {
    val cut = Cols.ts(cutLit)
    Tables(spark, dir, "orders")
      .filter(!(col("o_orderdate") < cut &&
        col("o_orderkey") % retractMod === 0))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        max(Cols.cents(col("o_totalprice"))).as("max_price_c"))
      .orderBy("o_custkey")
  }

  /** IVM for exact COUNT(DISTINCT) — the AUXILIARY-STATE class, distinct
    * from both [[ivmJoinView]] (fully invertible, the aggregate alone is
    * enough) and [[ivmMinmaxView]] (non-invertible, groups recompute):
    * COUNT(DISTINCT) is not invertible at the view's grain, but it IS
    * exactly maintainable with one level of auxiliary state — the
    * SUPPORT TABLE holding each (group, value) pair's multiplicity. A
    * value enters the distinct count when its support crosses 0→1 and
    * leaves on 1→0; a 2→1 retraction changes nothing. This is the
    * standard production design (Materialize's reduce stack, DBSP's
    * distinct operator) because the alternative — re-scanning every
    * touched group's full history like the MAX fallback — pays
    * O(group size), while the support probe pays O(|delta|).
    *
    * The view: distinct parts supplied per supplier over live lineitem
    * (arrivals ship ≥ cut; every `retractMod`-th old order cancels its
    * old lines). The support table aux0 = per-(suppkey, partkey)
    * multiplicity over yesterday's rows; MV0 = yesterday's per-supplier
    * distinct counts. Today's job aggregates the signed delta to pair
    * grain, probes aux0 for the touched pairs' old support (broadcast
    * semi — the support table, the BIG side at 100 TB, never shuffles
    * as a whole; only the delta-bounded touched slice enters the merge
    * exchange), converts support crossings to ±1 presence deltas, and
    * merges them into MV0 with one mergeable re-aggregation. The oracle
    * recomputes COUNT(DISTINCT) from scratch over the final state.
    *
    * Plan contract (PlanSpec): no SortMergeJoin; the one join against
    * the support table is a broadcast semi built from the delta pairs;
    * every hash exchange is delta- or MV-bounded (never the fact).
    */
  private[graft] def ivmDistinctView(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cutLit: String = "1998-01-01", retractMod: Long = 13L,
      maxBroadcastKeys: Long = -1L)
      : org.apache.spark.sql.DataFrame = {
    val cut = Cols.ts(cutLit)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
        col("l_shipdate"))
    val oldLi = li.filter(col("l_shipdate") < cut)
    val tag = tagOf(dir, cutLit, retractMod)
    // yesterday's auxiliary support state + the view it supports — the
    // standing tables a nightly job maintains, built once per JVM ×
    // params (same memo discipline as ivmJoinView's MV0); the view is
    // built from the support table
    val aux0 = Caches.readStanding("ivm_dc_aux_" + tag, dir,
      oldLi.groupBy("l_suppkey", "l_partkey").agg(count(lit(1)).as("cnt")))
    val mv0 = Caches.readStanding("ivm_dc_mv_" + tag, dir,
      aux0.groupBy("l_suppkey").agg(count(lit(1)).as("n_parts")))
    // signed delta folded to PAIR grain: arrivals at +1, the cancelled
    // orders' old lines at −1; a pair whose weights cancel is untouched
    // persisted: dPairs feeds BOTH the broadcast semi build and the
    // union's delta branch — without the cache the signed fold (two
    // fact-filter scans + an exchange) would compute twice
    val dPairs = Caches.register(
      li.filter(col("l_shipdate") >= cut).withColumn("w", lit(1L))
        .unionByName(oldLi.filter(col("l_orderkey") % retractMod === 0)
          .withColumn("w", lit(-1L)))
        .groupBy("l_suppkey", "l_partkey").agg(sum("w").as("dw"))
        .filter(col("dw") =!= 0)
        .persist())
    // old support for exactly the touched pairs: the support scan is
    // semi-probed by the delta (pairs absent from aux0 — brand-new
    // (supp, part) combinations — simply contribute no oldCnt row, so
    // their support starts at 0 in the merge below). Probe side picked
    // adaptively off the COLLAPSED cached delta's exact pair count —
    // the broadcast build is exactly those pairs, and the query
    // materializes dPairs regardless (it feeds the union branch and
    // the semi build), so the count is a cache scan, not a new pass;
    // the old raw-rows probe re-scanned the fact lineage (two filter
    // scans + the union) for a looser bound
    val side: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
      if (dPairs.count() <=
          broadcastRowCap(dPairs.schema, maxBroadcastKeys)) broadcast
      else _.hint("shuffle_merge")
    val auxTouched = aux0
      .join(side(dPairs.select("l_suppkey", "l_partkey")),
        Seq("l_suppkey", "l_partkey"), "left_semi")
      .select(col("l_suppkey"), col("l_partkey"),
        col("cnt").as("oldCnt"), lit(0L).as("dw"))
    // support crossing → presence delta: [old+dw > 0] − [old > 0]
    val present = (c: org.apache.spark.sql.Column) =>
      when(c > 0, 1L).otherwise(0L)
    val pairDn = auxTouched
      .unionByName(dPairs.select(col("l_suppkey"), col("l_partkey"),
        lit(0L).as("oldCnt"), col("dw")))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum("oldCnt").as("oldCnt"), sum("dw").as("dw"))
      .select(col("l_suppkey"),
        (present(col("oldCnt") + col("dw")) - present(col("oldCnt")))
          .as("n_parts"))
      .filter(col("n_parts") =!= 0)
    // the per-pair ±1 presence deltas fold DIRECTLY into the MV merge —
    // they are delta-bounded, so a pre-aggregation would only add an
    // exchange
    mv0.unionByName(pairDn)
      .groupBy("l_suppkey").agg(sum("n_parts").as("n_parts"))
      .filter(col("n_parts") > 0)
      .orderBy("l_suppkey")
  }

  /** Bucket fanout of the partitioned support table: the state is
    * hash-clustered on its GROUP key so maintenance can address a
    * bucket subset. 16 here (the fixtures' support tables are tens of
    * MB); a 100 TB deployment sizes this so one bucket ≈ one
    * rewrite-sized file group (thousands).
    */
  private[graft] val SupportBuckets = 16

  private[graft] def supportBucket(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = pmod(hash(c), lit(SupportBuckets))

  /** A merge-on-read SUPPORT STATE: an immutable BASE table
    * hash-partitioned by `b = pmod(hash(l_suppkey), SupportBuckets)`
    * plus an ordered list of signed sidecar DELTAS (l_suppkey,
    * l_partkey, dw). The resolved table is base ⊎ deltas summed at
    * pair grain, cnt > 0 ([[resolveSupport]]).
    */
  private[graft] final case class SupportState(
      base: String, sidecars: Seq[String], schema: SupportSchema)

  /** The written schemas of a support state whose pair keys (l_suppkey,
    * l_partkey) carry the types of `keys`: the base (keys, cnt, b), a
    * sidecar (keys, dw) and the view it supports (l_suppkey, n_parts).
    * Every read of the state passes one of them, so no read infers a
    * schema from a parquet footer.
    */
  private[graft] final case class SupportSchema(keys: StructType) {
    val base: StructType = keys.add("cnt", LongType).add("b", IntegerType)
    val sidecar: StructType = keys.add("dw", LongType)
    val view: StructType =
      StructType(Seq(keys("l_suppkey"), StructField("n_parts", LongType)))
  }

  private[graft] object SupportSchema {
    /** The support schema keyed like the pair columns of `pairs`. */
    def of(pairs: org.apache.spark.sql.DataFrame): SupportSchema =
      SupportSchema(StructType(
        Seq(pairs.schema("l_suppkey"), pairs.schema("l_partkey"))))
  }

  /** The support state resolved to its logical (l_suppkey, l_partkey,
    * cnt) table — what a from-scratch support recompute must equal
    * (IvmLawSpec) and what [[compactSupport]] folds back into one
    * base generation. Signed sidecars make resolution ORDER-FREE: a
    * single mergeable sum, no last-writer sequencing.
    */
  private[graft] def resolveSupport(
      spark: org.apache.spark.sql.SparkSession, schema: SupportSchema,
      base: String, sidecars: Seq[String]): org.apache.spark.sql.DataFrame =
    sidecars.map(p => spark.read.schema(schema.sidecar).parquet(p)
        .select(col("l_suppkey"), col("l_partkey"), col("dw").as("w")))
      .foldLeft(spark.read.schema(schema.base).parquet(base)
        .select(col("l_suppkey"), col("l_partkey"), col("cnt").as("w")))(
        _ unionByName _)
      .groupBy("l_suppkey", "l_partkey").agg(sum("w").as("cnt"))
      .filter(col("cnt") > 0)

  /** One O(delta) maintenance step of the support-count state AND its
    * view (the fold kernel of [[ivmDistinctFold]]): the state write is
    * the signed pair delta ITSELF, appended as a merge-on-read sidecar
    * — delta-bounded bytes, never a table rewrite. (The first-cut step
    * rewrote the FULL support table per batch: anti ∪ merged →
    * overwrite. Correct, but O(state) per delta — at 100 TB the
    * support table is corpus-scale and a daily batch must not pay a
    * corpus-scale write. The rewrite now lives ONLY in
    * [[compactSupport]], the amortized maintenance job, and even there
    * touches only the buckets the sidecars name.)
    *
    * The view half still needs each touched pair's OLD resolved count
    * (for the 0↔1 presence crossings): the bucketed base is
    * partition-PRUNED to the delta's bucket set and semi-probed by the
    * delta pairs (broadcast for a daily delta, counted shuffle
    * fallback for a backfill via [[deltaSide]]); prior sidecars —
    * delta-sized each — probe the same way. The base never shuffles
    * and is never written. Returns the next view; the caller threads
    * `sidecarOut` into its state's sidecar list.
    */
  private[graft] def ivmDistinctStepMor(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String, priorSidecars: Seq[String],
      mvPrev: org.apache.spark.sql.DataFrame,
      dRows: org.apache.spark.sql.DataFrame, sidecarOut: String,
      cap: Long): org.apache.spark.sql.DataFrame = {
    val schema = SupportSchema.of(dRows)
    val dPairs = Caches.register(dRows
      .groupBy("l_suppkey", "l_partkey").agg(sum("w").as("dw"))
      .filter(col("dw") =!= 0).persist())
    // THE state write: the collapsed signed delta itself — O(|delta|).
    // Both driver-side questions (exact pair count for the broadcast
    // decision; the touched-bucket set for base pruning) ride the
    // write job itself as observed metrics — SupportBuckets conditional
    // sums, no separate collect job over the cache (which an earlier
    // round had already fused down from two jobs to one).
    val obs = org.apache.spark.sql.Observation()
    dPairs.observe(obs, count(lit(1)).as("n"),
        (0 until SupportBuckets).map(i =>
          sum(when(supportBucket(col("l_suppkey")) === i, 1L)
            .otherwise(0L)).as(s"b$i")): _*)
      .write.mode("overwrite").parquet(sidecarOut)
    val metrics = obs.get
    val nPairs = metrics("n").asInstanceOf[Long]
    val bucketN = (0 until SupportBuckets).map(i =>
      i -> Option(metrics(s"b$i")).fold(0L)(_.asInstanceOf[Long]))
    val isBroadcast = nPairs <= broadcastRowCap(
      dPairs.select("l_suppkey", "l_partkey").schema, cap)
    val side: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
      if (isBroadcast) broadcast else _.hint("shuffle_merge")
    val keys = dPairs.select("l_suppkey", "l_partkey")
    // bucket set of the delta's groups (from the same observed metrics
    // as the capacity probe above): ≤ SupportBuckets values; pruning
    // the base scan to these partitions is what makes a key-local
    // delta's probe sublinear in the state
    val touchedBuckets = bucketN.filter(_._2 > 0).map(_._1)
    val basePruned = spark.read.schema(schema.base).parquet(basePath)
      .filter(col("b").isin(touchedBuckets: _*))
    val pairKey = xxhash64(col("l_suppkey"), col("l_partkey"))
    // degenerate-delta fallback: before the sort-merge semi exchanges
    // the base, a Bloom over the delta's pair keys prefilters base
    // rows in a narrow codegen'd map (the Pq.pendingArrivals /
    // probeDedupState shape) — only maybe-touched rows enter the
    // exchange; no false negatives, the exact semi still decides.
    // SIZED to the delta's measured pair count (the cached frame is
    // already materialized by the sidecar write): a fixed-size filter
    // saturates on exactly the backfill deltas this branch exists for
    val baseIn =
      if (isBroadcast) basePruned
      else {
        // above ~16M pairs the filter blob would exceed the ~32 MB a
        // task literal should carry — and a delta that large relative
        // to the base prunes little anyway; fall through to the bare
        // exchange
        if (nPairs > (1L << 24)) basePruned
        else {
          val (expected, numBits) = graft.llm.Selection.sizedToCorpus(
            nPairs, 1L << 23, bitsPerKey = 16L)
          basePruned.filter(graft.llm.Selection.bloomMightContain(
            graft.llm.Selection.bloomBuild(dPairs, pairKey,
              expected, numBits), pairKey))
        }
      }
    val baseTouched = baseIn
      .join(side(keys), Seq("l_suppkey", "l_partkey"), "left_semi")
      .select(col("l_suppkey"), col("l_partkey"), col("cnt").as("w"))
    val priorTouched = priorSidecars.map(p =>
      spark.read.schema(schema.sidecar).parquet(p)
        .join(side(keys), Seq("l_suppkey", "l_partkey"), "left_semi")
        .select(col("l_suppkey"), col("l_partkey"), col("dw").as("w")))
    val present = (c: org.apache.spark.sql.Column) =>
      when(c > 0, 1L).otherwise(0L)
    val pairDn = priorTouched.foldLeft(baseTouched)(_ unionByName _)
      .select(col("l_suppkey"), col("l_partkey"), col("w").as("oldCnt"),
        lit(0L).as("dw"))
      .unionByName(dPairs.select(col("l_suppkey"), col("l_partkey"),
        lit(0L).as("oldCnt"), col("dw")))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum("oldCnt").as("oldCnt"), sum("dw").as("dw"))
      .select(col("l_suppkey"),
        (present(col("oldCnt") + col("dw")) - present(col("oldCnt")))
          .as("n_parts"))
      .filter(col("n_parts") =!= 0)
    mvPrev.unionByName(pairDn)
      .groupBy("l_suppkey").agg(sum("n_parts").as("n_parts"))
      .filter(col("n_parts") > 0)
  }

  /** COMPACTS a support state: folds the sidecar deltas into the
    * bucketed base as a NEW generation, rewriting ONLY the buckets the
    * sidecars touch. Untouched buckets carry over as hard links to the
    * previous generation's files — zero data bytes read, copied, or
    * rewritten (the local-filesystem analog of Iceberg/Delta manifest
    * reuse, where the new snapshot's manifest points at the old
    * objects; IvmLawSpec gates the carried files byte-identical via
    * inode equality). The previous generation stays valid — in-flight
    * readers keep their snapshot; the caller's scratch discipline reaps
    * it. Returns the new base path (the old one verbatim when there is
    * nothing to fold).
    */
  private[graft] def compactSupport(
      spark: org.apache.spark.sql.SparkSession, schema: SupportSchema,
      basePath: String, sidecars: Seq[String], outPath: String): String = {
    if (sidecars.isEmpty) return basePath
    val deltas = sidecars.map(p =>
        spark.read.schema(schema.sidecar).parquet(p)
          .select(col("l_suppkey"), col("l_partkey"), col("dw")))
      .reduce(_ unionByName _)
    val touched = deltas.select(supportBucket(col("l_suppkey")).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    // merged content of the touched buckets only — the base scan is
    // partition-pruned to them
    spark.read.schema(schema.base).parquet(basePath)
      .filter(col("b").isin(touched.toSeq: _*))
      .select(col("l_suppkey"), col("l_partkey"), col("cnt").as("w"))
      .unionByName(deltas.select(col("l_suppkey"), col("l_partkey"),
        col("dw").as("w")))
      .groupBy("l_suppkey", "l_partkey").agg(sum("w").as("cnt"))
      .filter(col("cnt") > 0)
      .withColumn("b", supportBucket(col("l_suppkey")))
      .write.partitionBy("b").mode("overwrite").parquet(outPath)
    // untouched buckets: link the previous generation's files into the
    // new one (copy only if the filesystem refuses the link)
    val src = java.nio.file.Paths.get(basePath)
    val it = java.nio.file.Files.list(src)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .filter(d => java.nio.file.Files.isDirectory(d) && {
          val n = d.getFileName.toString
          n.startsWith("b=") && !touched.contains(n.drop(2).toInt)
        })
        .foreach { d =>
          val dst = java.nio.file.Paths.get(outPath,
            d.getFileName.toString)
          java.nio.file.Files.createDirectories(dst)
          val fs = java.nio.file.Files.list(d)
          try fs.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .foreach { f =>
              val t = dst.resolve(f.getFileName)
              try java.nio.file.Files.createLink(t, f)
              catch {
                case _: UnsupportedOperationException |
                    _: java.nio.file.FileSystemException =>
                  java.nio.file.Files.copy(f, t,
                    java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              }
            }
          finally fs.close()
        }
    } finally it.close()
    outPath
  }

  /** An events micro-batch reduced to the IVM pair-delta grain:
    * "distinct event types per user", insert-only (+1 weights), the
    * type hashed to the support table's long value column. Shared by
    * the streaming CLI (`--logic ivm_distinct`) and the batch twin the
    * parity spec compares against.
    */
  private[graft] def eventPairDelta(batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    batch.select(col("user_id").as("l_suppkey"),
      xxhash64(col("event_type")).as("l_partkey"), lit(1L).as("w"))

  /** Micro-batch driver for the STREAMING count-distinct IVM: owns a
    * merge-on-read support state under `supportRoot` (bucketed base +
    * per-batch sidecars, resolved via [[resolveSupport]]) and the
    * running view, and advances both one micro-batch at a time through
    * [[ivmDistinctStepMor]] — per-batch state cost O(delta). Every
    * `compactEvery` batches the sidecars fold into a new base
    * generation ([[compactSupport]] — only touched buckets rewrite),
    * published by an atomic BASE_MANIFEST swap with a one-generation
    * grace, exactly the Selection/Pq pointer discipline. A constructor
    * on an EXISTING root resumes: the manifest names the live base and
    * the surviving sidecars enumerate in batch order. StreamingSpec
    * pins micro-batched maintenance ≡ batch recompute across
    * compactions; the CLI adds the commit-log CAS per published view
    * version on top.
    */
  private[graft] final class IvmDistinctStream(
      spark: org.apache.spark.sql.SparkSession, supportRoot: String,
      seed: org.apache.spark.sql.DataFrame,
      cap: Long = -1L, compactEvery: Int = 3,
      runTag: String = "", readOnly: Boolean = false) {
    private val rootP = java.nio.file.Paths.get(supportRoot)
    // the seed's pair columns type the state: a resume passes a seed
    // (zero rows will do) for the schema every read of the root carries
    private val schema = SupportSchema.of(seed)
    private val mfP = rootP.resolve("BASE_MANIFEST")
    // sidecar names carry the batch number (their ordering and
    // absorption watermark) plus an optional RUN-UNIQUE tag: two runs
    // racing one durable root must never share a sidecar path, or the
    // CAS loser's overwrite would replace the content the winner's
    // in-memory sidecar list references (the same discipline as the
    // CLI's v$N-$runId data dirs)
    private def numOf(name: String, prefix: String): Option[Int] =
      // length-bounded like committedFloor's parser: a foreign file
      // with a 10+-digit run (operator artifact, corrupted name) must
      // be IGNORED by the listings, not throw NumberFormatException
      // out of every construction on the root
      Some(name.drop(prefix.length).takeWhile(_.isDigit))
        .filter(s => s.nonEmpty && s.length <= 9).map(_.toInt)

    private def baseDir: String = supportRoot + "/" +
      new String(java.nio.file.Files.readAllBytes(mfP),
        java.nio.charset.StandardCharsets.UTF_8).trim

    private def swapManifest(name: String): Unit = {
      // run-unique tmp: a shared "BASE_MANIFEST.tmp" would let two
      // racing processes publish each other's content through the
      // atomic move
      val tmp = rootP.resolve("BASE_MANIFEST." +
        java.util.UUID.randomUUID().toString.take(8) + ".tmp")
      java.nio.file.Files.write(tmp,
        name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, mfP,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    if (!java.nio.file.Files.exists(mfP)) {
      require(!readOnly,
        s"readOnly IvmDistinctStream on $supportRoot: no BASE_MANIFEST")
      java.nio.file.Files.createDirectories(rootP)
      // SEEDER ARBITRATION: the seed write + manifest creation happen
      // BEFORE any caller-level version CAS, so two fresh runs racing
      // one durable root both reach here. The seed dir is run-unique
      // (a loser's overwrite must never replace files a winner's
      // manifest references) and the manifest is CREATED via link(2)
      // CAS — exactly one seeder publishes; the loser reaps its own
      // seed and resumes through the winner's manifest below.
      // ALWAYS run-unique, independently of runTag: two racing
      // constructors (same tag, or both untagged) would otherwise
      // overwrite the SAME seed path — and the loser's reap below
      // would delete files the winner's published manifest references.
      // The UUID is the uniqueness source; runTag is only a label.
      val seedName = "base_v000000-" +
        (if (runTag.nonEmpty) runTag + "-" else "") +
        java.util.UUID.randomUUID().toString.take(8)
      val seedPairs = seed.groupBy("l_suppkey", "l_partkey")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("b", supportBucket(col("l_suppkey")))
      seedPairs
        .repartition(SupportBuckets, col("b"))
        .write.partitionBy("b").mode("overwrite")
        .parquet(s"$supportRoot/$seedName")
      // EMPTY seed (the files-source CLI seeds from nothing so the
      // replayed stream isn't double-counted): a dynamic-partitioned
      // write of zero rows lands no data files and the dir cannot be
      // schema-inferred — rewrite as one unpartitioned zero-row file
      // whose footer carries the schema (`b` rides as a data column;
      // every consumer filters it as an ordinary column and the first
      // compaction restores the partitioned layout)
      locally {
        val it = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$supportRoot/$seedName"))
        val hasData = try {
          import scala.jdk.CollectionConverters._
          it.iterator().asScala
            .exists(_.getFileName.toString.startsWith("b="))
        } finally it.close()
        if (!hasData)
          seedPairs.coalesce(1).write.mode("overwrite")
            .parquet(s"$supportRoot/$seedName")
      }
      val tmp = rootP.resolve("BASE_MANIFEST." +
        java.util.UUID.randomUUID().toString + ".tmp")
      java.nio.file.Files.write(tmp,
        seedName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val won =
        try { java.nio.file.Files.createLink(mfP, tmp); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        } finally java.nio.file.Files.deleteIfExists(tmp)
      if (!won) graft.io.Scratch.reap(s"$supportRoot/$seedName")
    }

    // the live base generation's batch number: sidecars at or below it
    // were ABSORBED by that generation's compaction (they may survive
    // on disk one extra compaction as reader grace — resume must not
    // re-count them)
    private def baseGen: Int =
      numOf(baseDir.drop(baseDir.lastIndexOf("base_v")), "base_v")
        .getOrElse(0)

    // ONE directory listing, classified against a single snapshot:
    // unabsorbed sidecars in batch order (their numbers ARE their
    // batch numbers), plus the grace inventory — absorbed sidecars and
    // superseded bases a previous run left behind, adopted by this
    // driver so a restart doesn't orphan them forever (reaped on the
    // next compaction)
    private var sidecars: Vector[String] = Vector.empty
    private var staleBases: Vector[String] = Vector.empty
    private var staleSidecars: Vector[String] = Vector.empty
    locally {
      val gen = baseGen
      val live = baseDir
      val it = java.nio.file.Files.list(rootP)
      val names = try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.map(_.getFileName.toString).toVector
      } finally it.close()
      sidecars = names
        .filter(n => n.startsWith("delta_") &&
          numOf(n, "delta_").exists(_ > gen))
        .sorted.map(n => s"$supportRoot/$n")
      // COMMIT-GATED adoption: a run that records its published
      // batches ([[markCommitted]] — the CLI, after each version CAS)
      // leaves a durable floor; any sidecar NUMBERED ABOVE it was
      // written but never durably published (hard crash between the
      // sidecar write and the caller's commit) and a resume must reap
      // it, not adopt it — the replayed micro-batch re-appends the
      // same delta and the orphan would double-count. Roots without a
      // floor file (embedded/spec use, no external arbitration) adopt
      // everything, as before.
      committedFloor.foreach { case (floorN, _) =>
        val (keep, orphaned) = sidecars.partition(p =>
          numOf(p.drop(p.lastIndexOf("delta_")), "delta_")
            .exists(_ <= floorN))
        // a READ-ONLY resolver (DevIvmAudit against a possibly-live
        // root) excludes the orphans but must not delete them: the
        // owning run may be inside its CAS→markCommitted window, and
        // reaping its in-flight sidecar would kill a correct stream
        if (!readOnly) orphaned.foreach { p => graft.io.Scratch.reap(p) }
        sidecars = keep
      }
      staleSidecars = names
        .filter(n => n.startsWith("delta_") &&
          numOf(n, "delta_").exists(_ <= gen))
        .map(n => s"$supportRoot/$n")
      staleBases = names
        .filter(n => n.startsWith("base_v") && s"$supportRoot/$n" != live)
        .map(n => s"$supportRoot/$n")
    }
    private var batchN: Int = (baseGen +: sidecars.flatMap(p =>
      numOf(p.drop(p.lastIndexOf("delta_")), "delta_"))).max
    // per-INSTANCE handoff tag (uuid, not just the root hash): two
    // live instances on one root (resume tests, a readOnly audit
    // beside a live stream) with a shared tag share one subTagged
    // generation queue and reap each other's still-referenced view
    // generations — and a 32-bit root hash could collide two
    // different roots into the same queue
    private val mvTag = "ivm_stream_mv_" +
      java.lang.Integer.toHexString(supportRoot.hashCode) + "_" +
      java.util.UUID.randomUUID().toString.take(8)

    private var mv: org.apache.spark.sql.DataFrame =
      Caches.parquetHandoff(
        resolveSupport(spark, schema, baseDir, sidecars)
          .groupBy("l_suppkey").agg(count(lit(1)).as("n_parts")),
        mvTag)

    /** The current view: (l_suppkey, n_parts). */
    def view: org.apache.spark.sql.DataFrame = mv

    /** The current support state, resolved. */
    def resolvedSupport: org.apache.spark.sql.DataFrame =
      resolveSupport(spark, schema, baseDir, sidecars)

    /** The most recent batch's sidecar path — a caller whose version
      * CAS LOST after this batch (the split-brain case) reaps it
      * before aborting, so the winner's later resume can't double-
      * count the orphan.
      */
    def lastSidecar: Option[String] = sidecars.lastOption

    /** Durable record of the highest PUBLISHED batch: (sidecar batch
      * number, caller's stream batch id), absent until the first
      * [[markCommitted]]. Two crash-consistency jobs: the constructor
      * reaps sidecars numbered above the floor (written, never
      * published), and the CLI skips replayed stream batch ids at or
      * below it (published, offset-commit lost — re-folding would
      * double-count).
      */
    def committedFloor: Option[(Int, Long)] = {
      val f = rootP.resolve("SIDECAR_FLOOR")
      if (!java.nio.file.Files.exists(f)) None
      else new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8).trim.split(' ') match {
        // BOTH fields fully validated (length-bounded digits): a
        // corrupt floor must degrade to None/adopt-everything like
        // every other malformed shape, not throw on each resume
        case Array(n, id) if n.nonEmpty && n.length <= 9 &&
            n.forall(_.isDigit) && id.nonEmpty && id.length <= 18 &&
            id.forall(_.isDigit) =>
          Some(n.toInt -> id.toLong)
        case _ => None
      }
    }

    /** Records that everything through the CURRENT batch is durably
      * published (call strictly AFTER the caller's version CAS
      * succeeded — single post-CAS writer, same discipline as
      * [[compact]]). The window between the CAS and this write is
      * safe: a crash there reaps the sidecar at resume and the
      * replayed batch re-derives the identical fold.
      */
    def markCommitted(streamBatchId: Long): Unit = {
      val tmp = rootP.resolve("SIDECAR_FLOOR.tmp")
      java.nio.file.Files.write(tmp, s"$batchN $streamBatchId"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, rootP.resolve("SIDECAR_FLOOR"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    /** Folds one micro-batch of (l_suppkey, l_partkey, w) rows into
      * state and view; returns the new view (lineage-cut — safe to
      * publish). With `compactEvery = 0` compaction is the CALLER's
      * call — the CLI invokes [[compact]] only after its version CAS
      * succeeded, so a split-brained loser never swaps the manifest or
      * reaps generations a winner still references.
      */
    def processBatch(d: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      // auto-compaction runs BEFORE folding the new batch, never
      // after: compacting afterwards would absorb the JUST-written
      // delta before the caller's version CAS / markCommitted for it
      // runs — a crash in that window bakes an uncommitted batch into
      // the live base, the committedFloor can no longer identify it
      // as a reapable orphan, and the replayed batch double-counts.
      // At the top of the NEXT batch every existing sidecar's commit
      // (if the caller commits between batches) has already happened.
      if (compactEvery > 0 && sidecars.size >= compactEvery) compact()
      batchN += 1
      val sc = f"$supportRoot/delta_$batchN%06d" +
        (if (runTag.nonEmpty) s"-$runTag" else "")
      mv = Caches.parquetHandoff(
        ivmDistinctStepMor(spark, baseDir, sidecars, mv, d, sc, cap),
        mvTag)
      sidecars :+= sc
      mv
    }

    /** True when the unabsorbed-sidecar run has reached `every` — the
      * caller-driven compaction cadence (used with compactEvery = 0).
      */
    def compactDue(every: Int): Boolean = sidecars.size >= every

    /** Folds the sidecars into a new base generation and publishes it;
      * the PREVIOUS generation AND the absorbed sidecars survive one
      * more compaction (pointer grace — an in-flight reader holding a
      * pre-swap resolveSupport plan still references them), then reap.
      */
    def compact(): Unit = {
      if (sidecars.isEmpty) return
      val prev = baseDir
      // ALWAYS run-unique (the seed-dir discipline): two runs racing
      // one root both compute the same batchN — a bare base_v$N would
      // let the second overwrite generation files the first run's
      // just-swapped manifest references
      val next = f"base_v$batchN%06d-" +
        java.util.UUID.randomUUID().toString.take(8)
      compactSupport(spark, schema, prev, sidecars, s"$supportRoot/$next")
      swapManifest(next)
      // reap LAST generation's grace inventory; the just-superseded
      // base (whose untouched buckets the new one hard-links — the
      // inodes survive the reap) and the just-absorbed sidecars become
      // the new grace
      staleSidecars.foreach(graft.io.Scratch.reap)
      staleSidecars = sidecars
      sidecars = Vector.empty
      staleBases.foreach(graft.io.Scratch.reap)
      staleBases = Vector(prev)
    }
  }

  /** ITERATIVE maintenance of the count-distinct view AND its support
    * state: two successive delta windows fold through
    * [[ivmDistinctStepMor]] — each batch consumes the state the
    * previous batch EXTENDED (base + its sidecar), which is the half
    * the one-shot query leaves standing. Per-batch state cost is
    * O(delta) — the sidecar append — never a table rewrite. The
    * declared query's oracle recomputes the final view from scratch;
    * IvmLawSpec additionally pins the final RESOLVED support table
    * row-for-row against a from-scratch support recompute, the
    * compaction invisible, and the untouched bucket files
    * byte-identical — the state, not just the view, survives
    * composition.
    */
  private[graft] def ivmDistinctFold(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cut0Lit: String = "1997-07-01", cut1Lit: String = "1998-01-01",
      retractMod: Long = 13L, maxBroadcastKeys: Long = -1L)
      : org.apache.spark.sql.DataFrame = {
    val (mv2, _) = ivmDistinctFoldWithState(spark, dir, cut0Lit,
      cut1Lit, retractMod, maxBroadcastKeys)
    mv2
  }

  /** The two delta windows' SIDECARS alone — what the amortized
    * compaction job actually consumes. A production compactor never
    * recomputes the view: it reads the signed sidecars the nightly
    * maintenance jobs appended and folds them into the base. Writes
    * the same sidecar content as [[ivmDistinctFoldWithState]] (same
    * d1/d2, same pair fold), skipping the view half (oldCnt probes +
    * MV merges); the declared compaction query's full oracle pins the
    * resolved result cross-engine either way.
    */
  /** The ONE standing-state builder for the distinct-fold family
    * (shared by [[ivmDistinctSidecars]] and
    * [[ivmDistinctFoldWithState]] — same memo tag, so they reuse one
    * build per JVM × params): bucketed base, bucket-clustered so each
    * bucket is one file (not one per writer task × bucket), plus the
    * MV it supports.
    */
  private def distinctStanding(spark: org.apache.spark.sql.SparkSession,
      old0: org.apache.spark.sql.DataFrame, dir: String,
      cut0Lit: String, retractMod: Long): String =
    Caches.standingParquet(tagOf("ivm_dcm", dir, cut0Lit, retractMod),
        dir) { p =>
      old0.groupBy("l_suppkey", "l_partkey")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("b", supportBucket(col("l_suppkey")))
        .repartition(SupportBuckets, col("b"))
        .write.partitionBy("b").mode("overwrite")
        .parquet(p + "/base")
      spark.read.schema(SupportSchema.of(old0).base).parquet(p + "/base")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_parts"))
        .write.mode("overwrite").parquet(p + "/mv")
    }

  private[graft] def ivmDistinctSidecars(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cut0Lit: String, cut1Lit: String, retractMod: Long)
      : SupportState = {
    val c0 = Cols.ts(cut0Lit)
    val c1 = Cols.ts(cut1Lit)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
        col("l_shipdate"))
    val old0 = li.filter(col("l_shipdate") < c0)
    val state0 = distinctStanding(spark, old0, dir, cut0Lit, retractMod)
    // ONE pass writes BOTH sidecars (guide §1.2 — remove passes): the
    // two deltas partition DISJOINT shipdate ranges ([c0,c1) +1 and the
    // <c0 retraction −1 → sidecar 1; ≥c1 +1 → sidecar 2), so a single
    // filter + CASE tags each row with its sidecar and one
    // groupBy(sc, pair) + partitionBy(sc) write replaces two write jobs
    // over three lineitem passes (the d1 union scanned li twice).
    // Per-sidecar content is unchanged: sc partitions the rows, so the
    // fused groupBy yields exactly each separate write's groups, and
    // reading <p>/sc=N returns (l_suppkey, l_partkey, dw) — the
    // partition column lives in the directory name, not the footer.
    val p = graft.io.Scratch.subTagged("ivm_dcm_sc")
    li.filter(col("l_shipdate") >= c0 ||
        col("l_orderkey") % retractMod === 0)
      .select(col("l_suppkey"), col("l_partkey"),
        when(col("l_shipdate") < c0, lit(-1L)).otherwise(lit(1L)).as("w"),
        when(col("l_shipdate") >= c1, lit(2)).otherwise(lit(1)).as("sc"))
      .groupBy("sc", "l_suppkey", "l_partkey").agg(sum("w").as("dw"))
      .filter(col("dw") =!= 0)
      .write.partitionBy("sc").mode("overwrite").parquet(p)
    // the partitioned write makes no directory for an empty delta: a
    // sidecar with no rows has nothing to resolve, so it is left out
    SupportState(state0 + "/base", Seq(1, 2).map(n => s"$p/sc=$n")
      .filter(sc => java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(sc))), SupportSchema.of(li))
  }

  /** [[ivmDistinctFold]] plus the final merge-on-read support state
    * (the law spec resolves it to pin state composition;
    * [[compactSupport]] folds it).
    */
  private[graft] def ivmDistinctFoldWithState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cut0Lit: String, cut1Lit: String, retractMod: Long,
      maxBroadcastKeys: Long = -1L)
      : (org.apache.spark.sql.DataFrame, SupportState) = {
    val c0 = Cols.ts(cut0Lit)
    val c1 = Cols.ts(cut1Lit)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
        col("l_shipdate"))
    val old0 = li.filter(col("l_shipdate") < c0)
    val state0 = distinctStanding(spark, old0, dir, cut0Lit, retractMod)
    val base = state0 + "/base"
    val d1 = li.filter(col("l_shipdate") >= c0 &&
        col("l_shipdate") < c1).withColumn("w", lit(1L))
      .unionByName(old0.filter(col("l_orderkey") % retractMod === 0)
        .withColumn("w", lit(-1L)))
      .select("l_suppkey", "l_partkey", "w")
    val sc1 = graft.io.Scratch.subTagged("ivm_dcm_d1")
    val schema = SupportSchema.of(li)
    val mv1 = ivmDistinctStepMor(spark, base, Nil,
      spark.read.schema(schema.view).parquet(state0 + "/mv"), d1, sc1,
      maxBroadcastKeys)
    // fold-lineage cut on the view; the sidecar's parquet write is the
    // state's own cut
    val mv1ck = Caches.parquetHandoff(mv1, "ivm_dcm_mv1")
    val d2 = li.filter(col("l_shipdate") >= c1)
      .withColumn("w", lit(1L))
      .select("l_suppkey", "l_partkey", "w")
    val sc2 = graft.io.Scratch.subTagged("ivm_dcm_d2")
    val mv2 = ivmDistinctStepMor(spark, base, Seq(sc1), mv1ck, d2,
      sc2, maxBroadcastKeys)
    (mv2.orderBy("l_suppkey"), SupportState(base, Seq(sc1, sc2), schema))
  }

  /** SKETCH IVM — the INSERT-ONLY distinct class, completing the
    * maintenance taxonomy (invertible signed-delta / non-invertible
    * group-recompute / exact auxiliary-state / approximate sketch):
    * when even the (group, value) support table is too big, the
    * standing state is one fixed-size HLL register array per group and
    * the daily job sketches ONLY the delta and merges registers
    * (`hll_union_agg`). The boundary is fundamental: HLL cannot
    * forget, so retractions route to the exact support-table class —
    * this is the trade every 100 TB distinct-users dashboard makes.
    * IvmLawSpec pins the merge law REGISTER-EXACTLY (standing ∪ delta
    * ≡ one-shot sketch of the union — HLL registers are max-merged,
    * so composition is lossless, not just approximately right) and
    * the estimates within HLL error of exact.
    */
  private[graft] def ivmSketchView(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cutLit: String = "2024-01-16")
      : org.apache.spark.sql.DataFrame = {
    val cut = Cols.ts(cutLit)
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts"))
    val state0 = Caches.readStanding(tagOf("ivm_hll", dir, cutLit), dir,
      ev.filter(col("ts") < cut).groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sketch"),
          count(lit(1)).as("n")))
    val delta = ev.filter(col("ts") >= cut).groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sketch"),
        count(lit(1)).as("n"))
    state0.unionByName(delta)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
          .as("approx_users"),
        sum("n").as("n"))
      .orderBy("event_type")
  }

  /** One-shot sketch of the full corpus — [[ivmSketchView]]'s law twin:
    * the register merge must reproduce THESE estimates exactly.
    */
  private[graft] def ivmSketchRecompute(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables(spark, dir, "events")
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
          .as("approx_users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** From-scratch recompute twin of [[ivmDistinctView]] (IvmLawSpec). */
  private[graft] def ivmDistinctRecompute(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cutLit: String = "1998-01-01", retractMod: Long = 13L)
      : org.apache.spark.sql.DataFrame = {
    val cut = Cols.ts(cutLit)
    Tables(spark, dir, "lineitem")
      .filter(!(col("l_shipdate") < cut &&
        col("l_orderkey") % retractMod === 0))
      .groupBy("l_suppkey")
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_suppkey")
  }

  private val clogWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Commit-log table build (once per JVM × corpus): four append
    * batches of orders (split by orderkey residue — deterministic and
    * disjoint) land as four OCC commits through
    * [[graft.io.CommitLog.commitRetry]], the CAS protocol CommitLogSpec
    * races for real. The build is sequential here (the declared query
    * must be deterministic); what the query pins is the READ side of
    * the protocol — pointer resolution + snapshot-per-version audit.
    */
  private[graft] def commitLogLayout(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    clogWritten.computeIfAbsent(dir + "#clog", { _ =>
      val tag = tagOf(dir)
      val root = graft.io.Scratch.stable("clog_" + tag)
      if (graft.io.CommitLog.currentVersion(root) < 3) {
        val ord = Tables(spark, dir, "orders")
          .select(col("o_orderkey"),
            Cols.cents(col("o_totalprice")).as("price_c"))
        // resume from the COMMITTED version: a build that failed
        // mid-loop (computeIfAbsent records nothing on throw) must not
        // re-append its already-committed batches to the append-only
        // log on retry
        for (i <- graft.io.CommitLog.currentVersion(root) + 1 to 3) {
          val data = graft.io.Scratch.stable(s"clog_b${i}_" + tag)
          ord.filter(col("o_orderkey") % 4 === i)
            .write.mode("overwrite").parquet(data)
          graft.io.CommitLog.commitRetry(root)(_ => data)
        }
      }
      root
    })

  /** Checkpointed commit-log build (independent root — checkpointing
    * [[commitLogLayout]]'s log in place would make that query's result
    * order-dependent within a session): the same four OCC commits, then
    * a CHECKPOINT covering v0..v1 — their rows consolidate into ONE
    * snapshot parquet tagged with a `version` column and their pointers
    * are pruned ([[graft.io.CommitLog.checkpoint]]). Readers resolve
    * checkpoint + tail.
    */
  private[graft] def checkpointedLogLayout(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    clogWritten.computeIfAbsent(dir + "#clogck", { _ =>
      val tag = tagOf(dir)
      val root = graft.io.Scratch.stable("clogck_" + tag)
      val ord = Tables(spark, dir, "orders")
        .select(col("o_orderkey"),
          Cols.cents(col("o_totalprice")).as("price_c"))
      for (i <- graft.io.CommitLog.currentVersion(root) + 1 to 3) {
        val data = graft.io.Scratch.stable(s"clogck_b${i}_" + tag)
        ord.filter(col("o_orderkey") % 4 === i)
          .write.mode("overwrite").parquet(data)
        graft.io.CommitLog.commitRetry(root)(_ => data)
      }
      if (graft.io.CommitLog.latestCheckpoint(root).isEmpty) {
        val snap = graft.io.Scratch.stable("clogck_snap_" + tag)
        graft.io.CommitLog.versions(root).filter(_._1 <= 1)
          .map { case (v, d) =>
            spark.read.parquet(d).withColumn("version", lit(v)) }
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(snap)
        graft.io.CommitLog.checkpoint(root, 1, snap)
      }
      root
    })

  /** Full-state version log with a RESTORE (once per JVM × corpus):
    * v0 = the base dimension, v1/v2 = two CDC folds (each version a
    * complete state — the streaming-state shape, where restore is
    * meaningful), then the rollback: v3 is a FORWARD commit whose
    * pointer names v1's data directory. History is preserved (v2 stays
    * auditable); no data is rewritten — restore costs one pointer.
    */
  private[graft] def restoreLogLayout(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    clogWritten.computeIfAbsent(dir + "#restore", { _ =>
      val tag = tagOf(dir)
      val root = graft.io.Scratch.stable("rlog_" + tag)
      if (graft.io.CommitLog.currentVersion(root) < 3) {
        val cut = 1705363200000000L
        val changes = cdcChangesFrom(Tables(spark, dir, "events"))
        def write(df: org.apache.spark.sql.DataFrame, name: String)
            : String = {
          val p = graft.io.Scratch.stable(s"rlog_${name}_" + tag)
          df.write.mode("overwrite").parquet(p)
          p
        }
        val v0 = write(cdcBase(spark, dir), "v0")
        val v1 = write(applyCdc(spark.read.parquet(v0),
          changes.filter(col("tus") <= cut)).drop("action"), "v1")
        val v2 = write(applyCdc(spark.read.parquet(v1),
          changes.filter(col("tus") > cut)).drop("action"), "v2")
        Seq(v0, v1, v2, /* restore to v1 */ v1).foreach(d =>
          graft.io.CommitLog.commitRetry(root)(_ => d))
      }
      root
    })

  private val morWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** MERGE-ON-READ layout build (once per JVM × corpus): the merge job
    * writes NO base bytes — the base parquet stays immutable and the
    * CDC changeset lands as two changeset-bounded sidecars: a
    * key-grained DELETION VECTOR (`dv/` — the invalidated base keys;
    * file-position DVs are the same idea one indirection lower) and the
    * replacement rows (`delta/` — the collapsed winning U-rows). This
    * is the other half of the lakehouse merge design space from
    * [[applyCdcFull]]'s copy-on-write: write cost O(changeset) instead
    * of O(base), read cost one reconcile join — the trade Iceberg/Delta
    * v2 make for high-frequency CDC. CdcLawSpec pins readback ≡
    * copy-on-write row-for-row, base-file immutability, and compaction
    * invisibility.
    */
  private[graft] def mergeOnReadLayout(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    morWritten.computeIfAbsent(dir + "#mor", { _ =>
      val out = graft.io.Scratch.stable("mor_" + tagOf(dir))
      cdcBase(spark, dir).write.mode("overwrite").parquet(s"$out/base")
      val w = Window.partitionBy("key")
        .orderBy(desc("tus"), desc("event_id"))
      val latest = cdcChangesFullFrom(Tables(spark, dir, "events"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("key", "op", "new_name", "new_bal_c")
        .persist()
      latest.select("key").write.mode("overwrite").parquet(s"$out/dv")
      latest.filter(col("op") === "U")
        .select(col("key"), col("new_name").as("name"),
          col("new_bal_c").as("bal_c"))
        .write.mode("overwrite").parquet(s"$out/delta")
      latest.unpersist()
      out
    })

  /** The merge-on-read READ path: base scan reconciled against the
    * sidecars — anti-join the deletion vector (changeset-bounded
    * broadcast; [[cdcSide]]'s counted fallback covers a degenerate
    * backfill-sized DV), union the replacement rows. ZERO hash
    * exchanges (PlanSpec-gated): the base streams through one narrow
    * broadcast anti probe, exactly what a reconciling scan must cost.
    */
  private[graft] def mergeOnReadScan(
      spark: org.apache.spark.sql.SparkSession, root: String,
      maxBroadcastKeys: Long = -1L)
      : org.apache.spark.sql.DataFrame = {
    val dv = spark.read.parquet(s"$root/dv")
    val side = cdcSide(dv, broadcastRowCap(dv.schema, maxBroadcastKeys))
    spark.read.parquet(s"$root/base")
      .join(side(dv), Seq("key"), "left_anti")
      .unionByName(spark.read.parquet(s"$root/delta"))
  }

  /** Deferred copy-on-write: fold the sidecars into a rewritten base at
    * a NEW versioned root (readers of the old root keep intact files —
    * the index-compaction discipline) with EMPTY sidecars. Readback
    * must be invisible (CdcLawSpec).
    */
  private[graft] def compactMergeOnRead(
      spark: org.apache.spark.sql.SparkSession, root: String): String = {
    val out = graft.io.Scratch.sub("mor_compact")
    mergeOnReadScan(spark, root)
      .write.mode("overwrite").parquet(s"$out/base")
    spark.read.parquet(s"$root/dv").limit(0)
      .write.mode("overwrite").parquet(s"$out/dv")
    spark.read.parquet(s"$root/delta").limit(0)
      .write.mode("overwrite").parquet(s"$out/delta")
    out
  }

  def queries: Map[String, Q] = Map(
    "q_tpch_q3" -> Q(
      (spark, dir) => {
        // shipping priority: top-10 unshipped BUILDING orders by revenue.
        // customer is a broadcast dim; orders/lineitem scans carry their
        // date predicates (pushdown); the groupBy keys on l_orderkey so
        // AQE sizes the one real shuffle; top-10 leaves as a TakeOrdered.
        val cut = Cols.ts("1998-01-01")
        val cust = Tables(spark, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val ord = Tables(spark, dir, "orders")
          .filter(col("o_orderdate") < cut)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val li = Tables(spark, dir, "lineitem")
          .filter(col("l_shipdate") > cut)
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy("l_orderkey", "o_orderdate")
          .agg(revenueCp.as("rev_cp"))
          .select(col("l_orderkey"), asMoney(col("rev_cp")).as("revenue"),
            col("o_orderdate"))
          .orderBy(desc("revenue"), asc("l_orderkey"))
          .limit(10)
      },
      Some("SELECT l_orderkey, " +
        Cols.froundSql(s"CAST($revenueCpSql AS DOUBLE)/10000.0", 4) +
        " AS revenue, o_orderdate " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "AND l_shipdate > TIMESTAMP '1998-01-01' " +
        "GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10")),

    "q_tpch_q5" -> Q(
      (spark, dir) => {
        // local-supplier volume: revenue per ASIA nation where the
        // customer and supplier share the nation. Four broadcast dims
        // chained onto the fact scan — the plan is one pipeline of
        // BroadcastHashJoins into a 5-row aggregate.
        val lo = Cols.ts("1996-01-01")
        val hi = Cols.ts("1997-01-01")
        val region = Tables(spark, dir, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")
        val nation = Tables(spark, dir, "nation")
          .join(broadcast(region),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = Tables(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val supp = Tables(spark, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        val ord = Tables(spark, dir, "orders")
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
          .select(col("o_orderkey"), col("o_custkey"))
        val li = Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nation),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(revenueCp.as("rev_cp"))
          .select(col("n_name"), asMoney(col("rev_cp")).as("revenue"))
          .orderBy(desc("revenue"), asc("n_name"))
      },
      Some("SELECT n_name, " +
        Cols.froundSql(s"CAST($revenueCpSql AS DOUBLE)/10000.0", 4) +
        " AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name")),

    "q_tpch_q10" -> Q(
      (spark, dir) => {
        // returned-item reporting: top-20 customers by revenue lost to
        // returns in one quarter. orders carries its date predicate to
        // the scan, lineitem its returnflag; customer/nation broadcast.
        // The aggregate keys on c_custkey (customer grain) — the one
        // real shuffle, sized by AQE.
        val lo = Cols.ts("1996-01-01")
        val hi = Cols.ts("1996-04-01")
        val cust = Tables(spark, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_nationkey"))
        val nation = Tables(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        val ord = Tables(spark, dir, "orders")
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
          .select(col("o_orderkey"), col("o_custkey"))
        val li = Tables(spark, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(revenueCp.as("rev_cp"))
          .select(col("c_custkey"), col("c_name"),
            asMoney(col("rev_cp")).as("revenue"), col("c_acctbal"),
            col("n_name"))
          .orderBy(desc("revenue"), asc("c_custkey"))
          .limit(20)
      },
      Some("SELECT c_custkey, c_name, " +
        Cols.froundSql(s"CAST($revenueCpSql AS DOUBLE)/10000.0", 4) +
        " AS revenue, c_acctbal, n_name " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01' " +
        "AND l_returnflag = 'R' " +
        "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20")),

    "q_tpch_q17" -> Q(
      (spark, dir) => {
        // small-quantity-order revenue: lineitems under 20% of their
        // part's average quantity, for one brand/type slice. The
        // correlated scalar subquery becomes a per-part aggregate JOINED
        // back — and because the predicate is per-part, the aggregate
        // runs over the lineitems ALREADY semi-joined to the (tiny,
        // broadcast) filtered part dim, so nothing fact-sized shuffles:
        // scan → broadcast-join → small groupBy → broadcast back.
        // avg comparison is exact integer math (qty·5·cnt < sum), never
        // a float divide — no ULP boundary rows between engines.
        val parts = Tables(spark, dir, "part")
          .filter(col("p_brand") === "Brand#13" && col("p_type") === "SMALL")
          .select("p_partkey")
        val lip = Tables(spark, dir, "lineitem")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"),
            col("l_quantity").cast("long").as("qty"),
            col("l_extendedprice"))
        val pq = lip.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("qty")).as("sq"), count(lit(1)).as("cq"))
        lip.join(broadcast(pq), col("l_partkey") === col("pk"))
          .filter(col("qty") * lit(5L) * col("cq") < col("sq"))
          .agg(Cols.fround(
            sum(Cols.cents(col("l_extendedprice"))).cast("double") /
              lit(100.0) / lit(7.0), 4).as("avg_yearly"))
      },
      Some("WITH pq AS (SELECT l_partkey AS pk, " +
        "SUM(CAST(l_quantity AS BIGINT)) AS sq, COUNT(*) AS cq " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#13' AND p_type = 'SMALL' " +
        "GROUP BY l_partkey) " +
        "SELECT " +
        Cols.froundSql("CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS " +
          "BIGINT)) AS DOUBLE)/100.0/7.0", 4) +
        " AS avg_yearly " +
        "FROM lineitem JOIN pq ON pk = l_partkey " +
        "WHERE CAST(l_quantity AS BIGINT) * 5 * cq < sq")),

    "q_tpch_q18" -> Q(
      (spark, dir) => {
        // large-volume customers: orders whose total quantity exceeds
        // 300. One orderkey-grained aggregate over the fact (the only
        // corpus-sized shuffle), whose HAVING output is selectivity-
        // bounded small (~0.1% of orders at any SF) → broadcast into
        // orders; customer joins the surviving handful.
        val big = Tables(spark, dir, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
          .filter(col("sum_qty") > 300L)
        val ord = Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            col("o_totalprice"))
        val cust = Tables(spark, dir, "customer")
          .select(col("c_custkey"), col("c_name"))
        ord.join(broadcast(big), col("o_orderkey") === col("ok"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(100)
      },
      Some("WITH big AS (SELECT l_orderkey AS ok, " +
        "SUM(CAST(l_quantity AS BIGINT)) AS sum_qty FROM lineitem " +
        "GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 300) " +
        // CAST: DuckDB's SUM(BIGINT) yields HUGEINT, which the driver's
        // pandas compare path surfaces as float64/object and hash-breaks
        // (same class as q_events_sessionize r14) — pin the final
        // projection back to BIGINT to match Spark's LongType.
        "SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, " +
        "CAST(sum_qty AS BIGINT) AS sum_qty " +
        "FROM big JOIN orders ON o_orderkey = ok " +
        "JOIN customer ON c_custkey = o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100")),

    "q_tpch_q6" -> Q(
      (spark, dir) => {
        // forecast-revenue change (Q6): the canonical pure scan-agg —
        // every predicate (year band, discount band, quantity cap)
        // reaches the parquet scan as a pushed filter, and the plan is
        // one WholeStageCodegen span into a single-row partial+final
        // agg. Revenue here is price×discount (the discount REVENUE,
        // not the post-discount total), lifted to exact cent·basis-
        // point integers so partial-agg order can't drift it.
        val li = Tables(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= Cols.ts("1997-01-01") &&
            col("l_shipdate") < Cols.ts("1998-01-01") &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24.0)
        li.agg(sum(Cols.cents(col("l_extendedprice")) *
            round(col("l_discount") * 100, 0).cast("long")).as("rev_cp"))
          .select(asMoney(col("rev_cp")).as("revenue"))
      },
      Some("SELECT " +
        Cols.froundSql("CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS " +
          "BIGINT) * CAST(ROUND(l_discount*100,0) AS BIGINT)) AS " +
          "DOUBLE)/10000.0", 4) +
        " AS revenue FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")),

    "q_tpch_q7" -> Q(
      (spark, dir) => {
        // volume shipping (Q7): revenue flowing between a nation PAIR in
        // either direction, per shipment year. The fact joins orders
        // (for the customer leg) then three broadcast dims; the
        // disjunctive pair predicate applies AFTER both nation names are
        // in scope — one pipeline of BroadcastHashJoins into a
        // years×2-row aggregate, no fact shuffle except the final
        // grouping.
        val n1 = Tables(spark, dir, "nation")
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
        val n2 = Tables(spark, dir, "nation")
          .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
        val supp = Tables(spark, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        val cust = Tables(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val ord = Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("sk"))
          .join(broadcast(n2), col("c_nationkey") === col("ck"))
          .filter((col("supp_nation") === "NATION_3" &&
              col("cust_nation") === "NATION_7") ||
            (col("supp_nation") === "NATION_7" &&
              col("cust_nation") === "NATION_3"))
          .groupBy("supp_nation", "cust_nation", "l_year")
          .agg(revenueCp.as("rev_cp"))
          .select(col("supp_nation"), col("cust_nation"), col("l_year"),
            asMoney(col("rev_cp")).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        Cols.froundSql(s"CAST($revenueCpSql AS DOUBLE)/10000.0", 4) +
        " AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') " +
        "OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3') " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3")),

    "q_tpch_q14" -> Q(
      (spark, dir) => {
        // promotion effect (Q14): promo revenue share of one shipment
        // month. The part dim broadcasts; both the promo-slice and the
        // total are ONE conditional aggregation over the same joined
        // rows (a CASE inside SUM — no second scan); the share is a
        // single float division of two exact cent·percent integers.
        val li = Tables(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= Cols.ts("1997-09-01") &&
            col("l_shipdate") < Cols.ts("1997-10-01"))
          .select(col("l_partkey"), col("l_extendedprice"),
            col("l_discount"))
        val part = Tables(spark, dir, "part")
          .select(col("p_partkey"), col("p_type"))
        // the ONE exact-revenue definition (a local re-derivation would
        // silently miss a future rounding-lift fix to revCpRow)
        val rev = revCpRow
        li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", rev).otherwise(0L))
              .as("promo_cp"),
            sum(rev).as("total_cp"))
          .select(Cols.fround(col("promo_cp").cast("double") * 100.0 /
            col("total_cp").cast("double"), 4).as("promo_share"))
      },
      Some("SELECT " +
        Cols.froundSql("CAST(SUM(CASE WHEN p_type = 'PROMO' THEN " +
          "CAST(ROUND(l_extendedprice*100,0) AS BIGINT) * " +
          "(100 - CAST(ROUND(l_discount*100,0) AS BIGINT)) " +
          "ELSE 0 END) AS DOUBLE) * 100.0 / CAST(" + revenueCpSql +
          " AS DOUBLE)", 4) +
        " AS promo_share " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1997-09-01' " +
        "AND l_shipdate < TIMESTAMP '1997-10-01'")),

    "q_tpch_q19" -> Q(
      (spark, dir) => {
        // discounted revenue (Q19): the classic OR-of-ANDs join — three
        // (brand, size band, quantity band) branches that must stay ONE
        // join with a disjunctive residual, not three unioned scans.
        // The part dim broadcasts; each branch's part-only conjuncts
        // (brand, size) prune the broadcast side while the mixed
        // l_quantity conjunct rides as the join residual.
        val li = Tables(spark, dir, "lineitem")
          .select(col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"))
        val part = Tables(spark, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        val branch1 = col("p_brand") === "Brand#12" &&
          col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
        val branch2 = col("p_brand") === "Brand#23" &&
          col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
        val branch3 = col("p_brand") === "Brand#34" &&
          col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
        li.join(broadcast(part), col("l_partkey") === col("p_partkey") &&
            (branch1 || branch2 || branch3))
          .agg(revenueCp.as("rev_cp"))
          .select(asMoney(col("rev_cp")).as("revenue"))
      },
      Some("SELECT " +
        Cols.froundSql(s"CAST($revenueCpSql AS DOUBLE)/10000.0", 4) +
        " AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 " +
        "AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 " +
        "AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 " +
        "AND l_quantity BETWEEN 20 AND 30)")),

    "q_tpch_q4" -> Q(
      (spark, dir) => {
        // order-priority checking (Q4, adapted: "committed late" becomes
        // "shipped > 30 days after ordering" — this schema has no
        // commit/receipt dates): orders in one quarter with AT LEAST ONE
        // late line, counted per priority. The EXISTS is a left-semi
        // join carrying the band predicate — the fact dedupes into the
        // semi join itself, no distinct needed.
        val lo = Cols.ts("1996-01-01")
        val hi = Cols.ts("1996-04-01")
        val o = Tables(spark, dir, "orders")
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        val l = Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"))
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") +
              expr("INTERVAL 30 DAYS"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("SELECT o_orderpriority, COUNT(*) AS order_count " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem " +
        "WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 30 DAY) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    "q_tpch_q22" -> Q(
      (spark, dir) => {
        // global-sales-opportunity (Q22, adapted: the nation key stands
        // in for the phone country code this schema doesn't carry, and
        // "no orders" becomes "no orders since 2000" — every customer in
        // this corpus has SOME order): customers of 7 eligible nations
        // with above-average positive balance and no recent activity.
        // The average threshold is compared in exact integers
        // (bal_cp·n_pos > sum_cp — the Q17 device), so no double average
        // can drift between engines; the one-row threshold broadcasts;
        // the NOT EXISTS is a left-anti join against the date-pruned
        // orders scan — the only fact-sized shuffle in the plan.
        val cust = Tables(spark, dir, "customer")
          .filter(col("c_nationkey").isin(1, 5, 9, 13, 17, 21, 23))
          .select(col("c_custkey"), col("c_nationkey"),
            Cols.cents(col("c_acctbal")).as("bal_cp"))
        val thr = cust.filter(col("bal_cp") > 0L)
          .agg(count(lit(1)).as("n_pos"), sum(col("bal_cp")).as("sum_cp"))
        cust.join(Tables(spark, dir, "orders")
            .filter(col("o_orderdate") >= Cols.ts("2000-01-01"))
            .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .crossJoin(broadcast(thr))
          .filter(col("bal_cp") * col("n_pos") > col("sum_cp"))
          .groupBy(col("c_nationkey").as("cntry"))
          .agg(count(lit(1)).as("numcust"),
            Cols.fround(sum(col("bal_cp")).cast("double") / 100.0, 2)
              .as("totacctbal"))
          .orderBy("cntry")
      },
      Some("WITH sel AS (SELECT c_custkey, c_nationkey, " +
        "CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_cp FROM customer " +
        "WHERE c_nationkey IN (1,5,9,13,17,21,23)), " +
        "thr AS (SELECT COUNT(*) AS n_pos, SUM(bal_cp) AS sum_cp " +
        "FROM sel WHERE bal_cp > 0) " +
        "SELECT c_nationkey AS cntry, COUNT(*) AS numcust, " +
        Cols.froundSql("CAST(SUM(bal_cp) AS DOUBLE)/100.0", 2) +
        " AS totacctbal FROM sel, thr WHERE bal_cp * n_pos > sum_cp " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01') " +
        "GROUP BY c_nationkey ORDER BY cntry")),

    "q_warehouse_incr_rollup" -> Q(
      (spark, dir) => {
        // INCREMENTAL rollup maintenance — the nightly materialized-view
        // merge: the pre-existing per-customer rollup (materialized to
        // parquet, standing in for yesterday's table) is combined with
        // the DELTA batch's aggregate by re-aggregating counts and sums
        // — mergeable statistics, so the base FACTS are never re-read.
        // At 100 TB this is the difference between scanning one day and
        // scanning seven years. The oracle recomputes from scratch, so
        // a hash match proves merge ≡ full recompute.
        val cutoff = Cols.ts("2000-01-01")
        val o = Tables(spark, dir, "orders")
        // STANDING memo (not rebuild+overwrite per call): rebuilding
        // the full-history rollup every invocation charges this query
        // the recompute cost the merge exists to avoid — and the
        // unguarded shared stable path was a concurrent-invocation
        // race (one call's overwrite under another's lazy read)
        val base = Caches.readStanding(tagOf("rollup", dir), dir,
          o.filter(col("o_orderdate") < cutoff)
            .groupBy("o_custkey")
            .agg(count(lit(1)).as("n_orders"),
              sum(Cols.cents(col("o_totalprice"))).as("spend_c")))
        val delta = o.filter(col("o_orderdate") >= cutoff)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(Cols.cents(col("o_totalprice"))).as("spend_c"))
        base.unionByName(delta)
          .groupBy("o_custkey")
          .agg(sum(col("n_orders")).as("n_orders"),
            sum(col("spend_c")).as("__sc"))
          .select(col("o_custkey"), col("n_orders"),
            (col("__sc").cast("double") / 100.0).as("total_spend"))
          .orderBy("o_custkey")
      },
      Some("SELECT o_custkey, COUNT(*) AS n_orders, " +
        "CAST(CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) " +
        "AS BIGINT) AS DOUBLE)/100.0 AS total_spend " +
        "FROM orders GROUP BY o_custkey ORDER BY o_custkey")),

    "q_diff_snapshots" -> Q(
      (spark, dir) => {
        // snapshot DIFF — the migration-verification op: version B of
        // the part table is a deterministic mutation of version A
        // (every 97th key deleted, every 100th repriced); a full-outer
        // join on the key classifies rows as deleted / changed /
        // unchanged. Exact cents comparison (a double equality would be
        // engine-hostile); at scale this is one co-partitioned join —
        // the standard before/after reconciliation.
        val a = Tables(spark, dir, "part")
          .select(col("p_partkey"), Cols.cents(col("p_retailprice"))
            .as("price_a"))
        val b = Tables(spark, dir, "part")
          .filter(col("p_partkey") % 97 =!= 0)
          .select(col("p_partkey").as("bk"),
            when(col("p_partkey") % 100 === 0,
              Cols.cents(col("p_retailprice") * 1.1))
              .otherwise(Cols.cents(col("p_retailprice")))
              .as("price_b"))
        a.join(b, col("p_partkey") === col("bk"), "full_outer")
          .select(when(col("bk").isNull, "deleted")
            .when(col("price_a") =!= col("price_b"), "changed")
            .otherwise("unchanged").as("status"),
            coalesce(col("price_b"), lit(0L)).as("pb"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"), sum(col("pb")).as("sum_price_b_c"))
          .orderBy("status")
      },
      Some("WITH a AS (SELECT p_partkey, " +
        "CAST(ROUND(p_retailprice*100,0) AS BIGINT) AS price_a " +
        "FROM part), " +
        "b AS (SELECT p_partkey AS bk, CASE WHEN p_partkey % 100 = 0 " +
        "THEN CAST(ROUND(p_retailprice*1.1*100,0) AS BIGINT) " +
        "ELSE CAST(ROUND(p_retailprice*100,0) AS BIGINT) END AS price_b " +
        "FROM part WHERE p_partkey % 97 <> 0) " +
        "SELECT CASE WHEN bk IS NULL THEN 'deleted' " +
        "WHEN price_a <> price_b THEN 'changed' " +
        "ELSE 'unchanged' END AS status, COUNT(*) AS n, " +
        "CAST(SUM(COALESCE(price_b, 0)) AS BIGINT) AS sum_price_b_c " +
        "FROM a FULL OUTER JOIN b ON p_partkey = bk " +
        "GROUP BY 1 ORDER BY 1")),

    "q_quality_constraints" -> Q(
      (spark, dir) => {
        // data-quality CONSTRAINT AUDIT (the Deequ shape): one row per
        // declared constraint with its violation count — uniqueness of
        // the lineitem line key (the generated data genuinely violates
        // it), referential integrity orders→customer, value-range on
        // the discount, and non-emptiness of the part name. Each
        // constraint is one aggregate/anti-join — the audit a 100 TB
        // ingest runs before promoting a batch.
        val l = Tables(spark, dir, "lineitem")
        val dupes = l.groupBy("l_orderkey", "l_linenumber")
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)
          .agg(coalesce(sum(col("c") - 1), lit(0L)).as("violations"))
          .select(lit("unique_line_key").as("check_name"),
            col("violations"))
        val fk = Tables(spark, dir, "orders")
          .join(Tables(spark, dir, "customer"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit("orders_customer_fk").as("check_name"),
            col("violations"))
        val range = l.filter(col("l_discount") < 0.0 ||
            col("l_discount") > 1.0)
          .agg(count(lit(1)).as("violations"))
          .select(lit("discount_in_range").as("check_name"),
            col("violations"))
        val nonEmpty = Tables(spark, dir, "part")
          .filter(col("p_name").isNull || col("p_name") === "")
          .agg(count(lit(1)).as("violations"))
          .select(lit("part_name_nonempty").as("check_name"),
            col("violations"))
        dupes.unionByName(fk).unionByName(range).unionByName(nonEmpty)
          .orderBy("check_name")
      },
      Some("SELECT * FROM (" +
        "SELECT 'unique_line_key' AS check_name, " +
        "CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS violations FROM " +
        "(SELECT COUNT(*) AS c FROM lineitem " +
        "GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) " +
        "UNION ALL SELECT 'orders_customer_fk', COUNT(*) FROM orders " +
        "WHERE NOT EXISTS (SELECT 1 FROM customer " +
        "WHERE c_custkey = o_custkey) " +
        "UNION ALL SELECT 'discount_in_range', COUNT(*) FROM lineitem " +
        "WHERE l_discount < 0.0 OR l_discount > 1.0 " +
        "UNION ALL SELECT 'part_name_nonempty', COUNT(*) FROM part " +
        "WHERE p_name IS NULL OR p_name = '') ORDER BY check_name")),

    "q_warehouse_merge_cdc" -> Q(
      (spark, dir) => {
        // CDC MERGE (keyed upsert-apply) — the daily lakehouse op the
        // trio above (rollup-merge / snapshot-diff / audit) was missing:
        // a changeset of keyed INSERT/UPDATE/DELETE ops (here derived
        // deterministically from the event stream: user_id keys, every
        // 11th key a DELETE, every 7th-residue-3 key shifted out of the
        // base domain so it lands as an INSERT, props."k" the new
        // balance) applied to the base customer table with
        // exactly-once semantics.
        //
        // Exactly-once: the changeset first collapses to ONE winning op
        // per key (row_number over ts DESC, event_id DESC — last writer
        // wins), so replaying the feed N times applies identically.
        //
        // 100 TB shape: the base table NEVER shuffles — survivors are a
        // broadcast LEFT ANTI against the (small) changed-key set,
        // updates a broadcast inner join, and inserts are changeset-only
        // rows anti-joined against the matched-key list (changeset-sized
        // both sides). The single real exchange is the changeset's own
        // per-key window — exactly "one key exchange", on the small side
        // (see applyCdc above; CdcLawSpec pins sequencing associativity
        // and replay idempotence on the written columns).
        applyCdc(cdcBase(spark, dir), cdcChanges(spark, dir))
          .orderBy("key", "action")
      },
      Some("WITH ch AS (SELECT CASE WHEN user_id % 7 = 3 " +
        "THEN user_id + 2000000 ELSE user_id END AS key, " +
        "epoch_us(ts) AS tus, event_id, " +
        "CASE WHEN user_id % 11 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "COALESCE(TRY_CAST(NULLIF(regexp_extract(props, " +
        "'\"k\": (\\d+)', 1), '') AS BIGINT), 0) AS new_bal_c " +
        "FROM events), " +
        "latest AS (SELECT key, op, new_bal_c FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY key " +
        "ORDER BY tus DESC, event_id DESC) AS rn FROM ch) WHERE rn = 1), " +
        "base AS (SELECT c_custkey AS key, c_name AS name, " +
        "CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_c FROM customer) " +
        "SELECT key, name, bal_c, 'kept' AS action FROM base " +
        "WHERE NOT EXISTS (SELECT 1 FROM latest WHERE latest.key = " +
        "base.key) " +
        "UNION ALL SELECT b.key, b.name, l.new_bal_c AS bal_c, " +
        "'updated' FROM base b JOIN latest l ON b.key = l.key " +
        "WHERE l.op = 'U' " +
        "UNION ALL SELECT l.key, '(new)', l.new_bal_c, 'inserted' " +
        "FROM latest l WHERE l.op = 'U' AND NOT EXISTS " +
        "(SELECT 1 FROM base WHERE base.key = l.key) " +
        "ORDER BY key, action")),

    "q_warehouse_merge_cdc_full" -> Q(
      (spark, dir) => {
        // FULL-COLUMN CDC MERGE — the applyCdc partial-update caveat
        // closed: the changeset carries every writable column (a
        // replacement name derived from the winning event plus the new
        // balance), so the winning op fully determines its row and the
        // sequencing law holds on ALL columns (CdcLawSpec). Plan shape
        // unchanged from q_warehouse_merge_cdc: base never shuffles,
        // one changeset-window exchange, changeset-bounded broadcasts
        // (the live/dead membership probe streams the base through a
        // semi join built from the U-set — gated in PlanSpec).
        applyCdcFull(cdcBase(spark, dir),
          cdcChangesFullFrom(Tables(spark, dir, "events")))
          .orderBy("key", "action")
      },
      Some("WITH ch AS (SELECT CASE WHEN user_id % 7 = 3 " +
        "THEN user_id + 2000000 ELSE user_id END AS key, " +
        "epoch_us(ts) AS tus, event_id, " +
        "CASE WHEN user_id % 11 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "COALESCE(TRY_CAST(NULLIF(regexp_extract(props, " +
        "'\"k\": (\\d+)', 1), '') AS BIGINT), 0) AS new_bal_c, " +
        "'ev' || CAST(event_id AS VARCHAR) AS new_name " +
        "FROM events), " +
        "latest AS (SELECT key, op, new_name, new_bal_c FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY key " +
        "ORDER BY tus DESC, event_id DESC) AS rn FROM ch) WHERE rn = 1), " +
        "base AS (SELECT c_custkey AS key, c_name AS name, " +
        "CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_c FROM customer) " +
        "SELECT key, name, bal_c, 'kept' AS action FROM base " +
        "WHERE NOT EXISTS (SELECT 1 FROM latest WHERE latest.key = " +
        "base.key) " +
        "UNION ALL SELECT l.key, l.new_name AS name, " +
        "l.new_bal_c AS bal_c, " +
        "CASE WHEN EXISTS (SELECT 1 FROM base WHERE base.key = l.key) " +
        "THEN 'updated' ELSE 'inserted' END AS action " +
        "FROM latest l WHERE l.op = 'U' " +
        "ORDER BY key, action")),

    "q_warehouse_merge_scd2" -> Q(
      (spark, dir) => {
        // SCD2 MERGE — type-2 history maintenance under the same CDC
        // feed: changed keys' current versions CLOSE at the winning
        // op's commit time, updates OPEN a new version, deletes close
        // without opening, untouched rows pass through. Base bootstrap:
        // the customer snapshot as all-open versions from t=0. Same
        // base-never-shuffles plan as the upsert family (PlanSpec);
        // replay is a strict no-op via the tus > cur_vf guard.
        applyCdcScd2(
          cdcBase(spark, dir)
            .withColumn("vf_us", lit(0L))
            .withColumn("vt_us", lit(Scd2OpenUs)),
          cdcChangesFullFrom(Tables(spark, dir, "events")))
          .orderBy("key", "vf_us", "action")
      },
      Some("WITH ch AS (SELECT CASE WHEN user_id % 7 = 3 " +
        "THEN user_id + 2000000 ELSE user_id END AS key, " +
        "epoch_us(ts) AS tus, event_id, " +
        "CASE WHEN user_id % 11 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "COALESCE(TRY_CAST(NULLIF(regexp_extract(props, " +
        "'\"k\": (\\d+)', 1), '') AS BIGINT), 0) AS new_bal_c, " +
        "'ev' || CAST(event_id AS VARCHAR) AS new_name " +
        "FROM events), " +
        "latest AS (SELECT key, tus, op, new_name, new_bal_c FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY key " +
        "ORDER BY tus DESC, event_id DESC) AS rn FROM ch) WHERE rn = 1), " +
        "base AS (SELECT c_custkey AS key, c_name AS name, " +
        "CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_c, " +
        "CAST(0 AS BIGINT) AS vf_us, " +
        "CAST(253402300800000000 AS BIGINT) AS vt_us FROM customer), " +
        // the effectiveness guard: ops at or before the key's history
        // boundary (open vf / latest close vt) are skipped — replay and
        // out-of-order protection, deleted keys included
        "cur AS (SELECT b.key, MAX(CASE WHEN b.vt_us = " +
        "253402300800000000 THEN b.vf_us ELSE b.vt_us END) AS boundary " +
        "FROM base b WHERE EXISTS " +
        "(SELECT 1 FROM latest l WHERE l.key = b.key) GROUP BY b.key), " +
        "eff AS (SELECT l.* FROM latest l LEFT JOIN cur " +
        "ON l.key = cur.key WHERE cur.boundary IS NULL " +
        "OR l.tus > cur.boundary) " +
        "SELECT key, name, bal_c, vf_us, vt_us, 'kept' AS action " +
        "FROM base WHERE NOT EXISTS " +
        "(SELECT 1 FROM eff WHERE eff.key = base.key) " +
        "UNION ALL " +
        "SELECT b.key, b.name, b.bal_c, b.vf_us, " +
        "CASE WHEN b.vt_us = 253402300800000000 THEN e.tus " +
        "ELSE b.vt_us END AS vt_us, " +
        "CASE WHEN b.vt_us = 253402300800000000 THEN 'closed' " +
        "ELSE 'history' END AS action " +
        "FROM base b JOIN eff e ON b.key = e.key " +
        "UNION ALL " +
        "SELECT key, new_name AS name, new_bal_c AS bal_c, " +
        "tus AS vf_us, CAST(253402300800000000 AS BIGINT) AS vt_us, " +
        "'opened' AS action FROM eff WHERE op = 'U' " +
        "ORDER BY key, vf_us, action")),

    "q_warehouse_merge_scd2_incremental" -> Q(
      (spark, dir) => {
        // two-day INCREMENTAL scd2 via the COMPACT fold: day-split
        // changesets fold through applyCdcScd2Compact (bounded state +
        // append-only log); the output is the RECONSTRUCTED history
        // (log ∪ final open rows). The oracle independently replays the
        // FULL-history two-day fold in SQL, so the hash match proves
        // compact ≡ full cross-engine — the reconstruction law with
        // DuckDB as the referee. Fixed literal cut (2024-01-16T00Z in
        // µs), never a percentile (approx quantiles differ by engine).
        val changes = cdcChangesFullFrom(Tables(spark, dir, "events"))
        val cut = 1705363200000000L
        val day1 = changes.filter(col("tus") <= cut)
        val day2 = changes.filter(col("tus") > cut)
        val base = cdcBase(spark, dir)
          .withColumn("vf_us", lit(0L))
          .withColumn("vt_us", lit(Scd2OpenUs))
        // ONE capacity probe over the whole feed decides both folds'
        // broadcast-vs-shuffle side (a superset bound — see
        // applyCdcScd2) instead of a distinct+limit probe job per fold
        val side = Some(cdcSide(changes,
          broadcastRowCap(changes.schema)))
        val (c1, log1) = applyCdcScd2Compact(base, day1, sideOpt = side)
        // lineage cut between folds (the iterative-loop discipline —
        // BPE/KR do the same): the compact state is key-bounded, so
        // the parquetHandoff round-trip is cheap, while WITHOUT the
        // cut fold 2's plan tree nests fold 1's whole tree and driver
        // planning dominates wall time (measured 18 s warmed at the 8×
        // fixture, 5.2 s with the cut — two folds, linear in the
        // single-fold 2.7 s). The streaming CLI gets this for free by
        // writing state to parquet per batch; parquetHandoff is the same
        // shape, and drain-immune where localCheckpoint was not.
        // BOTH frames derive from the fold's one persisted output, so
        // the paired handoff writes them in ONE job, not two.
        val (c1ck, log1ck) =
          Caches.parquetHandoff2(c1, log1, "scd2_fold_b1")
        val (c2, log2) = applyCdcScd2Compact(c1ck, day2, sideOpt = side)
        log1ck.unionByName(log2)
          .unionByName(c2.filter(col("vt_us") === Scd2OpenUs))
          .orderBy("key", "vf_us")
      },
      Some("WITH ch AS (SELECT CASE WHEN user_id % 7 = 3 " +
        "THEN user_id + 2000000 ELSE user_id END AS key, " +
        "epoch_us(ts) AS tus, event_id, " +
        "CASE WHEN user_id % 11 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "COALESCE(TRY_CAST(NULLIF(regexp_extract(props, " +
        "'\"k\": (\\d+)', 1), '') AS BIGINT), 0) AS new_bal_c, " +
        "'ev' || CAST(event_id AS VARCHAR) AS new_name " +
        "FROM events), " +
        "w1 AS (SELECT key, tus, op, new_name, new_bal_c FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY key " +
        "ORDER BY tus DESC, event_id DESC) AS rn FROM ch " +
        "WHERE tus <= 1705363200000000) WHERE rn = 1), " +
        "base AS (SELECT c_custkey AS key, c_name AS name, " +
        "CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_c, " +
        "CAST(0 AS BIGINT) AS vf_us, " +
        "CAST(253402300800000000 AS BIGINT) AS vt_us FROM customer), " +
        // day 1: bootstrap boundaries are all 0 < any tus, so every
        // day-1 winner is effective
        "s1 AS (SELECT key, name, bal_c, vf_us, vt_us FROM base " +
        "WHERE key NOT IN (SELECT key FROM w1) " +
        "UNION ALL SELECT b.key, b.name, b.bal_c, b.vf_us, " +
        "w.tus AS vt_us FROM base b JOIN w1 w ON b.key = w.key " +
        "UNION ALL SELECT key, new_name, new_bal_c, tus, " +
        "CAST(253402300800000000 AS BIGINT) FROM w1 WHERE op = 'U'), " +
        "w2 AS (SELECT key, tus, op, new_name, new_bal_c FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY key " +
        "ORDER BY tus DESC, event_id DESC) AS rn FROM ch " +
        "WHERE tus > 1705363200000000) WHERE rn = 1), " +
        "cur2 AS (SELECT s.key, MAX(CASE WHEN s.vt_us = " +
        "253402300800000000 THEN s.vf_us ELSE s.vt_us END) AS boundary " +
        "FROM s1 s WHERE EXISTS (SELECT 1 FROM w2 WHERE w2.key = s.key) " +
        "GROUP BY s.key), " +
        "eff2 AS (SELECT w.* FROM w2 w LEFT JOIN cur2 c " +
        "ON w.key = c.key WHERE c.boundary IS NULL " +
        "OR w.tus > c.boundary) " +
        "SELECT key, name, bal_c, vf_us, vt_us FROM (" +
        "SELECT key, name, bal_c, vf_us, vt_us FROM s1 " +
        "WHERE key NOT IN (SELECT key FROM eff2) " +
        "UNION ALL SELECT s.key, s.name, s.bal_c, s.vf_us, " +
        "CASE WHEN s.vt_us = 253402300800000000 THEN e.tus " +
        "ELSE s.vt_us END AS vt_us " +
        "FROM s1 s JOIN eff2 e ON s.key = e.key " +
        "UNION ALL SELECT key, new_name AS name, new_bal_c AS bal_c, " +
        "tus AS vf_us, CAST(253402300800000000 AS BIGINT) AS vt_us " +
        "FROM eff2 WHERE op = 'U') " +
        "ORDER BY key, vf_us")),

    "q_warehouse_ivm_join" -> Q(
      (spark, dir) =>
        // signed-delta incremental JOIN-view maintenance — see
        // ivmJoinView: MV0 + two delta-broadcast join terms + one
        // mergeable re-aggregation; arrivals AND retractions. The
        // oracle recomputes the view from scratch over the final state
        // (all orders minus the cancelled old ones, all lineitem), so
        // the hash match proves incremental ≡ recompute cross-engine.
        ivmJoinView(spark, dir),
      Some("SELECT o_custkey, COUNT(*) AS n_lines, " +
        Cols.froundSql(s"CAST($revenueCpSql AS DOUBLE)/10000.0", 4) +
        " AS revenue " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE NOT (o_orderdate < TIMESTAMP '1998-01-01' " +
        "AND o_orderkey % 13 = 0) " +
        "GROUP BY o_custkey ORDER BY o_custkey")),

    "q_warehouse_ivm_minmax" -> Q(
      (spark, dir) =>
        // IVM with a NON-INVERTIBLE aggregate (MAX under retraction) —
        // see ivmMinmaxView: untouched groups pass through from the MV
        // unread, the delta's own key set recomputes from a
        // semi-probed base pass. Oracle = full recompute, so the hash
        // match proves the group-scoped fallback is exact — including
        // the groups whose retracted row WAS the maximum.
        ivmMinmaxView(spark, dir),
      Some("SELECT o_custkey, COUNT(*) AS n_orders, " +
        "CAST(MAX(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) " +
        "AS BIGINT) AS max_price_c " +
        "FROM orders " +
        "WHERE NOT (o_orderdate < TIMESTAMP '1998-01-01' " +
        "AND o_orderkey % 13 = 0) " +
        "GROUP BY o_custkey ORDER BY o_custkey")),

    "q_warehouse_ivm_incremental" -> Q(
      (spark, dir) =>
        // ITERATIVE IVM — MV0 folded through TWO successive delta
        // batches (see ivmJoinFold; parquetHandoff cuts fold lineage).
        // The oracle recomputes the final state from scratch, so the
        // hash match proves the signed algebra composes across
        // batches: maintain-then-maintain ≡ recompute — the nightly
        // production loop, not the one-shot demo.
        ivmJoinFold(spark, dir),
      Some("SELECT o_custkey, COUNT(*) AS n_lines, " +
        Cols.froundSql(s"CAST($revenueCpSql AS DOUBLE)/10000.0", 4) +
        " AS revenue " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE NOT (o_orderdate < TIMESTAMP '1997-07-01' " +
        "AND o_orderkey % 13 = 0) " +
        "GROUP BY o_custkey ORDER BY o_custkey")),

    "q_warehouse_ivm_distinct" -> Q(
      (spark, dir) =>
        // IVM for exact COUNT(DISTINCT) — the AUXILIARY-STATE class:
        // see ivmDistinctView. The support table absorbs arrivals and
        // retractions at (group, value) grain; only 0↔1 support
        // crossings move the distinct count. Oracle = from-scratch
        // COUNT(DISTINCT) over the final state, so the hash match
        // proves the support algebra exact cross-engine.
        ivmDistinctView(spark, dir),
      Some("SELECT l_suppkey, " +
        "CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts " +
        "FROM lineitem " +
        "WHERE NOT (l_shipdate < TIMESTAMP '1998-01-01' " +
        "AND l_orderkey % 13 = 0) " +
        "GROUP BY l_suppkey ORDER BY l_suppkey")),

    "q_warehouse_ivm_distinct_incremental" -> Q(
      (spark, dir) =>
        // ITERATIVE count-distinct IVM: two delta windows fold through
        // the MERGE-ON-READ support state, each batch consuming the
        // state the previous one extended (ivmDistinctFold). The state
        // write per batch is the signed sidecar ITSELF — O(delta),
        // never a table rewrite (the rewrite lives in the amortized
        // compaction, q_warehouse_ivm_support_compact). Oracle
        // recomputes the final view from scratch; IvmLawSpec pins the
        // resolved support table against a from-scratch recompute:
        // state AND view survive composition.
        ivmDistinctFold(spark, dir),
      Some("SELECT l_suppkey, " +
        "CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts " +
        "FROM lineitem " +
        "WHERE NOT (l_shipdate < TIMESTAMP '1997-07-01' " +
        "AND l_orderkey % 13 = 0) " +
        "GROUP BY l_suppkey ORDER BY l_suppkey")),

    "q_warehouse_ivm_support_compact" -> Q(
      (spark, dir) => {
        // The AMORTIZED half of the merge-on-read support state: fold
        // the two nightly sidecars into the bucketed base, rewriting
        // ONLY the buckets the sidecars touch (untouched buckets carry
        // over as links — IvmLawSpec gates them byte-identical, the
        // q_sink_partition_overwrite device applied to IVM state).
        // The query measures the COMPACTOR's own work: it consumes
        // the sidecars (ivmDistinctSidecars — same d1/d2 pair folds
        // the maintenance steps write) without recomputing the view.
        // Full oracle on the STATE itself: the compacted (l_suppkey,
        // l_partkey, cnt) table equals a from-scratch support
        // recompute cross-engine — the support algebra, the sidecar
        // resolution, AND the compaction are pinned in one hash.
        val st = ivmDistinctSidecars(spark, dir,
          "1997-07-01", "1998-01-01", 13L)
        val compacted = compactSupport(spark, st.schema, st.base,
          st.sidecars, graft.io.Scratch.subTagged("ivm_dcm_compact"))
        spark.read.schema(st.schema.base).parquet(compacted)
          .select(col("l_suppkey"), col("l_partkey"), col("cnt"))
          .orderBy("l_suppkey", "l_partkey")
      },
      Some("SELECT l_suppkey, l_partkey, " +
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem " +
        "WHERE NOT (l_shipdate < TIMESTAMP '1997-07-01' " +
        "AND l_orderkey % 13 = 0) " +
        "GROUP BY l_suppkey, l_partkey " +
        "ORDER BY l_suppkey, l_partkey")),

    "q_warehouse_ivm_sketch" -> Q(
      (spark, dir) =>
        // INSERT-ONLY sketch IVM: standing per-group HLL registers,
        // delta-only sketching, lossless register merge — see
        // ivmSketchView. rows-only (Spark's Datasketches estimates ≠
        // DuckDB's sketch); IvmLawSpec pins merged ≡ one-shot
        // REGISTER-EXACTLY plus HLL-error accuracy vs exact, and
        // q_agg_hll_sketch carries the same estimator under the
        // ≤10 % AggSpec contract.
        ivmSketchView(spark, dir),
      None),

    "q_warehouse_merge_dv" -> Q(
      (spark, dir) => {
        // MERGE-ON-READ CDC — the deletion-vector half of the merge
        // design space (applyCdcFull is copy-on-write): the merge job
        // writes only changeset-bounded sidecars (key-grained DV +
        // replacement rows), the base parquet is immutable, and THIS —
        // the read path — reconciles: one broadcast anti probe + union,
        // zero hash exchanges (PlanSpec). Same final table as the
        // copy-on-write merge (CdcLawSpec pins it row-for-row), same
        // oracle reconstruction minus the action labels.
        mergeOnReadScan(spark, mergeOnReadLayout(spark, dir))
          .orderBy("key")
      },
      Some("WITH ch AS (SELECT CASE WHEN user_id % 7 = 3 " +
        "THEN user_id + 2000000 ELSE user_id END AS key, " +
        "epoch_us(ts) AS tus, event_id, " +
        "CASE WHEN user_id % 11 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "COALESCE(TRY_CAST(NULLIF(regexp_extract(props, " +
        "'\"k\": (\\d+)', 1), '') AS BIGINT), 0) AS new_bal_c, " +
        "'ev' || CAST(event_id AS VARCHAR) AS new_name " +
        "FROM events), " +
        "latest AS (SELECT key, op, new_name, new_bal_c FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY key " +
        "ORDER BY tus DESC, event_id DESC) AS rn FROM ch) WHERE rn = 1), " +
        "base AS (SELECT c_custkey AS key, c_name AS name, " +
        "CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_c FROM customer) " +
        "SELECT key, name, bal_c FROM base " +
        "WHERE NOT EXISTS (SELECT 1 FROM latest WHERE latest.key = " +
        "base.key) " +
        "UNION ALL SELECT l.key, l.new_name AS name, " +
        "l.new_bal_c AS bal_c FROM latest l WHERE l.op = 'U' " +
        "ORDER BY key")),

    "q_warehouse_time_travel" -> Q(
      (spark, dir) => {
        // TIME TRAVEL on the merge-on-read table: because the merge
        // wrote only sidecars, the immutable base IS the v0 snapshot —
        // "AS OF before-merge" is a plain read of base/, the current
        // version reconciles the sidecars, both served from ONE layout
        // with zero copies (the lakehouse snapshot-read mechanism,
        // here explicit). The two-snapshot audit — row count + exact
        // balance total per version — is the reconciliation report a
        // reader runs after every merge; the oracle recomputes both
        // snapshots from the original tables.
        val root = mergeOnReadLayout(spark, dir)
        def audit(df: org.apache.spark.sql.DataFrame, snap: String) =
          df.agg(count(lit(1)).as("n_rows"),
              sum("bal_c").as("sum_bal_c"))
            .select(lit(snap).as("snap"), col("n_rows"),
              col("sum_bal_c"))
        audit(spark.read.parquet(s"$root/base"), "v0")
          .unionByName(audit(mergeOnReadScan(spark, root), "v1"))
          .orderBy("snap")
      },
      Some("WITH ch AS (SELECT CASE WHEN user_id % 7 = 3 " +
        "THEN user_id + 2000000 ELSE user_id END AS key, " +
        "epoch_us(ts) AS tus, event_id, " +
        "CASE WHEN user_id % 11 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "COALESCE(TRY_CAST(NULLIF(regexp_extract(props, " +
        "'\"k\": (\\d+)', 1), '') AS BIGINT), 0) AS new_bal_c " +
        "FROM events), " +
        "latest AS (SELECT key, op, new_bal_c FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY key " +
        "ORDER BY tus DESC, event_id DESC) AS rn FROM ch) WHERE rn = 1), " +
        "base AS (SELECT c_custkey AS key, " +
        "CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_c FROM customer), " +
        "merged AS (SELECT key, bal_c FROM base " +
        "WHERE NOT EXISTS (SELECT 1 FROM latest WHERE latest.key = " +
        "base.key) " +
        "UNION ALL SELECT key, new_bal_c FROM latest WHERE op = 'U') " +
        "SELECT 'v0' AS snap, COUNT(*) AS n_rows, " +
        "CAST(SUM(bal_c) AS BIGINT) AS sum_bal_c FROM base " +
        "UNION ALL SELECT 'v1', COUNT(*), " +
        "CAST(SUM(bal_c) AS BIGINT) FROM merged ORDER BY snap")),

    "q_warehouse_commit_log" -> Q(
      (spark, dir) => {
        // OCC COMMIT LOG read path: four append batches committed
        // through the filesystem CAS (commitLogLayout; CommitLogSpec
        // races the protocol itself) — this query resolves the dense
        // pointer sequence and audits every version's snapshot
        // (cumulative rows + exact balance), i.e. the per-version
        // reconciliation a reader runs against an OCC table. Each data
        // directory is read ONCE (agg pushed to the scan); the
        // cumulative fold is a window over #versions rows.
        val root = commitLogLayout(spark, dir)
        val perV = graft.io.CommitLog.versions(root).map { case (v, d) =>
          spark.read.parquet(d)
            .agg(count(lit(1)).as("n"), sum("price_c").as("s"))
            .select(lit(v).as("version"), col("n"), col("s"))
        }.reduce(_ unionByName _)
        val w = Window.orderBy("version")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perV.select(col("version"),
            sum("n").over(w).as("n_rows"),
            sum("s").over(w).as("sum_price_c"))
          .orderBy("version")
      },
      Some("WITH b AS (SELECT CAST(o_orderkey % 4 AS INTEGER) AS " +
        "version, COUNT(*) AS n, " +
        "SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS s " +
        "FROM orders GROUP BY 1) " +
        "SELECT version, " +
        "CAST(SUM(n) OVER (ORDER BY version) AS BIGINT) AS n_rows, " +
        "CAST(SUM(s) OVER (ORDER BY version) AS BIGINT) AS sum_price_c " +
        "FROM b ORDER BY version")),

    "q_warehouse_restore" -> Q(
      (spark, dir) => {
        // RESTORE read: the log holds v0 (base), v1, v2 (two CDC
        // folds, full state per version), then v3 — the rollback, a
        // forward commit whose pointer names v1's data
        // (restoreLogLayout; CommitLogSpec pins the protocol). The
        // query reads the LATEST head through the log; the oracle
        // independently recomputes v1's state (base + day-1 changes),
        // so the hash match proves the restored head IS v1, while v2
        // remains in history un-rewritten.
        val root = restoreLogLayout(spark, dir)
        val head = graft.io.CommitLog.versions(root).last._2
        spark.read.parquet(head)
          .select("key", "name", "bal_c")
          .orderBy("key")
      },
      Some("WITH ch AS (SELECT CASE WHEN user_id % 7 = 3 " +
        "THEN user_id + 2000000 ELSE user_id END AS key, " +
        "epoch_us(ts) AS tus, event_id, " +
        "CASE WHEN user_id % 11 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "COALESCE(TRY_CAST(NULLIF(regexp_extract(props, " +
        "'\"k\": (\\d+)', 1), '') AS BIGINT), 0) AS new_bal_c " +
        "FROM events WHERE epoch_us(ts) <= 1705363200000000), " +
        "latest AS (SELECT key, op, new_bal_c FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY key " +
        "ORDER BY tus DESC, event_id DESC) AS rn FROM ch) WHERE rn = 1), " +
        "base AS (SELECT c_custkey AS key, c_name AS name, " +
        "CAST(ROUND(c_acctbal*100,0) AS BIGINT) AS bal_c FROM customer) " +
        "SELECT key, name, bal_c FROM base " +
        "WHERE NOT EXISTS (SELECT 1 FROM latest WHERE latest.key = " +
        "base.key) " +
        "UNION ALL SELECT b.key, b.name, l.new_bal_c AS bal_c " +
        "FROM base b JOIN latest l ON b.key = l.key WHERE l.op = 'U' " +
        "UNION ALL SELECT l.key, '(new)', l.new_bal_c " +
        "FROM latest l WHERE l.op = 'U' AND NOT EXISTS " +
        "(SELECT 1 FROM base WHERE base.key = l.key) " +
        "ORDER BY key")),

    "q_warehouse_log_checkpoint" -> Q(
      (spark, dir) => {
        // CHECKPOINTED commit-log read: versions 0..1 were consolidated
        // into one version-tagged snapshot and their pointers PRUNED
        // (see checkpointedLogLayout) — the read path resolves
        // checkpoint + tail and must reconstruct the SAME per-version
        // audit as the unpruned log, pinned by sharing
        // q_warehouse_commit_log's oracle: log compaction is
        // read-invisible, cross-engine.
        val root = checkpointedLogLayout(spark, dir)
        val (ckV, snap) = graft.io.CommitLog.latestCheckpoint(root).get
        val fromSnap = spark.read.parquet(snap)
          .groupBy("version")
          .agg(count(lit(1)).as("n"), sum("price_c").as("s"))
        val fromTail = graft.io.CommitLog.versions(root)
          .filter(_._1 > ckV)
          .map { case (v, d) =>
            spark.read.parquet(d)
              .agg(count(lit(1)).as("n"), sum("price_c").as("s"))
              .select(lit(v).as("version"), col("n"), col("s"))
          }.reduce(_ unionByName _)
        val w = Window.orderBy("version")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        fromSnap.unionByName(fromTail)
          .select(col("version"),
            sum("n").over(w).as("n_rows"),
            sum("s").over(w).as("sum_price_c"))
          .orderBy("version")
      },
      Some("WITH b AS (SELECT CAST(o_orderkey % 4 AS INTEGER) AS " +
        "version, COUNT(*) AS n, " +
        "SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS s " +
        "FROM orders GROUP BY 1) " +
        "SELECT version, " +
        "CAST(SUM(n) OVER (ORDER BY version) AS BIGINT) AS n_rows, " +
        "CAST(SUM(s) OVER (ORDER BY version) AS BIGINT) AS sum_price_c " +
        "FROM b ORDER BY version")),

    "q_scd2_props" -> Q(
      (spark, dir) => {
        // SCD2 dimension build (change-data-capture): each user's props.k
        // attribute as validity intervals [valid_from, valid_to), one row
        // per change, open-ended current row. lag() finds the change
        // events, lead() over the SURVIVORS closes the intervals — two
        // window passes over the same (user_id, ts) exchange, no
        // self-join. The JSON attribute is pulled with a regexp (not a
        // JSON UDF) so the scan stays codegen'd.
        val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        val ev = Tables(spark, dir, "events")
          .select(col("user_id"), col("event_id"),
            Cols.epochUs(col("ts")).as("tus"),
            regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")
              .as("k"))
        val changes = ev
          .withColumn("prev_k", lag(col("k"), 1).over(w))
          .filter(col("prev_k").isNull || col("k") =!= col("prev_k"))
        changes
          .withColumn("valid_to", lead(col("tus"), 1).over(w))
          .select(col("user_id"), col("k"), col("tus").as("valid_from"),
            col("valid_to"), col("valid_to").isNull.as("is_current"))
          .orderBy("user_id", "valid_from", "k")
      },
      Some("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus, " +
        // TRY_CAST(NULLIF(..., '')) mirrors Spark's cast-to-null on a
        // non-matching props row (regexp_extract returns '' there and a
        // plain DuckDB CAST('' AS BIGINT) errors out)
        "TRY_CAST(NULLIF(regexp_extract(props, '\"k\": (\\d+)', 1), '') " +
        "AS BIGINT) AS k " +
        "FROM events), " +
        "lagged AS (SELECT *, LAG(k) OVER " +
        "(PARTITION BY user_id ORDER BY tus, event_id) AS prev_k FROM ev), " +
        "changes AS (SELECT * FROM lagged " +
        "WHERE prev_k IS NULL OR k <> prev_k) " +
        "SELECT user_id, k, tus AS valid_from, " +
        "LEAD(tus) OVER w AS valid_to, " +
        "LEAD(tus) OVER w IS NULL AS is_current " +
        "FROM changes " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id) " +
        "ORDER BY user_id, valid_from, k"))
  )
}
