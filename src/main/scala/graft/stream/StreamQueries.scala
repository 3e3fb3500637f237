package graft.stream

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.ops.Cols

/** Batch-equivalent forms of the streaming queries (SURVEY.md §2.10).
  * Same windowing semantics as the Structured Streaming jobs in [[Events]]
  * (tumbling/sliding/session/dedup over the events schema), but the
  * declared queries lift `value` sums to exact micro-units (×1e6 integers)
  * for oracle hash-stability, while Events keeps plain double sums for the
  * live streaming path. Events' own batch/stream parity is asserted in
  * StreamingSpec with MemoryStream.
  */
object StreamQueries {
  private def valUnits = round(col("value") * 1000000, 0).cast("long")
  private val valUnitsSql = "CAST(ROUND(value*1000000,0) AS BIGINT)"

  /** Batch-scalable interval-join core shared by the four declared
    * interval queries: SAME semantics as [[Events.intervalJoin]] but
    * expressed as a marker-hinted binned band equi-join
    * (RangeJoinBinRule) — the join keys become (user, 2³¹µs-time-bin ≈
    * 35.8 min ≥ the 30-min band, ≤2 bins per purchase window), so a
    * hot user's pair evaluation splits across TIME BINS instead of
    * piling into one quadratic task. Measured on the 30 %-hot-user
    * Zipf fixture: the naive single-key batch join reads ~205 s where
    * this shape stays in the output-bound band. The STREAMING leg
    * keeps the direct formulation (watermark state handles it there);
    * StreamingSpec pins binned-batch ≡ direct-batch ≡ stream, and the
    * DuckDB oracles pin the whole family exactly.
    *
    * Returns (purchases, views, matched pairs) — the outer variants
    * complete the null sides with output-bounded anti joins against
    * the matched id sets.
    */
  private def binnedInterval(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    graft.plans.RangeJoin.install(spark)
    val ev = Tables(spark, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        Cols.epochUs(col("ts")).as("p_tus"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        Cols.epochUs(col("ts")).as("v_tus"))
    val w = 1L << 31
    // persisted: the outer variants read pairs once for the matched
    // rows and once per anti completion — cache so the band join runs
    // once, not per consumer
    val pairs = graft.ops.Caches.register(v.join(p,
        col("v_user") === col("user_id") &&
          col("v_tus") >= col("p_tus") - lit(1800000000L) &&
          col("v_tus") < col("p_tus") &&
          graft.plans.RangeJoin.marker(w, col("v_tus"),
            col("p_tus") - lit(1800000000L), col("p_tus")))
      .select(col("p_id"), col("user_id"), col("p_tus"), col("v_id"),
        col("v_tus"))
      .persist())
    (p, v, pairs)
  }

  def queries: Map[String, Q] = Map(
    "q_stream_ema" -> Q(
      (spark, dir) => {
        // batch twin of the transformWithState job (TwsEma): each user's
        // FINAL floor-integer EMA state after the whole stream — the
        // value the per-user ValueState converges to. Same recurrence as
        // q_win_ema; TwsSpec pins the streaming processor (RocksDB
        // store, multi-batch) to exactly this output.
        import org.apache.spark.sql.expressions.Window
        val wRun = Window.partitionBy("user_id")
          .orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wLast = Window.partitionBy("user_id")
          .orderBy(desc("ts"), desc("event_id"))
        Tables(spark, dir, "events")
          .withColumn("v_c", Cols.cents(col("value")))
          .select(col("user_id"),
            graft.functions.EmaWindow.emaCents(spark, col("v_c"))
              .over(wRun).as("ema_c"),
            row_number().over(wLast).as("__rn"))
          .filter(col("__rn") === 1)
          .select("user_id", "ema_c")
          .orderBy("user_id")
      },
      Some("WITH RECURSIVE e AS (SELECT event_id, user_id, " +
        "CAST(ROUND(value*100,0) AS BIGINT) AS v_c, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "AS rn FROM events), " +
        "r AS (SELECT event_id, user_id, rn, v_c AS ema_c FROM e " +
        "WHERE rn = 1 UNION ALL " +
        "SELECT e.event_id, e.user_id, e.rn, (e.v_c + r.ema_c) // 2 " +
        "AS ema_c FROM e JOIN r ON e.user_id = r.user_id " +
        "AND e.rn = r.rn + 1), " +
        "mx AS (SELECT user_id, MAX(rn) AS rn FROM e GROUP BY user_id) " +
        "SELECT r.user_id, r.ema_c FROM r JOIN mx " +
        "ON r.user_id = mx.user_id AND r.rn = mx.rn ORDER BY r.user_id")),

    "q_stream_tumbling" -> Q(
      (spark, dir) =>
        Tables(spark, dir, "events")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(valUnits).as("__v"))
          .select(Cols.epochUs(col("w.start")).as("win_start_us"),
            col("event_type"), col("n"),
            (col("__v").cast("double") / 1000000.0).as("sum_value"))
          .orderBy("win_start_us", "event_type"),
      Some("SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, " +
        "event_type, COUNT(*) AS n, " +
        s"CAST(CAST(SUM($valUnitsSql) AS BIGINT) AS DOUBLE)/1000000.0 " +
        "AS sum_value FROM events GROUP BY 1, 2 " +
        "ORDER BY win_start_us, event_type")),

    "q_stream_sliding" -> Q(
      (spark, dir) =>
        Tables(spark, dir, "events")
          .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(Cols.epochUs(col("w.start")).as("win_start_us"),
            col("event_type"), col("n"))
          .orderBy("win_start_us", "event_type"),
      // a 1h/15min sliding window always covers each row exactly 4 times:
      // starts floor15(ts) − k·15min, k = 0..3
      Some("SELECT (epoch_us(ts)//900000000)*900000000 - k*900000000 " +
        "AS win_start_us, event_type, COUNT(*) AS n " +
        "FROM events CROSS JOIN (VALUES (0::BIGINT),(1),(2),(3)) AS t(k) " +
        "GROUP BY 1, 2 ORDER BY win_start_us, event_type")),

    "q_stream_session" -> Q(
      (spark, dir) =>
        Tables(spark, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"),
            col("user_id"))
          .agg(count(lit(1)).as("n"), sum(valUnits).as("__v"))
          .select(col("user_id"),
            Cols.epochUs(col("w.start")).as("sess_start_us"),
            col("n"),
            (col("__v").cast("double") / 1000000.0).as("sum_value"))
          .orderBy("user_id", "sess_start_us"),
      // gaps-and-islands oracle: a session breaks when the gap > 30 min
      Some("WITH g AS (SELECT user_id, ts, value, CASE WHEN " +
        "epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id)) > 1800000000 OR LAG(ts) OVER (PARTITION " +
        "BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS brk " +
        "FROM events), s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id " +
        "ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS sid FROM g) " +
        "SELECT user_id, epoch_us(MIN(ts)) AS sess_start_us, COUNT(*) AS n, " +
        s"CAST(CAST(SUM($valUnitsSql) AS BIGINT) AS DOUBLE)/1000000.0 " +
        "AS sum_value FROM s GROUP BY user_id, sid " +
        "ORDER BY user_id, sess_start_us")),

    "q_stream_dedup" -> Q(
      (spark, dir) => {
        // duplicate every event (simulating at-least-once delivery), then
        // dedup on event_id — rows in a dup pair are identical, so
        // dropDuplicates is deterministic here
        val e = Tables(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            Cols.epochUs(col("ts")).as("ts_us"))
        e.unionByName(e)
          .dropDuplicates("event_id")
          .orderBy("event_id")
      },
      Some("SELECT DISTINCT event_id, user_id, event_type, " +
        "epoch_us(ts) AS ts_us FROM " +
        "(SELECT * FROM events UNION ALL SELECT * FROM events) " +
        "ORDER BY event_id")),

    "q_stream_enrich" -> Q(
      (spark, dir) => {
        // batch-equivalent of Events.enrich (stream-static dimension
        // join): hourly event counts per customer market segment. Same
        // join + window logic as the streaming job; MemoryStream parity
        // in StreamingSpec.
        val e = Tables(spark, dir, "events")
        val c = Tables(spark, dir, "customer")
        Events.enrich(e, c)
          .select(Cols.epochUs(col("win_start")).as("win_start_us"),
            col("c_mktsegment"), col("n"))
          .orderBy("win_start_us", "c_mktsegment")
      },
      Some("SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, " +
        "c_mktsegment, COUNT(*) AS n " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY 1, 2 ORDER BY win_start_us, c_mktsegment")),

    "q_stream_hic_marginals" -> Q(
      (spark, dir) => {
        // batch-equivalent of the §2.10 incremental Hi-C job: the SAME
        // locusUpdates column logic HicStream.incrementalMarginals feeds
        // into flatMapGroupsWithState, aggregated to the per-chromosome
        // summary the streaming state converges to (StreamingSpec pins
        // the stream side against batch q_hic_marginals per locus; this
        // declared query oracle-pins the shared transform per chr).
        HicStream.marginals(graft.hic.HicQueries.contactPairs(
            graft.hic.HicQueries.standingView(spark, dir)))
          .groupBy("chr")
          .agg(count(lit(1)).as("n_loci"),
            sum(col("hitCount")).as("sum_hits"),
            max(col("hitCount")).as("max_hits"),
            sum(col("n_pairs")).as("n_pair_ends"))
          .orderBy("chr")
      },
      Some(graft.hic.ContactsView.cte + ", m AS (SELECT chr, mid, " +
        "CAST(SUM(contactCount) AS BIGINT) AS hitCount, " +
        "COUNT(*) AS n_pairs FROM " +
        "(SELECT chr, mid1 AS mid, contactCount FROM c " +
        "UNION ALL SELECT chr, mid2 AS mid, contactCount FROM c) " +
        "GROUP BY chr, mid) " +
        "SELECT chr, COUNT(*) AS n_loci, " +
        "CAST(SUM(hitCount) AS BIGINT) AS sum_hits, " +
        "CAST(MAX(hitCount) AS BIGINT) AS max_hits, " +
        "CAST(SUM(n_pairs) AS BIGINT) AS n_pair_ends " +
        "FROM m GROUP BY chr ORDER BY chr")),

    "q_stream_interval_join" -> Q(
      (spark, dir) => {
        // batch frame of the stream-stream purchase ⋈ prior-views join,
        // in the binned-band shape (see binnedInterval — the naive
        // single-key join is quadratic on a hot user); StreamingSpec
        // asserts MemoryStream parity of the direct transform AND
        // binned ≡ direct. Timestamps leave as epoch-µs.
        val (_, _, pairs) = binnedInterval(spark, dir)
        pairs.orderBy("p_id", "v_id")
      },
      Some("SELECT p.event_id AS p_id, p.user_id, " +
        "epoch_us(p.ts) AS p_tus, v.event_id AS v_id, " +
        "epoch_us(v.ts) AS v_tus " +
        "FROM events p JOIN events v ON p.user_id = v.user_id " +
        "AND p.event_type = 'purchase' AND v.event_type = 'view' " +
        "AND epoch_us(v.ts) >= epoch_us(p.ts) - 1800000000 " +
        "AND epoch_us(v.ts) < epoch_us(p.ts) " +
        "ORDER BY p_id, v_id")),

    "q_stream_interval_join_outer" -> Q(
      (spark, dir) => {
        // left-outer batch frame: binned matched pairs + an output-
        // bounded anti completion for no-view purchases (the
        // watermark-driven null-emission rows of the streaming leg,
        // -1 sentinels for hash stability).
        val (p, _, pairs) = binnedInterval(spark, dir)
        val unmatched = p
          .join(pairs.select("p_id").distinct(), Seq("p_id"),
            "left_anti")
          .select(col("p_id"), col("user_id"), col("p_tus"),
            lit(-1L).as("v_id"), lit(-1L).as("v_tus"))
        pairs.unionByName(unmatched).orderBy("p_id", "v_id")
      },
      Some("SELECT p.event_id AS p_id, p.user_id, " +
        "epoch_us(p.ts) AS p_tus, " +
        "COALESCE(v.event_id, -1) AS v_id, " +
        "COALESCE(epoch_us(v.ts), -1) AS v_tus " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.user_id " +
        "AND epoch_us(v.ts) >= epoch_us(p.ts) - 1800000000 " +
        "AND epoch_us(v.ts) < epoch_us(p.ts) " +
        "ORDER BY p_id, v_id")),

    "q_stream_interval_join_full" -> Q(
      (spark, dir) => {
        // full-outer batch frame: binned matched pairs + BOTH
        // output-bounded anti completions — no-view purchases AND
        // no-follow-up views (the abandoned-browse signal), -1
        // sentinels on whichever side is absent. StreamingSpec pins
        // the streaming leg's two-sided null emission on the direct
        // transform; (p_id, v_id) is a total order (unmatched views
        // carry p_id=-1 and distinct v_ids).
        val (p, v, pairs) = binnedInterval(spark, dir)
        val unP = p
          .join(pairs.select("p_id").distinct(), Seq("p_id"),
            "left_anti")
          .select(col("p_id"), col("user_id"), col("p_tus"),
            lit(-1L).as("v_id"), lit(-1L).as("v_tus"))
        val unV = v
          .join(pairs.select("v_id").distinct(), Seq("v_id"),
            "left_anti")
          .select(lit(-1L).as("p_id"), col("v_user").as("user_id"),
            lit(-1L).as("p_tus"), col("v_id"), col("v_tus"))
        pairs.unionByName(unP).unionByName(unV)
          .orderBy("p_id", "v_id")
      },
      Some("SELECT COALESCE(p.event_id, -1) AS p_id, " +
        "COALESCE(p.user_id, v.user_id) AS user_id, " +
        "COALESCE(epoch_us(p.ts), -1) AS p_tus, " +
        "COALESCE(v.event_id, -1) AS v_id, " +
        "COALESCE(epoch_us(v.ts), -1) AS v_tus " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.user_id " +
        "AND epoch_us(v.ts) >= epoch_us(p.ts) - 1800000000 " +
        "AND epoch_us(v.ts) < epoch_us(p.ts) " +
        "ORDER BY p_id, v_id")),

    "q_stream_interval_join_right" -> Q(
      (spark, dir) => {
        // right-outer batch frame — the view-side projection: binned
        // matched pairs + the no-follow-up views (purchase columns
        // -1), unmatched purchases drop. Completes the interval family
        // inner/left/full/right on the shared binned core.
        val (_, v, pairs) = binnedInterval(spark, dir)
        val unV = v
          .join(pairs.select("v_id").distinct(), Seq("v_id"),
            "left_anti")
          .select(lit(-1L).as("p_id"), col("v_user").as("user_id"),
            lit(-1L).as("p_tus"), col("v_id"), col("v_tus"))
        pairs.unionByName(unV).orderBy("p_id", "v_id")
      },
      Some("SELECT COALESCE(p.event_id, -1) AS p_id, " +
        "COALESCE(p.user_id, v.user_id) AS user_id, " +
        "COALESCE(epoch_us(p.ts), -1) AS p_tus, " +
        "v.event_id AS v_id, epoch_us(v.ts) AS v_tus " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "RIGHT JOIN (SELECT * FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.user_id " +
        "AND epoch_us(v.ts) >= epoch_us(p.ts) - 1800000000 " +
        "AND epoch_us(v.ts) < epoch_us(p.ts) " +
        "ORDER BY p_id, v_id")))
}
