package graft.hic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.ops.Cols
import graft.stream.HicStream

/** Declared Hi-C-shaped queries over the contacts view (SURVEY.md §2.B
  * q_hic_*). These exercise the statistical plumbing of the significance
  * pipeline (SURVEY A13–A20) in an oracle-checkable form.
  */
object HicQueries {
  /** Distance-range defaults for the contacts view (≈ FitHiC's -L/-U). */
  val L = 50000L
  val U = 5000000L
  private val keys = Seq("chr", "mid1", "mid2")

  /** The contacts view as a standing table (Caches.readStanding: written
    * once per JVM × sfDir, read back with its schema). In the reference
    * the contact map and fragment marginals are input FILES (SURVEY
    * A1/A2 — gz-TSV the pipeline reads), not per-query derivations;
    * synthesizing them from lineitem is this repo's fixture shim, and
    * the standing parquet is the reference's input shape. Same rows as
    * [[ContactsView]] byte for byte (string/long/double columns
    * round-trip losslessly). A query that traverses it along several
    * lineages re-reads the pruned parquet; it keeps an in-memory copy
    * only where the re-read timed slower.
    */
  private[graft] def standingView(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.ops.Caches.readStanding("hic_cview", dir, ContactsView(spark, dir))

  /** The fragment-marginals table (chr, mid, hitCount — the reference's
    * FRAGMENTS input file, A2) as a standing parquet of the contacts
    * view's [[HicStream.marginals]]; shared by the full-pipeline queries
    * and q_csv_roundtrip.
    */
  private def standingFrags(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.ops.Caches.readStanding("hic_frags", dir,
      HicStream.marginals(contactPairs(standingView(spark, dir)))
        .select("chr", "mid", "hitCount"))

  /** The intra contacts view as a contact table (chr1, mid1, chr2, mid2,
    * contactCount).
    */
  private[graft] def contactPairs(c: DataFrame): DataFrame =
    c.select(col("chr").as("chr1"), col("mid1"), col("chr").as("chr2"),
      col("mid2"), col("contactCount"))

  /** The [[InterView]] as a standing table: the inter contact map is
    * equally an input FILE in the reference, not a per-query synthesis.
    */
  private def standingInter(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.ops.Caches.readStanding("hic_iview", dir, InterView(spark, dir))

  /** The inter view's fragment marginals (chr, mid, hitCount): the
    * inter model's FRAGMENTS input (A2), a standing table like
    * [[standingFrags]] is for the intra view.
    */
  private def standingInterFrags(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.ops.Caches.readStanding("hic_ifrags", dir,
      HicStream.marginals(standingInter(spark, dir))
        .select("chr", "mid", "hitCount"))

  def queries: Map[String, Q] = Map(
    "q_hic_merge_filter" -> Q(
      (spark, dir) => {
        // A25: merge runs of adjacent (5 kb apart) significant bin pairs
        val sig = contactPairs(standingView(spark, dir)
          .filter(col("pseudo_p") < 0.15 && col("dist").between(L, U)))
        MergeFilter.mergeAdjacent(sig, 5000L)
          .select(col("chr1").as("chr"), col("mid1"), col("mid2_start"),
            col("mid2_end"), col("n_bins"), col("sumCount"))
          .orderBy("chr", "mid1", "mid2_start")
      },
      Some(ContactsView.cte + ", sig AS (SELECT chr, mid1, mid2, " +
        s"contactCount FROM c WHERE pseudo_p < 0.15 AND dist BETWEEN $L " +
        s"AND $U), " +
        "g AS (SELECT *, CASE WHEN mid2 - LAG(mid2) OVER " +
        "(PARTITION BY chr, mid1 ORDER BY mid2) = 5000 THEN 0 ELSE 1 END " +
        "AS brk FROM sig), " +
        "i AS (SELECT *, SUM(brk) OVER (PARTITION BY chr, mid1 " +
        "ORDER BY mid2 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS island FROM g) " +
        "SELECT chr, mid1, MIN(mid2) AS mid2_start, MAX(mid2) AS mid2_end, " +
        "COUNT(*) AS n_bins, CAST(SUM(contactCount) AS BIGINT) AS sumCount " +
        "FROM i GROUP BY chr, mid1, island ORDER BY chr, mid1, mid2_start")),

    "q_hic_significances" -> Q(
      (spark, dir) => {
        // Flagship composition: the FULL two-pass Fit-Hi-C pipeline
        // (A13–A20) over the contacts view. Not SQL-expressible (binomial
        // sf + spline) → no oracle; pinned by PipelineSpec golden tests.
        // the pipeline traverses the contacts lineage ONCE, into its own
        // front-end layout
        val contacts = contactPairs(standingView(spark, dir))
        // frags = the reference's fragments INPUT file (A2) — standing
        // parquet, not per-query re-derivation
        val frags = standingFrags(spark, dir)
        // endsMappable: frags IS this view's own marginals table, so
        // every contact end is present with hitCount ≥ 1 = thr — the
        // mappability probes are row-level no-ops, skipped by assertion
        Pipeline.intraSignificances(frags, contacts, None,
            FitHiCConfig(nBins = 100, passes = 2, distLow = L, distUp = U),
            endsMappable = true)
          .select(col("pass"), col("chr1"), col("mid1"), col("mid2"),
            col("contactCount"),
            Cols.fround(col("p_value"), 8).as("p_value"),
            Cols.fround(col("q_value"), 8).as("q_value"))
          .orderBy("pass", "chr1", "mid1", "mid2")
      },
      None),

    "q_source_hic_tsv" -> Q(
      (spark, dir) => {
        // The DSv2 connector (graft.sources.HicTsv) on the same gz-TSV
        // surface as q_csv_roundtrip, but as a first-class SOURCE *and*
        // SINK: the write goes through the connector's staged-commit
        // BatchWrite, the read back through its ScanBuilder with filter
        // pushdown (chr1 =, mid1 <=) and column pruning (chr2/mid2
        // never parsed or allocated) — plan-gated in PlanSpec; the
        // oracle recomputes from the ORIGINAL tables, so a hash match
        // proves BOTH connector halves end-to-end.
        val out = graft.io.Scratch.sub("hic_tsv_src")
        // standingView: the view feeds the connector write once; the
        // read-back comes from the connector's own files
        contactPairs(standingView(spark, dir))
          .write.format("hic-tsv").option("kind", "contacts")
          .mode("overwrite").save(out)
        spark.read.format("hic-tsv").option("kind", "contacts").load(out)
          .filter(col("chr1") === "O" && col("mid1") <= 5002500L)
          .select("chr1", "mid1", "contactCount")
          .groupBy("chr1")
          .agg(count(lit(1)).as("n"),
            sum(col("contactCount")).as("sum_cc"),
            min(col("mid1")).as("min_mid"),
            max(col("mid1")).as("max_mid"))
          .orderBy("chr1")
      },
      Some(ContactsView.cte + " SELECT chr AS chr1, COUNT(*) AS n, " +
        "CAST(SUM(contactCount) AS BIGINT) AS sum_cc, " +
        "MIN(mid1) AS min_mid, MAX(mid1) AS max_mid FROM c " +
        "WHERE chr = 'O' AND mid1 <= 5002500 GROUP BY 1 ORDER BY 1")),

    "q_csv_roundtrip" -> Q(
      (spark, dir) => {
        // A1/A4: gzip-TSV egress + ingest round-trip through the domain
        // fragment format (written fresh each run, then re-read). Per-run
        // scratch subdir (unique per call so concurrent runs never clobber
        // each other mid-read; reaped at JVM exit by graft.io.Scratch).
        val out = graft.io.Scratch.sub("csv_roundtrip")
        // fixture setup, not the path under test: the marginals are the
        // standingFrags table (one parquet read) — re-deriving them here
        // with a union + groupBy per run is exactly the redundant pass
        // the standing memo exists to avoid
        val frags = standingFrags(spark, dir)
          .select(col("chr"), lit(0L).as("extraField"), col("mid"),
            col("hitCount"), lit(1).as("mappable"))
        graft.io.Tsv.write(frags, out, graft.io.Tsv.fragmentSchema.fieldNames)
        graft.io.Tsv.readFragments(spark, out)
          .groupBy("chr")
          .agg(count(lit(1)).as("n_frags"), sum(col("hitCount")).as("hits"),
            min(col("mid")).as("min_mid"), max(col("mid")).as("max_mid"))
          .orderBy("chr")
      },
      // the oracle never sees the scratch TSV — it recomputes the same
      // aggregate from the ORIGINAL tables, so a hash match proves the
      // gz-TSV write/read leg is exactly lossless (longs in, longs out)
      Some(ContactsView.cte + ", marg AS (SELECT chr, mid, " +
        "CAST(SUM(contactCount) AS BIGINT) AS hitCount FROM " +
        "(SELECT chr, mid1 AS mid, contactCount FROM c " +
        "UNION ALL SELECT chr, mid2 AS mid, contactCount FROM c) " +
        "GROUP BY chr, mid) " +
        "SELECT chr, COUNT(*) AS n_frags, " +
        "CAST(SUM(hitCount) AS BIGINT) AS hits, " +
        "MIN(mid) AS min_mid, MAX(mid) AS max_mid " +
        "FROM marg GROUP BY chr ORDER BY chr")),

    "q_hic_kr_biases" -> Q(
      (spark, dir) => {
        // A22: matrix-balancing bias vector over the contacts view
        // (iterative float fixed point → not SQL-expressible; rows-only.
        // Convergence + trim semantics pinned by KrSpec.)
        val contacts = contactPairs(
          standingView(spark, dir).filter(col("dist").between(L, U)))
        Kr.biases(contacts, trimPercentile = 0.05, iterations = 10)
          .select(col("chr"), col("mid"), Cols.fround(col("bias"), 6)
            .as("bias"))
          .orderBy("chr", "mid")
      },
      None),

    "q_hic_kr_check" -> Q(
      (spark, dir) => {
        // A22 oracle twin for q_hic_kr_biases: the SAME Kr.biases code
        // path (percentile trim → loner marking → symmetric Sinkhorn →
        // per-chr mean-1 normalization) at a FIXED 2 iterations, which
        // DuckDB can replay as unrolled CTEs. Iteration 1's sums are
        // integer-valued (exact under any order); iteration 2's float
        // sums drift by ULPs across engines, absorbed by fround(…, 6).
        // Only the iteration count differs from the production entry.
        val contacts = contactPairs(
          standingView(spark, dir).filter(col("dist").between(L, U)))
        Kr.biases(contacts, trimPercentile = 0.05, iterations = 2)
          .select(col("chr"), col("mid"), Cols.fround(col("bias"), 6)
            .as("bias"))
          .orderBy("chr", "mid")
      },
      Some(ContactsView.cte +
        s", kf AS (SELECT chr, mid1, mid2, CAST(contactCount AS DOUBLE) " +
        s"AS w FROM c WHERE dist BETWEEN $L AND $U), " +
        // symmetric edge list: both directions per off-diagonal pair,
        // the diagonal once — mirrors ChrSolver.symmetric
        "e AS (SELECT chr, mid1 AS i, mid2 AS j, w FROM kf " +
        "UNION ALL SELECT chr, mid2 AS i, mid1 AS j, w FROM kf " +
        "WHERE mid1 <> mid2), " +
        "cov AS (SELECT chr, i, SUM(w) AS cov FROM e GROUP BY chr, i), " +
        // exact interpolated percentile — same sorted[p·(n−1)] formula
        // as the in-task kernel and Spark `percentile`
        "thr AS (SELECT chr, quantile_cont(cov, 0.05) AS thr FROM cov " +
        "GROUP BY chr), " +
        "keep AS (SELECT cov.chr, cov.i FROM cov JOIN thr USING (chr) " +
        "WHERE cov.cov >= thr.thr), " +
        "trimmed AS (SELECT cov.chr, cov.i AS mid, " +
        "CAST(-1.0 AS DOUBLE) AS bias FROM cov JOIN thr USING (chr) " +
        "WHERE cov.cov < thr.thr), " +
        "ke AS (SELECT e.chr, e.i, e.j, e.w FROM e " +
        "JOIN keep ka ON e.chr = ka.chr AND e.i = ka.i " +
        "JOIN keep kb ON e.chr = kb.chr AND e.j = kb.i), " +
        // iteration 1 (b ≡ 1): rowsum = s; integer-valued, exact
        "s1 AS (SELECT chr, i, SUM(w) AS s FROM ke GROUP BY chr, i), " +
        "m1 AS (SELECT chr, SUM(s)/COUNT(*) AS mean_rs FROM s1 " +
        "GROUP BY chr), " +
        "b1 AS (SELECT s1.chr, s1.i, SQRT(s1.s/m1.mean_rs) AS b " +
        "FROM s1 JOIN m1 ON s1.chr = m1.chr), " +
        // iteration 2: s = Σ w/b_j; rowsum = s/b_i; b *= sqrt(rs/mean)
        "s2 AS (SELECT ke.chr, ke.i, SUM(ke.w/b1.b) AS s FROM ke " +
        "JOIN b1 ON ke.chr = b1.chr AND ke.j = b1.i " +
        "GROUP BY ke.chr, ke.i), " +
        "r2 AS (SELECT s2.chr, s2.i, b1.b AS b, s2.s/b1.b AS rowsum " +
        "FROM s2 JOIN b1 ON s2.chr = b1.chr AND s2.i = b1.i), " +
        "m2 AS (SELECT chr, SUM(rowsum)/COUNT(*) AS mean_rs FROM r2 " +
        "GROUP BY chr), " +
        "b2 AS (SELECT r2.chr, r2.i, r2.b*SQRT(r2.rowsum/m2.mean_rs) " +
        "AS b FROM r2 JOIN m2 ON r2.chr = m2.chr), " +
        // free scale fixed at per-chromosome mean 1, as the kernel does
        "mb AS (SELECT chr, SUM(b)/COUNT(*) AS mean_b FROM b2 " +
        "GROUP BY chr), " +
        "solved AS (SELECT b2.chr, b2.i AS mid, b2.b/mb.mean_b AS bias " +
        "FROM b2 JOIN mb ON b2.chr = mb.chr), " +
        // kept locus with every partner trimmed → no kept edge → bias 1
        "loners AS (SELECT ka.chr, ka.i AS mid, CAST(1.0 AS DOUBLE) " +
        "AS bias FROM keep ka WHERE NOT EXISTS (SELECT 1 FROM s1 " +
        "WHERE s1.chr = ka.chr AND s1.i = ka.i)) " +
        "SELECT chr, mid, " + Cols.froundSql("bias", 6) + " AS bias " +
        "FROM (SELECT * FROM solved UNION ALL SELECT * FROM loners " +
        "UNION ALL SELECT * FROM trimmed) ORDER BY chr, mid")),

    "q_hic_fisher_stat" -> Q(
      (spark, dir) => {
        // typed-Aggregator UDAF: Fisher's combined statistic per
        // chromosome over pseudo-p (exact quantized-log accumulator →
        // order-independent, oracle-checkable)
        val fisher = udaf(graft.functions.FisherCombine,
          org.apache.spark.sql.Encoders.scalaDouble)
        standingView(spark, dir)
          .groupBy("chr")
          .agg(count(lit(1)).as("k"),
            Cols.fround(fisher(col("pseudo_p")), 4).as("fisher_stat"))
          .orderBy("chr")
      },
      Some(ContactsView.cte + " SELECT chr, COUNT(*) AS k, " +
        Cols.froundSql("-2.0 * CAST(SUM(CAST(ROUND(LN(LEAST(GREATEST(" +
          "pseudo_p, 1e-300), 1.0))*1000000, 0) AS BIGINT)) AS BIGINT)/1e6",
          4) + " AS fisher_stat " +
        "FROM c GROUP BY chr ORDER BY chr")),

    "q_hic_fisher_pvalue" -> Q(
      (spark, dir) => {
        // chi-square tail of the combined statistic (commons-math, not
        // SQL-expressible → rows-only)
        val fisher = udaf(graft.functions.FisherCombine,
          org.apache.spark.sql.Encoders.scalaDouble)
        val pUdf = udf((stat: Double, k: Long) =>
          graft.functions.FisherCombine.pValue(stat, k))
        standingView(spark, dir)
          .groupBy("chr")
          .agg(count(lit(1)).as("k"),
            fisher(col("pseudo_p")).as("stat"))
          .select(col("chr"), col("k"),
            Cols.fround(col("stat"), 4).as("fisher_stat"),
            Cols.fround(pUdf(col("stat"), col("k")), 8).as("p_combined"))
          .orderBy("chr")
      },
      None),

    "q_hic_fisher_tail_check" -> Q(
      (spark, dir) => {
        // oracle twin for the χ² tail: the SAME FisherCombine.pValue
        // (commons-math regularized gamma) that q_hic_fisher_pvalue
        // calls, driven at fixed dof 2·k0 on the per-row-mean statistic
        // stat/k (a moderate x, so the tail is non-degenerate). Even dof
        // makes the survival function closed-form —
        // e^{−x/2}·Σ_{i<k0}(x/2)^i/i! — which DuckDB evaluates exactly,
        // hash-pinning the tail leg that stays rows-only upstream.
        val fisher = udaf(graft.functions.FisherCombine,
          org.apache.spark.sql.Encoders.scalaDouble)
        val pUdf = udf((stat: Double, k: Long) =>
          graft.functions.FisherCombine.pValue(stat, k))
        standingView(spark, dir)
          .groupBy("chr")
          .agg(count(lit(1)).as("k"),
            Cols.fround(fisher(col("pseudo_p")), 4).as("fisher_stat"))
          .select(col("chr"), col("k"), col("fisher_stat"),
            Cols.fround(
              pUdf(col("fisher_stat") / col("k"), lit(5L)), 8)
              .as("tail_p"))
          .orderBy("chr")
      },
      Some(ContactsView.cte + ", s AS (SELECT chr, COUNT(*) AS k, " +
        Cols.froundSql("-2.0 * CAST(SUM(CAST(ROUND(LN(LEAST(GREATEST(" +
          "pseudo_p, 1e-300), 1.0))*1000000, 0) AS BIGINT)) AS BIGINT)/1e6",
          4) + " AS fisher_stat FROM c GROUP BY chr), " +
        "t AS (SELECT chr, k, fisher_stat, " +
        "fisher_stat / k / 2.0 AS h FROM s) " +
        "SELECT chr, k, fisher_stat, " +
        Cols.froundSql("EXP(-h) * (1.0 + h + h*h/2.0 + h*h*h/6.0 + " +
          "h*h*h*h/24.0)", 8) + " AS tail_p " +
        "FROM t ORDER BY chr")),

    "q_hic_marginals" -> Q(
      (spark, dir) => {
        // A1/A24: per-locus marginal counts over both contact ends
        HicStream.marginals(contactPairs(standingView(spark, dir)))
          .orderBy("chr", "mid")
      },
      Some(ContactsView.cte + " SELECT chr, mid, " +
        "CAST(SUM(contactCount) AS BIGINT) AS hitCount, " +
        "COUNT(*) AS n_pairs FROM " +
        "(SELECT chr, mid1 AS mid, contactCount FROM c " +
        "UNION ALL SELECT chr, mid2 AS mid, contactCount FROM c) " +
        "GROUP BY chr, mid ORDER BY chr, mid")),

    "q_hic_class_sums" -> Q(
      (spark, dir) =>
        // A2: contact-class scalar sums as a tiny table (conditional agg)
        standingView(spark, dir)
          .withColumn("cls",
            when(col("dist") === 0, "self")
              .when(col("dist").between(L, U), "intraInRange")
              .otherwise("intraOutOfRange"))
          .groupBy("cls")
          .agg(sum(col("contactCount")).as("sumCount"),
            count(lit(1)).as("nPairs"),
            sum(col("dist")).as("sumDist"))
          .orderBy("cls"),
      Some(ContactsView.cte + " SELECT CASE WHEN dist = 0 THEN 'self' " +
        s"WHEN dist BETWEEN $L AND $U THEN 'intraInRange' " +
        "ELSE 'intraOutOfRange' END AS cls, " +
        "CAST(SUM(contactCount) AS BIGINT) AS sumCount, COUNT(*) AS nPairs, " +
        "CAST(SUM(dist) AS BIGINT) AS sumDist " +
        "FROM c GROUP BY 1 ORDER BY cls")),

    "q_hic_distance_filter" -> Q(
      (spark, dir) =>
        standingView(spark, dir)
          .filter(col("dist").between(L, U))
          .select("chr", "mid1", "mid2", "dist", "contactCount")
          .orderBy("chr", "mid1", "mid2"),
      Some(ContactsView.cte + " SELECT chr, mid1, mid2, dist, contactCount " +
        s"FROM c WHERE dist BETWEEN $L AND $U ORDER BY chr, mid1, mid2")),

    "q_hic_equal_occupancy" -> Q(
      (spark, dir) => {
        val f = standingView(spark, dir).filter(col("dist").between(L, U))
        Binning.equalOccupancy(f, 100, keys)
          .select(col("binIdx"), col("pairCount"), col("sumCount"),
            col("minDist"), col("maxDist"),
            (col("sumDist").cast("double") / col("pairCount")).as("avgDist"))
          .orderBy("binIdx")
      },
      Some(ContactsView.cte +
        s", f AS (SELECT * FROM c WHERE dist BETWEEN $L AND $U), " +
        "t AS (SELECT CAST(SUM(contactCount) AS BIGINT) AS tot FROM f), " +
        "r AS (SELECT *, CAST(SUM(contactCount) OVER (ORDER BY dist, chr, " +
        "mid1, mid2 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS cum FROM f) " +
        "SELECT CAST(((cum-1)*100)//(SELECT tot FROM t) AS INT) AS binIdx, " +
        "COUNT(*) AS pairCount, CAST(SUM(contactCount) AS BIGINT) AS sumCount, " +
        "MIN(dist) AS minDist, MAX(dist) AS maxDist, " +
        "CAST(CAST(SUM(dist) AS BIGINT) AS DOUBLE)/COUNT(*) AS avgDist " +
        "FROM r GROUP BY 1 ORDER BY binIdx")),

    "q_hic_refine_pass2" -> Q(
      (spark, dir) => {
        // A20: drop pass-1 significant pairs (q < 0.05), recompute BH
        // against the refined test set.
        // Pass-1 BH runs ONCE: bhQ emits exactly one row per contact and
        // (chr, mid1, mid2) is unique in the view (ContactsView
        // pre-aggregates), so the pass-2 test set is a row FILTER of the
        // scored frame — the old shape ranked the full view twice and
        // anti-joined for the same rows. When pass 1's q is a projection
        // of its cached input (its steps fit the driver), pass 2's BH
        // re-reads that cache too.
        val bh1 = Stats.bhQ(standingView(spark, dir), "pseudo_p", keys,
          "q1").scored
        val c2 = bh1.filter(col("q1") >= 0.05).drop("q1")
        Stats.bhQ(c2, "pseudo_p", keys, "q_value").scored
          .select(col("chr"), col("mid1"), col("mid2"), col("contactCount"),
            Cols.fround(col("pseudo_p"), 6).as("pseudo_p"),
            Cols.fround(col("q_value"), 6).as("q_value"))
          .orderBy("chr", "mid1", "mid2")
      },
      Some(ContactsView.cte + ", r1 AS (SELECT *, ROW_NUMBER() OVER " +
        "(ORDER BY pseudo_p, chr, mid1, mid2) AS rk, " +
        "(SELECT COUNT(*) FROM c) AS m FROM c), " +
        "s1 AS (SELECT *, MIN(pseudo_p * m / rk) OVER (ORDER BY rk DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm FROM r1), " +
        "f2 AS (SELECT chr, mid1, mid2, dist, contactCount, pseudo_p " +
        "FROM s1 WHERE LEAST(sm, 1.0) >= 0.05), " +
        "r2 AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pseudo_p, chr, mid1, " +
        "mid2) AS rk2, (SELECT COUNT(*) FROM f2) AS m2 FROM f2), " +
        "s2 AS (SELECT *, MIN(pseudo_p * m2 / rk2) OVER (ORDER BY rk2 DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm2 FROM r2) " +
        "SELECT chr, mid1, mid2, contactCount, " +
        Cols.froundSql("pseudo_p", 6) + " AS pseudo_p, " +
        Cols.froundSql("LEAST(sm2, 1.0)", 6) + " AS q_value " +
        "FROM s2 ORDER BY chr, mid1, mid2")),

    "q_hic_spline_bins" -> Q(
      (spark, dir) => {
        // A15/A16: equal-occupancy bins → per-pair contact probability →
        // PAVA monotone non-increasing fit; ≤ nBins rows collected to the
        // driver (the single deliberate driver round-trip, SURVEY §3.2).
        // collectBins persists its input for the range sampling pass
        val bins = Binning.collectBins(
          standingView(spark, dir).filter(col("dist").between(L, U)), 100,
          keys)
        // N = Σ sumCount over the equal-occupancy bins (they partition
        // every in-range row) — no separate full-table aggregate job, the
        // Pipeline discipline
        val total = bins.map(_.getAs[Long]("sumCount")).sum
        val (xs, raw, fit) = Spline.fitFromBins(bins, total)
        val out = bins.indices.map { i =>
          (bins(i).getAs[Int]("binIdx"), xs(i), raw(i), fit(i))
        }
        import spark.implicits._
        out.toDF("binIdx", "avgDist", "rawProb", "fittedProb")
          .select(col("binIdx"), Cols.fround(col("avgDist"), 4).as("avgDist"),
            Cols.fround(col("rawProb") * 1e6, 6).as("rawProb_ppm"),
            Cols.fround(col("fittedProb") * 1e6, 6).as("fittedProb_ppm"))
          .orderBy("binIdx")
      },
      None),

    "q_hic_binom_pvalues" -> Q(
      (spark, dir) => {
        // A17+A18: spline-derived prior per pair → binomial survival
        // p-value (BinomSf, the expression the FitHiC pipeline scores
        // with). Not SQL-expressible in DuckDB → no oracle; pinned by
        // golden/property tests plus q_hic_binom_tail_check's
        // closed-form oracle twin on the same binom_sf kernel.
        // persisted: binning and scoring both read it, and re-reading the
        // standing parquet for the scoring pass timed slower at sf0.1
        // than this one copy (collectBins reuses it for its sampling)
        val f = graft.ops.Caches.register(
          standingView(spark, dir).filter(col("dist").between(L, U))
            .persist())
        val bins = Binning.collectBins(f, 100, keys)
        // N from the bin stats (they partition f) — saves the separate
        // full-table aggregate job, bit-identically
        val total = bins.map(_.getAs[Long]("sumCount")).sum
        val (xs, _, fit) = Spline.fitFromBins(bins, total)
        val prior = graft.functions.SplineInterp.curve(xs, fit) _
        f.withColumn("prior", prior(col("dist").cast("double")))
          .withColumn("pval", graft.functions.BinomSf.column(
            col("contactCount"), total, col("prior")))
          .select(col("chr"), col("mid1"), col("mid2"), col("contactCount"),
            Cols.fround(col("prior") * 1e6, 6).as("prior_ppm"),
            Cols.fround(col("pval"), 8).as("pval"))
          .orderBy("chr", "mid1", "mid2")
      },
      None),

    "q_hic_binom_tail_check" -> Q(
      (spark, dir) => {
        // oracle twin for the binomial-tail leg (the q_hic_fisher_tail
        // _check device, A18 edition): the SAME codegen'd `binom_sf`
        // Catalyst expression the significance pipeline runs, driven at
        // k=1,2 where the survival function is closed-form —
        // 1−(1−p)^n and 1−(1−p)^n − np(1−p)^{n−1} — which DuckDB
        // evaluates directly. p = pseudo_p/1000 at n=1000 keeps np ≤ 1
        // (non-degenerate tails). commons-math's incomplete-beta
        // evaluation agrees with the closed form to ≲6e-14 ABSOLUTE
        // (probed over a 2M-point grid spanning this p range), so at
        // fround 4 on a deterministic 1-in-16 row subset the
        // boundary-flip risk is ~4e-6 per run. Pins the native
        // expression's plumbing + tail values; the spline prior that
        // feeds the production k,n stays rows-only by contract.
        graft.functions.BinomSf.register(spark)
        standingView(spark, dir)
          .filter(expr("(mid1 div 5000) % 16 = 0"))
          .select(col("chr"), col("mid1"), col("mid2"),
            Cols.fround(
              expr("binom_sf(1L, 1000L, pseudo_p / 1000.0)"), 4)
              .as("tail1"),
            Cols.fround(
              expr("binom_sf(2L, 1000L, pseudo_p / 1000.0)"), 4)
              .as("tail2"))
          .orderBy("chr", "mid1", "mid2")
      },
      Some(ContactsView.cte + " SELECT chr, mid1, mid2, " +
        Cols.froundSql(
          "1.0 - POWER(1.0 - pseudo_p / 1000.0, 1000)", 4) +
        " AS tail1, " +
        Cols.froundSql(
          "1.0 - POWER(1.0 - pseudo_p / 1000.0, 1000) - " +
            "1000.0 * (pseudo_p / 1000.0) * " +
            "POWER(1.0 - pseudo_p / 1000.0, 999)", 4) +
        " AS tail2 FROM c WHERE (mid1 // 5000) % 16 = 0 " +
        "ORDER BY chr, mid1, mid2")),

    "q_hic_fixed_frags" -> Q(
      (spark, dir) => {
        // A23: fixed-size binning of chromosome sizes → fragment skeleton.
        // Chromosome sizes derive deterministically from the region table
        // (5 rows — the collect is O(#chromosomes) by construction).
        val sizes = graft.Tables(spark, dir, "region")
          .select(col("r_name"), ((col("r_regionkey") + 1) * 50000L)
            .as("size"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
          .sortBy(_._1)
        Fragments.fixedSizeFragments(spark, sizes, 5000L)
          .orderBy("chr", "mid")
      },
      Some("SELECT chr, CAST(0 AS BIGINT) AS extraField, mid, " +
        "CAST(0 AS BIGINT) AS hitCount, 1 AS mappable FROM " +
        "(SELECT r_name AS chr, unnest(generate_series(2500, " +
        "(r_regionkey + 1)*50000 - 1, 5000)) AS mid FROM region) " +
        "ORDER BY chr, mid")),

    "q_hic_aggregate" -> Q(
      (spark, dir) => {
        // A24: aggregate raw read pairs (bin-assigned ends in arbitrary
        // order) to canonical contact counts — (chr1,mid1) ≤ (chr2,mid2).
        val reads = graft.Tables(spark, dir, "lineitem").select(
          col("l_returnflag").as("chr1"),
          (col("l_partkey") % 100 * 5000L + 2500L).as("mid1"),
          col("l_linestatus").as("chr2"),
          (col("l_suppkey") % 100 * 5000L + 2500L).as("mid2"))
        Fragments.aggregateContacts(reads)
          .orderBy("chr1", "mid1", "chr2", "mid2")
      },
      Some("WITH r AS (SELECT l_returnflag AS chr1, " +
        "(l_partkey % 100)*5000 + 2500 AS mid1, l_linestatus AS chr2, " +
        "(l_suppkey % 100)*5000 + 2500 AS mid2 FROM lineitem), " +
        "canon AS (SELECT CASE WHEN chr1 < chr2 OR (chr1 = chr2 AND " +
        "mid1 <= mid2) THEN chr1 ELSE chr2 END AS chr1, " +
        "CASE WHEN chr1 < chr2 OR (chr1 = chr2 AND mid1 <= mid2) " +
        "THEN mid1 ELSE mid2 END AS mid1, " +
        "CASE WHEN chr1 < chr2 OR (chr1 = chr2 AND mid1 <= mid2) " +
        "THEN chr2 ELSE chr1 END AS chr2, " +
        "CASE WHEN chr1 < chr2 OR (chr1 = chr2 AND mid1 <= mid2) " +
        "THEN mid2 ELSE mid1 END AS mid2 FROM r) " +
        "SELECT chr1, mid1, chr2, mid2, COUNT(*) AS contactCount " +
        "FROM canon GROUP BY chr1, mid1, chr2, mid2 " +
        "ORDER BY chr1, mid1, chr2, mid2")),

    "q_hic_bh_possible" -> Q(
      (spark, dir) => {
        // A12+A19: BH with M = the POSSIBLE intra-in-range pair count —
        // the FitHiC subtlety naive ports get wrong: the test universe is
        // every mappable pair at an eligible distance, not the observed
        // rows. M comes from the FitHiC front end's census
        // (Fragments.possiblePairsWithChroms) over the loci of the
        // fragments table, which are the loci of both contact ends; the
        // oracle recomputes it as an explicit pair self-join and it is
        // pinned as the m_possible output column.
        val c = standingView(spark, dir)
        val m = Fragments.possiblePairsWithChroms(
            Fragments.loci(standingFrags(spark, dir)), L, U)
          .possible.intraInRange
        Stats.bhQ(c.filter(col("dist").between(L, U)), "pseudo_p", keys,
            "q_value", Some(m)).scored
          .select(col("chr"), col("mid1"), col("mid2"), col("contactCount"),
            lit(m).as("m_possible"),
            Cols.fround(col("pseudo_p"), 6).as("pseudo_p"),
            Cols.fround(col("q_value"), 6).as("q_value"))
          .orderBy("chr", "mid1", "mid2")
      },
      Some(ContactsView.cte +
        s", f AS (SELECT * FROM c WHERE dist BETWEEN $L AND $U), " +
        "loci AS (SELECT DISTINCT chr, mid1 AS mid FROM c " +
        "UNION SELECT DISTINCT chr, mid2 AS mid FROM c), " +
        "mm AS (SELECT COUNT(*) AS m FROM loci a JOIN loci b " +
        s"ON a.chr = b.chr AND b.mid - a.mid BETWEEN $L AND $U), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pseudo_p, chr, mid1, " +
        "mid2) AS rk, (SELECT m FROM mm) AS m FROM f), " +
        "s AS (SELECT *, MIN(pseudo_p * m / rk) OVER (ORDER BY rk DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm FROM r) " +
        "SELECT chr, mid1, mid2, contactCount, m AS m_possible, " +
        Cols.froundSql("pseudo_p", 6) + " AS pseudo_p, " +
        Cols.froundSql("LEAST(sm, 1.0)", 6) + " AS q_value " +
        "FROM s ORDER BY chr, mid1, mid2")),

    "q_hic_bias_vector" -> Q(
      (spark, dir) => {
        // A3/A10/A17 bias path, declared: coverage-normalized per-locus
        // bias (marginal / per-chr mean marginal) → clamp-or-ignore to
        // [0.5, 2] (outside → factor 1, the reference's behavior) → attach
        // to both contact ends → bias-normalized counts.
        val contacts = contactPairs(standingView(spark, dir))
        val marg = HicStream.marginals(contacts)
        val means = marg.groupBy("chr")
          .agg((sum(col("hitCount")) / count(lit(1))).as("mean_h"))
        val bias = marg.join(broadcast(means), "chr")
          .select(col("chr"), col("mid"),
            (col("hitCount") / col("mean_h")).as("bias"))
        Contacts.withBiases(contacts, bias, 0.5, 2.0)
          .select(col("chr1").as("chr"), col("mid1"), col("mid2"),
            col("contactCount"),
            Cols.fround(col("bias1"), 6).as("bias1"),
            Cols.fround(col("bias2"), 6).as("bias2"),
            Cols.fround(col("contactCount") / (col("bias1") * col("bias2")),
              6).as("norm_count"))
          .orderBy("chr", "mid1", "mid2")
      },
      Some(ContactsView.cte + ", marg AS (SELECT chr, mid, " +
        "CAST(SUM(contactCount) AS BIGINT) AS hitCount FROM " +
        "(SELECT chr, mid1 AS mid, contactCount FROM c " +
        "UNION ALL SELECT chr, mid2 AS mid, contactCount FROM c) " +
        "GROUP BY chr, mid), " +
        "mn AS (SELECT chr, CAST(SUM(hitCount) AS BIGINT)/COUNT(*) " +
        "AS mean_h FROM marg GROUP BY chr), " +
        "bv AS (SELECT marg.chr AS chr, marg.mid AS mid, " +
        "hitCount/mean_h AS b FROM marg JOIN mn USING (chr)), " +
        "bc AS (SELECT chr, mid, CASE WHEN b = -1.0 OR " +
        "b NOT BETWEEN 0.5 AND 2.0 THEN 1.0 ELSE b END AS biasF FROM bv) " +
        "SELECT c.chr AS chr, c.mid1, c.mid2, c.contactCount, " +
        Cols.froundSql("COALESCE(b1.biasF, 1.0)", 6) + " AS bias1, " +
        Cols.froundSql("COALESCE(b2.biasF, 1.0)", 6) + " AS bias2, " +
        Cols.froundSql("c.contactCount / (COALESCE(b1.biasF, 1.0) * " +
          "COALESCE(b2.biasF, 1.0))", 6) + " AS norm_count " +
        "FROM c LEFT JOIN bc b1 ON b1.chr = c.chr AND b1.mid = c.mid1 " +
        "LEFT JOIN bc b2 ON b2.chr = c.chr AND b2.mid = c.mid2 " +
        "ORDER BY chr, mid1, mid2")),

    "q_hic_pipeline_biased" -> Q(
      (spark, dir) => {
        // The reference's flagship composition (A22→A10→A17→A18→A19): KR
        // biases from the in-range contact map, clamped to [0.5, 2], scale
        // the spline prior per pair, binomial p + BH q. Iterative float
        // fixed point + binomial sf → rows-only by contract; the
        // SQL-expressible clamp/join/coalesce leg is oracle-pinned by
        // q_hic_bias_vector.
        val contacts = contactPairs(standingView(spark, dir))
        // frags = the reference's fragments INPUT file (A2) — standing
        // parquet shared with q_hic_significances
        val frags = standingFrags(spark, dir)
        // the config is checked when it is built, before the KR solve
        // (with its eager routing count) starts any job
        val cfg = FitHiCConfig(nBins = 100, passes = 1, distLow = L,
          distUp = U)
        val kr = Kr.biases(contacts.filter(
          abs(col("mid2") - col("mid1")).between(L, U)),
          trimPercentile = 0.05, iterations = 10)
        // endsMappable: frags is this view's own marginals (see
        // q_hic_significances) — the mappability probes are no-ops
        Pipeline.intraSignificances(frags, contacts, Some(kr), cfg,
            endsMappable = true)
          .select(col("chr1").as("chr"), col("mid1"), col("mid2"),
            col("contactCount"),
            Cols.fround(col("p_value"), 8).as("p_value"),
            Cols.fround(col("q_value"), 8).as("q_value"))
          .orderBy("chr", "mid1", "mid2")
      },
      None),

    "q_hic_inter" -> Q(
      (spark, dir) => {
        // A21 end-to-end: uniform-prior inter-chromosomal significances
        // over the disjoint-namespace inter view (binomial sf not
        // SQL-expressible → rows-only; the prior/BH core is oracle-pinned
        // by q_hic_inter_prior_bh).
        val v = standingInter(spark, dir)
        val contacts = v.select("chr1", "mid1", "chr2", "mid2",
          "contactCount")
        // endsMappable: frags are v's own marginals — every end present,
        // hitCount ≥ 1 = thr; probes skipped
        Pipeline.interSignificances(standingInterFrags(spark, dir), contacts,
            None, FitHiCConfig(), endsMappable = true)
          .select(col("chr1"), col("mid1"), col("chr2"), col("mid2"),
            col("contactCount"),
            Cols.fround(col("p_value"), 8).as("p_value"),
            Cols.fround(col("q_value"), 8).as("q_value"))
          .orderBy("chr1", "mid1", "chr2", "mid2")
      },
      None),

    "q_hic_inter_prior_bh" -> Q(
      (spark, dir) => {
        // A12-inter + the oracle-expressible core of A21: M = possible
        // inter pairs (T² − Σ n_c²)/2 from the FitHiC front end's census
        // over the loci of the inter fragments table (those of both
        // contact ends), uniform prior 1/M (pinned as prior_ppm), BH over
        // possible-not-observed M.
        val v = standingInter(spark, dir)
        val m = Fragments.possiblePairsWithChroms(
            Fragments.loci(standingInterFrags(spark, dir)), L, U)
          .possible.interAll
        Stats.bhQ(v, "pseudo_p", Seq("chr1", "mid1", "chr2", "mid2"),
            "q_value", Some(m)).scored
          .select(col("chr1"), col("mid1"), col("chr2"), col("mid2"),
            col("contactCount"),
            Cols.fround(lit(1e6) / m, 6).as("prior_ppm"),
            Cols.fround(col("pseudo_p"), 6).as("pseudo_p"),
            Cols.fround(col("q_value"), 6).as("q_value"))
          .orderBy("chr1", "mid1", "chr2", "mid2")
      },
      Some(InterView.cte + ", loci AS (SELECT DISTINCT chr1 AS chr, " +
        "mid1 AS mid FROM i UNION SELECT DISTINCT chr2 AS chr, mid2 AS mid " +
        "FROM i), " +
        "nc AS (SELECT chr, COUNT(*) AS c FROM loci GROUP BY chr), " +
        "tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t, " +
        "CAST(SUM(c*c) AS BIGINT) AS s FROM nc), " +
        "mm AS (SELECT (t*t - s)//2 AS m FROM tt), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pseudo_p, chr1, mid1, " +
        "chr2, mid2) AS rk, (SELECT m FROM mm) AS m FROM i), " +
        "s AS (SELECT *, MIN(pseudo_p * m / rk) OVER (ORDER BY rk DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm FROM r) " +
        "SELECT chr1, mid1, chr2, mid2, contactCount, " +
        Cols.froundSql("1e6 / m", 6) + " AS prior_ppm, " +
        Cols.froundSql("pseudo_p", 6) + " AS pseudo_p, " +
        Cols.froundSql("LEAST(sm, 1.0)", 6) + " AS q_value " +
        "FROM s ORDER BY chr1, mid1, chr2, mid2")),

    "q_hic_bh" -> Q(
      (spark, dir) => {
        val c = standingView(spark, dir)
        Stats.bhQ(c, "pseudo_p", Seq("chr", "mid1", "mid2"), "q_value").scored
          .select(col("chr"), col("mid1"), col("mid2"), col("contactCount"),
            Cols.fround(col("pseudo_p"), 6).as("pseudo_p"),
            Cols.fround(col("q_value"), 6).as("q_value"))
          .orderBy("chr", "mid1", "mid2")
      },
      Some(ContactsView.cte + ", r AS (SELECT chr, mid1, mid2, contactCount, " +
        "pseudo_p, ROW_NUMBER() OVER (ORDER BY pseudo_p, chr, mid1, mid2) AS rk, " +
        "(SELECT COUNT(*) FROM c) AS m FROM c), " +
        "s AS (SELECT *, MIN(pseudo_p * m / rk) OVER (ORDER BY rk DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm FROM r) " +
        "SELECT chr, mid1, mid2, contactCount, " +
        Cols.froundSql("pseudo_p", 6) + " AS pseudo_p, " +
        Cols.froundSql("LEAST(sm, 1.0)", 6) + " AS q_value " +
        "FROM s ORDER BY chr, mid1, mid2")))
}
