package graft.hic

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.ops.Cols

/** Contact-matrix analytics over the contacts view: observed/expected
  * distance normalization, insulation scores, and directionality index —
  * the standard downstream reads on a Hi-C matrix once significances are
  * called (companion analyses to SURVEY A17's distance-decay prior).
  *
  * Scale notes (100 TB bar):
  *   - obs/exp: the per-(chr, distance) expected table is bounded by
  *     #chromosomes × #distinct distances (≤ chromosome length / bin size,
  *     ~50k rows per chr at 5 kb) — broadcast it back against the full
  *     contact set instead of shuffling the contacts.
  *   - insulation: NO join at all. Only pairs with dist < 2·window can
  *     straddle a boundary, and each contributes to ≤ 2·window/binSize
  *     boundaries, so a bounded narrow explode + one hash aggregation
  *     (map-side partials) replaces the textbook range join.
  *   - directionality: each in-window pair contributes to exactly two
  *     bins (upstream leg of its right end, downstream leg of its left
  *     end) — a two-projection union + one aggregation.
  */
object Matrix {
  /** Insulation / DI window: ±100 kb, i.e. 20 bins of 5 kb. */
  val W = 100000L
  /** Bin grid pitch of the contacts view (mid = k·5000 + 2500). */
  val Bin = 5000L

  /** Insulation scores (chr, boundary, ins_sum, n_pairs), unordered: for
    * each boundary b on the bin grid, the sum of contacts crossing it
    * within ±W. A pair (lo, hi) crosses the boundaries
    * b ∈ (lo, hi) ∩ [hi−W, lo+W] — non-empty only when
    * 2·Bin ≤ hi − lo < 2W, and at most 2W/Bin grid points — so the plan
    * is filter → bounded sequence() explode → one aggregation. No join.
    * W and the view's mids share the Bin grid (W % Bin = 0,
    * mid ≡ 2500 mod 5000), so hi−W / lo+W are themselves grid points.
    */
  def insulation(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val c = HicQueries.standingView(spark, dir)
      .select(col("chr"),
        least(col("mid1"), col("mid2")).as("lo"),
        greatest(col("mid1"), col("mid2")).as("hi"),
        col("contactCount"))
      .filter(col("hi") - col("lo") >= 2 * Bin &&
        col("hi") - col("lo") < 2 * W)
    c.select(col("chr"), col("contactCount"),
        explode(sequence(
          greatest(col("lo") + Bin, col("hi") - W),
          least(col("hi") - Bin, col("lo") + W),
          lit(Bin))).as("boundary"))
      .groupBy("chr", "boundary")
      .agg(sum(col("contactCount")).as("ins_sum"),
        count(lit(1)).as("n_pairs"))
  }

  /** DuckDB twin of [[insulation]] as a CTE block ending in `ins`
    * (textbook lateral-series form — fine at sf0.01; the Spark side's
    * bounded explode is the scale path).
    */
  val insulationSql: String = ContactsView.cte + ", p AS (SELECT chr, " +
    "LEAST(mid1, mid2) AS lo, GREATEST(mid1, mid2) AS hi, " +
    "contactCount FROM c WHERE GREATEST(mid1, mid2) - " +
    s"LEAST(mid1, mid2) >= ${2 * Bin} AND GREATEST(mid1, mid2) - " +
    s"LEAST(mid1, mid2) < ${2 * W}) " +
    ", x AS (SELECT chr, contactCount, " +
    s"unnest(generate_series(GREATEST(lo + $Bin, hi - $W), " +
    s"LEAST(hi - $Bin, lo + $W), $Bin)) AS b FROM p) " +
    ", ins AS (SELECT chr, b AS boundary, " +
    "CAST(SUM(contactCount) AS BIGINT) AS ins_sum, COUNT(*) AS n_pairs " +
    "FROM x GROUP BY chr, b)"

  /** Symmetric cell map (chr, lo ≤ hi, cnt) — the probe target shared by
    * the loop donut, APA, and any neighborhood lookup. A standing table
    * (Caches.readStanding, built once per JVM × dir): it is a derived
    * VIEW of the contact-map input file every matrix query probes, so
    * re-aggregating it per query would be the fixture shim's cost, not
    * the query's. Each broadcast leg re-reads the small parquet; a
    * persisted copy cost one table-cache job per leg and saved none.
    */
  private def symCells(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Caches.readStanding("hic_symcells", dir,
      ContactsView(spark, dir)
        .select(col("chr"), least(col("mid1"), col("mid2")).as("lo"),
          greatest(col("mid1"), col("mid2")).as("hi"),
          col("contactCount"))
        .groupBy("chr", "lo", "hi")
        .agg(sum(col("contactCount")).as("cnt")))

  /** Top-100 donut-filtered loop calls (q_hic_loops' scoring, shared
    * with APA): returns (chr, lo, hi, cnt, donut_present, donut_sum,
    * enr_milli), already limited under the total order.
    */
  private def loopCalls(spark: org.apache.spark.sql.SparkSession,
      sym: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val chrStats = sym.groupBy("chr")
      .agg(count(lit(1)).as("nc"), sum(col("cnt")).as("tot"))
    val cand = sym.join(broadcast(chrStats), "chr")
      .filter(col("cnt") * col("nc") > lit(2L) * col("tot") &&
        col("hi") - col("lo") > 10 * Bin)
      .select("chr", "lo", "hi", "cnt")
    val offs = (for {
      dx <- -5 to 5; dy <- -5 to 5
      if math.max(dx.abs, dy.abs) >= 2
    } yield (dx, dy)).toDF("dx", "dy")
    val probes = cand
      .crossJoin(broadcast(offs))
      .select(col("chr"), col("lo"), col("hi"), col("cnt"),
        (col("lo") + col("dx") * Bin).as("nlo"),
        (col("hi") + col("dy") * Bin).as("nhi"))
    probes
      .join(sym.select(col("chr"), col("lo").as("nlo"),
        col("hi").as("nhi"), col("cnt").as("ncnt")),
        Seq("chr", "nlo", "nhi"), "left")
      .groupBy("chr", "lo", "hi", "cnt")
      .agg(count(col("ncnt")).as("donut_present"),
        coalesce(sum(col("ncnt")), lit(0L)).as("donut_sum"))
      .withColumn("enr_milli",
        expr("(cnt * 112000L) div greatest(donut_sum, 1L)"))
      .orderBy(desc("enr_milli"), asc("chr"), asc("lo"), asc("hi"))
      .limit(100)
  }

  /** DuckDB twin of [[loopCalls]]: the q_hic_loops CTE chain extended
    * with a `loops` CTE holding the ordered top-100.
    */
  private val loopsSqlCtes: String = ContactsView.cte + ", s AS (" +
    "SELECT chr, LEAST(mid1, mid2) AS lo, GREATEST(mid1, mid2) AS hi, " +
    "CAST(SUM(contactCount) AS BIGINT) AS cnt FROM c GROUP BY 1, 2, 3), " +
    "st AS (SELECT chr, COUNT(*) AS nc, " +
    "CAST(SUM(cnt) AS BIGINT) AS tot FROM s GROUP BY chr), " +
    "cand AS (SELECT s.chr, s.lo, s.hi, s.cnt FROM s " +
    "JOIN st ON s.chr = st.chr WHERE s.cnt*st.nc > 2*st.tot " +
    s"AND s.hi - s.lo > ${10 * Bin}), " +
    "offs AS (SELECT dx.x AS dx, dy.y AS dy FROM " +
    "(SELECT unnest(generate_series(-5, 5)) AS x) dx, " +
    "(SELECT unnest(generate_series(-5, 5)) AS y) dy " +
    "WHERE GREATEST(ABS(dx.x), ABS(dy.y)) >= 2), " +
    "probes AS (SELECT cand.chr, cand.lo, cand.hi, cand.cnt, " +
    s"cand.lo + offs.dx*$Bin AS nlo, cand.hi + offs.dy*$Bin AS nhi " +
    "FROM cand CROSS JOIN offs), " +
    "donut AS (SELECT p.chr, p.lo, p.hi, p.cnt, " +
    "COUNT(s2.cnt) AS donut_present, " +
    "CAST(COALESCE(SUM(s2.cnt), 0) AS BIGINT) AS donut_sum " +
    "FROM probes p LEFT JOIN s s2 ON s2.chr = p.chr " +
    "AND s2.lo = p.nlo AND s2.hi = p.nhi GROUP BY 1, 2, 3, 4), " +
    "loops AS (SELECT chr, lo, hi, cnt, donut_present, donut_sum, " +
    "(cnt * 112000) // GREATEST(donut_sum, 1) AS enr_milli FROM donut " +
    "ORDER BY enr_milli DESC, chr, lo, hi LIMIT 100)"

  /** `contacts` (chr, dist, contactCount, ...) joined to its expected
    * table: `sumc`, the summed count, and `npairs`, the observed pairs at
    * each (chr, dist). The table is bounded by #chr × #distances and
    * broadcast back over the pairs.
    */
  def withExpected(contacts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val exp = contacts.groupBy("chr", "dist")
      .agg(sum(col("contactCount")).as("sumc"),
        count(lit(1)).as("npairs"))
    contacts.join(broadcast(exp), Seq("chr", "dist"))
  }

  /** Observed/expected over [[withExpected]]'s columns: the count over
    * the mean count at its (chr, dist), in doubles.
    */
  val obsExp: org.apache.spark.sql.Column =
    col("contactCount").cast("double") /
      (col("sumc").cast("double") / col("npairs").cast("double"))

  /** Saddle aggregation (Imakaev/Mirny convention): rank each locus into
    * one of `q` per-chromosome quantiles by `loci.score` (ties broken by
    * mid), then aggregate the O/E of every in-range pair into the
    * symmetric q×q (qi ≤ qj) matrix. Per-pair O/E is quantized to EXACT
    * integer micro-units — `obs·npairs·1e6 div sumc`, all BIGINT — so
    * cell sums are order-free and (for SQL-expressible scores)
    * oracle-hashable; mean O/E per cell = sum_oeq / n / 1e6.
    *
    * Scale shape: the expected table is (chr, dist)-bounded and
    * broadcast; the rank table is loci-sized and broadcast to both
    * (chr, mid) joins, then one q²-cell aggregation — nothing all-pairs
    * beyond the contact set itself. The rank hint is explicit: left to
    * AQE, the first join's build side depends on whether the rank
    * table's stages finish before AQE re-plans that join, so the job
    * count would vary from run to run.
    */
  def saddle(contacts: org.apache.spark.sql.DataFrame,
      loci: org.apache.spark.sql.DataFrame,
      q: Int): org.apache.spark.sql.DataFrame = {
    val oeq = withExpected(contacts)
      .withColumn("oe_q",
        expr("contactCount * npairs * 1000000 DIV sumc"))
    val ranks = loci.select(col("chr"), col("mid"),
      ntile(q).over(Window.partitionBy("chr")
        .orderBy("score", "mid")).as("qt"))
    oeq
      .join(broadcast(ranks.select(col("chr"), col("mid").as("mid1"),
        col("qt").as("q1"))), Seq("chr", "mid1"))
      .join(broadcast(ranks.select(col("chr"), col("mid").as("mid2"),
        col("qt").as("q2"))), Seq("chr", "mid2"))
      .groupBy(least(col("q1"), col("q2")).as("qi"),
        greatest(col("q1"), col("q2")).as("qj"))
      .agg(count(lit(1)).as("n"),
        sum(col("contactCount")).as("sum_obs"),
        sum(col("oe_q")).as("sum_oeq"))
      .orderBy("qi", "qj")
  }

  def queries: Map[String, Q] = Map(
    "q_hic_apa" -> Q(
      (spark, dir) => {
        // aggregate peak analysis (Rao et al. 2014): superimpose the
        // ±2-bin neighborhood of every called loop and emit the summed
        // 5×5 pileup — the standard "are these loops real?" diagnostic
        // (a true loop set shows center enrichment over the matrix
        // background). Probe volume = 100 loops × 25 offsets — a
        // broadcast-sized probe list against the symmetric cell map, the
        // same bounded-neighborhood shape as the donut filter; exact
        // integer sums end to end.
        import spark.implicits._
        val sym = symCells(spark, dir)
        val offs = (for { dx <- -2L to 2L; dy <- -2L to 2L }
          yield (dx, dy)).toDF("dx", "dy")
        loopCalls(spark, sym)
          .select(col("chr"), col("lo"), col("hi"))
          .crossJoin(broadcast(offs))
          .select(col("chr"), col("dx"), col("dy"),
            (col("lo") + col("dx") * Bin).as("nlo"),
            (col("hi") + col("dy") * Bin).as("nhi"))
          .join(sym.select(col("chr"), col("lo").as("nlo"),
            col("hi").as("nhi"), col("cnt").as("ncnt")),
            Seq("chr", "nlo", "nhi"), "left")
          .groupBy("dx", "dy")
          .agg(count(col("ncnt")).as("n_present"),
            coalesce(sum(col("ncnt")), lit(0L)).as("apa_sum"))
          .orderBy("dx", "dy")
      },
      Some(loopsSqlCtes +
        ", offs2 AS (SELECT dx.x AS dx, dy.y AS dy FROM " +
        "(SELECT unnest(generate_series(-2, 2)) AS x) dx, " +
        "(SELECT unnest(generate_series(-2, 2)) AS y) dy), " +
        "probes2 AS (SELECT l.chr, o.dx, o.dy, " +
        s"l.lo + o.dx*$Bin AS nlo, l.hi + o.dy*$Bin AS nhi " +
        "FROM loops l CROSS JOIN offs2 o) " +
        "SELECT p.dx, p.dy, COUNT(s2.cnt) AS n_present, " +
        "CAST(COALESCE(SUM(s2.cnt), 0) AS BIGINT) AS apa_sum " +
        "FROM probes2 p LEFT JOIN s s2 ON s2.chr = p.chr " +
        "AND s2.lo = p.nlo AND s2.hi = p.nhi " +
        "GROUP BY 1, 2 ORDER BY dx, dy")),

    "q_hic_scaling" -> Q(
      (spark, dir) => {
        // contact-probability scaling P(s): contacts per octave of
        // genomic distance (the distance-decay curve every Hi-C paper
        // plots, and the empirical shape A15's spline fits). The octave
        // is computed IN-ROW, O(N) with no join: float log2 gives a
        // candidate k, then two exact integer shift comparisons correct
        // any boundary ULP — so the binning is exact on every engine
        // regardless of whose log2 is off by one ulp at a power of two.
        // (First cut was a 26-row broadcast range join — 26 predicate
        // evals per contact, 14 s at 64×; this is pure codegen
        // arithmetic.) mean_milli is an exact integer ratio.
        val c = HicQueries.standingView(spark, dir)
          .select((greatest(col("mid1"), col("mid2")) -
            least(col("mid1"), col("mid2"))).as("d"),
            col("contactCount"))
          .filter(col("d") >= Bin)
        val k = expr(
          s"""CASE
            WHEN shiftleft(1L, cast(floor(log2(d div $Bin)) as int))
              > d div $Bin
              THEN cast(floor(log2(d div $Bin)) as int) - 1
            WHEN shiftleft(1L, cast(floor(log2(d div $Bin)) as int) + 1)
              <= d div $Bin
              THEN cast(floor(log2(d div $Bin)) as int) + 1
            ELSE cast(floor(log2(d div $Bin)) as int)
          END""")
        c.select(col("contactCount"), k.cast("long").as("k"))
          .groupBy("k")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("contactCount")).as("sum_count"))
          .select(col("k"),
            expr(s"$Bin * shiftleft(1L, cast(k as int))").as("d_lo"),
            col("n_pairs"), col("sum_count"),
            expr("(sum_count * 1000L) div n_pairs").as("mean_milli"))
          .orderBy("k")
      },
      Some(ContactsView.cte + ", p AS (SELECT GREATEST(mid1, mid2) - " +
        "LEAST(mid1, mid2) AS d, contactCount FROM c " +
        s"WHERE GREATEST(mid1, mid2) - LEAST(mid1, mid2) >= $Bin), " +
        "oct AS (SELECT unnest(generate_series(0, 25)) AS k) " +
        s"SELECT k, $Bin * (1::BIGINT << k) AS d_lo, " +
        "COUNT(*) AS n_pairs, " +
        "CAST(SUM(contactCount) AS BIGINT) AS sum_count, " +
        "(CAST(SUM(contactCount) AS BIGINT) * 1000) // COUNT(*) " +
        "AS mean_milli FROM p JOIN oct ON " +
        s"d >= $Bin * (1::BIGINT << k) AND d < $Bin * (1::BIGINT << (k+1)) " +
        "GROUP BY k ORDER BY k")),

    "q_hic_saddle" -> Q(
      (spark, dir) => {
        // compartment saddle (the Rao/Mirny A-B strength read): loci
        // ranked by the compartment EIGENVECTOR into per-chr quartiles,
        // O/E aggregated into the symmetric 4×4 matrix. Rows-only: the
        // eigenvector is power-iteration output (pinned by the
        // compartments specs + q_hic_compartments_matvec's oracle); the
        // saddle KERNEL itself is oracle-green via q_hic_saddle_check,
        // and MatrixSpec plants a two-block matrix where the diagonal
        // corners must dominate.
        val r = HicQueries.standingView(spark, dir)
          .filter(col("dist").between(HicQueries.L, HicQueries.U))
        val loci = Compartments.scores(r)
          .select(col("chr"), col("bin").as("mid"), col("score"))
        saddle(r, loci, 4)
      },
      None),

    "q_hic_saddle_check" -> Q(
      (spark, dir) => {
        // oracle twin: the SAME saddle kernel ranked by a
        // SQL-expressible locus score (the coverage marginal) — pins
        // quantile binning, the exact integer O/E quantization, and the
        // symmetric cell aggregation end-to-end in DuckDB.
        val r = HicQueries.standingView(spark, dir)
          .filter(col("dist").between(HicQueries.L, HicQueries.U))
        val marg = r.select(col("chr"), col("mid1").as("mid"),
            col("contactCount"))
          .unionByName(r.select(col("chr"), col("mid2").as("mid"),
            col("contactCount")))
          .groupBy("chr", "mid")
          .agg(sum(col("contactCount")).as("score"))
        saddle(r, marg, 4)
      },
      Some(ContactsView.cte + ", r AS (SELECT * FROM c WHERE dist " +
        s"BETWEEN ${HicQueries.L} AND ${HicQueries.U}), " +
        "marg AS (SELECT chr, mid, CAST(SUM(contactCount) AS BIGINT) " +
        "AS score FROM (SELECT chr, mid1 AS mid, contactCount FROM r " +
        "UNION ALL SELECT chr, mid2 AS mid, contactCount FROM r) " +
        "GROUP BY chr, mid), " +
        "rk AS (SELECT chr, mid, NTILE(4) OVER (PARTITION BY chr " +
        "ORDER BY score, mid) AS qt FROM marg), " +
        "e AS (SELECT chr, dist, CAST(SUM(contactCount) AS BIGINT) AS " +
        "sumc, COUNT(*) AS npairs FROM r GROUP BY chr, dist), " +
        "p AS (SELECT r.chr, r.mid1, r.mid2, r.contactCount, " +
        "(r.contactCount * e.npairs * 1000000) // e.sumc AS oe_q " +
        "FROM r JOIN e ON r.chr = e.chr AND r.dist = e.dist), " +
        "j AS (SELECT p.contactCount, p.oe_q, a.qt AS q1, b.qt AS q2 " +
        "FROM p JOIN rk a ON p.chr = a.chr AND p.mid1 = a.mid " +
        "JOIN rk b ON p.chr = b.chr AND p.mid2 = b.mid) " +
        "SELECT LEAST(q1, q2) AS qi, GREATEST(q1, q2) AS qj, " +
        "COUNT(*) AS n, CAST(SUM(contactCount) AS BIGINT) AS sum_obs, " +
        "CAST(SUM(oe_q) AS BIGINT) AS sum_oeq FROM j " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    "q_hic_obs_exp" -> Q(
      (spark, dir) => {
        // observed/expected: expected(chr, d) = mean contact count over
        // all observed pairs at that (chr, distance); O/E = obs/expected.
        // Integer sums + one double division with identical expression
        // shape on both sides keep the hash exact.
        val c = HicQueries.standingView(spark, dir)
          .filter(col("dist").between(HicQueries.L, HicQueries.U))
        withExpected(c)
          .select(col("chr"), col("mid1"), col("mid2"), col("dist"),
            col("contactCount"), col("npairs"),
            Cols.fround(obsExp, 8).as("oe"))
          .orderBy("chr", "mid1", "mid2")
      },
      Some(ContactsView.cte + ", r AS (SELECT * FROM c WHERE dist " +
        s"BETWEEN ${HicQueries.L} AND ${HicQueries.U}), " +
        "e AS (SELECT chr, dist, CAST(SUM(contactCount) AS BIGINT) AS sumc, " +
        "COUNT(*) AS npairs FROM r GROUP BY chr, dist) " +
        "SELECT r.chr, r.mid1, r.mid2, r.dist, r.contactCount, e.npairs, " +
        Cols.froundSql("CAST(r.contactCount AS DOUBLE) / " +
          "(CAST(e.sumc AS DOUBLE) / CAST(e.npairs AS DOUBLE))", 8) +
        " AS oe FROM r JOIN e ON r.chr = e.chr AND r.dist = e.dist " +
        "ORDER BY r.chr, r.mid1, r.mid2")),

    "q_hic_insulation" -> Q(
      (spark, dir) => insulation(spark, dir).orderBy("chr", "boundary"),
      Some(insulationSql +
        " SELECT chr, boundary, ins_sum, n_pairs FROM ins " +
        "ORDER BY chr, boundary")),

    "q_hic_tad_boundaries" -> Q(
      (spark, dir) => {
        // TAD boundary calls from the insulation profile: a boundary is a
        // STRICT local minimum of ins_sum between its two grid-adjacent
        // neighbors (gaps in the profile disqualify — lag/lead must be
        // exactly one Bin away) that also sits strictly below its
        // chromosome's mean insulation. The mean test is the exact
        // integer cross-multiplication ins_sum·n_rows < chr_total (no
        // float division anywhere), and `prominence` is an exact BIGINT.
        // Per-chr windows/aggregations only — nothing global.
        val ins = insulation(spark, dir)
        val w = Window.partitionBy("chr").orderBy("boundary")
        val chrStats = ins.groupBy("chr")
          .agg(sum(col("ins_sum")).as("chr_total"),
            count(lit(1)).as("n_rows"))
        ins
          .withColumn("prev_b", lag(col("boundary"), 1).over(w))
          .withColumn("prev_s", lag(col("ins_sum"), 1).over(w))
          .withColumn("next_b", lead(col("boundary"), 1).over(w))
          .withColumn("next_s", lead(col("ins_sum"), 1).over(w))
          .filter(col("boundary") - col("prev_b") === Bin &&
            col("next_b") - col("boundary") === Bin &&
            col("ins_sum") < col("prev_s") &&
            col("ins_sum") < col("next_s"))
          .join(broadcast(chrStats), "chr")
          .filter(col("ins_sum") * col("n_rows") < col("chr_total"))
          .select(col("chr"), col("boundary"), col("ins_sum"),
            (col("prev_s") + col("next_s") - lit(2L) * col("ins_sum"))
              .as("prominence"))
          .orderBy("chr", "boundary")
      },
      Some(insulationSql + ", nb AS (SELECT chr, boundary, ins_sum, " +
        "LAG(boundary) OVER (PARTITION BY chr ORDER BY boundary) " +
        "AS prev_b, LAG(ins_sum) OVER (PARTITION BY chr ORDER BY " +
        "boundary) AS prev_s, LEAD(boundary) OVER (PARTITION BY chr " +
        "ORDER BY boundary) AS next_b, LEAD(ins_sum) OVER (PARTITION " +
        "BY chr ORDER BY boundary) AS next_s FROM ins), " +
        "st AS (SELECT chr, CAST(SUM(ins_sum) AS BIGINT) AS chr_total, " +
        "COUNT(*) AS n_rows FROM ins GROUP BY chr) " +
        "SELECT nb.chr, nb.boundary, nb.ins_sum, " +
        "nb.prev_s + nb.next_s - 2*nb.ins_sum AS prominence " +
        "FROM nb JOIN st ON nb.chr = st.chr " +
        s"WHERE nb.boundary - nb.prev_b = $Bin " +
        s"AND nb.next_b - nb.boundary = $Bin " +
        "AND nb.ins_sum < nb.prev_s AND nb.ins_sum < nb.next_s " +
        "AND nb.ins_sum * st.n_rows < st.chr_total " +
        "ORDER BY nb.chr, nb.boundary")),

    "q_hic_loops" -> Q(
      (spark, dir) => {
        // HiCCUPS-style loop scoring (Rao et al. 2014's donut filter):
        // rank pixels by observed count vs the mean of their "donut"
        // neighborhood (the 2–5-bin L∞ annulus, 112 cells, absent
        // cells = 0 so the statistic is density-robust) and emit the
        // top-100. The neighborhood lookup is NOT an all-pairs
        // self-join: candidates (> 2× their chromosome's mean cell
        // count — an exact integer cross-multiplication, so the set
        // adapts to any coverage) crossed with the FIXED 112-offset
        // table probe the symmetric cell map with one equi-join; probe
        // volume = candidates × 112. Candidates stay > 10 bins
        // off-diagonal so the annulus never crosses the diagonal (no
        // reflection double-counting). enr_milli = obs·112·1000 div
        // donut_sum is integer-exact; (enr desc, chr, mid1, mid2) is a
        // total order so the top-100 is deterministic and hash-stable.
        val sym = symCells(spark, dir)
        loopCalls(spark, sym)
          .select(col("chr"), col("lo").as("mid1"), col("hi").as("mid2"),
            col("cnt").as("obs"), col("donut_present"), col("donut_sum"),
            col("enr_milli"))
          .orderBy(desc("enr_milli"), asc("chr"), asc("mid1"), asc("mid2"))
      },
      Some(ContactsView.cte + ", s AS (SELECT chr, " +
        "LEAST(mid1, mid2) AS lo, GREATEST(mid1, mid2) AS hi, " +
        "CAST(SUM(contactCount) AS BIGINT) AS cnt FROM c " +
        "GROUP BY 1, 2, 3), " +
        "st AS (SELECT chr, COUNT(*) AS nc, " +
        "CAST(SUM(cnt) AS BIGINT) AS tot FROM s GROUP BY chr), " +
        "cand AS (SELECT s.chr, s.lo, s.hi, s.cnt FROM s " +
        "JOIN st ON s.chr = st.chr WHERE s.cnt*st.nc > 2*st.tot " +
        s"AND s.hi - s.lo > ${10 * Bin}), " +
        "offs AS (SELECT dx.x AS dx, dy.y AS dy FROM " +
        "(SELECT unnest(generate_series(-5, 5)) AS x) dx, " +
        "(SELECT unnest(generate_series(-5, 5)) AS y) dy " +
        "WHERE GREATEST(ABS(dx.x), ABS(dy.y)) >= 2), " +
        "probes AS (SELECT cand.chr, cand.lo, cand.hi, cand.cnt, " +
        s"cand.lo + offs.dx*$Bin AS nlo, cand.hi + offs.dy*$Bin AS nhi " +
        "FROM cand CROSS JOIN offs), " +
        "donut AS (SELECT p.chr, p.lo, p.hi, p.cnt, " +
        "COUNT(s2.cnt) AS donut_present, " +
        "CAST(COALESCE(SUM(s2.cnt), 0) AS BIGINT) AS donut_sum " +
        "FROM probes p LEFT JOIN s s2 ON s2.chr = p.chr " +
        "AND s2.lo = p.nlo AND s2.hi = p.nhi GROUP BY 1, 2, 3, 4) " +
        "SELECT chr, lo AS mid1, hi AS mid2, cnt AS obs, " +
        "donut_present, donut_sum, " +
        "(cnt * 112000) // GREATEST(donut_sum, 1) AS enr_milli " +
        "FROM donut " +
        "ORDER BY enr_milli DESC, chr, mid1, mid2 LIMIT 100")),

    "q_hic_directionality" -> Q(
      (spark, dir) => {
        // directionality index: per bin, upstream (A) vs downstream (B)
        // in-window contact sums. Each pair (lo, hi) with hi − lo ≤ W is
        // the downstream leg of lo and the upstream leg of hi: union the
        // two projections, aggregate once, and keep the exact integer
        // sums plus the signed DI statistic.
        val c = HicQueries.standingView(spark, dir)
          .select(col("chr"),
            least(col("mid1"), col("mid2")).as("lo"),
            greatest(col("mid1"), col("mid2")).as("hi"),
            col("contactCount"))
          .filter(col("lo") < col("hi") && col("hi") - col("lo") <= W)
        val down = c.select(col("chr"), col("lo").as("bin"),
          col("contactCount").as("b_leg"), lit(0L).as("a_leg"))
        val up = c.select(col("chr"), col("hi").as("bin"),
          lit(0L).as("b_leg"), col("contactCount").as("a_leg"))
        down.unionByName(up)
          .groupBy("chr", "bin")
          .agg(sum(col("a_leg")).as("a_sum"), sum(col("b_leg")).as("b_sum"))
          .select(col("chr"), col("bin"), col("a_sum"), col("b_sum"),
            Cols.fround((col("b_sum") - col("a_sum")).cast("double") /
              greatest(col("a_sum") + col("b_sum"), lit(1L)).cast("double"),
              8).as("di"))
          .orderBy("chr", "bin")
      },
      Some(ContactsView.cte + ", p AS (SELECT chr, " +
        "LEAST(mid1, mid2) AS lo, GREATEST(mid1, mid2) AS hi, " +
        "contactCount FROM c WHERE LEAST(mid1, mid2) < " +
        "GREATEST(mid1, mid2) AND GREATEST(mid1, mid2) - " +
        s"LEAST(mid1, mid2) <= $W), " +
        "legs AS (SELECT chr, lo AS bin, contactCount AS b_leg, " +
        "CAST(0 AS BIGINT) AS a_leg FROM p UNION ALL " +
        "SELECT chr, hi AS bin, CAST(0 AS BIGINT) AS b_leg, " +
        "contactCount AS a_leg FROM p) " +
        "SELECT chr, bin, CAST(SUM(a_leg) AS BIGINT) AS a_sum, " +
        "CAST(SUM(b_leg) AS BIGINT) AS b_sum, " +
        Cols.froundSql("CAST(SUM(b_leg) - SUM(a_leg) AS DOUBLE) / " +
          "CAST(GREATEST(SUM(a_leg) + SUM(b_leg), 1) AS DOUBLE)", 8) +
        " AS di FROM legs GROUP BY chr, bin ORDER BY chr, bin")),

    "q_hic_compartments" -> Q(
      (spark, dir) => {
        // A/B compartment scores: leading eigenvector of the per-chr
        // O/E−1 matrix via fixed-count power iteration (hybrid in-task /
        // distributed — see Compartments). Not SQL-expressible (iterative
        // eigensolve) → rows-only; AnalyticsSpec pins the in-task kernel
        // against a breeze dense eigendecomposition.
        val c = HicQueries.standingView(spark, dir)
          .filter(col("dist").between(HicQueries.L, HicQueries.U))
        Compartments.scores(c)
          .select(col("chr"), col("bin"),
            Cols.fround(col("score"), 6).as("score"))
          .orderBy("chr", "bin")
      },
      None),

    "q_hic_compartments_matvec" -> Q(
      (spark, dir) => {
        // oracle twin for the compartment solver's DISTRIBUTED leg: the
        // O/E−1 symmetric edge build (the SAME Compartments.edgeList
        // scores() consumes) plus two UNROLLED power-iteration matvec
        // rounds from the constant start vector, on ×1e4-quantized
        // integer weights with NO per-round normalization — power
        // iteration is scale-free, so skipping the norm keeps every sum
        // exact-BIGINT (order-free) while still pinning the matvec
        // wiring end-to-end. w itself is a quotient of exact integer
        // aggregates (IEEE-exact ops, identical shape both sides) and
        // the ×1e4 lift uses the FLOOR(x+0.5) half-away split — the
        // same parity discipline as Kmeans.quant/Cols.fround. The
        // in-task eigensolve kernel stays pinned by AnalyticsSpec's
        // breeze differential; only the fixed-point composition remains
        // rows-only (q_hic_compartments). Round-2 products are summed in
        // decimal(38,0) (wq·v1 ≲ 1e14 at test SF; the lift guards the
        // 8×/64× fixtures — past ~1e38 per-bin the twin would need a
        // smaller quantization scale, documented here, not silent).
        val c = HicQueries.standingView(spark, dir)
          .filter(col("dist").between(HicQueries.L, HicQueries.U))
        val wd = col("w") * lit(10000.0)
        val e = Compartments.edgeList(c)
          .select(col("chr"), col("i"), col("j"),
            when(wd >= 0, floor(wd + lit(0.5)))
              .otherwise(-floor(-wd + lit(0.5))).cast("long").as("wq"))
        val r1 = e.groupBy(col("chr"), col("i"))
          .agg(sum(col("wq")).as("v1"))
        e.join(r1.select(col("chr"), col("i").as("j"), col("v1")),
            Seq("chr", "j"))
          .groupBy(col("chr"), col("i"))
          .agg(sum(col("wq").cast("decimal(19,0)") *
            col("v1").cast("decimal(19,0)")).as("v2d"))
          .select(col("chr"), col("i").as("bin"),
            col("v2d").cast("long").as("v2"))
          .orderBy("chr", "bin")
      },
      Some(ContactsView.cte + ", f AS (SELECT chr, mid1, mid2, dist, " +
        s"contactCount FROM c WHERE dist BETWEEN ${HicQueries.L} " +
        s"AND ${HicQueries.U}), " +
        "ex AS (SELECT chr, dist, CAST(SUM(contactCount) AS BIGINT) " +
        "AS sumc, COUNT(*) AS npairs FROM f GROUP BY chr, dist), " +
        "oe AS (SELECT f.chr, f.mid1, f.mid2, " +
        "CAST(f.contactCount AS DOUBLE) / (CAST(ex.sumc AS DOUBLE) / " +
        "CAST(ex.npairs AS DOUBLE)) - 1.0 AS w " +
        "FROM f JOIN ex ON f.chr = ex.chr AND f.dist = ex.dist), " +
        "ed AS (SELECT chr, mid1 AS i, mid2 AS j, w FROM oe " +
        "UNION ALL SELECT chr, mid2 AS i, mid1 AS j, w FROM oe " +
        "WHERE mid1 <> mid2), " +
        "eq AS (SELECT chr, i, j, CASE WHEN w*10000 >= 0 " +
        "THEN CAST(FLOOR(w*10000 + 0.5) AS BIGINT) " +
        "ELSE -CAST(FLOOR(-(w*10000) + 0.5) AS BIGINT) END AS wq " +
        "FROM ed), " +
        "r1 AS (SELECT chr, i, CAST(SUM(wq) AS BIGINT) AS v1 " +
        "FROM eq GROUP BY chr, i) " +
        "SELECT eq.chr, eq.i AS bin, " +
        "CAST(SUM(CAST(eq.wq AS HUGEINT) * r1.v1) AS BIGINT) AS v2 " +
        "FROM eq JOIN r1 ON eq.chr = r1.chr AND eq.j = r1.i " +
        "GROUP BY eq.chr, eq.i ORDER BY eq.chr, bin"))
  )
}
