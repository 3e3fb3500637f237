package graft.hic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Caches

/** Matrix-balancing bias computation (SURVEY.md A22, the HiCKRy utility).
  *
  * Produces the per-locus bias vector b with (B W B) doubly stochastic —
  * the same fixed point Knight–Ruiz converges to — via symmetric
  * Sinkhorn-style iterations. Iteration count is FIXED (not
  * tolerance-raced) for deterministic output (SURVEY §7.3 #5). Loci whose
  * marginal coverage falls below `trimPercentile` are dropped before
  * solving and reported with bias −1, mirroring the reference's percentile
  * trim.
  *
  * Balancing is independent per chromosome: [[ChrSolver]] routes each
  * chromosome to the in-task kernel ([[balance]]) or to the distributed
  * per-iteration join path ([[solveDistributed]]).
  */
object Kr {
  /** contacts: (chr1, mid1, chr2, mid2, contactCount); intra-chromosomal
    * edges only are used (per-chromosome balancing); chr must be a string
    * column. Returns (chr, mid, bias) for every locus appearing in the
    * input, −1 for trimmed loci, 1 for kept loci with no kept partners.
    */
  def biases(contacts: DataFrame, trimPercentile: Double = 0.05,
      iterations: Int = 20): DataFrame = {
    val pairs = contacts.filter(col("chr1") === col("chr2"))
      .select(col("chr1").as("chr"), col("mid1"), col("mid2"),
        col("contactCount").cast("double").as("w"))
    ChrSolver.solve(pairs, ChrSolver.symmetric(pairs), "mid", "bias")(
      balance(_, trimPercentile, iterations))(
      solveDistributed(_, trimPercentile, iterations))
  }

  /** The in-task solve: trim, loner marking and Sinkhorn on one
    * chromosome's primitive arrays.
    */
  private def balance(e: ChrSolver.Edges, trim: Double,
      iters: Int): Array[Double] = {
    val ChrSolver.Edges(mids, ia, ja, wa) = e
    val n = mids.length
    val ne = ia.length
    val cov = new Array[Double](n)
    var k = 0
    while (k < ne) { cov(ia(k)) += wa(k); k += 1 }
    // exact percentile, same formula as Spark/DuckDB `percentile`:
    // sorted[p·(n−1)] with linear interpolation
    val sc = cov.clone(); java.util.Arrays.sort(sc)
    val pos = trim * (n - 1)
    val lo = math.floor(pos).toInt
    val thr =
      if (lo >= n - 1) sc(n - 1)
      else sc(lo) + (pos - lo) * (sc(lo + 1) - sc(lo))
    val keep = cov.map(_ >= thr)
    val keptE = new Array[Boolean](ne)
    val conn = new Array[Boolean](n)
    k = 0
    while (k < ne) {
      keptE(k) = keep(ia(k)) && keep(ja(k))
      if (keptE(k)) conn(ia(k)) = true
      k += 1
    }
    var nConn = 0
    var i = 0
    while (i < n) { if (conn(i)) nConn += 1; i += 1 }
    // b ← b · sqrt(rowsum(BWB) / mean-rowsum), fixed iteration count;
    // rowsum_i(BWB) = (1/b_i) Σ_j w_ij / b_j
    val b = Array.fill(n)(1.0)
    val s = new Array[Double](n)
    val rowsum = new Array[Double](n)
    var iter = 0
    while (iter < iters && nConn > 0) {
      java.util.Arrays.fill(s, 0.0)
      k = 0
      while (k < ne) {
        if (keptE(k)) s(ia(k)) += wa(k) / b(ja(k))
        k += 1
      }
      var sumRs = 0.0
      i = 0
      while (i < n) {
        if (conn(i)) { rowsum(i) = s(i) / b(i); sumRs += rowsum(i) }
        i += 1
      }
      val meanRs = sumRs / nConn
      i = 0
      while (i < n) {
        if (conn(i)) b(i) = b(i) * math.sqrt(rowsum(i) / meanRs)
        i += 1
      }
      iter += 1
    }
    // report biases with per-chromosome mean 1 (downstream clamps)
    var sumB = 0.0
    i = 0
    while (i < n) { if (conn(i)) sumB += b(i); i += 1 }
    val meanB = sumB / nConn
    Array.tabulate(n) { ix =>
      if (!keep(ix)) -1.0 // trimmed
      else if (!conn(ix)) 1.0 // loner: every partner trimmed
      else b(ix) / meanB
    }
  }

  /** Large-chromosome path: per-iteration DataFrame joins — the edge list
    * is pre-partitioned on the iteration join key so each of the fixed
    * Sinkhorn iterations shuffles only the O(loci) bias vector, never the
    * edge list. The trim threshold uses EXACT `percentile`: its agg
    * buffer is O(loci-per-chromosome) doubles — tens of MB even at 10M
    * loci — and, unlike approx_percentile's merge-order-sensitive sketch,
    * it is bit-deterministic (the repo's determinism contract) and agrees
    * exactly with the in-task path's interpolated formula, so a
    * chromosome crossing the routing boundary cannot change its trim set.
    */
  private def solveDistributed(slice: DataFrame, trimPercentile: Double,
      iterations: Int): DataFrame = {
    // the slice is read twice (marg and the kept edges)
    val edges = Caches.register(slice.persist())
    // cov is a sum of INTEGER-VALUED doubles (contact counts): exact
    // under any partial-merge order below 2^53, so the threshold input —
    // and hence the trim set — is bit-deterministic and agrees with the
    // in-task path's canonical-order accumulation.
    // Persist the O(loci) marg: kept/trimmed/loners derive from it three
    // ways and would otherwise each re-run the full-edge aggregation +
    // percentile before the first Sinkhorn iteration.
    val marg = Caches.register(
      edges.groupBy("chr", "i").agg(sum(col("w")).as("cov")).persist())
    val thresholds = marg.groupBy("chr")
      .agg(expr(s"percentile(cov, $trimPercentile)").as("thr"))
    val kept = marg.join(broadcast(thresholds), "chr")
      .filter(col("cov") >= col("thr"))
      .select(col("chr"), col("i"))
    val trimmed = marg.join(broadcast(thresholds), "chr")
      .filter(col("cov") < col("thr"))
      .select(col("chr"), col("i").as("mid"), lit(-1.0).as("bias"))

    val keptEdges = ChrSolver.byJ(edges
      .join(kept, Seq("chr", "i"), "left_semi")
      .join(kept.withColumnRenamed("i", "j"), Seq("chr", "j"), "left_semi"))

    // a kept locus whose partners were ALL trimmed has no kept edges: it
    // can't be balanced — report it with bias 1 (not silently dropped),
    // and keep the hot iteration loop on pure inner joins
    val connected = Caches.register(
      keptEdges.select("chr", "i").distinct().persist())
    val loners = kept.join(connected, Seq("chr", "i"), "left_anti")
      .select(col("chr"), col("i").as("mid"), lit(1.0).as("bias"))

    val biasOut = ChrSolver.iterate(connected.withColumn("b", lit(1.0)),
        iterations, "kr_bias") { bias =>
      val rs = keptEdges
        .join(bias.select(col("chr"), col("i").as("j"),
          col("b").as("bj")), Seq("chr", "j"))
        .groupBy("chr", "i")
        .agg(sum(col("w") / col("bj")).as("s"))
      val joined = bias.join(rs, Seq("chr", "i"))
        .withColumn("rowsum", col("s") / col("b"))
      val means = joined.groupBy("chr")
        .agg((sum(col("rowsum")) / count(lit(1))).as("mean_rs"))
      joined.join(broadcast(means), "chr")
        .select(col("chr"), col("i"),
          (col("b") * sqrt(col("rowsum") / col("mean_rs"))).as("b"))
    }
    // fix the free scale: report biases with per-chromosome mean 1 (the
    // conventional normalization — downstream clamps to [0.5, 2])
    val scale = biasOut.groupBy("chr")
      .agg((sum(col("b")) / count(lit(1))).as("mean_b"))
    biasOut.join(broadcast(scale), "chr")
      .select(col("chr"), col("i").as("mid"),
        (col("b") / col("mean_b")).as("bias"))
      .unionByName(loners)
      .unionByName(trimmed)
  }
}
