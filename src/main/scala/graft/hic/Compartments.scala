package graft.hic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B compartment scores: the leading eigenvector of the per-chromosome
  * distance-normalized contact matrix (the classic Hi-C compartment call —
  * PC1 of the O/E matrix; companion analysis to [[Matrix]]'s obs/exp).
  *
  * Algorithm: per chromosome, build the sparse symmetric matrix
  * M(i,j) = O/E(i,j) − 1 over observed pairs (expected = per-(chr, dist)
  * mean, exactly q_hic_obs_exp's table), then find the ALGEBRAIC-largest
  * eigenvector (the PC1 analog) by shifted power iteration in two fixed
  * phases: (1) `estIters` plain iterations whose step NORM converges to
  * the spectral radius even when the iterate itself oscillates (an O/E−1
  * matrix can have a near-±-symmetric extreme pair — plain power
  * iteration then never settles, and a Gershgorin shift is loose enough
  * to crush the eigengap); (2) the remaining iterations on M + cI with
  * c = 1.1 × that estimate — PSD by construction, so the iteration
  * converges to λmax(M)'s eigenvector at the TIGHT gap
  * (λ₂+c)/(λmax+c). Fixed counts for both phases, canonical edge order,
  * and a deterministic sign convention (first nonzero score ≥ 0) make
  * the in-task output bit-reproducible under any partitioning.
  *
  * Hybrid execution (same routing as [[Kr]], SURVEY M4): a chromosome
  * whose edge list fits one task is solved IN-TASK by a primitive-array
  * kernel inside `flatMapGroups` — one shuffle on chr, zero per-iteration
  * jobs. Chromosomes above `maxEdgesPerTask` fall back to the
  * distributed per-iteration join path: the edge list is pre-partitioned
  * on the iteration join key, so each matvec shuffles only the O(bins)
  * vector, never the edges. At Hi-C resolutions every real-genome
  * chromosome fits in-task; the fallback covers ultra-fine bins at
  * 100 TB.
  */
object Compartments {
  /** contacts: (chr, mid1, mid2, dist, contactCount) — the intra contacts
    * view. Returns (chr, bin, score): one row per bin appearing in the
    * input, scores L2-normalized per chromosome.
    */
  /** Phase-1 length: plain iterations used only to estimate the spectral
    * radius (the shift base). The estimate approaches |λ|max from below;
    * the 1.1 margin keeps M + cI PSD anyway.
    */
  val EstIters = 15

  /** The O/E−1 symmetric edge list — the distributed leg both solve paths
    * consume (and the leg q_hic_compartments_matvec hash-pins in DuckDB).
    * O/E weights: expected(chr, d) = mean observed count at (chr, d) —
    * bounded by #chr × #distances, broadcast back over the pairs. Each
    * undirected pair appears both ways, the diagonal once.
    * Not persisted: the in-task path consumes it exactly once (the chr
    * shuffle) and routing comes from the pre-join pair counts (same
    * job-count trim as Kr.biases); the distributed path re-caches its
    * slice in its iteration layout anyway.
    */
  def edgeList(contacts: DataFrame): DataFrame = {
    val exp = contacts.groupBy("chr", "dist")
      .agg(sum(col("contactCount")).as("sumc"), count(lit(1)).as("npairs"))
    val oe = contacts.join(broadcast(exp), Seq("chr", "dist"))
      .select(col("chr"), col("mid1"), col("mid2"),
        (col("contactCount").cast("double") /
          (col("sumc").cast("double") / col("npairs").cast("double")) -
          lit(1.0)).as("w"))
    oe.select(col("chr"), col("mid1").as("i"), col("mid2").as("j"),
        col("w"))
      .unionByName(oe.filter(col("mid1") =!= col("mid2"))
        .select(col("chr"), col("mid2").as("i"), col("mid1").as("j"),
          col("w")))
  }

  def scores(contacts: DataFrame, iterations: Int = 100,
      maxEdgesPerTask: Long = 2000000L): DataFrame = {
    require(iterations > EstIters,
      s"iterations must exceed the $EstIters estimation iterations")
    val edges = edgeList(contacts)

    // route each chromosome by edge count (tiny collect; the O/E join
    // preserves cardinality so the count comes from the raw pairs)
    val sizes = contacts.groupBy(col("chr"))
      .agg((count(lit(1)) * 2 -
        sum(when(col("mid1") === col("mid2"), 1L).otherwise(0L)))
        .as("ne"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val small = sizes.filter(_._2 <= maxEdgesPerTask).map(_._1)
    val big = sizes.filter(_._2 > maxEdgesPerTask).map(_._1)

    val parts =
      (if (small.isEmpty) Nil
       else List(solveInTask(edges.filter(col("chr")
         .isInCollection(small)), iterations))) ++
      (if (big.isEmpty) Nil
       else List(solveDistributed(edges.filter(col("chr")
         .isInCollection(big)), iterations)))
    parts match {
      case Nil =>
        val spark = contacts.sparkSession
        import spark.implicits._
        Seq.empty[(String, Long, Double)].toDF("chr", "bin", "score")
      case ps => ps.reduce(_ unionByName _)
    }
  }

  /** Small-chromosome path: one shuffle on chr, whole solve in-task on
    * primitive arrays; edges sorted canonically so float sums are
    * bit-deterministic regardless of shuffle arrival order.
    */
  private def solveInTask(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("chr"), col("i"), col("j"), col("w"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups((chr, it) => solveChr(chr, it, iters))
      .toDF("chr", "bin", "score")
  }

  private def solveChr(chr: String,
      it: Iterator[(String, Long, Long, Double)],
      iters: Int): Iterator[(String, Long, Double)] = {
    // block-scope the boxed tuples (same footprint trick as Kr.solveChr)
    val (mids, ia, ja, wa) = {
      val es = it.toArray
      // include w in the key: duplicate (i, j) entries (the symmetric
      // union of an un-canonicalized contact list can hold both
      // orientations of a pair) would otherwise keep shuffle-arrival
      // order under the stable sort, varying the float sum order
      es.sortInPlaceBy(e => (e._2, e._3, e._4))
      val mids0 = es.map(_._2).distinct.sorted
      val ne0 = es.length
      val ia0 = new Array[Int](ne0)
      val ja0 = new Array[Int](ne0)
      val wa0 = new Array[Double](ne0)
      var k0 = 0
      while (k0 < ne0) {
        ia0(k0) = java.util.Arrays.binarySearch(mids0, es(k0)._2)
        ja0(k0) = java.util.Arrays.binarySearch(mids0, es(k0)._3)
        wa0(k0) = es(k0)._4
        k0 += 1
      }
      (mids0, ia0, ja0, wa0)
    }
    val n = mids.length
    val ne = ia.length
    val u = new Array[Double](n)
    // one matvec step (+ shift·v when c > 0); returns ||u|| and writes the
    // normalized iterate back into v unless the norm is 0
    def step(v: Array[Double], c: Double): Double = {
      java.util.Arrays.fill(u, 0.0)
      var k = 0
      while (k < ne) { u(ia(k)) += wa(k) * v(ja(k)); k += 1 }
      var nrm2 = 0.0
      var i = 0
      while (i < n) {
        if (c > 0.0) u(i) += c * v(i)
        nrm2 += u(i) * u(i)
        i += 1
      }
      val nrm = math.sqrt(nrm2)
      if (nrm > 0.0) {
        i = 0
        while (i < n) { v(i) = u(i) / nrm; i += 1 }
      }
      nrm
    }
    // phase 1: plain iterations — the step norm estimates the spectral
    // radius even when the iterate oscillates between a ±λ pair
    var v = Array.fill(n)(1.0 / math.sqrt(n.toDouble))
    var est = 0.0
    var iter = 0
    var live = true
    while (iter < EstIters && live) {
      est = step(v, 0.0)
      if (est == 0.0) live = false // M annihilated v: all-zero matrix
      iter += 1
    }
    // phase 2: shifted iterations from a fresh start — M + cI is PSD, so
    // the iterate converges to the algebraic-largest eigenvector
    if (live) {
      val c = 1.1 * est
      v = Array.fill(n)(1.0 / math.sqrt(n.toDouble))
      iter = EstIters
      while (iter < iters && live) {
        if (step(v, c) == 0.0) live = false
        iter += 1
      }
    }
    // sign convention: score at the smallest bin with a nonzero score ≥ 0
    var p = 0
    while (p < n && v(p) == 0.0) p += 1
    if (p < n && v(p) < 0.0) v = v.map(x => -x)
    mids.indices.iterator.map(ix => (chr, mids(ix), v(ix)))
  }

  /** Large-chromosome path: per-iteration matvec joins. The edge list is
    * pre-partitioned on the join key so each of the fixed iterations
    * shuffles only the O(bins) vector. Float partial-merge order makes
    * this path non-bit-deterministic across partitionings (like
    * [[Kr.solveDistributed]]'s rowsums) — it only engages past the 2M-edge
    * routing cap, where the in-task path would not fit a task anyway.
    */
  private def solveDistributed(edges: DataFrame, iters: Int): DataFrame = {
    val keyed = graft.ops.Caches.register(edges
      .repartition(col("chr"), col("j"))
      .sortWithinPartitions(col("chr"), col("j"))
      .persist())
    val bins = graft.ops.Caches.register(
      keyed.select("chr", "i").distinct().persist())
    val n0 = bins.groupBy("chr").count()
    def v0 = bins.join(broadcast(n0), "chr")
      .select(col("chr"), col("i"),
        (lit(1.0) / sqrt(col("count").cast("double"))).as("s"))
    // one normalized (M + cI)·v step; shifts is the per-chr c table
    // (empty in phase 1 → coalesce to 0). Only the O(bins) vector
    // shuffles — the edge list's (chr, j) layout satisfies the join.
    def step(v: DataFrame, shifts: DataFrame): DataFrame = {
      val u = keyed
        .join(v.select(col("chr"), col("i").as("j"), col("s").as("sj")),
          Seq("chr", "j"))
        .groupBy("chr", "i")
        .agg(sum(col("w") * col("sj")).as("mv"))
        .join(v, Seq("chr", "i"))
        .join(broadcast(shifts), Seq("chr"), "left")
        .select(col("chr"), col("i"), col("s"),
          (col("mv") + coalesce(col("c"), lit(0.0)) * col("s")).as("u"))
      val norms = u.groupBy("chr")
        .agg(sqrt(sum(col("u") * col("u"))).as("nrm"))
      u.join(broadcast(norms), "chr")
        .select(col("chr"), col("i"),
          when(col("nrm") > 0.0, col("u") / col("nrm"))
            // M annihilated v: keep the iterate (in-task kernel parity)
            .otherwise(col("s")).as("s"), col("nrm"))
        // cut the lineage each iteration (same rationale as Kr: v feeds
        // the next round twice — matvec join + norm)
        .localCheckpoint(eager = true)
    }
    val spark = edges.sparkSession
    import spark.implicits._
    // phase 1: plain iterations — keep only the final step norms (the
    // per-chr spectral-radius estimates)
    val noShift = Seq.empty[(String, Double)].toDF("chr", "c")
    var v = v0.withColumn("nrm", lit(0.0))
    // each step is an eager checkpoint, so the previous iterate's blocks
    // can be released as soon as the new one exists (plain unpersist is a
    // no-op on localCheckpoints); the phase-1 FINAL iterate must outlive
    // phase 2 — every shifted step re-reads `shifts`, a lazy agg over it
    var prevCkpt: DataFrame = null
    for (_ <- 1 to EstIters) {
      v = step(v.select("chr", "i", "s"), noShift)
      if (prevCkpt != null) graft.ops.Caches.releaseLocalCheckpoint(prevCkpt)
      prevCkpt = v
    }
    val phase1Final = prevCkpt
    val shifts = v.groupBy("chr")
      .agg((max(col("nrm")) * 1.1).as("c")) // nrm constant within a chr
    // phase 2: shifted iterations from a fresh start
    v = v0.withColumn("nrm", lit(0.0))
    prevCkpt = null
    for (_ <- EstIters + 1 to iters) {
      v = step(v.select("chr", "i", "s"), shifts)
      if (prevCkpt != null) graft.ops.Caches.releaseLocalCheckpoint(prevCkpt)
      prevCkpt = v
    }
    // phase 2 always runs (scores requires iterations > EstIters), and its
    // eager steps have consumed shifts
    graft.ops.Caches.releaseLocalCheckpoint(phase1Final)
    // drain-immune handoff of the final iterate to the returned plan
    // (a registered checkpoint dies under a concurrent caller's drain)
    val vOut = graft.ops.Caches.parquetHandoff(v, "compartments_v")
    // sign convention: flip each chromosome so its smallest nonzero-score
    // bin is positive
    val w = org.apache.spark.sql.expressions.Window.partitionBy("chr")
      .orderBy(col("i"))
    val signs = vOut.filter(col("s") =!= 0.0)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("chr"), signum(col("s")).as("sgn"))
    vOut.join(broadcast(signs), Seq("chr"), "left")
      .select(col("chr"), col("i").as("bin"),
        (col("s") * coalesce(col("sgn"), lit(1.0))).as("score"))
  }
}
