package graft.hic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Caches

/** The per-chromosome solver behind [[Kr]] and [[Compartments]] (SURVEY
  * M4): both solve a sparse symmetric matrix independently per
  * chromosome, and differ only in their math.
  *
  * Hybrid execution: a chromosome whose edge list fits one task is solved
  * IN-TASK by a primitive-array kernel inside `flatMapGroups` — one
  * shuffle on chr, zero per-iteration jobs. Chromosomes above the cap
  * fall back to a distributed per-iteration join path over a (chr, j)
  * edge layout, so each iteration shuffles only the O(loci) vector,
  * never the edge list. The cap (2M edges: peak task footprint ≈ 300 MB
  * — the transient boxed tuple array from the group iterator dominates
  * before the primitive conversion frees it; at most one task per
  * chromosome runs) keeps every real-genome chromosome at Hi-C
  * resolutions in-task, while the fallback covers ultra-fine resolutions
  * at 100 TB.
  */
private[graft] object ChrSolver {
  val MaxEdgesPerTask: Long = 2000000L

  /** The routing cap, [[MaxEdgesPerTask]] unless a test forces a path
    * with `maxEdges.withValue(cap) { ... }`.
    */
  private[graft] val maxEdges = new scala.util.DynamicVariable(MaxEdgesPerTask)

  /** One chromosome's edges on primitive arrays: the sorted distinct
    * endpoints, and each edge's endpoint indices and weight in canonical
    * (i, j, w) order.
    */
  final case class Edges(mids: Array[Long], i: Array[Int], j: Array[Int],
      w: Array[Double])

  /** The symmetric edge list (chr, i, j, w) of pairs (chr, mid1, mid2, w):
    * each undirected pair contributes both ways, the diagonal once.
    */
  def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("chr"), col("mid1").as("i"), col("mid2").as("j"),
        col("w"))
      .unionByName(pairs.filter(col("mid1") =!= col("mid2"))
        .select(col("chr"), col("mid2").as("i"), col("mid1").as("j"),
          col("w")))

  /** Solves every chromosome of `edges` (chr, i, j, w), the symmetric
    * edge list of `pairs` (chr, mid1, mid2, ...), and returns
    * (chr, `key`, `value`): `kernel` gives one value per endpoint of an
    * in-task chromosome, `distributed` the same columns for the edges of
    * the chromosomes above the cap. An input without pairs gives an empty
    * table.
    *
    * `edges` is not persisted here: the in-task path consumes it exactly
    * once (the chr shuffle), so routing on the pre-union pair counts
    * (edges/chr = 2·pairs − diagonals) saves the whole doubled-union
    * materialization — measured ~2 s off the pipeline's serial prefix at
    * sf0.1. Fast path first: ONE count of the pair rows. If even the WHOLE
    * symmetric edge list fits one task (2·pairs is an upper bound on
    * edges), every chromosome does, and the per-chromosome routing job is
    * skipped — it was ~1 s of serial prefix in front of the pipeline at
    * test SF. The exact per-chr routing only runs above the cap, where the
    * solve amortizes it.
    */
  def solve(pairs: DataFrame, edges: DataFrame, key: String, value: String)(
      kernel: Edges => Array[Double])(
      distributed: DataFrame => DataFrame): DataFrame = {
    val cap = maxEdges.value
    val totalPairs = pairs.count()
    val allSmall = totalPairs * 2 <= cap
    val (small, big): (Seq[String], Seq[String]) =
      if (allSmall) (Nil, Nil)
      else {
        val sizes = pairs.groupBy(col("chr"))
          .agg((count(lit(1)) * 2 -
            sum(when(col("mid1") === col("mid2"), 1L).otherwise(0L)))
            .as("ne"))
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
        (sizes.filter(_._2 <= cap).map(_._1).toSeq,
          sizes.filter(_._2 > cap).map(_._1).toSeq)
      }
    val parts =
      (if (totalPairs == 0L) Nil
       else if (allSmall) List(inTask(edges, key, value, kernel))
       else if (small.isEmpty) Nil
       else List(inTask(edges.filter(col("chr").isInCollection(small)), key,
         value, kernel))) ++
      (if (big.isEmpty) Nil
       else List(distributed(edges.filter(col("chr").isInCollection(big)))))
    parts match {
      case Nil =>
        val spark = pairs.sparkSession
        import spark.implicits._
        Seq.empty[(String, Long, Double)].toDF("chr", key, value)
      case ps => ps.reduce(_ unionByName _)
    }
  }

  /** Small-chromosome path: one shuffle on chr, then the whole solve runs
    * in-task on primitive arrays. Edges are sorted canonically before
    * accumulation so float sums are bit-deterministic regardless of
    * shuffle arrival order.
    */
  private def inTask(edges: DataFrame, key: String, value: String,
      kernel: Edges => Array[Double]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("chr"), col("i"), col("j"), col("w"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (chr, it) =>
        val e = primitive(it)
        val v = kernel(e)
        e.mids.indices.iterator.map(ix => (chr, e.mids(ix), v(ix)))
      }
      .toDF("chr", key, value)
  }

  private def primitive(it: Iterator[(String, Long, Long, Double)]): Edges = {
    // block-scope the boxed tuple array: after conversion to primitive
    // columns it is garbage — peak task memory is then the primitive
    // arrays (~20 B/edge), not the tuples (~56 B/edge)
    val es = it.toArray
    // w included in the sort key so duplicate (i, j) entries (the
    // symmetric union of an un-canonicalized contact list can hold both
    // orientations of a pair) cannot keep shuffle-arrival order (stable
    // sort) and vary the float accumulation order across partitionings
    es.sortInPlaceBy(e => (e._2, e._3, e._4))
    // the symmetric edge list's i side covers every endpoint
    val mids = es.map(_._2).distinct.sorted
    val ne = es.length
    val ia = new Array[Int](ne)
    val ja = new Array[Int](ne)
    val wa = new Array[Double](ne)
    var k = 0
    while (k < ne) {
      ia(k) = java.util.Arrays.binarySearch(mids, es(k)._2)
      ja(k) = java.util.Arrays.binarySearch(mids, es(k)._3)
      wa(k) = es(k)._4
      k += 1
    }
    Edges(mids, ia, ja, wa)
  }

  /** The distributed path's edge layout: partitioned and sorted on the
    * per-iteration join key (chr, j) and persisted, so the cached layout
    * satisfies the join's clustering and each iteration shuffles only the
    * O(loci) vector — never the edge list again.
    */
  def byJ(edges: DataFrame): DataFrame =
    Caches.register(edges
      .repartition(col("chr"), col("j"))
      .sortWithinPartitions(col("chr"), col("j"))
      .persist())

  /** `n` distributed iterations of `step` from `v0`, handed to the
    * returned plan through scratch parquet under `tag`.
    *
    * Each iterate is cut by an eager local checkpoint: it feeds the next
    * round twice (the matvec join and the per-chr aggregate), so an
    * un-checkpointed plan doubles per iteration and recomputation
    * explodes (measured 6× slower when checkpointing every 3rd, ~2× when
    * every 2nd). The eager checkpoint has materialized every consumer of
    * the previous iterate, so its blocks are released at once (plain
    * unpersist is a no-op on checkpoints). The final iterate goes through
    * [[Caches.parquetHandoff]], which releases it too: a registered
    * checkpoint would be released by ANY concurrent caller's drain with
    * the lineage already truncated — the reader then crashes instead of
    * recomputing.
    */
  def iterate(v0: DataFrame, n: Int, tag: String)(
      step: DataFrame => DataFrame): DataFrame = {
    var v = v0
    var prev: DataFrame = null
    for (_ <- 1 to n) {
      v = step(v).localCheckpoint(eager = true)
      if (prev != null) Caches.releaseLocalCheckpoint(prev)
      prev = v
    }
    Caches.parquetHandoff(v, tag)
  }
}
