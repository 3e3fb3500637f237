package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Endurance-audit for a durable `--logic ivm_distinct` state root: an
  * EXACTLY-ONCE proof from outside the streaming process.
  *
  * The rate source emits the gapless value sequence 0..N-1 and the CLI
  * seeds from the `--dir` events table, so the support state of a
  * correct run — across any number of kill-resume cycles, compactions,
  * and replayed micro-batches — must equal the one-shot fold of
  * (table events) ∪ (synthetic rate events 0..N-1) for N = total
  * support weight minus the table's contribution. Any double-counted
  * sidecar (orphan adopted), re-folded replay (floor ignored), or lost
  * batch breaks the table equality, because no other N reproduces the
  * per-pair counts of a gapless prefix.
  *
  * The audit resumes the state through the REAL constructor path
  * (manifest + committed-floor sidecar adoption), then checks:
  *   1. resolved support == exact expected fold (row-for-row);
  *   2. the view == groupBy of the resolved support;
  *   3. the latest COMMITTED view version == the view from state.
  */
object DevIvmAudit {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    val base = opts("--out")
    val dir = opts.getOrElse("--dir", "/root/testdata/sf0.001")

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // readOnly: resolve through the real resume path (manifest +
    // committed-floor adoption) WITHOUT reaping — auditing a live root
    // must not delete the owner's in-flight sidecar
    // the zero-row seed only types the state's pair columns
    val s = new ops.Warehouse.IvmDistinctStream(spark, s"$base/support",
      ops.Warehouse.eventPairDelta(Tables(spark, dir, "events")).limit(0),
      compactEvery = 0, runTag = "audit",
      readOnly = true)
    val support = s.resolvedSupport
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val total = support.values.sum
    val tablePairs = ops.Warehouse.eventPairDelta(
      Tables(spark, dir, "events"))
      .groupBy("l_suppkey", "l_partkey").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val nStream = total - tablePairs.values.sum
    println(s"[ivmaudit] support pairs=${support.size} weight=$total " +
      s"table=${tablePairs.values.sum} stream=$nStream")
    // the rate transform, reproduced (StreamMain's `--source rate`)
    val streamPairs = ops.Warehouse.eventPairDelta(
      spark.range(nStream).select(
        (col("id") % 97).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase")),
          (col("id") % 3 + 1).cast("int")).as("event_type")))
      .groupBy("l_suppkey", "l_partkey").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val expected = (tablePairs.keySet ++ streamPairs.keySet).map(k =>
      k -> (tablePairs.getOrElse(k, 0L) + streamPairs.getOrElse(k, 0L)))
      .toMap
    val extra = support.toSet -- expected.toSet
    val missing = expected.toSet -- support.toSet
    println(s"[ivmaudit] state-vs-exact-fold: extra=${extra.size} " +
      s"missing=${missing.size}")
    extra.take(5).foreach(e => println(s"[ivmaudit]   extra $e " +
      s"(expected ${expected.getOrElse(e._1, 0L)})"))
    missing.take(5).foreach(e => println(s"[ivmaudit]   missing $e " +
      s"(got ${support.getOrElse(e._1, 0L)})"))
    // view from state vs the latest committed view version
    val viewFromState = s.view
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val committed = graft.io.CommitLog.headSnapshot(base) match {
      case Some((v, path)) =>
        println(s"[ivmaudit] committed head v$v -> $path")
        spark.read.parquet(path)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      case None => Map.empty[Long, Long]
    }
    val viewOk = viewFromState == committed
    println(s"[ivmaudit] committed-view-vs-state-view: " +
      (if (viewOk) "MATCH" else "MISMATCH") +
      s" (state=${viewFromState.size} committed=${committed.size})")
    if (extra.nonEmpty || missing.nonEmpty || !viewOk) {
      println("[ivmaudit] AUDIT FAILED")
      spark.stop(); sys.exit(1)
    }
    println("[ivmaudit] AUDIT OK")
    spark.stop()
  }
}
