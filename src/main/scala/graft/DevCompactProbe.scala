package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for the MoR support compactor's AMORTIZED claim: wall
  * time must scale with the TOUCHED-bucket fraction of the state, not
  * with the state — untouched buckets carry as hard links. Builds the
  * corpus-scale support base once, then compacts the SAME-sized delta
  * twice: once confined to one bucket of 16, once spread across all
  * 16, and verifies the one-bucket run hard-linked the other 15
  * generations' files (inode equality — the carry copies nothing).
  *
  * Usage: runMain graft.DevCompactProbe <sfDir>
  */
object DevCompactProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"COMPACTPROBE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val root = graft.io.Scratch.sub("compact_probe")
    val base = s"$root/base"
    t("base build (not the measurement)") {
      Tables(spark, dir, "lineitem")
        .groupBy("l_suppkey", "l_partkey")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("b", ops.Warehouse.supportBucket(col("l_suppkey")))
        .repartition(ops.Warehouse.SupportBuckets, col("b"))
        .write.partitionBy("b").mode("overwrite").parquet(base)
    }
    val schema = ops.Warehouse.SupportSchema.of(Tables(spark, dir, "lineitem"))
    val nRows = spark.read.schema(schema.base).parquet(base).count()
    println(s"COMPACTPROBE base rows=$nRows buckets=" +
      ops.Warehouse.SupportBuckets)
    // same-sized deltas: one confined to bucket 0, one across all 16
    val all = spark.read.schema(schema.base).parquet(base)
      .select("l_suppkey", "l_partkey")
    val deltaNarrow = s"$root/delta_narrow"
    val deltaWide = s"$root/delta_wide"
    // hash-sampled, NOT limit(): limit pulls from the first partitions
    // and silently confines "wide" to one bucket. Each shape gets its
    // own divisor targeting ~100k rows FROM ITS OWN POOL (bucket 0 is
    // ~1/16 of the base) — a shared divisor makes the two "same-sized"
    // deltas differ severalfold at small bases and skews the timing
    val wideDiv = math.max(1L, nRows / 100000L)
    val narrowDiv = math.max(1L, nRows / 16 / 100000L)
    all.filter(ops.Warehouse.supportBucket(col("l_suppkey")) === 0)
      .filter(pmod(xxhash64(col("l_partkey")), lit(narrowDiv)) === 0)
      .withColumn("dw", lit(1L))
      .write.mode("overwrite").parquet(deltaNarrow)
    all.filter(pmod(xxhash64(col("l_suppkey"), col("l_partkey")),
        lit(wideDiv)) === 0)
      .withColumn("dw", lit(1L))
      .write.mode("overwrite").parquet(deltaWide)
    Seq("narrow" -> deltaNarrow, "wide" -> deltaWide).foreach {
      case (n, p) =>
        val d = spark.read.parquet(p)
        println(s"COMPACTPROBE delta_$n rows=" + d.count() +
          " buckets=" + d.select(ops.Warehouse
            .supportBucket(col("l_suppkey"))).distinct().count())
    }
    // warm page cache parity: one throwaway compact of each shape
    (1 to 2).foreach { i =>
      t(s"compact 1-of-16 buckets #$i") {
        ops.Warehouse.compactSupport(spark, schema, base, Seq(deltaNarrow),
          s"$root/out_narrow_$i")
      }
      t(s"compact 16-of-16 buckets #$i") {
        ops.Warehouse.compactSupport(spark, schema, base, Seq(deltaWide),
          s"$root/out_wide_$i")
      }
    }
    // hard-link verification on the narrow run: every file of every
    // untouched bucket shares its inode with the base generation
    import scala.jdk.CollectionConverters._
    def inodes(dir: java.nio.file.Path): Map[String, Any] = {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => dir.relativize(p).toString ->
          java.nio.file.Files.getAttribute(p, "unix:ino"))
        .toMap
      finally s.close()
    }
    val baseIno = inodes(java.nio.file.Paths.get(base))
    val outIno = inodes(java.nio.file.Paths.get(s"$root/out_narrow_2"))
    val untouched = outIno.keySet.filter(k => !k.startsWith("b=0/"))
    val linked = untouched.count(k => baseIno.get(k).contains(outIno(k)))
    println(s"COMPACTPROBE hard-link carry: $linked/${untouched.size} " +
      "untouched files share the base generation's inode")
    if (linked != untouched.size) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
