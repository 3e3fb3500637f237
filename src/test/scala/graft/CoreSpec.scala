package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.Binom
import graft.hic.{Binning, Fragments, Spline, Stats}
import graft.ops.GlobalOrder

class BinomSpec extends AnyFunSuite with Matchers {
  test("sf edge cases") {
    Binom.sf(0, 10, 0.5) shouldBe 1.0
    Binom.sf(-1, 10, 0.5) shouldBe 1.0
    Binom.sf(11, 10, 0.5) shouldBe 0.0
    Binom.sf(5, 10, 0.0) shouldBe 0.0
    Binom.sf(5, 10, 1.0) shouldBe 1.0
  }
  test("sf golden value: P[X>=2], X~Binom(10, 0.1)") {
    // 1 - 0.9^10 - 10*0.1*0.9^9 (hand-computed)
    Binom.sf(2, 10, 0.1) shouldBe (0.2639010709 +- 1e-9)
  }
  test("sf matches direct pmf summation for small n") {
    def pmfSum(k: Int, n: Int, p: Double): Double =
      (k to n).map { i =>
        val c = (1 to i).foldLeft(1.0)((a, j) => a * (n - j + 1.0) / j)
        c * math.pow(p, i.toDouble) * math.pow(1 - p, (n - i).toDouble)
      }.sum
    for (k <- 1 to 19; p <- Seq(0.01, 0.3, 0.7))
      Binom.sf(k.toLong, 20, p) shouldBe (pmfSum(k, 20, p) +- 1e-9)
  }
  test("sf monotone non-increasing in k, bounded in [0,1]") {
    val vals = (0 to 50).map(k => Binom.sf(k.toLong, 50, 0.2))
    vals.foreach { v => v should be >= 0.0; v should be <= 1.0 }
    vals.sliding(2).foreach { case Seq(a, b) => a should be >= b }
  }
  test("sf stable for tiny p, huge n") {
    val v = Binom.sf(5, 2000000000L, 1e-12)
    v should be >= 0.0
    v should be <= 1.0
    // mean ~2e-3 → P[X>=5] tiny but positive
    v should be > 0.0
    v should be < 1e-10
  }
}

class SplineSpec extends AnyFunSuite with Matchers {
  test("PAVA output is non-increasing and preserves weighted mean") {
    val y = Array(5.0, 6.0, 4.0, 4.5, 3.0, 3.5, 1.0)
    val w = Array(1.0, 2.0, 1.0, 1.0, 3.0, 1.0, 1.0)
    val f = Spline.pavaNonIncreasing(y, w)
    f.sliding(2).foreach { case Array(a, b) => a should be >= b }
    val m0 = y.zip(w).map { case (a, b) => a * b }.sum
    val m1 = f.zip(w).map { case (a, b) => a * b }.sum
    m1 shouldBe (m0 +- 1e-9)
  }
  test("PAVA is identity on already non-increasing input") {
    val y = Array(9.0, 7.0, 7.0, 2.0)
    Spline.pavaNonIncreasing(y, Array.fill(4)(1.0)) shouldBe y
  }
  test("piecewise-linear eval: knots, interior, extrapolation") {
    val xs = Array(0.0, 10.0, 20.0)
    val ys = Array(4.0, 2.0, 1.0)
    Spline.eval(xs, ys, 0.0) shouldBe 4.0
    Spline.eval(xs, ys, 10.0) shouldBe 2.0
    Spline.eval(xs, ys, 5.0) shouldBe 3.0
    Spline.eval(xs, ys, 15.0) shouldBe 1.5
    Spline.eval(xs, ys, -5.0) shouldBe 4.0 // constant extrapolation
    Spline.eval(xs, ys, 99.0) shouldBe 1.0
  }
}

class GlobalOrderSpec extends AnyFunSuite with Matchers with SparkTest {
  test("rank and cumsum match single-partition window reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 500).map(i => (i.toLong, rnd.nextInt(50).toLong,
      rnd.nextInt(10).toLong)).toDF("id", "v", "w")
    val got = GlobalOrder.rankAndCumsum(df, Seq(col("v"), col("id")), "rk",
        cum = Some(("w", "cum")))
      .select("id", "rk", "cum")
    val wRef = Window.orderBy("v", "id")
    val ref = df.select(col("id"),
      row_number().over(wRef).cast("long").as("rk"),
      sum("w").over(wRef.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).as("cum"))
    got.except(ref).count() shouldBe 0
    ref.except(got).count() shouldBe 0
  }
  test("the input is re-read, not persisted, only when it filters and " +
      "projects cached data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("go_rule").toString
    Seq((1L, 2L), (3L, 4L)).toDF("id", "g").write.mode("overwrite")
      .parquet(dir)
    val parquet = spark.read.parquet(dir)
    val local = Seq((5L, 6L)).toDF("id", "g")
    val cached = parquet.select(col("id"), col("g") + 1 as "g").persist()
    try {
      GlobalOrder.readsCachesOnly(cached) shouldBe true
      GlobalOrder.readsCachesOnly(cached.filter(col("g") > 2)
        .select(col("id"), col("g") * 2 as "g2").as("t")) shouldBe true
      GlobalOrder.readsCachesOnly(parquet) shouldBe false
      GlobalOrder.readsCachesOnly(parquet.filter(col("g") > 2)) shouldBe false
      GlobalOrder.readsCachesOnly(local) shouldBe false
      GlobalOrder.readsCachesOnly(cached.groupBy("g").count()) shouldBe false
      GlobalOrder.readsCachesOnly(
        cached.join(cached.select(col("id"), col("g") as "h"), "id")) shouldBe
        false
    } finally {
      cached.unpersist()
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
  test("a cum column that is not bigint is rejected, naming the column") {
    import spark.implicits._
    val df = (1 to 10).map(i => (i.toLong, i, i.toLong))
      .toDF("id", "w", "dist")
    val e = intercept[IllegalArgumentException](GlobalOrder.rankAndCumsum(
      df, Seq(col("id")), "rk", cum = Some(("w", "cum"))))
    e.getMessage should include("cum column w must be bigint, got int")
    val bins = intercept[IllegalArgumentException](Binning.collectBins(
      df.withColumnRenamed("w", "contactCount"), 2, Seq("id")))
    bins.getMessage should include("cum column contactCount must be bigint")
  }
}

class BhSpec extends AnyFunSuite with Matchers with SparkTest {
  test("scalable BH equals naive single-window BH (differential check)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 400).map(i =>
      (i.toLong, math.rint(rnd.nextDouble() * 20) / 20)).toDF("id", "p")
    val got = Stats.bhQ(df, "p", Seq("id"), "q").scored.select("id", "q")
    val w = Window.orderBy("p", "id")
    val wDesc = Window.orderBy(col("rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = df.count()
    val ref = df.withColumn("rk", row_number().over(w))
      .withColumn("q", least(lit(1.0),
        min(col("p") * m / col("rk")).over(wDesc)))
      .select("id", "q")
    got.except(ref).count() shouldBe 0
    ref.except(got).count() shouldBe 0
  }
  test("BH matches the naive reference at 1, 4, 64 partitions") {
    // heavy p ties; 64 partitions over 11 distinct p values leaves most
    // of them empty. Exact bits of q, not a tolerance
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (1 to 1000).map(i =>
      (i.toLong, math.rint(rnd.nextDouble() * 10) / 10)).toDF("id", "p")
    val n = df.count()
    def bits(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.select("id", "q").collect().map(r =>
        r.getLong(0) -> java.lang.Double.doubleToLongBits(r.getDouble(1)))
        .toSet
    def naive(m: Long) = df
      .withColumn("rk", row_number().over(Window.orderBy("p", "id")))
      .withColumn("q", least(lit(1.0), min(col("p") * m / col("rk")).over(
        Window.orderBy(col("rk").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      for (parts <- Seq(1, 4, 64); m <- Seq(None, Some(3 * n + 7))) {
        spark.conf.set(key, parts.toString)
        withClue(s"$parts partitions, M = $m: ") {
          bits(Stats.bhQ(df, "p", Seq("id"), "q", m).scored) shouldBe
            bits(naive(m.getOrElse(n)))
        }
      }
    } finally spark.conf.set(key, prev)
  }
  test("a null p fails BH with its message") {
    import spark.implicits._
    val df = Seq((1L, Some(0.2)), (2L, None), (3L, Some(0.7)))
      .toDF("id", "p")
    val e = intercept[Exception](
      Stats.bhQ(df, "p", Seq("id"), "q").scored.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n") should
      include("bhQ: null p")
  }
  test("BH with M=1 gives q = min(1, p)") {
    import spark.implicits._
    val df = Seq((1L, 0.4)).toDF("id", "p")
    val q = Stats.bhQ(df, "p", Seq("id"), "q", Some(1L)).scored
      .select("q").first().getDouble(0)
    q shouldBe 0.4
  }
  test("bhQ over a filter of a bhQ output ≡ bhQ over the same rows") {
    // the refine_pass2 shape: pass 2 of the BH refinement filters pass 1's
    // OUTPUT and re-ranks it, which must give the q-values of the same
    // rows handed to BH afresh
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val df = (1 to 800).map(i => (i.toLong, rnd.nextDouble()))
      .toDF("id", "p")
    val bh1 = Stats.bhQ(df, "p", Seq("id"), "q1").scored
    val kept = bh1.filter(col("q1") >= 0.3).drop("q1")
    val fresh = kept.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq.toDF("id", "p")
    fresh.count() should (be > 0L and be < 800L)
    val filtered = Stats.bhQ(kept, "p", Seq("id"), "q").scored
      .select("id", "q")
    val direct = Stats.bhQ(fresh, "p", Seq("id"), "q").scored
      .select("id", "q")
    filtered.except(direct).count() shouldBe 0
    direct.except(filtered).count() shouldBe 0
  }
  test("BH q-values survive partition-renumbering consumers (union)") {
    // regression: the final narrow pass once read the STAGE task id for
    // its per-partition offset lookup; a union consumer offsets the
    // second child's task ids by the first child's partition count, which
    // restarted ranks per partition. The per-RDD partition index is
    // immune.
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val df = (1 to 900).map(i => (i.toLong, rnd.nextDouble()))
      .toDF("id", "p")
    val bh = Stats.bhQ(df, "p", Seq("id"), "q").scored
    val direct = bh.select("id", "q").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val other = (1 to 500).map(i => (-i.toLong, 0.5)).toDF("id", "p")
      .withColumn("q", lit(2.0))
    val viaUnion = other.unionByName(bh.select("id", "p", "q"))
      .filter(col("id") > 0)
      .select("id", "q").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaUnion shouldBe direct
  }

  /** (id, bits of q) for every row of a scored frame. */
  private def qBits(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    d.select("id", "q").collect().map(r =>
      r.getLong(0) -> java.lang.Double.doubleToLongBits(r.getDouble(1)))
      .toSet

  /** BH by its definition over two windows, with `m` tests. */
  private def naive(df: org.apache.spark.sql.DataFrame, m: Long) = df
    .withColumn("rk", row_number().over(Window.orderBy("p", "id")))
    .withColumn("q", least(lit(1.0), min(col("p") * m / col("rk")).over(
      Window.orderBy(col("rk").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))

  test("a NaN p fails BH with its message at 1 and 4 partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (1 to 200).map(i => (i.toLong,
      if (i % 50 == 0) Double.NaN else rnd.nextDouble())).toDF("id", "p")
    for (parts <- Seq(1, 4)) withClue(s"$parts partitions: ") {
      val e = intercept[Exception](
        Stats.bhQ(df.repartition(parts), "p", Seq("id"), "q").scored
          .collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n") should
        include("bhQ: NaN p")
    }
  }

  test("an empty prefix scores every row 1.0 in one job") {
    // every p ≥ 0.5 with M = 10·n: each p·M/rank ≥ 5, so no row is below
    // the cut and no prefix is collected
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 300).map(i => (i.toLong, 0.5 + rnd.nextDouble() / 2))
      .toDF("id", "p")
    var bh: Stats.Bh = null
    val jobs = jobsStartedBy { bh = Stats.bhQ(df, "p", Seq("id"), "q",
      Some(3000L)) }
    jobs.size shouldBe 1
    bh.steps.map(_.ps.length) shouldBe Some(0)
    bh.scored.select("q").distinct().collect().map(_.getDouble(0)) shouldBe
      Array(1.0)
    qBits(bh.scored) shouldBe qBits(naive(df, 3000L))
  }

  test("a prefix of every row runs two jobs and matches the reference") {
    // every p ≤ 1e-3 with 400 tests: every q is below 1, so every row is
    // in the prefix, and 37 distinct p values make 37 steps
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val df = (1 to 400).map(i => (i.toLong, (1 + rnd.nextInt(37)) * 1e-5))
      .toDF("id", "p")
    var bh: Stats.Bh = null
    val jobs = jobsStartedBy { bh = Stats.bhQ(df, "p", Seq("id"), "q") }
    jobs.size shouldBe 2
    bh.steps.map(_.ps.length) shouldBe
      Some(df.select("p").distinct().count().toInt)
    bh.scored.filter(col("q") >= 1.0).count() shouldBe 0
    qBits(bh.scored) shouldBe qBits(naive(df, 400L))
  }

  test("a tie that ends at the last q < 1 rank shares one q") {
    // ranks 4–8 tie at p = 0.7 with M = 10: p·M/4 = 1.75 but p·M/8 =
    // 0.875, so the whole tie takes 0.875; the two p = 1.0 rows stay at
    // 1.0, above the cut
    import spark.implicits._
    val ps = Seq.fill(3)(0.05) ++ Seq.fill(5)(0.7) ++ Seq.fill(2)(1.0)
    val df = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "p")
    val bh = Stats.bhQ(df, "p", Seq("id"), "q")
    val q = bh.scored.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    (3 until 8).map(i => q(i.toLong)).toSet shouldBe Set(0.7 * 10 / 8)
    (8 until 10).map(i => q(i.toLong)).toSet shouldBe Set(1.0)
    bh.steps.get.ps.toSeq shouldBe Seq(0.05, 0.7)
    bh.largestPBelow(0.9) shouldBe 0.7
    bh.largestPBelow(0.8) shouldBe 0.05
    bh.largestPBelow(0.1) shouldBe -1.0
    qBits(bh.scored) shouldBe qBits(naive(df, 10L))
  }

  test("p values on bucket edges match the reference at every M") {
    // powers of two sit on the edges of the exponent buckets, and M = 16
    // makes the cut test hold with equality: 4 rows of 0.25 and 4 of 0.5
    // give C = 4 = 0.25·16 and C = 8 = 0.5·16
    import spark.implicits._
    val exact = (Seq.fill(4)(0.25) ++ Seq.fill(4)(0.5)).zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("id", "p")
    for (m <- Seq(15L, 16L, 17L)) withClue(s"M = $m: ") {
      qBits(Stats.bhQ(exact, "p", Seq("id"), "q", Some(m)).scored) shouldBe
        qBits(naive(exact, m))
    }
    Stats.bhQ(exact, "p", Seq("id"), "q", Some(16L)).steps.get.ps shouldBe
      empty
    val rnd = new scala.util.Random(13)
    val df = (1 to 600).map(i => (i.toLong,
      if (i % 97 == 0) 0.0 else math.pow(2, -rnd.nextInt(14))))
      .toDF("id", "p")
    for (m <- Seq(None, Some(1000L), Some(4096L))) withClue(s"M = $m: ") {
      qBits(Stats.bhQ(df, "p", Seq("id"), "q", m).scored) shouldBe
        qBits(naive(df, m.getOrElse(600L)))
    }
  }

  test("the step path and the walk agree bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val df = (1 to 1500).map(i => (i.toLong,
      if (i % 3 == 0) math.rint(rnd.nextDouble() * 40) / 4000
      else rnd.nextDouble() * rnd.nextDouble())).toDF("id", "p")
    for (m <- Seq(None, Some(100L), Some(50000L))) withClue(s"M = $m: ") {
      val steps = Stats.bhQ(df, "p", Seq("id"), "q", m)
      val walked = Stats.bhQ(df, "p", Seq("id"), "q", m, maxSteps = 0)
      steps.steps.map(_.ps.length).getOrElse(0) should be > 0
      walked.steps shouldBe None
      qBits(steps.scored) shouldBe qBits(walked.scored)
      walked.largestPBelow(0.05) shouldBe steps.largestPBelow(0.05)
    }
  }
}

class BinningSpec extends AnyFunSuite with Matchers with SparkTest {
  test("an input with no rows or no contact mass has no bins") {
    import spark.implicits._
    val keys = Seq("chr", "mid1", "mid2")
    val zero = (1 to 20).map(i => ("chrT", i.toLong, i.toLong + 1, 0L,
      i.toLong * 1000L)).toDF("chr", "mid1", "mid2", "contactCount", "dist")
    Binning.collectBins(zero, 10, keys) shouldBe empty
    Binning.collectBins(zero.filter(col("dist") < 0), 10, keys) shouldBe
      empty
    Binning.equalOccupancy(zero, 10, keys).count() shouldBe 0L
  }
  test("equal-occupancy bins partition rows and conserve mass") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val contacts = (1 to 1000).map { i =>
      ("chrT", i.toLong, i.toLong + 1, rnd.nextInt(50).toLong + 1,
        rnd.nextInt(200000).toLong)
    }.toDF("chr", "mid1", "mid2", "contactCount", "dist")
    val bins = Binning.equalOccupancy(contacts, 10,
      Seq("chr", "mid1", "mid2")).collect()
    bins.map(_.getAs[Long]("pairCount")).sum shouldBe 1000L
    binsOf(bins) shouldBe formulaBins(contacts, 10)
    val total = contacts.agg(sum("contactCount")).first().getLong(0)
    bins.map(_.getAs[Long]("sumCount")).sum shouldBe total
    val target = total / 10.0
    // each bin holds the target mass ± the max single-pair count (50)
    bins.foreach { b =>
      b.getAs[Long]("sumCount").toDouble shouldBe (target +- (50 + target * 0.1))
    }
    // bins ordered by distance: maxDist non-decreasing with binIdx
    val sorted = bins.sortBy(_.getAs[Int]("binIdx"))
    sorted.sliding(2).foreach { case Array(a, b) =>
      a.getAs[Long]("maxDist") should be <= b.getAs[Long]("minDist")
    }
    // a zero-count row before any mass, with total ≤ nBins: its bin
    // ((0 − 1)·10) / 3 = −3 is negative, and it is still a bin
    val probe = Seq(("chrT", 1L, 2L, 0L, 1000L), ("chrT", 3L, 4L, 3L, 2000L))
      .toDF("chr", "mid1", "mid2", "contactCount", "dist")
    val probeBins = Binning.collectBins(probe, 10, Seq("chr", "mid1", "mid2"))
    probeBins.map(_.getAs[Long]("pairCount")).sum shouldBe 2L
    binsOf(probeBins) shouldBe formulaBins(probe, 10)
  }

  /** binIdx → (pairCount, sumCount) of collected bins. */
  private def binsOf(bins: Array[org.apache.spark.sql.Row])
      : Map[Int, (Long, Long)] =
    bins.map(b => b.getAs[Int]("binIdx") ->
      (b.getAs[Long]("pairCount"), b.getAs[Long]("sumCount"))).toMap

  /** The q_hic_equal_occupancy formula on the driver: rows in (dist, chr,
    * mid1, mid2) order, each in bin ((cum − 1)·nBins) / total with the
    * division truncating toward zero, as DuckDB's `//` does.
    */
  private def formulaBins(contacts: org.apache.spark.sql.DataFrame,
      nBins: Int): Map[Int, (Long, Long)] = {
    val rows = contacts.select("dist", "chr", "mid1", "mid2", "contactCount")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(r => (r._1, r._2, r._3, r._4))
    val total = rows.map(_._5).sum
    var cum = 0L
    rows.map { r => cum += r._5; ((cum - 1) * nBins / total).toInt -> r._5 }
      .groupBy(_._1).map { case (b, rs) =>
        b -> (rs.length.toLong, rs.map(_._2).sum)
      }
  }
}

class SkewSpec extends AnyFunSuite with Matchers with SparkTest {
  test("saltedJoin equals plain join and spreads the hot key") {
    import spark.implicits._
    // hot key: 90% of left rows share key 1
    val left = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong % 7 + 2, i.toLong)))
      .toDF("k", "payload")
    val right = (1L to 10L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = left.join(right, "k")
    val salted = graft.ops.Skew.saltedJoin(left, right, "k", 8,
      Seq(col("payload")))
    salted.count() shouldBe plain.count()
    salted.select("k", "payload", "name")
      .except(plain.select("k", "payload", "name")).count() shouldBe 0
    plain.select("k", "payload", "name")
      .except(salted.select("k", "payload", "name")).count() shouldBe 0
    // the hot key's rows actually land in multiple salt buckets
    val buckets = left.withColumn("__salt",
        pmod(xxhash64(col("payload")), lit(8L)))
      .filter(col("k") === 1L).select("__salt").distinct().count()
    buckets should be > 1L
  }
}

class FragmentsSpec extends AnyFunSuite with Matchers with SparkTest {
  test("possible intra pairs match brute force") {
    import spark.implicits._
    val frags = Seq(
      ("c1", 2500L), ("c1", 7500L), ("c1", 12500L), ("c1", 22500L),
      ("c2", 2500L), ("c2", 7500L), ("c2", 37500L))
      .toDF("chr", "mid").withColumn("hitCount", lit(5L))
    def brute(lo: Long, up: Long): Long = {
      val byChr = Seq(
        Seq(2500L, 7500L, 12500L, 22500L), Seq(2500L, 7500L, 37500L))
      byChr.map { mids =>
        mids.combinations(2).count { case Seq(a, b) =>
          val d = math.abs(b - a); d >= lo && d <= up
        }
      }.sum.toLong
    }
    for ((lo, up) <- Seq((0L, 100000L), (5000L, 10000L), (10000L, 20000L)))
      Fragments.possiblePairsWithChroms(Fragments.loci(frags), lo, up)
        .possible.intraInRange shouldBe brute(lo, up)
  }
  test("an empty distance range (low > up) holds no possible pair") {
    import spark.implicits._
    val frags = Seq(("c1", 2500L), ("c1", 7500L), ("c1", 12500L))
      .toDF("chr", "mid")
    Fragments.possiblePairsWithChroms(Fragments.loci(frags), 10000L, 4000L)
      .possible.intraInRange shouldBe 0L
  }
  test("possible inter pairs match the closed form") {
    import spark.implicits._
    val frags = Seq(("c1", 1L), ("c1", 2L), ("c2", 3L), ("c3", 4L),
      ("c3", 5L), ("c3", 6L)).toDF("chr", "mid")
    // 2*1 + 2*3 + 1*3 = 11
    Fragments.possiblePairsWithChroms(Fragments.loci(frags), 0L, 0L)
      .possible.interAll shouldBe 11L
  }
  test("possiblePairsWithChroms agrees with an enumeration of every " +
      "locus pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 200 draws per chromosome from 400 mids: duplicate loci included
    val drawn = for (c <- Seq("c1", "c2", "c3"); _ <- 0 until 200)
      yield (c, 500L + 1000L * rnd.nextInt(400))
    val frags = drawn.toDF("chr", "mid")
    val loci = drawn.distinct
    val pairs = for (i <- loci.indices; j <- i + 1 until loci.length)
      yield (loci(i), loci(j))
    for ((lo, up) <- Seq((0L, Long.MaxValue / 4), (0L, 0L), (1000L, 1000L),
        (5000L, 60000L))) withClue((lo, up)) {
      val got = Fragments.possiblePairsWithChroms(Fragments.loci(frags),
        lo, up)
      got.possible shouldBe Fragments.PossiblePairs(
        pairs.count { case ((c1, m1), (c2, m2)) =>
          val d = math.abs(m2 - m1); c1 == c2 && d >= lo && d <= up
        }.toLong,
        pairs.count { case ((c1, _), (c2, _)) => c1 != c2 }.toLong)
      got.chroms.sorted shouldBe Seq("c1", "c2", "c3")
    }
  }
  test("fixedSizeFragments lays a resolution grid") {
    val df = Fragments.fixedSizeFragments(spark,
      Seq(("c1", 20000L), ("c2", 7000L)), 5000L)
    import spark.implicits._
    df.select("chr", "mid").as[(String, Long)].collect().toSet shouldBe Set(
      ("c1", 2500L), ("c1", 7500L), ("c1", 12500L), ("c1", 17500L),
      ("c2", 2500L))
  }

  test("fixedSizeFragments: a chromosome shorter than resolution/2 " +
      "yields ZERO bins, not a sequence-boundary crash") {
    // chrM (16.5 kb) under a 50 kb grid is a routine real input:
    // sequence(25000, 16570, 50000) throws on start > stop, so the
    // guard must drop the chromosome instead of killing the job —
    // matching the DuckDB twin's empty generate_series
    val df = Fragments.fixedSizeFragments(spark,
      Seq(("chr1", 120000L), ("chrM", 16571L)), 50000L)
    import spark.implicits._
    df.select("chr", "mid").as[(String, Long)].collect().toSet shouldBe
      Set(("chr1", 25000L), ("chr1", 75000L))
  }
}

class TsvSpec extends AnyFunSuite with Matchers with SparkTest {
  test("gzip TSV write/read round-trip preserves fragments exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tsvspec").toString
    val frags = Seq(("chr1", 0L, 2500L, 15L, 1), ("chr2", 0L, 7500L, 3L, 0))
      .toDF("chr", "extraField", "mid", "hitCount", "mappable")
    graft.io.Tsv.write(frags, s"$dir/frags",
      graft.io.Tsv.fragmentSchema.fieldNames)
    // output is actually gzip-compressed
    val files = new java.io.File(s"$dir/frags").listFiles()
      .filter(_.getName.endsWith(".csv.gz"))
    files should not be empty
    val back = graft.io.Tsv.readFragments(spark, s"$dir/frags")
    back.as[(String, Long, Long, Long, Int)].collect().toSet shouldBe
      frags.as[(String, Long, Long, Long, Int)].collect().toSet
  }
}

class CachesSpec extends AnyFunSuite with Matchers with SparkTest {
  private val sf = "/root/testdata/sf0.001"

  test("a second read of a standing table that is already built starts " +
      "no job") {
    import spark.implicits._
    val key = graft.io.Scratch.sub("standing_spec_key")
    val frame = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val first = jobsStartedBy(
      graft.ops.Caches.readStanding("standing_spec", key, frame))
    first should not be empty // the one build writes the table
    val again = jobsStartedBy(
      graft.ops.Caches.readStanding("standing_spec", key, frame))
    again shouldBe empty
    graft.ops.Caches.readStanding("standing_spec", key, frame)
      .as[(Long, String)].collect().sorted shouldBe Array(1L -> "a", 2L -> "b")
    // the declared queries over standing tables plan their reads with no
    // job once the tables are built
    Seq("q_warehouse_incr_rollup", "q_warehouse_ivm_sketch",
        "q_hic_marginals", "q_hic_loops", "q_hic_bias_vector")
      .foreach { q =>
        Registry.all(q).fn(spark, sf)
        withClue(q) {
          jobsStartedBy(Registry.all(q).fn(spark, sf)) shouldBe empty
        }
      }
    graft.ops.Caches.drain()
  }

  test("a parquetHandoff read-back starts no job beyond its write") {
    val df = spark.range(0, 100, 1, 4).selectExpr("id", "id * 2 AS v")
    val write = jobsStartedBy(df.write.mode("overwrite")
      .parquet(graft.io.Scratch.sub("handoff_spec_write")))
    var back: org.apache.spark.sql.DataFrame = null
    val handoff = jobsStartedBy {
      back = graft.ops.Caches.parquetHandoff(df, "handoff_spec")
    }
    handoff.size shouldBe write.size
    back.schema.map(f => f.name -> f.dataType) shouldBe
      df.schema.map(f => f.name -> f.dataType)
    back.selectExpr("sum(v)").head().getLong(0) shouldBe 9900L
  }

  test("the Hi-C queries over the contacts view and the cell map plan no " +
      "in-memory copy of a standing table") {
    graft.ops.Caches.drain()
    Seq("q_hic_loops", "q_hic_apa", "q_hic_marginals", "q_hic_bias_vector")
      .foreach { q =>
        val df = Registry.all(q).fn(spark, sf)
        withClue(q) {
          df.queryExecution.withCachedData.collect {
            case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
              m
          } shouldBe empty
        }
      }
    graft.ops.Caches.drain()
  }
}
