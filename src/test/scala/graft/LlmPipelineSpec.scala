package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Differential gate for the distributed PCA: the spectrum from the
  * one-pass integer-Gram summary must equal a direct in-memory breeze
  * eigendecomposition of the covariance of the SAME ×1e3-quantized
  * vectors (the quantization defines the operator), and the summary
  * itself must be partition-count-invariant.
  */
class PcaSpec extends AnyFunSuite with Matchers with SparkTest {
  import graft.llm.Pca
  private val dir = "/root/testdata/sf0.001"
  private val dim = 64

  test("one-pass spectrum equals in-memory reference; partition-invariant") {
    val emb = Tables(spark, dir, "embeddings")
    val s = Pca.summarize(emb, dim)
    // exact-integer summary is identical under a different partitioning
    val s11 = Pca.summarize(emb.repartition(11), dim)
    s11.n shouldBe s.n
    s11.sums.toSeq shouldBe s.sums.toSeq
    s11.gram.toSeq shouldBe s.gram.toSeq

    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val n = vecs.length.toLong
    val q = vecs.map(_.map(x => math.round(x * Pca.Quant)))
    val m = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim) {
      val exy = q.map(v => v(i) * v(j)).sum.toDouble / n
      val ex = q.map(_(i)).sum.toDouble / n
      val ey = q.map(_(j)).sum.toDouble / n
      m(i, j) = (exy - ex * ey) / (Pca.Quant * Pca.Quant)
    }
    val want = breeze.linalg.eigSym(m).eigenvalues.toArray.sortBy(-_)
    val got = Pca.eigenvalues(s, dim)
    got.length shouldBe dim
    got.zip(want).foreach { case (g, w) => g shouldBe w +- 1e-9 }
    // covariance spectra are non-negative up to float fuzz, descending
    got.foreach(_ should be > -1e-9)
    got.zip(got.tail).foreach { case (a, b) => a should be >= b }
  }
}

/** Differential gate for deterministic Lloyd k-means: the distributed
  * trajectory (10 rounds, exact-integer distances, re-quantized means,
  * lowest-id seeding and tie-breaks) must equal an independent
  * in-memory reimplementation on the same quantized integers, and must
  * be partition-count-invariant (exact integers make this structural,
  * the test makes it observable).
  */
class KmeansSpec extends AnyFunSuite with Matchers with SparkTest {
  import graft.llm.Kmeans

  private def quantRef(x: Float): Long = {
    val v = x.toDouble * 1e7
    if (v >= 0) math.floor(v + 0.5).toLong else math.ceil(v - 0.5).toLong
  }
  private def meanRef(s: Long, n: Long): Long =
    if (s >= 0) (2 * s + n) / (2 * n) else -((2 * -s + n) / (2 * n))
  private def nearRef(v: Array[Long],
      cs: Array[Array[Long]]): (Int, Long) = {
    val ds = cs.map(c => c.indices.map { i =>
      val t = v(i) - c(i); t * t
    }.sum)
    val d = ds.min
    (ds.indexOf(d), d) // indexOf = lowest cluster id on ties
  }

  test("lloyd trajectory equals in-memory reference; partition-invariant") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(quantRef).toArray))
      .sortBy(_._1)
    var ctr = q.take(8).map(_._2.clone())
    for (_ <- 0 until 10) {
      val byC = q.map { case (_, v) => (nearRef(v, ctr)._1, v) }
        .groupBy(_._1)
      ctr = ctr.zipWithIndex.map { case (c, i) =>
        byC.get(i) match {
          case None => c.clone()
          case Some(ms) =>
            val n = ms.length.toLong
            Array.tabulate(c.length)(d => meanRef(ms.map(_._2(d)).sum, n))
        }
      }
    }
    val wantAsg = q.map { case (id, v) =>
      val (c, d2) = nearRef(v, ctr); (id, c, d2)
    }

    try {
      val (gotC, gotA) = Kmeans.lloyd(emb, k = 8, iters = 10)
      gotC.map(_.toSeq).toSeq shouldBe ctr.map(_.toSeq).toSeq
      gotA.collect().sortBy(_._1).toSeq shouldBe wantAsg.toSeq
      // same trajectory under a different partitioning
      val (gotC3, _) = Kmeans.lloyd(emb.repartition(3), k = 8, iters = 10)
      gotC3.map(_.toSeq).toSeq shouldBe ctr.map(_.toSeq).toSeq
    } finally graft.ops.Caches.drain()
  }
}

/** Pins the localCheckpoint release discipline: a plain unpersist() is a
  * no-op on checkpoints, so without the explicit backing-RDD release each
  * loop iteration would strand one table of blocks until RDD GC. Every
  * checkpointing loop is driven on its DISTRIBUTED path (routing caps
  * forced to 0 — the in-task paths never checkpoint) and must leave the
  * persistent-RDD registry exactly as it found it after Caches.drain().
  */
class CheckpointHygieneSpec extends AnyFunSuite with Matchers
    with SparkTest {
  import graft.hic
  import graft.llm
  private val dir = "/root/testdata/sf0.001"

  private def leaked(body: => Unit): Set[Int] = {
    ops.Caches.drain()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    ops.Caches.drain()
    (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
  }

  test("BPE learn releases every merge round's table") {
    leaked {
      llm.Bpe.learnMerges(Tables(spark, dir, "documents"), nMerges = 6)
      ()
    } shouldBe empty
  }

  test("distributed KR releases every balancing iterate") {
    val c = hic.ContactsView(spark, dir)
      .select(col("chr").as("chr1"), col("mid1"),
        col("chr").as("chr2"), col("mid2"), col("contactCount"))
    leaked {
      hic.ChrSolver.maxEdges.withValue(0L) {
        hic.Kr.biases(c, trimPercentile = 0.05, iterations = 4).count()
      }
      ()
    } shouldBe empty
  }

  test("distributed compartments release every power iterate") {
    val c = hic.ContactsView(spark, dir)
      .filter(col("dist").between(hic.HicQueries.L, hic.HicQueries.U))
    leaked {
      hic.ChrSolver.maxEdges.withValue(0L) {
        hic.Compartments.scores(c, iterations = 20).count()
      }
      ()
    } shouldBe empty
  }

  test("distributed CC releases every label table") {
    import spark.implicits._
    val verts = (0L to 9L).toDF("doc_id")
    val pairs = (0L until 9L).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    leaked {
      llm.Dedup.connectedComponents(verts, pairs, maxIters = 50,
        maxDriverEdges = 0L).count()
      ()
    } shouldBe empty
  }

  test("streaming spline refitter releases every cumulative iterate") {
    import spark.implicits._
    val sp = spark
    leaked {
      val refitter = new graft.stream.HicStream.SplineRefitter(
        nBins = 5, distLo = 0L, distHi = Long.MaxValue)
      val mk = (lo: Long) => (lo until lo + 20L).map(i =>
        graft.stream.HicStream.ContactEvent(
          new java.sql.Timestamp(1704067200000L), "c1", i * 5000L + 2500L,
          "c1", (i + 1 + i % 7) * 5000L + 2500L, i % 5 + 1L)).toDS()
      // three foreachBatch-shaped folds: each localCheckpoints a new
      // cumulative table and must release the previous one inline...
      refitter.processBatch(mk(0L), 0L)
      refitter.processBatch(mk(100L), 1L)
      refitter.processBatch(mk(200L), 2L)
      refitter.refitCount shouldBe 3
      // ...and close() releases the final iterate
      refitter.close()
      ()
    } shouldBe empty
    val _ = sp
  }
}

/** Functional pins for the round-8 training-data-pipeline queries
  * (contamination, repetition, clean, dedup-apply, stratified sample):
  * crafted-corpus expected values plus equivalence of the salted two-phase
  * stratified sample with the naive single-window ranking.
  */
class LlmPipelineSpec extends AnyFunSuite with Matchers with SparkTest {

  /** Write a crafted documents table into a temp sf-dir and return the dir
    * (the declared queries read `Tables(spark, dir, "documents")`).
    */
  private def sfDirWith(docs: DataFrame): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_llm_spec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String): Array[org.apache.spark.sql.Row] =
    try Registry.all(name).fn(spark, dir).collect()
    finally graft.ops.Caches.drain()

  test("contamination: identical/overlapping/disjoint train docs score 1, 1/3, 0") {
    import spark.implicits._
    // doc 0 (id % 20 == 0) is the eval set: shingles {"a b c", "b c d"}
    val dir = sfDirWith(Seq(
      (0L, "a b c d", "en", "s", 7L),
      (1L, "a b c d", "en", "s", 7L), // identical → fully contaminated
      (2L, "x y z w q", "en", "s", 9L), // disjoint → 0.0
      (3L, "a b c x y", "en", "s", 9L)) // shares 1 of 3 shingles
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = run("q_text_contamination", dir)
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    got.keySet shouldBe Set(1L, 2L, 3L) // eval docs excluded from output
    got(1L) shouldBe ((2L, 2L, 1.0))
    got(2L) shouldBe ((3L, 0L, 0.0))
    got(3L)._1 shouldBe 3L
    got(3L)._2 shouldBe 1L
    got(3L)._3 shouldBe (1.0 / 3 +- 1e-6)
  }

  test("repetition: duplicate-trigram fraction matches hand count") {
    import spark.implicits._
    // tokens [a b a b a b] → trigrams (a b a)(b a b)(a b a)(b a b):
    // 4 total, 2 distinct, dup_ratio 0.5
    val dir = sfDirWith(Seq(
      (1L, "a b a b a b", "en", "s", 11L),
      (2L, "p q r s", "en", "s", 7L), // all distinct → 0.0
      (3L, "x y", "en", "s", 3L)) // < 3 tokens → excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = run("q_text_repetition", dir)
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2),
        r.getDouble(3))).toMap
    got.keySet shouldBe Set(1L, 2L)
    got(1L) shouldBe ((4, 2, 0.5))
    got(2L) shouldBe ((2, 2, 0.0))
  }

  test("clean: casefolded, tags stripped, punctuation dropped, spaces collapsed") {
    import spark.implicits._
    val dir = sfDirWith(Seq(
      (1L, "Hello <B>World</B>!! 42", "en", "s", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = run("q_text_clean", dir).head
    // "Hello <B>World</B>!! 42" → "hello world 42" (lower() first, so
    // case variants converge to the same content address)
    r.getInt(2) shouldBe 14
    r.getInt(3) shouldBe 3
    val expectMd5 = Seq("hello world 42").toDF("t")
      .select(md5(col("t").cast("binary"))).head.getString(0)
    r.getString(1) shouldBe expectMd5
  }

  test("dedup-apply: min-id keeper survives with the cluster's copy count") {
    import spark.implicits._
    val dir = sfDirWith(Seq(
      (1L, "same text here", "en", "s", 14L),
      (2L, "same text here", "de", "s", 14L),
      (5L, "same text here", "es", "s", 14L),
      (3L, "unique text", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = run("q_dedup_apply", dir)
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    got shouldBe Map(1L -> 3L, 3L -> 1L)
  }

  test("shard assignment is a balanced permutation in hash order") {
    val sf = "/root/testdata/sf0.001"
    val got = Registry.all("q_text_shard").fn(spark, sf)
      .select("doc_id", "h", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    // (shard, pos) is a bijection onto 0..n-1 in hash order
    got.map(t => (t._3, t._4)).distinct.length shouldBe got.length
    val byRank = got.sortBy(t => (t._2, t._1)) // md5 order = rank order
    byRank.zipWithIndex.foreach { case ((_, _, shard, pos), i) =>
      shard shouldBe i % 16
      pos shouldBe i / 16
    }
    // round-robin keeps shard sizes within 1 of each other
    val sizes = got.groupBy(_._3).values.map(_.size)
    (sizes.max - sizes.min) should be <= 1
  }

  test("mixture: big sources downsampled by hash threshold, small kept whole") {
    import spark.implicits._
    val big = (0L until 50L).map(i => (i, s"doc $i text", "en", "big", 10L))
    val small = (100L until 105L).map(i =>
      (i, s"doc $i text", "en", "small", 10L))
    val dir = sfDirWith((big ++ small)
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = run("q_sample_mixture", dir)
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got("small") shouldBe ((5L, 5L)) // k capped at 65536 → keep all
    // big: k = 655360/50 = 13107 = 0x3333 → md5 4-hex-prefix < "3333"
    val expectBig = big.map(_._1).count { id =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      h.substring(0, 4) < "3333"
    }
    got("big")._1 shouldBe 50L
    got("big")._2 shouldBe expectBig.toLong
  }

  test("mixture: a source far above the rate granularity is never dropped") {
    import spark.implicits._
    // n_src > 65536·10 floors the integer rate to 0 — the k >= 1 floor
    // must keep a thin deterministic sample instead of silently dropping
    // the source (md5 prefixes are ~uniform: P(no "000x"-prefixed id in
    // 66k) ≈ (1 − 2^-16)^66000 ≈ e^-1 … so assert only non-emptiness of
    // the OUTPUT ROW, which the GROUP BY guarantees iff ≥1 doc survives;
    // with 700k docs the expected survivors are ~10.7 and P(0) < 1e-4)
    val huge = (0L until 700000L).map(i => (i, "x y z", "en", "huge", 5L))
    val dir = sfDirWith(huge.toDF("doc_id", "text", "lang", "source",
      "n_chars"))
    val got = run("q_sample_mixture", dir)
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.contains("huge") shouldBe true // not silently dropped
    got("huge")._1 shouldBe 700000L
    got("huge")._2 should be > 0L
    got("huge")._2 should be < 100L // k=1 → ~700000/65536 ≈ 11 kept
  }

  test("stratified sample: salted two-phase equals the naive global window") {
    val sf = "/root/testdata/sf0.001"
    val got = Registry.all("q_sample_stratified").fn(spark, sf)
      .select("lang", "smp_rank", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val naive = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .withColumn("smp_rank", row_number().over(
        Window.partitionBy("lang").orderBy(asc("h"), asc("doc_id"))))
      .filter(col("smp_rank") <= 20)
      .select("lang", "smp_rank", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    got.sorted shouldBe naive.sorted
    // every stratum capped at 20 and ranks are dense from 1
    got.groupBy(_._1).foreach { case (_, rows) =>
      val ranks = rows.map(_._2).sorted
      ranks shouldBe (1 to ranks.length).toArray
      ranks.length should be <= 20
    }
  }

  test("span dedup: cross-doc and within-doc duplicated windows hand-count") {
    import spark.implicits._
    // W = 8. doc 1/2 share exactly one 8-token window ("a..h");
    // doc 3 is an 8-periodic 16-token string, so its first and last
    // windows coincide (within-doc dup) while the 7 seam rotations are
    // unique; doc 4 is below the window length and must be excluded.
    val dir = sfDirWith(Seq(
      (1L, "a b c d e f g h i", "en", "s", 17L),
      (2L, "z a b c d e f g h", "en", "s", 17L),
      (3L, "p q r s t u v w p q r s t u v w", "en", "s", 31L),
      (4L, "m n", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val spans = run("q_dedup_spans", dir)
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val md5of = (s: String) => Seq(s).toDF("t")
      .select(md5(col("t").cast("binary"))).head.getString(0)
    spans.size shouldBe 2
    spans(md5of("a b c d e f g h")) shouldBe ((2L, 2L, 1L))
    spans(md5of("p q r s t u v w")) shouldBe ((2L, 1L, 3L))

    val cov = run("q_dedup_span_coverage", dir)
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    cov.keySet shouldBe Set(1L, 2L, 3L)
    cov(1L) shouldBe ((2L, 1L, 500000L))
    cov(2L) shouldBe ((2L, 1L, 500000L))
    cov(3L) shouldBe ((9L, 2L, 222222L))

    // islands: doc 1's dup window starts at token 1, doc 2's at 2; doc
    // 3's two dup windows cover [1,8] and [9,16] — contiguous, so they
    // MUST fuse into one 16-token island
    val isl = run("q_dedup_span_islands", dir)
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    isl.size shouldBe 3
    isl((1L, 1L)) shouldBe ((1L, 8L, 8L))
    isl((2L, 1L)) shouldBe ((2L, 9L, 8L))
    isl((3L, 1L)) shouldBe ((1L, 16L, 16L))
  }

  test("span islands: randomized differential vs naive interval merge") {
    import spark.implicits._
    // tiny vocab forces plenty of (cross- and within-doc) duplicate
    // windows; fixed seed keeps the fixture deterministic
    val rng = new scala.util.Random(7)
    // 2-symbol vocab: only 2^8 distinct windows, so ~600 drawn windows
    // collide constantly — cross-doc, within-doc, overlapping, touching
    val vocab = Array("a", "b")
    val docs = (0 until 30).map { id =>
      val toks = Array.fill(rng.nextInt(41))(vocab(rng.nextInt(2)))
      (id.toLong, toks.mkString(" "), "en", "s", 1L)
    }
    val W = 8
    // naive reference: global window multiset → per-doc dup starts →
    // merge [st, st+W−1] intervals that overlap or touch
    val winsByDoc = docs.map { case (id, text, _, _, _) =>
      val t = text.split(" ", -1)
      id -> (if (t.length >= W)
        (0 to t.length - W).map(i => t.slice(i, i + W).mkString(" "))
      else Seq.empty)
    }
    val global = winsByDoc.flatMap(_._2).groupBy(identity)
      .map { case (w, o) => w -> o.size }
    val want = winsByDoc.flatMap { case (id, ws) =>
      val dupSt = ws.zipWithIndex.collect {
        case (w, i) if global(w) > 1 => (i + 1).toLong
      }
      val islands = dupSt.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: tail, st) if st <= e + 1 =>
          (s, st + W - 1) :: tail
        case (acc, st) => (st, st + W - 1) :: acc
      }.reverse
      islands.zipWithIndex.map { case ((s, e), k) =>
        (id, (k + 1).toLong, s, e, e - s + 1)
      }
    }.sortBy(r => (r._1, r._2))
    val dir = sfDirWith(docs.toDF("doc_id", "text", "lang", "source",
      "n_chars"))
    val got = run("q_dedup_span_islands", dir)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    got shouldBe want
    want.nonEmpty shouldBe true // the fixture must actually exercise it
  }
}

/** Differential gate for product quantization: the distributed encode
  * must equal a plain-JVM per-vector twin at the deterministic init
  * codebooks, be partition-count-invariant, and 3 Lloyd rounds of
  * per-subspace training must not worsen total reconstruction inertia
  * (training exists to shrink it).
  */
class PqSpec extends AnyFunSuite with Matchers with SparkTest {
  import graft.llm.{Kmeans, Pq}
  private val dir = "/root/testdata/sf0.001"

  test("encode equals JVM twin at init books; partition-invariant") {
    val emb = Tables(spark, dir, "embeddings")
    val qv = Kmeans.quantized(emb)
    val books = Pq.initBooks(qv, m = 4, k = 8)
    val got = Pq.encode(qv, books).collect().sorted
    // JVM reference over the same quantized vectors
    val want = qv.collect().flatMap { v =>
      Pq.encodeOne(v.q, books).zipWithIndex
        .map { case ((c, d), s) => (v.id, s, c, d) }
    }.sorted
    got shouldBe want
    got.nonEmpty shouldBe true
    val got7 = Pq.encode(Kmeans.quantized(emb.repartition(7)), books)
      .collect().sorted
    got7 shouldBe got
  }

  test("adcTop3 equals a JVM twin; partition-invariant") {
    val emb = Tables(spark, dir, "embeddings")
    val got = graft.llm.Pq.adcTop3(emb, m = 4, k = 8, nProbes = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).sorted
    // JVM reference: encode every vector, per-probe LUT, exhaustive sum
    val qv = Kmeans.quantized(emb).collect().sortBy(_.id)
    val books = Pq.initBooks(Kmeans.quantized(emb), m = 4, k = 8)
    val codes = qv.map(v => v.id -> Pq.encodeOne(v.q, books).map(_._1))
      .toMap
    val want = qv.filter(_.id < 10).flatMap { p =>
      val sub = p.q.length / 4
      val lut = Array.tabulate(4, 8) { (s, c) =>
        val ctr = books(s)(c)
        (0 until ctr.length).map { i =>
          val t = p.q(s * sub + i) - ctr(i); t * t
        }.sum
      }
      qv.filter(_.id != p.id)
        .map(v => (v.id, codes(v.id).zipWithIndex
          .map { case (c, s) => lut(s)(c) }.sum))
        .sortBy { case (nb, adc) => (adc, nb) }
        .take(3).zipWithIndex
        .map { case ((nb, adc), i) => (p.id, i + 1, nb, adc) }
    }.sorted
    got shouldBe want
    val got7 = graft.llm.Pq.adcTop3(emb.repartition(7), 4, 8, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).sorted
    got7 shouldBe got
    graft.ops.Caches.drain()
  }

  test("trained codebooks do not worsen reconstruction inertia") {
    val emb = Tables(spark, dir, "embeddings")
    val qv = Kmeans.quantized(emb)
    def inertia(books: Array[Array[Array[Long]]]): BigInt =
      Pq.encode(qv, books).collect()
        .map { case (_, _, _, d) => BigInt(d) }.sum
    val init = inertia(Pq.initBooks(qv, m = 4, k = 8))
    val trained = inertia(Pq.trainedBooks(emb, m = 4, k = 8, iters = 3))
    trained should be <= init
  }

  test("fused codebook training ≡ one Kmeans.lloyd per sliced subspace") {
    // the r21 fusion (one corpus pass per round for all M subspaces)
    // must reproduce the original per-subspace-lloyd trajectory bit for
    // bit — same init, same exact-integer means, same empty-cluster
    // carry-over
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, dir, "embeddings")
    val fused = Pq.trainedBooks(emb, m = 4, k = 8, iters = 3)
    val dim = emb.select(org.apache.spark.sql.functions
      .size(col("embedding"))).head().getInt(0)
    val sub = dim / 4
    val want = Array.tabulate(4) { s =>
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding"), s * sub + 1, sub).as("embedding"))
      Kmeans.lloyd(sliced, 8, 3)._1
    }
    fused.map(_.map(_.toSeq).toSeq).toSeq shouldBe
      want.map(_.map(_.toSeq).toSeq).toSeq
    graft.ops.Caches.drain()
  }

  test("ann recall: all-cells probing gives recall 1.0; monotone in cells") {
    val emb = Tables(spark, dir, "embeddings")
    def recalls(cells: Int): Map[Long, Double] =
      graft.llm.Similarity.annIvfRecall(emb, nProbes = 10,
          probeClusters = cells)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // probing every cell makes the candidate set the corpus → exact
    val all = recalls(16)
    all.size shouldBe 10
    all.values.foreach(_ shouldBe 1.0)
    // pruning can only remove candidates: mean recall monotone in cells
    val r1 = recalls(1)
    val r3 = recalls(3)
    r1.values.foreach(v => (v >= 0.0 && v <= 1.0) shouldBe true)
    (r3.values.sum / r3.size) should be >= (r1.values.sum / r1.size)
    graft.ops.Caches.drain()
  }

  test("matryoshka recall: prefix ≡ full when tail is zero; full-vs-full " +
      "is exactly 1; fixture recall well-defined") {
    import spark.implicits._
    // 40 vectors whose ENTIRE signal lives in the first 16 dims (tail 48
    // dims zero): the 16-dim prefix search must reproduce the full-dim
    // neighborhood exactly — recall 1.0 for every probe
    val planted = (0 until 40).map { i =>
      val head = Array.tabulate(16)(j =>
        (math.sin(i * 16 + j) * 0.5 + (if (i % 4 == j % 4) 1.0 else 0.0))
          .toFloat)
      (i.toLong, head ++ Array.fill(48)(0.0f))
    }.toDF("vec_id", "embedding")
    val zeroTail = graft.llm.LlmQueries
      .mrlRecall3(planted, prefixDims = 16)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    zeroTail.size shouldBe 10
    zeroTail.values.foreach(_ shouldBe 1.0)
    // prefix = full dims is the identity comparison: recall exactly 1
    // on the REAL fixture too (the declared query's 16-dim leg reads
    // chance-level ≈ 0 there — i.i.d. embeddings are not MRL-nested)
    val full = graft.llm.LlmQueries.mrlRecall3(
      graft.Tables(spark, "/root/testdata/sf0.001", "embeddings"),
      prefixDims = 64)
      .collect().map(_.getDouble(2))
    full.length shouldBe 10
    full.foreach(_ shouldBe 1.0)
    graft.ops.Caches.drain()
  }

  test("extend-index delta: both broadcasts are delta-bounded — the " +
      "index id set is never the build side") {
    val idx = Pq.persistedIndex(spark, dir, m = 4, k = 8)
    val df = Pq.pendingArrivals(spark, idx, Tables(spark, dir,
      "embeddings"))
    val p = df.queryExecution.executedPlan.toString
    // exactly two broadcast joins (semi backstop + final anti), both
    // building the RIGHT side = the delta-bounded id sets; a BuildLeft
    // or a sort-merge here would mean the index ids started moving
    "BroadcastHashJoin".r.findAllIn(p).size shouldBe 2
    "BuildRight".r.findAllIn(p).size shouldBe 2
    p should not include "BuildLeft"
    p should not include "SortMergeJoin"
    // the index contributes ONE narrow column scan with the sub=0
    // one-row-per-vector predicate pushed to parquet
    "pqindex_".r.findAllIn(p).size shouldBe 1
    p should include("EqualTo(sub,0)")
    // replay is a no-op: every id Bloom-hits, the backstop confirms
    // all of them, the anti leaves nothing
    df.count() shouldBe 0L
  }

  test("extend-index degenerate-delta fallback: cap-forced shuffled " +
      "branch is broadcast-free and result-identical") {
    val idx = Pq.persistedIndex(spark, dir, m = 4, k = 8)
    val emb = Tables(spark, dir, "embeddings")
    // cap 0 forces the shuffled exact backstop — the branch a
    // full-corpus replay or merged backfill takes at 100 TB, where the
    // maybe-known residue is index-sized and must not broadcast
    val fb = Pq.pendingArrivals(spark, idx, emb, maxBroadcastIds = 0L)
    val p = fb.queryExecution.executedPlan.toString
    p should not include "BroadcastHashJoin"
    p should include("SortMergeJoin")
    // parity with the nominal branch: both prove the replay is empty
    fb.count() shouldBe
      Pq.pendingArrivals(spark, idx, emb).count()
    // and on a half-known feed both branches agree row-for-row
    val half = emb.filter(org.apache.spark.sql.functions
      .col("vec_id") % 2 === 0)
    val prefixIdx = graft.io.Scratch.sub("pqfb")
    // index over the even ids only → odd ids are the genuine delta
    Pq.buildIvfPqTrained(spark, prefixIdx, half,
      k = 8, m = 4, kb = 8, iters = 0)
    def ids(cap: Long) =
      Pq.pendingArrivals(spark, prefixIdx, emb, cap)
        .select("vec_id").collect().map(_.getLong(0)).sorted
    ids(0L) shouldBe ids(1L << 22)
    ids(0L).forall(_ % 2 == 1) shouldBe true
    graft.ops.Caches.drain()
  }

  test("incremental sidecar Bloom merges to the byte-identical " +
      "from-scratch filter") {
    val full = Pq.persistedIndex(spark, dir, m = 4, k = 8)
    val inc = Pq.persistedIndexIncremental(spark, dir, m = 4, k = 8)
    // prefix-build + delta-merge ORs the same inserted keys the full
    // build inserts — identical bits, like the codes tables themselves.
    // Resolved through the live manifests: inc's sidecar lives in a
    // versioned idbloom_v* dir after its arbitrated extends, full's in
    // the build-layout idbloom.
    java.util.Arrays.equals(Pq.liveIdBloomBytes(spark, inc),
      Pq.liveIdBloomBytes(spark, full)) shouldBe true
    Pq.codesOf(spark, inc).collect().toSet shouldBe
      Pq.codesOf(spark, full).collect().toSet
  }

  test("trained ivf+pq index: recall law — trained ≥ init on a planted " +
      "clustered corpus, searched from the same index layout") {
    import spark.implicits._
    // 8 orthogonal clusters × 8 members; ids 0..7 are ALL cluster 0, so
    // the iteration-0 coarse centroids (k lowest ids) are degenerate —
    // eight centroids inside one cluster — and cluster 0 itself splits
    // across cells. Probes are exactly those ids: the init index can
    // lose their co-member neighbors, the Lloyd-trained one must not
    // do WORSE (the recall law), and the contrast is non-vacuous by
    // construction. Deterministic jitter (sine, no RNG) keeps every
    // true top-3 inside the probe's own cluster.
    val dim = 64
    val planted = (0 until 64).map { i =>
      val c = i / 8
      val emb = Array.tabulate(dim) { j =>
        (if (j % 8 == c) 8.0 else 0.0).toFloat +
          (math.sin(i * 131 + j) * 0.05).toFloat
      }
      (i.toLong, emb)
    }.toDF("vec_id", "embedding")
    def recall(iters: Int): Double = {
      val out = graft.io.Scratch.sub(s"ivfpq_plant_$iters")
      Pq.buildIvfPqTrained(spark, out, planted,
        k = 8, m = 4, kb = 8, iters = iters)
      val rows = Pq.ivfPqTop3FromIndex(spark, out, planted,
        nProbes = 8, probeCells = 1).collect()
      rows.length should be <= 24
      rows.count(r => r.getAs[Long]("nb") / 8 ==
        r.getAs[Long]("probe") / 8) / 24.0
    }
    val init = recall(0) // iters=0 ⇒ the iteration-0 devices exactly
    val trained = recall(5)
    trained should be >= init
    // Lloyd separates the planted clusters: every probe's 3 hits are
    // co-members
    trained shouldBe 1.0
    graft.ops.Caches.drain()
  }

  test("index compaction: delta-fragmented codes fold to targetFiles " +
      "behind the arbitrated manifest commit; search results identical") {
    val emb = Tables(spark, dir, "embeddings")
    val idx = graft.io.Scratch.sub("pqcompact")
    // build on the even ids, extend with the full corpus — the extend
    // COMMITS the odd-id codes as a delta dir (the nightly small-files
    // fragmentation this job exists for)
    Pq.buildIvfPqTrained(spark, idx,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0),
      k = 8, m = 4, kb = 8, iters = 0)
    Pq.extendIndex(spark, idx, emb)
    def live = Pq.liveIndexManifest(idx)
    def parts(rel: String) = new java.io.File(s"$idx/$rel").listFiles()
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    val before = Pq.ivfPqTop3FromIndex(spark, idx, emb, nProbes = 8,
      probeCells = 3).collect().map(_.toString).sorted
    // the extend fragmented the snapshot: base + one committed delta
    live.delta should have size 1
    val preCompact = live
    Pq.compactIndex(spark, idx, targetFiles = 2)
    // folded: one codes generation at the target file count, no deltas
    val afterOne = live
    afterOne.delta shouldBe empty
    afterOne.codes should startWith("codes_v")
    parts(afterOne.codes) shouldBe 2
    // the sidecar rebuild at unchanged params is byte-identical to the
    // extend's OR-merged chain (compaction invisible to probes)
    Pq.liveIdBloomBytes(spark, idx) shouldBe
      spark.read.parquet(s"$idx/${preCompact.idbloom}")
        .head().getAs[Array[Byte]]("bf")
    // the swap is invisible: searches and extends resolve the manifest
    Pq.ivfPqTop3FromIndex(spark, idx, emb, nProbes = 8, probeCells = 3)
      .collect().map(_.toString).sorted shouldBe before
    Pq.pendingArrivals(spark, idx, emb).count() shouldBe 0L
    // a second compaction rotates the superseded-history window: the
    // original build dirs and the extend delta (referenced only by
    // manifests now two generations stale) reap; the last two
    // generations survive for in-flight readers
    Pq.compactIndex(spark, idx, targetFiles = 2)
    val afterTwo = live
    parts(afterTwo.codes) shouldBe 2
    new java.io.File(s"$idx/codes").exists() shouldBe false
    preCompact.delta.foreach(d =>
      new java.io.File(s"$idx/$d").exists() shouldBe false)
    new java.io.File(s"$idx/${afterOne.codes}").exists() shouldBe true
    // search still identical through two arbitrated swaps
    Pq.ivfPqTop3FromIndex(spark, idx, emb, nProbes = 8, probeCells = 3)
      .collect().map(_.toString).sorted shouldBe before
    graft.ops.Caches.drain()
  }

  test("combined-index lifecycle: prefix build + cells/codes extend + " +
      "compaction equals the one-shot build exactly") {
    val emb = Tables(spark, dir, "embeddings")
    val inc = Pq.persistedIvfPqIncremental(spark, dir, k = 8, m = 4,
      kb = 8)
    val one = Pq.persistedIvfPq(spark, dir, k = 8, m = 4, kb = 8)
    def search(root: String) =
      Pq.ivfPqTop3FromIndex(spark, root, emb, nProbes = 10,
        probeCells = 3).collect().map(_.toString).sorted
    search(inc) shouldBe search(one)
    // the lifecycle really exercised arbitrated maintenance: a commit
    // log exists (v0 migrate + extend + compact), the live codes is a
    // compacted generation at the target file count with no deltas
    graft.io.CommitLog.currentVersion(inc) should be >= 2
    val m = Pq.liveIndexManifest(inc)
    m.codes should startWith("codes_v")
    m.delta shouldBe empty
    new java.io.File(s"$inc/${m.codes}").listFiles()
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")) shouldBe 4
    // cells cover the whole corpus — the half a missing delta commit
    // would silently drop from every search
    Pq.cellsOf(spark, inc).count() shouldBe
      Pq.cellsOf(spark, one).count()
    graft.ops.Caches.drain()
  }

  test("persisted index memo keys on quantization params, not just the corpus") {
    // a differently-shaped request must get its own index root — the
    // memo serving the m=4 build to an m=8 caller would load
    // wrong-shaped codebooks (or silently wrong neighbors)
    val a = Pq.persistedIndex(spark, dir, m = 4, k = 8)
    val b = Pq.persistedIndex(spark, dir, m = 8, k = 8)
    val c = Pq.persistedIndex(spark, dir, m = 4, k = 8)
    a should not be b
    c shouldBe a
    // the differently-shaped index is real and loadable: 8 subspaces
    spark.read.parquet(s"$b/books")
      .select("sub").distinct().count() shouldBe 8L
  }
}
