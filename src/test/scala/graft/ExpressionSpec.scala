package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.{Binom, BinomSf, LocusKey}

/** The native Catalyst binom_sf expression, the library's one p-value:
  * parity with the Scala kernel and participation in whole-stage codegen
  * (SURVEY.md §4.2 upgrade path).
  */
class ExpressionSpec extends AnyFunSuite with Matchers with SparkTest {
  test("binom_sf expression ≡ Scala kernel over a parameter sweep") {
    import spark.implicits._
    BinomSf.register(spark)
    val cases = for {
      k <- Seq(0L, 1L, 5L, 20L, 100L)
      n <- Seq(10L, 100L, 100000L)
      p <- Seq(1e-9, 1e-4, 0.05, 0.5, 0.999)
    } yield (k, n, p)
    val df = cases.toDF("k", "n", "p")
      .withColumn("e", expr("binom_sf(k, n, p)"))
    df.collect().foreach { r =>
      val (k, n, p) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      r.getDouble(3) shouldBe Binom.sf(k, n, p)
    }
  }

  test("binom_sf runs inside WholeStageCodegen (no UDF dispatch)") {
    BinomSf.register(spark)
    // a literal-only frame constant-folds to LocalTableScan (also proof of
    // native-expression status); use a real scan to see the codegen span
    val df = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select(expr("binom_sf(cast(l_quantity as bigint), 100L, 0.1D)")
        .as("sf"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in simpleString; the
    // binom_sf projection must sit inside one
    plan should include("*(1) Project [binom_sf")
    df.count() shouldBe 6000
    // spot value parity against the kernel
    val q1 = df.first().getDouble(0)
    q1 should be >= 0.0
    q1 should be <= 1.0
  }

  test("BinomSf.register is idempotent: a second call replaces nothing") {
    // every session function the library registers on demand, with the
    // call that registers it
    val registers = Seq[(String, org.apache.spark.sql.SparkSession => Unit)](
      "binom_sf" -> BinomSf.register,
      "bloom_filter_agg" -> graft.llm.Selection.registerBloom,
      "might_contain" -> graft.llm.Selection.registerBloom,
      "ema_cents" -> graft.functions.EmaWindow.register)
    val registry = spark.sessionState.functionRegistry
    for ((name, register) <- registers) withClue(s"$name: ") {
      register(spark)
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      val before = registry.lookupFunction(id)
      register(spark)
      before shouldBe defined
      registry.lookupFunction(id).get should be theSameInstanceAs before.get
    }
  }

  test("a Param N keeps binom_sf's generated code independent of N") {
    def run(n: Long) = {
      val df = spark.range(50)
        .select(BinomSf.column(col("id"), n, lit(0.01)).as("sf"))
      val body = df.queryExecution.executedPlan.collectFirst {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.doCodeGen()._2.body
      }
      body shouldBe defined
      df.collect().zipWithIndex.foreach { case (r, k) =>
        r.getDouble(0) shouldBe Binom.sf(k.toLong, n, 0.01)
      }
      body.get
    }
    run(100L) shouldBe run(1000L)
  }

  /** `rows` (chr, mid) as an RDD-backed frame: a local relation would be
    * evaluated by the optimizer, not by generated code.
    */
  private def loci(rows: Seq[(String, Long)]) = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 3),
      org.apache.spark.sql.types.StructType.fromDDL("chr STRING, mid BIGINT"))
  }

  test("locus_key: an unknown chromosome gives null, generated and " +
      "interpreted") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val names = Seq("chr2", "chr1")
    val got = loci(Seq(("chr1", 5L), ("chrX", 5L), ("chr2", 7L)))
      .select(LocusKey.column(col("chr"), col("mid"), names).as("k"))
      .collect().map(r => Option(r.get(0))).toSeq
    got shouldBe Seq(Some(5L), None, Some((1L << 32) | 7L))
    val e = LocusKey(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.catalyst.expressions.BoundReference(1,
        org.apache.spark.sql.types.LongType, nullable = false),
      LocusKey.dictionary(names))
    e.eval(InternalRow(UTF8String.fromString("chrX"), 5L)) shouldBe
      (null: Any)
    e.eval(InternalRow(UTF8String.fromString("chr2"), 7L)) shouldBe
      ((1L << 32) | 7L)
  }

  test("locus_key orders as (chr, mid) under Spark's string ordering") {
    val rnd = new scala.util.Random(3)
    // case, digits, prefixes and non-ASCII: byte order, not numeric or
    // locale order
    val names = Seq("chr1", "chr10", "chr2", "chrX", "chr1_random", "Chr1",
      "c", "chrÉ", "chrZ", "scaffold_7")
    val rows = Seq.fill(400)((names(rnd.nextInt(names.length)),
      if (rnd.nextInt(10) == 0) (1L << 32) - 1 - rnd.nextInt(3)
      else rnd.nextInt(1 << 20).toLong)).distinct
    val keyed = loci(rows)
      .withColumn("k", LocusKey.column(col("chr"), col("mid"), names))
    val byKey = keyed.orderBy("k").select("chr", "mid").collect().toSeq
    byKey shouldBe keyed.orderBy("chr", "mid").select("chr", "mid")
      .collect().toSeq
    byKey.length shouldBe rows.length
  }

  test("locus_key fails loudly for a mid outside [0, 2^32)") {
    for (bad <- Seq(-1L, 1L << 32, Long.MaxValue)) withClue(bad) {
      val e = intercept[Exception](loci(Seq(("chr1", 1L), ("chr1", bad)))
        .select(LocusKey.column(col("chr"), col("mid"), Seq("chr1")))
        .collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException]) shouldBe true
    }
    // the largest mid that fits still packs
    loci(Seq(("chr1", (1L << 32) - 1)))
      .select(LocusKey.column(col("chr"), col("mid"), Seq("chr1")))
      .first().getLong(0) shouldBe (1L << 32) - 1
  }

  test("locus_key's generated code does not depend on the dictionary") {
    def body(names: Seq[String]) = loci(Seq(("a", 1L)))
      .select(LocusKey.column(col("chr"), col("mid"), names))
      .queryExecution.executedPlan.collectFirst {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.doCodeGen()._2.body
      }
    body(Seq("a")) shouldBe defined
    body(Seq("a")) shouldBe body(Seq("b", "a", "c"))
  }

  test("bh_step: generated and interpreted lookups agree, and the " +
      "generated code does not depend on the steps") {
    import org.apache.spark.sql.Row
    val ps = Array(1e-9, 0.001, 0.25)
    val qs = Array(0.0, 0.02, 0.5)
    // an RDD source, so the projection is not folded into a local relation
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(1e-9, 0.001, 0.0010000000000000002, 0.25, 0.3, 1.0).map(Row(_)),
        2), org.apache.spark.sql.types.StructType.fromDDL("p DOUBLE"))
    val got = df.select(graft.functions.BhStep.column(ps, qs)(col("p")))
      .collect().map(_.getDouble(0)).toSeq
    got shouldBe Seq(0.0, 0.02, 1.0, 0.5, 1.0, 1.0)
    val e = graft.functions.BhStep(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.DoubleType, nullable = false), ps, qs)
    df.collect().map(r => e.eval(
      org.apache.spark.sql.catalyst.InternalRow(r.getDouble(0)))).toSeq shouldBe
      got
    def body(ps: Array[Double], qs: Array[Double]) = df
      .select(graft.functions.BhStep.column(ps, qs)(col("p")))
      .queryExecution.executedPlan.collectFirst {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.doCodeGen()._2.body
      }
    body(ps, qs) shouldBe defined
    body(ps, qs) shouldBe body(Array.empty, Array.empty)
  }

  test("GraftExtensions injects binom_sf at session build") {
    // the extension class is instantiable and registers without error
    val ext = new graft.functions.GraftExtensions()
    val e = new org.apache.spark.sql.SparkSessionExtensions
    noException should be thrownBy ext(e)
  }

  test("char_ngram_multiset ≡ explode(substring) + groupBy on edge inputs") {
    import spark.implicits._
    // multibyte codepoints, repeats, double spaces, 1-char, empty
    val texts = Seq("abcabcab", "aéé€€€b", "a  b c ", "x", "", "ab",
      "ααββ αβ", "  ", "the cat the cat").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "t")
    for (n <- Seq(1, 2, 3)) {
      val kernel = df.select(col("id"),
        explode(graft.functions.TextKernels.charNgrams(n)(col("t")))
          .as("e"))
        .select(col("id"), col("e.gram").as("g"), col("e.mult").as("m"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      val ref = df.filter(expr(s"char_length(t) >= $n"))
        .select(col("id"),
          explode(expr(s"transform(sequence(1, char_length(t)-${n - 1}), " +
            s"i -> substring(t, i, $n))")).as("g"))
        .groupBy("id", "g").agg(count(lit(1)).as("m"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      kernel shouldBe ref
    }
  }

  test("word_bigram_buckets ≡ split+md5+bucketfold reference on edge inputs") {
    import spark.implicits._
    val texts = Seq("the cat sat", "a  b", " lead", "trail ", "one",
      "", "é multi byte œuf", "x y x y x y").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "t")
    val B = 4096
    val kernel = df.select(col("id"),
      explode(graft.functions.TextKernels.wordBigramBucketCol(B)(col("t")))
        .as("e"))
      .select(col("id"), col("e.hb").as("hb"), col("e.mult").as("m"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // the pre-kernel formulation: explode word bigrams, md5, fold the
    // first 3 hex digit VALUES base 16, group
    val hexd = (e: String) => s"(ascii($e) - 48 - " +
      s"CASE WHEN ascii($e) >= 97 THEN 39 ELSE 0 END)"
    val bucket = s"(((${hexd("substring(h, 1, 1)")} * 16 + " +
      s"${hexd("substring(h, 2, 1)")}) * 16 + " +
      s"${hexd("substring(h, 3, 1)")}) % $B)"
    val ref = df.withColumn("toks", split(col("t"), " "))
      .filter(expr("size(toks) >= 2"))
      .select(col("id"),
        explode(expr("transform(sequence(0, size(toks) - 2), " +
          "i -> concat_ws(' ', slice(toks, i + 1, 2)))")).as("bg"))
      .select(col("id"), expr(s"md5(bg)").as("h"))
      .select(col("id"), expr(bucket).cast("int").as("hb"))
      .groupBy("id", "hb").agg(count(lit(1)).as("m"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    kernel shouldBe ref
  }

  test("shingle_hashes ≡ withShingles + hash-transform on edge inputs") {
    import spark.implicits._
    val texts = Seq("the cat sat on the mat", "a  b  c d", "one two",
      "x", "", "dup dup dup dup", " lead tok here", "trail tok here ",
      "α β γ δ é").zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "t")
    // xxh family ≡ array_distinct(shingle strings) → xxhash64 per shingle
    val kernelX = df.select(col("doc_id"),
      explode(graft.functions.TextKernels.shingleHashCol(3, "xxh")(
        col("t"))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refBase = graft.llm.Dedup.withShingles(
      df.withColumnRenamed("t", "text"), 3)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    val refX = refBase.select(col("doc_id"), expr("xxhash64(s)").as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    kernelX shouldBe refX
    // md5fold family ≡ the ascii-fold expression of the near_check twin
    val h = (1 to 8).map(i =>
      s"CAST(ascii(substring(md5(s), $i, 1)) AS BIGINT) * " +
        (1L << ((8 - i) * 8))).mkString(" + ")
    val kernelM = df.select(col("doc_id"),
      explode(graft.functions.TextKernels.shingleHashCol(3, "md5fold")(
        col("t"))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refM = refBase.select(col("doc_id"), expr(h).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    kernelM shouldBe refM
  }

  test("span_window_keys ≡ posexplode(md5 window transform) on edge inputs") {
    import spark.implicits._
    val texts = Seq("a b c d e f g h i j", "one two three", "x", "",
      "t1 t2 t3 t4 t5 t6 t7 t8", "d  d  d  d  d  d  d  d  d",
      "é β multi byte tok a b c d é").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "t")
    val W = 8
    val kernel = df.select(col("doc_id"),
      posexplode(graft.functions.TextKernels.spanWindowCol(W)(col("t")))
        .as(Seq("pos", "k")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val ref = df.select(col("doc_id"), split(col("t"), " ").as("toks"))
      .filter(expr(s"size(toks) >= $W"))
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, size(toks) - $W), " +
          s"i -> md5(concat_ws(' ', slice(toks, i + 1, $W))))"))
          .as(Seq("pos", "k")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    kernel shouldBe ref
  }

  test("ema_cents window function ≡ JVM recurrence on a seeded stream") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // seeded per-key streams incl. odd sums (floor path) and single-row
    // keys (init path)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      (i.toLong % 13, i.toLong, rnd.nextInt(100000).toLong)
    } :+ (99L, 0L, 77L) // a key with exactly one row
    val w = Window.partitionBy("k").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = rows.toDF("k", "t", "x")
      .select(col("k"), col("t"),
        graft.functions.EmaWindow.emaCents(spark, col("x")).over(w)
          .as("ema"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val expected = rows.groupBy(_._1).flatMap { case (k, rs) =>
      var s = Option.empty[Long]
      rs.sortBy(_._2).map { case (_, t, x) =>
        s = Some(s.fold(x)(p => java.lang.Math.floorDiv(x + p, 2)))
        (k, t) -> s.get
      }
    }
    got shouldBe expected
  }

  test("ema_cents skips null inputs (state neither resets nor poisons)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = Seq((1L, 1L, Some(10L)), (1L, 2L, None: Option[Long]),
      (1L, 3L, Some(6L)), (1L, 4L, None: Option[Long]))
    val got = rows.toDF("k", "t", "x")
      .select(col("t"),
        graft.functions.EmaWindow.emaCents(spark, col("x")).over(w)
          .as("ema"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    got shouldBe Map(1L -> Some(10L), 2L -> Some(10L), // null: unchanged
      3L -> Some(8L), 4L -> Some(8L)) // (10+6)/2, then unchanged again
  }

  test("text kernels run inside WholeStageCodegen") {
    val df = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(
        graft.functions.TextKernels.charNgrams(2)(col("text"))).as("e"))
    val plan = df.queryExecution.executedPlan.toString
    plan should include("char_ngram_multiset")
    plan.split("\n").find(_.contains("char_ngram_multiset"))
      .exists(l => l.contains("*(") || plan.contains("Generate")) shouldBe true
    df.count() should be > 0L
  }
}
