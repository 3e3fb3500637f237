package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-9 additions: contact-matrix analytics (hic.Matrix) and event
  * funnel/retention (ops.EventAnalytics). Matrix queries are checked
  * differentially against an in-memory brute force over the same sf0.001
  * contacts view; the analytics queries against hand-derivable invariants.
  */
class AnalyticsSpec extends AnyFunSuite with Matchers with SparkTest {
  private val dir = "/root/testdata/sf0.001"

  // (chr, lo, hi, count) of the canonicalized contacts view
  private lazy val pairs: Seq[(String, Long, Long, Long)] =
    hic.ContactsView(spark, dir)
      .select(col("chr"), least(col("mid1"), col("mid2")).as("lo"),
        greatest(col("mid1"), col("mid2")).as("hi"), col("contactCount"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  test("insulation equals brute-force boundary walk") {
    val W = hic.Matrix.W
    val B = hic.Matrix.Bin
    val brute = pairs
      .filter { case (_, lo, hi, _) => hi - lo >= 2 * B && hi - lo < 2 * W }
      .flatMap { case (chr, lo, hi, n) =>
        (math.max(lo + B, hi - W) to math.min(hi - B, lo + W) by B)
          .map(b => ((chr, b), (n, 1L)))
      }
      .groupBy(_._1)
      .view.mapValues(vs =>
        (vs.map(_._2._1).sum, vs.map(_._2._2).sum)).toMap
    val got = Registry.all("q_hic_insulation").fn(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    got shouldBe brute
  }

  test("directionality equals brute-force two-leg sums; di in [-1, 1]") {
    val W = hic.Matrix.W
    val inWin = pairs.filter { case (_, lo, hi, _) =>
      lo < hi && hi - lo <= W }
    val a = inWin.groupBy { case (chr, _, hi, _) => (chr, hi) }
      .view.mapValues(_.map(_._4).sum).toMap // upstream legs
    val b = inWin.groupBy { case (chr, lo, _, _) => (chr, lo) }
      .view.mapValues(_.map(_._4).sum).toMap // downstream legs
    val bins = (a.keySet ++ b.keySet)
    val rows = Registry.all("q_hic_directionality").fn(spark, dir).collect()
    rows.map(r => (r.getString(0), r.getLong(1))).toSet shouldBe bins
    rows.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      r.getLong(2) shouldBe a.getOrElse(key, 0L)
      r.getLong(3) shouldBe b.getOrElse(key, 0L)
      r.getDouble(4) should (be >= -1.0 and be <= 1.0)
    }
  }

  test("obs/exp averages to 1 within every (chr, dist) stratum") {
    val oe = Registry.all("q_hic_obs_exp").fn(spark, dir)
    val strata = oe.groupBy("chr", "dist")
      .agg(avg(col("oe")).as("mean_oe"), count(lit(1)).as("n"),
        first(col("npairs")).as("npairs"))
      .collect()
    strata.length should be > 0
    strata.foreach { r =>
      r.getDouble(2) shouldBe 1.0 +- 1e-6
      r.getLong(3) shouldBe r.getLong(4) // every pair of the stratum kept
    }
  }

  test("funnel stages are monotone and stage 1 equals distinct viewers") {
    val rows = Registry.all("q_events_funnel").fn(spark, dir).collect()
    rows.map(_.getInt(0)).toSeq shouldBe Seq(1, 2, 3)
    val n = rows.map(_.getLong(2))
    n(0) should be >= n(1)
    n(1) should be >= n(2)
    val viewers = Tables(spark, dir, "events")
      .filter(col("event_type") === "view")
      .select("user_id").distinct().count()
    n(0) shouldBe viewers
  }

  test("retention: offset-0 cell equals cohort size; offsets non-negative") {
    val ret = Registry.all("q_events_retention").fn(spark, dir)
    val rows = ret.collect()
    rows.foreach(_.getLong(1) should be >= 0L)
    val day0 = rows.filter(_.getLong(1) == 0L)
      .map(r => (r.getDate(0), r.getLong(2))).toMap
    val cohorts = Tables(spark, dir, "events")
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
      .groupBy("cohort_day").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDate(0), r.getLong(1))).toMap
    day0 shouldBe cohorts
  }

  test("zipf: ranks dense, counts non-increasing, cum_share to ≤ 1") {
    val rows = Registry.all("q_text_zipf").fn(spark, dir).collect()
    rows.map(_.getInt(0)).toSeq shouldBe (1 to rows.length)
    rows.map(_.getLong(2)).toSeq.sliding(2).foreach {
      case Seq(x, y) => x should be >= y
      case _ => ()
    }
    rows.map(_.getDouble(3)).toSeq.sliding(2).foreach {
      case Seq(x, y) => x should be <= y
      case _ => ()
    }
    rows.last.getDouble(3) should be <= 1.0
  }

  test("histogram: buckets bound their min/max and counts total out") {
    val rows = Registry.all("q_agg_histogram").fn(spark, dir).collect()
    val total = Tables(spark, dir, "lineitem").count()
    rows.map(_.getLong(1)).sum shouldBe total
    rows.foreach { r =>
      val (bucket, min, max) = (r.getLong(0), r.getLong(2), r.getLong(3))
      min should be >= bucket * 100000
      max should be < (bucket + 1) * 100000
      min should be <= max
    }
  }

  test("sessionize: events conserved, session numbering dense from 1, " +
    "intra-session spans bounded") {
    val rows = Registry.all("q_events_sessionize").fn(spark, dir).collect()
    rows.map(_.getLong(4)).sum shouldBe Tables(spark, dir, "events").count()
    rows.groupBy(_.getLong(0)).foreach { case (_, sess) =>
      sess.map(_.getLong(1)).sorted.toSeq shouldBe
        (1L to sess.length.toLong) // running-sum numbering is dense
    }
    // a session's span is < 30 min × (n_events − 1) + 1 gap allowance:
    // each consecutive gap inside a session is ≤ 30 min by construction
    rows.foreach { r =>
      r.getLong(3) should be <= (r.getLong(4) - 1) * 1800000000L
    }
  }

  test("anomaly: flagged days exceed their user's mean by > 2 sigma") {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getLong(2)))
    val byUser = daily.groupBy(_._1)
    val rows = Registry.all("q_events_anomaly").fn(spark, dir).collect()
    rows.foreach { r =>
      val (u, cnt) = (r.getLong(0), r.getLong(2))
      val counts = byUser(u).map(_._3.toDouble)
      counts.length should be >= 3
      val mean = counts.sum / counts.length
      val sd = math.sqrt(counts.map(c => c * c).sum / counts.length -
        mean * mean)
      cnt.toDouble should be > mean + 2 * sd - 1e-9
      r.getDouble(3) should be > 2.0 - 1e-6
    }
  }

  test("compartments: unit norm, sign convention, near-optimal Rayleigh " +
    "quotient vs breeze dense eigendecomposition") {
    val rows = Registry.all("q_hic_compartments").fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    rows.length should be > 0
    // dense per-chr O/E−1 matrix from the same filtered view
    val filtered = hic.ContactsView(spark, dir)
      .filter(col("dist").between(hic.HicQueries.L, hic.HicQueries.U))
      .collect()
      .map(r => (r.getAs[String]("chr"), r.getAs[Long]("mid1"),
        r.getAs[Long]("mid2"), r.getAs[Long]("dist"),
        r.getAs[Long]("contactCount")))
    filtered.groupBy(_._1).foreach { case (chr, ps) =>
      val expByDist = ps.groupBy(_._4).view.mapValues(g =>
        g.map(_._5).sum.toDouble / g.length).toMap
      val mids = ps.flatMap(p => Seq(p._2, p._3)).distinct.sorted
      val ix = mids.zipWithIndex.toMap
      val n = mids.length
      val m = breeze.linalg.DenseMatrix.zeros[Double](n, n)
      ps.foreach { case (_, a, b, d, cnt) =>
        val w = cnt.toDouble / expByDist(d) - 1.0
        m(ix(a), ix(b)) += w
        if (a != b) m(ix(b), ix(a)) += w
      }
      val lambdaMax = breeze.linalg.eigSym(m).eigenvalues.toArray.max
      val chrScores = rows.filter(_._1 == chr)
      chrScores.map(_._2).sorted shouldBe mids // one score per bin
      val v = chrScores.sortBy(_._2).map(_._3)
      math.sqrt(v.map(x => x * x).sum) shouldBe 1.0 +- 1e-4
      // sign convention: first nonzero entry non-negative
      v.find(_ != 0.0).foreach(_ should be >= 0.0)
      // the returned vector's Rayleigh quotient v'Mv must be within 1%
      // of the true leading eigenvalue (robust to a small eigengap,
      // unlike direct collinearity with the breeze eigenvector)
      val bv = breeze.linalg.DenseVector(v)
      val rayleigh = bv.t * (m * bv)
      lambdaMax should be > 0.0
      rayleigh should be > 0.99 * lambdaMax
    }
  }

  test("tad boundaries: exactly the strict adjacent-grid local minima " +
    "below their chromosome mean") {
    val B = hic.Matrix.Bin
    val ins = Registry.all("q_hic_insulation").fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = ins.groupBy(_._1).flatMap { case (chr, rows) =>
      val sorted = rows.sortBy(_._2)
      val total = sorted.map(_._3).sum
      val n = sorted.length
      sorted.sliding(3).collect {
        case Array((_, pb, ps), (_, b, s), (_, nb, ns))
          if b - pb == B && nb - b == B && s < ps && s < ns &&
            s * n < total =>
          (chr, b, s, ps + ns - 2 * s)
      }
    }.toSet
    val got = Registry.all("q_hic_tad_boundaries").fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    got shouldBe expected
  }

  test("loop scores equal a brute-force donut walk (top-100 ordered)") {
    val B = hic.Matrix.Bin
    val sym = pairs.groupBy(p => (p._1, p._2, p._3)).view
      .mapValues(_.map(_._4).sum).toMap
    val chrStats = sym.groupBy(_._1._1).view.mapValues(cells =>
      (cells.size.toLong, cells.values.sum)).toMap
    val expected = sym.toSeq.collect {
      case ((chr, lo, hi), cnt)
        if cnt * chrStats(chr)._1 > 2 * chrStats(chr)._2 &&
          hi - lo > 10 * B =>
        val donut = for {
          dx <- -5 to 5; dy <- -5 to 5
          if math.max(dx.abs, dy.abs) >= 2
          n <- sym.get((chr, lo + dx * B, hi + dy * B))
        } yield n
        val ds = donut.sum
        (chr, lo, hi, cnt, donut.size.toLong, ds,
          cnt * 112000L / math.max(ds, 1L))
    }.sortBy { case (chr, lo, hi, _, _, _, e) => (-e, chr, lo, hi) }
      .take(100)
    val got = Registry.all("q_hic_loops").fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    expected.size should be > 0 // fixture must exercise the comparison
    got shouldBe expected
  }

  test("graph transitions: per-source probabilities sum to 1 and edge " +
    "weights conserve transition count") {
    val rows = Registry.all("q_graph_transitions").fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val nEvents = Tables(spark, dir, "events").count()
    val nUsers = Tables(spark, dir, "events")
      .select("user_id").distinct().count()
    rows.map(_._3).sum shouldBe nEvents - nUsers // one lag-null per user
    rows.groupBy(_._1).values.foreach { es =>
      es.map(_._4).sum shouldBe 1.0 +- 1e-6
    }
  }

  test("pagerank: distribution over nodes (sums to 1, all positive)") {
    val rows = Registry.all("q_graph_pagerank").fn(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    rows.length should be >= 2
    rows.foreach { case (_, r) => r should be > 0.0 }
    // no dangling nodes in the fixture graph → total rank mass conserved
    // up to the per-round 1e-9 quantization
    rows.map(_._2).sum shouldBe 1.0 +- 1e-4
  }

  test("pagerank operator matches an in-memory reference on seeded " +
    "random graphs (incl. dangling and disconnected nodes)") {
    val sp = spark
    import sp.implicits._
    def ref(edges: Seq[(String, String, Long)], iters: Int)
        : Map[String, Double] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val n = nodes.length.toDouble
      val out = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      def q9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
      var r = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val c = collection.mutable.Map[String, Double]()
          .withDefaultValue(0.0)
        for ((s, d, w) <- edges) c(d) += w.toDouble / out(s) * r(s)
        r = nodes.map(nd => nd -> q9(0.15 / n + 0.85 * c(nd))).toMap
      }
      r
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val nNodes = 3 + rnd.nextInt(8)
      val names = (0 until nNodes).map(i => s"n$i")
      val edges = (for {
        s <- names; d <- names
        if s != d && rnd.nextInt(3) == 0
      } yield (s, d, 1L + rnd.nextInt(9).toLong)).toSeq
      if (edges.nonEmpty) {
        val got = ops.Graph.pagerank(
            edges.toDF("src", "dst", "w"), iters = 5)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val want = ref(edges, 5)
        withClue(s"trial $trial (${edges.length} edges): ") {
          got.keySet shouldBe want.keySet
          got.foreach { case (k, v) =>
            // equal up to one 1e-9 quantization grid step (partial-agg
            // float order vs the reference's scan order)
            math.abs(v - want(k)) should be <= 2e-9
          }
        }
      }
      graft.ops.Caches.drain()
    }
  }

  test("gapfill: calendar-dense per user, counts conserved, fill carries " +
    "the last active day's value") {
    val rows = Registry.all("q_ts_gapfill").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getLong(2), r.getLong(3)))
    rows.map(_._3).sum shouldBe Tables(spark, dir, "events").count()
    rows.groupBy(_._1).values.foreach { days =>
      val ds = days.map(_._2.toLocalDate).sortBy(_.toEpochDay)
      // dense grid: every day between the user's first and last
      (ds.last.toEpochDay - ds.head.toEpochDay + 1) shouldBe ds.length
      // forward fill: walk the days; fill_c must equal the running last
      // value of active days (first day is active by construction)
      var carry = Long.MinValue
      days.sortBy(_._2.getTime).foreach { case (_, _, cnt, fill) =>
        if (cnt > 0) carry = fill // active day defines the new carry
        else fill shouldBe carry  // gap day repeats it
      }
    }
  }

  test("attribution: one row per purchase, channel consistent with the " +
    "brute-force last prior touch") {
    val sevenDays = 7L * 24 * 3600 * 1000000
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        ops.Cols.epochUs(col("ts")).as("tus")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val rows = Registry.all("q_events_attribution").fn(spark, dir).collect()
    rows.length shouldBe ev.count(_._3 == "purchase")
    val byUser = ev.groupBy(_._1)
    rows.foreach { r =>
      val (u, eid, tus) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val touches = byUser(u)
        .filter(e => (e._3 == "click" || e._3 == "view") &&
          (e._4 < tus || (e._4 == tus && e._2 < eid)))
      val expected = touches.sortBy(e => (e._4, e._2)).lastOption
        .filter(e => tus - e._4 <= sevenDays)
      r.getString(3) shouldBe expected.map(_._3).getOrElse("none")
      Option(r.get(4)).map(_.asInstanceOf[Long]) shouldBe
        expected.map(_._2)
    }
  }

  test("bigram lm: every eligible doc scored, ppm score within [0, 1e6]") {
    val rows = Registry.all("q_text_bigram_lm").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val eligible = Tables(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.length(col("text")) >= 2)
      .count()
    rows.length.toLong shouldBe eligible.longValue()
    rows.foreach { case (_, nBg, ppm) =>
      nBg should be > 0L
      ppm should be >= 0L
      ppm should be <= 1000000L
    }
  }

  test("chunker: stride/window coverage and md5 content match a " +
    "brute-force walk") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Registry.all("q_text_chunk").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = docs.toSeq.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      (0 to math.max(toks.length - 1, 0) by 96).map { start =>
        (id, (start / 96).toLong,
          math.min(128, toks.length - start),
          md5hex(toks.slice(start, start + 128).mkString(" ")))
      }
    }.toSet
    rows.toSet shouldBe expected
  }

  test("embedding quantization: codes span [0,255] and reconstruction " +
    "error is bounded by the step size") {
    val rows = Registry.all("q_embed_quantize").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getLong(5)))
    rows.length should be > 0
    val dims = Tables(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    rows.foreach { case (_, mn, mx, sumCode, sumErr) =>
      mx should be >= mn
      sumCode should be >= 0L
      sumCode should be <= 255L * dims
      sumErr should be >= 0L
      // per-element error < quantization step (mx−mn)/255 + 1
      sumErr should be < ((mx - mn) / 255 + 1) * dims
    }
  }

  test("jsonl round-trip: content checksums equal the same aggregate on " +
    "the original table") {
    // same md5-ascii checksum as the query (and its DuckDB oracle)
    val term = (1 to 8).map(i =>
      "CAST(ascii(substring(md5(concat(cast(doc_id as string), " +
        s"'|', text)), $i, 1)) AS BIGINT) * " + (1L << ((8 - i) * 8)))
      .mkString("(", " + ", ") % 1000000007L")
    val direct = Tables(spark, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        sum(expr(term)).as("content_sum"))
      .orderBy("lang").collect().map(_.toString)
    val roundTrip = Registry.all("q_sink_jsonl").fn(spark, dir)
      .collect().map(_.toString)
    roundTrip shouldBe direct
  }

  test("compartments: in-task and distributed paths agree") {
    val c = hic.ContactsView(spark, dir)
      .filter(col("dist").between(hic.HicQueries.L, hic.HicQueries.U))
    def collectScores(maxEdges: Long) =
      hic.ChrSolver.maxEdges.withValue(maxEdges) {
        hic.Compartments.scores(c).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      }
    val inTask = collectScores(Long.MaxValue)
    val dist = collectScores(0L)
    inTask.keySet shouldBe dist.keySet
    inTask.foreach { case (k, s) =>
      // identical semantics, different float-accumulation order
      math.abs(s - dist(k)) should be < 1e-9
    }
  }

  test("compartments: a call routing one chromosome in-task and one " +
      "distributed agrees with the all-in-task run") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def chr(name: String, n: Int) = for {
      i <- 0 until n; j <- i until n
      if rnd.nextDouble() < 0.8
    } yield (name, 2500L + 5000L * i, 2500L + 5000L * j, 5000L * (j - i),
      rnd.nextInt(50).toLong + 1L)
    val contacts = (chr("big", 14) ++ chr("small", 8))
      .toDF("chr", "mid1", "mid2", "dist", "contactCount")
    // edges per chromosome: 2·pairs − diagonals
    val edges = contacts.groupBy("chr")
      .agg((count(lit(1)) * 2 -
        sum(when(col("mid1") === col("mid2"), 1L).otherwise(0L))).as("ne"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    edges("small") should be < edges("big")
    val iterations = 30
    def collectScores(maxEdges: Long) = {
      var scores = Map.empty[(String, Long), Double]
      val jobs = jobsStartedBy {
        val rows = hic.ChrSolver.maxEdges.withValue(maxEdges) {
          hic.Compartments.scores(contacts, iterations).collect()
            .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        }
        scores = rows.toMap
        scores.size shouldBe rows.length // each bin from one path only
      }
      (scores, jobs.size)
    }
    val (inTask, inTaskJobs) = collectScores(Long.MaxValue)
    // the cap sits between the two: "small" fits a task, "big" does not
    val (mixed, mixedJobs) = collectScores(edges("small"))
    mixedJobs should be > inTaskJobs + iterations // big ran distributed
    mixed.keySet shouldBe inTask.keySet
    inTask.foreach { case (k, s) =>
      math.abs(s - mixed(k)) should be < 1e-9
    }
    // the in-task chromosome runs the same kernel either way
    mixed.filter(_._1._1 == "small") shouldBe
      inTask.filter(_._1._1 == "small")
    ops.Caches.drain()
  }

  test("saddle: planted two-block matrix puts strength in the corners") {
    import spark.implicits._
    // 20 loci in two APERIODIC compartments (contiguous blocks would
    // confound the checkerboard with the distance decay — the dominant
    // eigenvector then captures the boundary effect, measured):
    // same-compartment contacts 20× the cross ones. The eigenvector
    // must split the compartments, and the Q=2 saddle's diagonal cells
    // must carry higher mean O/E than the off-diagonal cell.
    val comp = Set(0, 3, 5, 6, 9, 10, 12, 15, 17, 18)
    val rows = for (i <- 0 until 20; j <- i until 20) yield {
      val same = comp(i) == comp(j)
      ("t", i * 5000L + 2500L, j * 5000L + 2500L, (j - i) * 5000L,
        if (same) 100L else 5L)
    }
    val contacts = rows
      .toDF("chr", "mid1", "mid2", "dist", "contactCount")
    val loci = hic.Compartments.scores(contacts, iterations = 30)
      .select(col("chr"), col("bin").as("mid"), col("score"))
    val cells = hic.Matrix.saddle(contacts, loci, 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        r.getLong(4).toDouble / r.getLong(2))
      .toMap
    cells.keySet shouldBe Set((1, 1), (1, 2), (2, 2))
    cells((1, 1)) should be > cells((1, 2)) * 2
    cells((2, 2)) should be > cells((1, 2)) * 2
    ops.Caches.drain()
  }

  test("triangles: planted K5 yields C(5,3), chains yield none, " +
      "partition-invariant") {
    import spark.implicits._
    // K5 on vertices 0–4 (canonical src<dst) + a 6-vertex chain 10–15
    val k5 = for (a <- 0 to 4; b <- a + 1 to 4) yield (a.toLong, b.toLong)
    val chain = (10 to 14).map(i => (i.toLong, i + 1L))
    val edges = (k5 ++ chain).toDF("src", "dst")
    val tri = ops.Graph.triangles(edges.repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    tri.length shouldBe 10 // C(5,3); the chain closes nothing
    tri.foreach { case (a, b, c) =>
      a should be < b; b should be < c; c should be <= 4L }
    tri.distinct.length shouldBe 10 // each triangle exactly once
    val tri2 = ops.Graph.triangles(edges.repartition(2)).collect()
    tri2.length shouldBe 10
    ops.Caches.drain()
  }
}
