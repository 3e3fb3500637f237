package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.ops.Cols

/** LLM-training-data pipeline queries: dedup, similarity search, text
  * analysis, multimodal (driver north star; SURVEY.md §2.B).
  *
  * Cosine math uses exact integer quantization (×1e7 per element, BIGINT
  * dot products) so Spark and DuckDB produce bit-identical similarities —
  * float-sum order never matters.
  */
object LlmQueries {
  /** Quantized (×1e7) embedding → BIGINT array; the ONE Spark-side
    * quantization expression (shared with [[EmbedQueries]] — the constant
    * is oracle-parity-critical, so exactly one definition per side).
    */
  private[llm] val quantArr = "transform(embedding, x -> " +
    "cast(round(cast(x as double)*10000000, 0) as bigint))"
  private[llm] val normQ =
    s"aggregate($quantArr, 0L, (acc, v) -> acc + v * v)"

  /** DuckDB: quantized vectors via unnest + generate_subscripts.
    * Shared with [[EmbedQueries]] (same ×1e7 discipline, same CTE names).
    */
  private[llm] val qvecsSql =
    "qv AS (SELECT vec_id, label, i, CAST(ROUND(CAST(v AS DOUBLE)*10000000, 0)" +
      " AS BIGINT) AS q FROM (SELECT vec_id, label, " +
      "generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v " +
      "FROM embeddings)), " +
      "nrm AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS n2 FROM qv " +
      "GROUP BY vec_id), " +
      "dots AS (SELECT a.vec_id AS va, b.vec_id AS vb, " +
      "CAST(SUM(a.q*b.q) AS BIGINT) AS dot " +
      "FROM qv a JOIN qv b ON a.i = b.i AND a.vec_id < b.vec_id " +
      "GROUP BY a.vec_id, b.vec_id), " +
      "sims AS (SELECT va, vb, CAST(dot AS DOUBLE)/" +
      "SQRT(CAST(na.n2 AS DOUBLE)*CAST(nb.n2 AS DOUBLE)) AS cos " +
      "FROM dots JOIN nrm na ON na.vec_id = va " +
      "JOIN nrm nb ON nb.vec_id = vb " +
      // zero-norm vectors are excluded on the Spark side (cosine is
      // undefined); encode the same contract here instead of relying on
      // fixtures never containing an all-zero embedding (DuckDB would
      // otherwise sort their NaN cosines above every real value)
      "WHERE na.n2 > 0 AND nb.n2 > 0)"

  /** DuckDB CTEs for per-doc distinct 3-gram shingles over ≥3-token docs
    * (mirrors Dedup.withShingles without the short-doc fallback); spliced
    * after WITH / WITH RECURSIVE.
    */
  private val shingleCtes: String =
    "toks AS (SELECT doc_id, string_split(text, ' ') AS t " +
      "FROM documents), " +
      "idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) " +
      "AS i FROM toks WHERE len(t) >= 3), " +
      "sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || " +
      "t[i+2] AS sh FROM idx)"

  /** Shared DuckDB CTE chain for the n-gram-Jaccard near-dup pair graph
    * (mirrors Dedup.ngramJaccardPairs incl. the maxDf=200 stopword-shingle
    * cutoff); spliced after WITH / WITH RECURSIVE.
    */
  private val ngramCtes: String =
    shingleCtes + ", " +
      "dfq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh), " +
      "shf AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfq USING (sh) " +
      "WHERE df <= 200), " +
      "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "COUNT(*) AS inter FROM shf a JOIN shf b ON a.sh = b.sh AND " +
      "a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "j AS (SELECT doc_a, doc_b, inter, CAST(inter AS DOUBLE)/" +
      "(sa.sz + sb.sz - inter) AS jaccard FROM inter " +
      "JOIN sizes sa ON sa.doc_id = doc_a " +
      "JOIN sizes sb ON sb.doc_id = doc_b) "

  /** Probe-side exact cosine: the FIXED probe set (tiny, broadcast) against
    * the full corpus — O(|probes|·n) by construction, never the n² pair
    * space. The earlier shape (a full `va < vb` theta self-join filtered
    * afterwards) was bounded only by Catalyst happening to push the probe
    * predicate through the union; this one is bounded structurally.
    */
  /** Per-probe exact top-3 cosine over a PREFIX slice of the embedding
    * (dims elements), exact-integer kernel, probe×corpus block shape.
    * Quantization runs once per row (N ops); the probe×corpus pair loop
    * — the hot path — is the codegen'd [[graft.functions.CosineQuant]]
    * primitive kernel, never an interpreted higher-order lambda
    * (measured 50×-class at 8×, the same lesson as q_sim_cosine_topk).
    */
  def mrlTop3(e: org.apache.spark.sql.DataFrame, dims: Int,
      nProbes: Int): org.apache.spark.sql.DataFrame = {
    val q = s"transform(slice(embedding, 1, $dims), x -> " +
      "cast(round(cast(x as double)*10000000, 0) as bigint))"
    val n = s"aggregate($q, 0L, (acc, v) -> acc + v*v)"
    val probes = broadcast(e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe"), expr(q).as("qa"),
        expr(n).as("na2"))
      .filter(col("na2") > 0))
    val cands = e.select(col("vec_id").as("nb"), expr(q).as("qb"),
      expr(n).as("nb2")).filter(col("nb2") > 0)
    val w = Window.partitionBy("probe").orderBy(desc("cos"), asc("nb"))
    probes.join(cands, col("probe") =!= col("nb"))
      .withColumn("cos", graft.functions.CosineQuant(
        col("qa"), col("qb"), col("na2"), col("nb2")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("probe"), col("nb"))
  }

  /** hits@3 + recall of the prefix-dim top-3 against the full-dim top-3
    * (q_embed_matryoshka; laws pinned in LlmPipelineSpec).
    */
  def mrlRecall3(e: org.apache.spark.sql.DataFrame,
      prefixDims: Int, fullDims: Int = 64, nProbes: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    val pre = mrlTop3(e, prefixDims, nProbes).withColumn("__hit", lit(1L))
    mrlTop3(e, fullDims, nProbes).join(pre, Seq("probe", "nb"), "left")
      .groupBy("probe")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("probe"), col("n_hit"),
        Cols.fround(col("n_hit").cast("double") / 3.0, 6).as("recall3"))
      .orderBy("probe")
  }

  private def probeSims(spark: org.apache.spark.sql.SparkSession,
      dir: String, nProbes: Int) = {
    val e = Tables(spark, dir, "embeddings")
    // quantize ONCE per row; the probe×corpus pair loop — the hot
    // path — is the codegen'd CosineQuant primitive kernel, never the
    // interpreted dotQ zip_with lambda (which re-quantized BOTH
    // embeddings per PAIR — the measured 50×-class shape mrlTop3's
    // comment documents). cosKernel computes the identical
    // dot/√(na·nb) on the same ×1e7 integers, so values are
    // bit-unchanged.
    val probes = broadcast(e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe"), expr(quantArr).as("qa"),
        expr(normQ).as("na2"))
      .filter(col("na2") > 0))
    // zero-norm candidates excluded to match the oracle's sims CTE —
    // their NaN cosine would otherwise sort FIRST under desc and win
    // the kNN row_number
    val cands = e.select(col("vec_id").as("nb"), expr(quantArr).as("qb"),
      expr(normQ).as("nb2"), col("label").as("nlabel"))
      .filter(col("nb2") > 0)
    probes.join(cands, col("probe") =!= col("nb"))
      .withColumn("cos", graft.functions.CosineQuant(
        col("qa"), col("qb"), col("na2"), col("nb2")))
  }

  def queries: Map[String, Q] = Map(
    "q_dedup_exact" -> Q(
      (spark, dir) =>
        Tables(spark, dir, "documents")
          .groupBy(md5(col("text").cast("binary")).as("text_md5"))
          .agg(min(col("doc_id")).as("keeper"),
            count(lit(1)).as("copies"),
            min(col("n_chars")).as("n_chars"))
          .orderBy("text_md5"),
      Some("SELECT md5(text) AS text_md5, " +
        "CAST(MIN(doc_id) AS BIGINT) AS keeper, COUNT(*) AS copies, " +
        "CAST(MIN(n_chars) AS BIGINT) AS n_chars " +
        "FROM documents GROUP BY md5(text) ORDER BY text_md5")),

    "q_sim_cosine_topk" -> Q(
      (spark, dir) =>
        Similarity.cosineTopK(Tables(spark, dir, "embeddings"), 20)
          .select(col("va"), col("vb"), Cols.fround(col("cos"), 6).as("cos"))
          .orderBy(desc("cos"), asc("va"), asc("vb")),
      Some("WITH " + qvecsSql + " SELECT va, vb, " +
        Cols.froundSql("cos", 6) + " AS cos FROM sims " +
        "ORDER BY cos DESC, va, vb LIMIT 20")),

    "q_sim_knn_label" -> Q(
      (spark, dir) => {
        // 5-NN majority label for the 10 probe vectors vec_id 0..9.
        val sym = probeSims(spark, dir, nProbes = 10)
        val wNn = Window.partitionBy("probe")
          .orderBy(desc("cos"), asc("nb"))
        val wVote = Window.partitionBy("probe")
          .orderBy(desc("votes"), asc("nlabel"))
        sym.withColumn("rn", row_number().over(wNn))
          .filter(col("rn") <= 5)
          .groupBy("probe", "nlabel")
          .agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(wVote))
          .filter(col("vr") === 1)
          .select(col("probe"), col("nlabel").as("knn_label"), col("votes"))
          .orderBy("probe")
      },
      Some("WITH " + qvecsSql + ", sym AS (" +
        "SELECT va AS probe, vb AS nb, cos FROM sims " +
        "UNION ALL SELECT vb, va, cos FROM sims), " +
        "nn AS (SELECT s.probe, s.nb, s.cos, e.label AS nlabel, " +
        "ROW_NUMBER() OVER (PARTITION BY s.probe ORDER BY s.cos DESC, s.nb) " +
        "AS rn FROM sym s JOIN embeddings e ON e.vec_id = s.nb " +
        "WHERE s.probe < 10), " +
        "votes AS (SELECT probe, nlabel, COUNT(*) AS votes FROM nn " +
        "WHERE rn <= 5 GROUP BY probe, nlabel), " +
        "best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe " +
        "ORDER BY votes DESC, nlabel) AS vr FROM votes) " +
        "SELECT probe, nlabel AS knn_label, votes FROM best WHERE vr = 1 " +
        "ORDER BY probe")),

    "q_dedup_embedding" -> Q(
      (spark, dir) =>
        // embedding-cosine near-dup: all pairs ≥ 0.35 (exact quantized
        // math, same kernel as top-k)
        Similarity.cosineAbove(Tables(spark, dir, "embeddings"), 0.35)
          .select(col("va"), col("vb"), Cols.fround(col("cos"), 6).as("cos"))
          .orderBy("va", "vb"),
      Some("WITH " + qvecsSql + " SELECT va, vb, " +
        Cols.froundSql("cos", 6) + " AS cos FROM sims WHERE cos >= 0.35 " +
        "ORDER BY va, vb")),

    "q_text_quality" -> Q(
      (spark, dir) => {
        // quality scoring: token count, mean token length, stopword ratio,
        // non-alphanumeric character ratio
        val stop = "array('the','a','of','and','to','value','table','row')"
        Tables(spark, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"),
            size(col("toks")).as("n_tokens"),
            ((length(col("text")) - size(col("toks")) + 1).cast("double") /
              size(col("toks"))).as("avg_tok_len"),
            (expr(s"size(filter(toks, t -> array_contains($stop, t)))")
              .cast("double") / size(col("toks"))).as("stop_ratio"),
            (length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
              .cast("double") / length(col("text"))).as("punct_ratio"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)/" +
        "len(string_split(text, ' ')) AS avg_tok_len, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> " +
        "list_contains(['the','a','of','and','to','value','table','row'], " +
        "t))) AS DOUBLE)/len(string_split(text, ' ')) AS stop_ratio, " +
        "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)" +
        "/length(text) AS punct_ratio " +
        "FROM documents ORDER BY doc_id")),

    "q_text_langid" -> Q(
      (spark, dir) => {
        // n-gram-free function-word heuristic: per-language stopword hit
        // ratios, argmax with deterministic tie order (en > de > es)
        val en = "array('the','a','of','and','to','in','is','it')"
        val de = "array('der','die','das','und','ist','zu')"
        val es = "array('el','la','de','y','es','en')"
        Tables(spark, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("r_en",
            expr(s"size(filter(toks, t -> array_contains($en, t)))")
              .cast("double") / size(col("toks")))
          .withColumn("r_de",
            expr(s"size(filter(toks, t -> array_contains($de, t)))")
              .cast("double") / size(col("toks")))
          .withColumn("r_es",
            expr(s"size(filter(toks, t -> array_contains($es, t)))")
              .cast("double") / size(col("toks")))
          .select(col("doc_id"), col("lang").as("label_lang"),
            when(col("r_en") >= col("r_de") && col("r_en") >= col("r_es"),
              "en").when(col("r_de") >= col("r_es"), "de")
              .otherwise("es").as("guess"),
            col("r_en"), col("r_de"), col("r_es"))
          .orderBy("doc_id")
      },
      Some {
        def ratio(l: String) =
          s"CAST(len(list_filter(string_split(text, ' '), t -> " +
            s"list_contains($l, t))) AS DOUBLE)/len(string_split(text, ' '))"
        val en = ratio("['the','a','of','and','to','in','is','it']")
        val de = ratio("['der','die','das','und','ist','zu']")
        val es = ratio("['el','la','de','y','es','en']")
        "SELECT doc_id, lang AS label_lang, " +
          s"CASE WHEN $en >= $de AND $en >= $es THEN 'en' " +
          s"WHEN $de >= $es THEN 'de' ELSE 'es' END AS guess, " +
          s"$en AS r_en, $de AS r_de, $es AS r_es " +
          "FROM documents ORDER BY doc_id"
      }),

    "q_text_fingerprint" -> Q(
      (spark, dir) =>
        // Karp–Rabin-style rolling polynomial fingerprint over token
        // hashes (xxhash64 seeds differ from DuckDB's → rows-only;
        // determinism/idempotence pinned in GraftSpec)
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            // modular Horner form keeps the accumulator < 2^31 so ANSI
            // arithmetic never overflows
            expr("aggregate(split(text, ' '), 0L, (h, t) -> " +
              "pmod(h * 1000003L + pmod(xxhash64(t), 1000000007L), " +
              "2147483647L))").as("fingerprint"),
            length(col("text")).as("n_chars_obs"))
          .orderBy("doc_id"),
      None),

    "q_text_fingerprint_check" -> Q(
      (spark, dir) =>
        // oracle twin for q_text_fingerprint: the SAME rolling modular
        // Horner fold, with the per-token hash swapped from xxhash64
        // (Spark-internal seeding) to md5-ascii arithmetic both engines
        // compute identically. The token hash stays < 2^23 < p, so
        // DuckDB's init-less list_reduce (first element seeds the fold)
        // agrees with Spark's 0-seeded aggregate on every document.
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            expr("aggregate(split(text, ' '), 0L, (h, t) -> " +
              "pmod(h * 1000003L + " +
              "ascii(substring(md5(t), 1, 1)) * 65536L + " +
              "ascii(substring(md5(t), 2, 1)) * 256L + " +
              "ascii(substring(md5(t), 3, 1)), " +
              "2147483647L))").as("fingerprint"),
            length(col("text")).as("n_chars_obs"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, " +
        "list_reduce(list_transform(string_split(text, ' '), t -> " +
        "CAST(ascii(substring(md5(t), 1, 1)) AS BIGINT) * 65536 + " +
        "ascii(substring(md5(t), 2, 1)) * 256 + " +
        "ascii(substring(md5(t), 3, 1))), " +
        "(h, x) -> (h * 1000003 + x) % 2147483647) AS fingerprint, " +
        "CAST(LENGTH(text) AS INT) AS n_chars_obs " +
        "FROM documents ORDER BY doc_id")),

    "q_text_tokens" -> Q(
      (spark, dir) =>
        Tables(spark, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("token"))
          .limit(50),
      Some("SELECT tok AS token, COUNT(*) AS cnt FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "WHERE tok <> '' GROUP BY tok ORDER BY cnt DESC, token LIMIT 50")),

    "q_text_tokens_bpe" -> Q(
      (spark, dir) => {
        // BPE-ish pre-tokenization (GPT-2-style coarse split): a token is
        // an optional leading space + a letter run, digit run, or
        // punctuation run. Plain alternation/charclass only, so Java regex
        // (Spark) and RE2 (DuckDB) agree match-for-match.
        val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
        Tables(spark, dir, "documents")
          .withColumn("toks",
            regexp_extract_all(col("text"), lit(pat), lit(0)))
          .select(col("doc_id"),
            size(col("toks")).as("n_tokens"),
            size(array_distinct(col("toks"))).as("n_distinct"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, CAST(len(regexp_extract_all(text, " +
        "' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS INT) AS n_tokens, " +
        "CAST(len(list_distinct(regexp_extract_all(text, " +
        "' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) AS INT) AS n_distinct " +
        "FROM documents ORDER BY doc_id")),

    "q_text_tfidf" -> Q(
      (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val nDocs = docs.count()
        // tf feeds THREE lineages (doc lengths, document frequencies,
        // the scored join). As originally written each lineage
        // re-scanned and re-tokenized the corpus: the df branch's
        // unused inner count let the planner rewrite its tf copy into
        // a DISTINCT, and the missing isnotnull(doc_id) (the other two
        // branches inherit it from their doc_id join) diverged its
        // scan — two different subtrees, so exchange reuse never saw
        // them as equal. With df counting tf's VALUE and the explicit
        // source-side isNotNull, all three tf subtrees are
        // bit-identical and ONE exchange serves them (AQE stage-cache
        // reuse; TimeQ inputRecs 15 000 → 10 000 = one corpus scan +
        // the nDocs count): one scan, one explode, one corpus
        // exchange — lens and df re-aggregate the same shuffle files.
        // No cache: the shuffle files already persist the pass.
        val tf = docs
          .filter(col("doc_id").isNotNull)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val lens = tf.groupBy("doc_id").agg(sum(col("tf")).as("doc_len"))
        // count(tf > 0), not count(1): tf ≥ 1 by construction so the
        // value is identical, but a bare count (or count of a
        // never-null column) lets the optimizer drop the inner
        // aggregate's count and diverge the shared subtree
        val df_ = tf.groupBy("term")
          .agg(count(when(col("tf") > 0, 1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(desc("score"), asc("term"))
        tf.join(lens, "doc_id").join(df_, "term")
          .withColumn("score",
            Cols.fround((col("tf").cast("double") / col("doc_len")) *
              log(lit(nDocs.toDouble) / col("df")), 8))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("doc_id"), col("term"), col("tf"), col("score"))
          .orderBy("doc_id", "term")
      },
      Some("WITH tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents WHERE doc_id IS NOT NULL) WHERE tok <> '' " +
        "GROUP BY doc_id, tok), " +
        "lens AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len " +
        "FROM tf GROUP BY doc_id), " +
        "idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
        "nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents), " +
        "scored AS (SELECT tf.doc_id, tf.term, tf.tf, " +
        Cols.froundSql("(CAST(tf.tf AS DOUBLE)/doc_len) * " +
          "LN((SELECT n FROM nd)/df)", 8) + " AS score " +
        "FROM tf JOIN lens USING (doc_id) JOIN idf USING (term)), " +
        "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, term) AS rn FROM scored) " +
        "SELECT doc_id, term, tf, score FROM ranked WHERE rn <= 5 " +
        "ORDER BY doc_id, term")),

    "q_dedup_near" -> Q(
      (spark, dir) =>
        // MinHash-LSH near-dup candidates (seeded) — sketch internals not
        // SQL-expressible → rows-only; exact-dup ⊂ near-dup property in
        // GraftSpec.
        Dedup.minhashPairs(Tables(spark, dir, "documents"), maxDist = 0.9)
          .select(col("doc_a"), col("doc_b"),
            Cols.fround(col("jaccard_dist"), 6).as("jaccard_dist"))
          .orderBy("doc_a", "doc_b"),
      None),

    "q_dedup_near_check" -> Q(
      (spark, dir) => {
        // oracle twin for q_dedup_near: the SAME MinHash-LSH code path
        // (Dedup.minhashPairs — shingle hash table, per-table signature
        // UDF, band self-join, exact hashed-Jaccard verify) driven by an
        // md5-ascii shingle hash and the unmixed xor signature family,
        // every step of which DuckDB replays — so the LSH plumbing is
        // hash-pinned, and only the xxhash64/splitmix64 family of
        // q_dedup_near itself stays rows-only. Docs under 3 tokens are
        // excluded on both sides (the oracle's shingle CTE drops them).
        Dedup.minhashPairs(Tables(spark, dir, "documents")
            .filter(size(split(col("text"), " ")) >= 3),
            maxDist = 0.9, numTables = 5, seed = 7L,
            shingleFamily = "md5fold", mixed = false)
          .select(col("doc_a"), col("doc_b"),
            Cols.fround(col("jaccard_dist"), 6).as("jaccard_dist"))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val h = (1 to 8).map(i =>
          s"CAST(ascii(substring(md5(sh), $i, 1)) AS BIGINT) * " +
            (1L << ((8 - i) * 8))).mkString(" + ")
        "WITH " + shingleCtes + ", " +
        "hh AS (SELECT doc_id, " + h + " AS h FROM sh), " +
        "tbl AS (SELECT unnest([0, 1, 2, 3, 4]) AS t), " +
        "sig AS (SELECT doc_id, t, MIN(xor(h, 7 + t * 1000003)) AS mh " +
        "FROM hh, tbl GROUP BY doc_id, t), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM sig a JOIN sig b ON a.t = b.t AND a.mh = b.mh " +
        "AND a.doc_id < b.doc_id), " +
        // mirror jaccardHashes exactly: the left side is a SET of hashes
        // (distinct), the right side a LIST (one row per shingle)
        "da AS (SELECT DISTINCT doc_id, h FROM hh), " +
        "na AS (SELECT doc_id, COUNT(*) AS sza FROM da GROUP BY doc_id), " +
        "nb AS (SELECT doc_id, COUNT(*) AS szb FROM hh GROUP BY doc_id), " +
        "ix AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i FROM cand c " +
        "JOIN hh hb ON hb.doc_id = c.doc_b " +
        "JOIN da ON da.doc_id = c.doc_a AND da.h = hb.h " +
        "GROUP BY c.doc_a, c.doc_b), " +
        "jd AS (SELECT ix.doc_a, ix.doc_b, 1.0 - CAST(ix.i AS DOUBLE) / " +
        "(na.sza + nb.szb - ix.i) AS jaccard_dist FROM ix " +
        "JOIN na ON na.doc_id = ix.doc_a " +
        "JOIN nb ON nb.doc_id = ix.doc_b) " +
        "SELECT doc_a, doc_b, " + Cols.froundSql("jaccard_dist", 6) +
        " AS jaccard_dist FROM jd WHERE jaccard_dist <= 0.9 " +
        "ORDER BY doc_a, doc_b"
      }),

    "q_dedup_simhash" -> Q(
      (spark, dir) =>
        Dedup.simhashPairs(Tables(spark, dir, "documents"), maxHamming = 16)
          .orderBy("doc_a", "doc_b"),
      None),

    "q_dedup_simhash_bands" -> Q(
      (spark, dir) => {
        // oracle twin for q_dedup_simhash: the SAME banding + candidate
        // self-join + Hamming-verify code path (Dedup.bandedHammingPairs),
        // driven by an md5-derived 64-bit signature both engines can
        // compute — pins the band plumbing hash-for-hash in DuckDB; only
        // the murmur simhash signature itself stays rows-only.
        val sim = (1 to 8).map(i =>
            expr(s"cast(ascii(substring(md5(text), $i, 1)) as bigint)") *
              lit(1L << ((8 - i) * 8)))
          .reduce(_ + _)
        Dedup.bandedHammingPairs(
          Tables(spark, dir, "documents")
            .select(col("doc_id"), sim.as("sim")), maxHamming = 16)
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val simSql = (1 to 8).map(i =>
          s"CAST(ascii(substring(md5(text), $i, 1)) AS BIGINT) * " +
            (1L << ((8 - i) * 8))).mkString(" + ")
        "WITH s AS (SELECT doc_id, " + simSql + " AS sim FROM documents), " +
        "bands AS (SELECT unnest([0, 1, 2, 3]) AS band), " +
        "b AS (SELECT doc_id, sim, band, " +
        "(sim >> (band * 16)) & 65535 AS key FROM s, bands), " +
        "c AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, " +
        "l.sim AS sim_a, r.sim AS sim_b FROM b l JOIN b r " +
        "ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id), " +
        "h AS (SELECT doc_a, doc_b, " +
        "CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming FROM c) " +
        "SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 16 " +
        "ORDER BY doc_a, doc_b"
      }),

    "q_dedup_ngram_jaccard" -> Q(
      (spark, dir) =>
        // docs under 3 tokens are excluded on BOTH sides (the oracle's
        // shingle CTE drops them; Dedup's whole-text fallback shingle
        // would otherwise make Spark pair them); the capacity probe
        // counts the UNFILTERED table (superset bound — doc_id-only
        // pruned scan, no tokenize pass)
        Dedup.ngramJaccardPairs(Tables(spark, dir, "documents")
          .filter(size(split(col("text"), " ")) >= 3), 3, 0.2,
          probeDocs = Some(Tables(spark, dir, "documents")))
          .select(col("doc_a"), col("doc_b"), col("inter"),
            Cols.fround(col("jaccard"), 6).as("jaccard"))
          .orderBy("doc_a", "doc_b"),
      Some("WITH " + ngramCtes +
        " SELECT doc_a, doc_b, inter, " + Cols.froundSql("jaccard", 6) +
        " AS jaccard FROM j WHERE jaccard >= 0.2 ORDER BY doc_a, doc_b")),

    "q_graph_triangles" -> Q(
      (spark, dir) => {
        // triangle enumeration over the near-dup pair graph (same pairs
        // as q_dedup_ngram_jaccard): the cluster-density primitive —
        // a pair that closes into triangles is a clique forming, a pair
        // that doesn't is a chain artifact. Ordered (a<b<c) two-join
        // enumeration via ops.Graph.triangles, never all-pairs.
        val pairs = Dedup.ngramJaccardPairs(
          Tables(spark, dir, "documents")
            .filter(size(split(col("text"), " ")) >= 3), 3, 0.2,
          probeDocs = Some(Tables(spark, dir, "documents")))
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        graft.ops.Graph.triangles(pairs)
          .select(col("a").as("doc_a"), col("b").as("doc_b"),
            col("c").as("doc_c"))
          .orderBy("doc_a", "doc_b", "doc_c")
      },
      Some("WITH " + ngramCtes +
        ", e AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.2) " +
        "SELECT e1.doc_a AS doc_a, e1.doc_b AS doc_b, e2.doc_b AS doc_c " +
        "FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a " +
        "JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b " +
        "ORDER BY doc_a, doc_b, doc_c")),

    "q_dedup_cluster" -> Q(
      (spark, dir) => {
        // duplicate-cluster extraction ("keep one per cluster"): connected
        // components over the n-gram-Jaccard ≥ 0.2 near-dup graph via
        // distributed min-label propagation; oracle = DuckDB recursive CTE
        // transitive closure. Output: every ≥3-token doc with its cluster
        // representative (min doc_id) and cluster size.
        val docs3 = Tables(spark, dir, "documents")
          .filter(size(split(col("text"), " ")) >= 3)
        val pairs = Dedup.ngramJaccardPairs(docs3, 3, 0.2,
          probeDocs = Some(Tables(spark, dir, "documents")))
          .select("doc_a", "doc_b")
        val cc = Dedup.connectedComponents(docs3.select("doc_id"), pairs)
        // csize as a window over cc, not groupBy + self-join: the old
        // shape ran the vertex tokenize scan TWICE (once per cc lineage)
        // and sort-merge-joined the two — one exchange on cluster now
        // does the same work over a single scan
        cc.select(col("doc_id"), col("cluster"),
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy("cluster")).as("csize"))
          .orderBy("doc_id")
      },
      Some("WITH RECURSIVE " + ngramCtes + ", " +
        "p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.2), " +
        "e AS (SELECT doc_a AS a, doc_b AS b FROM p " +
        "UNION ALL SELECT doc_b, doc_a FROM p), " +
        "reach(doc, root) AS (" +
        "SELECT doc_id, doc_id FROM toks WHERE len(t) >= 3 " +
        "UNION " +
        "SELECT e.b, reach.root FROM reach JOIN e ON reach.doc = e.a), " +
        "cc AS (SELECT doc, MIN(root) AS cluster FROM reach GROUP BY doc), " +
        "s AS (SELECT cluster, COUNT(*) AS csize FROM cc GROUP BY cluster) " +
        "SELECT cc.doc AS doc_id, cc.cluster, s.csize FROM cc " +
        "JOIN s USING (cluster) ORDER BY doc_id")),

    "q_sim_ann_lsh" -> Q(
      (spark, dir) => {
        // scale path for similarity search: seeded random-projection LSH
        // buckets → candidates → exact re-rank, top-3 per probe (rows-only;
        // bucketing internals aren't SQL-expressible)
        Similarity.annTop3(Tables(spark, dir, "embeddings"), nProbes = 10)
          .orderBy("probe", "rn")
      },
      None),

    "q_sim_ann_lsh_exactcheck" -> Q(
      (spark, dir) =>
        // The SAME annTop3 path — featurization, threshold filter,
        // re-rank window, tie-breaks, rounding — with the one
        // non-SQL-expressible leg (hash-bucket candidate pruning)
        // replaced by a by-construction-complete broadcast candidate
        // join and an unreachable threshold: the result is provably the
        // exact Euclidean top-3, so everything downstream of the
        // bucketing gets a hash-checked oracle (DuckDB list_distance on
        // the same float→double lift). The hash path's own candidates
        // are pinned ⊆ this relation in SimilaritySpec.
        Similarity.annTop3(Tables(spark, dir, "embeddings"), nProbes = 10,
          euclidThreshold = 1e12, exhaustive = true)
          .orderBy("probe", "rn"),
      Some("WITH d AS (SELECT a.vec_id AS probe, b.vec_id AS nb, " +
        "b.label AS nb_label, " +
        "list_distance(CAST(a.embedding AS DOUBLE[]), " +
        "CAST(b.embedding AS DOUBLE[])) AS euclid " +
        "FROM embeddings a JOIN embeddings b " +
        "ON a.vec_id < 10 AND b.vec_id != a.vec_id), " +
        "nn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe " +
        "ORDER BY euclid, nb) AS rn FROM d) " +
        "SELECT probe, CAST(rn AS INT) AS rn, nb, nb_label, " +
        Cols.froundSql("euclid", 6) + " AS euclid " +
        "FROM nn WHERE rn <= 3 ORDER BY probe, rn")),

    "q_sample_pps" -> Q(
      (spark, dir) => {
        // probability-proportional-to-size systematic sampling (~100
        // docs, weight = n_chars): lay the docs on an exact integer
        // cumulative-weight line (GlobalOrder — range partition + offset
        // merge, never a single-partition window) and select every doc
        // whose weight interval (cum−w, cum] crosses a multiple of
        // step = ceil(total/100). Pure integer arithmetic end to end, so
        // the selected set is bit-identical under any partitioning and
        // in DuckDB — the deterministic stand-in for seeded weighted
        // sampling in a training-mixture pipeline.
        val docs = Tables(spark, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("long").as("w"))
        val (ranked, stats) =
          graft.ops.GlobalOrder.rankAndCumsumWithStats(docs,
            Seq(col("doc_id")), "__rank", cum = Some(("w", "__cum")))
        val k = 100L
        val step = (stats.total + k - 1) / k
        // the filter+order consumer re-reads the ranged cache after this
        // query's action; Caches.drain releases it
        ranked
          .filter(expr(s"(__cum div ${step}L) > ((__cum - w) div ${step}L)"))
          .select(col("doc_id"), col("w"), col("__cum").as("cum"))
          .orderBy("doc_id")
      },
      Some("WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w " +
        "FROM documents), " +
        "c AS (SELECT doc_id, w, CAST(SUM(w) OVER (ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM w), " +
        "s AS (SELECT (CAST(SUM(w) AS BIGINT) + 99) // 100 AS step " +
        "FROM w) " +
        "SELECT doc_id, w, cum FROM c, s " +
        "WHERE cum // step > (cum - w) // step ORDER BY doc_id")),

    "q_sample_split" -> Q(
      (spark, dir) => {
        // deterministic salted train/val/test split: bucket on the first
        // two hex chars of md5(doc_id) — id-correlation-free, stable
        // across engines/runs, no RNG. Lexicographic hex-prefix cuts:
        // ≤'cb' train (~79.7%), ≤'e5' val (~10.2%), else test (~10.2%).
        val h2 = substring(md5(col("doc_id").cast("string")
          .cast("binary")), 1, 2)
        Tables(spark, dir, "documents")
          .select(col("doc_id"), h2.as("h2"),
            when(h2 <= "cb", "train").when(h2 <= "e5", "val")
              .otherwise("test").as("split"),
            col("n_chars"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) " +
        "AS h2, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) " +
        "<= 'cb' THEN 'train' WHEN substr(md5(CAST(doc_id AS VARCHAR)), " +
        "1, 2) <= 'e5' THEN 'val' ELSE 'test' END AS split, " +
        "CAST(n_chars AS BIGINT) AS n_chars " +
        "FROM documents ORDER BY doc_id")),

    "q_text_pack" -> Q(
      (spark, dir) => {
        // sequence packing for training batches: documents fill 512-token
        // context windows in deterministic (n_tokens, doc_id) order;
        // pack_id = tokens-before div 512 via the scalable GlobalOrder
        // cumsum (range partition + offset merge — no single-partition
        // window at any corpus size)
        val d = Tables(spark, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
        graft.ops.GlobalOrder.rankAndCumsum(d,
            Seq(col("n_tokens"), col("doc_id")), "__rank",
            cum = Some(("n_tokens", "__cum")))
          .withColumn("pack_id", expr("(__cum - n_tokens) div 512"))
          .groupBy("pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("pack_tokens"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"))
          .orderBy("pack_id")
      },
      Some("WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) " +
        "AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, " +
        "doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS cum FROM d) " +
        "SELECT (cum - n_tokens)//512 AS pack_id, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens, " +
        "MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens " +
        "FROM c GROUP BY 1 ORDER BY pack_id")),

    "q_sim_ann_ivf" -> Q(
      (spark, dir) =>
        // IVF scale path for similarity search: deterministic k-means
        // coarse quantizer (exact integer per-dimension sums → centroids
        // bit-reproducible under any partitioning), probe-cell pruning,
        // exact quantized-cosine re-rank. Cell pruning is genuinely
        // approximate (measured recall < 1.0 even at sf0.01), so THIS
        // query stays rows-only; the full machinery is oracle-pinned by
        // q_sim_ann_ivf_exactcheck below, and single-cell equivalence +
        // determinism are pinned in SimilaritySpec.
        Similarity.annIvfTop3(Tables(spark, dir, "embeddings"), nProbes = 10)
          .orderBy("probe", "rn"),
      None),

    "q_sim_ann_ivf_exactcheck" -> Q(
      (spark, dir) =>
        // The SAME IVF path — quantized cache, k-means index, cluster
        // assignment, broadcast probe join, re-rank, tie-breaks — driven
        // with probeClusters = k, which makes the candidate set the whole
        // corpus BY CONSTRUCTION (independent of k-means quality). The
        // result is therefore provably the exact top-3, i.e. plain SQL:
        // the one non-SQL leg (which cells get probed) is the one leg
        // this twin removes, everything else gets a hash-checked oracle.
        Similarity.annIvfTop3(Tables(spark, dir, "embeddings"), nProbes = 10,
          probeClusters = 16)
          .orderBy("probe", "rn"),
      Some("WITH " + qvecsSql + ", sym AS (" +
        "SELECT va AS probe, vb AS nb, cos FROM sims " +
        "UNION ALL SELECT vb, va, cos FROM sims), " +
        "nn AS (SELECT probe, nb, cos, ROW_NUMBER() OVER " +
        "(PARTITION BY probe ORDER BY cos DESC, nb) AS rn " +
        "FROM sym WHERE probe < 10) " +
        "SELECT nn.probe, CAST(nn.rn AS INT) AS rn, nn.nb, " +
        "e.label AS nb_label, " + Cols.froundSql("nn.cos", 6) + " AS cos " +
        "FROM nn JOIN embeddings e ON e.vec_id = nn.nb " +
        "WHERE nn.rn <= 3 ORDER BY nn.probe, nn.rn")),

    "q_sim_ann_recall" -> Q(
      (spark, dir) =>
        // the ANN quality metric a deployment monitors: recall@3 of the
        // IVF search vs the exact answer, per probe — ONE index build,
        // one shared quantized cache, identical cosine kernel and
        // tie-breaks on both legs, so the metric isolates cell-pruning
        // loss. Rows-only (the approximate leg's probed cells are the
        // non-SQL leg, same contract as q_sim_ann_ivf); structurally
        // pinned in LlmPipelineSpec: probing ALL cells drives recall to
        // exactly 1.0 for every probe, and recall is monotone in
        // probeClusters on the test corpus.
        Similarity.annIvfRecall(Tables(spark, dir, "embeddings"),
          nProbes = 10),
      None),

    "q_embed_matryoshka" -> Q(
      (spark, dir) => {
        // Matryoshka-representation evaluation (Kusupati et al. 2022,
        // the MRL deployment question): does the FIRST-16-of-64 prefix
        // slice preserve each probe's exact top-3 cosine neighborhood?
        // Both legs run the house exact-integer kernel over the
        // probe×corpus block (O(|probes|·n), never all-pairs); output is
        // per-probe hits@3 of the prefix search against the full-dim
        // answer. At scale the prefix leg is the cheap first pass (4×
        // fewer multiplies, 4× smaller resident vectors) and the
        // full-dim leg reranks its shortlist — this query measures
        // exactly what that trade costs. (On THIS fixture's i.i.d.
        // random embeddings the honest answer is chance-level ≈ 0 —
        // untrained vectors are not matryoshka-nested; the planted-
        // structure laws live in LlmPipelineSpec.)
        mrlRecall3(Tables(spark, dir, "embeddings"), prefixDims = 16)
      },
      Some {
        def legSql(tag: String, d: Int) =
          s"nrm_$tag AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS n2 " +
            s"FROM qv WHERE i <= $d GROUP BY vec_id), " +
            s"top_$tag AS (SELECT probe, nb, ROW_NUMBER() OVER " +
            "(PARTITION BY probe ORDER BY CAST(dot AS DOUBLE)/" +
            "SQRT(CAST(na.n2 AS DOUBLE)*CAST(nbn.n2 AS DOUBLE)) DESC, nb)" +
            " AS rk FROM (SELECT a.vec_id AS probe, b.vec_id AS nb, " +
            "CAST(SUM(a.q*b.q) AS BIGINT) AS dot FROM qv a " +
            "JOIN qv b ON a.i = b.i AND b.vec_id <> a.vec_id " +
            s"AND a.i <= $d WHERE a.vec_id < 10 GROUP BY 1, 2) d " +
            s"JOIN nrm_$tag na ON na.vec_id = probe " +
            s"JOIN nrm_$tag nbn ON nbn.vec_id = nb " +
            "WHERE na.n2 > 0 AND nbn.n2 > 0)"
        "WITH qv AS (SELECT vec_id, i, " +
          "CAST(ROUND(CAST(v AS DOUBLE)*10000000, 0) AS BIGINT) AS q " +
          "FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS i, " +
          "unnest(embedding) AS v FROM embeddings)), " +
          legSql("f", 64) + ", " + legSql("p", 16) + " " +
          "SELECT f.probe, CAST(COUNT(p.nb) AS BIGINT) AS n_hit, " +
          Cols.froundSql("CAST(COUNT(p.nb) AS DOUBLE)/3.0", 6) +
          " AS recall3 FROM top_f f LEFT JOIN top_p p " +
          "ON p.probe = f.probe AND p.nb = f.nb AND p.rk <= 3 " +
          "WHERE f.rk <= 3 GROUP BY f.probe ORDER BY f.probe"
      }),

    "q_multimodal_binary" -> Q(
      (spark, dir) =>
        // binary-column lift + byte-level metadata (oracle-checkable part
        // of the multimodal path)
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            length(col("text").cast("binary")).as("n_bytes"),
            md5(col("text").cast("binary")).as("payload_md5"),
            col("source"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(octet_length(encode(text)) AS INT) " +
        "AS n_bytes, md5(text) AS payload_md5, source FROM documents " +
        "ORDER BY doc_id")),

    "q_multimodal_features" -> Q(
      (spark, dir) => {
        // typed mapPartitions feature extraction with the STUBBED decoder
        // (Multimodal.decodeStub) — exercises the real batch plumbing.
        // The stub's pseudo-dimensions are md5-derived, so the oracle can
        // replay the whole feature table in SQL (md5 + ascii arithmetic).
        val media = Multimodal.asMedia(Tables(spark, dir, "documents"))
        Multimodal.extractFeatures(media).toDF()
          .groupBy("kind")
          .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"),
            min(col("width")).as("min_w"), max(col("height")).as("max_h"))
          .orderBy("kind")
      },
      Some("WITH f AS (SELECT source AS kind, " +
        "CAST(octet_length(encode(text)) AS INT) AS n_bytes, " +
        "md5(text) AS hx FROM documents) " +
        "SELECT kind, COUNT(*) AS n, " +
        "CAST(SUM(n_bytes) AS BIGINT) AS total_bytes, " +
        "MIN(64 + (ascii(substring(hx, 1, 1))*256 + " +
        "ascii(substring(hx, 2, 1))) % 1024) AS min_w, " +
        "MAX(64 + (ascii(substring(hx, 3, 1))*256 + " +
        "ascii(substring(hx, 4, 1))) % 1024) AS max_h " +
        "FROM f GROUP BY kind ORDER BY kind")),

    "q_multimodal_resize" -> Q(
      (spark, dir) => {
        // aspect-preserving resize-to-fit 224 over the decoded stub
        // dims — the missing third batch stage between features and
        // frame-sample. Integer floor math end-to-end, so the oracle
        // replays geometry AND byte sizes exactly (// is DuckDB's
        // integer division).
        val media = Multimodal.asMedia(Tables(spark, dir, "documents"))
        Multimodal.resizePlan(Multimodal.extractFeatures(media), 224)
          .toDF()
          .groupBy("kind")
          .agg(count(lit(1)).as("n"),
            sum(when(col("downscaled"), 1L).otherwise(0L))
              .as("n_downscaled"),
            sum(col("out_bytes")).as("sum_out_bytes"),
            min(col("out_w")).as("min_out_w"),
            max(col("out_h")).as("max_out_h"))
          .orderBy("kind")
      },
      Some("WITH f AS (SELECT source AS kind, md5(text) AS hx " +
        "FROM documents), " +
        "d AS (SELECT kind, " +
        "64 + (ascii(substring(hx, 1, 1))*256 + " +
        "ascii(substring(hx, 2, 1))) % 1024 AS w, " +
        "64 + (ascii(substring(hx, 3, 1))*256 + " +
        "ascii(substring(hx, 4, 1))) % 1024 AS h FROM f), " +
        "r AS (SELECT kind, " +
        "CASE WHEN greatest(w, h) <= 224 THEN w " +
        "ELSE (w*224)//greatest(w, h) END AS ow, " +
        "CASE WHEN greatest(w, h) <= 224 THEN h " +
        "ELSE (h*224)//greatest(w, h) END AS oh, " +
        "greatest(w, h) > 224 AS ds FROM d) " +
        "SELECT kind, COUNT(*) AS n, " +
        "CAST(SUM(CASE WHEN ds THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_downscaled, " +
        "CAST(SUM(ow*oh*3) AS BIGINT) AS sum_out_bytes, " +
        "MIN(ow) AS min_out_w, MAX(oh) AS max_out_h " +
        "FROM r GROUP BY kind ORDER BY kind")),

    "q_multimodal_join" -> Q(
      (spark, dir) =>
        Tables(spark, dir, "documents")
          .join(Tables(spark, dir, "embeddings"),
            col("doc_id") === col("vec_id"))
          .groupBy("lang", "label")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"),
            (sum(col("n_chars")).cast("double") / count(lit(1)))
              .as("avg_chars"))
          .orderBy("lang", "label"),
      Some("SELECT lang, label, COUNT(*) AS n, " +
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)/COUNT(*) AS avg_chars " +
        "FROM documents JOIN embeddings ON doc_id = vec_id " +
        "GROUP BY lang, label ORDER BY lang, label")),

    "q_multimodal_framesample" -> Q(
      (spark, dir) =>
        // frame sampling over an opaque payload: fixed 64-unit frame
        // stride, every 3rd frame kept — the video-frame-sample stub
        // (char slices stand in for frame byte ranges so BOTH engines
        // slice identically and the per-frame md5 is oracle-checkable;
        // a real codec swaps in at the substring). The per-doc fanout is
        // a narrow generate (sequence + explode): ⌈frames/3⌉ rows per
        // doc, bounded by payload size / stride — no shuffle until the
        // final order, and at scale the sampled-frame table would be
        // written partitioned, not sorted.
        Tables(spark, dir, "documents")
          .filter(col("n_chars") >= 192)
          .select(col("doc_id").as("media_id"),
            explode(expr("sequence(0, cast(n_chars div 64 as int) - 1, 3)"))
              .as("frame_idx"),
            col("text"))
          .select(col("media_id"), col("frame_idx"),
            expr("substring(text, frame_idx*64 + 1, 64)").as("frame"))
          .select(col("media_id"), col("frame_idx"),
            length(col("frame")).as("frame_chars"),
            md5(col("frame")).as("frame_md5"))
          .orderBy("media_id", "frame_idx"),
      Some("SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx, " +
        "CAST(LENGTH(SUBSTRING(text, frame_idx*64 + 1, 64)) AS INT) " +
        "AS frame_chars, " +
        "md5(SUBSTRING(text, frame_idx*64 + 1, 64)) AS frame_md5 " +
        "FROM (SELECT doc_id, text, " +
        "unnest(generate_series(0, CAST(n_chars//64 AS INT) - 1, 3)) " +
        "AS frame_idx FROM documents WHERE n_chars >= 192) " +
        "ORDER BY media_id, frame_idx")),

    "q_multimodal_decode" -> Q(
      (spark, dir) => {
        // REAL byte-range container parsing (replaces one consumer of the
        // Multimodal.decodeStub): each doc's text bytes are packed into a
        // fixed-layout length-prefixed container — magic 'GF' (2 B) +
        // big-endian frame count (2 B) + a directory of 3 big-endian
        // 2-byte frame lengths + the frame payloads — and then PARSED
        // back from the opaque container alone: magic check, count read,
        // per-frame length from the directory, frame offset = header +
        // running sum of prior lengths (a bounded per-media window —
        // the stbl-atom shape of real media containers). The container
        // is modeled in hex-space (2 chars = 1 byte; this DuckDB build
        // has no BLOB substring/md5, and hex-space keeps every byte
        // offset oracle-checkable verbatim) — the parse arithmetic is
        // byte arithmetic throughout, doubled at the substring. All
        // narrow codegen'd string expressions; the only exchanges are
        // the 3-row-per-media window and the output sort.
        // uppercase hex digit → value: ascii − 48 − 7·[ascii ≥ 65]
        def hexd(c: String): String =
          s"(ascii($c) - 48 - CASE WHEN ascii($c) >= 65 THEN 7 ELSE 0 END)"
        def hexint(s: String, off: String): String =
          s"(((${hexd(s"substring($s, $off, 1)")} * 16 + " +
            s"${hexd(s"substring($s, ($off) + 1, 1)")}) * 16 + " +
            s"${hexd(s"substring($s, ($off) + 2, 1)")}) * 16 + " +
            s"${hexd(s"substring($s, ($off) + 3, 1)")})"
        val F = 3
        // build: body hex, then the container
        val packed = Tables(spark, dir, "documents")
          .select(col("doc_id").as("media_id"),
            hex(col("text").cast("binary")).as("body"),
            length(col("text").cast("binary")).as("nb"))
          .filter(col("nb") >= 64)
          .select(col("media_id"), expr(
            "concat('4746', lpad(hex(3), 4, '0'), " +
              (1 to F).map(i => s"lpad(hex(8 + (nb + 13*$i) % 24), 4, '0')")
                .mkString(", ") + ", " +
              (1 to F).map(i =>
                s"substring(body, (($i*31) % greatest(1, nb - " +
                  s"(8 + (nb + 13*$i) % 24)))*2 + 1, " +
                  s"(8 + (nb + 13*$i) % 24)*2)").mkString(", ") + ")")
            .as("container"))
        // parse: ONLY the container column is consumed from here on
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("frame_idx")
        packed
          .filter(expr("substring(container, 1, 4) = '4746'"))
          .select(col("media_id"), col("container"),
            explode(expr(
              s"sequence(1, ${hexint("container", "5")})")).as("frame_idx"))
          .select(col("media_id"), col("container"), col("frame_idx"),
            expr(hexint("container", "9 + 4*(frame_idx - 1)"))
              .as("frame_len"))
          .withColumn("data_start",
            lit(9) + lit(4) * expr(hexint("container", "5")))
          .withColumn("frame_off", col("data_start") +
            (sum(col("frame_len")).over(w) - col("frame_len")) * 2)
          .select(col("media_id"), col("frame_idx"), col("frame_len"),
            ((col("frame_off") - 1) / 2).cast("long").as("frame_off_bytes"),
            md5(expr("substring(container, frame_off, frame_len*2)"))
              .as("frame_md5"))
          .orderBy("media_id", "frame_idx")
      },
      Some {
        def hexd(c: String): String =
          s"(ascii($c) - 48 - CASE WHEN ascii($c) >= 65 THEN 7 ELSE 0 END)"
        def hexint(s: String, off: String): String =
          s"(((${hexd(s"substring($s, $off, 1)")} * 16 + " +
            s"${hexd(s"substring($s, ($off) + 1, 1)")}) * 16 + " +
            s"${hexd(s"substring($s, ($off) + 2, 1)")}) * 16 + " +
            s"${hexd(s"substring($s, ($off) + 3, 1)")})"
        "WITH src AS (SELECT doc_id AS media_id, " +
          "hex(encode(text)) AS body, " +
          "octet_length(encode(text)) AS nb FROM documents " +
          "WHERE octet_length(encode(text)) >= 64), " +
          "packed AS (SELECT media_id, '4746' || lpad(hex(3), 4, '0') || " +
          (1 to 3).map(i => s"lpad(hex(8 + (nb + 13*$i) % 24), 4, '0')")
            .mkString(" || ") + " || " +
          (1 to 3).map(i =>
            s"substring(body, (($i*31) % greatest(1, nb - " +
              s"(8 + (nb + 13*$i) % 24)))*2 + 1, " +
              s"(8 + (nb + 13*$i) % 24)*2)").mkString(" || ") +
          " AS container FROM src), " +
          "idx AS (SELECT media_id, container, " +
          "unnest(generate_series(1, " + hexint("container", "5") +
          ")) AS frame_idx FROM packed " +
          "WHERE substring(container, 1, 4) = '4746'), " +
          "lens AS (SELECT media_id, container, frame_idx, " +
          hexint("container", "9 + 4*(frame_idx - 1)") + " AS frame_len, " +
          "9 + 4*" + hexint("container", "5") + " AS data_start " +
          "FROM idx), " +
          "offs AS (SELECT media_id, container, frame_idx, frame_len, " +
          "data_start + (SUM(frame_len) OVER (PARTITION BY media_id " +
          "ORDER BY frame_idx ROWS BETWEEN UNBOUNDED PRECEDING AND " +
          "CURRENT ROW) - frame_len) * 2 AS frame_off FROM lens) " +
          "SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, " +
          "CAST(frame_len AS INT) AS frame_len, " +
          "CAST((frame_off - 1) // 2 AS BIGINT) AS frame_off_bytes, " +
          "md5(substring(container, CAST(frame_off AS INT), " +
          "frame_len*2)) AS frame_md5 " +
          "FROM offs ORDER BY media_id, frame_idx"
      }),

    "q_text_contamination" -> Q(
      (spark, dir) => {
        // benchmark-contamination check: eval set = doc_id % 20 == 0 AND
        // doc_id < 20000 — the conjunct caps the eval set at 1000 docs, so
        // its distinct shingle set is BOUNDED BY CONSTRUCTION (a benchmark
        // suite, not a corpus fraction) and the broadcast below can never
        // outgrow the corpus. For every train doc: count/fraction of its
        // distinct 3-gram shingles appearing anywhere in the eval set.
        // BROADCAST semi-join: the keep decision is a narrow probe, so a
        // hot stopword trigram's corpus-wide posting list never funnels
        // into one shuffle task; per-shingle fanout is 0/1 (no d² term).
        val docs3 = Tables(spark, dir, "documents")
          .filter(size(split(col("text"), " ")) >= 3)
        // DISK_ONLY: three lineages read the shingle table (eval distinct,
        // train sizes, train∩eval counts) — same trade as Dedup's
        // inverted-index persists
        // shingle IDENTITY (64-bit xxhash, the ngramJaccardPairs trade —
        // oracle gate pins the corpus collision-free) via the fused
        // per-row kernel: the semi-join probes 8-byte longs, not n-word
        // strings, and no shingle string is ever allocated
        val sh = graft.ops.Caches.register(docs3
          .select(col("doc_id"),
            explode(graft.functions.TextKernels.shingleHashCol(3, "xxh")(
              col("text"))).as("sh"))
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
        val isEval = col("doc_id") % 20 === 0 && col("doc_id") < 20000
        val evalSh = sh.filter(isEval).select("sh").distinct()
        val trainSh = sh.filter(!isEval)
        val sizes = trainSh.groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"))
        val shared = trainSh.join(broadcast(evalSh), Seq("sh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        sizes.join(shared, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            Cols.fround(coalesce(col("n_shared"), lit(0L)).cast("double") /
              col("n_shingles"), 6).as("contamination"))
          .orderBy("doc_id")
      },
      Some("WITH " + shingleCtes + ", " +
        "ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0 " +
        "AND doc_id < 20000), " +
        "tr AS (SELECT * FROM sh WHERE NOT (doc_id % 20 = 0 " +
        "AND doc_id < 20000)), " +
        "sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr " +
        "GROUP BY doc_id), " +
        "shared AS (SELECT tr.doc_id, COUNT(*) AS n_shared FROM tr " +
        "JOIN ev USING (sh) GROUP BY tr.doc_id) " +
        "SELECT doc_id, n_shingles, " +
        "CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared, " +
        Cols.froundSql("CAST(COALESCE(n_shared, 0) AS DOUBLE)/n_shingles",
          6) + " AS contamination " +
        "FROM sizes LEFT JOIN shared USING (doc_id) ORDER BY doc_id")),

    "q_text_repetition" -> Q(
      (spark, dir) =>
        // Gopher-style repetition quality signal: fraction of duplicate
        // 3-grams per document. Fully narrow (higher-order functions over
        // the token array — no explode, no shuffle): the scan parallelism
        // IS the plan at any corpus size.
        Tables(spark, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .withColumn("grams",
            expr("transform(sequence(0, size(toks) - 3), " +
              "i -> concat_ws(' ', slice(toks, i + 1, 3)))"))
          .select(col("doc_id"),
            size(col("grams")).as("n_grams"),
            size(array_distinct(col("grams"))).as("n_distinct"),
            Cols.fround(lit(1.0) -
              size(array_distinct(col("grams"))).cast("double") /
              size(col("grams")), 6).as("dup_ratio"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(g) AS INT) AS n_grams, " +
        "CAST(len(list_distinct(g)) AS INT) AS n_distinct, " +
        Cols.froundSql(
          "1.0 - CAST(len(list_distinct(g)) AS DOUBLE)/len(g)", 6) +
        " AS dup_ratio FROM (SELECT doc_id, " +
        "list_transform(generate_series(1, len(t) - 2), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS t " +
        "FROM documents) WHERE len(t) >= 3) ORDER BY doc_id")),

    "q_text_clean" -> Q(
      (spark, dir) => {
        // text cleaning/normalization: casefold, strip markup-ish tags,
        // drop non-alphanumerics, collapse whitespace, trim — narrow
        // codegen'd chain, content-addressed output for downstream dedup
        // (lower() first so case variants converge to one clean_md5)
        val cleaned = trim(regexp_replace(regexp_replace(regexp_replace(
          lower(col("text")), "<[^>]*>", " "), "[^a-z0-9 ]", ""),
          " +", " "))
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            md5(cleaned.cast("binary")).as("clean_md5"),
            length(cleaned).as("n_chars_clean"),
            size(split(cleaned, " ")).as("n_tokens_clean"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, md5(c) AS clean_md5, " +
        "CAST(length(c) AS INT) AS n_chars_clean, " +
        "CAST(len(string_split(c, ' ')) AS INT) AS n_tokens_clean " +
        "FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(" +
        "regexp_replace(lower(text), '<[^>]*>', ' ', 'g'), " +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c FROM documents) " +
        "ORDER BY doc_id")),

    "q_dedup_keep_best" -> Q(
      (spark, dir) => {
        // quality-aware duplicate resolution: cluster key = the
        // q_text_clean normalization's content address (case/markup/
        // punctuation variants of one document converge), keeper = the
        // HIGHEST-QUALITY member — longest original text, ties to the
        // lowest doc_id — rather than dedup_apply's min-id rule. One
        // narrow clean pass + one window over the clean-key partition
        // (group sizes are duplicate multiplicities, bounded); no pair
        // join anywhere.
        import org.apache.spark.sql.expressions.Window
        val cleaned = trim(regexp_replace(regexp_replace(regexp_replace(
          lower(col("text")), "<[^>]*>", " "), "[^a-z0-9 ]", ""),
          " +", " "))
        val w = Window.partitionBy("ckey")
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            md5(cleaned.cast("binary")).as("ckey"))
          .withColumn("gsize", count(lit(1)).over(w))
          .withColumn("rnk", row_number().over(
            w.orderBy(desc("n_chars"), asc("doc_id"))))
          .select(col("doc_id"), col("ckey"), col("gsize"),
            col("rnk"), (col("rnk") === 1).cast("int").as("keep"))
          .orderBy("doc_id")
      },
      Some("WITH c AS (SELECT doc_id, n_chars, " +
        "md5(trim(regexp_replace(regexp_replace(regexp_replace(" +
        "lower(text), '<[^>]*>', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), " +
        "' +', ' ', 'g'))) AS ckey FROM documents) " +
        "SELECT doc_id, ckey, " +
        "COUNT(*) OVER (PARTITION BY ckey) AS gsize, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY ckey " +
        "ORDER BY n_chars DESC, doc_id) AS INT) AS rnk, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY ckey " +
        "ORDER BY n_chars DESC, doc_id) = 1 AS INT) AS keep " +
        "FROM c ORDER BY doc_id")),

    "q_text_redact" -> Q(
      (spark, dir) => {
        // denylist scrubbing (the PII-redaction stage shape: sensitive
        // terms → a placeholder token before training). Fully narrow
        // regexp_replace chain; n_redacted counts MATCHES OF THE PATTERN
        // on the original text (a pre-existing literal '<TERM>' in a
        // document must not inflate the audit column). Real deployments
        // swap the term alternation for email/phone/ID patterns; the
        // plan is the same.
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            expr("cast(regexp_count(text, '\\\\b(key|hash|value)\\\\b') " +
              "as int)").as("n_redacted"),
            md5(regexp_replace(col("text"),
              "\\b(key|hash|value)\\b", "<TERM>")).as("red_md5"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, " +
        "CAST(LEN(regexp_extract_all(text, '\\b(key|hash|value)\\b')) " +
        "AS INT) AS n_redacted, " +
        "md5(regexp_replace(text, '\\b(key|hash|value)\\b', '<TERM>', " +
        "'g')) AS red_md5 FROM documents ORDER BY doc_id")),

    "q_dedup_apply" -> Q(
      (spark, dir) => {
        // apply exact dedup: the surviving corpus (min doc_id per identical
        // text) with each keeper's copy count — groupBy + shuffle join on
        // the keeper id, NOT a per-cluster window (a pathological
        // million-copy document would funnel one window task; the groupBy's
        // partial aggregation absorbs it map-side)
        val docs = Tables(spark, dir, "documents")
        val keep = docs
          .groupBy(md5(col("text").cast("binary")).as("text_md5"))
          .agg(min(col("doc_id")).as("doc_id"),
            count(lit(1)).as("copies"))
          .select("doc_id", "copies")
        docs.join(keep, "doc_id")
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"), col("copies"))
          .orderBy("doc_id")
      },
      Some("WITH k AS (SELECT md5(text) AS m, " +
        "CAST(MIN(doc_id) AS BIGINT) AS doc_id, COUNT(*) AS copies " +
        "FROM documents GROUP BY md5(text)) " +
        "SELECT d.doc_id, d.lang, d.source, " +
        "CAST(d.n_chars AS BIGINT) AS n_chars, k.copies " +
        "FROM documents d JOIN k USING (doc_id) ORDER BY doc_id")),

    "q_sample_stratified" -> Q(
      (spark, dir) => {
        // stratified per-language sample: exactly k docs per lang in
        // deterministic md5(doc_id) hash order (RNG-free, stable across
        // engines). Two-phase exact top-k per stratum: a (lang, salt)
        // window first — the salt fans a hot language across 64 bounded
        // tasks — then the final per-lang ranking runs over ≤ 64·k
        // survivors per lang. Same rows as a global per-lang window (each
        // global top-k row is in its salt group's top-k) without any
        // unbounded single-language window task.
        val k = 20
        val d = Tables(spark, dir, "documents")
          .select(col("doc_id"), col("lang"),
            md5(col("doc_id").cast("string").cast("binary")).as("h"))
        val salted = d.withColumn("salt",
          pmod(xxhash64(col("doc_id")), lit(64)))
        val wSalt = Window.partitionBy("lang", "salt")
          .orderBy(asc("h"), asc("doc_id"))
        val wFinal = Window.partitionBy("lang")
          .orderBy(asc("h"), asc("doc_id"))
        salted.withColumn("r0", row_number().over(wSalt))
          .filter(col("r0") <= k)
          .withColumn("smp_rank", row_number().over(wFinal))
          .filter(col("smp_rank") <= k)
          .select(col("lang"), col("smp_rank"), col("doc_id"), col("h"))
          .orderBy("lang", "smp_rank")
      },
      Some("WITH r AS (SELECT lang, doc_id, " +
        "md5(CAST(doc_id AS VARCHAR)) AS h, " +
        "ROW_NUMBER() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS smp_rank " +
        "FROM documents) " +
        "SELECT lang, CAST(smp_rank AS INT) AS smp_rank, doc_id, h " +
        "FROM r WHERE smp_rank <= 20 ORDER BY lang, smp_rank")),

    "q_text_shard" -> Q(
      (spark, dir) => {
        // global shuffle + sharding for distributed training: a
        // deterministic pseudorandom permutation (md5 hash order, RNG-free)
        // assigns each doc a round-robin shard and an in-shard position.
        // The global rank comes from the scalable GlobalOrder cumsum —
        // range partition + offset merge, never a single-partition window.
        val d = Tables(spark, dir, "documents")
          .select(col("doc_id"),
            md5(col("doc_id").cast("string").cast("binary")).as("h"))
        graft.ops.GlobalOrder.rankAndCumsum(d,
            Seq(col("h"), col("doc_id")), "__rank")
          .select(col("doc_id"), col("h"),
            pmod(col("__rank") - 1, lit(16)).cast("int").as("shard"),
            expr("(__rank - 1) div 16").as("pos"))
          .orderBy("doc_id")
      },
      Some("WITH r AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h, " +
        "ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), " +
        "doc_id) AS rk FROM documents) " +
        "SELECT doc_id, h, CAST((rk - 1) % 16 AS INT) AS shard, " +
        "CAST((rk - 1)//16 AS BIGINT) AS pos FROM r ORDER BY doc_id")),

    "q_sample_mixture" -> Q(
      (spark, dir) => {
        // source-mixture rebalancing: downsample every source toward ~10
        // docs via a deterministic hash threshold (rate k/65536, k from
        // the per-source counts, floored at 1 so a source is never
        // silently dropped however large it is — at 1/65536 granularity a
        // 655k-doc source still lands near the target). The rate table is
        // tiny → broadcast; the keep decision is a narrow filter — one
        // agg + one broadcast join at any corpus size, no per-source
        // window.
        val d = Tables(spark, dir, "documents")
          .select(col("doc_id"), col("source"),
            md5(col("doc_id").cast("string").cast("binary")).as("h"))
        val rates = d.groupBy("source").agg(count(lit(1)).as("n_src"))
          .withColumn("k", greatest(lit(1L),
            least(lit(65536L), expr("(65536 * 10) div n_src"))))
        val kept = d.join(broadcast(rates), "source")
          .filter(col("k") >= 65536 ||
            substring(col("h"), 1, 4) < format_string("%04x", col("k")))
        kept.groupBy("source")
          .agg(min(col("n_src")).as("n_src"),
            count(lit(1)).as("n_sampled"),
            Cols.fround(count(lit(1)).cast("double") / min(col("n_src")),
              6).as("rate"))
          .orderBy("source")
      },
      Some("WITH d AS (SELECT doc_id, source, " +
        "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "r AS (SELECT source, COUNT(*) AS n_src, " +
        "GREATEST(1, LEAST(65536, (65536*10)//COUNT(*))) AS k " +
        "FROM d GROUP BY source), " +
        "s AS (SELECT d.source, d.h, r.k, r.n_src FROM d " +
        "JOIN r USING (source) " +
        "WHERE k >= 65536 OR substr(h, 1, 4) < printf('%04x', k)) " +
        "SELECT source, CAST(MIN(n_src) AS BIGINT) AS n_src, " +
        "COUNT(*) AS n_sampled, " +
        Cols.froundSql("CAST(COUNT(*) AS DOUBLE)/MIN(n_src)", 6) +
        " AS rate FROM s GROUP BY source ORDER BY source")))
}
