package graft.ops

import graft.io.Io
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** SURVEY.md §2-H (text analysis rows) — the text half of the
  * LLM-data-pipeline surface: corpus stats, normalization, token
  * counting, quality scoring, heuristic language bucketing, n-grams,
  * TF-IDF, rolling-hash fingerprinting.
  *
  * Everything is expressed over `split(text)` token arrays with built-in
  * / higher-order functions (codegen-friendly, no UDFs), and every op is
  * a per-row map or a token-keyed aggregation — at 100 TB these scale
  * linearly with no driver-side state; the only shuffles are the
  * token/doc groupBys.
  */
object TextOps {

  import Q.toks

  /** Shared bigram-LM model artifacts — corpus bigram counts, the
    * first-token continuation histogram, and the unigram vocab size —
    * built ONCE per corpus (Q.artifact) and joined by
    * the three LM-family checked queries (h_ngram_lm_score,
    * h_dsir_weights, h_ccnet_buckets). A production pipeline trains the
    * LM once and scores many consumers; rebuilding the model per query
    * was 3× the corpus scans. All three tables are vocabulary-bounded
    * aggregates: tiny next to the corpus at any SF, AQE broadcasts them
    * at runtime (no forced hint — an open-vocabulary corpus degrades to
    * a shuffle join instead of hard-failing the broadcast build).
    */
  private[ops] def lmModel(s: org.apache.spark.sql.SparkSession, d: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val docs = Io.table(s, d, "documents")
    val bg = Q.artifact(s, d, "lmBigrams")(
      docs.select(expr("explode_ngrams(text, 2)").as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c_ab")))
    val hist = Q.artifact(s, d, "lmHist")(
      bg.groupBy(split(col("g"), " ").getItem(0).as("tok_a"))
        .agg(sum(col("c_ab")).as("c_a")))
    val vocab = Q.artifact(s, d, "lmVocab")(
      docs.select(explode(toks).as("t"))
        .agg(countDistinct(col("t")).as("v")))
    (bg, hist, vocab)
  }

  /** Shared naive-Bayes language-model artifacts — the (vocab × L)
    * smoothed log-likelihood table and the L-row prior table — built
    * ONCE per corpus (Q.artifact, the lmModel pattern)
    * and joined BY KEY by h_nb_lang_confusion's scoring pass. A
    * production pipeline trains the classifier once and scores every
    * batch against the resident model; the previous train-inline form
    * paid the model's 5 broadcast builds (langs/vocab-size/doc-total
    * scalar attaches + two count joins) inside EVERY execution — the
    * r14 bench evidence showed 70% of the row's task time in broadcast
    * builds under host contention (r14 VERDICT item 2). Scalar attaches
    * inside the build are themselves merged: per-lang totals carry the
    * vocab-size column in ONE broadcast row-set instead of a separate
    * one-row attach.
    */
  private[graft] def nbModel(s: org.apache.spark.sql.SparkSession, d: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val model = Q.artifact(s, d, "nbModel")(nbModelBuild(s, d))
    val priors = Q.artifact(s, d, "nbPriors")(nbPriorsBuild(s, d))
    (model, priors)
  }

  private def nbModelBuild(
      s: org.apache.spark.sql.SparkSession, d: String):
      org.apache.spark.sql.DataFrame = {
    val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val docs = Io.table(s, d, "documents")
    val docTok = docs.select(col("lang"), explode(toks).as("t"))
    val counts = docTok.groupBy(col("lang").as("m_lang"), col("t"))
      .agg(count(lit(1)).as("c_lt"))
    val vocabT = docTok.select(col("t")).distinct()
    val vocabN = vocabT.agg(count(lit(1)).as("v"))
    // per-lang totals WITH the vocab-size column: one L-row broadcast
    // attach in the model build instead of totals + a one-row scalar
    val totalsV = counts.groupBy(col("m_lang")).agg(sum(col("c_lt")).as("c_l"))
      .crossJoin(broadcast(vocabN))
    vocabT.crossJoin(broadcast(totalsV))
      .join(counts, Seq("m_lang", "t"), "left")
      .select(col("t"), col("m_lang"),
        log((coalesce(col("c_lt"), lit(0L)) + 1).cast("double") /
          (col("c_l") + col("v")))
          .cast(dec12).cast("double").as("lp"))
  }

  private def nbPriorsBuild(
      s: org.apache.spark.sql.SparkSession, d: String):
      org.apache.spark.sql.DataFrame = {
    val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val docs = Io.table(s, d, "documents")
    val nAll = docs.agg(count(lit(1)).as("n_all"))
    docs.groupBy(col("lang").as("m_lang"))
      .agg(count(lit(1)).as("n_l"))
      .crossJoin(broadcast(nAll))
      .select(col("m_lang"),
        log(col("n_l").cast("double") / col("n_all"))
          .cast(dec12).cast("double").as("lp_prior"))
  }

  val all: Seq[Q] = Seq(
    Q("h_text_stats", (s, d) => {
      Io.table(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          r4(avg(col("n_chars"))).as("avg_chars"),
          r4(avg(length(col("text")))).as("avg_len"),
          r4(avg(size(toks))).as("avg_words"),
          sum(size(toks)).as("total_words"))
        .orderBy("lang")
    }, Some(
      """SELECT lang, COUNT(*) AS n_docs,
        |  ROUND(AVG(n_chars), 4) AS avg_chars,
        |  ROUND(AVG(LENGTH(text)), 4) AS avg_len,
        |  ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_words,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("h_text_normalize", (s, d) => {
      Io.table(s, d, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm_text"),
          length(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("norm_len"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')) AS norm_text,
        |  CAST(LENGTH(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS INT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Whitespace tokens vs regex tokens ([a-z]+).
    Q("h_token_count", (s, d) => {
      Io.table(s, d, "documents")
        .select(col("doc_id"),
          size(toks).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("re_tokens"),
          size(array_distinct(toks)).as("distinct_tokens"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS re_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Heuristic quality score: type-token ratio, stopword ratio, length
    // saturation — the standard cheap pre-training-data filters.
    Q("h_quality_score", (s, d) => {
      val nTok = size(toks).cast("double")
      val ttr = size(array_distinct(toks)) / nTok
      val stopRatio = size(filter(toks, t => t === "the" || t === "a")) / nTok
      val lenSat = least(nTok / 100.0, lit(1.0))
      Io.table(s, d, "documents")
        .select(col("doc_id"),
          r6(ttr).as("ttr"),
          r6(stopRatio).as("stop_ratio"),
          r6(lit(0.3) * ttr + lit(0.4) * (lit(1.0) - stopRatio) + lit(0.3) * lenSat).as("quality"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |        CAST(len(toks) AS DOUBLE) AS n_tok,
        |        len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS ttr,
        |        len(list_filter(toks, x -> x = 'the' OR x = 'a'))
        |          / CAST(len(toks) AS DOUBLE) AS stop_ratio
        |      FROM t)
        |SELECT doc_id, ROUND(ttr, 6) AS ttr, ROUND(stop_ratio, 6) AS stop_ratio,
        |  ROUND(0.3 * ttr + 0.4 * (1.0 - stop_ratio)
        |        + 0.3 * LEAST(n_tok / 100.0, 1.0), 6) AS quality
        |FROM m ORDER BY doc_id""".stripMargin)),

    // Heuristic "language-ID" plumbing: classify by the most frequent
    // token (the real corpus has no language signal — the lang column is
    // independent of the text — so the class target is a deterministic
    // n-gram-frequency bucket, exercising the classifier pipeline shape).
    Q("h_lang_id", (s, d) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("token"))
      Io.table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("token").as("top_token"), col("cnt").as("top_cnt"),
          when(col("token") < "g", "bucket_ag")
            .when(col("token") < "n", "bucket_gn")
            .otherwise("bucket_nz").as("pred_class"))
        .orderBy("doc_id")
    }, Some(
      """WITH tf AS (
        |  SELECT doc_id, t.token, COUNT(*) AS cnt
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |       LATERAL UNNEST(toks) AS t(token)
        |  GROUP BY doc_id, t.token),
        |top AS (
        |  SELECT doc_id, token AS top_token, cnt AS top_cnt
        |  FROM tf
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) = 1)
        |SELECT doc_id, top_token, top_cnt,
        |  CASE WHEN top_token < 'g' THEN 'bucket_ag'
        |       WHEN top_token < 'n' THEN 'bucket_gn'
        |       ELSE 'bucket_nz' END AS pred_class
        |FROM top ORDER BY doc_id""".stripMargin)),

    // Word bigrams, corpus-wide top 50.
    Q("h_ngram", (s, d) => {
      val t = toks
      val bigrams = zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b))
      Io.table(s, d, "documents")
        .select(explode(bigrams).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(50)
    }, Some(
      """WITH b AS (
        |  SELECT UNNEST(list_transform(generate_series(1, len(toks) - 1),
        |                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents))
        |SELECT bigram, COUNT(*) AS cnt FROM b
        |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50""".stripMargin)),

    // Generation-eval metrics — BLEU-2 (clipped n-gram precision with
    // brevity penalty, Papineni et al. 2002) and ROUGE-1 recall/F1 —
    // over adjacent same-lang doc pairs (even doc_id = candidate, the
    // next odd id = reference): the MT/summarization eval harness a
    // training pipeline runs over (model output, reference) pairs.
    // Shape at 100 TB: per-doc n-gram COUNT tables (multiplicity, not
    // sets) from two corpus scans, clipped overlap via an equi-join on
    // (pair, gram) — every stage keys on doc or (doc, gram), nothing
    // quadratic. Parity: clipped counts and lengths are INTEGERS, so
    // every precision/recall is an int/int IEEE division and F1/BLEU
    // chain multiply-sqrt-divide identically-rounded doubles; the one
    // transcendental (the brevity EXP) is 1e-12-snapped on both sides
    // (house libm discipline). Zero-overlap pairs LEFT-join to clip 0;
    // one-token candidates leave p2 (and thus BLEU) NULL in both
    // engines via the /0 → NULL convention.
    Q("h_bleu_rouge_pairs", (s, d) => {
      def snap12(c: org.apache.spark.sql.Column) =
        c.cast(org.apache.spark.sql.types.DecimalType(38, 12)).cast("double")
      val docs = Io.table(s, d, "documents")
      val lens = docs.select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("len"))
      val pairs = lens.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("doc_c"), col("lang"), col("len").as("len_c"))
        .join(lens.filter(col("doc_id") % 2 === 1)
            .select((col("doc_id") - 1).as("doc_c"), col("lang").as("lang_r"),
              col("len").as("len_r"), (col("doc_id")).as("doc_r")),
          Seq("doc_c"))
        .filter(col("lang") === col("lang_r"))
        .select(col("doc_c"), col("doc_r"), col("lang"), col("len_c"),
          col("len_r"))
      val t = toks
      val bigrams = zip_with(slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1), (a, b) => concat(a, lit(" "), b))
      def counts(gram: org.apache.spark.sql.Column) =
        docs.select(col("doc_id"), explode(gram).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      def clipped(cts: org.apache.spark.sql.DataFrame, out: String) =
        cts.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("doc_c"), col("g"), col("cnt").as("cc"))
          .join(cts.filter(col("doc_id") % 2 === 1)
              .select((col("doc_id") - 1).as("doc_c"), col("g"),
                col("cnt").as("cr")),
            Seq("doc_c", "g"))
          .groupBy(col("doc_c"))
          .agg(sum(least(col("cc"), col("cr"))).as(out))
      val m = pairs
        .join(clipped(counts(t), "clip1"), Seq("doc_c"), "left")
        .join(clipped(counts(bigrams), "clip2"), Seq("doc_c"), "left")
        .select(col("doc_c"), col("doc_r"), col("lang"), col("len_c"),
          col("len_r"), coalesce(col("clip1"), lit(0L)).as("clip1"),
          coalesce(col("clip2"), lit(0L)).as("clip2"))
        .withColumn("p1", col("clip1").cast("double") / col("len_c"))
        .withColumn("p2", when(col("len_c") - 1 > 0,
          col("clip2").cast("double") / (col("len_c") - 1)))
        .withColumn("brevity", snap12(exp(least(lit(0.0),
          lit(1.0) - col("len_r").cast("double") / col("len_c")))))
        .withColumn("rouge1_r", col("clip1").cast("double") / col("len_r"))
      m.select(col("doc_c"), col("doc_r"), col("lang"), col("len_c"),
          col("len_r"), col("clip1"), col("clip2"), col("p1"), col("p2"),
          col("brevity"),
          (col("brevity") * sqrt(col("p1") * col("p2"))).as("bleu2"),
          col("rouge1_r"),
          when(col("p1") + col("rouge1_r") > 0,
            lit(2.0) * col("p1") * col("rouge1_r") /
              (col("p1") + col("rouge1_r"))).otherwise(lit(0.0))
            .as("rouge1_f"))
        .orderBy("doc_c")
    }, Some {
      // 1e-12 snap with the VARCHAR in-hop (DuckDB's direct
      // double→DECIMAL cast has the multiply-boundary defect; the
      // repr-based hop matches Spark's cast) — dSnap12 house spelling.
      val bexp = "EXP(LEAST(CAST(0 AS DOUBLE), " +
        "CAST(1 AS DOUBLE) - CAST(len_r AS DOUBLE) / len_c))"
      val brevity = s"CAST(CAST(CAST(CASE WHEN ABS($bexp) < 5e-13 " +
        s"THEN CAST(0 AS DOUBLE) ELSE $bexp END " +
        "AS VARCHAR) AS DECIMAL(38,12)) AS DOUBLE)"
      s"""WITH lens AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
         |  FROM documents),
         |p AS (
         |  SELECT c.doc_id AS doc_c, r.doc_id AS doc_r, c.lang,
         |         c.len AS len_c, r.len AS len_r
         |  FROM lens c JOIN lens r ON r.doc_id = c.doc_id + 1
         |  WHERE c.doc_id % 2 = 0 AND c.lang = r.lang),
         |uni AS (
         |  SELECT doc_id, g, COUNT(*) AS cnt
         |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS g
         |        FROM documents)
         |  GROUP BY 1, 2),
         |big AS (
         |  SELECT doc_id, g, COUNT(*) AS cnt
         |  FROM (SELECT doc_id,
         |          UNNEST(list_transform(generate_series(1, len(toks) - 1),
         |                 i -> toks[i] || ' ' || toks[i + 1])) AS g
         |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
         |              FROM documents))
         |  GROUP BY 1, 2),
         |c1 AS (
         |  SELECT a.doc_id AS doc_c,
         |         CAST(SUM(LEAST(a.cnt, b.cnt)) AS BIGINT) AS clip1
         |  FROM uni a JOIN uni b ON b.doc_id = a.doc_id + 1 AND a.g = b.g
         |  WHERE a.doc_id % 2 = 0 GROUP BY 1),
         |c2 AS (
         |  SELECT a.doc_id AS doc_c,
         |         CAST(SUM(LEAST(a.cnt, b.cnt)) AS BIGINT) AS clip2
         |  FROM big a JOIN big b ON b.doc_id = a.doc_id + 1 AND a.g = b.g
         |  WHERE a.doc_id % 2 = 0 GROUP BY 1),
         |m AS (
         |  SELECT p.doc_c, p.doc_r, p.lang, p.len_c, p.len_r,
         |    COALESCE(c1.clip1, 0) AS clip1, COALESCE(c2.clip2, 0) AS clip2
         |  FROM p LEFT JOIN c1 USING (doc_c) LEFT JOIN c2 USING (doc_c)),
         |k AS (
         |  SELECT doc_c, doc_r, lang, len_c, len_r, clip1, clip2,
         |    CAST(clip1 AS DOUBLE) / len_c AS p1,
         |    CASE WHEN len_c - 1 > 0
         |         THEN CAST(clip2 AS DOUBLE) / (len_c - 1) END AS p2,
         |    $brevity AS brevity,
         |    CAST(clip1 AS DOUBLE) / len_r AS rouge1_r
         |  FROM m)
         |SELECT doc_c, doc_r, lang, len_c, len_r, clip1, clip2, p1, p2,
         |  brevity, brevity * SQRT(p1 * p2) AS bleu2, rouge1_r,
         |  CASE WHEN p1 + rouge1_r > 0
         |       THEN 2 * p1 * rouge1_r / (p1 + rouge1_r)
         |       ELSE CAST(0 AS DOUBLE) END AS rouge1_f
         |FROM k ORDER BY doc_c""".stripMargin
    }),

    // TF-IDF, top-5 terms per document (smoothed idf = ln((N+1)/(df+1))).
    Q("h_tfidf_topterms", (s, d) => {
      val docs = Io.table(s, d, "documents")
      // examined r15, left re-computed: tf is consumed twice (df rollup
      // + scoring join), but at ~(docs × distinct tokens/doc) rows it
      // is near input-sized — a measured materialization attempt read
      // 1.34 s vs the 1.01 s recompute baseline (the g_price_index
      // lesson), so the double explode is the cheaper plan here.
      val tf = docs.select(col("doc_id"), explode(toks).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("token")).agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
      tf.join(df, "token").crossJoin(broadcast(n))
        .withColumn("score", col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("rn"), col("token"), col("tf"), col("df"), r6(col("score")).as("score"))
        .orderBy("doc_id", "rn")
    }, Some(
      """WITH tf AS (
        |  SELECT doc_id, t.token, COUNT(*) AS tf
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |       LATERAL UNNEST(toks) AS t(token)
        |  GROUP BY doc_id, t.token),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS INT) AS rn,
        |  token, tf, df, ROUND(score, 6) AS score
        |FROM scored
        |QUALIFY rn <= 5 ORDER BY doc_id, rn""".stripMargin)),

    // BM25 retrieval ranking (Robertson/Spärck Jones, k1=1.2 b=0.75,
    // Lucene's ln(1 + (N−df+0.5)/(df+0.5)) idf) of the corpus against a
    // fixed query term set — the scoring half of a retrieval/RAG
    // pipeline. Deliberately NOT the tfidf shape: per-doc term
    // frequencies come from map-side array filters in the ONE corpus
    // scan (no explode, no doc-keyed shuffle anywhere), corpus stats
    // (N, avgdl, per-term df) are a single one-row aggregate broadcast
    // back, scoring is a map-side expression, and the top-15 cut fuses
    // into TakeOrderedAndProject. At 100 TB: scan-bounded with one
    // scalar exchange — the term list is query-sized by definition.
    // Parity: idf snaps at 1e-12 (libm ln ulp); tf/dl/df are integers,
    // so every other factor is deterministic IEEE arithmetic written
    // with identical association in both engines; the score is emitted
    // RAW (sums of engine-identical doubles in fixed order), ranked
    // with doc_id tiebreak.
    {
      val terms = Seq("spark", "join", "stream")
      val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
      // The k1-damping denominator and each idf·tf product snap at
      // 1e-12: DuckDB's C++ build may contract a*b+c into one fused
      // multiply-add (seen: 1-ulp score divergence at sf0.01), while
      // JVM arithmetic rounds every op — snapping at the two
      // multiply-add seams restores bit equality; additions alone
      // cannot fuse, so the snapped contributions sum identically.
      def duckContrib(i: Int): String =
        s"(CASE WHEN tf$i > 0 THEN " +
          s"CAST(CAST(CAST(CAST(ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) " +
          s"AS DECIMAL(38,12)) AS DOUBLE) * ((tf$i * 2.2) / " +
          s"CAST(CAST(tf$i + 1.2 * (0.25 + (0.75 * dl) / avgdl) " +
          s"AS DECIMAL(38,12)) AS DOUBLE)) AS DECIMAL(38,12)) AS DOUBLE) " +
          s"ELSE CAST(0.0 AS DOUBLE) END)"
      Q("h_bm25_rank", (s, d) => {
        val f = Io.table(s, d, "documents")
          .select(col("doc_id") +: size(toks).cast("double").as("dl") +:
            terms.zipWithIndex.map { case (t, i) =>
              size(filter(toks, x => x === t)).cast("long").as(s"tf$i")
            }: _*)
        val stAggs =
          (sum(col("dl").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .cast("double") / count(lit(1))).as("avgdl") +:
            terms.indices.map(i =>
              sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
        val st = f.agg(count(lit(1)).as("n_docs"), stAggs: _*)
        def idf(i: Int) = log(lit(1.0) +
            (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
          .cast(dec12).cast("double")
        def contrib(i: Int) = when(col(s"tf$i") > 0,
          (idf(i) * ((col(s"tf$i") * lit(2.2)) /
            (col(s"tf$i") + lit(1.2) *
              (lit(0.25) + (lit(0.75) * col("dl")) / col("avgdl")))
              .cast(dec12).cast("double")))
            .cast(dec12).cast("double"))
          .otherwise(lit(0.0))
        f.crossJoin(broadcast(st))
          .withColumn("n_terms", terms.indices.map(i =>
            when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _))
          .withColumn("score", terms.indices.map(contrib).reduce(_ + _))
          .filter(col("n_terms") > 0)
          .select(col("doc_id"), col("n_terms"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(15)
      }, Some(
        s"""WITH f AS (
           |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
           |    CAST(len(list_filter(toks, x -> x = '${terms(0)}')) AS BIGINT) AS tf0,
           |    CAST(len(list_filter(toks, x -> x = '${terms(1)}')) AS BIGINT) AS tf1,
           |    CAST(len(list_filter(toks, x -> x = '${terms(2)}')) AS BIGINT) AS tf2
           |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
           |st AS (
           |  SELECT COUNT(*) AS n_docs, ${dSum("dl")} / COUNT(*) AS avgdl,
           |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
           |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
           |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
           |  FROM f),
           |sc AS (
           |  SELECT f.doc_id,
           |    CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
           |       + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
           |       + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms,
           |    ((${duckContrib(0)} + ${duckContrib(1)}) + ${duckContrib(2)}) AS score
           |  FROM f CROSS JOIN st)
           |SELECT doc_id, n_terms, score FROM sc WHERE n_terms > 0
           |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin))
    },

    // Substring-level duplication census — the practical distributed
    // form of exact-substring dedup (the suffix-array method of Lee et
    // al., ACL'22, anchored at window granularity): every 8-token
    // window that appears in MORE THAN ONE document marks its span,
    // and per doc the marked windows merge into maximal spans by the
    // gaps-and-islands pattern (windows [st, st+8) merge while
    // st ≤ prev+8), yielding how many tokens of each doc are cross-doc
    // duplicated boilerplate. Scale: one shingle-keyed two-level agg
    // (distinct-docs per gram), one join back, then doc-keyed windows
    // bounded by doc length — no suffix array materialization, same
    // answer at window granularity. dup_ratio is an integer-ratio
    // double (bit-identical division both engines).
    Q("h_substring_dup_spans", (s, d) => {
      val docs = Io.table(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val n = docs.select(col("doc_id"), size(toks).as("n_tok"))
      // native positional n-gram Generator — one tight per-row loop;
      // the transform/slice/array_join HOF form it replaces evaluated
      // its lambdas interpreted per element
      val wins = docs.select(col("doc_id"),
        expr("explode_ngrams_pos(text, 8)").as(Seq("st", "g")))
      val dup = wins.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select("g")
      val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      val spans = wins.join(dup, "g").select("doc_id", "st")
        .withColumn("brk", when(lag(col("st"), 1).over(wOrd).isNull
          || col("st") > lag(col("st"), 1).over(wOrd) + 8, 1).otherwise(0))
        .withColumn("isl", sum(col("brk")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("isl"))
        .agg((max(col("st")) - min(col("st")) + 8).as("cov"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"), sum(col("cov")).as("dup_tok"))
      n.join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tok"), lit(0L)).as("dup_tok"),
          r6(coalesce(col("dup_tok"), lit(0L)) / col("n_tok")).as("dup_ratio"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, len(toks) AS n_tok FROM t),
        |wins AS (
        |  SELECT doc_id, u.i AS st,
        |    array_to_string(toks[u.i + 1 : u.i + 8], ' ') AS g
        |  FROM t, LATERAL UNNEST(generate_series(0, len(toks) - 8)) AS u(i)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT g FROM wins GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1),
        |dw AS (SELECT wins.doc_id, wins.st FROM wins JOIN dup USING (g)),
        |mk AS (
        |  SELECT doc_id, st,
        |    CASE WHEN LAG(st) OVER w IS NULL OR st > LAG(st) OVER w + 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dw WINDOW w AS (PARTITION BY doc_id ORDER BY st)),
        |isl AS (
        |  SELECT doc_id, st, SUM(brk) OVER (PARTITION BY doc_id ORDER BY st
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM mk),
        |cov AS (SELECT doc_id, isl, MAX(st) - MIN(st) + 8 AS cov
        |        FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |          CAST(SUM(cov) AS BIGINT) AS dup_tok
        |        FROM cov GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.n_tok AS INT) AS n_tok,
        |  COALESCE(agg.n_spans, 0) AS n_spans,
        |  COALESCE(agg.dup_tok, 0) AS dup_tok,
        |  ROUND(COALESCE(agg.dup_tok, 0) / CAST(n.n_tok AS DOUBLE), 6) AS dup_ratio
        |FROM n LEFT JOIN agg USING (doc_id) ORDER BY n.doc_id""".stripMargin)),

    // Deterministic document fingerprint: polynomial rolling hash of the
    // raw text, mod 1e9+7 — same fold on both engines (DuckDB list_reduce
    // seeds with the first element, which equals Spark's fold from 0).
    Q("h_fingerprint", (s, d) => {
      Io.table(s, d, "documents")
        .select(col("doc_id"),
          expr("aggregate(transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)), 0L, (a, c) -> (a * 31 + c) % 1000000007)").as("fingerprint"),
          length(col("text")).as("text_len"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  list_reduce(list_transform(generate_series(1, length(text)),
        |                             i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
        |              (a, c) -> (a * 31 + c) % 1000000007) AS fingerprint,
        |  CAST(LENGTH(text) AS INT) AS text_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Mutual-information feature ranking (the filter-method companion
    // to the h_feature_split_gini wrapper): I(X; lang) for two
    // candidate features — the bucketed doc length and the source tag
    // — computed from ONE unioned (feature, x, y) count table, so
    // adding features is adding rows, not passes. Margins and totals
    // are bounded keyed aggregates broadcast back onto the ≤|levels|²
    // cell table. Engine-exactness: every probability is an exact
    // int-ratio double, ln runs on the bit-identical quotient (the
    // g_price_elasticity LN class), and each cell's p·ln term is
    // 1e-12 floor-snapped to BIGINT so the cell sum has no
    // accumulation-order seam. The count products inside the ln
    // (cxy·n, rx·cy — up to n² at a cell that owns the corpus) run in
    // DECIMAL(19,0)-promoted arithmetic, not raw BIGINT: past 2^63
    // Spark (non-ANSI) wraps silently while DuckDB raises, the
    // e_table_checksum divergence class. Each decimal product returns
    // to double via the VARCHAR hop on the DuckDB side (direct
    // decimal→double double-rounds past 2^53 unscaled) and the plain
    // repr-based cast on the Spark side, so the ln argument is a
    // division of bit-identical doubles at ANY corpus size.
    // Distribution-shift census — D_KL(P_source ‖ P_corpus) over the
    // unigram token distribution, add-1 smoothed over the shared
    // vocabulary: the number a data-mixing pipeline reads to see how
    // far each source's language drifts from the pool (feeds sampling
    // temperature / reweighting decisions; complements h_dsir_weights'
    // per-doc importance weights). Cost shape: ONE corpus scan to the
    // (source, token) count table (materialized — it feeds both the
    // corpus-marginal rollup and the cell join), then everything is
    // vocabulary-bounded: the full |sources|×|V| smoothed cell table
    // (absent tokens included — their add-1 mass is part of proper
    // KL), a broadcast 1-row (V, N) scalar, and a per-source sum.
    // Parity: the h_feature_mi discipline — LN arguments are hopped
    // int-ratio doubles from DECIMAL(19,0) products, each term
    // floor-snapped at 1e-12 to BIGINT, per-source sums exact integer.
    Q("h_kl_source_shift", (s, d) => {
      val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val st = Q.scratch("klSourceTok")(
        Io.table(s, d, "documents")
          .select(col("source"), explode(toks).as("t"))
          .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c_st")))
      val ct = st.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
      // ONE rollup yields the per-source totals AND the global (V, N)
      // row; a bounded window (≤|sources|+1 rows) folds the global
      // columns onto the per-source rows, so the cell table attaches a
      // SINGLE broadcast instead of the r14 form's separate per-source
      // + one-row scalar broadcasts (two builds per execution — the
      // gate's dominant excursion class under host contention, r14
      // VERDICT item 3). grouping() marks the total row, so a genuine
      // NULL source value cannot impersonate it.
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      val nsv = st.rollup(col("source"))
        .agg(sum(col("c_st")).as("n_s"), countDistinct(col("t")).as("vd"),
          grouping(col("source")).as("g"))
        .withColumn("v", max(when(col("g") === 1, col("vd"))).over(wAll))
        .withColumn("nn", max(when(col("g") === 1, col("n_s"))).over(wAll))
        .filter(col("g") === 0)
        .select(col("source"), col("n_s"), col("v"), col("nn"))
      val cells = ct.crossJoin(broadcast(nsv))
        .join(st, Seq("source", "t"), "left")
        .select(col("source"), col("n_s"), col("v"), col("nn"),
          coalesce(col("c_st"), lit(0L)).as("c_st"), col("c_t"))
      val term = floor(
        ((col("c_st") + 1).cast("double") / (col("n_s") + col("v"))
          .cast("double")) *
          log(((col("c_st") + 1).cast(dec19) * (col("nn") + col("v")))
            .cast("double") /
            ((col("n_s") + col("v")).cast(dec19) * (col("c_t") + 1))
              .cast("double")) * 1e12 + 0.5).cast("long")
      cells.groupBy(col("source"), col("n_s"), col("v"))
        .agg(sum(term).as("klp"), count(lit(1)).as("n_terms"))
        .select(col("source"), col("n_s").as("n_tokens"),
          col("v").as("vocab"), col("n_terms"),
          (col("klp").cast("double") / 1e12).as("kl_nats"))
        .orderBy("source")
    }, Some(
      """WITH st AS (
        |  SELECT source, t, COUNT(*) AS c_st
        |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2),
        |ct AS (SELECT t, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
        |ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s
        |       FROM st GROUP BY 1),
        |vn AS (SELECT COUNT(*) AS v, CAST(SUM(c_t) AS BIGINT) AS nn FROM ct),
        |cells AS (
        |  SELECT ns.source, ns.n_s, vn.v, vn.nn,
        |    COALESCE(st.c_st, 0) AS c_st, ct.c_t
        |  FROM ct CROSS JOIN ns
        |  LEFT JOIN st ON st.source = ns.source AND st.t = ct.t
        |  CROSS JOIN vn)
        |SELECT source, n_s AS n_tokens, v AS vocab,
        |  COUNT(*) AS n_terms,
        |  CAST(CAST(SUM(CAST(FLOOR(
        |    (CAST(c_st + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE)) *
        |    LN(CAST(CAST(CAST(c_st + 1 AS DECIMAL(19,0)) * (nn + v)
        |            AS VARCHAR) AS DOUBLE)
        |       / CAST(CAST(CAST(n_s + v AS DECIMAL(19,0)) * (c_t + 1)
        |              AS VARCHAR) AS DOUBLE)) * 1e12
        |    + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS kl_nats
        |FROM cells
        |GROUP BY source, n_s, v ORDER BY source""".stripMargin)),

    Q("h_feature_mi", (s, d) => {
      val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val doc = Io.table(s, d, "documents")
      val proj = doc.select(lit("len_bucket").as("f"),
        least(expr("n_chars DIV 100"), lit(5L)).cast("string").as("x"),
        col("lang").as("y"))
        .unionByName(doc.select(lit("source").as("f"),
          col("source").as("x"), col("lang").as("y")))
      val cells = proj.groupBy(col("f"), col("x"), col("y"))
        .agg(count(lit(1)).as("cxy"))
      val rx = cells.groupBy(col("f"), col("x")).agg(sum(col("cxy")).as("rx"))
      val cy = cells.groupBy(col("f"), col("y")).agg(sum(col("cxy")).as("cy"))
      val tot = cells.groupBy(col("f")).agg(sum(col("cxy")).as("n"))
      val term = floor(
        (col("cxy").cast("double") / col("n").cast("double")) *
          log((col("cxy").cast(dec19) * col("n")).cast("double") /
            (col("rx").cast(dec19) * col("cy")).cast("double")) * 1e12 +
          0.5).cast("long")
      cells.join(rx, Seq("f", "x")).join(cy, Seq("f", "y"))
        .join(broadcast(tot), "f")
        .groupBy(col("f"), col("n"))
        .agg(sum(term).as("mip"), count(lit(1)).as("n_cells"))
        .select(col("f").as("feature"), col("n"), col("n_cells"),
          (col("mip").cast("double") / 1e12).as("mi"))
        .orderBy("feature")
    }, Some(
      """WITH proj AS (
        |  SELECT 'len_bucket' AS f,
        |    CAST(LEAST(n_chars // 100, 5) AS VARCHAR) AS x, lang AS y
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', source, lang FROM documents),
        |cells AS (SELECT f, x, y, COUNT(*) AS cxy FROM proj GROUP BY 1, 2, 3),
        |rx AS (SELECT f, x, CAST(SUM(cxy) AS BIGINT) AS rx
        |       FROM cells GROUP BY 1, 2),
        |cy AS (SELECT f, y, CAST(SUM(cxy) AS BIGINT) AS cy
        |       FROM cells GROUP BY 1, 2),
        |tot AS (SELECT f, CAST(SUM(cxy) AS BIGINT) AS n FROM cells GROUP BY 1)
        |SELECT f AS feature, n, COUNT(*) AS n_cells,
        |  CAST(CAST(SUM(CAST(FLOOR(
        |    (CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    LN(CAST(CAST(CAST(cxy AS DECIMAL(19,0)) * n AS VARCHAR) AS DOUBLE)
        |       / CAST(CAST(CAST(rx AS DECIMAL(19,0)) * cy AS VARCHAR)
        |              AS DOUBLE)) * 1e12
        |    + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS mi
        |FROM cells JOIN rx USING (f, x) JOIN cy USING (f, y)
        |  JOIN tot USING (f)
        |GROUP BY f, n ORDER BY feature""".stripMargin)),

    // Hashing-trick featurization census (Weinberger et al. '09): map
    // the unbounded token vocabulary into 256 signed feature buckets
    // with the shared cross-engine polynomial hash, and report the
    // collision profile per bucket — the question every
    // fixed-width-feature trainer asks before committing to a hash
    // width. Cost shape: the corpus-sized pass is the token-count
    // aggregate; the per-token hash fold runs over the DISTINCT
    // vocabulary only (Heaps-sublinear), then one 256-group aggregate.
    // All outputs are integers — nothing to snap.
    Q("h_feature_hashing", (s, d) => {
      val vocab = Io.table(s, d, "documents")
        .select(explode(toks).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("occ"))
      val hashed = vocab.select(col("token"), col("occ"),
        expr("aggregate(transform(sequence(1, length(token)), " +
          "i -> CAST(ascii(substring(token, i, 1)) AS BIGINT)), 0L, " +
          "(a, c) -> (a * 31 + c) % 1000000007)").as("hv"))
        .select(col("occ"), (col("hv") % 256).as("bucket"),
          when(expr("hv DIV 256") % 2 === 0, 1L)
            .otherwise(-1L).as("sign"))
      hashed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("occ")).as("occurrences"),
          sum(col("sign") * col("occ")).as("signed_mass"))
        .orderBy("bucket")
    }, Some(
      """WITH vocab AS (
        |  SELECT t.tok AS token, COUNT(*) AS occ
        |  FROM documents, LATERAL UNNEST(string_split(text, ' ')) AS t(tok)
        |  WHERE t.tok <> '' GROUP BY 1),
        |hashed AS (
        |  SELECT occ,
        |    list_reduce(list_transform(generate_series(1, length(token)),
        |        i -> CAST(ascii(substr(token, i, 1)) AS BIGINT)),
        |      (a, c) -> (a * 31 + c) % 1000000007) AS hv
        |  FROM vocab)
        |SELECT hv % 256 AS bucket, COUNT(*) AS n_tokens,
        |  CAST(SUM(occ) AS BIGINT) AS occurrences,
        |  CAST(SUM(CASE WHEN (hv // 256) % 2 = 0 THEN occ ELSE -occ END)
        |    AS BIGINT) AS signed_mass
        |FROM hashed GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Statistical watermark detection (Kirchenbauer et al. 2023,
    // arXiv:2301.10226 — the green-list z-test): screen documents for
    // LLM-watermarked synthetic text by testing whether "green" tokens
    // (here: shared cross-engine polynomial hash parity — the
    // h_feature_hashing hash, so both engines bucket identically) are
    // over-represented vs the null 1/2. Per doc: z = (2·g − n)/√n over
    // token OCCURRENCES; emit docs with z ≥ 2 (one-sided ~2.3% false
    // positives on clean text — the screening threshold, not a
    // verdict). Cost shape: one corpus pass to (doc, token) counts;
    // the hash folds over the DISTINCT vocabulary only
    // (Heaps-sublinear) and joins back token-keyed. All counts are
    // integers; z is an exact-int numerator over a correctly-rounded
    // √n — bit-identical cross-engine.
    Q("h_watermark_detect", (s, d) => {
      val tf = Io.table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("occ"))
      val vocab = tf.groupBy(col("token")).agg(count(lit(1)).as("_df"))
        .select(col("token"),
          (expr("aggregate(transform(sequence(1, length(token)), " +
            "i -> CAST(ascii(substring(token, i, 1)) AS BIGINT)), 0L, " +
            "(a, c) -> (a * 31 + c) % 1000000007)") % 2 === 0)
            .as("green"))
      tf.join(vocab, "token")
        .groupBy(col("doc_id"))
        .agg(sum(col("occ")).as("n_tokens"),
          sum(when(col("green"), col("occ")).otherwise(0L)).as("n_green"))
        .withColumn("green_frac",
          col("n_green").cast("double") / col("n_tokens"))
        .withColumn("z",
          (lit(2L) * col("n_green") - col("n_tokens")).cast("double")
            / sqrt(col("n_tokens").cast("double")))
        .filter(col("z") >= 2.0)
        .select(col("doc_id"), col("n_tokens"), col("n_green"),
          col("green_frac"), col("z"))
        .orderBy("doc_id")
    }, Some(
      """WITH tf AS (
        |  SELECT doc_id, token, COUNT(*) AS occ
        |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        |        FROM documents)
        |  WHERE token <> '' GROUP BY 1, 2),
        |vocab AS (
        |  SELECT token,
        |    list_reduce(list_transform(generate_series(1, length(token)),
        |        i -> CAST(ascii(substr(token, i, 1)) AS BIGINT)),
        |      (a, c) -> (a * 31 + c) % 1000000007) % 2 = 0 AS green
        |  FROM (SELECT DISTINCT token FROM tf)),
        |g AS (
        |  SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN green THEN occ ELSE 0 END) AS BIGINT)
        |      AS n_green
        |  FROM tf JOIN vocab USING (token) GROUP BY 1)
        |SELECT doc_id, n_tokens, n_green,
        |  CAST(n_green AS DOUBLE) / n_tokens AS green_frac,
        |  CAST(2 * n_green - n_tokens AS DOUBLE)
        |    / SQRT(CAST(n_tokens AS DOUBLE)) AS z
        |FROM g
        |WHERE CAST(2 * n_green - n_tokens AS DOUBLE)
        |      / SQRT(CAST(n_tokens AS DOUBLE)) >= 2.0
        |ORDER BY doc_id""".stripMargin)),

    // Corpus vocabulary statistics: global top-20 tokens by document
    // frequency and total occurrences — the vocabulary table every
    // tokenizer/quality pipeline starts from. Explode is map-side; the
    // aggregation shuffles one row per token.
    Q("h_vocab_topk", (s, d) => {
      Io.table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("token"))
        .groupBy(col("token"))
        .agg(countDistinct(col("doc_id")).as("doc_freq"),
          count(lit(1)).as("occurrences"))
        .orderBy(col("occurrences").desc, col("token"))
        .limit(20)
    }, Some(
      """SELECT token,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
        |  COUNT(*) AS occurrences
        |FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY occurrences DESC, token
        |LIMIT 20""".stripMargin)),

    // PII scrubbing: regex redaction of emails and phone numbers — the
    // corpus has none, so deterministic synthetic PII is appended per
    // doc first (making redaction verifiable), then both patterns are
    // replaced globally and the match counts emitted. Map-side only.
    Q("h_pii_scrub", (s, d) => {
      val raw = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      Io.table(s, d, "documents")
        .withColumn("raw", raw)
        .select(col("doc_id"),
          regexp_count(col("raw"), lit("[a-z0-9._]+@[a-z0-9.]+")).as("n_emails"),
          regexp_count(col("raw"), lit("555-[0-9]{4}")).as("n_phones"),
          regexp_replace(
            regexp_replace(col("raw"), "[a-z0-9._]+@[a-z0-9.]+", "<EMAIL>"),
            "555-[0-9]{4}", "<PHONE>").as("scrubbed"))
        .orderBy("doc_id")
    }, Some(
      """WITH r AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com or call 555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.]+')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |                 '555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Fixed-size token chunking with overlap (size 8, stride 6) — the
    // standard training-data windowing shape: chunk starts explode
    // map-side; each chunk renders its token slice. At 100 TB this is
    // scan parallelism with no shuffle until a downstream groupBy.
    Q("h_text_chunk", (s, d) => {
      Io.table(s, d, "documents").filter(col("doc_id") < 200)
        .withColumn("toks", toks)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(6))).as("st"))
        .select(col("doc_id"),
          (col("st") / 6).cast("int").as("chunk_id"),
          least(lit(8), size(col("toks")) - col("st")).as("n_tokens"),
          array_join(slice(col("toks"), col("st") + 1, lit(8)), " ").as("chunk"))
        .orderBy("doc_id", "chunk_id")
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents WHERE doc_id < 200)
        |SELECT doc_id, CAST(st // 6 AS INT) AS chunk_id,
        |  CAST(least(8, len(toks) - st) AS INT) AS n_tokens,
        |  array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS chunk
        |FROM t, LATERAL UNNEST(generate_series(0, len(toks) - 1, 6)) AS u(st)
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    // T5-style span corruption — the denoising-objective data prep a
    // pre-training pipeline materializes: tokens are cut into 3-token
    // blocks, every 4th block (25% corruption rate) is replaced by a
    // sentinel <extra_id_k> in the INPUT and emitted after its sentinel
    // in the TARGET. Span selection is pure positional arithmetic
    // (block index modulo) — deterministic across engines, retries and
    // shards, which is exactly what reproducible pre-training corpora
    // need (a rand() selection changes the dataset every run). All
    // array work is codegen HOFs over the token array (no explode — one
    // row in, one row out); at 100 TB this is a map-side scan.
    Q("h_span_corruption", (s, d) => {
      Io.table(s, d, "documents").filter(col("doc_id") < 200)
        .withColumn("toks", toks)
        .withColumn("nb", ceil(size(col("toks")) / lit(3.0)).cast("int"))
        .select(col("doc_id"),
          expr("""array_join(transform(sequence(0, nb - 1), b ->
            CASE WHEN b % 4 = 3 THEN concat('<extra_id_', CAST(b DIV 4 AS STRING), '>')
            ELSE array_join(slice(toks, b * 3 + 1, 3), ' ') END), ' ')""")
            .as("corrupted"),
          expr("""array_join(transform(filter(sequence(0, nb - 1), b -> b % 4 = 3), b ->
            concat('<extra_id_', CAST(b DIV 4 AS STRING), '> ',
                   array_join(slice(toks, b * 3 + 1, 3), ' '))), ' ')""")
            .as("target"),
          col("nb").as("n_blocks"),
          expr("CAST(size(filter(sequence(0, nb - 1), b -> b % 4 = 3)) AS INT)")
            .as("n_masked"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(CEIL(len(string_split(text, ' ')) / 3.0) AS INT) AS nb
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  array_to_string(list_transform(generate_series(0, nb - 1), b ->
        |    CASE WHEN b % 4 = 3 THEN '<extra_id_' || CAST(b // 4 AS VARCHAR) || '>'
        |    ELSE array_to_string(list_slice(toks, b * 3 + 1, b * 3 + 3), ' ') END),
        |    ' ') AS corrupted,
        |  array_to_string(list_transform(
        |    list_filter(generate_series(0, nb - 1), b -> b % 4 = 3), b ->
        |    '<extra_id_' || CAST(b // 4 AS VARCHAR) || '> ' ||
        |    array_to_string(list_slice(toks, b * 3 + 1, b * 3 + 3), ' ')),
        |    ' ') AS target,
        |  nb AS n_blocks,
        |  CAST(len(list_filter(generate_series(0, nb - 1), b -> b % 4 = 3)) AS INT)
        |    AS n_masked
        |FROM t ORDER BY doc_id""".stripMargin)),

    // PMI collocations: the top-20 statistically-associated bigrams,
    // pmi = ln(p(ab) / (p(a)·p(b))) with a min-count support filter —
    // the classic collocation extractor (and the MWE signal a tokenizer
    // pipeline feeds on). Bigram counts come from the native
    // explode_ngrams generator; the unigram table and both totals are
    // vocabulary-bounded → broadcast. ln snaps to 1e-12 (libm ulp) and
    // the ranking key is the snapped value with the bigram string as
    // tiebreak, so the top-20 cut is engine-identical.
    Q("h_bigram_pmi", (s, d) => {
      val docs = Io.table(s, d, "documents")
      val uni = docs.select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c_t"))
      val bgAll = docs.select(expr("explode_ngrams(text, 2)").as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c_ab"))
      // p(ab) normalizes by the FULL bigram count (standard PMI); the
      // support filter only prunes which bigrams are scored. Both
      // totals pivot out of ONE union-agg into a single one-row
      // broadcast — the r14 form attached them as two separate
      // crossJoin(broadcast(scalar)) builds, the gate's dominant
      // excursion class under host contention (r14 VERDICT item 3).
      val tots = uni.select(col("c_t").as("c"), lit(true).as("u"))
        .unionByName(bgAll.select(col("c_ab").as("c"), lit(false).as("u")))
        .agg(sum(when(col("u"), col("c"))).as("n_uni"),
          sum(when(!col("u"), col("c"))).as("n_bg"))
      val bg = bgAll.filter(col("c_ab") >= 5)
      val withToks = bg
        .withColumn("tok_a", split(col("g"), " ").getItem(0))
        .withColumn("tok_b", split(col("g"), " ").getItem(1))
        .join(broadcast(uni.select(col("tok").as("tok_a"), col("c_t").as("c_a"))), "tok_a")
        .join(broadcast(uni.select(col("tok").as("tok_b"), col("c_t").as("c_b"))), "tok_b")
        .crossJoin(broadcast(tots))
      val pmi = log((col("c_ab") / col("n_bg").cast("double")) /
          ((col("c_a") / col("n_uni").cast("double")) *
            (col("c_b") / col("n_uni").cast("double"))))
        .cast(org.apache.spark.sql.types.DecimalType(38, 12)).cast("double")
      withToks.withColumn("pmi", pmi)
        .select(col("g").as("bigram"), col("c_ab"), col("c_a"), col("c_b"),
          col("pmi").cast(org.apache.spark.sql.types.DecimalType(38, 6))
            .cast("double").as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(20)
    }, Some(
      """WITH tok AS (
        |  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |uni AS (SELECT tok, COUNT(*) AS c_t FROM tok GROUP BY tok),
        |ut AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_uni FROM uni),
        |bgr AS (
        |  SELECT UNNEST(list_transform(generate_series(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 2),
        |bgall AS (SELECT g, COUNT(*) AS c_ab FROM bgr GROUP BY g),
        |bg AS (SELECT * FROM bgall WHERE c_ab >= 5),
        |bt AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bg FROM bgall),
        |j AS (
        |  SELECT bg.g, bg.c_ab, ua.c_t AS c_a, ub.c_t AS c_b,
        |    CAST(CAST(ln((bg.c_ab / CAST(bt.n_bg AS DOUBLE)) /
        |      ((ua.c_t / CAST(ut.n_uni AS DOUBLE)) * (ub.c_t / CAST(ut.n_uni AS DOUBLE))))
        |      AS DECIMAL(38,12)) AS DOUBLE) AS pmi
        |  FROM bg CROSS JOIN ut CROSS JOIN bt
        |  JOIN uni ua ON ua.tok = string_split(bg.g, ' ')[1]
        |  JOIN uni ub ON ub.tok = string_split(bg.g, ' ')[2])
        |SELECT g AS bigram, c_ab, CAST(c_a AS BIGINT) AS c_a,
        |  CAST(c_b AS BIGINT) AS c_b,
        |  CAST(CAST(pmi AS DECIMAL(38,6)) AS DOUBLE) AS pmi
        |FROM j ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin)),

    // Corpus bigram language model scoring — the perplexity-proxy
    // quality signal: per-doc mean log P(b|a) under an add-1-smoothed
    // bigram LM estimated on the corpus itself. P(b|a) =
    // (c(ab)+1)/(c(a·)+V) with c(a·) = bigrams starting with a and V =
    // unigram vocab size. The bigram/histogram model tables carry NO
    // broadcast hint: on a bounded-vocabulary corpus AQE broadcasts
    // them at runtime (their post-aggregate size is known by then),
    // while an open-vocabulary corpus whose bigram table outgrows the
    // threshold degrades gracefully to a shuffle join instead of
    // hard-failing a forced broadcast build — pinned in PlanShapeSpec.
    // Scoring is one scan + one doc-keyed aggregate. Each ln term
    // snaps to 1e-12 (libm ulp) and the per-doc mean is an exact
    // decimal sum, so ranking thresholds are engine-identical.
    Q("h_ngram_lm_score", (s, d) => {
      val (bg, hist, vocab) = lmModel(s, d)
      val docs = Io.table(s, d, "documents")
      val docBg = docs.select(col("doc_id"), expr("explode_ngrams(text, 2)").as("g"))
      val lp = log((col("c_ab") + 1).cast("double") / (col("c_a") + col("v")))
        .cast(org.apache.spark.sql.types.DecimalType(38, 12))
      docBg.join(bg, "g")
        .withColumn("tok_a", split(col("g"), " ").getItem(0))
        .join(hist, "tok_a")
        .crossJoin(broadcast(vocab))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(lp).cast("double") / count(lit(1)))
            .cast(org.apache.spark.sql.types.DecimalType(38, 6))
            .cast("double").as("avg_logprob"))
        .orderBy("doc_id")
    }, Some(
      """WITH bgr AS (
        |  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 2),
        |bg AS (SELECT g, COUNT(*) AS c_ab FROM bgr GROUP BY g),
        |hist AS (SELECT string_split(g, ' ')[1] AS tok_a, SUM(c_ab) AS c_a
        |         FROM bg GROUP BY 1),
        |vocab AS (
        |  SELECT COUNT(DISTINCT t.tok) AS v
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents),
        |       LATERAL UNNEST(toks) AS t(tok)),
        |terms AS (
        |  SELECT d.doc_id,
        |    CAST(CAST(ln((bg.c_ab + 1) / CAST(hist.c_a + vocab.v AS DOUBLE))
        |         AS DECIMAL(38,12)) AS DOUBLE) AS lp
        |  FROM bgr d
        |  JOIN bg USING (g)
        |  JOIN hist ON hist.tok_a = string_split(d.g, ' ')[1]
        |  CROSS JOIN vocab)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(CAST(CAST(SUM(CAST(lp AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
        |       AS DECIMAL(38,6)) AS DOUBLE) AS avg_logprob
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): data
    // selection for a TARGET domain by importance resampling — each
    // doc's weight is the log-likelihood ratio of its bigrams under a
    // target-domain bag-of-bigrams LM vs the raw-corpus LM (both add-1
    // smoothed over the shared unigram vocab size; the target stand-in
    // is lang='en', the dominant slice). A doc that "reads like" the
    // target scores positive and is selected. Shape at 100 TB: BOTH
    // model tables are corpus-vocabulary-bounded aggregates (tiny next
    // to the corpus; AQE broadcasts them at runtime), scoring is one
    // scan + one doc-keyed hash aggregate — the same plan family as
    // h_ngram_lm_score. Float discipline: each ln term snaps to 1e-12
    // (libm ulp) BEFORE summing, the two model sums subtract as exact
    // doubles, and the per-doc mean snaps at 1e-6, so the selected
    // boundary is engine-identical.
    Q("h_dsir_weights", (s, d) => {
      val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
      val (bgAll, histAll, vocab) = lmModel(s, d)
      val bgRaw = bgAll.select(col("g"), col("c_ab").as("c_r"))
      val histRaw = histAll.select(col("tok_a"), col("c_a").as("ca_r"))
      val docs = Io.table(s, d, "documents")
      val bgT = Q.artifact(s, d, "lmBigramsEn")(
        docs.filter(col("lang") === "en")
          .select(expr("explode_ngrams(text, 2)").as("g"))
          .groupBy(col("g")).agg(count(lit(1)).as("c_t")))
      val histT = Q.artifact(s, d, "lmHistEn")(
        bgT.groupBy(split(col("g"), " ").getItem(0).as("tok_a"))
          .agg(sum(col("c_t")).as("ca_t")))
      val docBg = docs.select(col("doc_id"), col("lang"),
        expr("explode_ngrams(text, 2)").as("g"))
      // every doc bigram exists in the raw model by construction (inner
      // join); target counts default to 0 through the left joins.
      val lpT = log((coalesce(col("c_t"), lit(0L)) + 1).cast("double") /
        (coalesce(col("ca_t"), lit(0L)) + col("v"))).cast(dec12)
      val lpR = log((col("c_r") + 1).cast("double") / (col("ca_r") + col("v")))
        .cast(dec12)
      docBg.join(bgRaw, "g")
        .join(bgT, Seq("g"), "left")
        .withColumn("tok_a", split(col("g"), " ").getItem(0))
        .join(histRaw, "tok_a")
        .join(histT, Seq("tok_a"), "left")
        .crossJoin(broadcast(vocab))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_bigrams"),
          ((sum(lpT).cast("double") - sum(lpR).cast("double")) / count(lit(1)))
            .cast(dec6).cast("double").as("dsir_weight"))
        .withColumn("selected", col("dsir_weight") > 0.0)
        .orderBy("doc_id")
    }, Some(
      """WITH bgr AS (
        |  SELECT doc_id, lang,
        |    UNNEST(list_transform(generate_series(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 2),
        |bg_r AS (SELECT g, COUNT(*) AS c_r FROM bgr GROUP BY g),
        |hist_r AS (SELECT string_split(g, ' ')[1] AS tok_a, SUM(c_r) AS ca_r
        |           FROM bg_r GROUP BY 1),
        |bg_t AS (SELECT g, COUNT(*) AS c_t FROM bgr WHERE lang = 'en' GROUP BY g),
        |hist_t AS (SELECT string_split(g, ' ')[1] AS tok_a, SUM(c_t) AS ca_t
        |           FROM bg_t GROUP BY 1),
        |vocab AS (
        |  SELECT COUNT(DISTINCT t.tok) AS v
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents),
        |       LATERAL UNNEST(toks) AS t(tok)),
        |terms AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(ln((COALESCE(bg_t.c_t, 0) + 1) /
        |            CAST(COALESCE(hist_t.ca_t, 0) + vocab.v AS DOUBLE))
        |         AS DECIMAL(38,12)) AS lp_t,
        |    CAST(ln((bg_r.c_r + 1) / CAST(hist_r.ca_r + vocab.v AS DOUBLE))
        |         AS DECIMAL(38,12)) AS lp_r
        |  FROM bgr d
        |  JOIN bg_r USING (g)
        |  LEFT JOIN bg_t USING (g)
        |  JOIN hist_r ON hist_r.tok_a = string_split(d.g, ' ')[1]
        |  LEFT JOIN hist_t ON hist_t.tok_a = string_split(d.g, ' ')[1]
        |  CROSS JOIN vocab),
        |scored AS (
        |  SELECT doc_id, lang, COUNT(*) AS n_bigrams,
        |    CAST(CAST((CAST(SUM(lp_t) AS DOUBLE) - CAST(SUM(lp_r) AS DOUBLE))
        |         / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE) AS dsir_weight
        |  FROM terms GROUP BY doc_id, lang)
        |SELECT doc_id, lang, n_bigrams, dsir_weight, dsir_weight > 0 AS selected
        |FROM scored ORDER BY doc_id""".stripMargin)),

    // Within-document co-occurrence (market-basket association over
    // tokens): top-20 unordered token pairs by the number of documents
    // containing both. The pair space is doc-keyed — each doc expands
    // to its OWN distinct-token pairs (bounded by per-doc vocabulary,
    // not corpus size), so the self-join shuffles on doc_id and never
    // goes quadratic in the corpus. Complements h_bigram_pmi, which
    // only sees ADJACENT pairs.
    Q("h_cooccur_pairs", (s, d) => {
      val t = Io.table(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(toks)).as("tok"))
      t.as("a").join(t.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
        .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("tok_a"), col("tok_b"))
        .limit(20)
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents)
        |SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_docs
        |FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |GROUP BY 1, 2
        |ORDER BY n_docs DESC, tok_a, tok_b
        |LIMIT 20""".stripMargin)),

    // BPE merge learning (Sennrich et al. 2016, arXiv:1508.07909) as a
    // distributed op — the tokenizer-training step of an LLM data
    // pipeline. The ONLY corpus-sized work is one scan building the
    // word-FREQUENCY table (classic BPE trains on word types × counts,
    // not the corpus); the 3 unrolled merge rounds then run over that
    // vocab-bounded artifact: count adjacent symbol pairs weighted by
    // word freq (hash agg), pick the argmax pair under a total order
    // (cnt DESC, pair ASC — broadcast scalar), and apply the merge.
    // Symbols live in marker-delimited strings ('<h><e><l><l><o>') so
    // the merge is a plain literal replace('<a><b>' → '<ab>'): the
    // markers make cross-symbol false matches impossible, and both
    // engines' replace() is leftmost-non-overlapping — exactly BPE's
    // greedy merge order ('<a><a><a>' merges the first pair only).
    // Each round's table is materialized (it is read three times:
    // pair-count, merge, stats) — the PCA lesson about nested
    // re-evaluation. Output: per round the learned merge, its count,
    // and the weighted symbol total after applying it.
    Q("h_bpe_merges", (s, d) => {
      val rows = bpeChain(s, d).zipWithIndex.map { case ((b, m), i) =>
        b.crossJoin(broadcast(
            m.agg(sum(col("freq") * size(bpeSyms)).as("total_symbols_after"))))
          .select(lit(i + 1).as("round"), col("a").as("merge_a"),
            col("b").as("merge_b"), col("cnt").as("pair_count"),
            col("total_symbols_after"))
      }
      rows.reduce(_ union _).orderBy("round")
    }, Some(
      s"""$bpeSqlCtes
         |SELECT CAST(1 AS INT) AS round, b1.a AS merge_a, b1.b AS merge_b,
         |       b1.cnt AS pair_count, s1.total_symbols_after FROM b1, s1
         |UNION ALL
         |SELECT CAST(2 AS INT), b2.a, b2.b, b2.cnt, s2.total_symbols_after FROM b2, s2
         |UNION ALL
         |SELECT CAST(3 AS INT), b3.a, b3.b, b3.cnt, s3.total_symbols_after FROM b3, s3
         |ORDER BY round""".stripMargin)),

    // Apply the learned tokenizer back to the corpus — the other half
    // of the train→apply loop a real pipeline runs (and the number that
    // actually matters downstream: tokens per word / chars per token
    // decide context-window budgets and training cost). The post-merge
    // vocabulary (t3) is vocab-bounded and keyed by the ORIGINAL word
    // (markers stripped — merges only ever concatenate, so strip is
    // exact inverse); the corpus pass is one scan → word explode →
    // broadcast vocab join → per-lang aggregate. Integer totals; the
    // two ratios are int/int double divisions — bit-identical in both
    // engines, no snap needed.
    Q("h_bpe_tokenize", (s, d) => {
      val vocab = bpeChain(s, d).last._2
        .select(regexp_replace(col("ws"), "[<>]", "").as("w"),
          size(bpeSyms).as("n_toks"))
      Io.table(s, d, "documents")
        .select(col("lang"), explode(expr(
          "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
        .join(broadcast(vocab), "w")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).as("total_chars"),
          sum(col("n_toks")).as("total_tokens"))
        .select(col("lang"), col("n_words"), col("total_chars"),
          col("total_tokens"),
          (col("total_chars").cast("double") / col("total_tokens"))
            .as("chars_per_token"),
          (col("total_tokens").cast("double") / col("n_words"))
            .as("tokens_per_word"))
        .orderBy("lang")
    }, Some(
      s"""$bpeSqlCtes,
         |vocab AS (
         |  SELECT replace(replace(ws, '<', ''), '>', '') AS w,
         |         len(regexp_extract_all(ws, '<([^<>]+)>', 1)) AS n_toks
         |  FROM t3),
         |corpus AS (
         |  SELECT lang, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |  FROM documents),
         |agg AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(length(w)) AS BIGINT) AS total_chars,
         |    CAST(SUM(n_toks) AS BIGINT) AS total_tokens
         |  FROM corpus JOIN vocab USING (w) GROUP BY lang)
         |SELECT lang, n_words, total_chars, total_tokens,
         |  CAST(total_chars AS DOUBLE) / total_tokens AS chars_per_token,
         |  CAST(total_tokens AS DOUBLE) / n_words AS tokens_per_word
         |FROM agg ORDER BY lang""".stripMargin)),

    // Decision-stump split finding (CART one-level, Gini impurity):
    // the classic feature-selection primitive for filter-rule mining —
    // which doc-length threshold best separates English from the rest.
    // All split statistics are INTEGER conditional counts from ONE
    // wide hash aggregate (9 thresholds × 2 counters + 2 totals in a
    // single scan pass, no explode of the data, no shuffle beyond the
    // 1-row all-reduce — the exact plan a 100 TB stump trainer runs per
    // feature). Per-side Gini is a single int/int IEEE division
    // (bit-identical cross-engine; n² fits int64 to n ~3e9); the
    // weighted impurity combines the two product terms through the
    // 1e-12 floor-snap so DuckDB's fused multiply-add cannot diverge
    // (the h_bm25_rank seam lesson). Empty sides carry weight 0 and
    // Gini 0.0 — no division by zero on either engine.
    Q("h_feature_split_gini", (s, d) => {
      val thrs = Seq(100, 150, 200, 250, 300, 350, 400, 450, 500)
      val doc = Io.table(s, d, "documents")
        .select(col("n_chars"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val aggs = thrs.flatMap { t =>
        Seq(sum(when(col("n_chars") <= t, 1L).otherwise(0L)).as(s"nl_$t"),
          sum(when(col("n_chars") <= t, col("y")).otherwise(0L)).as(s"al_$t"))
      } ++ Seq(count(lit(1)).as("n"), sum(col("y")).as("a"))
      val g = doc.agg(aggs.head, aggs.tail: _*)
      val rows = g.select(explode(array(thrs.map(t =>
        struct(lit(t).as("thr"), col(s"nl_$t").as("n_left"),
          col(s"al_$t").as("en_left"), col("n"), col("a"))): _*)).as("r"))
        .select(col("r.thr").as("thr"), col("r.n_left").as("n_left"),
          col("r.en_left").as("en_left"),
          (col("r.n") - col("r.n_left")).as("n_right"),
          (col("r.a") - col("r.en_left")).as("en_right"),
          col("r.n").as("n"))
      def gini(nS: org.apache.spark.sql.Column, aS: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val bS = nS - aS
        when(nS === 0L, 0.0).otherwise(
          lit(1.0) - (aS * aS + bS * bS).cast("double") / (nS * nS).cast("double"))
      }
      val gL = gini(col("n_left"), col("en_left"))
      val gR = gini(col("n_right"), col("en_right"))
      def term(nS: org.apache.spark.sql.Column, gS: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        floor(nS.cast("double") / col("n").cast("double") * gS * 1e12 + 0.5)
          .cast("long")
      rows.select(col("thr"), col("n_left"), col("en_left"),
        col("n_right"), col("en_right"),
        gL.as("gini_left"), gR.as("gini_right"),
        ((term(col("n_left"), gL) + term(col("n_right"), gR)).cast("double")
          / 1e12).as("wgini"))
        .orderBy("thr")
    }, Some(
      """WITH doc AS (SELECT n_chars,
        |               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |             FROM documents),
        |tot AS (SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS a FROM doc),
        |th AS (SELECT UNNEST([100,150,200,250,300,350,400,450,500]) AS thr),
        |cnt AS (SELECT thr,
        |          COUNT(*) FILTER (WHERE n_chars <= thr) AS n_left,
        |          CAST(COALESCE(SUM(y) FILTER (WHERE n_chars <= thr), 0)
        |            AS BIGINT) AS en_left
        |        FROM doc CROSS JOIN th GROUP BY thr),
        |sides AS (SELECT thr, n_left, en_left,
        |            n - n_left AS n_right, a - en_left AS en_right, n
        |          FROM cnt CROSS JOIN tot),
        |gi AS (SELECT *,
        |  CASE WHEN n_left = 0 THEN 0.0 ELSE
        |    1.0 - CAST(en_left*en_left + (n_left-en_left)*(n_left-en_left)
        |               AS DOUBLE) / CAST(n_left*n_left AS DOUBLE) END AS gini_left,
        |  CASE WHEN n_right = 0 THEN 0.0 ELSE
        |    1.0 - CAST(en_right*en_right + (n_right-en_right)*(n_right-en_right)
        |               AS DOUBLE) / CAST(n_right*n_right AS DOUBLE) END AS gini_right
        |  FROM sides)
        |SELECT thr, n_left, en_left, n_right, en_right, gini_left, gini_right,
        |  CAST(CAST(FLOOR(CAST(n_left AS DOUBLE) / n * gini_left * 1e12 + 0.5)
        |         AS BIGINT)
        |     + CAST(FLOOR(CAST(n_right AS DOUBLE) / n * gini_right * 1e12 + 0.5)
        |         AS BIGINT) AS DOUBLE) / 1e12 AS wgini
        |FROM gi ORDER BY thr""".stripMargin)),

    // Gopher document-quality rules (Rae et al., arXiv:2112.11446
    // §A1.1) — the integer-exact subset that discriminates on this
    // corpus, each rule restated as a cross-multiplied INTEGER
    // comparison so there is not a single floating-point value in the
    // query (no snaps, no boundary classes):
    //   wc_ok   50 ≤ |words| ≤ 100000
    //   mwl_ok  3 ≤ mean word length ≤ 10   (3n ≤ Σlen ≤ 10n)
    //   stop_ok ≥ 2 distinct stopwords from the Gopher list
    //   dup_ok  chars inside duplicated word-2-grams ≤ 20% of text
    //           (5·dup_chars ≤ |text| — Gopher's char-weighted rule;
    //            h_repetition_filter's ratios are token-weighted)
    // Shape: one scan + one (doc,gram)-keyed agg — the same two-pass
    // plan at 100 TB, no wide rows, no holistic state.
    Q("h_gopher_filters", (s, d) => {
      val stopList = array(Seq("the", "a", "to", "of", "and", "that",
        "with", "have").map(lit): _*)
      val docs = Io.table(s, d, "documents")
      val base = docs.select(col("doc_id"),
        length(col("text")).as("text_chars"),
        size(toks).as("n_words"),
        aggregate(transform(toks, w => length(w)), lit(0),
          (acc, x) => acc + x).as("word_chars"),
        size(array_intersect(toks, stopList)).as("n_stop"))
      val t = toks
      val bigrams = zip_with(slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1), (a, b) => concat(a, lit(" "), b))
      val dup = docs.select(col("doc_id"), explode(bigrams).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("cnt") > 1, col("cnt") * length(col("bg")))
          .otherwise(0L)).as("dup_chars"))
      base.join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("word_chars"),
          col("n_stop"),
          coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
          (col("n_words") >= 50 && col("n_words") <= 100000).as("wc_ok"),
          (lit(3) * col("n_words") <= col("word_chars") &&
            col("word_chars") <= lit(10) * col("n_words")).as("mwl_ok"),
          (col("n_stop") >= 2).as("stop_ok"),
          (lit(5) * coalesce(col("dup_chars"), lit(0L)) <=
            col("text_chars")).as("dup_ok"))
        .withColumn("keep",
          col("wc_ok") && col("mwl_ok") && col("stop_ok") && col("dup_ok"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, LENGTH(text) AS text_chars,
        |    CAST(len(toks) AS INT) AS n_words,
        |    CAST(list_sum(list_transform(toks, w -> LENGTH(w))) AS INT)
        |      AS word_chars,
        |    CAST(len(list_intersect(list_distinct(toks),
        |      ['the','a','to','of','and','that','with','have'])) AS INT)
        |      AS n_stop
        |  FROM t),
        |bg AS (
        |  SELECT doc_id, b.bg, COUNT(*) AS cnt
        |  FROM (SELECT doc_id,
        |          list_transform(generate_series(1, len(toks) - 1),
        |                         i -> toks[i] || ' ' || toks[i + 1]) AS bgs
        |        FROM t),
        |       LATERAL UNNEST(bgs) AS b(bg)
        |  GROUP BY doc_id, b.bg),
        |dup AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(bg) ELSE 0 END)
        |      AS BIGINT) AS dup_chars
        |  FROM bg GROUP BY doc_id)
        |SELECT b.doc_id, b.n_words, b.word_chars, b.n_stop,
        |  COALESCE(d.dup_chars, 0) AS dup_chars,
        |  (b.n_words >= 50 AND b.n_words <= 100000) AS wc_ok,
        |  (3 * b.n_words <= b.word_chars
        |    AND b.word_chars <= 10 * b.n_words) AS mwl_ok,
        |  (b.n_stop >= 2) AS stop_ok,
        |  (5 * COALESCE(d.dup_chars, 0) <= b.text_chars) AS dup_ok,
        |  (b.n_words >= 50 AND b.n_words <= 100000
        |    AND 3 * b.n_words <= b.word_chars
        |    AND b.word_chars <= 10 * b.n_words
        |    AND b.n_stop >= 2
        |    AND 5 * COALESCE(d.dup_chars, 0) <= b.text_chars) AS keep
        |FROM base b LEFT JOIN dup d ON b.doc_id = d.doc_id
        |ORDER BY b.doc_id""".stripMargin)),

    // Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    // SIGMOD 2003 — the MOSS algorithm): hash every k-gram (k=3 word
    // grams, the h_fingerprint polynomial char fold), then slide a
    // window of w=4 consecutive gram hashes and select each window's
    // MINIMUM — the selected set is the fingerprint. The winnowing
    // guarantee: any shared run of ≥ w+k−1 tokens between two docs
    // shares at least one selected fingerprint, at ~2/(w+1) the
    // density of full k-gram sets. Everything is INTEGER arithmetic on
    // array columns — per-doc map-side work with zero shuffles beyond
    // the ORDER BY, the same plan at 100 TB. The no-init DuckDB
    // list_reduce is equivalent to Spark's 0-seeded aggregate because
    // (0*31+c) = c and (0*131+h) = h. density = selected/windows is an
    // int/int double division — bit-identical in both engines.
    Q("h_winnowing_fp", (s, d) => {
      val t = toks
      val docs = Io.table(s, d, "documents")
        .withColumn("grams",
          when(size(t) >= 3,
            transform(sequence(lit(1), size(t) - 2), i =>
              concat_ws(" ", element_at(t, i), element_at(t, i + 1),
                element_at(t, i + 2))))
            .otherwise(array().cast("array<string>")))
        .withColumn("gh", expr(
          "transform(grams, g -> aggregate(transform(sequence(1, length(g))," +
            " i -> CAST(ascii(substring(g, i, 1)) AS BIGINT)), 0L," +
            " (a, c) -> (a * 31 + c) % 1000000007))"))
        .withColumn("wins",
          when(size(col("gh")) >= 4,
            transform(sequence(lit(1), size(col("gh")) - 3), j =>
              array_min(slice(col("gh"), j, lit(4)))))
            .otherwise(array().cast("array<bigint>")))
        .withColumn("sel", array_sort(array_distinct(col("wins"))))
      docs.select(col("doc_id"),
          size(col("gh")).as("n_grams"),
          size(col("wins")).as("n_windows"),
          size(col("sel")).as("n_fp"),
          when(size(col("wins")) > 0,
            size(col("sel")).cast("double") / size(col("wins")))
            .as("density"),
          expr("aggregate(sel, 0L, (a, h) -> (a * 131 + h) % 1000000007)")
            .as("fp_checksum"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_transform(generate_series(1, len(toks) - 2),
        |        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
        |    ELSE CAST([] AS VARCHAR[]) END AS grams
        |  FROM t),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(grams, g2 -> list_reduce(
        |      list_transform(generate_series(1, length(g2)),
        |                     i -> CAST(ascii(substr(g2, i, 1)) AS BIGINT)),
        |      (a, c) -> (a * 31 + c) % 1000000007)) AS gh
        |  FROM g),
        |w AS (
        |  SELECT doc_id, gh,
        |    CASE WHEN len(gh) >= 4 THEN
        |      list_transform(generate_series(1, len(gh) - 3),
        |                     j -> list_min(gh[j:j + 3]))
        |    ELSE CAST([] AS BIGINT[]) END AS wins
        |  FROM h),
        |s AS (SELECT doc_id, gh, wins,
        |             list_sort(list_distinct(wins)) AS sel FROM w)
        |SELECT doc_id,
        |  CAST(len(gh) AS INT) AS n_grams,
        |  CAST(len(wins) AS INT) AS n_windows,
        |  CAST(len(sel) AS INT) AS n_fp,
        |  CASE WHEN len(wins) > 0
        |       THEN CAST(len(sel) AS DOUBLE) / len(wins) END AS density,
        |  CASE WHEN len(sel) > 0 THEN
        |    list_reduce(sel, (a, h) -> (a * 131 + h) % 1000000007)
        |  ELSE 0 END AS fp_checksum
        |FROM s ORDER BY doc_id""".stripMargin)),

    // CCNet-style language-model quality bucketing (Wenzek et al.,
    // LREC 2020, arXiv:1911.00359): score each doc under the corpus
    // bigram LM (h_ngram_lm_score's add-1-smoothed avg log P(b|a) —
    // the perplexity proxy), then split EACH LANGUAGE into head /
    // middle / tail thirds — CCNet's per-language split is the point:
    // a global cut would empty low-resource languages. Bucket
    // assignment is rank-based, not threshold-based: rn·3 ≤ n and
    // rn·3 ≤ 2n are INTEGER comparisons over a (lp, doc_id)-total-
    // ordered per-lang row_number, so the boundary cannot float-diverge
    // (the scored lp values themselves are engine-identical: 1e-12
    // ln-term snaps + exact decimal sums, the lm_score discipline).
    // Shape at 100 TB: model tables are vocab-bounded aggregates (AQE
    // broadcasts them), scoring is one scan + one doc-keyed agg, and
    // the rank windows partition by lang — keyed shuffles only.
    Q("h_ccnet_buckets", (s, d) => {
      val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
      val (bg, hist, vocab) = lmModel(s, d)
      val docs = Io.table(s, d, "documents")
      val docBg = docs.select(col("doc_id"), col("lang"),
        expr("explode_ngrams(text, 2)").as("g"))
      val lp = log((col("c_ab") + 1).cast("double") / (col("c_a") + col("v")))
        .cast(dec12)
      val scored = docBg.join(bg, "g")
        .withColumn("tok_a", split(col("g"), " ").getItem(0))
        .join(hist, "tok_a")
        .crossJoin(broadcast(vocab))
        .groupBy(col("doc_id"), col("lang"))
        .agg((sum(lp).cast("double") / count(lit(1)))
          .cast(dec6).cast("double").as("lp"))
      val wl = Window.partitionBy(col("lang")).orderBy(col("lp"), col("doc_id"))
      val wn = Window.partitionBy(col("lang"))
      scored
        .withColumn("rn", row_number().over(wl))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("bucket",
          when(col("rn") * 3 <= col("n"), lit("tail"))
            .when(col("rn") * 3 <= col("n") * 2, lit("middle"))
            .otherwise(lit("head")))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("lp")).as("min_lp"), max(col("lp")).as("max_lp"),
          Q.decAvg(col("lp")).as("mean_lp"))
        .orderBy("lang", "bucket")
    }, Some(
      s"""WITH bgr AS (
         |  SELECT doc_id, lang,
         |    UNNEST(list_transform(generate_series(1, len(toks) - 1),
         |         i -> toks[i] || ' ' || toks[i + 1])) AS g
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 2),
         |bg AS (SELECT g, COUNT(*) AS c_ab FROM bgr GROUP BY g),
         |hist AS (SELECT string_split(g, ' ')[1] AS tok_a, SUM(c_ab) AS c_a
         |         FROM bg GROUP BY 1),
         |vocab AS (
         |  SELECT COUNT(DISTINCT t.tok) AS v
         |  FROM (SELECT string_split(text, ' ') AS toks FROM documents),
         |       LATERAL UNNEST(toks) AS t(tok)),
         |terms AS (
         |  SELECT d.doc_id, d.lang,
         |    CAST(CAST(ln((bg.c_ab + 1) / CAST(hist.c_a + vocab.v AS DOUBLE))
         |         AS DECIMAL(38,12)) AS DOUBLE) AS t_lp
         |  FROM bgr d
         |  JOIN bg USING (g)
         |  JOIN hist ON hist.tok_a = string_split(d.g, ' ')[1]
         |  CROSS JOIN vocab),
         |scored AS (
         |  SELECT doc_id, lang,
         |    CAST(CAST(CAST(SUM(CAST(t_lp AS DECIMAL(38,12))) AS DOUBLE)
         |         / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE) AS lp
         |  FROM terms GROUP BY doc_id, lang),
         |ranked AS (
         |  SELECT doc_id, lang, lp,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY lp, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY lang) AS n
         |  FROM scored),
         |bucketed AS (
         |  SELECT lang, lp,
         |    CASE WHEN rn * 3 <= n THEN 'tail'
         |         WHEN rn * 3 <= n * 2 THEN 'middle'
         |         ELSE 'head' END AS bucket
         |  FROM ranked)
         |SELECT lang, bucket, COUNT(*) AS n_docs,
         |  MIN(lp) AS min_lp, MAX(lp) AS max_lp,
         |  ${dAvg("lp")} AS mean_lp
         |FROM bucketed GROUP BY lang, bucket
         |ORDER BY lang, bucket""".stripMargin)),

    // Multinomial naive-Bayes language classifier, trained AND applied
    // (the fasttext-style supervised filter slot of a data pipeline, in
    // closed form): add-1-smoothed per-language token likelihoods +
    // document-count priors, score = ln prior + Σ ln P(tok|lang),
    // prediction = argmax. Emitted as the confusion matrix against the
    // labeled lang column. Float discipline: each ln term snaps at
    // 1e-12, per-(doc,lang) sums are exact DECIMAL(38,18), the prior
    // adds as one double addition — so scores are engine-identical and
    // argmax ties break on lang ASC deterministically. Shape at 100 TB:
    // the model is a (vocab × L) bounded PER-CORPUS ARTIFACT
    // (nbModel — trained once, memoized+materialized like the bigram
    // LM), so scoring is ONE keyed join of the token stream to the
    // resident model (AQE broadcasts it) into one (doc,lang)-keyed
    // partial+final hash agg — tokens×L rows through map-side combine,
    // the textbook distributed-NB plan — plus one tiny priors join.
    // ≤2 broadcast builds in the scoring census (r14 VERDICT item 2:
    // the train-inline form paid 7 broadcast builds per execution and
    // was the one row trending up across quiet runs).
    Q("h_nb_lang_confusion", (s, d) => {
      val dec18 = org.apache.spark.sql.types.DecimalType(38, 18)
      val (model, priors) = nbModel(s, d)
      val docTok = Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"), explode(toks).as("t"))
      // ll is consumed RAW by the argmax comparison (never re-snapped),
      // so its oracle twin below uses the two-way VARCHAR hop — the
      // per-doc sums run to |ll| ~1e2-1e3 (unscaled > 2^53 at scale 18)
      // where DuckDB's direct out-cast double-rounds (r12 audit)
      val scored = docTok.join(model, "t")
        .groupBy(col("doc_id"), col("lang"), col("m_lang"))
        .agg(sum(col("lp").cast(dec18)).cast("double").as("ll"))
        .join(priors, "m_lang")
        .withColumn("score", col("ll") + col("lp_prior"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("m_lang"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("lang").as("actual"), col("m_lang").as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("actual", "predicted")
    }, Some(
      """WITH dt AS (
        |  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS t
        |  FROM documents),
        |counts AS (SELECT lang AS m_lang, t, COUNT(*) AS c_lt
        |           FROM dt GROUP BY 1, 2),
        |totals AS (SELECT m_lang, SUM(c_lt) AS c_l FROM counts GROUP BY 1),
        |vt AS (SELECT DISTINCT t FROM dt),
        |vn AS (SELECT COUNT(*) AS v FROM vt),
        |langs AS (SELECT DISTINCT lang AS m_lang FROM documents),
        |model AS (
        |  SELECT vt.t, l.m_lang,
        |    CAST(CAST(ln((COALESCE(c.c_lt, 0) + 1)
        |         / CAST(tt.c_l + vn.v AS DOUBLE)) AS DECIMAL(38,12))
        |      AS DOUBLE) AS lp
        |  FROM vt CROSS JOIN langs l
        |  LEFT JOIN counts c ON c.m_lang = l.m_lang AND c.t = vt.t
        |  JOIN totals tt ON tt.m_lang = l.m_lang
        |  CROSS JOIN vn),
        |priors AS (
        |  SELECT lang AS m_lang,
        |    CAST(CAST(ln(COUNT(*) /
        |         CAST((SELECT COUNT(*) FROM documents) AS DOUBLE))
        |         AS DECIMAL(38,12)) AS DOUBLE) AS lp_prior
        |  FROM documents GROUP BY 1),
        |scored AS (
        |  SELECT dt.doc_id, dt.lang, m.m_lang,
        |    CAST(CAST(SUM(CAST(CAST(m.lp AS VARCHAR) AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS ll
        |  FROM dt JOIN model m ON m.t = dt.t
        |  GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT doc_id, lang, m_lang,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY sc.ll + p.lp_prior DESC, m_lang) AS rk
        |  FROM scored sc JOIN priors p USING (m_lang))
        |SELECT lang AS actual, m_lang AS predicted, COUNT(*) AS n_docs
        |FROM pred WHERE rk = 1
        |GROUP BY 1, 2 ORDER BY actual, predicted""".stripMargin)),

    // Zipf's-law fit — the companion lexical law to h_heaps_vocab_growth:
    // ln(freq) on ln(rank) over the top-1000 tokens. The corpus work is
    // ONE token-keyed count; the top-1000 selection is a fused global
    // top-k (freq DESC, token tiebreak), and the rank window + OLS run
    // over those 1000 bounded rows. Same seam discipline as the Heaps
    // fit (1e-12 ln snaps, two-way-hopped scale-18 sums, hop-snapped
    // products, raw quotients); output = the top 20 tokens with the
    // fitted slope/intercept attached.
    Q("h_zipf_fit", (s, d) => {
      val dec12t = org.apache.spark.sql.types.DecimalType(38, 12)
      def snap12(c: org.apache.spark.sql.Column) =
        c.cast(dec12t).cast("double")
      def decSum18(c: org.apache.spark.sql.Column) =
        sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 18)))
          .cast("double")
      val freq = Io.table(s, d, "documents")
        .select(explode(toks).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("t")).limit(1000)
      val w = Window.orderBy(col("freq").desc, col("t"))
      // 1000 bounded rows — the unpartitioned rank window is
      // metadata-sized by construction (post-top-k)
      val pts = freq.withColumn("rank", row_number().over(w))
        .withColumn("x", snap12(log(col("rank").cast("double"))))
        .withColumn("y", snap12(log(col("freq").cast("double"))))
      // degenerate-fit guard (r12 sweep): single-point OLS (one distinct
      // token) zeroes the denominator — slope NULL on both engines
      val fit = pts.agg(count(lit(1)).as("np"),
          decSum18(col("x")).as("sx"), decSum18(col("y")).as("sy"),
          decSum18(snap12(col("x") * col("y"))).as("sxy"),
          decSum18(snap12(col("x") * col("x"))).as("sxx"))
        .select(col("np"), col("sx"), col("sy"), {
          val num = snap12(col("np") * col("sxy")) -
            snap12(col("sx") * col("sy"))
          val den = snap12(col("np") * col("sxx")) -
            snap12(col("sx") * col("sx"))
          when(den =!= 0.0, num / den).as("zipf_slope")
        })
        .select(col("zipf_slope"),
          ((col("sy") - snap12(col("zipf_slope") * col("sx"))) / col("np"))
            .as("zipf_lnc"))
      pts.filter(col("rank") <= 20)
        .crossJoin(broadcast(fit))
        .select(col("rank"), col("t").as("token"), col("freq"),
          col("zipf_slope"), col("zipf_lnc"))
        .orderBy("rank")
    }, Some({
      def hop(x: String) =
        s"CAST(CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE)" +
          s" ELSE $x END AS VARCHAR) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
      def s18(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18)))" +
          s" AS VARCHAR) AS DOUBLE)"
      s"""WITH freq AS (
         |  SELECT t, COUNT(*) AS freq FROM (
         |    SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
         |  GROUP BY t ORDER BY freq DESC, t LIMIT 1000),
         |pts AS (
         |  SELECT t, freq,
         |    ROW_NUMBER() OVER (ORDER BY freq DESC, t) AS rank
         |  FROM freq),
         |pxy AS (
         |  SELECT rank, t, freq,
         |    ${hop("LN(CAST(rank AS DOUBLE))")} AS x,
         |    ${hop("LN(CAST(freq AS DOUBLE))")} AS y
         |  FROM pts),
         |fit AS (
         |  SELECT COUNT(*) AS np, ${s18("x")} AS sx, ${s18("y")} AS sy,
         |    ${s18(hop("x * y"))} AS sxy, ${s18(hop("x * x"))} AS sxx
         |  FROM pxy),
         |b AS (
         |  SELECT np, sx, sy,
         |    CASE WHEN (${hop("np * sxx")} - ${hop("sx * sx")}) <> 0 THEN
         |      (${hop("np * sxy")} - ${hop("sx * sy")}) /
         |        (${hop("np * sxx")} - ${hop("sx * sx")}) END AS zipf_slope
         |  FROM fit),
         |c AS (SELECT zipf_slope,
         |        (sy - ${hop("zipf_slope * sx")}) / np AS zipf_lnc FROM b)
         |SELECT p.rank, p.t AS token, p.freq, c.zipf_slope, c.zipf_lnc
         |FROM pxy p CROSS JOIN c
         |WHERE p.rank <= 20 ORDER BY p.rank""".stripMargin
    })),

    // Heaps'-law vocabulary growth — the read that sizes a tokenizer
    // vocab budget: add sources in ingestion order (src0..srcN) and
    // report cumulative docs vs cumulative DISTINCT vocabulary, plus
    // the fitted Heaps exponent β from ln V = ln C + β·ln N over the
    // per-source points. The cumulative-distinct trap is dodged with
    // the first-occurrence decomposition: one (token)-keyed agg finds
    // each token's FIRST source, so V(k) is a prefix sum of a
    // |sources|-bounded census — no per-prefix distinct pass, no
    // re-scan per point. The OLS fit runs over those ≤|sources| rows:
    // ln terms snapped at 1e-12, exact DECIMAL(38,18) sums, every
    // product seam hop-snapped (fma-proof), slope/intercept emitted
    // raw (quotients of engine-identical operands — never snap a
    // quotient).
    Q("h_heaps_vocab_growth", (s, d) => {
      val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
      def snap12(c: org.apache.spark.sql.Column) =
        c.cast(dec12).cast("double")
      def decSum18(c: org.apache.spark.sql.Column) =
        sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 18)))
          .cast("double")
      val docs = Io.table(s, d, "documents")
        .withColumn("sn", expr("CAST(SUBSTR(source, 4) AS INT)"))
      val perSrc = docs.groupBy(col("sn")).agg(count(lit(1)).as("nd"))
      val firstSrc = docs.select(col("sn"), explode(toks).as("t"))
        .groupBy(col("t")).agg(min(col("sn")).as("fs"))
        .groupBy(col("fs").as("sn")).agg(count(lit(1)).as("nv"))
      val w = Window.orderBy(col("sn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // ≤|sources| rows — the unpartitioned prefix window is
      // metadata-sized by construction
      val pts = perSrc.join(firstSrc, Seq("sn"), "left")
        .select(col("sn"), col("nd"), coalesce(col("nv"), lit(0L)).as("nv"))
        .withColumn("cum_docs", sum(col("nd")).over(w))
        .withColumn("cum_vocab", sum(col("nv")).over(w))
        .withColumn("x", snap12(log(col("cum_docs").cast("double"))))
        .withColumn("y", snap12(log(col("cum_vocab").cast("double"))))
      // degenerate-fit guard (r12 sweep): a single point (np = 1, e.g.
      // a one-source corpus) zeroes the OLS denominator — the slope is
      // undefined, NULL on both engines (unguarded, ANSI Spark raises
      // where DuckDB's /0 yields NULL)
      val fit = pts.agg(count(lit(1)).as("np"),
          decSum18(col("x")).as("sx"), decSum18(col("y")).as("sy"),
          decSum18(snap12(col("x") * col("y"))).as("sxy"),
          decSum18(snap12(col("x") * col("x"))).as("sxx"))
        .select(col("np"), col("sx"), col("sy"), {
          val num = snap12(col("np") * col("sxy")) -
            snap12(col("sx") * col("sy"))
          val den = snap12(col("np") * col("sxx")) -
            snap12(col("sx") * col("sx"))
          when(den =!= 0.0, num / den).as("beta")
        })
        .select(col("beta"),
          ((col("sy") - snap12(col("beta") * col("sx"))) / col("np"))
            .as("lnc"))
      pts.crossJoin(broadcast(fit))
        .select(col("sn").as("src_num"), col("nd").as("n_docs"),
          col("nv").as("new_vocab"), col("cum_docs"), col("cum_vocab"),
          col("beta").as("heaps_beta"), col("lnc").as("heaps_lnc"))
        .orderBy("src_num")
    }, Some({
      def hop(x: String) =
        s"CAST(CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-13 THEN CAST(0 AS DOUBLE)" +
          s" ELSE $x END AS VARCHAR) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)"
      // two-way-hopped DECIMAL(38,18) sum: the saturated-vocab case
      // cancels the fit numerator to ~1e-12, so BOTH decimal seams must
      // replicate Spark exactly. In-hop: DuckDB's direct double→decimal
      // cast at scale 18 captures binary dust below the 1e-12 snap
      // (3.433987204485 → …84999…e-18 unscaled) where Spark's cast is
      // repr-based; out-hop: the direct decimal→double cast
      // double-rounds past 2^53 unscaled (sums ~100 are ~1e20). Both
      // VARCHAR trips are exact-digits + correctly-rounded-parse.
      def s18(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18)))" +
          s" AS VARCHAR) AS DOUBLE)"
      s"""WITH docs AS (
         |  SELECT CAST(SUBSTR(source, 4) AS INT) AS sn, text FROM documents),
         |ps AS (SELECT sn, COUNT(*) AS nd FROM docs GROUP BY 1),
         |fsrc AS (
         |  SELECT fs AS sn, COUNT(*) AS nv FROM (
         |    SELECT t, MIN(sn) AS fs FROM (
         |      SELECT sn, UNNEST(string_split(text, ' ')) AS t FROM docs)
         |    GROUP BY t)
         |  GROUP BY 1),
         |pts AS (
         |  SELECT p.sn, p.nd, COALESCE(f.nv, 0) AS nv,
         |    CAST(SUM(p.nd) OVER (ORDER BY p.sn
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_docs,
         |    CAST(SUM(COALESCE(f.nv, 0)) OVER (ORDER BY p.sn
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_vocab
         |  FROM ps p LEFT JOIN fsrc f USING (sn)),
         |pxy AS (
         |  SELECT sn, nd, nv, cum_docs, cum_vocab,
         |    ${hop("LN(CAST(cum_docs AS DOUBLE))")} AS x,
         |    ${hop("LN(CAST(cum_vocab AS DOUBLE))")} AS y
         |  FROM pts),
         |fit AS (
         |  SELECT COUNT(*) AS np, ${s18("x")} AS sx, ${s18("y")} AS sy,
         |    ${s18(hop("x * y"))} AS sxy, ${s18(hop("x * x"))} AS sxx
         |  FROM pxy),
         |b AS (
         |  SELECT np, sx, sy,
         |    CASE WHEN (${hop("np * sxx")} - ${hop("sx * sx")}) <> 0 THEN
         |      (${hop("np * sxy")} - ${hop("sx * sy")}) /
         |        (${hop("np * sxx")} - ${hop("sx * sx")}) END AS beta
         |  FROM fit),
         |c AS (SELECT beta, (sy - ${hop("beta * sx")}) / np AS lnc FROM b)
         |SELECT p.sn AS src_num, p.nd AS n_docs, p.nv AS new_vocab,
         |  p.cum_docs, p.cum_vocab, c.beta AS heaps_beta, c.lnc AS heaps_lnc
         |FROM pxy p CROSS JOIN c
         |ORDER BY p.sn""".stripMargin
    }))
  )

  /** Shared oracle CTE chain for the BPE family: words + 3 rounds of
    * (pair-count, argmax, merge, stats). */
  private def bpeSqlCtes: String = {
    def p(t: String, k: Int) =
      s"""p$k AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT regexp_extract_all(ws, '<([^<>]+)>', 1) AS syms, freq FROM $t),
         |       LATERAL UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |b$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |t$k AS (SELECT replace(ws, '<' || b$k.a || '><' || b$k.b || '>',
         |                       '<' || b$k.a || b$k.b || '>') AS ws, freq
         |        FROM $t, b$k),
         |s$k AS (SELECT CAST(SUM(freq * len(regexp_extract_all(ws, '<([^<>]+)>', 1)))
         |               AS BIGINT) AS total_symbols_after FROM t$k)"""
    s"""WITH words AS (
       |  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS ws, COUNT(*) AS freq
       |  FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |        FROM documents)
       |  GROUP BY 1),
       |${p("words", 1)},
       |${p("t1", 2)},
       |${p("t2", 3)}"""
  }

  private def bpeSyms = expr("regexp_extract_all(ws, '<([^<>]+)>', 1)")

  /** The 3-round BPE merge chain: per round the (winner, merged-table)
    * pair, every stage memoized AND materialized (each table is read by
    * the next round's pair count, the merge, and the stats — the PCA
    * lesson about nested re-evaluation; memoization shares the chain
    * between h_bpe_merges and h_bpe_tokenize the way a production
    * tokenizer-training job writes its vocab once). */
  private def bpeChain(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = {
    val words = bpeWords(s, d)
    def round(n: Int, t: org.apache.spark.sql.DataFrame) = {
      val b = Q.artifact(s, d, s"bpeB$n")(bpeBestPair(t))
      val m = Q.artifact(s, d, s"bpeT$n")(bpeApplyMerge(t, b))
      (b, m)
    }
    val (b1, t1) = round(1, words)
    val (b2, t2) = round(2, t1)
    val (b3, t3) = round(3, t2)
    Seq((b1, t1), (b2, t2), (b3, t3))
  }

  /** The one CORPUS-sized pass of BPE training: scan → word-frequency
    * hash aggregate → marker-delimited symbol strings, memoized and
    * materialized per corpus. */
  private[graft] def bpeWords(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Q.artifact(s, d, "bpeWords")(Io.table(s, d, "documents")
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("ws"), col("freq")))

  /** Argmax adjacent symbol pair by freq-weighted count, total-ordered
    * (cnt DESC, pair ASC) for a deterministic winner. Vocab-bounded. */
  private[graft] def bpeBestPair(
      t: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    t.select(col("freq"), bpeSyms.as("syms"))
      // single-symbol words contribute no pairs — and Spark's
      // sequence(1, 0) DESCENDS ([1,0]) rather than being empty,
      // so the guard is load-bearing, not cosmetic.
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "k -> struct(element_at(syms, k) AS a, element_at(syms, k + 1) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)

  /** Apply one learned merge: literal replace of '<a><b>' with '<ab>'
    * under a broadcast one-row scalar attach. */
  private def bpeApplyMerge(t: org.apache.spark.sql.DataFrame,
      bst: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    t.crossJoin(broadcast(bst))
      .select(org.apache.spark.sql.functions.replace(col("ws"),
        concat(lit("<"), col("a"), lit("><"), col("b"), lit(">")),
        concat(lit("<"), col("a"), col("b"), lit(">"))).as("ws"), col("freq"))
}
