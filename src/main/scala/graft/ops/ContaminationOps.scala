package graft.ops

import graft.io.Io
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data hygiene ops a pre-training pipeline runs corpus-wide:
  * benchmark-contamination detection (shingle overlap against an eval
  * set) and Gopher-style repetition filtering.
  *
  * Scale notes: the eval shingle set is tiny by construction (benchmarks
  * are MBs, the corpus is TBs) → broadcast it and the contamination scan
  * is map-side + one hash aggregate on doc_id; the repetition metrics
  * are explode → two partial-aggregated shuffles on (doc_id[, gram]).
  * Nothing here grows super-linearly with corpus size.
  */
object ContaminationOps {

  import Q.toks

  /** Deterministic round-to-nearest at 1e-6 via DECIMAL(38,6): plain
    * ROUND(double, 6) disagrees across engines on half-boundary rationals
    * (e.g. 1/128 = 0.0078125); the decimal cast is HALF_UP in both. */
  private def snap6(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(38, 6)).cast("double")
  // VARCHAR hop: see AnalyticsOps.dSnap6 — replicates Spark's repr-based rounding
  private def dSnap6(x: String) =
    s"CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-7 THEN CAST(0 AS DOUBLE) ELSE $x END" +
      s" AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE)"

  /** Distinct (doc_id, 5-gram) shingle table — memoized per corpus:
    * the contamination score and the pipeline verdict
    * (DedupOps.h_pipeline_verdict) both consume it, and a production
    * pipeline materializes the shingle index once. Native explode_ngrams
    * (one row per 5-gram, <5-token docs yield none); per-doc dedup is
    * the (doc_id, g) distinct, partial-aggregated before the shuffle;
    * the 1-file corpus scan is repartitioned so shingling uses every
    * core (no-op at real scale where the scan is parallel).
    */
  private[ops] def docShingles(s: SparkSession, d: String) =
    Q.artifact(s, d, "docShingles") {
      Io.table(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), expr("explode_ngrams(text, 5)").as("g"))
        .distinct()
    }

  val all: Seq[Q] = Seq(

    // Benchmark contamination: docs with doc_id % 97 = 0 stand in for the
    // eval set; every other doc is scored by the fraction of its distinct
    // 5-gram shingles that appear anywhere in the eval set. The eval
    // shingle dictionary is broadcast — at 100 TB the scan stays map-side
    // (no shuffle of the corpus against the benchmark). Shingles come
    // from the shared memoized table (docShingles).
    Q("h_contamination", (s, d) => {
      val sh = docShingles(s, d)
      val evalSet = sh.filter(col("doc_id") % 97 === 0)
        .select(col("g")).distinct().withColumn("hit", lit(1))
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalSet), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .select(col("doc_id"), col("n_shingles"), col("n_hits"),
          snap6(col("n_hits") / col("n_shingles")).as("contam_ratio"),
          (col("n_hits") / col("n_shingles") >= 0.05).as("contaminated"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH s AS (
         |  SELECT doc_id,
         |    UNNEST(list_distinct(list_transform(generate_series(1, len(toks) - 4),
         |           i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         |  WHERE len(toks) >= 5),
         |e AS (SELECT DISTINCT g FROM s WHERE doc_id % 97 = 0)
         |SELECT s.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  ${dSnap6("SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*)")} AS contam_ratio,
         |  SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*) >= 0.05 AS contaminated
         |FROM s LEFT JOIN e ON s.g = e.g
         |WHERE s.doc_id % 97 <> 0
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // Gopher-style repetition metrics: most-frequent-token ratio,
    // most-frequent-bigram ratio, and the weighted fraction of bigram
    // occurrences belonging to repeated bigrams; docs failing either
    // threshold are flagged. Two explode+agg pipelines joined on doc_id.
    Q("h_repetition_filter", (s, d) => {
      val t = toks
      val bigrams = zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b))
      val docs = Io.table(s, d, "documents")
      val tokStats = docs.select(col("doc_id"), explode(t).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tok"), max(col("cnt")).as("top_tok_cnt"))
      val bgStats = docs.select(col("doc_id"), explode(bigrams).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_bg"), max(col("cnt")).as("top_bg_cnt"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(0)).as("dup_bg"))
      val topTok = col("top_tok_cnt") / col("n_tok")
      val topBg = col("top_bg_cnt") / col("n_bg")
      val dupFrac = col("dup_bg") / col("n_bg")
      tokStats.join(bgStats, "doc_id")
        .select(col("doc_id"),
          snap6(topTok).as("top_tok_ratio"),
          snap6(topBg).as("top_bg_ratio"),
          snap6(dupFrac).as("dup_bg_frac"),
          (topTok < 0.12 && dupFrac < 0.5).as("keep"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH tf AS (
         |  SELECT doc_id, t.tok, COUNT(*) AS cnt
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |       LATERAL UNNEST(toks) AS t(tok)
         |  GROUP BY doc_id, t.tok),
         |ts AS (SELECT doc_id, SUM(cnt) AS n_tok, MAX(cnt) AS top_tok_cnt
         |       FROM tf GROUP BY doc_id),
         |bf AS (
         |  SELECT doc_id, b.bg, COUNT(*) AS cnt
         |  FROM (SELECT doc_id,
         |          list_transform(generate_series(1, len(toks) - 1),
         |                         i -> toks[i] || ' ' || toks[i + 1]) AS bgs
         |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         |       LATERAL UNNEST(bgs) AS b(bg)
         |  GROUP BY doc_id, b.bg),
         |bs AS (SELECT doc_id, SUM(cnt) AS n_bg, MAX(cnt) AS top_bg_cnt,
         |         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_bg
         |       FROM bf GROUP BY doc_id)
         |SELECT ts.doc_id,
         |  ${dSnap6("ts.top_tok_cnt / ts.n_tok")} AS top_tok_ratio,
         |  ${dSnap6("bs.top_bg_cnt / bs.n_bg")} AS top_bg_ratio,
         |  ${dSnap6("bs.dup_bg / bs.n_bg")} AS dup_bg_frac,
         |  (ts.top_tok_cnt / ts.n_tok < 0.12 AND bs.dup_bg / bs.n_bg < 0.5) AS keep
         |FROM ts JOIN bs ON ts.doc_id = bs.doc_id
         |ORDER BY ts.doc_id""".stripMargin)),

    // Per-document n-gram NOVELTY: the fraction of a doc's distinct
    // 5-gram shingles that occur in NO other document — the inverse
    // signal of near-duplication, used to up-weight genuinely novel
    // text in mixture recipes (a doc full of corpus-common shingles is
    // boilerplate even if no single near-dup partner exists, which is
    // exactly what pairwise dedup can't see). Reuses the memoized
    // (doc_id, 5-gram) shingle table; the document-frequency side is a
    // shingle-keyed partial-aggregated count — at 100 TB both shuffles
    // key on the shingle, and the df table is shingle-vocab-sized, so
    // nothing here is quadratic in docs or linear in the driver.
    Q("h_ngram_novelty", (s, d) => {
      val sh = docShingles(s, d)
      val df = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      sh.join(df, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1).otherwise(0)).as("n_unique"))
        .select(col("doc_id"), col("n_shingles"), col("n_unique"),
          snap6(col("n_unique") / col("n_shingles")).as("novelty_ratio"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH s AS (
         |  SELECT doc_id,
         |    UNNEST(list_distinct(list_transform(generate_series(1, len(toks) - 4),
         |           i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         |  WHERE len(toks) >= 5),
         |df AS (SELECT g, COUNT(*) AS df FROM s GROUP BY g)
         |SELECT s.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  ${dSnap6("SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) / COUNT(*)")} AS novelty_ratio
         |FROM s JOIN df ON s.g = df.g
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin))
  )
}
