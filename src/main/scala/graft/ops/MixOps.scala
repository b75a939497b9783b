package graft.ops

import graft.io.Io
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Corpus-composition operators of a pre-training data pipeline: rarity
  * (pseudo-perplexity) scoring with head/middle/tail bucketing (the
  * CCNet layout), deterministic stratified sampling, language-mixture
  * reweighting, and the corpus length histogram.
  *
  * Scale notes: every op here is one or two hash aggregates over the
  * corpus plus a broadcast of a language- or vocabulary-bounded side
  * table (5 langs / ≤64 tokens) — nothing grows super-linearly and no
  * shuffle carries more than the corpus once. Sampling is by
  * multiplicative hash of doc_id, not rand(): reproducible under
  * retries, task re-execution, and engine changes — the only sampling
  * discipline that survives a 100 TB run.
  */
object MixOps {

  import Q.toks

  /** Deterministic round-to-nearest at 1e-6 (HALF_UP in both engines —
    * plain ROUND(double, 6) disagrees on half-boundary rationals). */
  private def snap6(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(38, 6)).cast("double")
  // VARCHAR hop: see AnalyticsOps.dSnap6 — replicates Spark's repr-based rounding
  private def dSnap6(x: String) =
    s"CAST(CAST(CAST(CASE WHEN ABS($x) < 5e-7 THEN CAST(0 AS DOUBLE) ELSE $x END" +
      s" AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE)"

  /** Multiplicative doc_id hash in [0, 2^32) — the engine-independent
    * sampling coin shared with f_sample_hash, spelled once in Q.coin
    * (DECIMAL(38,0)-promoted: overflow-exact at any id scale). */
  private val coin = Q.coin("doc_id")

  val all: Seq[Q] = Seq(

    // CCNet-style rarity scoring: token rarity = -ln(corpus frequency),
    // per-doc score = mean token rarity, docs bucketed head(1)/middle(2)/
    // tail(3) per language by score. The frequency table is vocabulary-
    // bounded → broadcast; the whole op is two scans + one window.
    // Rarity snaps to DECIMAL(38,12) right after ln() (Java Math.log and
    // libm may differ in the last ulp) and the per-doc mean is an exact
    // decimal sum, so the bucket boundaries are engine-identical.
    Q("h_rarity_bucket", (s, d) => {
      val docs = Io.table(s, d, "documents")
      val tok = docs.select(col("doc_id"), col("lang"), explode(toks).as("token"))
      val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val tot = freq.agg(sum(col("cnt")).as("total"))
      val rar = freq.crossJoin(broadcast(tot))
        .select(col("token"),
          (-log(col("cnt") / col("total").cast("double")))
            .cast(DecimalType(38, 12)).cast("double").as("rarity"))
      val ds = tok.join(broadcast(rar), "token")
        .groupBy(col("doc_id"), col("lang"))
        .agg(snap6(sum(col("rarity").cast(DecimalType(38, 12))).cast("double")
          / count(lit(1))).as("score"))
      ds.withColumn("bucket", ntile(3).over(
          Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH tok AS (
         |  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS token
         |  FROM documents),
         |freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
         |rar AS (
         |  SELECT token,
         |    CAST(CAST(-ln(cnt / CAST(total AS DOUBLE)) AS DECIMAL(38,12)) AS DOUBLE) AS rarity
         |  FROM freq, tot),
         |ds AS (
         |  SELECT t.doc_id, t.lang,
         |    ${dSnap6("CAST(SUM(CAST(rarity AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)")} AS score
         |  FROM tok t JOIN rar USING (token)
         |  GROUP BY t.doc_id, t.lang)
         |SELECT doc_id, lang, score,
         |  CAST(NTILE(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS INT) AS bucket
         |FROM ds ORDER BY doc_id""".stripMargin)),

    // Deterministic stratified sample: up to 50 docs per language,
    // chosen by smallest multiplicative hash — reproducible "random"
    // without rand(). One window per stratum; at scale this is the
    // standard per-stratum top-N (rank + filter, partial top-N via
    // the window's running rank, never a global sort).
    Q("h_stratified_sample", (s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(expr(coin), col("doc_id"))
      Io.table(s, d, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
        .select(col("lang"), col("rn"), col("doc_id"), col("source"))
        .orderBy("lang", "rn")
    }, Some(
      s"""SELECT lang, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY lang ORDER BY $coin, doc_id) AS INT) AS rn,
         |  doc_id, source
         |FROM documents
         |QUALIFY rn <= 50 ORDER BY lang, rn""".stripMargin)),

    // Language-mixture reweighting toward a uniform 20% share: each
    // language's acceptance probability is min(1, target/current_share),
    // each doc flips the deterministic hash coin against it. Emits the
    // per-language plan (probability) and outcome (accepted count,
    // achieved share). The per-lang weight table is 5 rows → broadcast;
    // the corpus is scanned once.
    Q("h_mix_reweight", (s, d) => {
      val docs = Io.table(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("n_total"))
      val plan = counts.crossJoin(broadcast(tot))
        .withColumn("p_accept",
          least(lit(1.0), lit(0.2) / (col("n_docs") / col("n_total").cast("double"))))
        .withColumn("thr", floor(col("p_accept") * 4294967296.0).cast("long"))
      val acc = docs.join(broadcast(plan), "lang")
        .groupBy(col("lang"))
        .agg(first(col("n_docs")).as("n_docs"),
          first(col("p_accept")).as("p_accept"),
          sum(when(expr(coin) < col("thr"), 1L).otherwise(0L)).as("n_accepted"))
      acc.withColumn("achieved_share",
          snap6(col("n_accepted") / sum(col("n_accepted")).over(Window.partitionBy())))
        .select(col("lang"), col("n_docs"), snap6(col("p_accept")).as("p_accept"),
          col("n_accepted"), col("achieved_share"))
        .orderBy("lang")
    }, Some(
      s"""WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts),
         |plan AS (
         |  SELECT lang, n_docs,
         |    LEAST(CAST(1.0 AS DOUBLE), 0.2 / (n_docs / CAST(n_total AS DOUBLE))) AS p_accept,
         |    CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE), 0.2 / (n_docs / CAST(n_total AS DOUBLE)))
         |               * 4294967296.0) AS BIGINT) AS thr
         |  FROM counts, tot),
         |acc AS (
         |  SELECT d.lang, MIN(p.n_docs) AS n_docs, MIN(p.p_accept) AS p_accept,
         |    CAST(SUM(CASE WHEN $coin < p.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
         |  FROM documents d JOIN plan p USING (lang)
         |  GROUP BY d.lang)
         |SELECT lang, n_docs, ${dSnap6("p_accept")} AS p_accept, n_accepted,
         |  ${dSnap6("n_accepted / CAST(SUM(n_accepted) OVER () AS DOUBLE)")} AS achieved_share
         |FROM acc ORDER BY lang""".stripMargin)),

    // Temperature-based mixture weights — the standard multi-source LLM
    // data recipe (sampling probability ∝ n_i^τ, τ < 1 upweights rare
    // sources without the hard cap h_mix_reweight applies). τ = 0.5 so
    // the weight is SQRT — exactly rounded per IEEE-754 in both engines
    // (a general pow() would risk last-ulp libm divergence; sqrt cannot).
    // Each source's sqrt-weight snaps to DECIMAL(38,6) before the exact
    // decimal total (order-independent merge — the same Q.decSum
    // argument), and every reported ratio is one double division of
    // those exact inputs. `repeat_factor` = temp_share · n_total / n_i
    // is the per-source oversampling rate a sampler must apply (>1 for
    // rare sources = epochs repeated, <1 for dominant ones). Scale: one
    // hash aggregate over the corpus + arithmetic on the source-count
    // table (catalog-sized); the plan a 100 TB mixture scheduler runs
    // nightly.
    Q("h_mix_temperature", (s, d) => {
      val counts = Io.table(s, d, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("n_total"),
        sum(sqrt(col("n_docs")).cast(DecimalType(38, 6))).as("w_total"))
      counts.crossJoin(broadcast(tot))
        .withColumn("w", sqrt(col("n_docs")).cast(DecimalType(38, 6)).cast("double"))
        .withColumn("temp_share_raw", col("w") / col("w_total").cast("double"))
        .select(col("source"), col("n_docs"),
          snap6(col("n_docs") / col("n_total").cast("double")).as("natural_share"),
          snap6(col("temp_share_raw")).as("temp_share"),
          snap6(col("temp_share_raw") * col("n_total") / col("n_docs"))
            .as("repeat_factor"))
        .orderBy("source")
    }, Some(
      s"""WITH counts AS (SELECT source, COUNT(*) AS n_docs
         |               FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         |               SUM(CAST(SQRT(n_docs) AS DECIMAL(38,6))) AS w_total
         |        FROM counts)
         |SELECT source, n_docs,
         |  ${dSnap6("n_docs / CAST(n_total AS DOUBLE)")} AS natural_share,
         |  ${dSnap6("CAST(CAST(SQRT(n_docs) AS DECIMAL(38,6)) AS DOUBLE) / CAST(w_total AS DOUBLE)")} AS temp_share,
         |  ${dSnap6("CAST(CAST(SQRT(n_docs) AS DECIMAL(38,6)) AS DOUBLE) / CAST(w_total AS DOUBLE) * n_total / n_docs")} AS repeat_factor
         |FROM counts, tot ORDER BY source""".stripMargin)),

    // Deterministic stratified train/val/test split: the hash coin mod
    // 100 buckets each doc 90/5/5 within its language — reproducible
    // assignment with zero cross-split leakage by construction (a doc's
    // split is a pure function of its id). Emits the per-(lang, split)
    // census. One scan + one hash aggregate.
    Q("h_split_assign", (s, d) => {
      val split3 = when(expr(s"$coin % 100") < 90, "train")
        .when(expr(s"$coin % 100") < 95, "val")
        .otherwise("test")
      val docs = Io.table(s, d, "documents")
      docs.withColumn("split", split3)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("lang_share", snap6(col("n_docs") /
          sum(col("n_docs")).over(Window.partitionBy(col("lang")))))
        .orderBy("lang", "split")
    }, Some(
      s"""WITH a AS (
         |  SELECT lang,
         |    CASE WHEN $coin % 100 < 90 THEN 'train'
         |         WHEN $coin % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT lang, split, COUNT(*) AS n_docs,
         |  ${dSnap6("COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang) AS DOUBLE)")}
         |    AS lang_share
         |FROM a GROUP BY lang, split ORDER BY lang, split""".stripMargin)),

    // Contrastive negative sampling: each anchor doc takes the next two
    // docs of its language in deterministic hash order as negatives —
    // reproducible, uniformly "random" w.r.t. content, and one window
    // per language shard (no self-join, no rand()). Tail anchors keep
    // NULL negatives rather than wrapping.
    Q("h_negative_pairs", (s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(expr(coin), col("doc_id"))
      Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          lead(col("doc_id"), 1).over(w).as("neg1"),
          lead(col("doc_id"), 2).over(w).as("neg2"))
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id, lang,
         |  LEAD(doc_id, 1) OVER (PARTITION BY lang ORDER BY $coin, doc_id) AS neg1,
         |  LEAD(doc_id, 2) OVER (PARTITION BY lang ORDER BY $coin, doc_id) AS neg2
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // Sequence packing: concatenate docs (in doc_id order, per language
    // shard) into training sequences of ~2048 tokens — seq boundary =
    // running token total div 2048, the standard document-concatenation
    // layout. Emits per-sequence doc/token counts. The running sum is a
    // per-shard window (each language packs independently), so the 100
    // TB form partitions by shard and never needs a global sort.
    Q("h_pack_sequences", (s, d) => {
      val n = size(toks).cast("long")
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"), n.as("n_tok"))
        .withColumn("seq", ((sum(col("n_tok")).over(w) - col("n_tok")) / 2048L)
          .cast("long"))
        .groupBy(col("lang"), col("seq"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "seq")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_tok,
        |    CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |            ROWS UNBOUNDED PRECEDING) - n_tok) // 2048 AS BIGINT) AS seq
        |  FROM t)
        |SELECT lang, seq, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM r GROUP BY lang, seq ORDER BY lang, seq""".stripMargin)),

    // Provenance census: per-source document/token counts, language
    // spread, and the within-source exact-duplicate count (docs minus
    // distinct content hashes) — the first question asked of any new
    // crawl source. One scan, one hash aggregate.
    // k-anonymity census over quasi-identifiers (lang, source, 100-char
    // length bucket): the release-safety read a privacy review runs —
    // how many QI equivalence classes fall below k=5, how many docs a
    // strict suppression policy would drop, and whether the corpus is
    // k-anonymous as-is. One hash-agg to class counts (partial-
    // aggregated scan) + one bounded aggregate over the class table —
    // the class table is QI-cardinality-sized, never corpus-sized.
    // suppression_rate is a raw-double quotient of exact integers
    // (engine-identical; snapping quotients risks the DuckDB midpoint
    // cast).
    Q("h_k_anonymity", (s, d) => {
      val g = Io.table(s, d, "documents")
        .withColumn("len_bucket",
          least(floor(col("n_chars") / 100).cast("int"), lit(9)))
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("grp_n"))
      g.agg(count(lit(1)).as("n_groups"),
          sum(col("grp_n")).as("n_docs"),
          sum(when(col("grp_n") < 5, 1).otherwise(0)).as("n_small_groups"),
          sum(when(col("grp_n") < 5, col("grp_n")).otherwise(0))
            .as("n_suppressed"),
          min(col("grp_n")).as("min_group"))
        .select(col("n_groups"), col("n_docs"), col("n_small_groups"),
          col("n_suppressed"), col("min_group"),
          (col("min_group") >= 5).as("k5_anonymous"),
          (col("n_suppressed") / col("n_docs")).as("suppression_rate"))
    }, Some(
      """WITH g AS (
        |  SELECT lang, source, LEAST(CAST(FLOOR(n_chars / 100) AS INT), 9)
        |      AS len_bucket,
        |    COUNT(*) AS grp_n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT COUNT(*) AS n_groups,
        |  CAST(SUM(grp_n) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_groups,
        |  CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
        |    AS n_suppressed,
        |  MIN(grp_n) AS min_group,
        |  MIN(grp_n) >= 5 AS k5_anonymous,
        |  CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
        |    / CAST(SUM(grp_n) AS BIGINT) AS suppression_rate
        |FROM g""".stripMargin)),

    // l-diversity audit (Machanavajjhala et al.) — the complement of
    // h_k_anonymity: a group can be k-large and still leak its
    // sensitive attribute if every member shares one value. Same
    // quasi-identifiers minus the sensitive column (lang, len_bucket);
    // sensitive attribute = source; per-group distinct-l computed with
    // NO distinct buffer (group by (qi, source) first, then count the
    // rows — two keyed hash aggs, partial-combined map-side). At
    // 100 TB both shuffles key on the quasi-identifier domain.
    Q("h_l_diversity", (s, d) => {
      val per = Io.table(s, d, "documents")
        .withColumn("len_bucket",
          least(floor(col("n_chars") / 100).cast("int"), lit(9)))
        .groupBy(col("lang"), col("len_bucket"), col("source"))
        .agg(count(lit(1)).as("n"))
      val g = per.groupBy(col("lang"), col("len_bucket"))
        .agg(count(lit(1)).as("l"), sum(col("n")).as("grp_n"))
      g.agg(count(lit(1)).as("n_groups"),
          min(col("l")).as("min_l"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_groups_low_l"),
          sum(when(col("l") < 3, col("grp_n")).otherwise(0L)).as("n_docs_at_risk"))
        .select(col("n_groups"), col("min_l"), col("n_groups_low_l"),
          col("n_docs_at_risk"), (col("min_l") >= 3).as("l3_diverse"))
    }, Some(
      """WITH per AS (
        |  SELECT lang, LEAST(CAST(FLOOR(n_chars / 100) AS INT), 9) AS len_bucket,
        |    source, COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT lang, len_bucket, COUNT(*) AS l, CAST(SUM(n) AS BIGINT) AS grp_n
        |  FROM per GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_groups, MIN(l) AS min_l,
        |  CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_low_l,
        |  CAST(SUM(CASE WHEN l < 3 THEN grp_n ELSE 0 END) AS BIGINT)
        |    AS n_docs_at_risk,
        |  MIN(l) >= 3 AS l3_diverse
        |FROM g""".stripMargin)),

    // t-closeness audit (Li et al. ICDE'07) — the third of the privacy
    // trio: a group can be k-large AND l-diverse yet still leak if its
    // sensitive-value DISTRIBUTION diverges from the corpus-wide one.
    // Distance here is total variation (the categorical ground-distance
    // EMD): ½·Σ_src |p_group(src) − p_global(src)|, over the FULL
    // (group × source) grid so absent sources contribute their global
    // mass. Parity: every p is a BIGINT/BIGINT double quotient
    // (bit-identical), the Σ runs in DECIMAL(38,12) (order-free), and
    // ½·x is an exact scale. Scale: two keyed aggs + a grid join of
    // group cardinality × |sources| (domain-sized, broadcast glob).
    Q("h_t_closeness", (s, d) => {
      val docs = Io.table(s, d, "documents")
        .withColumn("len_bucket",
          least(floor(col("n_chars") / 100).cast("int"), lit(9)))
      val per = docs.groupBy(col("lang"), col("len_bucket"), col("source"))
        .agg(count(lit(1)).as("n"))
      val grp = per.groupBy(col("lang"), col("len_bucket"))
        .agg(sum(col("n")).as("grp_n"))
      val glob = docs.groupBy(col("source")).agg(count(lit(1)).as("g"))
      val tot = docs.agg(count(lit(1)).as("t"))
      val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
      grp.crossJoin(broadcast(glob)).crossJoin(broadcast(tot))
        .join(per, Seq("lang", "len_bucket", "source"), "left")
        .withColumn("diff",
          abs(coalesce(col("n"), lit(0L)) / col("grp_n") - col("g") / col("t")))
        .groupBy(col("lang"), col("len_bucket"), col("grp_n"))
        .agg((lit(0.5) * sum(col("diff").cast(dec12)).cast("double")).as("tv_dist"))
        .select(col("lang"), col("len_bucket"), col("grp_n"), col("tv_dist"),
          (col("tv_dist") <= 0.3).as("t03_close"))
        .orderBy("lang", "len_bucket")
    }, Some(
      """WITH d AS (
        |  SELECT lang, LEAST(CAST(FLOOR(n_chars / 100) AS INT), 9) AS len_bucket,
        |    source
        |  FROM documents),
        |per AS (SELECT lang, len_bucket, source, COUNT(*) AS n
        |        FROM d GROUP BY 1, 2, 3),
        |grp AS (SELECT lang, len_bucket, CAST(SUM(n) AS BIGINT) AS grp_n
        |        FROM per GROUP BY 1, 2),
        |gl AS (SELECT source, COUNT(*) AS g FROM d GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS t FROM d),
        |j AS (
        |  SELECT grp.lang, grp.len_bucket, grp.grp_n,
        |    ABS(COALESCE(per.n, 0) / CAST(grp.grp_n AS DOUBLE)
        |        - gl.g / CAST(tot.t AS DOUBLE)) AS diff
        |  FROM grp CROSS JOIN gl CROSS JOIN tot
        |  LEFT JOIN per ON per.lang = grp.lang
        |    AND per.len_bucket = grp.len_bucket AND per.source = gl.source)
        |SELECT lang, len_bucket, grp_n,
        |  0.5 * CAST(SUM(CAST(diff AS DECIMAL(38,12))) AS DOUBLE) AS tv_dist,
        |  0.5 * CAST(SUM(CAST(diff AS DECIMAL(38,12))) AS DOUBLE) <= 0.3
        |    AS t03_close
        |FROM j GROUP BY 1, 2, 3 ORDER BY lang, len_bucket""".stripMargin)),

    Q("h_source_census", (s, d) => {
      Io.table(s, d, "documents")
        .select(col("source"), col("lang"),
          size(toks).cast("long").as("n_tok"),
          sha2(trim(lower(col("text"))), 256).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"))
        .orderBy("source")
    }, Some(
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(COUNT(*) - COUNT(DISTINCT sha256(TRIM(LOWER(text)))) AS BIGINT)
        |    AS n_exact_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Cross-source duplication overlap: for every source pair, how many
    // doc pairs share an identical distinct-token set (the node-
    // contraction criterion of the dedup family) — which sources copy
    // from each other. The join key is a digest of the sorted token
    // set, so candidate grouping is ONE shuffle on the digest; pairs
    // only form inside a digest bucket (bounded by per-set duplicate
    // count), never across the corpus.
    Q("h_source_overlap", (s, d) => {
      val key = sha2(concat_ws(" ", sort_array(array_distinct(toks))), 256)
      val t = Io.table(s, d, "documents")
        .select(col("doc_id"), col("source"), key.as("k"))
      val a = t.select(col("k"), col("doc_id").as("id_a"), col("source").as("source_a"))
      val b = t.select(col("k"), col("doc_id").as("id_b"), col("source").as("source_b"))
      a.join(b, "k")
        .filter(col("id_a") < col("id_b") && col("source_a") =!= col("source_b"))
        .groupBy(least(col("source_a"), col("source_b")).as("src1"),
          greatest(col("source_a"), col("source_b")).as("src2"))
        .agg(count(lit(1)).as("n_shared_pairs"))
        .orderBy("src1", "src2")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, source,
        |    sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS k
        |  FROM documents)
        |SELECT LEAST(a.source, b.source) AS src1,
        |  GREATEST(a.source, b.source) AS src2,
        |  COUNT(*) AS n_shared_pairs
        |FROM t a JOIN t b ON a.k = b.k AND a.doc_id < b.doc_id
        |                 AND a.source <> b.source
        |GROUP BY src1, src2 ORDER BY src1, src2""".stripMargin)),

    // Tokenizer-vocabulary coverage: fix the vocab at the corpus's
    // top-16 tokens by frequency (count desc, token asc — a stand-in
    // for a real tokenizer's vocab list) and score every doc's
    // out-of-vocabulary occurrence rate. The vocab is bounded →
    // broadcast; the scan is one explode + hash aggregate. High-OOV
    // docs are what a tokenizer-aware quality filter drops first.
    Q("h_oov_rate", (s, d) => {
      val tok = Io.table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("token"))
      val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(16)
        .select(col("token"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tok"), col("n_oov"),
          snap6(col("n_oov") / col("n_tok")).as("oov_rate"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH tok AS (
         |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
         |vocab AS (
         |  SELECT token FROM tok GROUP BY token
         |  ORDER BY COUNT(*) DESC, token LIMIT 16)
         |SELECT t.doc_id, COUNT(*) AS n_tok,
         |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  ${dSnap6("SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)")}
         |    AS oov_rate
         |FROM tok t LEFT JOIN vocab v USING (token)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // Per-doc token entropy (−Σ p·log₂p over within-doc token
    // frequencies): low entropy = repetitive/templated text, a standard
    // quality-filter signal next to the repetition ratios
    // (h_repetition_filter). Two hash aggregates on (doc, token) →
    // (doc); per-term entropy snaps to DECIMAL(38,12) after log2 (last-
    // ulp safety, same discipline as h_rarity_bucket) and the per-doc
    // sum is an exact decimal sum.
    Q("h_token_entropy", (s, d) => {
      val tok = Io.table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
      tf.withColumn("term",
          (-(col("cnt") / col("n").cast("double"))
            * log2(col("cnt") / col("n").cast("double")))
            .cast(DecimalType(38, 12)))
        .groupBy(col("doc_id"))
        .agg(snap6(sum(col("term")).cast("double")).as("entropy"),
          countDistinct(col("token")).as("n_types"),
          first(col("n")).as("n_tok"))
        .select(col("doc_id"), col("n_tok"), col("n_types"), col("entropy"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH tf AS (
         |  SELECT doc_id, token, COUNT(*) AS cnt
         |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
         |        FROM documents)
         |  GROUP BY doc_id, token),
         |tn AS (
         |  SELECT doc_id, token, cnt, SUM(cnt) OVER (PARTITION BY doc_id) AS n
         |  FROM tf)
         |SELECT doc_id, CAST(MIN(n) AS BIGINT) AS n_tok,
         |  CAST(COUNT(*) AS BIGINT) AS n_types,
         |  ${dSnap6("CAST(SUM(CAST(-(cnt / CAST(n AS DOUBLE)) * log2(cnt / CAST(n AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE)")}
         |    AS entropy
         |FROM tn GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Composite quality gate: the signals a corpus filter actually
    // combines — token entropy, top-token repetition ratio, and OOV
    // rate against the top-16 vocab — computed in ONE token-level
    // pipeline (per-(doc, token) counts + broadcast vocab join + one
    // doc-level aggregate), not one pass per signal. The verdict
    // thresholds are illustrative; the shape is the point: at 100 TB
    // this is two map-reduce rounds over the corpus, the vocab side is
    // bounded + broadcast, and every signal shares the same shuffle.
    Q("h_quality_gate", (s, d) => {
      val tok = Io.table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("token"))
      val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(16)
        .select(col("token"), lit(1).as("in_vocab"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .join(broadcast(vocab), Seq("token"), "left")
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
      val p = col("cnt") / col("n").cast("double")
      val scored = tf
        .withColumn("term", (-p * log2(p)).cast(DecimalType(38, 12)))
        .groupBy(col("doc_id"))
        .agg(first(col("n")).as("n_tok"),
          snap6(sum(col("term")).cast("double")).as("entropy"),
          snap6(max(col("cnt")) / first(col("n")).cast("double")).as("top_tok_ratio"),
          snap6(sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L))
            / first(col("n")).cast("double")).as("oov_rate"))
      scored.select(col("doc_id"), col("n_tok"), col("entropy"),
          col("top_tok_ratio"), col("oov_rate"),
          (col("entropy") > 4.0 && col("top_tok_ratio") < 0.10
            && col("oov_rate") < 0.55).as("keep"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH tok AS (
         |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
         |vocab AS (
         |  SELECT token FROM tok GROUP BY token
         |  ORDER BY COUNT(*) DESC, token LIMIT 16),
         |tf AS (
         |  SELECT t.doc_id, t.token, COUNT(*) AS cnt,
         |    MAX(CASE WHEN v.token IS NOT NULL THEN 1 END) AS in_vocab
         |  FROM tok t LEFT JOIN vocab v USING (token)
         |  GROUP BY t.doc_id, t.token),
         |tn AS (
         |  SELECT doc_id, token, cnt, in_vocab,
         |    SUM(cnt) OVER (PARTITION BY doc_id) AS n
         |  FROM tf),
         |scored AS (
         |  SELECT doc_id, CAST(MIN(n) AS BIGINT) AS n_tok,
         |    ${dSnap6("CAST(SUM(CAST(-(cnt / CAST(n AS DOUBLE)) * log2(cnt / CAST(n AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE)")}
         |      AS entropy,
         |    ${dSnap6("MAX(cnt) / CAST(MIN(n) AS DOUBLE)")} AS top_tok_ratio,
         |    ${dSnap6("SUM(CASE WHEN in_vocab IS NULL THEN cnt ELSE 0 END) / CAST(MIN(n) AS DOUBLE)")}
         |      AS oov_rate
         |  FROM tn GROUP BY doc_id)
         |SELECT doc_id, n_tok, entropy, top_tok_ratio, oov_rate,
         |  (entropy > 4.0 AND top_tok_ratio < 0.10 AND oov_rate < 0.55) AS keep
         |FROM scored ORDER BY doc_id""".stripMargin)),

    // Corpus length histogram: token counts in width-10 buckets with doc
    // share — the composition dashboard's first panel. One hash
    // aggregate; bucket cardinality is bounded by max doc length.
    Q("h_len_histogram", (s, d) => {
      val n = size(toks).cast("long")
      Io.table(s, d, "documents")
        .select(((n / 10).cast("long") * 10).cast("int").as("bucket"), n.as("n_tok"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tot_tokens"))
        .withColumn("doc_share",
          snap6(col("n_docs") / sum(col("n_docs")).over(Window.partitionBy())))
        .orderBy("bucket")
    }, Some(
      s"""SELECT CAST(len(string_split(text, ' ')) // 10 * 10 AS INT) AS bucket,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot_tokens,
         |  ${dSnap6("COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE)")} AS doc_share
         |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Per-language quantile gate: keep a doc iff its quality score
    // (h_quality_score's formula) reaches its language's p75 — the
    // relative-threshold filter a multilingual corpus needs (an
    // absolute cut would empty low-resource languages). The threshold
    // is the DISCRETE p75 (smallest member value with cume_dist ≥
    // 0.75): an actual member of the snapped-score set, so it is
    // engine-identical by construction — interpolated percentiles
    // differ across engines by 1 ulp and can land on a 1e-6 half
    // boundary (seen at sf0.001). Thresholds are one language-keyed
    // window + aggregate, broadcast back over the corpus: one shuffle
    // on lang + one map-side join at any scale.
    Q("h_quality_quantile", (s, d) => {
      val rt = toks
      val nTok = size(rt).cast("double")
      val q = (lit(0.3) * (size(array_distinct(rt)) / nTok) +
        lit(0.4) * (lit(1.0) - size(filter(rt, x => x === "the" || x === "a")) / nTok) +
        lit(0.3) * least(nTok / 100.0, lit(1.0)))
        .cast(DecimalType(38, 6)).cast("double")
      val scored = Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"), q.as("quality"))
      val thr = scored
        .withColumn("cd", cume_dist().over(
          Window.partitionBy(col("lang")).orderBy(col("quality"))))
        .filter(col("cd") >= 0.75)
        .groupBy(col("lang")).agg(min(col("quality")).as("lang_p75"))
      scored.join(broadcast(thr), "lang")
        .select(col("doc_id"), col("lang"), col("quality"),
          col("lang_p75"),
          (col("quality") >= col("lang_p75")).as("keep"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH m AS (
         |  SELECT doc_id, lang,
         |    ${dSnap6("0.3 * (len(list_distinct(rt)) / CAST(len(rt) AS DOUBLE)) " +
             "+ 0.4 * (1.0 - len(list_filter(rt, x -> x = 'the' OR x = 'a')) " +
             "/ CAST(len(rt) AS DOUBLE)) + 0.3 * LEAST(len(rt) / 100.0, 1.0)")} AS quality
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS rt FROM documents)),
         |cd AS (SELECT lang, quality,
         |         CUME_DIST() OVER (PARTITION BY lang ORDER BY quality) AS cd
         |       FROM m),
         |thr AS (SELECT lang, MIN(quality) AS lang_p75
         |        FROM cd WHERE cd >= 0.75 GROUP BY lang)
         |SELECT m.doc_id, m.lang, m.quality, thr.lang_p75,
         |  m.quality >= thr.lang_p75 AS keep
         |FROM m JOIN thr USING (lang) ORDER BY m.doc_id""".stripMargin)),

    // Data-constrained epoch planning — the waterfilling allocator a
    // token-budgeted training run needs (Muennighoff et al.'s
    // repeat-vs-unique regime): give each source a temperature-target
    // share (w ∝ √tokens — IEEE sqrt, bit-identical cross-engine) of a
    // T = 2×corpus token budget, subject to a ≤2.05-epoch repetition cap
    // per source (tokens·2 + tokens÷20, integer-exact — tight enough
    // that the small, temperature-boosted sources BIND and their excess
    // redistributes to the rest, so both waterfilling branches are
    // live on this corpus). EXACT waterfilling, no iteration: sort sources by
    // cap/w, prefix-sum caps and weights (|sources|-bounded windows),
    // and the unique binding prefix k* satisfies r_k ≤ λ(k) < r_{k+1}
    // with λ(k) = (T − Σ_{i≤k}cap)/(W − Σ_{i≤k}w) — closed form, found
    // relationally. Caps/budgets are BIGINT; weights are
    // DECIMAL(38,6)-snapped sqrts summed exactly; λ and the unbound
    // allocations are arithmetic over engine-identical values.
    Q("h_epoch_plan", (s, d) => {
      val base0 = Io.table(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(size(toks)).as("tokens"))
        .select(col("source"), col("tokens"),
          (col("tokens") * 2 + expr("tokens DIV 20")).as("cap"),
          sqrt(col("tokens").cast("double")).cast(DecimalType(38, 6))
            .as("w6"))
        .withColumn("r", col("cap").cast("double") /
          col("w6").cast("double"))
      val tot = base0.agg(sum(col("tokens")).as("c_total"),
        sum(col("w6")).as("w_total"), count(lit(1)).as("ns"))
      val wk = Window.orderBy(col("r"), col("source"))
      val wcum = Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // |sources|-bounded rank/prefix windows (post-aggregation)
      val sorted = base0.withColumn("k", row_number().over(wk))
      val pre = sorted
        .withColumn("cumcap", sum(col("cap")).over(wcum))
        .withColumn("cumw", sum(col("w6")).over(wcum))
        .select(col("k"), col("r"), col("cumcap"), col("cumw"))
      val cand = pre.union(s.range(1).select(lit(0L).cast("int").as("k"),
        lit(null).cast("double").as("r"), lit(0L).as("cumcap"),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 6)).as("cumw")))
      val lamT = cand.crossJoin(broadcast(tot))
        .filter(col("k") < col("ns"))
        .withColumn("lam",
          ((lit(2L) * col("c_total") - col("cumcap")).cast("double")) /
            (col("w_total") - col("cumw")).cast("double"))
      val nextR = sorted.select((col("k") - 1).as("k"), col("r").as("r_next"))
      val lamStar = lamT.join(nextR, Seq("k"), "left")
        .filter((col("k") === 0 || col("r") <= col("lam")) &&
          (col("r_next").isNull || col("r_next") > col("lam")))
        .agg(expr("min_by(lam, k)").as("lam"))
      base0.crossJoin(broadcast(lamStar))
        .crossJoin(broadcast(tot.select(col("c_total"))))
        .select(col("source"), col("tokens"), col("cap"),
          (col("r") <= col("lam")).as("cap_bound"),
          snap6(when(col("r") <= col("lam"), col("cap").cast("double"))
            .otherwise(col("w6").cast("double") * col("lam")))
            .as("alloc_tokens"),
          snap6(when(col("r") <= col("lam"),
            col("cap").cast("double") / col("tokens"))
            .otherwise(col("w6").cast("double") * col("lam") /
              col("tokens"))).as("epochs"))
        .orderBy("source")
    }, Some(
      s"""WITH base AS (
         |  SELECT source, tokens, tokens * 2 + tokens // 20 AS cap, w6,
         |    CAST(cap AS DOUBLE) / CAST(w6 AS DOUBLE) AS r
         |  FROM (SELECT source,
         |          CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |            AS tokens,
         |          CAST(SQRT(CAST(SUM(len(string_split(text, ' ')))
         |            AS DOUBLE)) AS DECIMAL(38,6)) AS w6
         |        FROM documents GROUP BY source)),
         |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS c_total,
         |               SUM(w6) AS w_total, COUNT(*) AS ns FROM base),
         |sorted AS (
         |  SELECT source, tokens, cap, w6, r,
         |    ROW_NUMBER() OVER (ORDER BY r, source) AS k
         |  FROM base),
         |pre AS (
         |  SELECT k, r,
         |    CAST(SUM(cap) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cumcap,
         |    SUM(w6) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
         |  FROM sorted),
         |cand AS (
         |  SELECT k, r, cumcap, cumw FROM pre
         |  UNION ALL
         |  SELECT 0, NULL, 0, CAST(0 AS DECIMAL(38,6))),
         |lamt AS (
         |  SELECT c.k, c.r,
         |    CAST(2 * t.c_total - c.cumcap AS DOUBLE) /
         |      CAST(t.w_total - c.cumw AS DOUBLE) AS lam
         |  FROM cand c CROSS JOIN tot t WHERE c.k < t.ns),
         |star AS (
         |  SELECT MIN_BY(l.lam, l.k) AS lam
         |  FROM lamt l LEFT JOIN sorted s1 ON s1.k = l.k + 1
         |  WHERE (l.k = 0 OR l.r <= l.lam)
         |    AND (s1.k IS NULL OR s1.r > l.lam))
         |SELECT b.source, b.tokens, b.cap,
         |  b.r <= st.lam AS cap_bound,
         |  ${dSnap6("CASE WHEN b.r <= st.lam THEN CAST(b.cap AS DOUBLE) " +
             "ELSE CAST(b.w6 AS DOUBLE) * st.lam END")} AS alloc_tokens,
         |  ${dSnap6("CASE WHEN b.r <= st.lam THEN CAST(b.cap AS DOUBLE) / b.tokens " +
             "ELSE CAST(b.w6 AS DOUBLE) * st.lam / b.tokens END")} AS epochs
         |FROM base b CROSS JOIN star st
         |ORDER BY b.source""".stripMargin)),

    // Deterministic curriculum ordering — the training-order builder
    // that feeds packed batches: quality-descending WITHIN each source,
    // round-robin ACROSS sources (any prefix of the order holds each
    // source's count within ±1, so early training never over-samples
    // one crawl). Pure integer machinery: one source-keyed rank window
    // + a total order on (round, source) — no shuffle beyond the rank's
    // source exchange at any scale; the first 100 slots are the checked
    // sample (WindowGroupLimit-friendly). Quality is the proven
    // 1e-6-snapped expression.
    Q("h_curriculum_interleave", (s, d) => {
      val rt = toks
      val nTok = size(rt).cast("double")
      val q = (lit(0.3) * (size(array_distinct(rt)) / nTok) +
        lit(0.4) * (lit(1.0) - size(filter(rt, x => x === "the" || x === "a")) / nTok) +
        lit(0.3) * least(nTok / 100.0, lit(1.0)))
        .cast(DecimalType(38, 6)).cast("double")
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      Io.table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          expr("CAST(SUBSTR(source, 4) AS INT)").as("src_num"),
          q.as("quality"))
        .withColumn("round", row_number().over(wSrc))
        .orderBy(col("round"), col("src_num"))
        .limit(100)
        .select(col("round"), col("src_num"), col("doc_id"), col("quality"))
    }, Some(
      s"""WITH m AS (
         |  SELECT doc_id, source, CAST(SUBSTR(source, 4) AS INT) AS src_num,
         |    ${dSnap6("0.3 * (len(list_distinct(rt)) / CAST(len(rt) AS DOUBLE)) " +
             "+ 0.4 * (1.0 - len(list_filter(rt, x -> x = 'the' OR x = 'a')) " +
             "/ CAST(len(rt) AS DOUBLE)) + 0.3 * LEAST(len(rt) / 100.0, 1.0)")} AS quality
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS rt
         |        FROM documents)),
         |r AS (
         |  SELECT doc_id, src_num, quality,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS round
         |  FROM m)
         |SELECT round, src_num, doc_id, quality
         |FROM r ORDER BY round, src_num LIMIT 100""".stripMargin)),

    // Cross-source quantile normalization of the quality score — the
    // fix for per-source scorer bias before mixing (one crawl's scorer
    // runs hot, another cold; absolute thresholds then skew the mix):
    // map each doc's WITHIN-SOURCE quality rank onto the GLOBAL quality
    // distribution, so every source contributes the same quality
    // profile. Integer spine end-to-end: within-source rank r (keyed
    // window), global rank table from Q.prefixScan, and the rank map
    // target = 1 + ⌊(r−1)(N−1)/(n_s−1)⌋ in pure int64; the
    // normalized score is a VALUE COPIED from the global table (no
    // interpolation — engine-identical because the 1e-6-snapped quality
    // expression is, proven by h_quality_quantile). One lang-free
    // corpus scan, one source-keyed window, one range shuffle, one
    // rank-keyed join at any scale.
    Q("h_quality_qnorm", (s, d) => {
      val rt = toks
      val nTok = size(rt).cast("double")
      val q = (lit(0.3) * (size(array_distinct(rt)) / nTok) +
        lit(0.4) * (lit(1.0) - size(filter(rt, x => x === "the" || x === "a")) / nTok) +
        lit(0.3) * least(nTok / 100.0, lit(1.0)))
        .cast(DecimalType(38, 6)).cast("double")
      val scored = Io.table(s, d, "documents")
        .select(col("doc_id"), col("source"), q.as("quality"))
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(col("quality"), col("doc_id"))
      // the per-source ranking reads the ranked table too: `scored`
      // would re-tokenize and re-score every document text
      val ranked = Q.prefixScan(scored, "qnormRanked", Seq(col("quality"), col("doc_id")))
      val glob = ranked.select(col("rn"), col("quality").as("q_norm"))
      ranked.select(col("doc_id"), col("source"), col("quality"), col("n_total").as("n"))
        .withColumn("src_rank", row_number().over(wSrc))
        .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("source"))))
        .withColumn("target", expr("1 + CASE WHEN ns > 1 THEN " +
          "((src_rank - 1) * (n - 1)) DIV (ns - 1) ELSE (n - 1) DIV 2 END"))
        .join(glob, col("target") === col("rn"))
        .select(col("doc_id"), col("source"), col("quality"),
          col("src_rank"), col("q_norm"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH m AS (
         |  SELECT doc_id, source,
         |    ${dSnap6("0.3 * (len(list_distinct(rt)) / CAST(len(rt) AS DOUBLE)) " +
             "+ 0.4 * (1.0 - len(list_filter(rt, x -> x = 'the' OR x = 'a')) " +
             "/ CAST(len(rt) AS DOUBLE)) + 0.3 * LEAST(len(rt) / 100.0, 1.0)")} AS quality
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS rt
         |        FROM documents)),
         |r AS (
         |  SELECT doc_id, source, quality,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY quality, doc_id) AS src_rank,
         |    COUNT(*) OVER (PARTITION BY source) AS ns
         |  FROM m),
         |g AS (SELECT quality AS q_norm,
         |        ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS rn
         |      FROM m),
         |nv AS (SELECT COUNT(*) AS n FROM m)
         |SELECT r.doc_id, r.source, r.quality, r.src_rank, g.q_norm
         |FROM r CROSS JOIN nv
         |JOIN g ON g.rn = 1 + (CASE WHEN r.ns > 1 THEN
         |    ((r.src_rank - 1) * (nv.n - 1)) // (r.ns - 1)
         |  ELSE (nv.n - 1) // 2 END)
         |ORDER BY r.doc_id""".stripMargin)),

    // Distribution-drift monitor: Population Stability Index between
    // two corpus batches (doc_id parity stands in for yesterday/today)
    // over width-20 doc-length buckets. Laplace-smoothed shares keep
    // ln() defined when a bucket is empty on one side; each ln term
    // snaps to DECIMAL(38,12) (libm last-ulp differences) and the PSI
    // total is an exact decimal window sum. Shape at 100 TB: one scan,
    // one hash aggregate on (bucket, batch) — bucket cardinality is
    // bounded, so the drift report is dimension-sized.
    Q("e_drift_psi", (s, d) => {
      val n = size(toks).cast("long")
      val b = Io.table(s, d, "documents")
        .select(((n / 20).cast("long") * 20).cast("int").as("bucket"),
          (col("doc_id") % 2 === 0).as("is_a"))
        .groupBy(col("bucket"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"))
      val wAll = Window.partitionBy()
      val nb = count(lit(1)).over(wAll)
      val p = (col("n_a") + 1).cast("double") / (sum(col("n_a")).over(wAll) + nb)
      val q = (col("n_b") + 1).cast("double") / (sum(col("n_b")).over(wAll) + nb)
      // snap ln() itself at 1e-12 BEFORE the multiply: Math.log and
      // libm differ in the last ulp, and a term can land exactly on a
      // 1e-6 half boundary (seen at sf0.01), flipping the final round.
      val lnpq = log(p / q).cast(DecimalType(38, 12)).cast("double")
      val term = ((p - q) * lnpq).cast(DecimalType(38, 12))
      b.withColumn("p", p).withColumn("q", q)
        .withColumn("psi_term", term.cast("double"))
        .withColumn("psi_total",
          snap6(sum(term).over(wAll).cast("double")))
        .select(col("bucket"), col("n_a"), col("n_b"),
          snap6(col("p")).as("p"), snap6(col("q")).as("q"),
          snap6(col("psi_term")).as("psi_term"), col("psi_total"))
        .orderBy("bucket")
    }, Some(
      s"""WITH b AS (
         |  SELECT CAST(len(string_split(text, ' ')) // 20 * 20 AS INT) AS bucket,
         |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |  FROM documents GROUP BY bucket),
         |t AS (
         |  SELECT bucket, n_a, n_b,
         |    (n_a + 1) / CAST(SUM(n_a) OVER () + COUNT(*) OVER () AS DOUBLE) AS p,
         |    (n_b + 1) / CAST(SUM(n_b) OVER () + COUNT(*) OVER () AS DOUBLE) AS q
         |  FROM b),
         |s AS (
         |  SELECT bucket, n_a, n_b, p, q,
         |    CAST((p - q) * CAST(CAST(ln(p / q) AS DECIMAL(38,12)) AS DOUBLE)
         |         AS DECIMAL(38,12)) AS term
         |  FROM t)
         |SELECT bucket, n_a, n_b,
         |  ${dSnap6("p")} AS p, ${dSnap6("q")} AS q,
         |  ${dSnap6("CAST(term AS DOUBLE)")} AS psi_term,
         |  ${dSnap6("CAST(SUM(term) OVER () AS DOUBLE)")} AS psi_total
         |FROM s ORDER BY bucket""".stripMargin)),

    // Dataset card: the one-row corpus summary a data release ships —
    // volume, composition, dedup rate, quality centers. One scan with
    // parallel aggregates (countDistinct compiles to the expand+
    // two-phase distinct aggregate — still a single pass over the
    // corpus at 100 TB); the mean quality reuses h_quality_score's
    // formula with exact decimal summation.
    Q("h_dataset_card", (s, d) => {
      val rt = toks
      val nTok = size(rt).cast("double")
      val q = (lit(0.3) * (size(array_distinct(rt)) / nTok) +
        lit(0.4) * (lit(1.0) - size(filter(rt, x => x === "the" || x === "a")) / nTok) +
        lit(0.3) * least(nTok / 100.0, lit(1.0)))
        .cast(DecimalType(38, 6)).cast("double")
      Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          size(rt).cast("long").as("n_tok"),
          sha2(trim(lower(col("text"))), 256).as("h"), q.as("q"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("h")).as("n_unique_texts"),
          snap6((count(lit(1)) - countDistinct(col("h")))
            / count(lit(1)).cast("double")).as("exact_dup_rate"),
          snap6(sum(col("q").cast(DecimalType(38, 12))).cast("double")
            / count(lit(1))).as("mean_quality"),
          min(col("n_tok")).as("min_len"), max(col("n_tok")).as("max_len"))
    }, Some(
      s"""WITH m AS (
         |  SELECT doc_id, lang, source,
         |    CAST(len(rt) AS BIGINT) AS n_tok,
         |    sha256(TRIM(LOWER(text))) AS h,
         |    -- VARCHAR hop (see DedupOps h_dedup_best): direct
         |    -- double->decimal cast rounds the multiply boundary against
         |    -- Spark's repr-based cast (doc 1281 at sf0.1)
         |    CAST(CAST(CAST(0.3 * (len(list_distinct(rt)) / CAST(len(rt) AS DOUBLE))
         |      + 0.4 * (1.0 - len(list_filter(rt, x -> x = 'the' OR x = 'a'))
         |               / CAST(len(rt) AS DOUBLE))
         |      + 0.3 * LEAST(len(rt) / 100.0, 1.0) AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS q
         |  FROM (SELECT *, string_split(text, ' ') AS rt FROM documents))
         |SELECT COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_texts,
         |  ${dSnap6("(COUNT(*) - COUNT(DISTINCT h)) / CAST(COUNT(*) AS DOUBLE)")}
         |    AS exact_dup_rate,
         |  ${dSnap6("CAST(SUM(CAST(q AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)")}
         |    AS mean_quality,
         |  MIN(n_tok) AS min_len, MAX(n_tok) AS max_len
         |FROM m""".stripMargin)),

    // Weighted sampling WITHOUT replacement, without rand(): the
    // Efraimidis–Spirakis A-Res scheme with deterministic hash coins —
    // top-20 docs per language by key = u^(1/w), u the multiplicative-
    // hash uniform, w = doc length in tokens (longer docs proportionally
    // likelier — the token-weighted corpus subsample). Ordering uses the
    // monotone form ln(u)/w (descending), snapped to DECIMAL(38,12)
    // after the ln (libm last-ulp), so the cut is engine-identical and
    // reproducible under retries/speculation. Shape at 100 TB: one scan
    // + one per-lang top-k window (WindowGroupLimit keeps k rows per
    // mapper) — no global sort, no rand() nondeterminism.
    Q("h_weighted_sample", (s, d) => {
      val n = size(toks).cast("double")
      val key = (log((expr(coin).cast("double") + 1.0) / 4294967296.0) / n)
        .cast(DecimalType(38, 12)).cast("double")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("ares_key").desc, col("doc_id"))
      Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"), n.cast("long").as("n_tok"),
          key.as("ares_key"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("doc_id"), col("n_tok"),
          snap6(col("ares_key")).as("ares_key"))
        .orderBy("lang", "rn")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    CAST(CAST(ln((CAST($coin AS DOUBLE) + 1.0) / 4294967296.0)
         |          / CAST(len(string_split(text, ' ')) AS DOUBLE)
         |        AS DECIMAL(38,12)) AS DOUBLE) AS ares_key
         |  FROM documents)
         |SELECT lang, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY lang ORDER BY ares_key DESC, doc_id) AS INT) AS rn,
         |  doc_id, n_tok, ${dSnap6("ares_key")} AS ares_key
         |FROM t QUALIFY rn <= 20 ORDER BY lang, rn""".stripMargin)),

    // Token-budget greedy fill: per language, admit docs in quality
    // order (best first) until a 2000-token budget is exhausted — the
    // "give me the best N tokens per language" mix-planning primitive.
    // Quality is the corpus-standard formula snapped at 1e-6 (ties
    // break on doc_id), the running token total is exact long
    // arithmetic, and a doc is kept only if it fits WHOLLY within the
    // remaining budget of the greedy prefix. One per-lang window over a
    // quality sort — keyed shuffle, sort-based, spillable.
    Q("h_token_budget_fill", (s, d) => {
      val rt = toks
      val nTok = size(rt).cast("double")
      val q = (lit(0.3) * (size(array_distinct(rt)) / nTok) +
        lit(0.4) * (lit(1.0) - size(filter(rt, x => x === "the" || x === "a")) / nTok) +
        lit(0.3) * least(nTok / 100.0, lit(1.0)))
        .cast(DecimalType(38, 6)).cast("double")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"), nTok.cast("long").as("n_tok"),
          q.as("quality"))
        .withColumn("cum_tokens", sum(col("n_tok")).over(w))
        .filter(col("cum_tokens") <= 2000L)
        .select(col("lang"), col("doc_id"), col("quality"), col("n_tok"),
          col("cum_tokens"))
        .orderBy("lang", "cum_tokens", "doc_id")
    }, Some(
      s"""WITH m AS (
         |  SELECT doc_id, lang,
         |    CAST(len(rt) AS BIGINT) AS n_tok,
         |    ${dSnap6("0.3 * (len(list_distinct(rt)) / CAST(len(rt) AS DOUBLE)) " +
             "+ 0.4 * (1.0 - len(list_filter(rt, x -> x = 'the' OR x = 'a')) " +
             "/ CAST(len(rt) AS DOUBLE)) + 0.3 * LEAST(len(rt) / 100.0, 1.0)")} AS quality
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS rt FROM documents)),
         |r AS (
         |  SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY lang
         |      ORDER BY quality DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM m)
         |SELECT lang, doc_id, quality, n_tok, cum_tokens
         |FROM r WHERE cum_tokens <= 2000
         |ORDER BY lang, cum_tokens, doc_id""".stripMargin)),

    // Per-source cap — the domain-cap step of every web-corpus recipe:
    // no single source may contribute more than K docs (here 10, kept
    // by length rank, ties → lower doc_id), so one over-crawled domain
    // can't dominate the mixture. The rank filter is the
    // WindowGroupLimit shape: each mapper keeps at most K rows per
    // source BEFORE the shuffle, so the exchange carries O(sources·K),
    // not the corpus — the same bound that makes this op safe when one
    // domain is 10% of 100 TB.
    Q("h_source_cap", (s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Io.table(s, d, "documents")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
        .orderBy("source", "rk")
    }, Some(
      """SELECT source,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source
        |       ORDER BY n_chars DESC, doc_id) AS INT) AS rk,
        |  doc_id, n_chars
        |FROM documents
        |QUALIFY rk <= 10
        |ORDER BY source, rk""".stripMargin)),

    // DPO/RLHF preference-pair mining: within each (lang, source)
    // stratum, pair the highest-quality document (chosen) with the
    // lowest (rejected), keeping only strata with a strict quality
    // gap — the relational core of preference-dataset construction.
    // Quality is ALL-INTEGER micro-units ((type-token ratio − stopword
    // ratio) via BIGINT DIV — exact in both engines, zero float
    // seams), and the per-stratum argmax/argmin is the max-of-struct
    // idiom: ONE hash aggregate, no window, no self-join — at 100 TB
    // this is a single stratum-keyed shuffle with map-side combine.
    Q("h_dpo_pairs", (s, d) => {
      val base = Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          size(toks).as("n_toks"),
          size(array_distinct(toks)).as("n_dist"),
          size(filter(toks, t => t === "the" || t === "a")).as("n_stop"))
        .filter(col("n_toks") > 0)
        .withColumn("q_u",
          expr("(1000000 * CAST(n_dist AS BIGINT)) DIV n_toks" +
            " - (1000000 * CAST(n_stop AS BIGINT)) DIV n_toks"))
      val top = max(struct(col("q_u"), col("doc_id")))
      val bot = min(struct(col("q_u"), col("doc_id")))
      base.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          top.getField("doc_id").as("chosen_id"),
          top.getField("q_u").as("chosen_q_u"),
          bot.getField("doc_id").as("rejected_id"),
          bot.getField("q_u").as("rejected_q_u"))
        .filter(col("n_docs") >= 2 && col("chosen_q_u") > col("rejected_q_u"))
        .select(col("lang"), col("source"), col("n_docs"),
          col("chosen_id"), col("rejected_id"),
          (col("chosen_q_u") - col("rejected_q_u")).as("gap_u"))
        .orderBy("lang", "source")
    }, Some(
      """WITH t AS (SELECT doc_id, lang, source,
        |    string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, lang, source, len(toks) AS n_toks,
        |    len(list_distinct(toks)) AS n_dist,
        |    len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS n_stop
        |  FROM t WHERE len(toks) > 0),
        |q AS (SELECT doc_id, lang, source,
        |    (1000000 * CAST(n_dist AS BIGINT)) // n_toks
        |      - (1000000 * CAST(n_stop AS BIGINT)) // n_toks AS q_u
        |  FROM m),
        |r AS (SELECT lang, source, doc_id, q_u,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY q_u DESC, doc_id DESC) AS rn_max,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY q_u ASC, doc_id ASC) AS rn_min
        |  FROM q)
        |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MAX(CASE WHEN rn_max = 1 THEN doc_id END) AS chosen_id,
        |  MAX(CASE WHEN rn_min = 1 THEN doc_id END) AS rejected_id,
        |  MAX(CASE WHEN rn_max = 1 THEN q_u END)
        |    - MAX(CASE WHEN rn_min = 1 THEN q_u END) AS gap_u
        |FROM r GROUP BY lang, source
        |HAVING COUNT(*) >= 2 AND MAX(CASE WHEN rn_max = 1 THEN q_u END)
        |  > MAX(CASE WHEN rn_min = 1 THEN q_u END)
        |ORDER BY lang, source""".stripMargin)),

  )
}
