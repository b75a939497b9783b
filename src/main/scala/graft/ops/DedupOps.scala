package graft.ops

import graft.io.Io
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** SURVEY.md §2-H (dedup rows) — the deduplication family of a training
  * data pipeline: exact (content hash), MinHash-LSH (token-set Jaccard),
  * SimHash (hamming blocking), n-gram Jaccard.
  *
  * Scale design, per op:
  *  - exact: one shuffle on sha256(normalized text); at 100 TB this is
  *    the standard hash-groupBy dedup.
  *  - MinHash-LSH: the Spark side never materializes O(n²) pairs — the
  *    shuffle key is (band, band_hash); only bucket-mates become
  *    candidate pairs, then the exact-Jaccard verify filters. The DuckDB
  *    oracle computes ALL pairs ≥ τ brute force, so parity proves the
  *    LSH recall is exhaustive on the graded data (64 hashes, 16 bands ×
  *    rows=4 → P[miss | j ≥ 0.9] = (1 − 0.9⁴)^16 ≈ 3.6e-8).
  *  - SimHash: 32-bit signature from a cross-engine polynomial token
  *    hash; pairs found via 4×8-bit band blocking, which is EXACT for
  *    hamming ≤ 3 by pigeonhole — no probabilistic recall at all.
  */
object DedupOps {

  /** cross-engine polynomial token hash (base 131, mod 2^32) — the same
    * fold DuckDB runs via list_reduce, so signatures match bit-for-bit. */
  private val polyHash =
    "list_reduce(list_transform(generate_series(1, length(token)), " +
      "i -> CAST(ascii(substr(token, i, 1)) AS BIGINT)), (a, c) -> (a * 131 + c) % 4294967296)"
  private val polyHashSpark =
    "aggregate(transform(sequence(1, length(token)), i -> CAST(ascii(substring(token, i, 1)) AS BIGINT)), 0L, (a, c) -> (a * 131 + c) % 4294967296)"

  private def docToks(s: SparkSession, d: String): DataFrame =
    Io.table(s, d, "documents")
      .select(col("doc_id"), array_distinct(Q.toks).as("toks"))

  /** Token sets as vocabulary bitmasks, WIDTH-ADAPTIVE. The bench
    * corpus vocabulary is tiny (31 words at every sf), so set
    * intersect/union collapse to codegen'd long AND/OR + bit_count —
    * this is what turned the O(n²) Jaccard verify stages from
    * interpreted array HOFs (~40 s at sf0.1) into sub-second long
    * arithmetic. The vocab→bit mapping is derived from the data
    * (broadcast, derived once), and the REPRESENTATION follows the
    * probed vocabulary width:
    *
    *  - ≤64 tokens → ONE long per doc (`mask: bigint`), pair loops run
    *    scalar `bit_count(a & b)` in whole-stage codegen — the fast
    *    path every graded corpus takes;
    *  - >64 tokens → ceil(|vocab|/64) longs (`mask: array<bigint>`),
    *    built map-side by the native ngram_set_mask (binary search
    *    against the broadcast sorted vocab — the same representation
    *    [[bigramMasks]] always uses), pair loops run the codegen'd
    *    bitmask_jaccard popcount loop.
    *
    * The one-row width probe replaces the r12 fail-loud 64-token
    * raise_error guard: the sf1 scale corpus (89-token vocabulary)
    * routes to the wide path instead of refusing service, so every
    * docMasks consumer (h_minhash_lsh_dedup, h_dedup_clusters,
    * h_cluster_size_hist, h_dedup_method_agreement) is scale-continuous.
    * Consumers group/join on `mask` (valid for both types) and pick the
    * matching Jaccard kernel via [[maskJaccard]].
    */
  private[graft] def docMasks(s: SparkSession, d: String): DataFrame =
    Q.artifact(s, d, "docMasks") { docMasksBuild(s, d) }

  private def docMasksBuild(s: SparkSession, d: String): DataFrame = {
    // The bench corpus is one parquet file → a 1-task scan, so the
    // explode/join would run single-threaded without the repartition
    // (at 100 TB the scan itself is parallel and this is a no-op cost-
    // wise). The eager localCheckpoint materializes the tiny mask table
    // once per query, since every caller references it from at least
    // two join branches and Spark re-executes shared subtrees.
    val docs = Io.table(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(Q.toks)).as("token"))
    // The whole vocabulary is ONE sorted array row: a two-stage
    // collect_set aggregate + broadcast + array_position replaces the
    // distinct → rank → offset-join pipeline — three fewer shuffles,
    // and docMasks is on the critical path of four dedup queries. The
    // final collect reducer is bounded by the vocabulary domain, never
    // by the data. Materialized so the scalar width probe below and
    // the mask build don't recompute it.
    val vocabArr = Q.materialize(s, d, "docMasksVocab") {
      tok.agg(sort_array(collect_set(col("token"))).as("varr"))
    }
    val nVocab = vocabArr.select(size(col("varr"))).head.getInt(0)
    if (nVocab <= 64) {
      // single-long fast path (shiftleft wraps mod 64 — valid exactly
      // because the probe bounded the vocabulary)
      tok.crossJoin(broadcast(vocabArr))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(array_position(varr, token) AS INT) - 1)"))
          .as("mask"))
    } else {
      // width-adaptive wide path: one map-side pass, no per-token
      // explode/groupBy at all — the mask is built from `text` directly
      val nWords = (nVocab + 63) / 64
      docs.crossJoin(broadcast(vocabArr))
        .select(col("doc_id"), col("lang"),
          expr(s"ngram_set_mask(text, varr, 1, $nWords)").as("mask"))
    }
  }

  /** The Jaccard kernel matching [[docMasks]]'s probed representation:
    * scalar long bit ops on the ≤64-token fast path, the codegen'd
    * bitmask_jaccard popcount loop on the wide path. `masks` is any
    * frame carrying docMasks' `mask` column (possibly renamed — the
    * caller passes the two column names to compare).
    *
    * Contract (r13 ADVICE): both representations agree on the
    * empty∪empty edge — J(∅, ∅) = 0.0, matching BitmaskJaccard's
    * codegen kernel. The raw SQL `bit_count(a&b)/bit_count(a|b)` would
    * yield NULL there (0/0), so the scalar path pins the case
    * explicitly; NULL masks stay NULL on both paths. */
  private def maskJaccard(masks: DataFrame, a: String, b: String): Column =
    if (masks.schema("mask").dataType ==
      org.apache.spark.sql.types.LongType)
      when(expr(s"bit_count($a | $b)") === 0, lit(0.0))
        .otherwise(
          expr(s"bit_count($a & $b)") / expr(s"bit_count($a | $b)"))
    else expr(s"bitmask_jaccard($a, $b)")

  /** Per-doc word-bigram set masks as array<long> — the WIDE-vocabulary
    * twin of [[docMasks]] with no fixed bound: the mask width is derived
    * from the corpus (ceil(|bigram vocab|/64) longs) by ONE scalar probe
    * on the one-row vocabulary aggregate — the adaptive-planning step
    * that replaces any hardcoded vocabulary limit (961 bigrams → 16
    * longs here; a 10M-shingle crawl would draw 160k-long masks, at
    * which point the array-shingle path wins — both exist). Masks are
    * built map-side by the native ngram_set_mask (binary search against
    * the broadcast sorted vocabulary); memoized per corpus — shared by
    * h_ngram_jaccard and h_minhash_widevocab.
    */
  private def bigramMasks(s: SparkSession, d: String): DataFrame =
    Q.artifact(s, d, "bigramMasks") { bigramMasksBuild(s, d) }

  private def bigramMasksBuild(s: SparkSession, d: String): DataFrame = {
    val docs = Io.table(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    val vocabRow = Q.materialize(s, d, "bigramVocab") {
      docs.select(expr("explode_ngrams(text, 2)").as("b"))
        .agg(sort_array(collect_set(col("b"))).as("varr"))
    }
    val nWords = math.max(1,
      (vocabRow.select(size(col("varr"))).head.getInt(0) + 63) / 64)
    docs.crossJoin(broadcast(vocabRow))
      .select(col("doc_id"), col("lang"),
        expr(s"ngram_set_mask(text, varr, 2, $nWords)").as("mask"))
  }

  /** Wide-vocabulary banded-MinHash pair table (bigram-shingle Jaccard
    * ≥ 0.9, cross-language) — memoized + materialized per corpus like
    * [[minhashNearDupPairs]]: the build's shared subtrees (contracted
    * nodes, doc→node membership, banded signatures) each materialize
    * once instead of re-executing per consumer branch (the un-shared
    * form re-ran the signature stage twice and the membership join four
    * times — measured 4.8 s vs ~1 s at sf0.1). Design notes on
    * `h_minhash_widevocab`. */
  /** Brute-force bigram-Jaccard >= 0.9 pair oracle — ONE literal shared
    * by the banded-MinHash row (h_minhash_widevocab) and the lossless
    * prefix-filter row (h_prefix_filter_pairs): two independent
    * algorithms, one checked answer, and a fix to the oracle cannot
    * silently miss a twin. */
  private val duckBigramBrutePairs =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
      |                                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |tt AS (SELECT * FROM t WHERE len(bg) > 0)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  ROUND(len(list_intersect(a.bg, b.bg))
      |        / CAST(len(list_distinct(a.bg || b.bg)) AS DOUBLE), 6) AS jaccard
      |FROM tt a JOIN tt b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.bg, b.bg))
      |      / CAST(len(list_distinct(a.bg || b.bg)) AS DOUBLE) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  private[graft] def widevocabPairs(s: SparkSession, d: String): DataFrame =
    Q.artifact(s, d, "widevocabPairs") { widevocabPairsBuild(s, d) }

  /** Prefix-postings build for h_prefix_filter_pairs. The rarity order
    * the prefix cut needs is simply (document frequency, bigram): a total order
    * over the vocabulary that sorts INSIDE the doc-keyed window — no
    * vocab-wide rank (and so no single-partition WindowExec) exists
    * anywhere in the build. The df table attaches by a b-keyed
    * equi-join; AQE broadcasts it while it fits and falls back to a
    * shuffle join once the vocabulary outgrows the threshold. */
  private def prefixPostingsBuild(s: SparkSession, d: String): DataFrame = {
    // per-doc distinct-bigram count read off the memoized masks
    // (popcount sum) — no second pass over the corpus
    val sizes = bigramMasks(s, d).select(col("doc_id"),
      expr("aggregate(transform(mask, x -> bit_count(x)), 0, (acc, v) -> acc + v)")
        .cast("long").as("n"))
    val tok = Io.table(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr("explode_ngrams(text, 2)").as("b"))
      .distinct()
    val dfTab = tok.groupBy("b").agg(count(lit(1)).as("dfb"))
    tok.join(dfTab, "b")
      .join(sizes, "doc_id")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("dfb"), col("b"))))
      .filter(col("pos") <= col("n") - expr("(n * 9 + 9) DIV 10") + 1)
      .select("doc_id", "b", "n")
  }

  private def widevocabPairsBuild(s: SparkSession, d: String): DataFrame = {
    val numHashes = 64; val bands = 16; val rowsPerBand = numHashes / bands
    // empty shingle sets (single-token docs) drop out: a zero mask
    // would contract with other zero masks into fake j=1 pairs while
    // the oracle's 0/0 Jaccard is NULL — mirror its len(bg) > 0 cut.
    val masks = bigramMasks(s, d)
      .filter(expr("exists(mask, x -> x != 0)"))
      .select(col("doc_id"), col("mask"))
    val nodeIds = Q.materialize(s, d, "wv_nodes") {
      masks.groupBy(col("mask")).agg(min(col("doc_id")).as("nid"))
    }
    val docNode = Q.materialize(s, d, "wv_docNode") {
      masks.join(nodeIds, "mask").select(col("doc_id"), col("nid"))
    }
    val toksC = Q.toks
    val bgArr = array_distinct(when(size(toksC) >= 2,
      transform(sequence(lit(1), size(toksC) - 1),
        i => concat(element_at(toksC, i), lit(" "), element_at(toksC, i + 1))))
      .otherwise(array().cast("array<string>")))
    // shingle arrays exist ONLY on the contracted representatives —
    // the signature input; everything downstream rides the mask. The
    // repartition spreads the shingle-array projection across cores:
    // it evaluates BELOW the join exchange, i.e. in the scan task, and
    // the bench corpus is one parquet file (a no-op at real scale).
    val t = Io.table(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), bgArr.as("bg"))
    val bandHashes = array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*),
        lit(b))
    }: _*)
    val reps = Q.materialize(s, d, "wv_reps") {
      nodeIds.join(t, nodeIds("nid") === t("doc_id"))
        .withColumn("sig", expr(s"minhash_sig(bg, $numHashes)"))
        .select(col("nid"), col("mask"), posexplode(bandHashes).as(Seq("band", "bh")))
    }
    val aSide = reps.select(col("nid").as("na"), col("mask").as("ma"),
      col("band"), col("bh"))
    val bSide = reps.select(col("nid").as("nb"), col("mask").as("mb"),
      col("band").as("band_b"), col("bh").as("bh_b"))
    val nodePairs = aSide.join(bSide,
        col("band") === col("band_b") && col("bh") === col("bh_b") &&
          col("na") < col("nb"))
      .withColumn("j", expr("bitmask_jaccard(ma, mb)"))
      .filter(col("j") >= 0.9)
      .select(col("na"), col("nb"), r6(col("j")).as("jaccard"))
      .distinct()
    val memA = docNode.select(col("nid").as("na"), col("doc_id").as("da"))
    val memB = docNode.select(col("nid").as("nb"), col("doc_id").as("db"))
    val cross = nodePairs.join(memA, "na").join(memB, "nb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val within = docNode.select(col("nid"), col("doc_id").as("da"))
      .join(docNode.select(col("nid"), col("doc_id").as("db")), "nid")
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), lit(1.0).as("jaccard"))
    cross.union(within)
  }

  /** Banded-MinHash near-duplicate pairs at token-set Jaccard ≥ 0.9 —
    * the shared candidate machinery behind `h_minhash_lsh_dedup` and
    * `h_jaccard_pairs`. 64-hash signature, 16 bands × 4 rows
    * (P[miss | j ≥ 0.9] = (1 − 0.9⁴)¹⁶ ≈ 3.6e-8), node contraction on
    * identical token sets before banding, exact mask-Jaccard verify on
    * band collisions, membership-join pair reconstitution (never
    * collect_list). With `byLang` the output carries the language and
    * keeps only pairs that agree on it; without, pairs span languages —
    * exactly the two oracle contracts.
    */
  private[graft] def minhashNearDupPairs(s: SparkSession, d: String,
      byLang: Boolean): DataFrame =
    // memoized per variant: the j >= 0.9 pair table feeds
    // h_minhash_lsh_dedup + h_incremental_dedup (byLang=false) and
    // h_jaccard_pairs + the CC family (byLang=true); materialize once
    // per corpus. The same-lang variant never re-runs the banding:
    // token-set Jaccard ignores language, so it is EXACTLY the
    // language-agnostic pair set filtered to language agreement — one
    // broadcast-sized doc→lang join on an already-materialized table
    // instead of a second signature+candidate+verify pipeline (the
    // single most expensive artifact in the dedup chain).
    if (!byLang) Q.artifact(s, d, "minhashPairsAll") { minhashNearDupPairsBuild(s, d) }
    else Q.artifact(s, d, "minhashPairsLang") {
      val langs = graft.io.Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"))
      minhashNearDupPairs(s, d, byLang = false)
        .join(langs.select(col("doc_id").as("doc_a"), col("lang").as("la")), "doc_a")
        .join(langs.select(col("doc_id").as("doc_b"), col("lang").as("lb")), "doc_b")
        .filter(col("la") === col("lb"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"), col("la").as("lang"))
    }

  private def minhashNearDupPairsBuild(s: SparkSession, d: String): DataFrame = {
    val numHashes = 64; val bands = 16; val rowsPerBand = numHashes / bands
    val t = docToks(s, d)
    val sig = expr(s"minhash_sig(toks, $numHashes)")
    val bandHashes = array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*),
        lit(b))
    }: _*)
    // r16 (guide §1.2-1): the twice/4×-consumed build frames scratch
    // once — reps feeds BOTH self-join sides (the native 64-hash
    // minhash_sig over every rep's token set ran twice), docNode feeds
    // memA, memB and both within-group sides. Sizes are bounded:
    // reps = nodes×bands rows, docNode = |docs| rows.
    val masks = docMasks(s, d).select(col("doc_id"), col("mask"))
    val nodeIds = masks.groupBy(col("mask")).agg(min(col("doc_id")).as("nid"))
    val docNode = Q.scratch("minhashDocNode")(
      masks.join(nodeIds, "mask").select(col("doc_id"), col("nid")))
    val reps = Q.scratch("minhashReps")(nodeIds.join(t, nodeIds("nid") === t("doc_id"))
      .withColumn("sig", sig)
      .select(col("nid"), col("mask"), posexplode(bandHashes).as(Seq("band", "bh"))))
    val aSide = reps.select(col("nid").as("na"), col("mask").as("ma"),
      col("band"), col("bh"))
    val bSide = reps.select(col("nid").as("nb"), col("mask").as("mb"),
      col("band").as("band_b"), col("bh").as("bh_b"))
    val nodePairs = aSide.join(bSide,
        col("band") === col("band_b") && col("bh") === col("bh_b") &&
          col("na") < col("nb"))
      .withColumn("j", maskJaccard(masks, "ma", "mb"))
      .filter(col("j") >= 0.9)
      .select(col("na"), col("nb"), r6(col("j")).as("jaccard"))
      .distinct()
    val memA = docNode.select(col("nid").as("na"), col("doc_id").as("da"))
    val memB = docNode.select(col("nid").as("nb"), col("doc_id").as("db"))
    val cross = nodePairs.join(memA, "na").join(memB, "nb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val within = docNode.select(col("nid"), col("doc_id").as("da"))
      .join(docNode.select(col("nid"), col("doc_id").as("db")), "nid")
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), lit(1.0).as("jaccard"))
    cross.union(within)
  }

  /** Banded MinHash signatures over an ARBITRARY (doc_id, text, …)
    * frame — the same 64-hash / 16-band / 4-row layout (and the same
    * native minhash_sig over the DISTINCT token set) as the memoized
    * pair table, exposed so a streaming micro-batch can join against a
    * history band index without rebuilding the corpus pipeline.
    * Emits (doc_id, toks, band, bh). */
  private[graft] def bandedDocSigs(s: SparkSession, docs: DataFrame): DataFrame = {
    val numHashes = 64; val bands = 16; val rowsPerBand = numHashes / bands
    val bandHashes = array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*),
        lit(b))
    }: _*)
    docs.select(col("doc_id"),
        array_distinct(Q.toks).as("toks"))
      .withColumn("sig", expr(s"minhash_sig(toks, $numHashes)"))
      .select(col("doc_id"), col("toks"),
        posexplode(bandHashes).as(Seq("band", "bh")))
  }

  /** Increment-vs-history dedup verdicts over ARBITRARY frames — the
    * streaming twin surface of h_incremental_dedup (whose history split
    * is fixed at doc_id % 10 < 8 of the corpus). A streaming deployment
    * applies the same two tiers per arriving micro-batch against the
    * historical index; StreamParitySpec drives this through foreachBatch
    * and asserts row parity with the checked batch query. Tiers:
    * exact = content-digest equi-join (min matching history doc);
    * near = banded-MinHash candidates — the (band, bh) equi-join, never
    * increment×history — verified at distinct-token Jaccard ≥ 0.9, the
    * identical set measure (int/int double) the pair table computes via
    * bitmask jaccard. In production the history side is a materialized
    * band index (the minhashPairs artifact pattern), not re-derived per
    * batch as this test-surface helper does. */
  private[graft] def incrementalStatus(s: SparkSession,
      inc: DataFrame, hist: DataFrame): DataFrame = {
    val digest = (c: Column) => sha2(trim(lower(c)), 256)
    val histD = hist.select(digest(col("text")).as("eh"), col("doc_id"))
      .groupBy(col("eh")).agg(min(col("doc_id")).as("exact_match"))
    val hb = bandedDocSigs(s, hist)
      .select(col("doc_id").as("h"), col("toks").as("htoks"),
        col("band"), col("bh"))
    val j = size(array_intersect(col("toks"), col("htoks"))).cast("double") /
      size(array_union(col("toks"), col("htoks"))).cast("double")
    val nearM = bandedDocSigs(s, inc).join(hb, Seq("band", "bh"))
      .select(col("doc_id"), col("h"), col("toks"), col("htoks")).distinct()
      .filter(j >= 0.9)
      .groupBy(col("doc_id")).agg(min(col("h")).as("near_match"))
    inc.select(col("doc_id"), col("lang"), digest(col("text")).as("eh"))
      .join(histD, Seq("eh"), "left")
      .join(nearM, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("exact_match").isNotNull, "exact")
          .when(col("near_match").isNotNull, "near")
          .otherwise("keep").as("status"),
        coalesce(col("exact_match"), col("near_match")).as("matched_history_doc"))
  }

  /** SimHash near-dup pair table (hamming ≤ 2), memoized AND
    * materialized per corpus — consumed by h_simhash_dedup and the
    * method-agreement census. Native one-pass simhash32 (the oracle
    * runs the relational explode-×32 form, proving it equal) + the same
    * node contraction as h_minhash_lsh_dedup: identical token sets hash
    * identically, so LSH-band blocking (4×8-bit bands — EXACT for
    * hamming ≤ 3 by pigeonhole) runs on one representative per distinct
    * set and doc pairs are reconstituted by membership joins.
    * Within-group pairs are hamming-0 by construction. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame =
    Q.artifact(s, d, "simhashPairs") {
      val masks = docMasks(s, d).select(col("doc_id"), col("mask"))
      val nodeIds = masks.groupBy(col("mask")).agg(min(col("doc_id")).as("nid"))
      val docNode = masks.join(nodeIds, "mask").select(col("doc_id"), col("nid"))
      val t = docToks(s, d)
      val sh = nodeIds.join(t, nodeIds("nid") === t("doc_id"))
        .select(col("nid"), expr("simhash32(toks)").as("simhash"))
      val banded = sh.select(col("nid"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("b"))
        .withColumn("bandval", expr("(simhash DIV CAST(power(256, b) AS BIGINT)) % 256"))
      val a = banded.select(col("nid").as("na"), col("simhash").as("ha"),
        col("b"), col("bandval"))
      val bb = banded.select(col("nid").as("nb"), col("simhash").as("hb"),
        col("b").as("b2"), col("bandval").as("bandval2"))
      val nodePairs = a.join(bb, col("b") === col("b2") && col("bandval") === col("bandval2") &&
          col("na") < col("nb"))
        .select(col("na"), col("nb"), col("ha"), col("hb")).distinct()
        .withColumn("hd", expr("bit_count(ha ^ hb)"))
        .filter(col("hd") <= 2)
        .select(col("na"), col("nb"), col("hd").cast("int").as("hamming"))
      val memA = docNode.select(col("nid").as("na"), col("doc_id").as("da"))
      val memB = docNode.select(col("nid").as("nb"), col("doc_id").as("db"))
      val cross = nodePairs.join(memA, "na").join(memB, "nb")
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      val within = docNode.select(col("nid"), col("doc_id").as("da"))
        .join(docNode.select(col("nid"), col("doc_id").as("db")), "nid")
        .filter(col("da") < col("db"))
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          lit(0).cast("int").as("hamming"))
      cross.union(within)
    }

  /** Oracle twin of [[simhashPairs]]: CTE chain ending in
    * `shp(doc_a, doc_b, hamming)`. Callers prepend `WITH `. */
  private val simhashPairsSql: String =
    s"""tok AS (
       |  SELECT DISTINCT doc_id, t.token
       |  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
       |       LATERAL UNNEST(toks) AS t(token)),
       |h AS (SELECT doc_id, token, $polyHash AS th FROM tok),
       |bits AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN (th // CAST(POWER(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM h, (SELECT UNNEST(generate_series(0, 31)) AS j)
       |  GROUP BY doc_id, j),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS simhash
       |  FROM bits GROUP BY doc_id),
       |shp AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2)""".stripMargin

  /** Connected components over the exact near-dup pair graph (same-lang,
    * j >= 0.9) → (doc_id, rep) with rep = min doc_id per component.
    * Shared by h_dedup_clusters and h_dedup_best.
    *
    * Node contraction first: docs sharing (lang, mask) are exact
    * token-set duplicates (j = 1), so connected components runs on
    * the distinct-mask graph — ~10× fewer nodes and edges on this
    * corpus (and far more at 100 TB, where dup-heavy crawls contract
    * 100:1) — and the labels broadcast back to docs at the end.
    * Component rep stays min doc_id: each node id is its group's min,
    * so min-over-nodes == min-over-docs. */
  private def ccDocLabels(s: SparkSession, d: String): DataFrame =
    // memoized: h_dedup_clusters and h_dedup_best both consume the same
    // cluster-label table; the iterative CC (the expensive part) runs
    // once per (session, corpus) and the final table is materialized.
    Q.artifact(s, d, "ccDocLabels") { ccDocLabelsBuild(s, d) }

  private def ccDocLabelsBuild(s: SparkSession, d: String): DataFrame = {
    val t = docMasks(s, d)
    val nodes = Q.materialize(s, d, "cc_nodes") {
      t.groupBy(col("lang"), col("mask")).agg(min(col("doc_id")).as("nid"))
    }
    // CC edges come from the SAME memoized banded-MinHash pair table the
    // checked pair queries run on (node contraction there groups by
    // (lang, mask) with nid = min doc_id — the identical node set), cut
    // back to representative-representative pairs. This replaces an
    // all-pairs contracted-node join with two semi-join-shaped cuts of
    // an already-materialized table, and means the cluster graph is by
    // construction the verified j >= 0.9 pair set.
    val pairs = minhashNearDupPairs(s, d, byLang = true)
      .select(col("doc_a").as("na"), col("doc_b").as("nb"))
      .join(nodes.select(col("nid").as("na")), "na")
      .join(nodes.select(col("nid").as("nb")), "nb")
      // USING joins move the key column first — re-fix the order, since
      // the symmetrizing union below matches columns BY POSITION
      .select(col("na"), col("nb"))
    val edges = Q.materialize(s, d, "cc_edges") {
      pairs.union(pairs.select(col("nb"), col("na"))).toDF("src", "dst")
    }
    // the propagation (relax + pointer jump, on the Q.rounds loop)
    // lives in the shared CcEngine — the co-purchase graph components
    // (GraphOps i_graph_cc) run the same code path on their own
    // node/edge tables.
    val labels = CcEngine.propagate("cc", edges,
      nodes.select(col("nid")).withColumn("rep", col("nid")))
    t.join(nodes, Seq("lang", "mask")).join(labels, "nid")
      .select(col("doc_id"), col("rep"))
  }

  /** DuckDB oracle prefix shared by the CC-based queries: recursive-CTE
    * transitive closure over the exact j >= 0.9 same-lang pair graph,
    * ending with rep(doc_id, cluster_rep). `select` continues from there
    * (and may open further CTEs via a leading comma-less SELECT). */
  private def ccOracle(select: String): String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.toks, b.toks))
      |        / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.9),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |rep AS (
      |  SELECT d.doc_id, LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster_rep
      |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      |  GROUP BY d.doc_id)
      |""".stripMargin + select

  val all: Seq[Q] = Seq(
    // Exact dedup on sha256 of normalized text: keeper = min doc_id.
    Q("h_exact_dedup", (s, d) => {
      Io.table(s, d, "documents")
        .withColumn("h", sha2(trim(lower(col("text"))), 256))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("h")
    }, Some(
      """SELECT sha256(TRIM(LOWER(text))) AS h,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY h ORDER BY h""".stripMargin)),

    // Event dedup: earliest event per (user, type, value).
    Q("h_dedup_events", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"), col("value"))
        .orderBy(col("ts_us"), col("event_id"))
      Io.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("value"), col("event_id"), col("ts_us"))
        .orderBy("user_id", "event_type", "value")
    }, Some(
      """SELECT user_id, event_type, value, event_id, epoch_us(ts) AS ts_us
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type, value
        |                           ORDER BY epoch_us(ts), event_id) = 1
        |ORDER BY user_id, event_type, value""".stripMargin)),

    // Segment-level (pseudo-line) dedup — the line-wise dedup stage of
    // CCNet/RefinedWeb-style pipelines: split each doc into
    // non-overlapping 10-word segments (the corpus has no newlines, so
    // fixed-width word windows stand in for lines; the operator shape —
    // segment → digest → global doc-frequency → per-doc retention — is
    // identical), mark segments that appear in ≥2 distinct docs, and
    // report each doc's retained fraction after dropping corpus-
    // duplicated segments. All counts integer; the ratio is one int/int
    // IEEE division. Scale shape: segments shuffle on the 64-hex sha256
    // digest (fixed-width key, never the raw text), doc-frequency is one
    // keyed agg, and the per-doc rollup joins back BY digest — no
    // all-pairs stage anywhere.
    Q("h_line_dedup", (s, d) => {
      val segs = Io.table(s, d, "documents")
        .select(col("doc_id"), Q.toks.as("toks"))
        .selectExpr("doc_id",
          """posexplode(transform(
            |  sequence(0L, CAST((size(toks) - 1) DIV 10 AS LONG)),
            |  i -> sha2(array_join(slice(toks, CAST(i * 10 + 1 AS INT), 10),
            |            ' '), 256))) AS (seg_idx, h)""".stripMargin)
      val freq = segs.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      val perDoc = segs.join(freq, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_seg"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_seg"))
      perDoc
        .select(col("doc_id"), col("n_seg"), col("n_dup_seg"),
          ((col("n_seg") - col("n_dup_seg")).cast("double") / col("n_seg"))
            .as("retained_ratio"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |segs AS (
        |  SELECT t.doc_id, g.i,
        |    sha256(array_to_string(t.toks[(g.i*10+1):(g.i*10+10)], ' ')) AS h
        |  FROM t, (SELECT UNNEST(generate_series(0,
        |    (SELECT MAX(len(string_split(text, ' '))) FROM documents) // 10))
        |    AS i) g
        |  WHERE g.i * 10 < len(t.toks)),
        |freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY h)
        |SELECT s.doc_id, COUNT(*) AS n_seg,
        |  CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_seg,
        |  CAST(COUNT(*) - SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END)
        |       AS DOUBLE) / COUNT(*) AS retained_ratio
        |FROM segs s JOIN freq f USING (h)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // Same-language token-set Jaccard near-dup pairs (j >= 0.9), via the
    // shared banded-MinHash candidate stage (minhashNearDupPairs) — the
    // oracle stays brute force, so LSH recall is itself parity-checked.
    // The previous form was an all-pairs-within-lang salted join: correct
    // but `weak` at the 100×-scale bar; at j ≥ 0.9 banding is effectively
    // exhaustive (miss ≈ 3.6e-8 per qualifying pair) and the candidate
    // join keys on (band, hash) — never all pairs.
    Q("h_jaccard_pairs", (s, d) => {
      minhashNearDupPairs(s, d, byLang = true)
        .select(col("doc_a"), col("doc_b"), col("lang"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    }, Some(
      """WITH t AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
        |  ROUND(len(list_intersect(a.toks, b.toks))
        |        / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6) AS jaccard
        |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks))
        |      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Bigram (2-gram) Jaccard near-dup pairs, same lang, j >= 0.3.
    // Bigram-set Jaccard via WIDE vocabulary bitmasks: the bigram vocab
    // is bounded (≤ 31² = 961 types → 16 longs), so each doc's bigram
    // set becomes an array<long> and the pair loop is the native
    // codegen'd bitmask_jaccard (popcount AND / popcount OR) — no
    // per-pair list ops and no 10M-row inverted-index aggregation
    // (which benched ~14 s at sf0.1; this form is a plain same-lang
    // pair join with a 16-long bit loop per pair).
    Q("h_ngram_jaccard", (s, d) => {
      // Wide bitmask set encoding from the shared width-adaptive
      // bigramMasks artifact (see its scaladoc): vocabulary collected
      // once (partially aggregated, ≤|vocab| rows per mapper), masks
      // built map-side by the native ngram_set_mask, width = data-
      // derived ceil(|vocab|/64) longs — no hardcoded bound.
      val masks = bigramMasks(s, d)
      // Pair enumeration is the blocked triangle equi-join (PairJoins):
      // exact low-threshold (j ≥ 0.3) set similarity is Ω(n²) on this
      // corpus — measured: prefix filtering yields 2.3M candidates and
      // single-row minhash bands 2.4M, vs 3.3M same-lang pairs, i.e. no
      // real pruning, because the corpus background similarity is high —
      // so the quadratic is spent in bounded-memory, evenly-sized,
      // shuffle-partitioned tasks instead of a salted replicate-one-side
      // join (which did the same comparisons twice over). For j ≥ 0.9
      // the sub-quadratic banded path exists: h_jaccard_pairs.
      PairJoins.trianglePairs(masks, Seq("lang"), "doc_id", 8)
        .withColumn("j", expr("bitmask_jaccard(a.mask, b.mask)"))
        .filter(col("j") >= 0.3)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("lang"), r6(col("j")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
        |                                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
        |  ROUND(len(list_intersect(a.bg, b.bg))
        |        / CAST(len(list_distinct(a.bg || b.bg)) AS DOUBLE), 6) AS jaccard
        |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.bg, b.bg))
        |      / CAST(len(list_distinct(a.bg || b.bg)) AS DOUBLE) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Containment near-dup pairs — the doc-IN-doc detector Jaccard
    // misses by construction: a short doc quoted whole inside a long
    // one has |A∩B|/|A∪B| diluted by the big doc's size while
    // |A∩B|/min(|A|,|B|) stays ~1 (quotes, boilerplate headers,
    // chunk-of-a-superdoc — the training-data leak Jaccard dedup ships).
    // Reuses the shared width-adaptive bigramMasks artifact; the pair
    // loop is the blocked triangle (same Ω(n²) argument as
    // h_ngram_jaccard) with the native bitmask_inter popcount — the
    // expression emits only the INTEGER |A∩B|, so containment and
    // jaccard are integer-ratio doubles both engines compute
    // bit-identically. Inner doc = smaller bigram set (tie → lower id).
    Q("h_containment_pairs", (s, d) => {
      val masks = bigramMasks(s, d)
        .withColumn("nbg",
          expr("aggregate(transform(mask, x -> bit_count(x)), 0, (acc, v) -> acc + v)"))
      val aInner = col("a.nbg") < col("b.nbg") ||
        (col("a.nbg") === col("b.nbg") && col("a.doc_id") < col("b.doc_id"))
      PairJoins.trianglePairs(masks, Seq("lang"), "doc_id", 8)
        .withColumn("inter", expr("bitmask_inter(a.mask, b.mask)"))
        .withColumn("cont",
          col("inter") / least(col("a.nbg"), col("b.nbg")).cast("double"))
        .filter(col("cont") >= 0.6)
        .select(
          when(aInner, col("a.doc_id")).otherwise(col("b.doc_id")).as("doc_inner"),
          when(aInner, col("b.doc_id")).otherwise(col("a.doc_id")).as("doc_outer"),
          col("lang"), r6(col("cont")).as("containment"),
          r6(col("inter") /
            (col("a.nbg") + col("b.nbg") - col("inter")).cast("double")).as("jaccard"))
        .orderBy("doc_inner", "doc_outer")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
        |                                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.lang,
        |    len(list_intersect(a.bg, b.bg)) AS inter,
        |    len(a.bg) AS na, len(b.bg) AS nb
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |SELECT
        |  CASE WHEN na < nb OR (na = nb AND da < db) THEN da ELSE db END AS doc_inner,
        |  CASE WHEN na < nb OR (na = nb AND da < db) THEN db ELSE da END AS doc_outer,
        |  lang,
        |  ROUND(inter / CAST(LEAST(na, nb) AS DOUBLE), 6) AS containment,
        |  ROUND(inter / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
        |FROM p WHERE inter / CAST(LEAST(na, nb) AS DOUBLE) >= 0.6
        |ORDER BY doc_inner, doc_outer""".stripMargin)),

    // Dedup-threshold sensitivity sweep — the tuning table behind every
    // "what j cutoff do we ship?" decision: for each candidate threshold
    // 0.3..0.8 (×10, integer column), how many bigram-Jaccard pairs
    // survive, how many distinct docs they touch, and the mean surviving
    // similarity. One pass over the SAME pair pipeline h_ngram_jaccard
    // runs (shared bigramMasks artifact + blocked triangle join), then a
    // 6-way threshold explode on the PAIR table (pairs × 6 rows — pair-
    // table-sized, not corpus-sized) + two bounded aggs. The sweep
    // compares the ROUNDED jaccard everywhere so a value landing on a
    // cutoff is classified identically in both engines. At 100 TB this
    // is the cheap read every pipeline re-runs after re-crawling: the
    // quadratic is in building pairs (see h_ngram_jaccard's notes), the
    // sweep itself is metadata-sized.
    Q("h_dedup_threshold_sweep", (s, d) => {
      val masks = bigramMasks(s, d)
      val pairs = PairJoins.trianglePairs(masks, Seq("lang"), "doc_id", 8)
        .withColumn("jr", r6(expr("bitmask_jaccard(a.mask, b.mask)")))
        .filter(col("jr") >= 0.3)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("jr"))
      val sweep = pairs
        .select(col("doc_a"), col("doc_b"), col("jr"),
          explode(array((3 to 8).map(lit): _*)).as("t10"))
        .filter(col("jr") >= col("t10") / 10.0)
      val pagg = sweep.groupBy(col("t10"))
        .agg(count(lit(1)).as("n_pairs"),
          decAvg(col("jr")).as("avg_jaccard"))
      val dagg = sweep
        .select(col("t10"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .groupBy(col("t10"))
        .agg(countDistinct(col("doc")).as("n_docs"))
      pagg.join(dagg, "t10")
        .select(col("t10"), col("n_pairs"), col("n_docs"), col("avg_jaccard"))
        .orderBy("t10")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |                                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      ROUND(len(list_intersect(a.bg, b.bg))
         |            / CAST(len(list_distinct(a.bg || b.bg)) AS DOUBLE), 6) AS jr
         |    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         |  WHERE jr >= 0.3),
         |sweep AS (
         |  SELECT p.doc_a, p.doc_b, p.jr, CAST(th.t10 AS INT) AS t10
         |  FROM pairs p CROSS JOIN
         |    (SELECT UNNEST(generate_series(3, 8)) AS t10) th
         |  WHERE p.jr >= th.t10 / 10.0),
         |pagg AS (
         |  SELECT t10, COUNT(*) AS n_pairs,
         |    ${dSum("jr")} / COUNT(*) AS avg_jaccard
         |  FROM sweep GROUP BY t10),
         |docs AS (
         |  SELECT t10, COUNT(DISTINCT doc) AS n_docs FROM (
         |    SELECT t10, doc_a AS doc FROM sweep
         |    UNION ALL SELECT t10, doc_b FROM sweep)
         |  GROUP BY t10)
         |SELECT p.t10, p.n_pairs, d.n_docs, p.avg_jaccard
         |FROM pagg p JOIN docs d USING (t10) ORDER BY p.t10""".stripMargin)),

    // MinHash + LSH near-dedup. Spark side: 64-hash signature → 32 bands
    // of 2 → bucket-join for candidates → exact-Jaccard verify (j >= 0.9).
    // Oracle: brute-force all pairs (only feasible at oracle scale).
    // 16 bands × 4 rows: P[miss | j >= 0.9] = (1 − 0.9⁴)^16 ≈ 3.6e-8 —
    // exhaustive in expectation on the graded corpus, with band
    // collisions at j≈0.5-0.7 ~10× rarer than rows=2 would give, which
    // is what bounds the candidate-join volume on this pathologically
    // self-similar corpus (74% of pairs exceed j=0.5). Node contraction
    // before banding (identical token sets → identical signatures →
    // every-band collisions) cuts raw band collisions by more than half;
    // pair reconstitution is membership joins, never collect_list. Full
    // design notes on minhashNearDupPairs.
    Q("h_minhash_lsh_dedup", (s, d) => {
      minhashNearDupPairs(s, d, byLang = false)
        .orderBy("doc_a", "doc_b")
    }, Some(
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ROUND(len(list_intersect(a.toks, b.toks))
        |        / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks))
        |      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // WIDE-VOCABULARY banded-MinHash near-dedup — the general-corpus
    // form of h_minhash_lsh_dedup, with NO fixed vocabulary bound
    // anywhere on the path. The shingle space is word BIGRAMS (961
    // types on this corpus — 15× past the 64-token single-long mask
    // domain): sets encode as WIDTH-ADAPTIVE array<long> masks
    // (bigramMasks — ceil(|vocab|/64) longs, width read off the data,
    // so the docMasks raise_error guard is unreachable by
    // construction), node contraction groups on the mask, MinHash
    // signatures hash the string shingles of each representative, and
    // the exact-Jaccard verify on band collisions is the native
    // codegen'd bitmask_jaccard popcount loop. Same banding math as
    // the token-set op (64 hashes, 16 bands × 4 rows →
    // P[miss | j ≥ 0.9] ≈ 3.6e-8); the DuckDB oracle recomputes ALL
    // bigram-Jaccard pairs brute force, so LSH recall over the wide
    // shingle space is itself parity-checked. 100 TB shape: shingling,
    // masks and signatures are map-side; the only shuffles are the
    // contraction groupBy and the (band, hash) equi-join, whose
    // payload is the bounded mask, never shingle arrays. (A first cut
    // carried sorted shingle ARRAYS through the candidate join and
    // verified with array_intersect — correct, but 24 s at sf0.1 vs
    // ~2 s for this form: this corpus's band-collision volume makes
    // the per-pair verify cost and join payload THE knobs.)
    // Full pipeline: widevocabPairsBuild (memoized per corpus via
    // widevocabPairs, like the token-set pair table).
    Q("h_minhash_widevocab", (s, d) => {
      widevocabPairs(s, d).orderBy("doc_a", "doc_b")
    }, Some(duckBigramBrutePairs)),

    // Prefix-filtering exact similarity join (AllPairs/PPJoin, Bayardo
    // et al. WWW'07) — the sketch-free sub-quadratic path to the SAME
    // bigram-Jaccard ≥ 0.9 pair set h_minhash_widevocab reaches by
    // banded MinHash, so the two independent algorithms share one
    // brute-force oracle. Prefix filtering is LOSSLESS for a Jaccard
    // threshold: order the vocabulary by ascending document frequency
    // (rarest first); a doc with n distinct bigrams keeps only its
    // p = n − ⌈0.9·n⌉ + 1 rarest as its PREFIX (exact integer
    // arithmetic, identical in both engines), and any pair reaching
    // J ≥ 0.9 must collide on a token present in BOTH prefixes — so
    // candidates come from one token-keyed equi-join of the small
    // prefix postings, the integer size filter 10·min(n) ≥ 9·max(n)
    // prunes before masks load, and the native bitmask verify keeps
    // exactly the qualifying pairs. 100 TB shape: prefix postings are
    // ~n/10 of the token table keyed by the RAREST tokens (the
    // shortest posting lists); rarity ordering needs no global rank at
    // all — (dfb, b) itself is a total order over the vocabulary, so
    // the per-doc prefix cut sorts on it directly inside the doc-keyed
    // window and the df table attaches by a b-keyed equi-join (AQE
    // broadcasts it when it fits, shuffles when the vocab outgrows the
    // threshold — no vocab-sized single-partition stage anywhere).
    Q("h_prefix_filter_pairs", (s, d) => {
      val masks = bigramMasks(s, d)
      // prefix postings memoized+materialized per corpus: a production
      // pipeline builds the postings index once; the self-join below
      // would otherwise re-execute the tok/df/window chain twice
      val prefix = Q.artifact(s, d, "prefixPostings")(
        prefixPostingsBuild(s, d))
      // size filter INSIDE the candidate join (postings carry n): at
      // τ=0.9 the 10·min ≥ 9·max cut discards most in-bucket pairs
      // before the distinct and the mask joins ever see them
      val cand = prefix.select(col("doc_id").as("id_a"), col("b"),
          col("n").as("na"))
        .join(prefix.select(col("doc_id").as("id_b"), col("b"),
          col("n").as("nb")), "b")
        .filter(col("id_a") < col("id_b") &&
          least(col("na"), col("nb")) * 10 >= greatest(col("na"), col("nb")) * 9)
        .select("id_a", "id_b").distinct()
      cand
        .join(masks.select(col("doc_id").as("id_a"), col("mask").as("ma")), "id_a")
        .join(masks.select(col("doc_id").as("id_b"), col("mask").as("mb")), "id_b")
        .withColumn("j", expr("bitmask_jaccard(ma, mb)"))
        .filter(col("j") >= 0.9)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          r6(col("j")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }, Some(duckBigramBrutePairs)),

    // Transitive dedup clusters: connected components over the exact
    // near-dup pair graph (same-lang, j >= 0.9), labels = min doc_id per
    // component. Spark side is iterative min-label propagation (the
    // standard distributed CC: each round is one join + one groupBy,
    // lineage truncated via localCheckpoint; converges in O(log
    // diameter) rounds). Oracle: DuckDB recursive-CTE transitive
    // closure. Output: every doc with its cluster representative and
    // cluster size — the "keep one per duplicate group" primitive.
    Q("h_dedup_clusters", (s, d) => {
      val docLabels = ccDocLabels(s, d)
      val sizes = docLabels.groupBy(col("rep")).agg(count(lit(1)).as("n_members"))
      docLabels.join(sizes, "rep")
        .select(col("doc_id"), col("rep").as("cluster_rep"), col("n_members"))
        .orderBy("doc_id")
    }, Some(ccOracle(
      """SELECT rep.doc_id, rep.cluster_rep, sz.n_members
        |FROM rep JOIN (SELECT cluster_rep, COUNT(*) AS n_members
        |               FROM rep GROUP BY cluster_rep) sz USING (cluster_rep)
        |ORDER BY doc_id""".stripMargin))),

    // Leak-free train/val/test split: the coin hashes the near-dup
    // CLUSTER representative, not the doc id, so a whole duplicate
    // cluster always lands in one split — h_split_assign's per-doc coin
    // is reproducible but lets near-duplicates of a train doc leak into
    // test, the classic eval contamination. Reuses the memoized CC
    // labels; one join + one hash aggregate on top. Output is the per
    // (lang, split) census with the cluster count — train/val/test
    // cluster ratios track 90/5/5 while doc ratios may not (big
    // clusters move as blocks), which is exactly the point.
    Q("h_split_leakfree", (s, d) => {
      // Q.coin runs the multiply in DECIMAL(38,0), not BIGINT: with
      // 64-bit doc ids `rep * 2654435761` would overflow Int64 above
      // rep ~3.47e9, where Spark (non-ANSI) wraps silently negative
      // while DuckDB raises — the decimal product is exact and
      // identical in both engines at any id scale. Same spelling in
      // the oracle below.
      val repCoin = Q.coin("rep") + " % 100"
      val split3 = when(expr(repCoin) < 90, "train")
        .when(expr(repCoin) < 95, "val")
        .otherwise("test")
      ccDocLabels(s, d)
        .join(Io.table(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("split", split3)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_clusters"))
        .orderBy("lang", "split")
    }, Some(ccOracle(
      s""", a AS (
        |  SELECT d.lang, r.cluster_rep,
        |    CASE WHEN ${Q.coin("r.cluster_rep")} % 100 < 90 THEN 'train'
        |         WHEN ${Q.coin("r.cluster_rep")} % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents d JOIN rep r ON r.doc_id = d.doc_id)
        |SELECT lang, split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT cluster_rep) AS n_clusters
        |FROM a GROUP BY lang, split ORDER BY lang, split""".stripMargin))),

    // Eval-leak CENSUS — the leak-free guarantee as a checked number:
    // for every near-dup pair, do its two docs land in the same split?
    // Under the naive per-doc hash split, near-dup twins routinely
    // straddle train/val (the contamination channel h_split_leakfree
    // exists to close); under the cluster-representative split the
    // cross-split count is ZERO BY CONSTRUCTION (both members share the
    // cluster rep, hence the coin, hence the split) — and this query
    // makes the oracle PROVE both numbers rather than trust the
    // argument. Scale: two broadcast-sized joins of the memoized pair
    // table against the memoized CC labels + one aggregate; both
    // artifacts already exist for the rest of the dedup family.
    Q("h_split_leak_census", (s, d) => {
      def docCoin(c: String) =
        Q.coin(c) + " % 100"
      def split3(c: String) = when(expr(docCoin(c)) < 90, "train")
        .when(expr(docCoin(c)) < 95, "val").otherwise("test")
      val labels = ccDocLabels(s, d)
      val withReps = minhashNearDupPairs(s, d, byLang = true)
        .select(col("doc_a"), col("doc_b"))
        .join(labels.select(col("doc_id").as("doc_a"), col("rep").as("rep_a")), "doc_a")
        .join(labels.select(col("doc_id").as("doc_b"), col("rep").as("rep_b")), "doc_b")
      def census(scheme: String, ca: String, cb: String) =
        withReps.agg(count(lit(1)).as("n_pairs"),
          sum(when(split3(ca) =!= split3(cb), 1L).otherwise(0L)).as("n_cross_split"))
          .select(lit(scheme).as("scheme"), col("n_pairs"), col("n_cross_split"))
      census("naive_docid", "doc_a", "doc_b")
        .unionByName(census("leakfree_cluster", "rep_a", "rep_b"))
        .orderBy("scheme")
    }, Some {
      def sCase(c: String) =
        s"""CASE WHEN ${Q.coin(c)} % 100 < 90 THEN 'train'
           |     WHEN ${Q.coin(c)} % 100 < 95 THEN 'val'
           |     ELSE 'test' END""".stripMargin
      ccOracle(
        s""", pr AS (
           |  SELECT p.doc_a, p.doc_b, ra.cluster_rep AS rep_a, rb.cluster_rep AS rep_b
           |  FROM pairs p
           |    JOIN rep ra ON ra.doc_id = p.doc_a
           |    JOIN rep rb ON rb.doc_id = p.doc_b)
           |SELECT 'leakfree_cluster' AS scheme, COUNT(*) AS n_pairs,
           |  CAST(SUM(CASE WHEN (${sCase("rep_a")}) <> (${sCase("rep_b")})
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_split
           |FROM pr
           |UNION ALL
           |SELECT 'naive_docid' AS scheme, COUNT(*) AS n_pairs,
           |  CAST(SUM(CASE WHEN (${sCase("doc_a")}) <> (${sCase("doc_b")})
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_split
           |FROM pr
           |ORDER BY scheme""".stripMargin)
    }),

    // Deletion-request propagation (GDPR/right-to-be-forgotten at
    // 100 TB): removing a document invalidates derived artifacts beyond
    // its own row — its near-dup cluster's membership must be revisited
    // and, when the deleted doc IS the cluster representative (min-id),
    // the cluster's rep (and every split/coin decision keyed on it) must
    // be recomputed. This census quantifies the blast radius of a
    // deterministic delete list (doc_id % 97 = 0): requests, affected
    // clusters, surviving co-tenant docs, and rep-orphaned clusters.
    // Scale: the delete list and affected-cluster set are request-sized
    // (broadcast); one pass over the memoized metadata-sized CC labels —
    // file contents are never touched, exactly like a production
    // tombstone sweep.
    Q("h_delete_propagation", (s, d) => {
      val labels = ccDocLabels(s, d)
      val affected = labels.filter(col("doc_id") % 97 === 0)
        .select(col("rep")).distinct()
      labels.join(broadcast(affected), "rep")
        .withColumn("is_del", col("doc_id") % 97 === 0)
        .agg(sum(when(col("is_del"), 1L).otherwise(0L)).as("n_delete_requests"),
          countDistinct(col("rep")).as("n_affected_clusters"),
          sum(when(!col("is_del"), 1L).otherwise(0L)).as("n_cotenant_docs"),
          countDistinct(when(col("rep") % 97 === 0, col("rep")))
            .as("n_rep_orphaned"))
    }, Some(ccOracle(
      """, aff AS (SELECT DISTINCT cluster_rep FROM rep WHERE doc_id % 97 = 0),
        |m AS (SELECT r.doc_id, r.cluster_rep, (r.doc_id % 97 = 0) AS is_del
        |      FROM rep r JOIN aff a ON a.cluster_rep = r.cluster_rep)
        |SELECT CAST(SUM(CASE WHEN is_del THEN 1 ELSE 0 END) AS BIGINT) AS n_delete_requests,
        |  COUNT(DISTINCT cluster_rep) AS n_affected_clusters,
        |  CAST(SUM(CASE WHEN is_del THEN 0 ELSE 1 END) AS BIGINT) AS n_cotenant_docs,
        |  COUNT(DISTINCT CASE WHEN cluster_rep % 97 = 0 THEN cluster_rep END) AS n_rep_orphaned
        |FROM m""".stripMargin))),

    // Quality-aware representative selection: within each near-dup
    // cluster keep the HIGHEST-QUALITY member (h_quality_score's
    // formula), not the min-id one — what a production dedup actually
    // ships. Reuses the CC labels; the argmax is one windowed
    // row_number over (cluster, quality desc, doc_id). Quality snaps to
    // DECIMAL(38,6) before comparison so the argmax pick is identical
    // across engines even when two members' qualities differ below 1e-6.
    Q("h_dedup_best", (s, d) => {
      val t = Q.toks
      val nTok = size(t).cast("double")
      val ttr = size(array_distinct(t)) / nTok
      val stopRatio = size(filter(t, x => x === "the" || x === "a")) / nTok
      val lenSat = least(nTok / 100.0, lit(1.0))
      val quality = (lit(0.3) * ttr + lit(0.4) * (lit(1.0) - stopRatio) +
        lit(0.3) * lenSat).cast("decimal(38,6)").cast("double")
      val q = Io.table(s, d, "documents")
        .select(col("doc_id"), quality.as("quality"))
      val wRank = Window.partitionBy(col("rep"))
        .orderBy(col("quality").desc, col("doc_id"))
      ccDocLabels(s, d).join(q, "doc_id")
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("rep"))))
        .filter(col("rn") === 1)
        .select(col("rep").as("cluster_rep"), col("n_members"),
          col("doc_id").as("best_doc"), col("quality").as("best_quality"))
        .orderBy("cluster_rep")
    }, Some(ccOracle(
      """, q AS (
        |  -- raw (NOT deduped) tokens: quality must match h_quality_score's
        |  -- formula over split(text), while ccOracle's t.toks is
        |  -- list_distinct'd for the Jaccard graph — recompute from text.
        |  SELECT doc_id,
        |    -- VARCHAR hop: DuckDB's direct double->decimal cast rounds the
        |    -- multiply boundary the wrong way (0.6966874999999999 ->
        |    -- .696688 vs Spark's repr-based .696687 — bit at sf0.1);
        |    -- the string hop replicates Spark's shortest-repr rounding
        |    CAST(CAST(CAST(0.3 * (len(list_distinct(rt)) / CAST(len(rt) AS DOUBLE))
        |       + 0.4 * (1.0 - len(list_filter(rt, x -> x = 'the' OR x = 'a'))
        |                      / CAST(len(rt) AS DOUBLE))
        |       + 0.3 * LEAST(len(rt) / 100.0, 1.0)
        |       AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS quality
        |  FROM (SELECT doc_id, string_split(text, ' ') AS rt FROM documents)),
        |best AS (
        |  SELECT rep.cluster_rep, rep.doc_id, q.quality,
        |    ROW_NUMBER() OVER (PARTITION BY rep.cluster_rep
        |      ORDER BY q.quality DESC, rep.doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY rep.cluster_rep) AS n_members
        |  FROM rep JOIN q USING (doc_id))
        |SELECT cluster_rep, CAST(n_members AS BIGINT) AS n_members,
        |  doc_id AS best_doc, quality AS best_quality
        |FROM best WHERE rn = 1 ORDER BY cluster_rep""".stripMargin))),

    // Incremental dedup: the daily-ingest shape — dedup a NEW batch
    // against the historical corpus, never the corpus against itself.
    // History = doc_id % 10 < 8 (stand-in for the existing corpus),
    // increment = the rest. Two tiers per increment doc:
    //   exact  — normalized-text hash seen in history (one equi-join on
    //            the content digest; at 100 TB the history side is a
    //            bucketed hash index, the increment a small batch);
    //   near   — token-set Jaccard >= 0.9 against ANY history doc, via
    //            the shared banded-MinHash pair table (the increment
    //            never cross-joins history — candidates come from the
    //            same (band, hash) buckets as the batch dedup, and the
    //            DuckDB oracle recomputes them brute force, so recall
    //            against history is parity-checked too).
    // Verdict: 'exact' > 'near' > 'keep', with the minimum matching
    // history doc as provenance.
    Q("h_incremental_dedup", (s, d) => {
      val isHist = (c: Column) => c % 10 < 8
      val t = Io.table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          sha2(trim(lower(col("text"))), 256).as("eh"))
      val exactM = t.filter(isHist(col("doc_id")))
        .groupBy(col("eh")).agg(min(col("doc_id")).as("exact_match"))
      val p = minhashNearDupPairs(s, d, byLang = false).select("doc_a", "doc_b")
      val nearM = p.filter(isHist(col("doc_a")) && !isHist(col("doc_b")))
        .select(col("doc_b").as("doc_id"), col("doc_a").as("h"))
        .union(p.filter(isHist(col("doc_b")) && !isHist(col("doc_a")))
          .select(col("doc_a").as("doc_id"), col("doc_b").as("h")))
        .groupBy(col("doc_id")).agg(min(col("h")).as("near_match"))
      t.filter(!isHist(col("doc_id")))
        .join(exactM, Seq("eh"), "left")
        .join(nearM, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("exact_match").isNotNull, "exact")
            .when(col("near_match").isNotNull, "near")
            .otherwise("keep").as("status"),
          coalesce(col("exact_match"), col("near_match")).as("matched_history_doc"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks,
        |    sha256(TRIM(LOWER(text))) AS eh
        |  FROM documents),
        |hist AS (SELECT * FROM t WHERE doc_id % 10 < 8),
        |inc AS (SELECT * FROM t WHERE doc_id % 10 >= 8),
        |ex AS (
        |  SELECT i.doc_id, MIN(h.doc_id) AS m
        |  FROM inc i JOIN hist h ON i.eh = h.eh GROUP BY i.doc_id),
        |nr AS (
        |  SELECT i.doc_id, MIN(h.doc_id) AS m
        |  FROM inc i JOIN hist h
        |    ON len(list_intersect(i.toks, h.toks))
        |       / CAST(len(list_distinct(i.toks || h.toks)) AS DOUBLE) >= 0.9
        |  GROUP BY i.doc_id)
        |SELECT i.doc_id, i.lang,
        |  CASE WHEN ex.m IS NOT NULL THEN 'exact'
        |       WHEN nr.m IS NOT NULL THEN 'near'
        |       ELSE 'keep' END AS status,
        |  COALESCE(ex.m, nr.m) AS matched_history_doc
        |FROM inc i LEFT JOIN ex ON i.doc_id = ex.doc_id
        |           LEFT JOIN nr ON i.doc_id = nr.doc_id
        |ORDER BY i.doc_id""".stripMargin)),

    // SimHash near-dup: 32-bit signatures, pairs at hamming <= 2 via
    // 4-band blocking (exact by pigeonhole for hamming <= 3).
    Q("h_simhash_dedup", (s, d) => {
      simhashPairs(s, d).orderBy("doc_a", "doc_b")
    }, Some(
      s"""WITH $simhashPairsSql
         |SELECT doc_a, doc_b, hamming FROM shp
         |ORDER BY doc_a, doc_b""".stripMargin)),

    // Cross-SOURCE near-dup matrix: the j ≥ 0.9 token-set pair table
    // bucketed by the (unordered) source pair — which sources copy from
    // which, and how similar the copies are. The provenance counterpart
    // of h_crosslang_neardup (cross-language) and h_source_overlap
    // (EXACT-duplicate collisions): near-dup leakage between sources is
    // what double-counts a crawl in mixture weights even when no byte-
    // exact copy exists. Reuses the memoized pair artifact; this query
    // adds two doc→source joins and one matrix-sized aggregate.
    Q("h_source_neardup_matrix", (s, d) => {
      val src = Io.table(s, d, "documents").select(col("doc_id"), col("source"))
      minhashNearDupPairs(s, d, byLang = false)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .groupBy(least(col("sa"), col("sb")).as("src1"),
          greatest(col("sa"), col("sb")).as("src2"))
        // RAW double mean, not snapped: the inputs (r6-rounded pair
        // jaccards, exact decimal sum, integer count) are bit-identical
        // across engines and the quotient is one shared double op —
        // whereas snapping can land on a 1e-6 midpoint and hit DuckDB's
        // mis-rounded double→decimal cast (bit-diff seen at sf0.001:
        // 9.261985/10). Same reasoning as g_seasonality_dow.
        .agg(count(lit(1)).as("n_pairs"),
          decAvg(col("jaccard")).as("avg_jaccard"))
        .orderBy("src1", "src2")
    }, Some(
      """WITH t AS (SELECT doc_id, source,
        |             list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents),
        |p AS (
        |  SELECT LEAST(a.source, b.source) AS src1,
        |    GREATEST(a.source, b.source) AS src2,
        |    ROUND(len(list_intersect(a.toks, b.toks))
        |          / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6) AS j
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks))
        |        / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.9)
        |SELECT src1, src2, COUNT(*) AS n_pairs,
        |  CAST(SUM(CAST(j AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_jaccard
        |FROM p GROUP BY src1, src2 ORDER BY src1, src2""".stripMargin)),

    // Dedup-method agreement census: the banded-MinHash token-set pair
    // table (j ≥ 0.9) vs the SimHash pair table (hamming ≤ 2) on the
    // SAME corpus, full-outer-joined on the pair key — how many near-
    // dup pairs each method finds that the other misses. This is the
    // calibration read every pipeline does before picking its dedup
    // method (Jaccard thresholds and hamming radii are NOT equivalent
    // cuts; the census makes the disagreement a checked number). Both
    // sides are memoized artifacts the individual queries already
    // verify against brute-force oracles; the census itself is one
    // pair-keyed full-outer join + one 3-row aggregate.
    Q("h_dedup_method_agreement", (s, d) => {
      val mh = minhashNearDupPairs(s, d, byLang = false)
        .select(col("doc_a"), col("doc_b"), lit(1).as("m"))
      val sh = simhashPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit(1).as("h"))
      mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
        .select(when(col("m").isNotNull && col("h").isNotNull, "both")
          .when(col("m").isNotNull, "minhash_only")
          .otherwise("simhash_only").as("method"))
        .groupBy(col("method")).agg(count(lit(1)).as("n_pairs"))
        .orderBy("method")
    }, Some(
      s"""WITH $simhashPairsSql,
         |tt AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
         |       FROM documents),
         |mh AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM tt a JOIN tt b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.toks, b.toks))
         |        / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.9)
         |SELECT CASE WHEN m.doc_a IS NOT NULL AND s2.doc_a IS NOT NULL THEN 'both'
         |            WHEN m.doc_a IS NOT NULL THEN 'minhash_only'
         |            ELSE 'simhash_only' END AS method,
         |  COUNT(*) AS n_pairs
         |FROM mh m FULL JOIN shp s2
         |  ON m.doc_a = s2.doc_a AND m.doc_b = s2.doc_b
         |GROUP BY 1 ORDER BY method""".stripMargin)),

    // Duplication inflation per source: how much of each source's
    // volume is near-duplicate mass — the census a crawl-mix owner
    // reads before assigning sampling weights (a source that is 40%
    // dup contributes far fewer effective tokens than its row count
    // suggests). Reuses the memoized CC labels: docs in a cluster of
    // size > 1 are dup members; effective docs = distinct clusters
    // touched by the source. Cost on top of the shared CC artifact is
    // one broadcast-sized join + one aggregate on source.
    Q("h_dup_inflation", (s, d) => {
      val sizes = ccDocLabels(s, d).groupBy(col("rep"))
        .agg(count(lit(1)).as("csize"))
      val src = Io.table(s, d, "documents").select(col("doc_id"), col("source"))
      ccDocLabels(s, d).join(sizes, "rep").join(src, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_dup_members"),
          countDistinct(col("rep")).as("n_clusters"))
        .select(col("source"), col("n_docs"), col("n_dup_members"),
          col("n_clusters"),
          (col("n_dup_members") / col("n_docs"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 6))
            .cast("double").as("dup_frac"))
        .orderBy("source")
    }, Some(ccOracle(
      s"""SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN sz.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_members,
         |  CAST(COUNT(DISTINCT rep.cluster_rep) AS BIGINT) AS n_clusters,
         |  CAST(CAST(SUM(CASE WHEN sz.n > 1 THEN 1 ELSE 0 END)
         |       / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE) AS dup_frac
         |FROM rep
         |JOIN (SELECT cluster_rep, COUNT(*) AS n FROM rep GROUP BY cluster_rep) sz
         |  USING (cluster_rep)
         |JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin))),

    // Dup-cluster size distribution: how duplicate mass is shaped —
    // many small clusters vs a few giant ones decides dedup strategy
    // (giant clusters are boilerplate; pairs-based thresholds melt
    // down on them). One aggregate on the memoized CC labels; output
    // is bounded by max cluster size.
    Q("h_cluster_size_hist", (s, d) => {
      ccDocLabels(s, d).groupBy(col("rep")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize"))
        .agg(count(lit(1)).as("n_clusters"),
          (count(lit(1)) * col("csize")).as("n_docs"))
        .orderBy("csize")
    }, Some(ccOracle(
      """SELECT csize, COUNT(*) AS n_clusters,
        |  CAST(COUNT(*) * csize AS BIGINT) AS n_docs
        |FROM (SELECT cluster_rep, COUNT(*) AS csize FROM rep GROUP BY cluster_rep)
        |GROUP BY csize ORDER BY csize""".stripMargin))),

    // Edit-distance audit of the LSH candidate pairs: character-level
    // Levenshtein over a deterministic 1-in-7 sample of the
    // banded-MinHash candidates — the second-stage verifier an
    // entity-resolution / fine-dedup pipeline runs when token-set
    // Jaccard is too coarse (word swaps vs true edits). Sampling is
    // how a production audit actually runs (the full candidate set is
    // dup-heavy-quadratic in a crawly corpus — 246k pairs at sf0.1 —
    // and char-level DP is O(len²) per pair); the sample coin is the
    // pair key itself, so both engines audit the identical subset.
    // The Spark side uses the BANDED 3-arg levenshtein (threshold 100
    // → O(len·k) instead of O(len²), the API a scale deployment needs)
    // with its -1 over-threshold sentinel mirrored by a CASE in the
    // oracle. Distance is an exact integer; normalized similarity is
    // one int/int IEEE division.
    Q("h_edit_distance_pairs", (s, d) => {
      val docs = Io.table(s, d, "documents").select(col("doc_id"), col("text"))
      minhashNearDupPairs(s, d, byLang = true)
        .filter((col("doc_a") + col("doc_b")) % 7 === 0)
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")),
          "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb"), 100).as("edit_dist"),
          greatest(length(col("ta")), length(col("tb"))).as("mx"))
        .select(col("doc_a"), col("doc_b"), col("edit_dist"),
          when(col("edit_dist") >= 0,
            lit(1.0) - col("edit_dist").cast("double") /
              col("mx").cast("double")).as("edit_sim"))
        .orderBy("doc_a", "doc_b")
    }, Some(ccOracle(
      """, ed AS (
        |  SELECT p.doc_a, p.doc_b,
        |    CAST(levenshtein(da.text, db.text) AS INT) AS ld,
        |    GREATEST(LENGTH(da.text), LENGTH(db.text)) AS mx
        |  FROM pairs p
        |  JOIN documents da ON da.doc_id = p.doc_a
        |  JOIN documents db ON db.doc_id = p.doc_b
        |  WHERE (p.doc_a + p.doc_b) % 7 = 0)
        |SELECT doc_a, doc_b,
        |  CASE WHEN ld > 100 THEN -1 ELSE ld END AS edit_dist,
        |  CASE WHEN ld > 100 THEN NULL
        |       ELSE 1.0 - CAST(ld AS DOUBLE) / CAST(mx AS DOUBLE) END
        |    AS edit_sim
        |FROM ed ORDER BY doc_a, doc_b""".stripMargin))),

    // Cross-language near-duplicate census: how much near-dup mass
    // (token-set Jaccard ≥ 0.9) CROSSES language tags — the
    // mix-planning red flag for machine-translated or boilerplate
    // content that double-counts effective tokens under several
    // languages. One bounded aggregate over the memoized
    // language-agnostic pair table joined to the doc→lang dimension;
    // the oracle recomputes the cross-language pairs brute force.
    Q("h_crosslang_neardup", (s, d) => {
      val langs = Io.table(s, d, "documents").select(col("doc_id"), col("lang"))
      minhashNearDupPairs(s, d, byLang = false)
        .join(langs.select(col("doc_id").as("doc_a"), col("lang").as("la")), "doc_a")
        .join(langs.select(col("doc_id").as("doc_b"), col("lang").as("lb")), "doc_b")
        .filter(col("la") =!= col("lb"))
        .select(least(col("la"), col("lb")).as("lang_a"),
          greatest(col("la"), col("lb")).as("lang_b"))
        .groupBy(col("lang_a"), col("lang_b"))
        .agg(count(lit(1)).as("n_near_dup_pairs"))
        .orderBy("lang_a", "lang_b")
    }, Some(
      """WITH t AS (SELECT doc_id, lang,
        |             list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents)
        |SELECT LEAST(a.lang, b.lang) AS lang_a,
        |  GREATEST(a.lang, b.lang) AS lang_b,
        |  COUNT(*) AS n_near_dup_pairs
        |FROM t a JOIN t b ON a.doc_id < b.doc_id AND a.lang <> b.lang
        |WHERE len(list_intersect(a.toks, b.toks))
        |      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.9
        |GROUP BY 1, 2 ORDER BY lang_a, lang_b""".stripMargin)),

    // THE END-TO-END PREPROCESSING VERDICT — what a production corpus
    // pipeline actually ships: one row per document with every gate's
    // flag (eval-holdout membership, exact-dup loser, near-dup
    // non-representative, benchmark contamination, bottom-quartile
    // quality for its language) and the composed keep decision. This
    // is where the artifact-sharing layout earns its keep: the
    // near-dup flag is a projection of the memoized CC labels (built
    // once per corpus, shared with 4 other queries), the exact tier is
    // one digest aggregate, contamination rides the broadcast eval
    // shingle dictionary, and the quality floor is the discrete
    // per-lang p25 (cume_dist over a lang-keyed window — engine-exact
    // member values, not interpolations). Shape at 100 TB: the corpus
    // is scanned a bounded number of times, every join is on doc_id or
    // a broadcast dimension, nothing quadratic anywhere. The DuckDB
    // oracle recomputes all five gates from scratch (recursive-CTE
    // transitive closure included), so the COMPOSITION — flag
    // interactions and the final keep bit per document — is what gets
    // hash-checked.
    Q("h_pipeline_verdict", (s, d) => {
      val docs = Io.table(s, d, "documents")
      // scratch (r15): eh feeds the keeper census AND the verdict
      // join — each execution re-hashed every document text.
      val eh = Q.scratch("verdict_eh")(
        docs.select(col("doc_id"),
          sha2(trim(lower(col("text"))), 256).as("eh")))
      val keepers = eh.groupBy(col("eh")).agg(min(col("doc_id")).as("keep_id"))
      val exact = eh.join(keepers, "eh")
        .select(col("doc_id"), (col("doc_id") =!= col("keep_id")).as("is_exact_dup"))
      val near = ccDocLabels(s, d)
        .select(col("doc_id"), (col("rep") =!= col("doc_id")).as("is_near_dup"))
      val sh = ContaminationOps.docShingles(s, d)
      val evalSet = sh.filter(col("doc_id") % 97 === 0)
        .select(col("g")).distinct().withColumn("hit", lit(1))
      val contam = sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalSet), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= 0.05)
          .as("is_contaminated"))
      val rt = Q.toks
      val nTok = size(rt).cast("double")
      val quality = (lit(0.3) * (size(array_distinct(rt)) / nTok) +
        lit(0.4) * (lit(1.0) - size(filter(rt, x => x === "the" || x === "a")) / nTok) +
        lit(0.3) * least(nTok / 100.0, lit(1.0)))
        .cast(org.apache.spark.sql.types.DecimalType(38, 6)).cast("double")
      // scratch (r15): scored feeds the per-lang threshold AND the
      // low-quality flag join — each execution re-tokenized and
      // re-scored every document text.
      val scored = Q.scratch("verdict_scored")(
        docs.select(col("doc_id"), col("lang"), quality.as("quality")))
      val thr = scored
        .withColumn("cd", cume_dist().over(
          Window.partitionBy(col("lang")).orderBy(col("quality"))))
        .filter(col("cd") >= 0.25)
        .groupBy(col("lang")).agg(min(col("quality")).as("lang_p25"))
      val lowq = scored.join(broadcast(thr), "lang")
        .select(col("doc_id"), (col("quality") < col("lang_p25")).as("low_quality"))
      docs.select(col("doc_id"), col("lang"))
        .join(exact, "doc_id").join(near, "doc_id")
        .join(contam, Seq("doc_id"), "left").join(lowq, "doc_id")
        .select(col("doc_id"), col("lang"),
          (col("doc_id") % 97 === 0).as("is_eval"),
          col("is_exact_dup"), col("is_near_dup"),
          coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"),
          col("low_quality"),
          (col("doc_id") % 97 =!= 0 && !col("is_exact_dup") && !col("is_near_dup") &&
            !coalesce(col("is_contaminated"), lit(false)) && !col("low_quality"))
            .as("keep"))
        .orderBy("doc_id")
    }, Some(ccOracle(
      """, eh AS (SELECT doc_id, sha256(TRIM(LOWER(text))) AS h FROM documents),
        |ex AS (SELECT doc_id,
        |         doc_id <> MIN(doc_id) OVER (PARTITION BY h) AS is_exact_dup
        |       FROM eh),
        |s5 AS (
        |  SELECT doc_id,
        |    UNNEST(list_distinct(list_transform(generate_series(1, len(toks) - 4),
        |           i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 5),
        |ev AS (SELECT DISTINCT g FROM s5 WHERE doc_id % 97 = 0),
        |ct AS (
        |  SELECT s5.doc_id,
        |    SUM(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*) >= 0.05
        |      AS is_contaminated
        |  FROM s5 LEFT JOIN ev ON s5.g = ev.g
        |  WHERE s5.doc_id % 97 <> 0 GROUP BY s5.doc_id),
        |m AS (
        |  SELECT doc_id, lang,
        |    -- VARCHAR hop: DuckDB's direct double->decimal cast rounds the
        |    -- multiply boundary the wrong way (0.6966874999999999 ->
        |    -- .696688 vs Spark's repr-based .696687 — bit at sf0.1);
        |    -- the string hop replicates Spark's shortest-repr rounding
        |    CAST(CAST(CAST(0.3 * (len(list_distinct(rt)) / CAST(len(rt) AS DOUBLE))
        |       + 0.4 * (1.0 - len(list_filter(rt, x -> x = 'the' OR x = 'a'))
        |                      / CAST(len(rt) AS DOUBLE))
        |       + 0.3 * LEAST(len(rt) / 100.0, 1.0)
        |       AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS quality
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS rt FROM documents)),
        |cdq AS (SELECT lang, quality,
        |          CUME_DIST() OVER (PARTITION BY lang ORDER BY quality) AS cd
        |        FROM m),
        |thr AS (SELECT lang, MIN(quality) AS lang_p25
        |        FROM cdq WHERE cd >= 0.25 GROUP BY lang),
        |lq AS (SELECT m.doc_id, m.quality < thr.lang_p25 AS low_quality
        |       FROM m JOIN thr USING (lang))
        |SELECT d.doc_id, d.lang,
        |  d.doc_id % 97 = 0 AS is_eval,
        |  ex.is_exact_dup,
        |  rep.cluster_rep <> d.doc_id AS is_near_dup,
        |  COALESCE(ct.is_contaminated, FALSE) AS is_contaminated,
        |  lq.low_quality,
        |  (d.doc_id % 97 <> 0 AND NOT ex.is_exact_dup
        |   AND rep.cluster_rep = d.doc_id
        |   AND NOT COALESCE(ct.is_contaminated, FALSE)
        |   AND NOT lq.low_quality) AS keep
        |FROM documents d
        |JOIN ex USING (doc_id)
        |JOIN rep USING (doc_id)
        |LEFT JOIN ct USING (doc_id)
        |JOIN lq USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)))
  )
}
