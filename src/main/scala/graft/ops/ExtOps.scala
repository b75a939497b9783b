package graft.ops

import graft.io.Io
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import Q._

/** SURVEY.md §2-U — engine extension points (Scala UDF, typed Aggregator
  * UDAF) plus the multimodal-column plumbing.
  *
  * UDFs are deliberately the LAST resort in this engine (they break
  * whole-stage codegen); the two here exist to prove the extension
  * surface and are each cross-checked against a pure-relational oracle
  * that computes the same answer.
  */
object ExtOps {

  /** Token-set Jaccard as a scalar Scala UDF — the HOF-free alternative
    * path for H-row semantics. Division is Int→Double like the engines'.
    */
  private[graft] def jaccardStr(a: String, b: String): Double = {
    val sa = a.split(" ").toSet; val sb = b.split(" ").toSet
    if (sa.isEmpty && sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)
  case class VecBuf(sums: Array[Long], var n: Long)

  /** Typed Aggregator: per-label mean embedding. Accumulates each value
    * as its DECIMAL(38,12) representation scaled to a Long (replicating
    * Spark's double→decimal cast: BigDecimal.valueOf → setScale HALF_UP),
    * so the merge is exact and order-independent — the same determinism
    * contract as Q.decSum, and bit-identical to the h_centroids oracle.
    */
  object VecMean extends Aggregator[Emb, VecBuf, Seq[Double]] {
    private def scaled(v: Double): Long =
      java.math.BigDecimal.valueOf(v).setScale(12, java.math.RoundingMode.HALF_UP)
        .movePointRight(12).longValueExact()
    // dimension comes from the first row each buffer sees (Q.coin
    // discipline: nothing hardcodes 64); a ragged vector then fails
    // loudly on the length check instead of silently truncating.
    def zero: VecBuf = VecBuf(Array.emptyLongArray, 0L)
    def reduce(b0: VecBuf, e: Emb): VecBuf = {
      val b = if (b0.n == 0L && b0.sums.isEmpty)
        VecBuf(new Array[Long](e.embedding.length), 0L) else b0
      require(e.embedding.length == b.sums.length,
        s"VecMean: ragged embedding (${e.embedding.length} vs ${b.sums.length})")
      var i = 0
      while (i < b.sums.length) { b.sums(i) += scaled(e.embedding(i).toDouble); i += 1 }
      b.n += 1; b
    }
    def merge(x: VecBuf, y: VecBuf): VecBuf = {
      if (x.n == 0L) return y
      if (y.n == 0L) return x
      require(x.sums.length == y.sums.length,
        s"VecMean: ragged buffers (${x.sums.length} vs ${y.sums.length})")
      var i = 0
      while (i < x.sums.length) { x.sums(i) += y.sums(i); i += 1 }
      x.n += y.n; x
    }
    def finish(b: VecBuf): Seq[Double] =
      b.sums.toSeq.map(s => (s.toDouble / 1e12) / b.n)
    def bufferEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]
    def outputEncoder: Encoder[Seq[Double]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  val all: Seq[Q] = Seq(
    // Scalar UDF path, cross-checked against DuckDB list arithmetic.
    Q("u_udf_scalar", (s, d) => {
      val jac = udf(jaccardStr _)
      val t = Io.table(s, d, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"), col("lang"), col("text"))
      val a = t.select(col("doc_id").as("doc_a"), col("lang"), col("text").as("ta"))
      val b = t.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"), col("text").as("tb"))
      a.join(b, col("lang") === col("lang_b") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("lang"), r6(jac(col("ta"), col("tb"))).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }, Some(
      """WITH t AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents WHERE doc_id < 30)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
        |  ROUND(len(list_intersect(a.toks, b.toks))
        |        / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6) AS jaccard
        |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Typed Aggregator UDAF — must reproduce h_centroids exactly.
    Q("u_udaf_aggregator", (s, d) => {
      import s.implicits._
      Io.table(s, d, "embeddings").as[Emb]
        .groupByKey(_.label)
        .agg(VecMean.toColumn.name("means"))
        .toDF("label", "means")
        .select(col("label"), posexplode(col("means")).as(Seq("pos0", "m")))
        .select(col("label"), (col("pos0") + 1).as("pos"), r6(col("m")).as("centroid"))
        .orderBy("label", "pos")
    }, Some(
      """SELECT label, CAST(i AS INT) AS pos,
        |  ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |        / COUNT(*), 6) AS centroid
        |FROM embeddings, (SELECT UNNEST(generate_series(1, 64)) AS i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin)),

    // The Generator/UDTF extension point as a CHECKED row (previously
    // scalatest-only): the native ExplodeNgrams table function fans the
    // corpus into word TRIGRAMS inside GenerateExec — the same
    // distributed per-row expansion explode() gets, no driver
    // involvement — and the census is hash-checked against a DuckDB
    // twin that builds the identical trigrams relationally (split with
    // trailing-empty-token retention on both engines — the tokenizer-
    // parity class). Top-20 fused via TakeOrderedAndProject.
    Q("u_udtf_ngrams", (s, d) => {
      Io.table(s, d, "documents")
        .selectExpr("explode_ngrams(text, 3) AS trigram")
        .groupBy(col("trigram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("trigram"))
        .limit(20)
    }, Some(
      """WITH t AS (
        |  SELECT UNNEST(list_transform(generate_series(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
        |    AS trigram
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents))
        |SELECT trigram, COUNT(*) AS cnt FROM t
        |GROUP BY trigram ORDER BY cnt DESC, trigram LIMIT 20""".stripMargin)),

    // Multimodal plumbing: media as opaque binary + typed metadata. The
    // "decode" here is a deterministic metadata extractor over the bytes
    // (real decoders slot into the same per-row map; see
    // graft.streaming.MultimodalPipeline for the typed mapPartitions
    // variant with batch shape).
    Q("h_multimodal_meta", (s, d) => {
      Io.table(s, d, "documents")
        .withColumn("media", col("text").cast("binary"))
        .select(col("doc_id"),
          length(col("media")).as("n_bytes"),
          (lit(32) + (length(col("media")) % 608)).as("width"),
          (lit(32) + ((length(col("media")) * 7) % 608)).as("height"),
          lit(3).as("channels"),
          r6(ascii(substring(col("text"), 1, 1)) / 255.0).as("mean_px"),
          expr("CAST((CAST(length(media) AS BIGINT) * 30) DIV 100 + 1 AS INT)").as("n_frames"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |  CAST(32 + octet_length(CAST(text AS BLOB)) % 608 AS INT) AS width,
        |  CAST(32 + (octet_length(CAST(text AS BLOB)) * 7) % 608 AS INT) AS height,
        |  3 AS channels,
        |  ROUND(ascii(substr(text, 1, 1)) / 255.0, 6) AS mean_px,
        |  CAST(octet_length(CAST(text AS BLOB)) * 30 // 100 + 1 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Frame sampling over the media column: every 10th frame index of
    // each "video" becomes a row (sequence + explode — the row-explosion
    // shape a real decoder plugs into), with a deterministic per-frame
    // fingerprint standing in for decoded-frame features. At 100 TB the
    // explode is map-side only; no shuffle until a downstream agg.
    Q("h_media_framesample", (s, d) => {
      Io.table(s, d, "documents").filter(col("doc_id") < 100)
        .withColumn("media", col("text").cast("binary"))
        .withColumn("n_frames",
          expr("CAST((CAST(length(media) AS BIGINT) * 30) DIV 100 + 1 AS INT)"))
        .select(col("doc_id"), col("n_frames"),
          explode(sequence(lit(0), col("n_frames") - 1, lit(10))).as("frame_idx"))
        // Per-frame fingerprint: the multiply is DECIMAL(38,0)-promoted
        // (Q.coin discipline) so a 64-bit doc_id cannot silently wrap —
        // then cast back to BIGINT (value < 1e9 after the mod).
        .withColumn("frame_sig",
          expr("CAST((CAST(doc_id AS DECIMAL(38,0)) * 1000003 + frame_idx)" +
            " * 2654435761 % 1000000007 AS BIGINT)"))
        .orderBy("doc_id", "frame_idx")
    }, Some(
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(octet_length(CAST(text AS BLOB)) * 30 // 100 + 1 AS INT) AS n_frames
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, n_frames, CAST(f AS INT) AS frame_idx,
        |  CAST((CAST(doc_id AS DECIMAL(38,0)) * 1000003 + f) * 2654435761 % 1000000007 AS BIGINT) AS frame_sig
        |FROM m, LATERAL UNNEST(generate_series(0, n_frames - 1, 10)) AS u(f)
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Multimodal with REAL container bytes: each doc carries an actual
    // spec-valid PNG (even ids) or PCM WAV (odd ids) blob — encoded
    // pure-JVM by graft.io.MediaCodec, whose output MultimodalSpec
    // independently decodes with the JDK's own javax.imageio /
    // javax.sound readers — and the query PARSES the metadata back OUT
    // of the bytes (big-endian IHDR walk, little-endian RIFF walk, CRC
    // and declared-size integrity checks). The oracle recomputes every
    // field from the encode parameters plus the format's literal magic
    // bytes, so a wrong parse (or a malformed encode) hash-mismatches;
    // a NON-PNG/NON-WAV blob throws in the decoder — fail loud, never
    // ship wrong dimensions to a downstream resize. Scale shape: both
    // encode and decode are typed mapPartitions over the binary column
    // (per-partition decoder init, no shuffle) — the exact slot a
    // libjpeg/ffmpeg handle plugs into on a real cluster.
    Q("h_media_decode_bytes", (s, d) => {
      import s.implicits._
      import graft.io.MediaCodec
      val media = Io.table(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val bytes =
              if (id % 2 == 0)
                MediaCodec.encodePng((1 + id % 16).toInt, (1 + id * 7 % 16).toInt, id)
              else
                MediaCodec.encodeWav((8000 + id % 8 * 500).toInt, (16 + id % 64).toInt, id)
            (id, bytes)
          }
        }.toDF("doc_id", "media")
      media.as[(Long, Array[Byte])].mapPartitions { it =>
        // per-partition decoder init happens here (stateless for these
        // two pure-JVM formats)
        it.map { case (id, b) =>
          if ((b(0) & 0xff) == 0x89) {
            val m = MediaCodec.parsePng(b)
            (id, "png", MediaCodec.magicHex(b, 4), Option(m.width),
              Option(m.height), Option(m.bitDepth),
              Option.empty[Int], Option.empty[Int], m.crcOk)
          } else {
            val m = MediaCodec.parseWav(b)
            (id, "wav", MediaCodec.magicHex(b, 4), Option.empty[Int],
              Option.empty[Int], Option.empty[Int],
              Option(m.sampleRate), Option(m.nSamples), m.sizeOk)
          }
        }
      }.toDF("doc_id", "format", "magic_hex", "width", "height",
          "bit_depth", "sample_rate", "n_samples", "integrity_ok")
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN '89504E47' ELSE '52494646' END AS magic_hex,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 16 AS INT) END AS width,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id * 7 % 16 AS INT) END AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(8 AS INT) END AS bit_depth,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(8000 + doc_id % 8 * 500 AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(16 + doc_id % 64 AS INT) END AS n_samples,
        |  TRUE AS integrity_ok
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // Audio FEATURE EXTRACTION over real bytes — one level past
    // h_media_decode_bytes' header read: the typed decoder slot parses
    // the 16-bit LE PCM payload out of each WAV blob (MediaCodec.
    // wavSamples) and the energy stats run as codegen'd array
    // aggregates over the sample arrays (exact integer sums — no float
    // parity surface; the RMS is sqrt of a BIGINT/BIGINT division,
    // identical IEEE ops in both engines). The oracle regenerates the
    // samples from the fixture's bounded-index PRNG ((id+i)·knuth mod
    // 2^16, id<200 ∧ i<80 — provably cannot overflow, the sanctioned
    // raw-multiply domain), so a decoder that misreads ANY payload
    // byte fails the hash. 100 TB shape: decode + feature are
    // per-row map-side; only the final ORDER BY exchanges.
    Q("h_media_audio_energy", (s, d) => {
      import s.implicits._
      import graft.io.MediaCodec
      val sm = Io.table(s, d, "documents")
        .filter(col("doc_id") < 200 && col("doc_id") % 2 === 1)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val b = MediaCodec.encodeWav((8000 + id % 8 * 500).toInt,
              (16 + id % 64).toInt, id)
            (id, MediaCodec.wavSamples(b))
          }
        }.toDF("doc_id", "samples")
      sm.select(col("doc_id"),
          size(col("samples")).cast("long").as("n_samples"),
          expr("aggregate(samples, CAST(0 AS BIGINT), " +
            "(a, v) -> a + abs(CAST(v AS BIGINT)))").as("sum_abs"),
          expr("array_max(transform(samples, v -> abs(CAST(v AS BIGINT))))")
            .as("max_abs"),
          expr("aggregate(samples, CAST(0 AS BIGINT), " +
            "(a, v) -> a + CAST(v AS BIGINT) * v)").as("sum_sq"))
        .withColumn("rms", sqrt(col("sum_sq") / col("n_samples")))
        .orderBy("doc_id")
    }, Some(
      """WITH m AS (
        |  SELECT doc_id, 16 + doc_id % 64 AS n
        |  FROM documents WHERE doc_id < 200 AND doc_id % 2 = 1),
        |sm AS (
        |  SELECT m.doc_id, ((m.doc_id + u.i) * 2654435761) % 65536 - 32768 AS v
        |  FROM m, LATERAL UNNEST(generate_series(0, CAST(m.n - 1 AS INT))) AS u(i))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(ABS(v)) AS BIGINT) AS max_abs,
        |  CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        |  SQRT(CAST(SUM(v * v) AS BIGINT) / CAST(COUNT(*) AS BIGINT)) AS rms
        |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Silence-span detection over the decoded WAV payloads — the
    // segmentation op an audio-training pipeline runs to trim or split
    // clips: 4-sample FRAMES (full frames only) are scored by summed
    // |amplitude|, frames under the energy floor are "silent", and
    // maximal runs of ≥2 consecutive silent frames become spans via
    // the gap/islands pattern (frame − row_number per doc). Per-sample
    // thresholding is useless on this fixture (the PRNG steps ~half
    // the amplitude circle every sample), which is exactly why real
    // VADs score frames, not samples. Every window and aggregate is
    // PARTITIONED BY doc_id — per-clip work, map-side decode, no
    // global exchange before the final ORDER BY; the same plan
    // segments a 100 TB audio corpus clip-parallel. All values are
    // integers (frame indices, energies, lengths) — zero float-parity
    // surface. The oracle regenerates the PCM from the fixture PRNG
    // exactly as h_media_audio_energy's does, so a decoder byte error
    // fails here too.
    Q("h_media_silence", (s, d) => {
      import s.implicits._
      import graft.io.MediaCodec
      val sm = Io.table(s, d, "documents")
        .filter(col("doc_id") < 200 && col("doc_id") % 2 === 1)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val b = MediaCodec.encodeWav((8000 + id % 8 * 500).toInt,
              (16 + id % 64).toInt, id)
            (id, MediaCodec.wavSamples(b))
          }
        }.toDF("doc_id", "samples")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame"))
      sm.select(col("doc_id"),
          posexplode(col("samples")).as(Seq("pos", "v")))
        .groupBy(col("doc_id"), expr("CAST(pos AS BIGINT) DIV 4").as("frame"))
        .agg(sum(abs(col("v")).cast("long")).as("energy"),
          count(lit(1)).as("ns"))
        .filter(col("ns") === 4 && col("energy") < 65536L)
        .withColumn("grp", col("frame") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("frame")).as("start_frame"),
          count(lit(1)).as("n_frames"), sum(col("energy")).as("span_energy"))
        .filter(col("n_frames") >= 2)
        .select(col("doc_id"), col("start_frame"), col("n_frames"),
          col("span_energy"))
        .orderBy("doc_id", "start_frame")
    }, Some(
      """WITH m AS (
        |  SELECT doc_id, 16 + doc_id % 64 AS n
        |  FROM documents WHERE doc_id < 200 AND doc_id % 2 = 1),
        |sm AS (
        |  SELECT m.doc_id, u.i AS pos,
        |    ((m.doc_id + u.i) * 2654435761) % 65536 - 32768 AS v
        |  FROM m, LATERAL UNNEST(generate_series(0, CAST(m.n - 1 AS INT))) AS u(i)),
        |fr AS (
        |  SELECT doc_id, pos // 4 AS frame,
        |    CAST(SUM(ABS(v)) AS BIGINT) AS energy, COUNT(*) AS ns
        |  FROM sm GROUP BY 1, 2),
        |sil AS (
        |  SELECT doc_id, frame, energy,
        |    frame - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY frame) AS grp
        |  FROM fr WHERE ns = 4 AND energy < 65536)
        |SELECT doc_id, CAST(MIN(frame) AS BIGINT) AS start_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(SUM(energy) AS BIGINT) AS span_energy
        |FROM sil GROUP BY doc_id, grp
        |HAVING COUNT(*) >= 2
        |ORDER BY doc_id, start_frame""".stripMargin)),

    // Image feature extraction + resize over real bytes — the PNG twin
    // of h_media_audio_energy, with an ACTUAL decompression in the
    // path: MediaCodec.pngPixels inflates the IDAT stream (JDK zlib)
    // and strips scanline filters, so a wrong byte anywhere in the
    // compressed payload fails the hash. Features are exact integer
    // aggregates (sum/min/max), the mean a raw BIGINT/BIGINT quotient,
    // and the 2× nearest-neighbor DOWNSAMPLE is the resize step: keep
    // pixels at even (x, y) — its checksum pins the index arithmetic
    // both engines share. Per-row decode map-side; one doc-keyed agg.
    Q("h_media_image_stats", (s, d) => {
      import s.implicits._
      import graft.io.MediaCodec
      val px = Io.table(s, d, "documents")
        .filter(col("doc_id") < 200 && col("doc_id") % 2 === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val b = MediaCodec.encodePng((1 + id % 16).toInt,
              (1 + id * 7 % 16).toInt, id)
            val m = MediaCodec.parsePng(b)
            (id, m.width, m.height, MediaCodec.pngPixels(b))
          }
        }.toDF("doc_id", "width", "height", "pixels")
      px.select(col("doc_id"), col("width"), col("height"),
          posexplode(col("pixels")).as(Seq("pos", "v")))
        .groupBy("doc_id", "width", "height")
        .agg(count(lit(1)).as("n_px"),
          sum(col("v").cast("long")).as("sum_px"),
          min(col("v")).as("min_px"), max(col("v")).as("max_px"),
          sum(when(expr("pos % width % 2 = 0 AND (pos DIV width) % 2 = 0"),
            col("v").cast("long")).otherwise(0L)).as("ds2_sum"))
        .withColumn("mean_px", col("sum_px") / col("n_px"))
        .orderBy("doc_id")
    }, Some(
      """WITH m AS (
        |  SELECT doc_id, CAST(1 + doc_id % 16 AS INT) AS w,
        |    CAST(1 + doc_id * 7 % 16 AS INT) AS h
        |  FROM documents WHERE doc_id < 200 AND doc_id % 2 = 0),
        |pxs AS (
        |  SELECT m.doc_id, m.w, m.h, u.p % m.w AS x, u.p // m.w AS y,
        |    ((m.doc_id + (u.p % m.w) + (u.p // m.w) * m.w) * 37) % 256 AS v
        |  FROM m, LATERAL UNNEST(generate_series(0, CAST(m.w AS BIGINT) * m.h - 1))
        |       AS u(p))
        |SELECT doc_id, w AS width, h AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(v) AS BIGINT) AS sum_px,
        |  CAST(MIN(v) AS INT) AS min_px, CAST(MAX(v) AS INT) AS max_px,
        |  CAST(SUM(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN v ELSE 0 END) AS BIGINT)
        |    AS ds2_sum,
        |  CAST(SUM(v) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS mean_px
        |FROM pxs GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin))
  )
}
