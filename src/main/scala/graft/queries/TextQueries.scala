package graft.queries

import graft.Catalog
import graft.functions.{SimilarityFunctions, TextFunctions}
import graft.plans.{Kernels, LmScores}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis queries over `documents` — north_star extensions:
  * token analytics, quality features, language-ID heuristic, document
  * fingerprinting. All scalar work is codegen'd HOFs over the scan; the
  * only shuffles are the final aggregations. */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Catalog.table(s, dir, "documents")

  /** Hard bound on the bigram table the LM trainer ever holds (see the
    * text_perplexity section). Declared first: the oracle-SQL vals
    * splice it at object-init time, so it must precede every `...Sql`
    * val in declaration order — `final` + literal also lets the
    * compiler constant-fold it. */
  private[graft] final val LmVocabCap = 50000

  private val stop = Seq("a", "the", "of", "and", "to", "in")
  private val stopSqlList = stop.map(w => s"'$w'").mkString(", ")

  // --- text_tokens_top: corpus word counts ----------------------------
  def tokensTop(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(50)

  val tokensTopSql: String =
    """SELECT tok, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 50""".stripMargin

  // --- text_lang_stats: per-language aggregates -----------------------
  def langStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("sum_tokens"),
        (sum(TextFunctions.tokenCount(col("text")).cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("avg_tokens"))
      .orderBy("lang")

  val langStatsSql: String =
    """SELECT lang, count(*) AS docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --- text_quality: per-document quality features --------------------
  def quality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.distinctTokenCount(col("text")).as("n_uniq"),
        TextFunctions.uniqRatio(col("text")).as("uniq_ratio"),
        TextFunctions.avgTokenLen(col("text")).as("avg_token_len"),
        TextFunctions.wordSetCount(col("text"), stop).as("stop_cnt"),
        TextFunctions.stopwordRatio(col("text"), stop).as("stop_ratio"),
        TextFunctions.subwordEstimate(col("text")).as("subword_est"))
      .orderBy("doc_id")

  val qualitySql: String = {
    val t = "string_split(text, ' ')"
    s"""SELECT doc_id,
       |  CAST(len($t) AS INTEGER) AS n_tokens,
       |  CAST(len(list_distinct($t)) AS INTEGER) AS n_uniq,
       |  CAST(len(list_distinct($t)) AS DOUBLE) / CAST(len($t) AS DOUBLE) AS uniq_ratio,
       |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len($t) AS DOUBLE) AS avg_token_len,
       |  CAST(len(list_filter($t, w -> w IN ($stopSqlList))) AS INTEGER) AS stop_cnt,
       |  CAST(len(list_filter($t, w -> w IN ($stopSqlList))) AS DOUBLE)
       |    / CAST(len($t) AS DOUBLE) AS stop_ratio,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform($t, w -> CAST(floor((length(w) + 3) / 4.0) AS BIGINT))),
       |    (acc, x) -> acc + x) AS subword_est
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // --- text_langid: stopword-vote language ID -------------------------
  def langid(s: SparkSession, dir: String): DataFrame = {
    val order = Seq("en", "de", "es", "fr", "zh")
    val scoreCols = order.map(l =>
      TextFunctions.wordSetCount(col("text"), TextFunctions.langStopwords(l)).as(s"s_$l"))
    docs(s, dir)
      .select(col("doc_id") +: col("lang") +: scoreCols: _*)
      .withColumn("pred", {
        val m = greatest(order.map(l => col(s"s_$l")): _*)
        order.foldRight(lit("und")) { (l, els) =>
          when(col(s"s_$l") === m, lit(l)).otherwise(els)
        }
      })
      .withColumn("hit", (col("pred") === col("lang")).cast("int"))
      .orderBy("doc_id")
  }

  val langidSql: String = {
    val order = Seq("en", "de", "es", "fr", "zh")
    val scoreExprs = order.map { l =>
      val words = TextFunctions.langStopwords(l).map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($words))) AS INTEGER) AS s_$l"
    }.mkString(",\n  ")
    val m = order.map(l => s"s_$l").mkString("GREATEST(", ", ", ")")
    val caseChain = order.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |  $scoreExprs
       |  FROM documents
       |), withm AS (SELECT *, $m AS m FROM scored)
       |SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
       |  CASE $caseChain ELSE 'und' END AS pred,
       |  CAST((CASE $caseChain ELSE 'und' END) = lang AS INTEGER) AS hit
       |FROM withm ORDER BY doc_id""".stripMargin
  }

  // --- text_fingerprint: rolling-hash document fingerprint ------------
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ' '),
      |        w -> CAST(length(w) * 131 + ascii(substr(w, 1, 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- text_dup_spans: repeated-passage detection ---------------------
  // The substring-level dedup signal the training-data literature
  // scrubs corpora with (exact repeated spans across documents — the
  // "dedup repeated passages" op of C4/RefinedWeb-style pipelines, cf.
  // Lee et al. 2022, "Deduplicating Training Data Makes Language
  // Models Better"): for every SpanW-token window position, does that
  // window's text also occur in ANOTHER document? Per doc it reports
  // how many window positions are duplicated and how many TOKENS the
  // duplicated windows cover (overlapping windows merged by the
  // classic lag trick: a position i whose previous duplicated position
  // is i' contributes min(SpanW, i - i') fresh tokens).
  //
  // Scale shape: the window explode is linear in corpus tokens (the
  // same budget as any inverted index); span df is ONE
  // map-side-combined groupBy; the dup-span set joins back by hash
  // join (left_semi) — no self-join, no df² term anywhere, so unlike
  // pairwise Jaccard this op is linear-ish end to end. The coverage
  // window partitions by doc_id (bounded by one document's length).
  // At 100 TB the join key would be the 8-byte xxhash64 of the span
  // (precedent: the ngram tiers' graft_shingle_hashes); the oracle
  // tier keeps the span STRING so DuckDB reproduces it bitwise.
  private val SpanW = 8

  def dupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpansOver(docs(s, dir), SpanW)

  /** The hashed tier AS A DECLARED QUERY (r12, VERDICT item 5):
    * identical relation to text_dup_spans with 8-byte span keys. The
    * OUTPUT exposes no engine hash (the keys are internal to the df
    * agg and the semi join), so — like the shingle-hash Jaccard
    * tiers — it carries the string tier's FULL DuckDB oracle: the
    * result differs only on a cross-span xxhash64 collision
    * (~n_spans²/2⁶⁴, and a collision would surface as the hash
    * mismatch the gate exists to catch). string==hashed is also
    * pinned on the real corpus in TextFunctionsSpec. */
  def dupSpansHashed(s: SparkSession, dir: String): DataFrame =
    dupSpansHashedOver(docs(s, dir), SpanW)

  private[graft] def dupSpansOver(d: DataFrame, w: Int): DataFrame =
    dupSpansKeyed(d, w, ts => Kernels.call("graft_span_strings", ts, lit(w)))

  /** The 100 TB variant: span keys are 8-byte xxhash64 values instead
    * of the span strings, so the df shuffle and semi join carry longs
    * (the ngram-tier precedent). Identical output absent a cross-span
    * collision (~n_spans²/2⁶⁴) — equivalence pinned on the real corpus
    * in TextFunctionsSpec; the oracle tier keeps strings so DuckDB
    * reproduces the keys bitwise. */
  private[graft] def dupSpansHashedOver(d: DataFrame, w: Int): DataFrame =
    dupSpansKeyed(d, w, ts => Kernels.call("graft_span_hashes", ts, lit(w)))

  private def dupSpansKeyed(d: DataFrame, w: Int,
                            spanFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    // r17 (guide §4): the span basis is a native kernel —
    // graft_span_strings / graft_span_hashes build every positional
    // w-token span (and, for the hashed tier, its xxhash64) in ONE
    // codegen'd pass per row. The earlier transform(sequence, i ->
    // array_join(slice(toks,i,w))) HOF evaluated an interpreted lambda
    // per POSITION; output bit-identical (same bytes, same seed-42
    // hash), TextFunctionsSpec pins kernel == HOF on the real corpus.
    // The explode is checkpointed below because two consumers (span-df
    // agg + semi join) would otherwise re-run it.
    val toks = col("toks")
    val sp = d
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        posexplode(spanFn(toks)).as(Seq("p", "span")))
      .select(col("doc_id"), col("n_tokens"), (col("p") + 1).as("i"),
        col("span"))
      .localCheckpoint(false)
    val dup = sp.groupBy("span")
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("span")
    val dw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    sp.join(dup, Seq("span"), "left_semi")
      .withColumn("c",
        coalesce(least(lit(w), col("i") - lag(col("i"), 1).over(dw)), lit(w)))
      .groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("c")).cast("long").as("covered_tokens"))
      .withColumn("dup_frac",
        col("covered_tokens").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  val dupSpansSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |sp AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens, CAST(i AS INTEGER) AS i,
       |         list_aggregate(l[i:i+${SpanW - 1}], 'string_agg', ' ') AS span
       |       FROM d, unnest(range(1, len(l) - ${SpanW - 2})) AS t(i)
       |       WHERE len(l) >= $SpanW),
       |dup AS (SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
       |dp AS (SELECT s.doc_id, s.n_tokens, s.i FROM sp s JOIN dup USING (span)),
       |cov AS (SELECT doc_id, n_tokens, i,
       |          COALESCE(LEAST($SpanW, i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)), $SpanW) AS c
       |        FROM dp)
       |SELECT doc_id, n_tokens, count(*) AS dup_spans,
       |  CAST(sum(c) AS BIGINT) AS covered_tokens,
       |  CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_frac
       |FROM cov GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin

  // --- text_span_clean: the REMOVAL step of substring-level dedup -----
  // text_dup_spans DETECTS repeated passages; this op actually scrubs
  // them (the Lee et al. 2022 removal step): every SpanW-token window
  // whose text already occurs in an EARLIER document (global first-doc
  // keeper — min doc_id per span, the text_paragraph_clean rule) is
  // removed from the later documents, overlapping windows unioned, and
  // the document reassembled from its surviving tokens. The keeper doc
  // keeps all its occurrences (you must keep one copy); within-doc-only
  // repeats are untouched (cross-doc df is the scrub signal, matching
  // the detector).
  //
  // Scale shape: same budget as the detector — linear window explode,
  // ONE map-side-combined MIN per span (no window), flagged starts
  // re-aggregate per doc (bounded by one document's length, the
  // coverage-window bound), one hash join back to the corpus. Token
  // filtering/reassembly is a scan-local HOF over the kept positions.
  // At 100 TB the span key is the 8-byte xxhash64
  // (text_dup_spans_hashed precedent); the declared key keeps strings
  // so the whole pipeline — detection, keeper, coverage, reassembly —
  // hash-matches DuckDB (output md5 of every cleaned document).
  def spanClean(s: SparkSession, dir: String): DataFrame =
    spanCleanOver(docs(s, dir), SpanW)

  private[graft] def spanCleanOver(d: DataFrame, w: Int): DataFrame =
    spanCleanTextOver(d, w)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")

  /** The span-clean kernel with the REASSEMBLED text exposed (not just
    * its digest) — [[spanCleanOver]] wraps it for the declared key;
    * [[pretrainMix]] keeps cleaning downstream. Passes d's other
    * columns (lang, …) through unchanged. */
  private[graft] def spanCleanTextOver(d: DataFrame, w: Int): DataFrame = {
    require(!d.columns.contains("__toks"),
      "spanCleanTextOver reserves the internal column name __toks; rename it on the input")
    val toks = col("toks")
    // r17 (guide §4): native positional-span kernel, see dupSpansKeyed
    val sp = d
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(Kernels.call("graft_span_strings", toks, lit(w)))
          .as(Seq("p", "span")))
      .select(col("doc_id"), (col("p") + 1).as("i"), col("span"))
      .localCheckpoint(false) // feeds the keeper agg AND the flag join
    val firstDoc = sp.groupBy("span").agg(min(col("doc_id")).as("first_doc"))
    val flagged = sp.join(firstDoc, "span")
      .filter(col("doc_id") > col("first_doc"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("i"))).as("starts"))
    // the token array is PROJECTED once (__toks) and referenced as an
    // attribute everywhere below — inlining split(text) into the
    // reassembly lambda would re-split the document per kept position
    // (the O(words²) interpreted-HOF trap SimilarityFunctions.shingles
    // documents)
    val t2 = col("__toks")
    // unified path for flagged and clean docs (starts = [] keeps all
    // positions): both engines REASSEMBLE every document, so the md5
    // compares rejoined text with rejoined text
    val starts0 = coalesce(col("starts"), array().cast("array<int>"))
    val kept = filter(sequence(lit(1), size(t2)),
      p => !exists(starts0, i => i <= p && p <= i + (w - 1)))
    d.join(flagged, Seq("doc_id"), "left")
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("n_tokens", size(t2).cast("long"))
      .withColumn("n_removed", (size(t2) - size(kept)).cast("long"))
      .withColumn("clean_text",
        concat_ws(" ", transform(kept, p => element_at(t2, p))))
      .drop("starts", "__toks")
  }

  val spanCleanSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
       |         list_aggregate(l[i:i+${SpanW - 1}], 'string_agg', ' ') AS span
       |       FROM d, unnest(range(1, len(l) - ${SpanW - 2})) AS t(i)
       |       WHERE len(l) >= $SpanW),
       |own AS (SELECT span, min(doc_id) AS first_doc FROM sp GROUP BY span),
       |fl AS (SELECT s.doc_id, list_sort(list(DISTINCT s.i)) AS starts
       |       FROM sp s JOIN own o USING (span)
       |       WHERE s.doc_id > o.first_doc
       |       GROUP BY s.doc_id),
       |k AS (SELECT d.doc_id, d.l,
       |        CAST(len(d.l) AS BIGINT) AS n_tokens,
       |        list_filter(range(1, len(d.l) + 1),
       |          p -> len(list_filter(COALESCE(fl.starts, []),
       |                 i -> i <= p AND p <= i + ${SpanW - 1})) = 0) AS kept
       |      FROM d LEFT JOIN fl USING (doc_id))
       |SELECT doc_id, n_tokens,
       |  n_tokens - CAST(len(kept) AS BIGINT) AS n_removed,
       |  md5(COALESCE(array_to_string(list_transform(kept, p -> l[p]), ' '), ''))
       |    AS clean_md5
       |FROM k ORDER BY doc_id""".stripMargin

  // --- text_shard_plan: content-hash sharding for training output -----
  // The last step before a corpus ships: deterministic assignment of
  // every document to one of N output shards, plus the per-shard
  // balance stats an operator reviews before the write. The shard key
  // is the CONTENT fingerprint (the portable rolling hash
  // text_fingerprint already oracle-checks — always in [0, 1e9+7), so
  // mod-N needs no sign care in either engine), not the doc_id: re-ids
  // and re-ingests land a document in the same shard. Scale shape: the
  // fingerprint and mod are scan-local; the only shuffle is N-row
  // map-side-combined stats (and a real write would just
  // repartition(N, shard) — same key, same plan).
  private val NumShards = 16

  def shardPlan(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        pmod(TextFunctions.fingerprint(col("text")), lit(NumShards.toLong)).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard")

  val shardPlanSql: String =
    s"""WITH f AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ' '),
       |        w -> CAST(length(w) * 131 + ascii(substr(w, 1, 1)) AS BIGINT))),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) % $NumShards AS shard
       |  FROM documents)
       |SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM f GROUP BY shard ORDER BY shard""".stripMargin

  // --- text_train_order: deterministic global shuffle for training ----
  // The step between selection and sharding: a GLOBAL pseudo-random
  // permutation of the corpus (training loaders must not see docs in
  // ingest order — adjacency in the source is correlation in the
  // batch), then contiguous split into shard files. The shuffle key is
  // a two-round LCG mix of doc_id (a = 1103515245, c = 12345, m = 2^31
  // — each round a bijection mod 2^31, so distinct doc_ids get
  // distinct keys and the order IS a permutation): exact BIGINT
  // arithmetic both engines evaluate identically, where an
  // md5-as-integer axis would need hex parsing the oracle engine
  // lacks. Scale shape: the mix is a scan-local projection; the global
  // position comes from [[graft.operators.PrefixSum.descRank]] (value-
  // axis range shards + per-shard windows + an nShards-row offset
  // window — NO single-partition window, NO global sort); the shard
  // split is scan-local integer math off the footer row count. The
  // oracle replays position as one plain row_number window — the
  // selected order is implementation-independent given the total
  // (mix, doc_id) order, the dsirSample precedent.
  private val TrainShards = 8
  private val LcgA = 1103515245L
  private val LcgC = 12345L
  private val LcgM = 2147483648L // 2^31

  def trainOrder(s: SparkSession, dir: String): DataFrame = {
    val n = math.max(1L,
      graft.sources.Sources.footerRowCount(s, s"$dir/documents.parquet"))
    val r1 = (col("doc_id") * LcgA + LcgC) % LcgM
    val r2 = (r1 * LcgA + LcgC) % LcgM
    val mixed = docs(s, dir).select(col("doc_id"), (r2 * -1L).as("neg_mix"))
    graft.operators.PrefixSum.descRank(mixed, "neg_mix", "doc_id")
      .select(col("doc_id"), col("rnk").as("pos"),
        expr(s"CAST(((rnk - 1) * $TrainShards) div $n AS INT)").as("shard"))
      .orderBy("pos")
  }

  val trainOrderSql: String =
    s"""WITH r AS (SELECT doc_id,
       |    (((doc_id * $LcgA + $LcgC) % $LcgM) * $LcgA + $LcgC) % $LcgM AS mix
       |  FROM documents),
       |n AS (SELECT count(*) AS n FROM documents),
       |p AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY mix, doc_id) AS BIGINT) AS pos
       |  FROM r)
       |SELECT p.doc_id, p.pos,
       |  CAST(((p.pos - 1) * $TrainShards) // n.n AS INTEGER) AS shard
       |FROM p CROSS JOIN n
       |ORDER BY p.pos""".stripMargin

  // --- text_chunks: overlapping fixed-size token windows --------------
  // The training-data chunking shape: 32-token windows every 24 tokens
  // (8-token overlap), one output row per chunk. Pure scan-local HOF
  // (sequence of starts -> slice -> concat) + one explode — no shuffle
  // until the final ORDER BY.
  private val ChunkSize = 32
  private val ChunkStride = 24

  def chunks(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    // n_tok is ARITHMETIC — least(size, n - start + 1) — not a re-split
    // of every produced chunk: chunks overlap 32/24, so the re-split
    // walked ~1.33x the corpus a second time for a count the window
    // geometry already knows (r13; the sf10 rung flagged the query's
    // constant factor).
    docs(s, dir)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(toks), lit(ChunkStride)),
          start => struct(
            least(lit(ChunkSize), size(toks) - start + 1).cast("int").as("n_tok"),
            concat_ws(" ", slice(toks, start, lit(ChunkSize))).as("chunk_text"))))
          .as(Seq("chunk_no", "c")))
      .select(col("doc_id"), col("chunk_no"),
        col("c.n_tok").as("n_tok"), col("c.chunk_text").as("chunk_text"))
      .orderBy("doc_id", "chunk_no")
  }

  val chunksSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id, toks,
       |        unnest(generate_series(1, len(toks), $ChunkStride)) AS i
       |      FROM t)
       |SELECT doc_id,
       |  CAST((i - 1) // $ChunkStride AS INTEGER) AS chunk_no,
       |  CAST(least($ChunkSize, len(toks) - i + 1) AS INTEGER) AS n_tok,
       |  array_to_string(list_slice(toks, i, i + ${ChunkSize - 1}), ' ') AS chunk_text
       |FROM s ORDER BY doc_id, chunk_no""".stripMargin

  // --- text_pack_bins: sequence packing by token budget ---------------
  // Greedy sequential packing: within each language, docs in doc_id
  // order accumulate into bins of ~256 tokens (bin = tokens-before-me
  // div budget). One window pass per lang partition — the distributed
  // analogue of context-window packing in a training-data pipeline.
  private val PackBudget = 256

  def packBins(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs(s, dir)
      .select(col("lang"), col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"CAST(cum_before div $PackBudget AS INT)"))
      .select("lang", "doc_id", "n_tokens", "bin_id")
      .orderBy("lang", "doc_id")
  }

  val packBinsSql: String =
    s"""WITH t AS (
       |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t
       |)
       |SELECT lang, doc_id, n_tokens, CAST(cum_before // $PackBudget AS INTEGER) AS bin_id
       |FROM c ORDER BY lang, doc_id""".stripMargin

  // --- text_bm25_topk: BM25 full-text ranking --------------------------
  // Okapi BM25 over the corpus for a fixed 3-term query: tf from one
  // explode+groupBy, df from the tiny tf relation, doc length + corpus
  // stats from scan-local counts (broadcast as scalars). The idf ratio
  // is kept rational — (N - df + ½)/(df + ½) == (2N-2df+1)/(2df+1) in
  // exact BIGINTs — so ln() is the only transcendental; per-term scores
  // are pivoted into fixed columns and summed in a fixed left-assoc
  // order, then rounded to 6 dp (ln may differ in the last ulp across
  // libm implementations; everything else is bitwise). At scale: tf is
  // the only data shuffle, everything else is broadcast-sized.
  private val Bm25Terms = Seq("join", "merge", "vector")

  def bm25Topk(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val dl = d.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = d.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast("double")
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val norm = lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl
    val idf = log(lit(1.0) +
      (col("n_docs") * 2 - col("df") * 2 + 1).cast("double") /
        (col("df") * 2 + 1).cast("double"))
    val scored = tf.join(dl, "doc_id").join(broadcast(dfs), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("sc", (idf * (tfD * lit(2.2))) / (tfD + lit(1.2) * norm))
    val piv = scored.groupBy("doc_id").agg(
      max(when(col("tok") === "join", col("sc"))).as("s_join"),
      max(when(col("tok") === "merge", col("sc"))).as("s_merge"),
      max(when(col("tok") === "vector", col("sc"))).as("s_vector"))
    piv.withColumn("bm25", round(
        coalesce(col("s_join"), lit(0.0)) + coalesce(col("s_merge"), lit(0.0)) +
          coalesce(col("s_vector"), lit(0.0)), 6))
      .filter(col("bm25") > 0.0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(25)
      .select("doc_id", "bm25")
  }

  val bm25TopkSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
       |tf AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok IN ($terms) GROUP BY doc_id, tok),
       |dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |sc AS (
       |  SELECT tf.doc_id, tf.tok,
       |    (ln(1.0 + CAST(n_docs * 2 - df * 2 + 1 AS DOUBLE) / CAST(df * 2 + 1 AS DOUBLE)) *
       |      (CAST(tf AS DOUBLE) * 2.2)) /
       |    (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |      (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS sc
       |  FROM tf JOIN dl USING (doc_id) JOIN dfs USING (tok), stats),
       |piv AS (
       |  SELECT doc_id,
       |    max(CASE WHEN tok = 'join' THEN sc END) AS s_join,
       |    max(CASE WHEN tok = 'merge' THEN sc END) AS s_merge,
       |    max(CASE WHEN tok = 'vector' THEN sc END) AS s_vector
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, bm25 FROM (
       |  SELECT doc_id, round(COALESCE(s_join, 0.0) + COALESCE(s_merge, 0.0)
       |    + COALESCE(s_vector, 0.0), 6) AS bm25 FROM piv)
       |WHERE bm25 > 0.0
       |ORDER BY bm25 DESC, doc_id LIMIT 25""".stripMargin
  }

  // --- pipeline_corpus_clean: the full training-data cleanup chain ----
  // The composition a corpus-prep pipeline actually runs, end to end in
  // ONE declarative plan: plant dups (the fixture has none) -> quality
  // gate (length + uniq-ratio) -> language-ID agreement gate -> exact
  // dedup keeping the first doc per text -> survivors. Every stage is
  // deterministic integer/double arithmetic, so the WHOLE pipeline is
  // DuckDB-oracle-checked, not just its pieces. Scan-local until the
  // dedup window — one shuffle total.
  private[graft] val CleanMinTokens = 24
  private[graft] val CleanMinUniq = 0.35
  private val LangOrder = Seq("en", "de", "es", "fr", "zh")

  /** The cleanup gates (token floor, uniq ratio, langid agreement) as a
    * pure scan-local projection chain — shared by the batch pipeline
    * and its streaming twin (projections run unchanged under
    * readStream). Emits the gated rows with their feature columns. */
  private[graft] def cleanKept(d: DataFrame): DataFrame = {
    val feat = d.select(
      col("doc_id"), col("lang"), col("text"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.uniqRatio(col("text")).as("uniq_ratio"))
    val scored = LangOrder.foldLeft(feat)((df, l) => df.withColumn(s"s_$l",
      TextFunctions.wordSetCount(col("text"), TextFunctions.langStopwords(l))))
    val m = greatest(LangOrder.map(l => col(s"s_$l")): _*)
    val pred = LangOrder.foldRight(lit("und")) { (l, els) =>
      when(col(s"s_$l") === m, lit(l)).otherwise(els)
    }
    scored.withColumn("pred", pred)
      .filter(col("n_tokens") >= CleanMinTokens &&
        col("uniq_ratio") >= CleanMinUniq && col("pred") === col("lang"))
  }

  def corpusClean(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val planted = d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val kept = cleanKept(d.union(planted))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("text")).orderBy(col("doc_id"))
    kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "lang", "n_tokens", "uniq_ratio")
      .orderBy("doc_id")
  }

  val corpusCleanSql: String = {
    val t = "string_split(text, ' ')"
    val scoreExprs = LangOrder.map { l =>
      val words = TextFunctions.langStopwords(l).map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter($t, w -> w IN ($words))) AS INTEGER) AS s_$l"
    }.mkString(",\n  ")
    val m = LangOrder.map(l => s"s_$l").mkString("GREATEST(", ", ", ")")
    val caseChain = LangOrder.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"""WITH all_docs AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, lang, text FROM documents WHERE doc_id % 10 = 0
       |), feat AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len($t) AS INTEGER) AS n_tokens,
       |    CAST(len(list_distinct($t)) AS DOUBLE) / CAST(len($t) AS DOUBLE) AS uniq_ratio,
       |  $scoreExprs
       |  FROM all_docs
       |), withm AS (SELECT *, $m AS m FROM feat),
       |kept AS (
       |  SELECT * FROM withm
       |  WHERE n_tokens >= $CleanMinTokens AND uniq_ratio >= $CleanMinUniq
       |    AND (CASE $caseChain ELSE 'und' END) = lang
       |), dedup AS (
       |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM kept)
       |SELECT doc_id, lang, n_tokens, uniq_ratio
       |FROM dedup WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  // --- text_quality_thresholds: per-language gate calibration ----------
  // Operationalizes the quality features: exact p10/p50/p90 of the
  // uniq-ratio and stopword-ratio per language — the numbers you read
  // before setting a per-lang cleanup gate (a global threshold
  // over-filters low-resource languages; per-lang quantiles are the
  // standard fix). Exact `percentile` (not approx) so DuckDB's
  // quantile_cont hash-matches bitwise (the agg_percentile_exact
  // precedent). One map-side-combined groupBy on 5 language keys.
  def qualityThresholds(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"),
        TextFunctions.uniqRatio(col("text")).as("uq"),
        TextFunctions.stopwordRatio(col("text"), stop).as("sr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        expr("percentile(uq, 0.1)").as("uniq_p10"),
        expr("percentile(uq, 0.5)").as("uniq_p50"),
        expr("percentile(uq, 0.9)").as("uniq_p90"),
        expr("percentile(sr, 0.5)").as("stop_p50"),
        expr("percentile(sr, 0.9)").as("stop_p90"))
      .orderBy("lang")

  val qualityThresholdsSql: String = {
    val t = "string_split(text, ' ')"
    s"""WITH f AS (SELECT lang,
       |  CAST(len(list_distinct($t)) AS DOUBLE) / CAST(len($t) AS DOUBLE) AS uq,
       |  CAST(len(list_filter($t, w -> w IN ($stopSqlList))) AS DOUBLE)
       |    / CAST(len($t) AS DOUBLE) AS sr
       |  FROM documents)
       |SELECT lang, count(*) AS docs,
       |  quantile_cont(uq, 0.1) AS uniq_p10,
       |  quantile_cont(uq, 0.5) AS uniq_p50,
       |  quantile_cont(uq, 0.9) AS uniq_p90,
       |  quantile_cont(sr, 0.5) AS stop_p50,
       |  quantile_cont(sr, 0.9) AS stop_p90
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --- pipeline_corpus_clean2: the FULL round-6 cleanup composition ----
  // Production order, one declarative plan: (1) canonicalize text
  // (lower/strip-punct/collapse-ws — merges the planted messy %9
  // variants), (2) normalized exact dedup (min-doc_id survivor per
  // canonical digest), (3) quality gates (token floor, uniq ratio,
  // langid agreement — scan-local), (4) bigram-LM perplexity gate
  // (literal-map scoring; keep nll_q6 <= gate·n_pairs, exact BIGINT
  // comparison), (5) paragraph cleanup (global-first window over the
  // SURVIVOR set, reassembled md5). Every stage is individually
  // oracle-checked elsewhere; this asserts the COMPOSITION end to end.
  // Shuffle ledger at scale: digest window + paragraph-digest MIN agg
  // (map-side combined, r12) + doc_id reassembly — three keyed
  // shuffles for a five-stage pipeline; the gates and scoring ride
  // the scan.
  private[graft] val PplGateQ6 = 3700000L

  /** Stages 1–4 of the v2 cleanup (plant+canonicalize → normalized
    * dedup with the batch min-doc_id keeper → quality gates → LM
    * perplexity gate) as the ONE batch implementation — used by
    * [[corpusClean2]] and by StreamingSpec's parity comparator, so the
    * spec checks the stream against the pipeline itself, not a copy. */
  private[graft] def clean2GateSurvivors(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // plant + canonicalization SHARED with dedup_exact_normalized
    // (SimilarityQueries.messyVariants/canonicalText) — stage 1/2 of
    // this pipeline and the standalone dedup can never drift apart
    val canon = d.union(SimilarityQueries.messyVariants(d))
      .select(col("doc_id"), col("lang"),
        SimilarityQueries.canonicalText.as("text"))
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("norm_md5")).orderBy(col("doc_id"))
    val deduped = canon.withColumn("norm_md5", md5(col("text")))
      .withColumn("rn", row_number().over(wD)).filter(col("rn") === 1)
      .select("doc_id", "lang", "text")
    val (nPairs, nll) = perplexityCols(s, dir)
    cleanKept(deduped)
      .withColumn("n_pairs", nPairs)
      .withColumn("nll_q6", nll)
      .filter(col("nll_q6") <= lit(PplGateQ6) * col("n_pairs"))
  }

  def corpusClean2(s: SparkSession, dir: String): DataFrame = {
    val gated = clean2GateSurvivors(s, dir)
    val exploded = gated
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("nll_q6"),
        posexplode(split(SimilarityQueries.paragraphedText, "\n\n"))
          .as(Seq("para_no", "para")))
      .withColumn("para_md5", md5(col("para")))
    // global-first pick per paragraph digest as a map-side-combinable
    // MIN agg, not a row_number window (same r12 rewrite as
    // SimilarityQueries.paragraphClean — the boilerplate digest occurs
    // in a constant fraction of the survivor set, and the window
    // shuffled every occurrence to one task). The keeper's doc-level
    // columns ride along in ONE min(struct(...)): the encoded
    // doc_id*1e6+para_no leads the struct and is unique per occurrence,
    // so lexicographic struct-min IS the exact argmin and stays
    // partial-aggregable.
    exploded
      .groupBy("para_md5")
      .agg(min(struct(
        (col("doc_id") * lit(1000000L) + col("para_no")).as("keep"),
        col("doc_id"), col("para_no"), col("lang"),
        col("n_tokens"), col("nll_q6"), col("para"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.para_no").as("para_no"),
        col("k.lang").as("lang"), col("k.n_tokens").as("n_tokens"),
        col("k.nll_q6").as("nll_q6"), col("k.para").as("para"))
      .groupBy("doc_id", "lang", "n_tokens", "nll_q6")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws("\n\n",
          transform(array_sort(collect_list(struct(col("para_no"), col("para")))),
            x => x.getField("para")))).as("clean_md5"))
      .select("doc_id", "lang", "n_tokens", "nll_q6", "n_kept", "clean_md5")
      .orderBy("doc_id")
  }

  val corpusClean2Sql: String = {
    val t = "string_split(text, ' ')"
    val scoreExprs = LangOrder.map { l =>
      val words = TextFunctions.langStopwords(l).map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter($t, w -> w IN ($words))) AS INTEGER) AS s_$l"
    }.mkString(",\n  ")
    val m = LangOrder.map(l => s"s_$l").mkString("GREATEST(", ", ", ")")
    val caseChain = LangOrder.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"""WITH all_docs AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000, lang, ${SimilarityQueries.messyTextSql}
       |  FROM documents WHERE doc_id % 9 = 0
       |), canon AS (
       |  SELECT doc_id, lang, ${SimilarityQueries.canonicalTextSql} AS text
       |  FROM all_docs
       |), dd AS (
       |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM canon
       |), survivors AS (SELECT doc_id, lang, text FROM dd WHERE rn = 1
       |), feat AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len($t) AS INTEGER) AS n_tokens,
       |    CAST(len(list_distinct($t)) AS DOUBLE) / CAST(len($t) AS DOUBLE) AS uniq_ratio,
       |  $scoreExprs
       |  FROM survivors
       |), withm AS (SELECT *, $m AS m FROM feat),
       |kept AS (
       |  SELECT doc_id, lang, text, n_tokens FROM withm
       |  WHERE n_tokens >= $CleanMinTokens AND uniq_ratio >= $CleanMinUniq
       |    AND (CASE $caseChain ELSE 'und' END) = lang
       |),
       |""".stripMargin +
      lmTrainCtes + ",\n" +
      """kl AS (SELECT doc_id, string_split(text, ' ') AS l FROM kept),
        |pairs AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS b, l[i] AS w1
        |          FROM (SELECT doc_id, l, unnest(generate_series(1, len(l)-1)) AS i
        |                FROM kl WHERE len(l) >= 2)),""".stripMargin + "\n" +
      lmScoreCtes + ",\n" +
      s"""ppl AS (
         |  SELECT k.doc_id, k.lang, k.text, k.n_tokens, a.nll_q6
         |  FROM kept k JOIN agg a ON k.doc_id = a.doc_id
         |  WHERE a.nll_q6 <= $PplGateQ6 * a.n_pairs
         |), d AS (SELECT doc_id, string_split(text, ' ') AS l FROM ppl),
         |""".stripMargin +
      SimilarityQueries.paragraphedTextSqlCtes + ",\n" +
      """r AS (SELECT *, row_number() OVER (PARTITION BY para_md5
        |                                   ORDER BY doc_id, para_no) AS prn FROM x),
        |k2 AS (SELECT doc_id, count(*) AS n_kept,
        |         md5(string_agg(para, chr(10) || chr(10) ORDER BY para_no)) AS clean_md5
        |       FROM r WHERE prn = 1 GROUP BY doc_id)
        |SELECT p.doc_id, p.lang, p.n_tokens, p.nll_q6, k2.n_kept, k2.clean_md5
        |FROM ppl p JOIN k2 ON p.doc_id = k2.doc_id
        |ORDER BY p.doc_id""".stripMargin
  }

  // --- pipeline_pretrain_mix: the FULL pretraining data-prep chain ----
  // pipeline_corpus_clean2 insures the CLEANUP composition; this key
  // extends the insurance to the whole chain the north_star describes,
  // as ONE declarative plan: (1) plant + canonicalize (scan-local),
  // (2) quality gates (token floor / uniq ratio / langid — scan-local),
  // (3) bigram-LM perplexity gate (broadcast literal model —
  // scan-local), (4) normalized exact dedup (min-doc_id keeper per
  // canonical digest — the FIRST shuffle in the plan; gates ride the
  // scan below it, plan-guarded), (5) near-dup keeper (exact trigram
  // Jaccard >= NearDupTau pairs, auto-tiered index/PPJoin-prefix like
  // dedup_ngram_jaccard; the LATER partner of every qualifying pair
  // drops — the greedy min-id keeper), (6) span clean over the keepers
  // (the Lee-et-al substring scrub, text_span_clean's kernel, texts
  // reassembled), (7) fixed-weight mix sampling (text_mix_sample's
  // weights + content-fingerprint gate on the CLEANED text, rates from
  // broadcast per-lang aggregates), (8) sequence packing
  // (text_pack_bins's per-lang greedy window). Every stage reuses the
  // SHARED expression/CTE generators of its standalone key, so the
  // pipeline and the pieces cannot drift apart — and the whole chain
  // is hash-checked end to end against one DuckDB replay.
  //
  // Ordering rationale (differs from the cleanup key, deliberately):
  // the per-doc gates run BEFORE the dedup shuffle — every member of a
  // canonical-digest group carries the same canonical text, so
  // gate∘dedup == dedup∘gate row-for-row, and at 100 TB you filter
  // before you shuffle. Near-dup runs before span clean: pair-level
  // dedup first shrinks the span relation; span clean then scrubs the
  // sub-pair-threshold residue.
  //
  // Shuffle ledger at scale: one digest window (exact dedup), the
  // shingle candidate join (prefix-tier Σ df_short×df_p above 2^13
  // docs), the span MIN agg + doc reassembly, one 5-row broadcast rate
  // join, one per-lang pack window. Gates and both model scorings ride
  // the scan.
  private[graft] val NearDupTau = 0.4

  /** Stages 1–4 (plant+canonicalize → gates → LM gate → normalized
    * exact dedup) WITHOUT the checkpoint — split out so the plan guard
    * can see below the checkpoint boundary (PlanQualitySpec asserts
    * the gate chain rides the scan under the dedup window's shuffle,
    * which `localCheckpoint` would otherwise truncate from the final
    * plan). */
  private[graft] def pretrainGatedDedup(s: SparkSession, dir: String): DataFrame = {
    // widened (gated, r17): the gate chain (canonicalize + quality +
    // bigram-LM scoring) is the CPU-densest per-row work in the pipeline
    // family, and it is all FILTER predicates — so a plain widen
    // repartition is useless: filter pushdown slides the whole gate
    // conjunction below the exchange back onto the narrow scan (measured
    // at sf1: two 3-task scan stages, 10-15 s per task, 70%+ CPU, while
    // the post-widen stage ran 0.7 s over 64 tasks). When the widen
    // engages, a non-deterministic marker projection is interposed as a
    // pushdown barrier — PushPredicateThroughNonJoin cannot cross a
    // Project with a non-deterministic field — and the marker is
    // consumed by a tautological filter so column pruning cannot erase
    // it, then dropped (values untouched; rand(42) never reaches any
    // output). At cluster scan widths (shouldWiden false) no barrier
    // exists and the gates ride the scan exactly as the plan-guard spec
    // asserts; at gate SFs the shuffle ships the raw sub-10 MB corpus
    // once and the gates run full-width.
    val d0 = docs(s, dir)
    val sWidth = s.conf.get("spark.sql.shuffle.partitions").toInt
    val wideScan = graft.functions.SimilarityFunctions.shouldWiden(
      d0.rdd.getNumPartitions, sWidth,
      graft.functions.SimilarityFunctions.inputBytes(d0),
      graft.functions.SimilarityFunctions.TextMinPartBytes)
    val d = if (wideScan)
        d0.repartition(sWidth).withColumn("__w", rand(42))
          .filter(col("__w") >= lit(-1d)).drop("__w")
      else d0
    val canon = d.union(SimilarityQueries.messyVariants(d))
      .select(col("doc_id"), col("lang"),
        SimilarityQueries.canonicalText.as("text"))
    val (nPairs, nll) = perplexityCols(s, dir)
    val gated = cleanKept(canon)
      .withColumn("n_pairs", nPairs)
      .withColumn("nll_q6", nll)
      .filter(col("nll_q6") <= lit(PplGateQ6) * col("n_pairs"))
      .select("doc_id", "lang", "text")
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("norm_md5")).orderBy(col("doc_id"))
    val keyed = gated.withColumn("norm_md5", md5(col("text")))
    // r17: at gate SFs AQE coalesces the dedup window's norm_md5
    // exchange to a handful of tasks (byte-sized coalescing, CPU-dense
    // rows), and pretrainMix's checkpoint then FREEZES that width for
    // every downstream corpus pass (the 14.9 s six-task stage of the
    // sf1 probe). A gated repartition(width, norm_md5) is the same
    // exchange, user-pinned wide; the gate reads only the docs SCAN's
    // partition count/bytes (safe — no job), so it is a no-op at
    // cluster scan widths and on in-memory fixtures.
    val keyedW = if (wideScan) keyed.repartition(sWidth, col("norm_md5")) else keyed
    keyedW
      .withColumn("rn", row_number().over(wD)).filter(col("rn") === 1)
      .select("doc_id", "lang", "text")
  }

  def pretrainMix(s: SparkSession, dir: String): DataFrame = {
    // one checkpoint, three readers (pair generation + anti-join +
    // span clean) — the dedup_incremental rule
    val exact = pretrainGatedDedup(s, dir)
      .localCheckpoint(false)
    val nDocs = graft.sources.Sources.footerRowCount(s, s"$dir/documents.parquet")
    val pairs =
      if (graft.functions.SimilarityFunctions.ngramUsePrefix(nDocs))
        graft.functions.SimilarityFunctions
          .jaccardPairsNgramPrefix(exact.select("doc_id", "text"), 3, NearDupTau)
      else graft.functions.SimilarityFunctions
        .jaccardPairsNgram(exact.select("doc_id", "text"), 3, NearDupTau)
    val keepers = exact.join(
      pairs.select(col("idb").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val cleaned = spanCleanTextOver(keepers, SpanW)
    val base = cleaned.select(col("doc_id"), col("lang"),
        (col("n_tokens") - col("n_removed")).as("n_tokens"),
        col("n_removed"),
        TextFunctions.fingerprint(col("clean_text")).as("fp"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))
      .localCheckpoint(false) // feeds avail/tot aggs AND the rate gate
    val avail = base.groupBy("lang").agg(sum(col("n_tokens")).as("avail_tokens"))
    val tot = base.agg(sum(col("n_tokens")).as("tot_tokens"))
    val rates = avail.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0),
        (mixWeightCol * (col("tot_tokens").cast("double") * 0.5)) /
          col("avail_tokens").cast("double")))
      .select("lang", "rate")
    val wP = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    base.join(broadcast(rates), "lang")
      .filter(pmod(col("fp"), lit(1000000L)).cast("double") < col("rate") * 1000000.0)
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(wP), lit(0L)))
      .withColumn("bin_id", expr(s"CAST(cum_before div $PackBudget AS INT)"))
      .select("doc_id", "lang", "n_tokens", "n_removed", "bin_id", "clean_md5")
      .orderBy("doc_id")
  }

  /** One DuckDB replay of the whole chain, spliced from the standalone
    * keys' own CTE generators (canonical/messy text, the gate
    * expressions, the shared LM train/score CTEs, the trigram-Jaccard
    * relation, the span-clean kernel, the mix-weight CASE, the pack
    * window). */
  // lazy: references MixWeights/lm CTEs defined further down the
  // object (the LmVocabCap init-order rule)
  lazy val pretrainMixSql: String = {
    val t = "string_split(text, ' ')"
    val scoreExprs = LangOrder.map { l =>
      val words = TextFunctions.langStopwords(l).map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter($t, w -> w IN ($words))) AS INTEGER) AS s_$l"
    }.mkString(",\n  ")
    val m = LangOrder.map(l => s"s_$l").mkString("GREATEST(", ", ", ")")
    val caseChain = LangOrder.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    val fpClean =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(clean_text, ' '),
        |        w -> CAST(length(w) * 131 + ascii(substr(w, 1, 1)) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin
    s"""WITH all_docs AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000, lang, ${SimilarityQueries.messyTextSql}
       |  FROM documents WHERE doc_id % 9 = 0
       |), canon AS (
       |  SELECT doc_id, lang, ${SimilarityQueries.canonicalTextSql} AS text
       |  FROM all_docs
       |), feat AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len($t) AS INTEGER) AS n_tokens,
       |    CAST(len(list_distinct($t)) AS DOUBLE) / CAST(len($t) AS DOUBLE) AS uniq_ratio,
       |  $scoreExprs
       |  FROM canon
       |), withm AS (SELECT *, $m AS m FROM feat),
       |kept AS (
       |  SELECT doc_id, lang, text FROM withm
       |  WHERE n_tokens >= $CleanMinTokens AND uniq_ratio >= $CleanMinUniq
       |    AND (CASE $caseChain ELSE 'und' END) = lang
       |),
       |""".stripMargin +
      lmTrainCtes + ",\n" +
      """kl AS (SELECT doc_id, string_split(text, ' ') AS l FROM kept),
        |pairs AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS b, l[i] AS w1
        |          FROM (SELECT doc_id, l, unnest(generate_series(1, len(l)-1)) AS i
        |                FROM kl WHERE len(l) >= 2)),""".stripMargin + "\n" +
      lmScoreCtes + ",\n" +
      s"""ppl AS (
         |  SELECT k.doc_id, k.lang, k.text
         |  FROM kept k JOIN agg a ON k.doc_id = a.doc_id
         |  WHERE a.nll_q6 <= $PplGateQ6 * a.n_pairs
         |), dd AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM ppl
         |), sv AS (SELECT doc_id, lang, text FROM dd WHERE rn = 1),
         |svl AS (SELECT doc_id, string_split(text, ' ') AS l FROM sv),
         |ntok AS (SELECT DISTINCT doc_id, tok FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
         |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS tok
         |  FROM svl WHERE len(l) >= 3)),
         |nsizes AS (SELECT doc_id, count(*) AS n FROM ntok GROUP BY doc_id),
         |ninter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
         |           FROM ntok a JOIN ntok b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |ndrop AS (SELECT DISTINCT idb AS doc_id
         |          FROM ninter
         |          JOIN nsizes sa ON ida = sa.doc_id
         |          JOIN nsizes sb ON idb = sb.doc_id
         |          WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= $NearDupTau),
         |kd AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM sv
         |       WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)),
         |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
         |         list_aggregate(l[i:i+${SpanW - 1}], 'string_agg', ' ') AS span
         |       FROM kd, unnest(range(1, len(l) - ${SpanW - 2})) AS t(i)
         |       WHERE len(l) >= $SpanW),
         |own AS (SELECT span, min(doc_id) AS first_doc FROM sp GROUP BY span),
         |fl AS (SELECT s.doc_id, list_sort(list(DISTINCT s.i)) AS starts
         |       FROM sp s JOIN own o USING (span)
         |       WHERE s.doc_id > o.first_doc
         |       GROUP BY s.doc_id),
         |ck AS (SELECT kd.doc_id, kd.lang, kd.l,
         |         CAST(len(kd.l) AS BIGINT) AS n_tokens0,
         |         list_filter(range(1, len(kd.l) + 1),
         |           p -> len(list_filter(COALESCE(fl.starts, []),
         |                  i -> i <= p AND p <= i + ${SpanW - 1})) = 0) AS keptp
         |       FROM kd LEFT JOIN fl USING (doc_id)),
         |ct AS (SELECT doc_id, lang,
         |         n_tokens0 - CAST(len(keptp) AS BIGINT) AS n_removed,
         |         CAST(len(keptp) AS BIGINT) AS n_tokens,
         |         COALESCE(array_to_string(list_transform(keptp, p -> l[p]), ' '), '')
         |           AS clean_text
         |       FROM ck),
         |base AS (SELECT doc_id, lang, n_tokens, n_removed,
         |           $fpClean AS fp,
         |           md5(clean_text) AS clean_md5
         |         FROM ct),
         |avail AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
         |          FROM base GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM base),
         |rates AS (SELECT lang,
         |            LEAST(1.0, (($mixWeightSql) * (CAST(tot_tokens AS DOUBLE) * 0.5))
         |              / CAST(avail_tokens AS DOUBLE)) AS rate
         |          FROM avail CROSS JOIN tot),
         |keep AS (SELECT b.* FROM base b JOIN rates r ON b.lang = r.lang
         |         WHERE CAST(b.fp % 1000000 AS DOUBLE) < r.rate * 1000000.0),
         |packed AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
         |             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |             AS cum_before
         |           FROM keep)
         |SELECT doc_id, lang, n_tokens, n_removed,
         |  CAST(cum_before // $PackBudget AS INTEGER) AS bin_id, clean_md5
         |FROM packed ORDER BY doc_id""".stripMargin
  }

  // --- text_repetition: Gopher-style repetition quality signal --------
  // Per-doc token totals, distinct count, and the hottest token's count
  // (max run over the SORTED token array) — all via codegen'd HOFs on
  // the scan, ZERO shuffles except the final order. The explode→
  // groupBy(doc,tok)→groupBy(doc) alternative shuffles every token
  // twice; this shape ships 4 numbers per document no matter the corpus
  // size, which is the difference between scan-bound and shuffle-bound
  // at 100 TB.
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val sorted = array_sort(toks)
    // fold over the sorted array tracking (prev token, current run, best run)
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val maxCnt = aggregate(
      sorted, zero,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.distinctTokenCount(col("text")).cast("long").as("n_distinct"),
        maxCnt.as("max_tok_cnt"))
      .withColumn("rep_ratio",
        (col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  val repetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |counts AS (
      |  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(max(c) AS BIGINT) AS max_tok_cnt,
      |  CAST(SUM(c) - count(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_ratio
      |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- text_bpe_tokens: subword-style (BPE-ish) token counting --------
  // Whitespace tokens vs a BPE-ish regex lexer ([a-z]+|[0-9]+|other
  // char) — the standard cheap proxy for "how many subword tokens will
  // the tokenizer emit" when budgeting a training corpus. Scan-local
  // regex (codegen'd on Spark, RE2 on DuckDB; alternation order makes
  // both lexers deterministic leftmost-first). chars_per_token is the
  // usual compression-ratio quality signal.
  def bpeTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"), col("n_chars"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
      .select("doc_id", "n_ws_tokens", "n_bpe_tokens", "chars_per_token")
      .orderBy("doc_id")

  val bpeTokensSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(n_chars AS DOUBLE) /
      |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)
      |    AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- text_decontaminate: benchmark-overlap contamination check ------
  // The training-data decontamination step: flag corpus documents that
  // share distinct word-trigrams with an evaluation set (here the
  // deterministic doc_id % 50 == 0 slice stands in for a benchmark
  // suite). Scale shape: the eval shingle-hash set is SMALL by nature
  // (benchmarks are), so it broadcasts and the corpus side filters
  // SCAN-LOCALLY via a broadcast semi join — no corpus shuffle at all;
  // only the (rare) hits shuffle into the per-doc count, map-side
  // combined. Hashes stand in for shingle strings exactly as in
  // jaccardPairsNgram (full 64-bit XXH64; collision odds ~2^-64 per
  // shared-shingle pair, surfaced by the oracle).
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir).select(col("doc_id"),
      explode(Kernels.call("graft_shingle_hashes",
        split(col("text"), " "), lit(3))).as("tok"))
    val ev = sh.filter(col("doc_id") % 50 === 0).select("tok").distinct()
    sh.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(ev), Seq("tok"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared")) // shingle hashes are per-doc distinct
      .filter(col("n_shared") >= 2)
      .withColumn("contaminated", col("n_shared") >= 8)
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |tok AS (SELECT DISTINCT doc_id, tok FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
      |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS tok
      |  FROM d WHERE len(l) >= 3)),
      |ev AS (SELECT DISTINCT tok FROM tok WHERE doc_id % 50 = 0)
      |SELECT t.doc_id, count(*) AS n_shared, count(*) >= 8 AS contaminated
      |FROM tok t JOIN ev ON t.tok = ev.tok
      |WHERE t.doc_id % 50 <> 0
      |GROUP BY t.doc_id
      |HAVING count(*) >= 2
      |ORDER BY doc_id""".stripMargin

  // --- text_pii_scrub: PII redaction over the corpus ------------------
  // The corpus-cleanup PII pass (emails + phone numbers → placeholder
  // tokens) as a pure scan-local projection — zero shuffle, zero joins;
  // at 100 TB this runs at scan bandwidth inside whole-stage codegen.
  // The synthetic corpus carries no real PII, so the query PLANTS a
  // deterministic email+phone on every 20th doc (mirrored in the
  // oracle); the md5 of the scrubbed text asserts byte-identical
  // redaction across engines, not just matching counts. Patterns stay
  // in the dialect intersection of Java regex and RE2 (character
  // classes + bounded quantifiers; no lookaround).
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailPat = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
    val phonePat = "[+][0-9]-[0-9]{3}-[0-9]{4}"
    val planted = concat(col("text"),
      when(col("doc_id") % 20 === 0,
        concat(lit(" reach me at user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-0100 thanks"))).otherwise(lit("")))
    docs(s, dir).select(col("doc_id"), planted.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(emailPat), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(phonePat), lit(0)))
          .cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>")).as("scrub_md5"))
      .filter(col("n_emails") + col("n_phones") > 0)
      .orderBy("doc_id")
  }

  val piiScrubSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    text || CASE WHEN doc_id % 20 = 0
      |      THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-0100 thanks'
      |      ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '[+][0-9]-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+', '<EMAIL>', 'g'),
      |      '[+][0-9]-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_md5
      |FROM p
      |WHERE len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+'))
      |    + len(regexp_extract_all(t, '[+][0-9]-[0-9]{3}-[0-9]{4}')) > 0
      |ORDER BY doc_id""".stripMargin

  // --- text_domain_stats: per-domain doc counts + cap -----------------
  // Web-corpus pipelines filter and dedup by URL host (per-domain
  // document caps are a standard crawl-cleanup gate). The fixture's
  // events.props JSON carries no url field, so the query PLANTS one
  // deterministically (the text_pii_scrub pattern, mirrored in the
  // oracle): each event gains a props JSON with a url whose host index
  // is floor(sqrt(event_id % 169)) — 13 domains with a skewed (2k+1)
  // size profile, so the cap genuinely splits them. The OPERATOR is
  // everything after the plant: get_json_object pulls the url out of
  // the JSON, a regexp extracts the host, and one map-side-combined
  // groupBy emits per-domain counts, the capped kept-count, and the
  // over-cap flag. Scale shape: JSON + regexp are scan-local codegen;
  // the only shuffle carries one (host, partials) row per partition.
  private val DomainCap = 500L

  def domainStats(s: SparkSession, dir: String): DataFrame = {
    val ev = Catalog.table(s, dir, "events")
    val jprops = concat(lit("{\"url\":\"https://site-"),
      floor(sqrt(pmod(col("event_id"), lit(169L)).cast("double"))).cast("long").cast("string"),
      lit(".example.com/p/"), col("event_id").cast("string"), lit("\"}"))
    ev.select(col("event_id"), col("user_id"), jprops.as("jprops"))
      .withColumn("url", get_json_object(col("jprops"), "$.url"))
      .withColumn("domain", regexp_extract(col("url"), "^https?://([^/]+)", 1))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("kept", least(col("n_docs"), lit(DomainCap)))
      .withColumn("over_cap", col("n_docs") > DomainCap)
      .orderBy("domain")
  }

  val domainStatsSql: String =
    s"""WITH p AS (
       |  SELECT event_id, user_id,
       |    '{"url":"https://site-' || CAST(CAST(floor(sqrt(event_id % 169)) AS BIGINT) AS VARCHAR)
       |      || '.example.com/p/' || CAST(event_id AS VARCHAR) || '"}' AS jprops
       |  FROM events),
       |u AS (SELECT event_id, user_id,
       |        json_extract_string(jprops, '$$.url') AS url FROM p),
       |h AS (SELECT event_id, user_id,
       |        regexp_extract(url, '^https?://([^/]+)', 1) AS domain FROM u)
       |SELECT domain, count(*) AS n_docs, count(DISTINCT user_id) AS n_users,
       |  LEAST(count(*), $DomainCap) AS kept,
       |  count(*) > $DomainCap AS over_cap
       |FROM h GROUP BY domain ORDER BY domain""".stripMargin

  // --- text_domain_survivors: the cap ENFORCED ------------------------
  // text_domain_stats reports which domains exceed the cap; this emits
  // the survivor rows a pipeline actually keeps — the first `cap`
  // events per domain in event_id order (deterministic: event_id is
  // unique). One window keyed by the domain; at 100 TB the rank only
  // needs ids + the host key to travel, and a heavily-skewed domain is
  // exactly the row-count the cap bounds. Smaller cap than the stats
  // query (50) so the survivor set is a real subset at every SF.
  private val SurvivorCap = 50

  def domainSurvivors(s: SparkSession, dir: String): DataFrame = {
    val ev = Catalog.table(s, dir, "events")
    val host = concat(lit("site-"),
      floor(sqrt(pmod(col("event_id"), lit(169L)).cast("double"))).cast("long").cast("string"),
      lit(".example.com"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("event_id"))
    ev.select(col("event_id"), host.as("domain"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= SurvivorCap)
      .select(col("domain"), col("event_id"), col("rnk").cast("long").as("rnk"))
      .orderBy("domain", "event_id")
  }

  val domainSurvivorsSql: String =
    s"""WITH h AS (SELECT event_id,
       |  'site-' || CAST(CAST(floor(sqrt(event_id % 169)) AS BIGINT) AS VARCHAR)
       |    || '.example.com' AS domain
       |  FROM events),
       |r AS (SELECT domain, event_id,
       |        CAST(row_number() OVER (PARTITION BY domain ORDER BY event_id) AS BIGINT) AS rnk
       |      FROM h)
       |SELECT domain, event_id, rnk FROM r
       |WHERE rnk <= $SurvivorCap
       |ORDER BY domain, event_id""".stripMargin

  // --- text_mix_sample: fixed-weight data mixing ----------------------
  // The data-mixing step every corpus-prep job runs last (Pile-style
  // fixed mixture weights): given target weights per language and a
  // token budget T = half the corpus, each language's sampling rate is
  // min(1, w_l * T / avail_tokens_l), and a document is kept iff its
  // CONTENT fingerprint (the oracle-checked rolling hash — re-ids and
  // re-ingests keep the same docs) lands under the rate: fp % 1e6 <
  // rate * 1e6. zh's weight (0.35) exceeds its corpus share, so its
  // rate CLAMPS at 1 — the under-represented-language case a mixing
  // job must handle (you cannot upsample by filtering) is exercised,
  // not just the downsampling path. Output is the mixing report an
  // operator reviews: per language, available docs/tokens, the rate,
  // and realized kept docs/tokens.
  //
  // Scale shape: fingerprint/tokenCount/weights are scan-local
  // codegen; the availability agg is map-side combined (one row per
  // lang per partition); the corpus-total is a broadcast one-row
  // cross join (precedent: target_sizes); the per-lang rate relation
  // (5 rows) broadcast-joins back to the scan. The big relation
  // shuffles only into the final per-lang agg — and at 100 TB the
  // real job would WRITE the kept rows instead, with the same
  // scan-local gate.
  private val MixWeights: Seq[(String, Double)] = Seq(
    "en" -> 0.25, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.35)

  /** Per-row mixture weight by language — shared by [[mixSample]] and
    * [[pretrainMix]] so the two samplers cannot fork the weights. */
  private def mixWeightCol: Column =
    MixWeights.tail.foldLeft(
        when(col("lang") === MixWeights.head._1, lit(MixWeights.head._2))) {
      case (acc, (l, wt)) => acc.when(col("lang") === l, lit(wt))
    }.otherwise(lit(0.0))

  /** The `CASE lang` mirror of [[mixWeightCol]] for the oracles. */
  private def mixWeightSql: String =
    MixWeights.map { case (l, wt) => s"WHEN lang = '$l' THEN $wt" }
      .mkString("CASE ", " ", " ELSE 0.0 END")

  def mixSample(s: SparkSession, dir: String): DataFrame = {
    val w = mixWeightCol
    val base = docs(s, dir).select(col("doc_id"), col("lang"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val avail = base.groupBy("lang")
      .agg(count(lit(1)).as("avail_docs"), sum(col("n_tokens")).as("avail_tokens"))
    val tot = base.agg(sum(col("n_tokens")).as("tot_tokens"))
    val rates = avail.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0),
        (w * (col("tot_tokens").cast("double") * 0.5)) /
          col("avail_tokens").cast("double")))
      .select("lang", "avail_docs", "avail_tokens", "rate")
    val kept = base.join(broadcast(rates.select("lang", "rate")), "lang")
      .filter(pmod(col("fp"), lit(1000000L)).cast("double") < col("rate") * 1000000.0)
      .groupBy("lang")
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
    rates.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("avail_docs"), col("avail_tokens"), col("rate"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy("lang")
  }

  val mixSampleSql: String = {
    val caseW = mixWeightSql
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(text, ' '),
       |          w -> CAST(length(w) * 131 + ascii(substr(w, 1, 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
       |  FROM documents),
       |avail AS (SELECT lang, count(*) AS avail_docs,
       |            CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
       |          FROM base GROUP BY lang),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM base),
       |rates AS (SELECT lang, avail_docs, avail_tokens,
       |            LEAST(1.0, (($caseW) * (CAST(tot_tokens AS DOUBLE) * 0.5))
       |              / CAST(avail_tokens AS DOUBLE)) AS rate
       |          FROM avail CROSS JOIN tot),
       |kept AS (SELECT b.lang, count(*) AS kept_docs,
       |           CAST(sum(b.n_tokens) AS BIGINT) AS kept_tokens
       |         FROM base b JOIN rates r ON b.lang = r.lang
       |         WHERE CAST(b.fp % 1000000 AS DOUBLE) < r.rate * 1000000.0
       |         GROUP BY b.lang)
       |SELECT r.lang, r.avail_docs, r.avail_tokens, r.rate,
       |  COALESCE(k.kept_docs, 0) AS kept_docs,
       |  COALESCE(k.kept_tokens, 0) AS kept_tokens
       |FROM rates r LEFT JOIN kept k ON r.lang = k.lang
       |ORDER BY r.lang""".stripMargin
  }

  // --- text_perplexity: n-gram LM quality scoring ---------------------
  // The standard model-based corpus-quality filter: a word-bigram
  // language model with add-one smoothing is trained on a corpus slice
  // (every 10th doc), and every document is scored by its negative
  // log-likelihood under that model. The bigram table is pruned to the
  // top-LmVocabCap entries by count (one TakeOrderedAndProject; misses
  // fall through to add-one backoff), so what reaches the driver is
  // bounded regardless of corpus size and re-enters the plan as
  // LITERAL maps — the broadcast pattern of the IVF centroids —
  // making scoring a pure scan-local
  // projection: per-doc bigrams via a codegen'd HOF, two map lookups
  // per bigram, zero joins, zero corpus shuffle (PlanQualitySpec).
  // Determinism per SURVEY §7: each bigram's log-prob is quantized to
  // an exact BIGINT (round(ln(p)·10⁶)) BEFORE summing, so the per-doc
  // sum is order-independent and hash-matches DuckDB exactly; ln is the
  // only transcendental (the text_bm25_topk precedent).
  // The trained models are per-corpus artifacts (graft.Memo): the
  // queries composing a score (text_perplexity, pipeline_corpus_clean2,
  // the DSIR pair, each × bench passes) never re-run the training jobs
  // within a JVM, and a fresh JVM loads the stored maps (≤ 2·cap
  // entries) instead of retraining. Bench attributes the warm-up to
  // `session_setup` via [[prepareLmModels]].

  private def writeCounts(out: java.io.DataOutputStream, m: Map[String, Long]): Unit = {
    out.writeInt(m.size)
    m.foreach { case (k, v) => out.writeUTF(k); out.writeLong(v) }
  }

  private def readCounts(in: java.io.DataInputStream): Map[String, Long] = {
    val n = in.readInt()
    require(n >= 0, "negative map size")
    val b = Map.newBuilder[String, Long]
    var i = 0
    while (i < n) { b += in.readUTF() -> in.readLong(); i += 1 }
    b.result()
  }

  /** Store format of the bigram LM ("GLM1"): c2, c1, vocabulary size. */
  private val LmCodec =
    graft.Memo.binary[(Map[String, Long], Map[String, Long], Long)](0x474c4d31)(
      (out, m) => { writeCounts(out, m._1); writeCounts(out, m._2); out.writeLong(m._3) })(
      in => (readCounts(in), readCounts(in), in.readLong()))

  /** Store format of the DSIR model ("GDS1"): target counts, raw vocab
    * counts, |vocab|, target and raw bigram totals. */
  private val DsirCodec = graft.Memo.binary[
      (Map[String, Long], Map[String, Long], Long, Long, Long)](0x47445331)(
      (out, m) => {
        writeCounts(out, m._1); writeCounts(out, m._2)
        out.writeLong(m._3); out.writeLong(m._4); out.writeLong(m._5)
      })(in => (readCounts(in), readCounts(in), in.readLong(), in.readLong(), in.readLong()))

  /** Warm the LM and/or DSIR trained models for `dir` — Bench calls
    * this from its session-setup block (timed as `session_setup`, like
    * the subset dumps) when a scoring query is selected, so cold rung
    * passes price SCORING, not once-per-corpus training. Idempotent:
    * hits the disk store when a previous process already trained. */
  def prepareLmModels(s: SparkSession, dir: String,
      lm: Boolean = true, dsir: Boolean = true): Unit = {
    if (lm) { lmCounts(s, dir); () }
    if (dsir) { dsirCountsCapped(s, dir, LmVocabCap); () }
  }

  /** Word bigrams of a token array ("a b" per adjacent pair); empty
    * under two tokens. Shared by the LM and DSIR trainers. */
  private def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))

  private def lmCounts(s: SparkSession, dir: String)
      : (Map[String, Long], Map[String, Long], Long) =
    lmCountsCapped(s, dir, LmVocabCap)

  /** The bigram LM: (bigram counts, first-word counts, vocabulary size).
    * The bigram table is capped at the top-`cap` bigrams by (count DESC,
    * bigram ASC — the deterministic tiebreak the oracle mirrors);
    * everything below the cap falls through to the add-one backoff the
    * smoothing already provides (COALESCE(c,0)+1). On a 100 TB corpus
    * the bigram vocabulary is O(10⁹), so an uncapped collect would be a
    * driver OOM; the cap turns training into one TakeOrderedAndProject
    * and bounds both maps — c1 is derived from the CAPPED c2, so it is
    * ≤ cap by construction. (The [[LmVocabCap]] constant itself lives
    * at the top of the object — oracle-SQL init order.) */
  private[graft] def lmCountsCapped(s: SparkSession, dir: String, cap: Int)
      : (Map[String, Long], Map[String, Long], Long) =
    graft.Memo("lm", dir, "documents", cap)(LmCodec) {
      val toks = split(col("text"), " ")
      val bigramsCol = bigrams(toks)
      val train = docs(s, dir).filter(col("doc_id") % 10 === 0)
      val c2 = train.select(explode(bigramsCol).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("bg"))
        .limit(cap)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val c1 = c2.groupBy(_._1.takeWhile(_ != ' '))
        .map { case (w, m) => w -> m.map(_._2).sum }
      val vocabN = train.select(explode(toks).as("w"))
        .agg(countDistinct(col("w"))).head().getLong(0)
      (c2.toMap, c1, vocabN)
    }

  // --- broadcast transport of the trained models (r15 verdict item 2) --
  // One Broadcast per (SparkContext, name, dir, fingerprint): the
  // typedlit literal-map children rode the serialized maps in EVERY
  // task binary (TaskSetManager "very large task (1425 KiB)" warnings),
  // which at 1000-executor scale is per-task serialization overhead a
  // broadcast pays once per executor. The model object is precomputed
  // on the driver through the SAME builder the SQL forms resolve
  // through (LmScores.lmModel/dsirModel), so outputs are bit-identical
  // by construction — LmScoresSpec pins it on the real corpus. Keyed on
  // applicationId so a restarted context in the same JVM can never
  // reuse a dead broadcast. One cached handle per broadcast keeps the
  // calls equal, so subexpression elimination shares them.
  private val scorers = scala.collection.mutable
    .Map[(String, String, String, String), LmScores.Broadcasted]()

  /** The `text` column's score under the model `mk` builds, shipped
    * through the cached broadcast handle `name`. */
  private def broadcastScore(s: SparkSession, name: String, dir: String)(
      mk: => LmScores.Model): Column = {
    val handle = scorers.synchronized {
      scorers.getOrElseUpdate(
        (s.sparkContext.applicationId, name, dir, Catalog.dirFingerprint(dir, "documents")),
        LmScores.Broadcasted(name, s.sparkContext.broadcast(mk)))
    }
    LmScores.score(handle, split(col("text"), " "))
  }

  /** The (n_pairs, nll_q6) scoring columns of the bigram LM, trained on
    * the every-10th-doc slice of `dir`'s RAW corpus. Applicable to any
    * DataFrame with a `text` column (the pipeline composition scores
    * canonicalized survivors with the same model). */
  private[graft] def perplexityCols(s: SparkSession, dir: String)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val toks = split(col("text"), " ")
    val (c2, c1, vocabN) = lmCounts(s, dir)
    // native kernel (r14): see graft.plans.LmScores
    val nll = broadcastScore(s, "graft_lm_nll_bcast", dir)(
      LmScores.lmModel(c2, c1, vocabN.toDouble))
    val nPairs = when(size(toks) >= 2, size(toks) - 1).otherwise(0).cast("long")
    (nPairs, nll)
  }

  def perplexity(s: SparkSession, dir: String): DataFrame = {
    val (nPairs, nll) = perplexityCols(s, dir)
    docs(s, dir)
      .select(col("doc_id"), nPairs.as("n_pairs"), nll.as("nll_q6"))
      .orderBy("doc_id")
  }

  /** Shared DuckDB CTEs of the bigram LM — training (d2/tr/v/tbg/c2/c1,
    * always on the RAW corpus slice) and scoring (terms/agg over a
    * `pairs` CTE the caller defines). text_perplexity and
    * pipeline_corpus_clean2 both splice these, so the two oracles can
    * never fork the model. Built by concatenation at the use sites —
    * nesting stripMargin blocks would strip the `||` operators. */
  private def lmTrainCtes: String =
    """d2 AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |tr AS (SELECT l FROM d2 WHERE doc_id % 10 = 0),
      |v AS (SELECT count(DISTINCT w) AS nv FROM (SELECT unnest(l) AS w FROM tr)),
      |tbg AS (SELECT l[i] || ' ' || l[i+1] AS b
      |        FROM (SELECT l, unnest(generate_series(1, len(l)-1)) AS i
      |              FROM tr WHERE len(l) >= 2)),
      |c2 AS (SELECT b, c FROM (SELECT b, count(*) AS c FROM tbg GROUP BY 1)
      |       ORDER BY c DESC, b LIMIT """.stripMargin + LmVocabCap + """),
      |c1 AS (SELECT string_split(b, ' ')[1] AS w1, CAST(sum(c) AS BIGINT) AS c
      |       FROM c2 GROUP BY 1)""".stripMargin

  private def lmScoreCtes: String =
    """terms AS (SELECT p.doc_id,
      |    CAST(round(ln((COALESCE(c2.c, 0) + 1.0) /
      |                  (COALESCE(c1.c, 0) + v.nv)) * 1000000, 0) AS BIGINT) AS q
      |  FROM pairs p
      |  LEFT JOIN c2 ON p.b = c2.b
      |  LEFT JOIN c1 ON p.w1 = c1.w1
      |  CROSS JOIN v),
      |agg AS (SELECT doc_id, count(*) AS n_pairs,
      |          CAST(-sum(q) AS BIGINT) AS nll_q6 FROM terms GROUP BY 1)""".stripMargin

  val perplexitySql: String =
    "WITH " + lmTrainCtes + ",\n" +
      """pairs AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS b, l[i] AS w1
        |          FROM (SELECT doc_id, l, unnest(generate_series(1, len(l)-1)) AS i
        |                FROM d2 WHERE len(l) >= 2)),""".stripMargin + "\n" +
      lmScoreCtes + "\n" +
      """SELECT d2.doc_id, COALESCE(a.n_pairs, 0) AS n_pairs,
        |  COALESCE(a.nll_q6, 0) AS nll_q6
        |FROM d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id
        |ORDER BY d2.doc_id""".stripMargin

  // --- text_dsir_weights: importance weights for data selection -------
  // The standard targeted-data-selection operator for LM pretraining
  // corpora (importance resampling over n-gram features, per the public
  // DSIR line of work): estimate a feature distribution on a small
  // trusted TARGET slice and on the RAW pool, then weight every document
  // by the log-likelihood ratio of its features under the two
  // distributions — high-weight docs "look like" the target corpus, and
  // resampling by weight shifts the mix toward it. Features are word
  // bigrams over a top-[[LmVocabCap]] vocabulary: the oracle-checkable
  // analog of DSIR's hashed bigrams (a hash bucket can't be replicated
  // in DuckDB; a capped exact vocabulary with the (count DESC, bigram
  // ASC) tiebreak can). Scale posture = the perplexity gate's: training
  // is two map-side-combined bigram counts (shuffle = vocabulary, not
  // corpus) + one TakeOrderedAndProject cap, the driver holds ≤ 2·cap
  // entries, and scoring is a pure scan-local HOF over LITERAL maps —
  // zero joins, zero corpus shuffle (PlanQualitySpec). Each per-feature
  // log-ratio is quantized to a BIGINT (round(ln·10⁶)) BEFORE summing
  // (SURVEY §7: integer sums are order-independent), so the per-doc
  // score hash-matches DuckDB exactly.

  /** The trusted target slice: a curated source allowlist (the
    * fixture's stand-in for "Wikipedia-like" provenance). Declared
    * before [[dsirSql]] — object-init order, the [[LmVocabCap]] rule. */
  private[graft] final val DsirTargetSources = Seq("src0", "src1", "src2")
  private val dsirTargetSqlList = DsirTargetSources.map(s => s"'$s'").mkString(", ")

  /** The DSIR model per (dir, cap): (target bigram counts restricted to
    * the vocab, the raw-side vocab counts, |vocab|, total target bigram
    * occurrences, total raw bigram occurrences). The driver holds
    * ≤ 2·cap entries + 3 scalars regardless of corpus size. */
  private[graft] def dsirCountsCapped(s: SparkSession, dir: String, cap: Int)
      : (Map[String, Long], Map[String, Long], Long, Long, Long) =
    graft.Memo("dsir", dir, "documents", cap)(DsirCodec) {
      val bigramsCol = bigrams(split(col("text"), " "))
      val d = docs(s, dir)
      val raw = d.filter(col("doc_id") % 10 === 0)
      val tgt = d.filter(col("source").isin(DsirTargetSources: _*))
      val rawVocab = raw.select(explode(bigramsCol).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("bg"))
        .limit(cap)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      // target counts RESTRICTED to the vocab BEFORE the collect — a
      // broadcast LEFT SEMI join on the ≤cap vocab keys (replacing
      // the earlier literal-map membership filter, whose 50k-entry
      // map rode in every task binary — r15 verdict item 2; the
      // broadcast hash relation ships once per executor and the
      // lookup is a hash probe, not a key-array scan). What reaches
      // the driver is ≤ cap rows even when the target slice is huge.
      val vocabKeys = s.createDataset(rawVocab.map(_._1).toIndexedSeq)(
        org.apache.spark.sql.Encoders.STRING).toDF("bg")
      val tgtCounts = tgt.select(explode(bigramsCol).as("bg"))
        .join(broadcast(vocabKeys), Seq("bg"), "left_semi")
        .groupBy("bg").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val tTot = tgt.agg(coalesce(sum(size(bigramsCol).cast("long")), lit(0L)))
        .head().getLong(0)
      val rTot = raw.agg(coalesce(sum(size(bigramsCol).cast("long")), lit(0L)))
        .head().getLong(0)
      (tgtCounts.toMap, rawVocab.toMap, rawVocab.length.toLong, tTot, rTot)
    }

  /** Per-document importance weight: sum over the doc's bigrams of
    * q6(ln( p̂_target(b) / p̂_raw(b) )) with add-one smoothing over the
    * shared vocabulary — an out-of-vocab bigram contributes the
    * constant ln((rTot+V)/(tTot+V)) since both sides smooth it to
    * 1/(tot+V). Output: (doc_id, n_feats, dsir_q6) for EVERY doc
    * (docs under two tokens score 0 over 0 features); the resampling
    * step itself is an ORDER BY dsir_q6 over this relation. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val (nFeats, w) = dsirCols(s, dir)
    docs(s, dir)
      .select(col("doc_id"), nFeats.as("n_feats"), w.as("dsir_q6"))
      .orderBy("doc_id")
  }

  /** The (n_feats, dsir_q6) scoring columns over a `text` column —
    * shared by the batch query, the resampling step, and the streaming
    * twin. Stateless by construction (the trained distributions are a
    * driver-precomputed model shipped READ-ONLY via Broadcast, the
    * [[perplexityCols]] transport — valid for the session's lifetime,
    * so every microbatch of the streaming twin reads the same table),
    * which is what makes the stream==batch parity hold trivially. */
  private[graft] def dsirCols(s: SparkSession, dir: String): (Column, Column) = {
    val (ct, cr, v, tTot, rTot) = dsirCountsCapped(s, dir, LmVocabCap)
    val toks = split(col("text"), " ")
    // native kernel (r14): see graft.plans.LmScores
    val w = broadcastScore(s, "graft_dsir_score_bcast", dir)(
      LmScores.dsirModel(ct, cr, (rTot + v).toDouble, (tTot + v).toDouble))
    val nFeats = when(size(toks) >= 2, size(toks) - 1).otherwise(0).cast("long")
    (nFeats, w)
  }

  /** The DSIR RESAMPLING step (r13 verdict item 4): select the top
    * ceil-free n/10 documents by importance weight with the
    * deterministic (dsir_q6 DESC, doc_id ASC) tiebreak — the "shift
    * the mix toward the target" selection the weights exist for. The
    * rank comes from [[graft.operators.PrefixSum.descRank]]: value-axis
    * range shards + per-shard windows + an nShards-row offset window,
    * so no global sort and no single-partition window anywhere in the
    * plan — the 100 TB shape. k derives from the parquet footer row
    * count (driver metadata, job-free). The selected SET and ranks are
    * implementation-independent given the total order, so the DuckDB
    * oracle is a plain row_number window — full oracle, no shard-math
    * mirroring needed (unlike `sample_weighted`, whose cum axis is in
    * the output). */
  def dsirSample(s: SparkSession, dir: String): DataFrame = {
    val (_, w) = dsirCols(s, dir)
    // Materialize the 16-byte-per-doc scored projection BEFORE the rank:
    // descRank's plan references its input from several branches
    // (bounds agg, shard counts, the main window), and each branch
    // would otherwise re-run the scoring scan (and, pre-r16, re-ship
    // the two 50k-entry literal score maps through every stage —
    // measured 89 s at sf1 un-checkpointed vs ~the weights query's
    // cost with the checkpoint; the maps now ride a once-per-executor
    // Broadcast, but the recompute itself still pays). The checkpoint
    // is the scored RELATION (corpus-linear, 2 longs/doc), not the
    // corpus.
    val scored = docs(s, dir).select(col("doc_id"), w.as("dsir_q6"))
      .localCheckpoint(false)
    val k = math.max(1L,
      graft.sources.Sources.footerRowCount(s, s"$dir/documents.parquet") / 10)
    graft.operators.PrefixSum.descRank(scored, "dsir_q6", "doc_id")
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("dsir_q6"), col("rnk"))
      .orderBy("rnk")
  }

  /** The shared training + scoring CTE chain (through `agg`) — the
    * weights query and the resampling query differ only in their final
    * SELECT, so the trained-distribution SQL is written once. */
  private val dsirCtes: String =
    """WITH d2 AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      |bg AS (SELECT doc_id, source, l[i] || ' ' || l[i+1] AS b
      |       FROM (SELECT doc_id, source, l, unnest(generate_series(1, len(l)-1)) AS i
      |             FROM d2 WHERE len(l) >= 2)),
      |vocab AS (SELECT b, c
      |          FROM (SELECT b, count(*) AS c FROM bg WHERE doc_id % 10 = 0 GROUP BY 1)
      |          ORDER BY c DESC, b LIMIT """.stripMargin + LmVocabCap + """),
      |tc AS (SELECT bg.b, count(*) AS c FROM bg JOIN vocab ON bg.b = vocab.b
      |       WHERE bg.source IN (""".stripMargin + dsirTargetSqlList + """) GROUP BY 1),
      |tot AS (SELECT
      |    (SELECT count(*) FROM bg WHERE source IN (""".stripMargin + dsirTargetSqlList + """)) AS t_tot,
      |    (SELECT count(*) FROM bg WHERE doc_id % 10 = 0) AS r_tot,
      |    (SELECT count(*) FROM vocab) AS v),
      |terms AS (SELECT bg.doc_id,
      |    CAST(round(ln(((COALESCE(tc.c, 0) + 1.0) * (tot.r_tot + tot.v)) /
      |                  ((COALESCE(vc.c, 0) + 1.0) * (tot.t_tot + tot.v))) * 1000000, 0) AS BIGINT) AS q
      |  FROM bg LEFT JOIN vocab vc ON bg.b = vc.b
      |          LEFT JOIN tc ON bg.b = tc.b
      |          CROSS JOIN tot),
      |agg AS (SELECT doc_id, count(*) AS n_feats, CAST(sum(q) AS BIGINT) AS dsir_q6
      |        FROM terms GROUP BY 1)""".stripMargin

  val dsirSql: String = dsirCtes + """
      |SELECT d2.doc_id, COALESCE(a.n_feats, 0) AS n_feats,
      |  COALESCE(a.dsir_q6, 0) AS dsir_q6
      |FROM d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id
      |ORDER BY d2.doc_id""".stripMargin

  /** Resampling oracle: the selected set and ranks are functions of the
    * (dsir_q6 DESC, doc_id) total order alone, so a plain window rank
    * reproduces the engine's sharded rank exactly. */
  val dsirSampleSql: String = dsirCtes + """,
      |w AS (SELECT d2.doc_id, COALESCE(a.dsir_q6, 0) AS dsir_q6
      |      FROM d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id),
      |r AS (SELECT doc_id, dsir_q6,
      |        CAST(row_number() OVER (ORDER BY dsir_q6 DESC, doc_id) AS BIGINT) AS rnk
      |      FROM w)
      |SELECT doc_id, dsir_q6, rnk FROM r
      |WHERE rnk <= GREATEST(1, (SELECT count(*) // 10 FROM d2))
      |ORDER BY rnk""".stripMargin

  // --- dedup_url_canonical: crawl URL dedup by canonical form ---------
  // The frontier/dedup stage every crawl pipeline runs BEFORE content
  // dedup: canonicalize each URL (TextFunctions.canonicalUrl — host
  // case-fold, fragment drop, utm_* strip, trailing-slash trim; scheme
  // preserved) and collapse raws that name the same resource. The
  // fixture's events carry no url, so the query PLANTS one (the
  // text_domain_stats pattern, mirrored in the oracle): each page id
  // (event_id div 7) gains 7 decorated variants by event_id % 7 — five
  // collapse to the same canonical, one keeps a REAL query param
  // (?id=1 survives the utm strip), one differs by scheme — so the
  // canonicalizer's keep/collapse behavior is exercised in both
  // directions, not just the happy path. Output: per canonical URL
  // with ≥2 raws, the raw count, distinct-raw count, and the
  // min-event keeper.
  //
  // Scale shape: canonicalization is a scan-local codegen'd
  // string/HOF projection; the only shuffle is the groupBy on the
  // canonical key (map-side combined). At 100 TB the canonical key is
  // the natural bucketing column for the frontier store.
  /** The planted 7-variant raw URL for an event id — shared by the
    * batch query and the streaming frontier-dedup twin so both sides
    * canonicalize the identical raw strings. */
  private[graft] def plantedRawUrl(id: Column): Column = {
    // `/` is IEEE division; the truncating cast equals the oracle's
    // integer `// 7` for any id < 2^52 (ids are exact doubles and the
    // quotient's rounding error ~q*2^-53 never crosses the truncation
    // boundary, which is >= 1/7 away)
    val page = (id / 7).cast("long")
    val m = pmod(id, lit(7L))
    val host = concat(lit("site-"),
      floor(sqrt(pmod(page, lit(169L)).cast("double"))).cast("long").cast("string"),
      lit(".example.com"))
    val base = concat(lit("https://"), host, lit("/p/"), page.cast("string"))
    when(m === 0, base)
      .when(m === 1, concat(lit("https://"), upper(host), lit("/p/"), page.cast("string")))
      .when(m === 2, concat(base, lit("/")))
      .when(m === 3, concat(base, lit("?utm_source=feed")))
      .when(m === 4, concat(base, lit("?id=1&utm_campaign=x")))
      .when(m === 5, concat(base, lit("#frag")))
      .otherwise(concat(lit("http://"), host, lit("/p/"), page.cast("string")))
  }

  def urlCanonical(s: SparkSession, dir: String): DataFrame = {
    val ev = Catalog.table(s, dir, "events")
    ev.select(col("event_id"), plantedRawUrl(col("event_id")).as("raw_url"))
      .withColumn("canon_url", graft.functions.TextFunctions.canonicalUrl(col("raw_url")))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("raw_url")).as("n_variants"),
        min(col("event_id")).as("keeper_event"))
      .filter(col("n_raw") >= 2)
      .orderBy("canon_url")
  }

  val urlCanonicalSql: String =
    """WITH p AS (
      |  SELECT event_id, event_id // 7 AS page, event_id % 7 AS m,
      |    'site-' || CAST(CAST(floor(sqrt((event_id // 7) % 169)) AS BIGINT) AS VARCHAR)
      |      || '.example.com' AS host
      |  FROM events),
      |r AS (
      |  SELECT event_id,
      |    CASE m
      |      WHEN 0 THEN 'https://' || host || '/p/' || CAST(page AS VARCHAR)
      |      WHEN 1 THEN 'https://' || upper(host) || '/p/' || CAST(page AS VARCHAR)
      |      WHEN 2 THEN 'https://' || host || '/p/' || CAST(page AS VARCHAR) || '/'
      |      WHEN 3 THEN 'https://' || host || '/p/' || CAST(page AS VARCHAR) || '?utm_source=feed'
      |      WHEN 4 THEN 'https://' || host || '/p/' || CAST(page AS VARCHAR) || '?id=1&utm_campaign=x'
      |      WHEN 5 THEN 'https://' || host || '/p/' || CAST(page AS VARCHAR) || '#frag'
      |      ELSE 'http://' || host || '/p/' || CAST(page AS VARCHAR)
      |    END AS raw_url
      |  FROM p),
      |s1 AS (SELECT event_id, raw_url,
      |         regexp_replace(raw_url, '#.*', '') AS nf FROM r),
      |s2 AS (SELECT event_id, raw_url, nf,
      |         lower(regexp_extract(nf, '^([A-Za-z]+://[^/?#]+)', 1)) AS sh FROM s1),
      |s3 AS (SELECT event_id, raw_url, sh,
      |         substring(nf, length(sh) + 1) AS pq FROM s2),
      |s4 AS (SELECT event_id, raw_url, sh,
      |         regexp_extract(pq, '^([^?]*)', 1) AS pth,
      |         COALESCE(array_to_string(list_filter(
      |           string_split(regexp_extract(pq, '[?](.*)$', 1), '&'),
      |           x -> NOT starts_with(x, 'utm_') AND x <> ''), '&'), '') AS kq
      |       FROM s3),
      |c AS (SELECT event_id, raw_url,
      |        sh || regexp_replace(pth, '/+$', '')
      |           || CASE WHEN kq = '' THEN '' ELSE '?' || kq END AS canon_url
      |      FROM s4)
      |SELECT canon_url, count(*) AS n_raw,
      |  count(DISTINCT raw_url) AS n_variants,
      |  min(event_id) AS keeper_event
      |FROM c GROUP BY canon_url
      |HAVING count(*) >= 2
      |ORDER BY canon_url""".stripMargin

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_url_canonical" -> (urlCanonical _),
    "text_domain_stats" -> (domainStats _),
    "text_domain_survivors" -> (domainSurvivors _),
    "text_shard_plan" -> (shardPlan _),
    "text_train_order" -> (trainOrder _),
    "text_perplexity" -> (perplexity _),
    "text_pii_scrub" -> (piiScrub _),
    "text_decontaminate" -> (decontaminate _),
    "text_bpe_tokens" -> (bpeTokens _),
    "text_repetition" -> (repetition _),
    "pipeline_corpus_clean" -> (corpusClean _),
    "pipeline_corpus_clean2" -> (corpusClean2 _),
    "pipeline_pretrain_mix" -> (pretrainMix _),
    "text_bm25_topk" -> (bm25Topk _),
    "text_chunks" -> (chunks _),
    "text_pack_bins" -> (packBins _),
    "text_tokens_top" -> (tokensTop _),
    "text_lang_stats" -> (langStats _),
    "text_quality" -> (quality _),
    "text_quality_thresholds" -> (qualityThresholds _),
    "text_langid" -> (langid _),
    "text_dup_spans" -> (dupSpans _),
    "text_dup_spans_hashed" -> (dupSpansHashed _),
    "text_span_clean" -> (spanClean _),
    "text_mix_sample" -> (mixSample _),
    "text_dsir_weights" -> (dsirWeights _),
    "text_dsir_sample" -> (dsirSample _),
    "text_fingerprint" -> (fingerprint _))

  def oracle: Map[String, String] = Map(
    "dedup_url_canonical" -> urlCanonicalSql,
    "text_domain_stats" -> domainStatsSql,
    "text_domain_survivors" -> domainSurvivorsSql,
    "text_shard_plan" -> shardPlanSql,
    "text_train_order" -> trainOrderSql,
    "text_perplexity" -> perplexitySql,
    "text_pii_scrub" -> piiScrubSql,
    "text_decontaminate" -> decontaminateSql,
    "text_bpe_tokens" -> bpeTokensSql,
    "text_repetition" -> repetitionSql,
    "pipeline_corpus_clean" -> corpusCleanSql,
    "pipeline_corpus_clean2" -> corpusClean2Sql,
    "pipeline_pretrain_mix" -> pretrainMixSql,
    "text_bm25_topk" -> bm25TopkSql,
    "text_chunks" -> chunksSql,
    "text_pack_bins" -> packBinsSql,
    "text_tokens_top" -> tokensTopSql,
    "text_lang_stats" -> langStatsSql,
    "text_quality" -> qualitySql,
    "text_quality_thresholds" -> qualityThresholdsSql,
    "text_langid" -> langidSql,
    "text_dup_spans" -> dupSpansSql,
    "text_dup_spans_hashed" -> dupSpansSql, // same relation, 8-byte-keyed path
    "text_span_clean" -> spanCleanSql,
    "text_mix_sample" -> mixSampleSql,
    "text_dsir_weights" -> dsirSql,
    "text_dsir_sample" -> dsirSampleSql,
    "text_fingerprint" -> fingerprintSql)
}
