package graft

import graft.queries.EventQueries
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Structured Streaming parity: the streaming pipelines must agree with
  * their batch (oracle-checked) counterparts over the same files. */
class StreamingSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  test("streaming tumbling counts == batch tumbling counts") {
    val q = EventStreams.startTumblingToMemory(spark, dir, "t_tumbling")
    q.awaitTermination()
    val streamRows = spark.sql(
      "SELECT hour_start_s, event_type, cnt FROM t_tumbling").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batchRows = EventQueries.tumblingCounts(spark, dir)
      .select("hour_start_s", "event_type", "cnt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamRows == batchRows)
    assert(streamRows.nonEmpty)
  }

  test("streaming sliding counts == batch sliding counts") {
    val q = EventStreams.startSlidingToMemory(spark, dir, "t_sliding")
    q.awaitTermination()
    val streamRows = spark.sql(
      "SELECT win_start_s, event_type, cnt FROM t_sliding").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batchRows = EventQueries.slidingCounts(spark, dir)
      .select("win_start_s", "event_type", "cnt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamRows == batchRows)
    assert(streamRows.nonEmpty)
  }

  test("stream-stream range join under watermarks == batch range join (nonempty)") {
    // widen the window so the tiny sf0.001 stream actually joins
    val q = EventStreams.startRangeJoinToMemory(spark, dir, "t_rjoin",
      windowSeconds = 86400)
    q.awaitTermination()
    val streamPairs = spark.sql("SELECT error_id, purchase_id FROM t_rjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = EventQueries.rangeJoinEvents(spark, dir, windowSeconds = 86400)
      .select("error_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamPairs == batchPairs)
    assert(streamPairs.nonEmpty)
  }

  test("stream-static enrichment join == batch join (broadcast dim, no stream shuffle)") {
    val q = EventStreams.startEnrichedToMemory(spark, dir, "t_enriched")
    q.awaitTermination()
    val streamRows = spark.sql("SELECT c_mktsegment, cnt FROM t_enriched")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batchRows = Catalog.table(spark, dir, "events")
      .join(Catalog.table(spark, dir, "customer"),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamRows == batchRows)
    assert(streamRows.nonEmpty)
  }

  test("streaming dedup keeps exactly one row per distinct text") {
    val q = EventStreams.startDedupToMemory(spark, dir, "t_dedup")
    q.awaitTermination()
    val streamed = spark.sql("SELECT text FROM t_dedup").collect().map(_.getString(0))
    val batchDistinct = graft.Catalog.table(spark, dir, "documents")
      .select("text").distinct().count()
    assert(streamed.length.toLong == batchDistinct)
    assert(streamed.toSet.size == streamed.length) // no dup texts survived
  }

  test("streaming parquet sink: checkpointed exactly-once across restart") {
    val base = tempDir("graft-sink").toString
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    val q1 = EventStreams.startDedupToParquet(spark, dir, out, ckpt)
    q1.awaitTermination()
    val batchDistinct = graft.Catalog.table(spark, dir, "documents")
      .select("text").distinct().count()
    assert(spark.read.parquet(out).count() == batchDistinct)
    // restart against the same checkpoint: offsets are committed, the
    // manifest is sealed — nothing is re-read, nothing lands twice
    val q2 = EventStreams.startDedupToParquet(spark, dir, out, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == batchDistinct)
  }

  test("streaming corpus cleanup (gates + dedup on ingest) == batch gate text set") {
    val q = EventStreams.startCorpusCleanToMemory(spark, dir, "t_clean")
    q.awaitTermination()
    val streamed = spark.sql("SELECT text FROM t_clean")
      .collect().map(_.getString(0))
    assert(streamed.nonEmpty)
    assert(streamed.toSet.size == streamed.length, "dup texts survived the stream")
    // batch recomputation of the same gates over the same file: the
    // kept TEXT set must agree (keeper doc_id legitimately differs —
    // min-id in batch, first-arrival in the stream)
    val batchKept = graft.queries.TextQueries
      .cleanKept(graft.Catalog.table(spark, dir, "documents"))
      .select("text").distinct().collect().map(_.getString(0)).toSet
    assert(streamed.toSet == batchKept)
  }

  test("streaming cleanup v2 gate chain (canon+dedup+gates+LM) == batch survivor set") {
    val q = EventStreams.startCorpusClean2ToMemory(spark, dir, "t_clean2")
    q.awaitTermination()
    val collected = spark.sql("SELECT norm_md5 FROM t_clean2")
      .collect().map(_.getString(0))
    // the stateful dedup must emit each surviving digest exactly once
    assert(collected.toSet.size == collected.length,
      "stream emitted a duplicate digest — dedup state regressed")
    val streamed = collected.toSet
    // batch comparator: THE pipeline's own stage-1-4 helper (the same
    // code corpusClean2 composes), not a re-implementation — keeper ids
    // can differ (first-arrival vs min-id), so compare digest sets
    val batch = graft.queries.TextQueries.clean2GateSurvivors(spark, dir)
      .select(md5(col("text")).as("norm_md5"))
      .collect().map(_.getString(0)).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "streaming gate-chain survivors must equal the batch pipeline's stage-4 set")
    // fixture property the keeper-independence of the lang gate relies
    // on: no canonical-digest group spans documents with different lang
    // labels (if one ever does, first-arrival vs min-id keepers would
    // gate differently and parity would fail nondeterministically)
    val d = graft.Catalog.table(spark, dir, "documents")
    val crossLang = d.union(graft.queries.SimilarityQueries.messyVariants(d))
      .select(md5(graft.queries.SimilarityQueries.canonicalText).as("norm_md5"), col("lang"))
      .groupBy("norm_md5").agg(countDistinct(col("lang")).as("n_langs"))
      .filter(col("n_langs") > 1).count()
    assert(crossLang == 0L,
      "a digest group spans languages: the stream's post-dedup lang gate " +
        "is keeper-dependent — parity contract needs re-deriving")
  }

  test("streaming DSIR weights (stateless literal-map scoring) == batch text_dsir_weights") {
    // 13th parity twin: importance weighting on ingest. The trained
    // distributions are plan literals, so the stream carries zero state
    // and parity is exact per-row — same contract as the perplexity
    // gate inside streamCorpusClean2, surfaced for the standalone
    // scorer the resampling step consumes.
    val q = EventStreams.startDsirWeightsToMemory(spark, dir, "t_dsir")
    q.awaitTermination()
    val streamed = spark.sql("SELECT doc_id, n_feats, dsir_q6 FROM t_dsir")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.queries.TextQueries.dsirWeights(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming minhash near-dup (keyed bucket state) == batch LSH pairs") {
    val q = EventStreams.startNearDupToMemory(spark, dir, "t_neardup")
    q.awaitTermination()
    // at-least-once candidate emission (a pair can collide in several
    // bands, each with the identical estimate) — distinct both sides
    val streamed = spark.sql("SELECT ida, idb, est_jaccard FROM t_neardup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchDocs = graft.Catalog.table(spark, dir, "documents")
    val sigs = graft.functions.SimilarityFunctions
      .minhashSignatures(batchDocs, "text", 32, nShingle = 3)
    val batch = graft.functions.SimilarityFunctions.minhashLshPairs(sigs, bands = 8)
      .filter(col("est_jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // No fixture-size pin needed here anymore: batch capHotKeys and the
    // streaming freeze-at-cap share one semantic (keep the cap lowest
    // doc_ids), so parity covers over-cap buckets — proven by the
    // dedicated over-cap test below.
  }

  test("over-cap hot bucket: streaming freeze-at-cap == batch keep-first-N") {
    import spark.implicits._
    val tmp = tempDir("graft-hotbucket").toString
    // six identical boilerplate docs — every band bucket holds all six,
    // over the cap of 3 — plus two unrelated docs as cold background
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val rows = (1L to 6L).map(i =>
        (i, boiler, "en", "syn", boiler.length.toLong)) ++ Seq(
      (7L, "completely different text about catalyst optimizer internals",
        "en", "syn", 61L),
      (8L, "unrelated words entirely here nothing shared at all with any",
        "en", "syn", 60L))
    // the stream's pathGlobFilter matches LEAF file names, so
    // documents.parquet must be a single FILE (as in the driver
    // testdata), not a part-file directory: stage, then move the part
    val stage = s"$tmp/_stage"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$tmp/documents.parquet"))
    val cap = 3
    val q = EventStreams.streamNearDupPairs(spark, tmp, minEst = 0.5, maxBucket = cap)
      .writeStream.format("memory").queryName("t_hotbucket")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT ida, idb, est_jaccard FROM t_hotbucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchDocs = spark.read.parquet(s"$tmp/documents.parquet")
    val sigs = graft.functions.SimilarityFunctions
      .minhashSignatures(batchDocs, "text", 32, nShingle = 3)
    // the fixture is genuinely degenerate: its hottest bucket exceeds the cap
    val maxBucketSize = graft.functions.SimilarityFunctions
      .bandedSignatures(batchDocs, "text", numHashes = 32, nShingle = 3, bands = 8)
      .groupBy("band", "band_key").count()
      .agg(max(col("count"))).head().getLong(0)
    assert(maxBucketSize > cap, s"fixture bucket $maxBucketSize must exceed cap $cap")
    val batch = graft.functions.SimilarityFunctions
      .minhashLshPairs(sigs, bands = 8, maxBucket = cap)
      .filter(col("est_jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // both sides keep the cap lowest doc_ids of the frozen bucket: the
    // identical-doc pairs among {1,2,3} and nothing from docs 4-6
    assert(streamed == Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)))
    assert(streamed == batch,
      "over-cap bucket: stream freeze-at-cap must equal batch keep-first-N")
  }

  test("streaming paragraph dedup (keyed digest state) == batch global-first window") {
    val q = EventStreams.startParagraphSurvivorsToMemory(spark, dir, "t_paras")
    q.awaitTermination()
    val streamed = spark.sql("SELECT para_md5, doc_id, para_no FROM t_paras")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // batch comparator: text_paragraph_clean's kept set — the
    // globally-first (doc_id, para_no) occurrence of each digest
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("para_md5")).orderBy(col("doc_id"), col("para_no"))
    val batch = graft.Catalog.table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(graft.queries.SimilarityQueries.paragraphedText, "\n\n"))
          .as(Seq("para_no", "para")))
      .select(md5(col("para")).as("para_md5"), col("doc_id"),
        col("para_no").cast("int").as("para_no"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("para_md5", "doc_id", "para_no")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "streaming paragraph survivors must equal the batch global-first set")
  }

  test("streaming session_window (native operator) == batch session_window_native") {
    val q = EventStreams.startSessionWindowToMemory(spark, dir, "t_swin")
    q.awaitTermination()
    val streamRows = spark.sql(
      "SELECT user_id, session_start_s, session_end_s, n_events FROM t_swin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchRows = EventQueries.sessionWindowNative(spark, dir)
      .select("user_id", "session_start_s", "session_end_s", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamRows == batchRows)
    assert(streamRows.nonEmpty)
  }

  test("streaming sessionize (flatMapGroupsWithState) == batch sessionize") {
    val q = EventStreams.startSessionizeToMemory(spark, dir, "t_sessions")
    q.awaitTermination()
    val streamSessions = spark.sql(
      "SELECT user_id, session_start_s, session_end_s, n_events FROM t_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchSessions = EventQueries.sessionize(spark, dir)
      .select("user_id", "session_start_s", "session_end_s", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamSessions == batchSessions)
    assert(streamSessions.nonEmpty)
  }

  test("streaming URL-frontier dedup == batch canonical min-event keepers") {
    val q = EventStreams.startUrlDedupToMemory(spark, dir, "t_urldedup")
    q.awaitTermination()
    val streamed = spark.sql("SELECT canon_url, event_id FROM t_urldedup")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // batch expectation over ALL canonical urls (the declared query
    // filters to groups with >= 2 raws; the stream keeps singletons too)
    val batch = Catalog.table(spark, dir, "events")
      .select(col("event_id"),
        graft.queries.TextQueries.plantedRawUrl(col("event_id")).as("raw_url"))
      .select(graft.functions.TextFunctions.canonicalUrl(col("raw_url"))
        .as("canon_url"), col("event_id"))
      .groupBy("canon_url")
      .agg(org.apache.spark.sql.functions.min("event_id").as("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch,
      "stream keeper set must equal the batch min-event keepers")
    assert(streamed.nonEmpty)
    // and the declared query's keepers are a subset (the >=2-raw groups)
    val declared = graft.queries.TextQueries.urlCanonical(spark, dir)
      .select(col("canon_url"), col("keeper_event"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(declared.subsetOf(streamed))
  }
}
