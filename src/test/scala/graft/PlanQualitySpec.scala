package graft

import graft.functions.SimilarityFunctions
import graft.queries.{CoreQueries, RelationalQueries, SimilarityQueries}
import org.apache.spark.sql.graftshim.ActionPlans

/** Plan-shape regression guard: the physical plans the 100 TB story
  * depends on must not silently regress — filters/projections reaching
  * the parquet scan, intended join strategies, heap-based top-k. */
class PlanQualitySpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters are pushed to the parquet scan") {
    val p = plan(CoreQueries.filterPushdown(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
  }

  test("projection pruning reaches ReadSchema") {
    val p = plan(RelationalQueries.projPrune(spark, dir))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double>"))
    assert(!p.contains("l_shipdate")) // untouched columns never read
  }

  test("dimension join broadcasts; no shuffle of the fact side") {
    val p = plan(RelationalQueries.joinNationRegionBcast(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("merge hint yields a sort-merge join") {
    val p = plan(RelationalQueries.joinLineitemOrdersSmj(spark, dir))
    assert(p.contains("SortMergeJoin"))
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(RelationalQueries.topkExpensiveOrders(spark, dir))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("semi/anti joins stay semi/anti (no materialized subquery)") {
    assert(plan(CoreQueries.semijoinExists(spark, dir)).contains("LeftSemi"))
    assert(plan(CoreQueries.antijoinMissing(spark, dir)).contains("LeftAnti"))
  }

  test("join_bucketed_colocated: zero hash Exchange with broadcast disabled") {
    // the declared key's whole point: same-key bucketing makes the
    // join AND the aggregation shuffle-free. Broadcast is disabled so
    // the plan must prove co-location, not hide behind a broadcast of
    // the small fixture (the BucketedJoinSpec assertion, moved onto
    // the declared key per the r15 verdict).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = CoreQueries.joinBucketedColocated(spark, dir)
      df.collect() // finalize AQE
      val p = plan(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join/agg must not shuffle:\n${p.take(2000)}")
      assert(p.contains("Bucketed: true"), "scans must read as bucketed")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("scan_partition_pruned: only the matching partition's files are read") {
    // inputFiles lists the whole FileIndex, so the proof lives on the
    // executed scan: its PartitionFilters carry the status predicate
    // and its numFiles metric counts the files actually read
    // AQE wraps the executed plan in query-stage shells that hide the
    // scan node from collectLeaves — disable it for this one guard so
    // the FileSourceScanExec (and its metrics) are directly reachable
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    val df = CoreQueries.scanPartitionPruned(spark, dir)
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the plan"))
    assert(scan.toString.contains("PartitionFilters") &&
      scan.toString.contains("o_orderstatus"),
      s"status filter must prune partitions, not scan rows:\n${scan.toString.take(1200)}")
    val read = scan.metrics("numFiles").value
    val all = spark.read.parquet(CoreQueries.CapabilitySinks.partPath(dir))
      .inputFiles.length
    assert(read > 0 && read < all,
      s"pruning must drop files: read $read of $all")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("scan_zorder_skipped: footer stats prune files on BOTH rectangle dimensions") {
    // the Z-layout's whole point: the declared key's own sink must
    // skip most files on EACH dimension of the rectangle predicate (a
    // single-column sort would skip on one and scan all 16 on the
    // other — ZOrderSpec measures that contrast; this guard pins the
    // property on the DECLARED key's sink so a layout regression
    // can't hide behind a still-correct answer). Measured at sf0.01
    // (10k events) like ZOrderSpec: at sf0.001 each of the 16 files
    // holds ~60 rows and per-file min/max spans most of either domain,
    // so the skip property only emerges at the gate-SF file sizes.
    val zdir = "/root/testdata/sf0.01"
    CoreQueries.scanZorderSkipped(spark, zdir).collect()
    val path = CoreQueries.CapabilitySinks.zorderPath(zdir)
    def overlapping(column: String, lo: Long, hi: Long): Int =
      graft.sources.Sources.footerLongStats(spark, path, column)
        .count { case (mn, mx) => mx >= lo && mn <= hi }
    val n = CoreQueries.CapabilitySinks.zorderFiles
    val u = overlapping("user_id", 10, 15)
    val d = overlapping("day", 3, 5)
    assert(u <= n / 2, s"z-order user_id pruning too weak: $u/$n")
    assert(d <= n / 2, s"z-order day pruning too weak: $d/$n")
  }

  test("join_skew_salted: the salt is IN the join key; rollup result matches the unsalted plan") {
    val df = CoreQueries.joinSkewSalted(spark, dir)
    df.collect() // finalize AQE
    val p = plan(df)
    assert(p.contains("__salt"),
      s"salted join must key on (suppkey, salt):\n${p.take(1500)}")
    assert(p.contains("xxhash64") && p.contains("pmod"),
      s"big-side salt must be the deterministic xxhash64-pmod:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("text_span_clean: MIN-agg keeper + hash joins — no window, no BNLJ/cartesian") {
    val df = graft.queries.TextQueries.spanClean(spark, dir)
    df.collect() // finalize AQE
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"span clean must never cross:\n${p.take(1500)}")
    assert(!p.contains("Window"),
      s"the keeper is a map-side MIN agg, not a window:\n${p.take(1500)}")
  }

  test("similarity probe side is broadcast, candidates stream") {
    // assert on the brute KERNEL, not the query: simTopkEmbeddings
    // serves the session memo (a LocalTableScan on later calls — by
    // design), so the plan property lives on cosineTopK itself
    val e = graft.Catalog.table(spark, dir, "embeddings")
    val p = plan(graft.functions.SimilarityFunctions.cosineTopK(
      e.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0), e, 10))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("cosine near-dup candidates come from a hash join, never BNLJ/cartesian") {
    val df = SimilarityQueries.dedupCosinePairs(spark, dir)
    df.collect() // finalize AQE so the real join strategies are visible
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("banded simhash candidates come from a hash join, never BNLJ/cartesian") {
    val df = SimilarityQueries.dedupSimhashDocs(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("ANN LSH: candidate gen is a hash join on (tbl,bucket); dedup carries ids only") {
    val df = SimilarityQueries.annLshTopk(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    // the candidate-dedup aggregate must group on id-width keys, never
    // shuffle the 64-double vectors (VERDICT r2 finding)
    val dedupAggs = p.linesIterator
      .filter(_.contains("HashAggregate(keys=[qid")).toSeq
    assert(dedupAggs.nonEmpty, "expected an id-keyed candidate-dedup aggregate")
    assert(dedupAggs.forall(l => !l.contains("qe") && !l.contains("ce")),
      "candidate dedup must not carry embedding vectors")
  }

  test("ANN IVF: no posexplode/crossJoin anywhere; only the two ranking windows") {
    val df = SimilarityQueries.annIvfTopk(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the round-4 scale-killer: k-means averaging via posexplode +
    // per-(centroid,dim) groupBy. Assignment is now a projection and
    // averaging a per-dim partial sum — nothing in the plan explodes
    // vectors (the probe explode is slice() of a k-length struct array).
    assert(!p.contains("posexplode"), "IVF must not posexplode vectors")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows <= 2, s"expected only fp-rank + top-k windows, got $windows:\n${p.take(2000)}")
  }

  test("dedup_shingle_lsh: candidates ride the band-key hash join; verify joins carry ids, no index self-join") {
    val df = SimilarityQueries.dedupShingleLsh(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // the scale property: nothing in this plan explodes SHINGLES — the
    // only explode is the per-doc band keys (bands per doc, constant),
    // so no inverted-index relation exists to self-join
    // (the shingle-hash call itself sits below the localCheckpoint, so
    // the check is over the Generate lines that do exist: the band keys)
    assert(p.linesIterator.exists(l => l.contains("Generate") && l.contains("sig#")),
      "band keys must be exploded from the per-doc signature")
    assert(!p.contains("GraftHashes.shingleHashes(") ||
      !p.linesIterator.exists(l => l.contains("Generate") && l.contains("GraftHashes.shingleHashes(")),
      "shingle hashes must stay as per-doc arrays, never exploded")
  }

  test("dedup_ngram_prefix: candidates come from the prefix-postings hash join, never BNLJ/cartesian") {
    // the distributed tier's shape: with the broadcast budget on, this
    // corpus finishes on the driver (operators.SmallJaccard)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = SimilarityQueries.dedupNgramPrefix(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(!p.contains("BroadcastNestedLoopJoin"))
      assert(!p.contains("CartesianProduct"))
      // the verify joins must carry candidate ids back to the per-doc
      // ARRAYS (pair-local intersect-count kernel, r18 — previously
      // size(array_intersect)), not re-join the index
      assert(p.contains("GraftSets.intersectCount("),
        "prefix tier must verify pair-locally over the shingle arrays")
    }
  }

  test("dedup_jaccard_docs on the driver: no join and no window executes") {
    // the slice's postings fit the broadcast budget, so the pairs come
    // from one materialization and one collect (operators.SmallJaccard)
    val plans = ActionPlans.of(spark) {
      SimilarityQueries.dedupJaccardDocs(spark, dir).collect()
    }.map(_.split("== Initial Plan ==").head)
    assert(plans.exists(_.contains("GraftHashes.shingleHashes(")),
      "the shingle hashes are still computed by Spark")
    assert(plans.forall(p => !p.contains("Join") && !p.contains("Window")),
      plans.mkString("\n----\n"))
  }

  test("text_dup_spans: span df rides one hash agg + a semi join; no BNLJ/cartesian") {
    val df = graft.queries.TextQueries.dupSpans(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "dup-span membership must be a semi join")
  }

  test("text_mix_sample: rate relation broadcasts back to the scan; no cartesian of the corpus") {
    val df = graft.queries.TextQueries.mixSample(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"))
    // the per-lang rate relation (5 rows) must reach the corpus scan
    // as a broadcast hash join on lang — the big relation's only
    // shuffles are the map-side-combined aggregates
    assert(p.contains("BroadcastHashJoin"))
    // the lone BNLJ is the documented one-row corpus-total cross join
    assert(p.linesIterator.count(l =>
      l.trim.startsWith("+- BroadcastNestedLoopJoin") ||
        l.trim.startsWith(":- BroadcastNestedLoopJoin") ||
        l.trim.startsWith("BroadcastNestedLoopJoin")) <= 1,
      "only the one-row total cross may be a BNLJ")
  }

  test("dedup_keeper_quality rides the banded tier: no inverted-index self-join") {
    // The declared key's final plan is a LocalTableScan of components
    // (operators/SmallGraph finishes small graphs locally), so
    // the shape is checked on the tier the key rides — every plan it
    // executes, the checkpointed shingle-hash base included. Same
    // scale property as dedup_shingle_lsh: shingle hashes stay per-doc
    // arrays (pair-local intersect verify); the only explode is the
    // constant-width band keys, so no inverted-index relation exists
    // for the pipeline to self-join
    val docs = Catalog.table(spark, dir, "documents")
    val lines = ActionPlans.of(spark) {
      SimilarityFunctions.jaccardPairsNgramLsh(docs, 3, 0.4).collect()
    }.flatMap(_.split("== Initial Plan ==").head.linesIterator)
    def carries(node: String): Boolean = lines.exists(l =>
      l.contains(node) && l.contains("GraftHashes.shingleHashes("))
    assert(carries("Project"), "shingle hashes must be projected per doc")
    assert(!carries("Generate"),
      "keeper must not explode shingles into an inverted index")
    assert(!lines.exists(_.contains("BroadcastNestedLoopJoin")))
    assert(!lines.exists(_.contains("CartesianProduct")))
  }

  test("text_perplexity: scoring is scan-local — broadcast model, zero corpus shuffle") {
    val df = graft.queries.TextQueries.perplexity(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // training counts collected driver-side re-enter as literals, so the
    // returned plan is scan → project → sort: the only exchange is the
    // final ORDER BY's range partitioning, never a hash shuffle
    assert(!p.contains("Exchange hashpartitioning"),
      s"perplexity scoring must not shuffle the corpus:\n${p.take(1500)}")
    assert(!p.contains("Join"), "scoring must be join-free (map literals)")
  }

  test("text_dsir_weights: scoring is scan-local — broadcast model, zero corpus shuffle") {
    val df = graft.queries.TextQueries.dsirWeights(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // both distributions reach the scan through a once-per-executor
    // Broadcast (the perplexity pattern), so scoring is scan → project → sort
    assert(!p.contains("Exchange hashpartitioning"),
      s"dsir scoring must not shuffle the corpus:\n${p.take(1500)}")
    assert(!p.contains("Join"), "scoring must be join-free (map literals)")
  }

  test("pipeline_corpus_clean2: five stages, shuffles only on digest/doc keys") {
    val df = graft.queries.TextQueries.corpusClean2(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // canonicalization, gates, and LM scoring all ride the scan; the
    // only hash exchanges are the two digest windows (normalized dedup,
    // paragraph global-first) and the per-doc reassembly aggregate
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(l =>
      l.contains("norm_md5") || l.contains("para_md5") || l.contains("doc_id")),
      s"unexpected shuffle key:\n${exchanges.mkString("\n")}")
  }

  test("text_decontaminate: eval set broadcasts; corpus filters scan-locally, only hits shuffle") {
    val df = graft.queries.TextQueries.decontaminate(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(1500))
    // two shuffles are legitimate: the EVAL set's distinct (tok — tiny
    // by nature) and the per-doc count of the (rare) hits (doc_id).
    // The corpus shingle relation itself must never shuffle: every
    // exchange key is one of those two.
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size <= 2, s"got ${exchanges.size} shuffles:\n${exchanges.mkString("\n")}")
    assert(exchanges.exists(_.contains("doc_id")), "hits agg shuffle missing")
    assert(exchanges.forall(l => l.contains("doc_id") || l.contains("tok")),
      s"unexpected corpus shuffle:\n${exchanges.mkString("\n")}")
  }

  test("dedup_incremental: corpus probes a broadcast of batch digests, never shuffles") {
    // the decontaminate rule applied to ingest dedup: the store is the
    // 100 TB side, so its digest scan must end in a broadcast LeftSemi
    // probe (scan-local), and every hash Exchange must key on the
    // batch's digest column — the corpus relation itself never moves
    val df = SimilarityQueries.dedupIncremental(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"))
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(_.contains("dg")),
      s"only batch-digest shuffles allowed:\n${exchanges.mkString("\n")}")
  }

  test("join_interval_overlap: bin join is a hash join on the bucket id, never BNLJ") {
    // the whole point of the operator: the theta overlap predicate
    // rides as a RESIDUAL on a bucket-keyed hash join — a plan with
    // BroadcastNestedLoop means the binning silently stopped applying
    val df = graft.queries.EventQueries.joinIntervalOverlap(spark, dir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"interval join must stay bucket-hash-shaped:\n${p.take(1500)}")
    assert(p.contains("__b"), "join key must include the bucket id")
  }

  test("r16 additions: negative mining, LPA round, phash banding all stay hash-join shaped") {
    // sample_negative_pairs: Weyl-hop candidates are scan-local
    // arithmetic; the only join attaches candidate metadata by doc key
    val neg = SimilarityQueries.sampleNegativePairs(spark, dir)
    neg.collect()
    val pNeg = plan(neg)
    assert(!pNeg.contains("BroadcastNestedLoop") && !pNeg.contains("CartesianProduct"))
    // graph_label_propagation: rounds run over frozen (checkpointed)
    // relations — exactly one live parquet scan in the final plan, and
    // the per-round joins are hash joins
    val lpa = graft.queries.GraphQueries.labelPropagation(spark, dir)
    val pLpa = plan(lpa)
    assert(!pLpa.contains("BroadcastNestedLoop") && !pLpa.contains("CartesianProduct"))
    assert(pLpa.linesIterator.count(_.contains("Scan parquet")) <= 1,
      "LPA iterations must read frozen relations, not rescan the corpus")
    // multimodal_phash_pairs: banded candidates ride a (word, value)
    // hash join, never a nested loop
    val ph = graft.queries.MultimodalQueries.multimodalPhashPairs(spark, dir)
    ph.collect()
    val pPh = plan(ph)
    assert(!pPh.contains("BroadcastNestedLoop") && !pPh.contains("CartesianProduct"))
  }

  test("pipeline_pretrain_mix: gates ride the scan BELOW the dedup shuffle; 1-row attach is the only BNLJ") {
    val df = graft.queries.TextQueries.pretrainMix(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"))
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      "only the 1-row corpus-total rate attach may nested-loop")
    // the r16-verdict guard: the gate chain (quality + LM, the
    // PplGateQ6 literal) must sit in the scan-side subtree of the
    // normalized-dedup window's shuffle — filter BEFORE the first
    // shuffle. Asserted on the un-checkpointed stage-1..4 subplan (the
    // checkpoint truncates it from the final plan). In the printed
    // tree children follow parents, so the gate Filter line must come
    // after the norm_md5 exchange with no other exchange between them.
    val sub = graft.queries.TextQueries.pretrainGatedDedup(spark, dir)
    sub.collect()
    val lines = plan(sub).split("== Initial Plan ==").head.linesIterator.toVector
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning(norm_md5"))
    assert(ex >= 0, "expected the norm_md5 dedup-window shuffle")
    val flt = lines.indexWhere(
      l => l.contains("Filter") && l.contains("3700000"), ex)
    assert(flt > ex,
      s"LM/quality gate filter must sit BELOW the dedup shuffle:\n${p.take(2000)}")
    assert(!lines.slice(ex + 1, flt).exists(_.contains("Exchange")),
      "no shuffle between the dedup window and the scan-side gates")
  }

  test("sample_negative_hard: portable-LSH candidates stay hash-join shaped, id-only dedup") {
    val df = SimilarityQueries.sampleNegativeHard(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // candidate dedup groups on id-width keys, never embedding vectors
    // (the ann_lsh_topk guard applied to the hard-negative tier)
    val dedupAggs = p.linesIterator
      .filter(_.contains("HashAggregate(keys=[qid")).toSeq
    assert(dedupAggs.nonEmpty, "expected an id-keyed candidate-dedup aggregate")
    assert(dedupAggs.forall(l => !l.contains("qe") && !l.contains("ce")),
      "candidate dedup must not carry embedding vectors")
  }

  test("ann_lsh_topk_int8: candidates stay hash-join shaped; scoring joins carry int8 vectors") {
    val df = SimilarityQueries.annLshTopkInt8(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"))
    // the 1-row scale attach is the only tolerated BNLJ shape (the
    // sample_weighted precedent); candidate generation itself must be
    // a hash join on (tbl, bucket) — i.e. some BroadcastHashJoin or
    // SortMergeJoin carries the bucket keys
    assert(p.contains("tbl") && (p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")),
      "expected the (tbl, bucket) candidate hash join")
    // candidate dedup groups on id-width keys, never quantized vectors
    val dedupAggs = p.linesIterator
      .filter(_.contains("HashAggregate(keys=[qid")).toSeq
    assert(dedupAggs.nonEmpty, "expected an id-keyed candidate-dedup aggregate")
    assert(dedupAggs.forall(l => !l.contains("qe") && !l.contains("ce")),
      "candidate dedup must not carry vectors")
  }

  test("cluster_kmeans: the E-step is a scan-local projection — no joins, no hash shuffle") {
    // centroids are driver-held literals (the IVF-store rule), so the
    // assignment pass must compile to scan -> project -> sort: any
    // join or hashpartitioning Exchange means the corpus started
    // moving for a k x dim constant
    val df = SimilarityQueries.clusterKmeans(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"E-step must not join:\n${p.take(1200)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"E-step must not hash-shuffle:\n${p.take(1200)}")
  }

  test("cluster_kmeans: the M-step explode adds no filter that re-runs the quantizer") {
    // exploding a projected COLUMN makes Spark infer `size(qv) > 0 AND
    // isnotnull(qv)` and push it below the projection, where it
    // re-evaluates the interpreted quantizer per row; every plan the
    // key executes (the init and M-step collects run while it is built)
    // must be free of such a filter
    val lines = ActionPlans.of(spark) {
      SimilarityQueries.clusterKmeans(spark, dir).collect(); ()
    }.flatMap(_.split("== Initial Plan ==").head.linesIterator)
    assert(lines.exists(_.contains("Generate")), "the M-step must be among the plans")
    val bad = lines.filter(l => l.contains("Filter") && l.contains("transform("))
    assert(bad.isEmpty, s"a filter re-evaluates the quantizer:\n${bad.mkString("\n")}")
  }

  test("editdist near-dup candidates come from the blocking-key hash join, never BNLJ/cartesian") {
    val df = SimilarityQueries.dedupEditdistPairs(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("weighted sample: no single-partition data window (shard-partitioned prefix sum)") {
    val df = CoreQueries.sampleWeighted(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the data-bearing window is keyed by the shard column (scalar aggs
    // and the 32-row offset window may funnel, the data never does)
    assert(p.contains("hashpartitioning(__shard"))
    val dataWindows = p.linesIterator.filter(l =>
      l.contains("Window ") && l.contains("cents")).toSeq
    assert(dataWindows.forall(_.contains("__shard")),
      "the cents prefix-sum window must partition by __shard")
  }

  test("text_dsir_sample: no single-partition data window (quantile-sharded descRank)") {
    // r14 verdict item 3 guard: descRank's data-bearing row_number
    // window must partition by the quantile-derived __shard column —
    // the only permissible single-partition window is the <= nShards
    // aggregate-row offset accumulation (partitioned by a constant).
    val df = graft.queries.TextQueries.dsirSample(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("hashpartitioning(__shard"),
      "descRank must shard the rank window")
    val dataWindows = p.linesIterator.filter(l =>
      l.contains("Window ") && l.contains("row_number") &&
        l.contains("dsir_q6")).toSeq
    assert(dataWindows.nonEmpty, "expected the sharded rank window in the plan")
    assert(dataWindows.forall(_.contains("__shard")),
      s"the dsir rank window must partition by __shard:\n${dataWindows.mkString("\n")}")
  }

  test("pipeline_corpus_clean: scan-local gates, one dedup shuffle, no joins") {
    val df = graft.queries.TextQueries.corpusClean(spark, dir)
    df.collect()
    // AQE's plan string repeats the tree under "== Initial Plan ==" —
    // count only the finalized section
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("Join"), "the cleanup chain must not join")
    // all gates fold into the scan-side projection (visible as
    // DataFilters on the parquet scan); the only hash shuffle is the
    // dedup window's partition-by-text
    val hashExchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected exactly one dedup shuffle, got $hashExchanges")
  }

  test("tpch_q5: all dims broadcast, no cartesian, facts shuffle at most once each") {
    val df = RelationalQueries.tpchQ5LocalSupplier(spark, dir)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2000))
  }

  test("tpch_q18: HAVING-subquery decorrelates to one aggregate + semi join; heap top-k") {
    val df = RelationalQueries.tpchQ18BigOrders(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the IN (GROUP BY ... HAVING) subquery must become ONE aggregate
    // over lineitem feeding a semi join — never a per-row re-execution
    assert(p.contains("LeftSemi"), s"expected a semi join for the IN subquery:\n${p.take(1500)}")
    assert(!p.contains("InSubqueryExec"), "IN subquery must decorrelate, not re-execute per row")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must be a heap, not a global sort")
  }

  test("tpch_q21: EXISTS/NOT EXISTS decorrelate to one semi + one anti join") {
    val df = RelationalQueries.tpchQ21WaitingSupplier(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftSemi"), "EXISTS must become a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must become an anti join")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must be a heap, not a global sort")
  }

  test("subquery_correlated: EXISTS and scalar subqueries decorrelate to joins") {
    val df = RelationalQueries.subqueryCorrelated(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // decorrelation = semi join + aggregate-then-join, never a per-row
    // subquery plan node
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.toLowerCase.contains("scalarsubquery"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("ngram jaccard: inverted-index self-join is a hash/merge join, never BNLJ/cartesian") {
    val df = SimilarityQueries.dedupNgramJaccard(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("funnel: every stage joins on user_id, no event-pair self-join blowup") {
    val df = graft.queries.EventQueries.funnelStages(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q4: EXISTS with inequality correlate is ONE semi join, not per-row") {
    val df = RelationalQueries.tpchQ4PriorityExists(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // l_shipdate > o_orderdate must ride the orderkey semi join as a
    // residual condition — never re-execute the subquery per outer row
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("InSubqueryExec"))
  }

  test("tpch_q16: NOT IN becomes a null-aware anti join; no subquery loop") {
    // sf0.01: sf0.001 has no negative-balance supplier, so AQE folds the
    // empty-build anti join away and there is no join to assert on
    val df = RelationalQueries.tpchQ16SupplierCnt(spark, "/root/testdata/sf0.01")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("InSubqueryExec"))
  }

  test("tpch_q17: correlated scalar AVG decorrelates to aggregate + join") {
    val df = RelationalQueries.tpchQ17SmallQty(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // decorrelation = one per-partkey aggregate joined back; a
    // scalar-subquery node here would mean per-row re-execution
    assert(!p.toLowerCase.contains("scalarsubquery"), p.take(2000))
    assert(p.contains("HashAggregate"))
  }

  test("tpch_q13: ON-clause predicate keeps the outer join outer") {
    val df = RelationalQueries.tpchQ13Custdist(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the o_orderpriority filter lives in the join condition; pushing it
    // below as a WHERE would silently turn LeftOuter into Inner
    assert(p.contains("LeftOuter"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q22: NOT EXISTS is an anti join; scalar aggregates run once") {
    val df = RelationalQueries.tpchQ22GlobalSales(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q7/q10: nation pair + returned items stay broadcast-shaped, heap top-k") {
    val q7 = RelationalQueries.tpchQ7VolumeShipping(spark, dir)
    q7.collect()
    val p7 = q7.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p7.contains("CartesianProduct") && !p7.contains("BroadcastNestedLoopJoin"))
    val q10 = RelationalQueries.tpchQ10ReturnedItems(spark, dir)
    q10.collect()
    val p10 = q10.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p10.contains("TakeOrderedAndProject"), "top-20 must be a heap")
    assert(!p10.contains("CartesianProduct") && !p10.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q2: correlated MIN over the snowflake decorrelates to one aggregate + join") {
    val df = RelationalQueries.tpchQ2MinCostSupp(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // decorrelation = per-partkey MIN aggregate joined back; a
    // scalar-subquery node would re-run the 4-table join per outer row
    assert(!p.toLowerCase.contains("scalarsubquery"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), "top-100 must be a heap")
  }

  test("tpch_q6: all three predicates reach the parquet scan; no join, no shuffle but the reduce") {
    // the default 100-char metadata clip truncates the PushedFilters
    // list mid-entry — widen it so the assertion sees the whole thing
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try {
      val df = RelationalQueries.tpchQ6ForecastRevenue(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(!p.contains("Join"), "Q6 is a single-scan aggregate")
      assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(1500))
      assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate range must push down")
      assert(p.contains("LessThan(l_quantity,24.0)"), "quantity bound must push down")
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("tpch_q11: global-scalar HAVING runs the subquery once, not per group") {
    val df = RelationalQueries.tpchQ11ImportantParts(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the uncorrelated scalar stays a Subquery node EXECUTED ONCE
    // (ReusedSubquery/Subquery scalar-subquery), never a per-row loop
    assert(p.contains("HashAggregate"), p.take(1500))
  }

  test("tpch_q15: revenue CTE max-equality keeps hash joins; no cartesian") {
    val df = RelationalQueries.tpchQ15TopSupplier(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q19: the OR of brand/size/qty branches is a residual on ONE partkey join") {
    val df = RelationalQueries.tpchQ19DisjunctiveRev(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val joins = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(joins == 1, s"expected exactly one partkey join, got $joins")
  }

  test("tpch_q20: nested INs decorrelate to semi joins; no subquery loop") {
    val df = RelationalQueries.tpchQ20PromotionSupp(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("InSubqueryExec"))
  }

  test("tpch_q8/q9/q12: snowflake + profit + late-lines stay hash-join shaped") {
    for (df <- Seq(
        RelationalQueries.tpchQ8MarketShare(spark, dir),
        RelationalQueries.tpchQ9ProductProfit(spark, dir),
        RelationalQueries.tpchQ12LateLines(spark, dir))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("text_dup_spans_hashed: same semi-join shape as the string tier, long keys") {
    val df = graft.queries.TextQueries.dupSpansHashed(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "dup-span membership must be a semi join")
    // (the key TYPE is not visible in any plan level — the tokenize+
    // hash projection sits below the eager localCheckpoint — so the
    // 8-byte-key property is pinned by the TextFunctionsSpec
    // string==hashed equivalence instead)
  }

  test("dedup_simhash_wide: banded candidates ride a hash join, never BNLJ/cartesian") {
    val df = SimilarityQueries.dedupSimhashWide(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_semantic: assignment is a shuffle-free kernel projection; pairs ride the cluster hash join") {
    val e = graft.Catalog.table(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        graft.functions.SimilarityFunctions.toDoubleArr(
          org.apache.spark.sql.functions.col("embedding")).as("e"))
      .withColumn("n", org.apache.spark.sql.functions.sqrt(
        graft.functions.SimilarityFunctions.dot(
          org.apache.spark.sql.functions.col("e"),
          org.apache.spark.sql.functions.col("e"))))
      .localCheckpoint(true)
    val leaders = graft.functions.SimilarityFunctions.semanticLeaders(e, 4)
    // assignment: one projection over the checkpointed relation — the
    // n×k cosine lives inside the fused kernel, no join, no Exchange
    val scored = graft.functions.SimilarityFunctions.semanticScored(e, leaders)
    val sp = plan(scored)
    assert(sp.contains("GraftVector.cosineMany("), "assignment must use the fused kernel")
    assert(!sp.contains("Exchange"), s"assignment must be scan-local:\n$sp")
    assert(!sp.contains("Join"), "assignment must not join the leader matrix")
    // candidate pairs: hash/merge join keyed on cluster, never a
    // global pair space
    val pairs = graft.functions.SimilarityFunctions.semanticPairs(
      scored.localCheckpoint(true), 0.3)
    pairs.collect()
    val pp = pairs.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!pp.contains("BroadcastNestedLoopJoin"))
    assert(!pp.contains("CartesianProduct"))
    // the declared query end-to-end keeps the same discipline
    val df = SimilarityQueries.dedupSemantic(spark, dir)
    df.collect()
    val qp = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!qp.contains("BroadcastNestedLoopJoin"))
    assert(!qp.contains("CartesianProduct"))
  }

  test("profile_tables: two sort-free scans per table, distincts hash-aggregate, 1-row attach only") {
    // r17 shape: the stats arm (global agg, string min/max buffers) and
    // the distinct arm (count-only buffers) must NOT fuse — a fused agg
    // forces the whole Expand rewrite into SortAggregate with full sorts
    // of the expanded corpus. Split, the only permissible join is the
    // 1-row-x-1-row broadcast cross attach of the two arms.
    val df = graft.queries.ProfileQueries.profileTables(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("Expand"), "exact multi-column distinct must use the Expand rewrite")
    assert(p.contains("HashAggregate"), "distinct arm must hash-aggregate (no string buffers)")
    assert(!p.contains("Window "), "profiling never windows")
    // the ONLY Sort is the final output ORDER BY; the aggregates are
    // sort-free (global SortAggregate has no Sort child)
    val sorts = p.linesIterator.count(_.trim.startsWith("+- Sort "))
    assert(sorts <= 1, s"aggregation must be sort-free, got $sorts Sort operators")
    val joins = p.linesIterator.count(_.contains("Join"))
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin BuildRight, Cross"))
    assert(joins == bnlj && bnlj <= 2,
      s"only the two 1-row arm attaches may join, got $joins joins / $bnlj attaches")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("Scan parquet"))
    assert(scans == 4, s"exactly two sort-free scans per profiled table, got $scans")
  }

  test("graph_pagerank/triangles: iterations run over frozen relations, no corpus rescans") {
    // the declared plan must read ONLY the checkpointed edge/rank RDDs —
    // a parquet scan here means the K-deep composition regressed to
    // re-deriving the corpus rollup per iteration (the 234-exchange
    // shape the first plan dump caught)
    val pr = graft.queries.GraphQueries.pageRank(spark, dir)
    val p1 = plan(pr)
    assert(!p1.contains("Scan parquet"), "pagerank plan must not rescan the corpus")
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"))
    val tr = graft.queries.GraphQueries.triangles(spark, dir)
    val p2 = plan(tr)
    assert(!p2.contains("Scan parquet"), "triangles plan must not rescan the corpus")
    assert(p2.contains("LeftSemi"), "triangle closure must stay a semi join")
    assert(!p2.contains("CartesianProduct"))
  }

  test("dedup_url_canonical: scan-local canonicalization, one shuffle, no joins") {
    val df = graft.queries.TextQueries.urlCanonical(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("Join"), "frontier dedup never joins")
    assert(!p.contains("Window "), "no window — the keeper is a MIN aggregate")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("Scan parquet"))
    assert(scans == 1, s"one events scan, got $scans")
  }

  test("profile_histogram: no sort-merge joins, two scans per column arm") {
    val df = graft.queries.ProfileQueries.profileHistogram(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"),
      "the 1-row min/max attach must broadcast, never sort-merge")
    assert(!p.contains("Window "))
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("Scan parquet"))
    assert(scans == 6, s"two scans per arm (min/max + rollup) x 3 arms, got $scans")
  }

  test("whole-stage codegen covers the Q1 aggregate") {
    val df = RelationalQueries.aggPricingSummary(spark, dir)
    df.collect() // AQE only finalizes (and shows codegen spans) after execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate")) // partial+final hash agg, not sort agg
    assert(p.contains("WholeStageCodegen") || p.contains("isFinalPlan=true"))
  }
}
