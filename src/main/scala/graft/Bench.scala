package graft

import org.apache.spark.sql.SparkSession

/** Per-query seconds over SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Methodology: by default each query runs once UNTIMED (amortizes
  * one-off codegen compilation + JIT — at sf0.1 those constants dominate
  * real work several-fold, see BASELINE.md) and then SPARK_GRAFT_PASSES
  * (default 2) timed passes; each query reports its MINIMUM across the
  * timed passes and `value` is the sum of those minima. Min-of-N is the
  * standard noisy-host estimator: this VM shows intermittent multi-
  * second CPU-steal stalls (measured ~700 s of steal in one 10-minute
  * window) that land on random queries, and a single timed pass
  * attributes a host stall to whichever query it hit (observed: the
  * same query 49 s in one run, 0.9 s in the next, identical code). The
  * probability a stall hits the SAME query in both passes is low, so
  * the min tracks the query's true cost. `cold_value` stays the warm-up
  * pass total. Set SPARK_GRAFT_WARMUP=0 for single-pass cold timing;
  * SPARK_GRAFT_PASSES=1 restores single-pass timing.
  *
  * Measurement shape caveat: the timed action is `count()`, so Catalyst
  * prunes output columns no downstream operator consumes (and
  * EliminateSorts drops a final ORDER BY) — a pure-projection scoring
  * query benches as its scan, not its arithmetic. This is the standard
  * count-shaped-bench artifact and it is kept DELIBERATELY for
  * cross-round comparability; queries whose expensive work is prunable
  * are instead timed where they materialize (the Verify dump, the
  * checkpoint-bearing consumers — see SCALE.md r14, where exactly this
  * illusion hid an O(|vocab|)-per-lookup scoring cost until the DSIR
  * resampling query forced evaluation).
  *
  * Steal gate: min-of-N only helps when at least one pass is quiet, and
  * three consecutive rounds produced artifacts where EVERY timed pass
  * carried hundreds-to-thousands of steal jiffies — min-of-2 degrades
  * to one noisy pass. So each timed pass is now GATED: if its own steal
  * delta exceeds SPARK_GRAFT_STEAL_GATE jiffies (default 300; 0
  * disables), the whole pass is discarded and re-run, up to
  * SPARK_GRAFT_STEAL_RETRIES attempts (default 4) per pass. The JSON
  * records the accepted passes' steal (`steal_passes`, 1:1 with timed
  * passes as before) AND every attempt's steal (`steal_attempts`, one
  * inner array per pass) plus the gate value, so a reader can see both
  * that the artifact is quiet and how hard quiet was to get. If the
  * host never quiets down within the retry budget the LAST attempt is
  * kept — `steal_passes` then shows a value above the gate, which is
  * the honest signal that no quiet window existed.
  *
  * Known mild bias of gating: a retried pass runs on an increasingly
  * warm JVM (more JIT/profile warmth than a first-attempt pass), so an
  * accepted retry is systematically slightly FASTER than a
  * first-attempt quiet pass would have been. Accepted: the
  * `steal_attempts` trail makes every gate activation auditable, and
  * the bias is small against the multi-second stalls the gate rejects.
  *
  * Session setup: the two once-per-session pipeline dumps (SubsetDump,
  * DeltaDump — see CoreQueries) are materialized BEFORE the cold pass
  * and timed separately as `session_setup`, so the cold numbers of the
  * subset audit queries read as query cost, not dump amortization.
  */
object Bench {
  /** Aggregate steal jiffies from /proc/stat (field 8 of the `cpu`
    * line). The bench's own weather report: this VM suffers
    * intermittent multi-second CPU-steal stalls, and a round's official
    * number has been ~2× contaminated before (BENCH_r05 167 s vs 93.7 s
    * quiet — see BASELINE.md). Recording the steal delta across the run
    * lets a reader reject a contaminated artifact without re-running:
    * at 100 jiffies/s/cpu, `steal_delta` ≫ a few hundred means host
    * neighbors ate a material slice of the measured wall time. */
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** One steal-gated timed pass: run `pass`, read its steal via
    * `stealDelta` (a fresh delta per attempt), and discard+re-run while
    * the delta exceeds `gate` — up to `retries` total attempts, keeping
    * the LAST attempt if the host never quiets (its above-gate steal
    * stays visible in the returned trail as the honest signal). A gate
    * of 0 disables; a delta of -1 (unreadable /proc/stat) cannot be
    * judged and is accepted. Returns (accepted result, per-attempt
    * steal trail — last entry is the accepted attempt's). Extracted
    * from main so BenchGateSpec can script steal sequences. */
  def gatedPass[T](pass: () => T, stealDelta: () => Long,
                   gate: Long, retries: Int,
                   onRetry: (Long, Int) => Unit = (_, _) => ()): (T, Seq[Long]) = {
    val attempts = scala.collection.mutable.ArrayBuffer[Long]()
    var r = pass()
    var d = stealDelta()
    attempts += d
    while (gate > 0 && d > gate && attempts.size < retries) {
      onRetry(d, attempts.size)
      r = pass()
      d = stealDelta()
      attempts += d
    }
    (r, attempts.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    val spark = GraftSession.local("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // scan-split size from the dir's own footers (compression-ratio-
    // derived; env override wins) — see Sources.calibrateScanSplit
    graft.sources.Sources.calibrateScanSplit(spark, sfDir)
    val steal0 = stealJiffies()

    // A throwing query must NOT bench as ~0 s and silently pass: record
    // per-query success and surface it in the JSON line.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      // a stream key resumes from its fingerprint-keyed checkpoint; an
      // untimed clear before every run makes each timed run stream
      // instead of reading back the previous run's sink
      if (name.startsWith("stream_"))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/stream_sinks"))
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"bench query failed: ${e.getClass.getName}: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // one stderr line per query: rung-scale runs die mid-suite on
      // host storms (heartbeat timeouts) — without this trail the
      // partial run carries no information about WHERE
      System.err.println(f"bench: $name%s ${dt}%.2fs ok=$ok%s")
      // Queries are independent: free every checkpoint block the query
      // persisted so it cannot crowd out (and so randomize the timing
      // of) every query that runs after it. The clear sits OUTSIDE the
      // timed window — it is harness bookkeeping, not query work.
      if (sys.env.getOrElse("SPARK_GRAFT_CLEAR", "1") != "0")
        graft.plans.Checkpoints.clearAll(spark)
      (dt, ok)
    }

    // SPARK_GRAFT_ONLY=q1,q2 narrows the run for targeted profiling.
    // SPARK_GRAFT_SKIP=q3,q4 excludes queries — the sf10+ rung switch:
    // the documented quadratic-BY-ROLE exact anchors (each paired with
    // a measured sub-linear scale twin that stays IN the run) would be
    // multi-hour singletons there; skipped names are recorded in the
    // JSON (`skipped`) so the artifact states its own coverage.
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty).map(_.split(',').toSet)
    val skipRaw = sys.env.get("SPARK_GRAFT_SKIP").filter(_.nonEmpty)
      .map(_.split(',').toSet).getOrElse(Set.empty[String])
    // A typo'd skip name must not be recorded as covered-by-exclusion
    // while the intended query silently runs (r13 ADVICE): validate
    // against the known keys, FAIL on unknowns, and emit `skipped`
    // from the intersection only.
    val unknownSkips = skipRaw -- SparkEntry.queries.keySet
    if (unknownSkips.nonEmpty) {
      System.err.println(
        s"SPARK_GRAFT_SKIP names not in SparkEntry.queries: ${unknownSkips.toSeq.sorted.mkString(",")}")
      spark.stop()
      sys.exit(2)
    }
    val skip = skipRaw
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) && !skip(name) }

    val passes =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    val stealGate = sys.env.getOrElse("SPARK_GRAFT_STEAL_GATE", "300").toLong
    val stealRetries =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_STEAL_RETRIES", "4").toInt)
    // steal jiffies at each pass boundary → per-pass deltas in the JSON
    val passSteal = scala.collection.mutable.ArrayBuffer[Long]()
    var stealMark = steal0
    // delta since the last mark; advances the mark (each retry attempt
    // measures only its OWN window, not the cumulative run)
    def stealDelta0(): Long = {
      val s = stealJiffies()
      val d = if (s >= 0 && stealMark >= 0) s - stealMark else -1L
      stealMark = s
      d
    }
    // one-per-session dump materialization, attributed out of the cold
    // pass (idempotent; a narrowed SPARK_GRAFT_ONLY probe run skips it
    // unless a subset audit query is actually selected)
    val setupSecs = {
      val needsDumps = selected.keys.exists(_.startsWith("subset_"))
      // once-per-corpus LM/DSIR training (r14 verdict item 6): warmed
      // here — and persisted across JVMs by the fingerprint-keyed disk
      // store — so cold passes of the scoring queries price SCORING,
      // with training attributed to session_setup like the dumps
      val lmKeys = Set("text_perplexity", "pipeline_corpus_clean2")
      val dsirKeys = Set("text_dsir_weights", "text_dsir_sample")
      val needsLm = selected.keys.exists(lmKeys)
      val needsDsir = selected.keys.exists(dsirKeys)
      val t0 = System.nanoTime()
      if (needsDumps)
        try graft.queries.CoreQueries.prepareSessionDumps(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"bench session setup failed: ${e.getMessage}")
        }
      if (needsLm || needsDsir)
        try graft.queries.TextQueries.prepareLmModels(spark, sfDir,
          lm = needsLm, dsir = needsDsir)
        catch { case e: Throwable =>
          System.err.println(s"bench LM setup failed: ${e.getMessage}")
        }
      // once-per-session capability layouts (bucketed tables +
      // partitioned sink): the physical writes are setup; the declared
      // keys' cold numbers price the read path
      val needsBucketed = selected.keys.exists(Set("join_bucketed_colocated"))
      val needsPartitioned = selected.keys.exists(Set("scan_partition_pruned"))
      val needsZOrdered = selected.keys.exists(Set("scan_zorder_skipped"))
      if (needsBucketed || needsPartitioned || needsZOrdered)
        try graft.queries.CoreQueries.prepareCapabilitySinks(spark, sfDir,
          bucketed = needsBucketed, partitioned = needsPartitioned,
          zordered = needsZOrdered)
        catch { case e: Throwable =>
          System.err.println(s"bench sink setup failed: ${e.getMessage}")
        }
      // once-per-corpus IVF coarse-quantizer training (the LM/DSIR rule
      // applied to k-means): cold rung passes price the index probe
      val needsIvfTopk = selected.keys.exists(Set("ann_ivf_topk"))
      val needsIvfRecall = selected.keys.exists(Set("ann_ivf_recall"))
      if (needsIvfTopk || needsIvfRecall)
        try graft.queries.SimilarityQueries.prepareIvfModels(spark, sfDir,
          topk = needsIvfTopk, recall = needsIvfRecall)
        catch { case e: Throwable =>
          System.err.println(s"bench IVF setup failed: ${e.getMessage}")
        }
      (System.nanoTime() - t0) / 1e9
    }
    val cold = selected.map { case (name, fn) => name -> once(name, fn) }
    // the cold/warmup pass's steal is its own field: steal_passes then
    // maps 1:1 onto the TIMED passes, so a reader can attribute
    // contamination to the exact pass (the cold pass is untimed — its
    // steal is informational only)
    val stealCold = stealDelta0()
    // every attempt's steal, one inner array per timed pass — the
    // provenance trail for the gate's discard/retry decisions
    val attemptSteal = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val results =
      if (warmup) {
        // per-query min across timed passes (pass-level interleaving —
        // run the whole suite, then again — so a sustained host stall
        // can't cover both samples of one query)
        val timed = (1 to passes).map { _ =>
          val (r, attempts) = gatedPass(
            () => selected.map { case (name, fn) => name -> once(name, fn) },
            stealDelta0 _, stealGate, stealRetries,
            (d, attempt) => System.err.println(
              s"bench: pass steal $d > gate $stealGate jiffies — " +
                s"discarding and re-running (attempt $attempt/$stealRetries)"))
          attemptSteal += attempts
          passSteal += attempts.last
          r
        }
        selected.map { case (name, _) =>
          val samples = timed.map(_(name))
          name -> ((samples.map(_._1).min, samples.forall(_._2)))
        }
      } else cold
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val coldTotal = if (cold.nonEmpty) cold.values.map(_._1).sum else 0.0
    val allOk = results.values.forall(_._2) && cold.values.forall(_._2)
    val failed = (results.filterNot(_._2._2).keySet ++ cold.filterNot(_._2._2).keySet).toSeq.sorted
    val stealEnd = stealJiffies()
    val stealDelta = if (steal0 >= 0 && stealEnd >= 0) stealEnd - steal0 else -1L
    val stealPassesJson = passSteal.mkString("[", ",", "]")
    val stealAttemptsJson =
      attemptSteal.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

    def r2(v: Double) = math.round(v * 100) / 100.0

    // Drift anchors (r11 verdict item 6): a fixed set of long-stable
    // queries whose code hasn't changed across rounds, surfaced as
    // their own JSON block so "host drift vs code regression" is a
    // same-window comparison a reader makes from the artifact alone
    // (BASELINE.md's r10 method, now scripted). The values are the
    // same min-of-passes numbers the main map carries — this block
    // just names the comparison set.
    val anchorKeys = Seq("agg_pricing_summary", "tpch_q18_big_orders",
      "tpch_q21_waiting_supplier", "join_lineitem_orders_smj",
      "win_running_total", "asof_join_events")
    val anchorsJson = anchorKeys.flatMap(k => results.get(k).map(v =>
      "\"" + k + "\":" + r2(v._1))).mkString("{", ",", "}")

    // The harness captures only the LAST ~2000 chars of stdout and
    // json-parses a line out of that window; with the full 80-query
    // timing + ok maps the line overran the window and every round's
    // bench parsed as null. Keep stdout to one compact line (top
    // queries by time, 2 dp) and write the complete per-query detail
    // to bench_full.json next to the repo root.
    // A narrowed SPARK_GRAFT_ONLY run is a dev probe, not the round's
    // official measurement: write its detail to bench_probe.json so it
    // can never clobber the full-suite bench_full.json artifact (which
    // has been overwritten by partial/contaminated probes before).
    val detailFile =
      if (only.isDefined || skip.nonEmpty) "bench_probe.json" else "bench_full.json"
    val topN = 40
    val slowest = results.toSeq.sortBy(-_._2._1).take(topN)
    val qsCompact = slowest.map { case (k, (v, _)) => "\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val fullJson = {
      val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val cs = cold.map { case (k, (v, _)) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val oks = results.map { case (k, (_, ok)) => "\"" + k + "\":" + ok }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""cold_queries":$cs,"ok":$oks,"all_ok":$allOk,""" +
        s""""anchors":$anchorsJson,""" +
        (if (skip.nonEmpty)
          s""""skipped":${skip.toSeq.sorted.mkString("[\"", "\",\"", "\"]")},"""
         else "") +
        s""""steal_delta":$stealDelta,"steal_cold":$stealCold,""" +
        s""""steal_passes":$stealPassesJson,""" +
        s""""steal_attempts":$stealAttemptsJson,"steal_gate":$stealGate,""" +
        s""""session_setup":$setupSecs,""" +
        s""""cold_value":$coldTotal,"warmup":$warmup,"sf":"$sfDir"}"""
    }
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      fullJson.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"$detailFile write failed: $e") }
    println(
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qsCompact,""" +
        s""""n_queries":${results.size},"all_ok":$allOk,""" +
        s""""anchors":$anchorsJson,""" +
        (if (skip.nonEmpty)
          s""""skipped":${skip.toSeq.sorted.mkString("[\"", "\",\"", "\"]")},"""
         else "") +
        (if (failed.nonEmpty) s""""failed":${failed.mkString("[\"", "\",\"", "\"]")},""" else "") +
        s""""steal_delta":$stealDelta,"steal_cold":$stealCold,""" +
        s""""steal_passes":$stealPassesJson,""" +
        s""""steal_attempts":$stealAttemptsJson,"steal_gate":$stealGate,""" +
        s""""session_setup":${r2(setupSecs)},""" +
        s""""cold_value":${r2(coldTotal)},"warmup":$warmup,"sf":"$sfDir","detail":"$detailFile"}""")
    spark.stop()
  }
}
