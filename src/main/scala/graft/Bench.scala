package graft

import org.apache.spark.sql.SparkSession

/** Headline benchmark (driver contract): runs the HEADLINE query set on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Queries execute into the `noop` sink — a plain `.count()` would let
  * Catalyst prune projections and under-report map-heavy queries (a
  * pure-projection pipeline would measure ~0). A warmup query absorbs
  * one-time session/codegen cost so per-query numbers are comparable.
  *
  * Each query is timed in INTERLEAVED passes over the selected set and
  * the per-query min reported. Back-to-back repeats (the
  * old min-of-two) proved blind to exactly the noise they were meant to
  * reject: a transient host disturbance lasting longer than one
  * query's repeats corrupts BOTH samples — observed as a 3-11× phantom
  * "regression" on a contiguous group of queries with a zero-line code
  * diff. Interleaving separates a query's samples by a full pass
  * (minutes), so a transient burst lands in at most one sample and the
  * min survives it. A System.gc() between passes keeps one pass's
  * garbage from billing a later pass's first queries.
  *
  * MODE (round-10 change): the registry grew past the point where
  * "everything × 3 passes" fits the driver's wall-clock budget — the
  * round-9 suite (159 queries, ~230 s of measured work per pass-sum)
  * ran the driver's bench step into its timeout (BENCH_r09: rc=124)
  * and the round recorded NO perf numbers at all. A bench that doesn't
  * finish measures nothing, so the driver-facing default is now a
  * curated HEADLINE subset — every operator family's representative
  * queries, stable across rounds for round-over-round comparison —
  * while `SPARK_GRAFT_BENCH_MODE=full` keeps the complete registry
  * sweep (builder-run each round; committed as BENCH_FULL.json).
  *   headline: HEADLINE set, 2 interleaved passes, ~2-3 min wall —
  *             writes BENCH_HEADLINE.json, leaves BENCH_FULL.json
  *             untouched (the committed full record must not be
  *             clobbered by a subset run).
  *   full:     whole registry, 3 interleaved passes — writes
  *             BENCH_FULL.json.
  * SPARK_GRAFT_PASSES overrides the per-mode pass default either way.
  *
  * WATCHDOG (round-10 change): each timed run executes on a daemon
  * worker with a hard deadline (SPARK_GRAFT_QUERY_DEADLINE, default
  * 120 s — 6× the slowest healthy query at sf0.1). Round 9's lesson:
  * one pathological query (a driver-side planner hang) turned the
  * whole bench into rc=124 and zero data. On timeout the query is
  * marked failed (-1), running jobs are cancelled, and the sweep
  * continues — one bad query costs its deadline, not the round.
  */
object Bench {
  /** The driver-facing representative set: every family's anchor
    * queries, chosen once and kept STABLE so BENCH_r{N} files compare
    * across rounds. Heavier family members (winnow, bpe_apply, hits,
    * coreness, …) are measured by the full sweep in BENCH_FULL.json —
    * a subset entry here is a wall-clock budget decision, never a
    * statement that the omitted queries don't matter. */
  val headline: Seq[String] = Seq(
    // TPC-H-ish analytics core — the cross-round anchor
    "q01_pricing_summary", "q02_revenue_topk", "q03_region_revenue",
    "q04_semi_join", "q05_anti_join", "q06_window_rank",
    "q07_window_running", "q08_distinct_setops", "q09_rollup",
    "q10_percentiles", "q10b_percentiles_approx", "q11_json_extract",
    "q12_time_bucket", "q13_asof_join", "q13b_asof_custom",
    "q13c_asof_tolerance", "q14_range_join", "q15_sessionize",
    "q16_approx_distinct", "q16_distinct_exact", "q17_conditional_pivot",
    "q18_above_brand_avg", "q19_salted_agg", "q20_sql_api",
    "q21_salted_join", "q22_cube", "q23_stats_corr", "q24_gapfill",
    "q25_interval_join", "q26_funnel", "q27_retention",
    "q28_range_window", "q29_session_window", "q30_interval_join",
    // reference surface (log parse / routing / drop-stats / ndjson)
    "qlog_syslog_parse", "qlog_routing", "qlog_drop_stats",
    "qlog_ndjson_roundtrip",
    // dedup family
    "qdedup_exact", "qdedup_minhash_lsh", "qdedup_simhash",
    "qdedup_ngram_jaccard", "qdedup_clusters_star",
    // ANN family
    "qann_brute_topk", "qann_ivf", "qann_pq", "qann_ivfpq",
    // text family
    "qtext_quality", "qtext_langid", "qtext_tokens", "qtext_tfidf",
    "qtext_scrub", "qtext_train_lr", "qtext_hybrid_rrf",
    // curation family
    "qcuration_contam", "qcuration_pipeline",
    // graph family
    "qgraph_pagerank", "qgraph_triangles",
    // round-11 additions: source sketches, changepoints, tagging, ORC,
    // standardization, dedup report, seasonal anomaly, allocators, manifests
    "qprofile_source_sim", "qlog_cusum", "qtext_tag", "qlayout_orc",
    "qvec_standardize", "qdedup_report", "qlog_seasonal",
    "qmix_temperature75", "qpack_curriculum", "qmm_ar_buckets", "qprofile_ttr",
    "qtext_mrr", "qdedup_source_matrix", "qsample_recency", "qgraph_khop",
    "qann_matryoshka", "qann_ivf_mrl", "qtext_scripts", "qprofile_psi",
    "qsample_neyman", "qmix_temperature", "qpack_manifest", "qtext_rake",
    // round-13 additions: production-vocab BPE apply (the 1024-merge
    // vocabulary-JOIN formulation), its merge-table bootstrap, and the
    // quantile-cut perplexity buckets, and the typed k-hop leakage pair
    "qtext_merge_chains", "qtext_bpe_apply_vocab", "qtext_ppl_quantile",
    "qgraph_khop_typed", "qgraph_khop_leakage", "qsplit_temporal_q",
    "qann_bq", "qann_bq_recall", "qtext_fertility_vocab",
    // vectors / profiling / splits / layout / multimodal / sampling / packing
    "qvec_centroid", "qvec_pca", "qvec_silhouette", "qprofile_table", "qsplit_assign",
    "qlayout_bucketed_join", "qmm_dhash_pairs", "qsample_hash",
    "qpack_shards",
    // round-16 additions: the r13-r15 BQ/IVF compositions, asymmetric
    // passes, recall gates and drift twins (previously full-sweep-only,
    // so a regression in the hottest module was invisible to
    // BENCH_r{N}); plus this round's index-remove and 32k-vocab paths
    "qann_ivf_bq", "qann_ivf_bq_recall", "qann_bq_asym",
    "qann_ivf_bq_asym", "qann_ivf_bq_asym_recall", "qann_bq_bitcounts",
    "qann_ivf_cellcounts", "qann_ivfpq_rm", "qtext_bm25_rm",
    "qtext_bpe_apply_32k",
    // the rest of the r16 index lifecycle: upsert and CDC sync
    "qtext_bm25_upsert", "qtext_bm25_sync", "qann_ivfpq_upsert",
    // round-17: the retrain loop's publish leg (build → publish →
    // read → search, all four artifacts through one generation), the
    // WAV/PCM audio codec boundary, and the exact-collapse → near-dup
    // two-stage pipelines the sf1 scale smoke motivated
    "qann_ivfpq_pub", "qmm_wav_meta", "qdedup_ngram_collapsed",
    "qdedup_minhash_collapsed",
    // the tokenizer-drift monitor's driver-gated batch twin
    "qtext_fertility_counts",
    // r17 third wave: the real-decode audio + image gates, and the
    // collapse reaching the embedding family (the sf1 full-sweep
    // disposition made code)
    "qmm_wav_features", "qmm_png_decode", "qdedup_embedding_collapsed",
    "qdedup_embedding_lsh_collapsed")

  /** The noise gate's bound on the MEDIAN per-query pass spread: this
    * box's healthy interleaved sweeps post median spreads well under
    * 1.5 even while half the queries see scheduling jitter; a median
    * past 2 means the majority of the suite was contested — a
    * machine-contention signature, not a measurement. */
  private[graft] val NoisySpreadBound = 2.0

  /** Median of the VALID per-query spreads (failed/one-sample entries
    * carry the -1 sentinel and are excluded); -1 when nothing valid —
    * an all-failed sweep is already marked by failures/total, not the
    * noise gate. */
  private[graft] def spreadMedian(spreads: Seq[Double]): Double = {
    val v = spreads.filter(_ > 0).sorted
    if (v.isEmpty) -1.0
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // --- shuffle accounting (BENCH_FULL-only; stdout contract unchanged).
    // Wall-clock alone can hide a plan regression on a fast host: an
    // operator that starts shuffling 10× the bytes may still hit its
    // old time at sf0.1 while becoming the bottleneck at 100 TB. Sum
    // "shuffleBytesWritten" across the EXECUTED plan's exchange nodes
    // (the listener hands us the write's own QueryExecution; AQE
    // wrappers and materialized query stages are leaf nodes, so the
    // walk descends into them explicitly). Collected AFTER the timer
    // stops — the spin-wait below never bills a query's number.
    val lastQe = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        lastQe.set(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        lastQe.set(qe)
    })
    def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan,
        seenCaches: java.util.IdentityHashMap[AnyRef, AnyRef]):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: flattenPlan(a.executedPlan, seenCaches)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flattenPlan(q.plan, seenCaches)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        // reused: bytes were billed where the exchange first ran
        Seq(r)
      case t: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        // a persisted frame hides its build shuffles behind the cache
        // boundary; bill them ONCE per cache (a second scan of the
        // same cache reads memory, not the wire)
        if (seenCaches.put(t.relation.cacheBuilder, t.relation) == null)
          p +: flattenPlan(t.relation.cachedPlan, seenCaches)
        else Seq(p)
      case other => other +: other.children.flatMap(flattenPlan(_, seenCaches))
    }
    // Listener delivery is ASYNC, and a query fn may run intermediate
    // actions of its own (a stats collect, a parquet write) whose
    // events land before the timed noop write's — "first non-null" or
    // a quiet-window heuristic could bill the wrong execution. The
    // timed write is unambiguous instead: its executed plan ROOT is
    // the noop sink ("OverwriteByExpression NoopWrite"), which no
    // intermediate action can produce — poll (5 ms) until THAT
    // execution arrives.
    // 10 s deadline: a drain that times out records -1, and the stale
    // noop event could then arrive during the NEXT query's drain and
    // bill the wrong run — make the timeout require listener-bus lag
    // so extreme the whole bench is compromised anyway. The root
    // check stringifies only the plan's ROOT node, once per distinct
    // QueryExecution reference, not the whole tree per poll.
    def drainShuffleBytes(): Long = {
      val deadline = System.nanoTime() + 10_000_000_000L
      var checked: org.apache.spark.sql.execution.QueryExecution = null
      while (System.nanoTime() < deadline) {
        val qe = lastQe.get
        if (qe != null && (qe ne checked)) {
          checked = qe
          // the NoopWrite TABLE is the discriminator — a query fn's own
          // v2 overwrite of a real sink shares the node type but
          // never the noop table
          if (qe.executedPlan.verboseString(2).contains("NoopWrite")) {
            return flattenPlan(qe.executedPlan, new java.util.IdentityHashMap)
              .flatMap(_.metrics.get("shuffleBytesWritten")).map(_.value).sum
          }
        }
        Thread.sleep(5)
      }
      -1L
    }
    val shuffleBytes = scala.collection.mutable.Map.empty[String, Long]

    val deadlineSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_DEADLINE", "120").toInt
    def runOnce(name: String): Double = {
      // some queries persist an intermediate frame (e.g. the ngram shingle
      // cache); every timed run must recompute it or the min would
      // report a warm-cache number
      spark.catalog.clearCache()
      lastQe.set(null)
      // watchdog: the timed write runs on a daemon worker so a hung
      // query (planner-side hangs included, which cancelAllJobs can't
      // reach) costs its deadline, not the whole bench — round 9's
      // rc=124 failure mode
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t0 = System.nanoTime()
      val worker = new Thread(() => {
        try SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => err.set(e) }
      }, s"bench-$name")
      worker.setDaemon(true)
      worker.start()
      worker.join(deadlineSec * 1000L)
      if (worker.isAlive) {
        System.err.println(s"[bench] $name TIMED OUT after $deadlineSec s — abandoning")
        spark.sparkContext.cancelAllJobs()
        return -1.0
      }
      if (err.get != null) {
        System.err.println(s"[bench] $name failed: ${err.get}")
        return -1.0
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val sb = drainShuffleBytes()
      if (sb >= 0) shuffleBytes(name) = sb
      sec
    }

    // warmup: first query pays session + codegen startup; don't let that
    // land on an arbitrary query's number.
    runOnce("q01_pricing_summary")

    // Mode select: headline (driver default, budget-bounded) vs full
    // (whole registry, builder-run). The headline list is validated
    // against the registry LOUDLY — a renamed query must fail the
    // bench, not silently shrink the anchor set.
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "headline")
    require(mode == "headline" || mode == "full",
      s"SPARK_GRAFT_BENCH_MODE must be 'headline' or 'full', got '$mode'")
    val missingHeadline = headline.filterNot(SparkEntry.queries.contains)
    require(missingHeadline.isEmpty,
      s"headline queries missing from registry: ${missingHeadline.mkString(", ")}")
    // SPARK_GRAFT_ONLY=q1,q2 narrows to named queries for local iteration;
    // unset (the driver's mode) runs the selected mode's set. Unknown
    // names warn loudly instead of silently shrinking the run (a typo
    // must not read as a clean bench).
    val names = SparkEntry.onlyQueries(sys.env.get("SPARK_GRAFT_ONLY")) match {
      case Some((known, unknown)) =>
        if (unknown.nonEmpty)
          System.err.println(s"[bench] WARNING: unknown SPARK_GRAFT_ONLY queries ignored: ${unknown.mkString(", ")}")
        known.sorted
      case None if mode == "headline" => headline.sorted
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES",
      if (mode == "headline") "2" else "3").toInt
    // pass-interleaved timing: min over `passes` full sweeps; a query
    // that fails on ANY sample is marked failed (-1) — a flaky failure
    // must not read as a fast run
    val samples = (1 to passes).map { p =>
      if (p > 1) System.gc()
      val pass = names.map(n => n -> runOnce(n)).toMap
      val passTotal = pass.values.filter(_ >= 0).sum
      System.err.println(f"[bench] pass $p/$passes total=$passTotal%.1f s")
      pass
    }
    val results = names.map { n =>
      val s = samples.map(_(n))
      n -> (if (s.exists(_ < 0)) -1.0 else s.min)
    }
    // The driver records only the LAST 2000 chars of stdout; with 80+
    // registered queries one all-in-one JSON line overflows that and the
    // times map gets decapitated (BENCH_r08 lost its per-query times this
    // way). Output contract, tail-truncation-aware:
    //   stderr  — per-query spread map (diagnostic, not tail-budgeted)
    //   file    — BENCH_FULL.json in the repo root: the complete record
    //   stdout  — times line with entries sorted CHEAPEST-FIRST (head
    //             truncation eats the least interesting numbers), then a
    //             compact {"metric":"total",...} line LAST so the headline
    //             always survives intact.
    def fmt(d: Double): String = {
      // Locale.ROOT: a comma-decimal default locale would render "0,123"
      // and corrupt the JSON
      val s = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    // cheapest-first, FAILURES LAST: the tail capture keeps the END of
    // the line, and a failed query's identity is the single most
    // interesting datum in the map — the -1 sentinel must not sort to
    // the truncated head
    val qs = results
      .sortBy { case (_, v) => if (v < 0) Double.PositiveInfinity else v }
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // per-query max/min spread across passes: the min rejects transient
    // host noise, but a reader of ONE bench file can't tell which mins
    // were contested — a large spread marks a low-confidence number
    // (re-measure before calling it a regression) without a second run
    val spreadVals = names.map { n =>
      val s = samples.map(_(n))
      n -> (if (s.exists(_ < 0) || s.min <= 0) -1.0 else r3(s.max / s.min))
    }
    val spreads = spreadVals
      .map { case (n, sp) => "\"" + n + "\":" + sp }
      .mkString("{", ",", "}")
    // NOISE GATE: a sweep taken under heavy host contention (observed:
    // two passes of the SAME query differing 30×+) must never silently
    // become the record of note — a round's 173.6 s "regression" with a
    // byte-identical shuffle map once overwrote a healthy 139.6 s
    // committed record. When the MEDIAN per-query spread exceeds the
    // bound the record is still written (the driver contract needs a
    // file) but marked "noisy": true in both the file and the stdout
    // headline, so no reader can mistake it for a comparable baseline.
    // The median, not the max: one contested query is normal scheduling
    // jitter; half the suite contested is a contended host.
    val medSpread = spreadMedian(spreadVals.map(_._2))
    val noisy = medSpread > NoisySpreadBound
    if (noisy)
      System.err.println(f"[bench] WARNING: median pass spread $medSpread%.2f > " +
        f"$NoisySpreadBound — contended host; record marked noisy, re-run in a quiet window")
    // a failed query (-1 marker) must not make the headline number look
    // FASTER: report total=-1 plus an explicit failure count
    val failures = results.count(_._2 < 0)
    val total = if (failures > 0) -1.0 else r3(results.map(_._2).sum)
    // headline mode must NOT clobber the committed full-registry record
    // — it writes its own sidecar instead
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (mode == "headline") "/root/repo/BENCH_HEADLINE.json"
      else "/root/repo/BENCH_FULL.json")
    // The LAST stdout line must be self-contained AND fit whole inside the
    // driver's 2000-char tail capture — r8's all-in-one line overflowed it
    // and the per-query times were lost. Emit total + as many per-query
    // times as fit a hard character budget: failed queries first (a
    // failure's identity is the most interesting datum), then
    // most-expensive-first (the numbers perf grading actually reads);
    // "times_omitted" counts the cheap entries dropped, all of which live
    // in BENCH_FULL.json at "full".
    val totalLine = {
      val ordered = results.sortBy { case (_, v) =>
        if (v < 0) Double.NegativeInfinity else -v
      }
      val entries = ordered.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      val head =
        s"""{"metric":"total","value":$total,"unit":"sec","failures":$failures,"n":${names.size},"mode":"$mode","registered":${SparkEntry.queries.size},"passes":$passes,"noisy":$noisy,"spread_median":${r3(medSpread)},"sf":"$sfDir","full":"$fullPath","""
      // ~70 chars of slack for the times_omitted field + closing braces
      val budget = 1950 - head.length - 70
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      var used = 0
      entries.foreach { e =>
        if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
      }
      val omitted = entries.size - kept.size
      head + s""""times_omitted":$omitted,"queries":${kept.mkString("{", ",", "}")}}"""
    }
    System.err.println(s"""[bench] spread_max_over_min $spreads""")
    // per-query total shuffle write MB (last pass's execution — the
    // plan is deterministic, so any pass reports the same bytes)
    val shuffles = names.flatMap(n => shuffleBytes.get(n).map(b =>
        "\"" + n + "\":" + fmt(r3(b / 1e6))))
      .mkString("{", ",", "}")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(fullPath),
        (s"""{"metric":"total","value":$total,"unit":"sec","failures":$failures,"n":${names.size},"mode":"$mode","registered":${SparkEntry.queries.size},"passes":$passes,"noisy":$noisy,"spread_median":${r3(medSpread)},""" +
          s""""queries":$qs,"spread_max_over_min":$spreads,"shuffle_mb":$shuffles,"sf":"$sfDir"}""" + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: $e")
    }
    println(s"""{"metric":"times","queries":$qs}""")
    println(totalLine)
    spark.stop()
    // abandoned watchdog workers may be stuck in non-interruptible
    // driver code; don't let them block JVM exit
    System.exit(0)
  }
}
