package graft

/** Physical-plan assertions: the properties that matter at 100 TB must be
  * visible in the optimized plan, not just hoped for — filter pushdown to
  * the parquet scan, column pruning, broadcast joins for dims, and
  * whole-stage codegen coverage.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: ship-date filter is pushed to the parquet scan") {
    val p = plan(operators.Relational.q1Agg(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
  }

  test("q1: scan reads only the 7 referenced columns (pruning)") {
    val p = plan(operators.Relational.q1Agg(spark, sfDir))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"),
      s"unpruned scan: $read")
    assert(read.contains("l_returnflag") && read.contains("l_extendedprice"))
  }

  test("star join broadcasts every dimension") {
    val p = plan(operators.Dwh.starJoin(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, s"dims not broadcast:\n$p")
    // the fact-side join (lineitem ⋈ orders) must NOT broadcast at scale —
    // it's hinted only on the dim side, so it plans as a shuffle join here.
  }

  test("q3: selective dim filter pushed; customer broadcast") {
    val p = plan(operators.Relational.q3Shipping(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"), s"mktsegment not pushed:\n$p")
  }

  test("q1 aggregates inside whole-stage codegen") {
    // Under AQE the codegen spans only appear in the FINAL adaptive plan,
    // so execute first, then inspect.
    val df = operators.Relational.q1Agg(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no whole-stage codegen spans:\n$p")
  }

  test("q9: part/supplier dims broadcast; only orders joins by shuffle") {
    val p = plan(operators.RelationalExt.q9Profit(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"dims not broadcast:\n$p")
    assert(p.contains("PushedFilters"), s"p_name filter not pushed:\n$p")
  }

  test("q2: region-filtered supplier dim broadcasts, no cartesian") {
    val p = plan(operators.RelationalExt.q2MinCost(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"), s"cartesian in q2:\n$p")
  }

  test("pagerank iteration joins broadcast the rank vector (no edge shuffle)") {
    val df = operators.Analytics.pagerank(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"), s"rank vector not broadcast:\n$p")
  }

  test("skew_salted_join: hot/cold two-branch union, hot set broadcast to split map-side") {
    val df = operators.Relational.skewSaltedJoin(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Union"), s"no hot/cold union branch:\n$p")
    // the semi/anti split against the hot-key set must be a broadcast join
    // (map-side tag), never a shuffle of the fact table just to classify it
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"hot-key set not broadcast:\n$p")
  }

  test("cluster_kmeans: centroids ride a broadcast nested loop, corpus never shuffles for assignment") {
    val e = Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val p = plan(operators.Clustering.assign(e,
      operators.Clustering.seedCentroids(e, operators.Clustering.deriveK(e))))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroids not broadcast:\n$p")
  }

  test("ann_topk broadcasts the query-vector side") {
    val p = plan(operators.Similarity.annTopk(spark, sfDir))
    assert(p.contains("Broadcast"), s"query set not broadcast:\n$p")
  }

  test("ngram_jaccard fails loud on a pathological length block") {
    // with the cap forced to 1 every real block is "pathological": the
    // in-plan assert_true must abort the job with the guard's message
    // instead of silently running the quadratic expansion
    spark.conf.set("spark.graft.jaccardBlockRows", "1")
    try {
      val e = intercept[Exception] {
        operators.Dedup.ngramJaccard(spark, sfDir).collect()
      }
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
      assert(chain(e).contains("jaccardBlockRows"),
        s"guard did not fire with its message: ${chain(e).take(500)}")
    } finally spark.conf.unset("spark.graft.jaccardBlockRows")
  }

  test("ngram_jaccard joins on (source, length-bucket), not source alone") {
    val p = plan(operators.Dedup.ngramJaccard(spark, sfDir))
    // The equi-join key set must include the bucket column — a join keyed
    // on low-cardinality `source` alone is quadratic per source.
    val joinLine = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("source")).getOrElse("")
    assert(joinLine.contains("bucket"), s"length bucket missing from join key: $joinLine")
  }

  test("dedup_embedding generates candidates from a bucket equi-join (no per-label cartesian)") {
    val p = plan(operators.Similarity.dedupEmbedding(spark, sfDir))
    val joinLine = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("label")).getOrElse("")
    assert(joinLine.contains("bucket"), s"bucket missing from candidate join: $joinLine")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("dedup_simhash: candidates come from a multi-band equi-join, never one fixed bucket") {
    val p = plan(operators.Dedup.dedupSimhash(spark, sfDir))
    // The candidate join must key on (band_id, band_key) — the 4×16
    // banding whose bucket count scales with the fingerprint space, not
    // the old fixed-256-bucket top-byte scheme.
    val joinLine = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("band_key")).getOrElse("")
    assert(joinLine.contains("band_id"),
      s"band id missing from candidate join key: $joinLine\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("decontaminate_bloom: probe is native (no UDF), recheck joins broadcast") {
    val df = operators.Dedup.decontaminateBloom(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // The corpus-wide probe must be the codegen BloomMightContain
    // expression, never a Scala UDF (boxed per-row escape from codegen).
    assert(!p.contains("UDF"), s"Scala UDF in bloom probe plan:\n$p")
    assert(p.toLowerCase.contains("bloommightcontain"),
      s"native bloom probe missing from plan:\n$p")
    // Candidate set + benchmark shingles are tiny — both recheck joins
    // must broadcast, so the corpus is never shuffled.
    assert(p.contains("BroadcastHashJoin"), s"recheck joins not broadcast:\n$p")
  }

  test("dwh_dim_author_affiliation: nation snowflake collapses via broadcast") {
    val p = plan(operators.Dwh.dimAuthorAffiliation(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"nation not broadcast:\n$p")
  }

  test("dedup_incremental: batch bands broadcast to the corpus index probe") {
    val p = plan(operators.Dedup.dedupIncremental(spark, sfDir))
    // The index side must be probed map-side: the (small) batch band set
    // broadcasts, the corpus band index never shuffles for the candidate
    // join. A shuffle here would re-pay the whole-corpus cost per batch.
    assert(p.contains("BroadcastHashJoin"), s"batch bands not broadcast:\n$p")
  }

  test("mix_rebalance: rate joins broadcast, the corpus never shuffles") {
    val df = operators.Sampling.mixRebalance(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    // The per-source counts and the total are tiny — both must reach the
    // corpus scan as broadcasts; a shuffle join here would move the whole
    // corpus to apply a 20-row rate table.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1
      && p.contains("BroadcastNestedLoopJoin"), s"rates not broadcast:\n$p")
    val corpusShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("doc_id"))
    assert(corpusShuffles == 0, s"corpus shuffled on doc_id:\n$p")
  }

  test("semdedup: pair join reads the materialized assignment, never re-runs Lloyd rounds") {
    val df = operators.Clustering.semdedup(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    // The Lloyd assignment is eagerly checkpointed ONCE (the centroid
    // broadcast property itself is pinned by the cluster_kmeans test on
    // assign()); the dedup plan must read that materialized RDD on both
    // pair-join sides — a plan that still contains the centroid
    // nested-loop would be recomputing the assignment per branch.
    assert(p.contains("Scan ExistingRDD"), s"assignment not checkpointed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"assignment recomputed inside the dedup plan:\n$p")
  }

  test("sequence_pack: corpus cumsum window is chunked (never one task per source); bases broadcast") {
    val df = operators.Sampling.sequencePack(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    // The window that runs over CORPUS rows (producing local_off) must
    // partition by (source, chunk) — a spec of source alone would
    // serialize each source's whole token stream through one task.
    // (that window is the one ORDERED BY doc_id; the tiny base window
    // orders by chunk over aggregated rows only)
    val localLine = p.linesIterator.find(l =>
      l.contains("windowspecdefinition") && l.contains("doc_id")).getOrElse("")
    assert(localLine.contains("chunk"),
      s"corpus cumsum window not chunked: $localLine\n$p")
    // The per-chunk base offsets are tiny — they must come back as a
    // broadcast, never a shuffle of the corpus on (source, chunk).
    assert(p.contains("BroadcastHashJoin"), s"chunk bases not broadcast:\n$p")
  }

  test("scd2_point_in_time plans as an equi-join on the key, never a " +
      "range/nested-loop join") {
    val df = operators.Relational.scd2PointInTime(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    // the validity window must ride as a residual condition on the
    // custkey equi-join; a nested-loop plan here would be O(facts·dim)
    // at 100 TB
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"point-in-time join degenerated to a non-equi plan:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join found in the point-in-time plan:\n$p")
  }

  test("cdc_apply is one map-side-combinable aggregate — no window, no " +
      "sort, no join") {
    val df = sources.Ingest.cdcApply(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    assert(!p.contains("Window") && !p.contains("Join"),
      s"the changelog collapse must stay a pure aggregate:\n$p")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"expected a two-phase hash aggregate:\n$p")
  }

  test("tfidf_top_terms and cluster_topics route per-key top-k through TopKPerKeyExec") {
    // Both pay a per-key top-k over doc×term / cluster×term rows — the
    // custom heap operator replaces the full partition sort the window
    // plan needs (window_rank_native measures it ~2×).
    val pt = plan(operators.TextAnalysis.tfidfTopTerms(spark, sfDir))
    assert(pt.contains("TopKPerKey"), s"tfidf top-k not heap-planned:\n$pt")
    val pc = plan(operators.Clustering.clusterTopics(spark, sfDir))
    assert(pc.contains("TopKPerKey"), s"cluster_topics top-k not heap-planned:\n$pc")
  }

  test("importance_weights: hashed stats join broadcasts; no term-keyed shuffle anywhere") {
    val df = operators.Sampling.importanceWeights(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    // The constant-B stats table must reach the tf rows as a broadcast;
    // and no exchange may partition by the raw term — Zipf skew makes a
    // term-keyed corpus shuffle a guaranteed mega-partition at scale.
    assert(p.contains("BroadcastHashJoin"), s"DSIR stats not broadcast:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("term")),
      s"corpus shuffled on raw term key:\n$p")
  }

  test("lm_score: LM stats broadcast; no bigram-keyed shuffle anywhere") {
    val df = operators.TextAnalysis.lmScore(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    // The constant-B stats table must reach the tf rows as a broadcast,
    // and no exchange may partition by the raw bigram — Zipf skew makes
    // a bigram-keyed corpus shuffle a mega-partition at scale.
    assert(p.contains("BroadcastHashJoin"), s"LM stats not broadcast:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("bigram")),
      s"corpus shuffled on raw bigram key:\n$p")
  }

  test("dedup_substring: start lists broadcast back onto the documents scan") {
    val df = operators.Dedup.dedupSubstring(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    // The per-doc dup-start lists ride dimHint: while duplication is
    // sparse they broadcast and the document text never shuffles.
    assert(p.contains("BroadcastHashJoin"), s"start lists not broadcast:\n$p")
  }

  test("dimHint: SF-proportional dims still broadcast while they fit locally") {
    // part fits comfortably under the default 10MB threshold at test SFs,
    // so the size guard must leave the broadcast in place — the guard
    // exists to drop it at 100 TB, not to pessimize local plans.
    val p = plan(operators.Analytics.topicPopularity(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"guarded dim not broadcast:\n$p")
  }

  test("dimHint: past the threshold the join degrades to a shuffle join, never a forced broadcast") {
    // Forcing the threshold to 0 simulates the 100 TB case where part is
    // ~10⁹ rows: a hard broadcast() hint would still build the broadcast
    // relation and OOM; the size guard must instead hand AQE a plain join.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "0")
    try {
      val df = operators.Analytics.topicPopularity(spark, sfDir)
      df.collect()
      val p = functions.PlanGuard.finalPlan(df)
      assert(!p.contains("BroadcastHashJoin"),
        s"dim still force-broadcast past the threshold:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle join fallback:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("stateHint: the shuffle fallback is live and result-identical") {
    // spark.graft.broadcastState=false is the documented escape for
    // graphs past the ~10⁸-node broadcast bound: every round's
    // keep-set/rank/degree join must plan WITHOUT the forced broadcast
    // and still produce identical rows (AQE is then free to pick the
    // strategy from runtime sizes).
    val on = operators.Analytics.kcore(spark, sfDir)
    spark.conf.set("spark.graft.broadcastState", "false")
    try {
      val off = operators.Analytics.kcore(spark, sfDir)
      assert(off.exceptAll(on).isEmpty && on.exceptAll(off).isEmpty,
        "state-broadcast fallback changed the k-core result")
    } finally spark.conf.set("spark.graft.broadcastState", "true")
  }

  test("bucketed_join: co-located tables join with zero exchanges before the final agg") {
    // Disable broadcast so the join can't dodge the question — the point
    // is that BUCKETING removes the shuffle, which is what survives when
    // neither side fits in an executor at 100 TB.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = sources.Ingest.bucketedJoin(spark, sfDir)
      // Exactly ONE data exchange is allowed: the final tiny groupBy on
      // o_orderpriority. The join itself must read co-located buckets.
      val exchanges = functions.PlanGuard.shuffles(df)
      val p = functions.PlanGuard.finalPlan(df)
      assert(p.contains("SortMergeJoin"), s"expected merge join over buckets:\n$p")
      assert(exchanges <= 1, s"bucketed join still shuffles ($exchanges exchanges):\n$p")
      // Bucket-sorted layout also kills the pre-merge sort step.
      assert(p.contains("Bucketed: true"), s"scan not bucket-aware:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("bm25_topk: the documents corpus is scanned exactly once") {
    // the single-pass property: the tokenize aggregate is materialized
    // (checkpointed) before its two consumers, so the RETURNED plan
    // contains ZERO documents scans — the one scan happened inside the
    // checkpoint job. A regression that drops the materialization
    // re-introduces per-consumer scans here.
    val df = operators.Retrieval.bm25Topk(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    assert(scans == 0, s"documents re-scanned $scans times past the checkpoint:\n$p")
  }

  test("attribution_linear: no event self-join — window frames only") {
    val df = operators.EventScience.attributionLinear(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    val eventScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    assert(eventScans == 1, s"events scanned $eventScans times (self-join?):\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("day_ord"),
      "only the day-grid rollup join may merge")
  }

  test("snippet_extract: hit docs probe the corpus by broadcast semi join") {
    val df = operators.Retrieval.snippetExtract(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"snippet probe is not a broadcast semi join:\n$p")
  }

  test("theilsen_trend: the pair expansion runs on the monthly grid, not orders") {
    val df = operators.Retrieval.theilsenTrend(spark, sfDir)
    df.collect()
    val p = functions.PlanGuard.finalPlan(df)
    // orders is scanned at most twice (once per monthly-aggregate side);
    // the C(n,2) join must join AGGREGATED frames — assert no join
    // directly on an un-aggregated orders scan by checking the join keys
    // are the derived (nationkey, mon) columns
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"))
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("orders"))
    assert(scans <= 2, s"orders scanned $scans times:\n$p")
  }

  /* Single-reducer guard, REGISTRY-WIDE: a Window with an EMPTY
    * partition spec funnels its whole input through one task
    * (`WindowExec: No Partition Defined`) — correct at sf0.1, fatal at
    * 100 TB. Every corpus- or range-proportional cumulative in the repo
    * now rides the two-level cell machinery (Ranks.scala), so the
    * invariant is asserted over EVERY registered query's optimized
    * plan, with an explicit allowlist of sites whose window input is
    * provably bounded (post-LIMIT frames, per-stratum ranks over a
    * dimension's cardinality). The scan sees the plan AFTER
    * localCheckpoint/persist boundaries — windows inside eagerly
    * materialized sub-stages are invisible here — so the SAME invariant
    * is enforced at the boundary itself: Iterate.checkpoint and
    * PlanGuard.persist scan every frame's pre-materialization plan and
    * fail loud unless the site declares its window bounded (PlanGuard
    * .scala; guard behavior pinned below). Between the two scans no
    * materialization can hide a single-reducer sort.
    */
  test("registry-wide: no unpartitioned Window outside the documented allowlist") {
    // operator -> why its unpartitioned window cannot grow with the data
    // (counts are not pinned: plan-subtree duplication under self-joins
    // makes node counts an artifact of CTE materialization, not of scale)
    // ks/mw/compaction re-entered this list in r12 with DOMAIN-bound
    // justifications: their cumulative windows run over support frames
    // that cannot grow with the corpus (distinct doc lengths; calendar
    // days), where r11's two-level Ranks uniformity cost 2-3x local
    // wall time for zero scale benefit. Their 2-row top-2 rank sits
    // behind the checkpointed cell frame, declared at that site.
    val allow = Map(
      "ks_statistic" -> "CDF over ≤max-doc-length distinct-length cells",
      "qq_compare" -> "CDF over ≤max-doc-length distinct-length cells",
      "mann_whitney_auc" -> "rank cumulative over the same length cells",
      "welch_ttest" -> "rank over the 2-row post-LIMIT top-2 source frame",
      "kruskal_wallis" -> "rank cumulative over the same length cells",
      "retrieval_eval_pk" -> "rank over the ≤10-row post-LIMIT top-k frame",
      "compaction_plan" -> "packing prefix over the calendar-bounded day inventory",
      "neyman_allocation" -> "largest-remainder rank over |event_type| strata",
      "rrf_fusion" -> "ranks over two ≤20-row post-LIMIT top-k frames",
      "ndcg_eval" -> "rank over the ≤10-row post-LIMIT top-k frame",
      "map_eval" -> "rank over the ≤10-row post-LIMIT top-k frame",
      "mrr_eval" -> "rank over the ≤10-row post-LIMIT top-k frame",
      "zipf_coverage" -> "rank over the ≤1000-row post-LIMIT vocabulary head",
      "user_concentration" -> "decile share over ≤10 aggregated rows",
      "group_kfold" -> "fold share over ≤k aggregated fold rows",
      "mix_quality_frontier" -> "frontier over |sources| aggregated rows",
      "seasonal_anomaly" -> "median ranks over the calendar-bounded interior-day frame",
      "generalization_ladder" -> "prefix flag over the 6-row generalization ladder",
      "page_hinkley" -> "cumulative PH fold over the calendar-bounded day frame",
      "unigram_train" -> "rank over the ≤20-row post-LIMIT piece-table head")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val n = functions.PlanGuard.unpartitionedWindows(fn(spark, sfDir)).size
        if (n > 0 && !allow.contains(name)) Some(s"$name ($n)") else None
      }
    assert(offenders.isEmpty,
      s"unpartitioned Window node(s) outside the allowlist — single-reducer " +
        s"at scale: ${offenders.mkString(", ")}")
    // the allowlist must stay honest: every entry still exists in the
    // registry (a renamed operator can't leave a stale exemption behind)
    val stale = allow.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowlist entries for unknown operators: $stale")
  }

  test("checkpoint/persist boundaries cannot hide an unpartitioned Window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // the exact shape the registry scan cannot see: a single-reducer
    // rank inside a frame about to be eagerly materialized
    val hidden = spark.range(100).toDF("id")
      .withColumn("r", row_number().over(Window.orderBy(col("id"))))
    val eCp = intercept[IllegalArgumentException] {
      functions.Iterate.checkpoint(hidden)
    }
    assert(eCp.getMessage.contains("unpartitioned"), eCp.getMessage)
    val ePs = intercept[IllegalArgumentException] {
      functions.PlanGuard.persist(hidden)
    }
    assert(ePs.getMessage.contains("unpartitioned"), ePs.getMessage)
    // a site-declared bounded window passes — and the declaration is a
    // string at the call site, greppable like the registry allowlist
    val cp = functions.Iterate.checkpoint(hidden,
      Some("spec: rank over a 100-row literal range"))
    assert(cp.count() === 100)
    val ps = functions.PlanGuard.persist(hidden,
      Some("spec: rank over a 100-row literal range"))
    assert(ps.count() === 100)
    ps.unpersist()
    // window-free frames checkpoint/persist untroubled
    val clean = functions.PlanGuard.persist(spark.range(10).toDF("id"))
    assert(clean.count() === 10)
    clean.unpersist()
    // a declaration excuses exactly ONE window: a second one slipped
    // into the same lineage is undeclared and must still fail — a
    // blanket pass would reopen the blind spot at every declared site
    val twoHidden = hidden
      .withColumn("r2", row_number().over(Window.orderBy(col("r").desc)))
    val eTwo = intercept[IllegalArgumentException] {
      functions.Iterate.checkpoint(twoHidden,
        Some("spec: only ONE declared bounded window"))
    }
    assert(eTwo.getMessage.contains("ONE unpartitioned"), eTwo.getMessage)
  }
}
