package graft

/** Physical-plan audit: the scale properties the engine promises (SURVEY.md
  * §4) must be visible in the executed plans, not just intended — pruned
  * scans, pushed filters, broadcast dimension joins, top-k without a global
  * sort, and no accidental cartesian products anywhere.
  */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  /** Every declared query's plan, planned once and shared by the two
    * all-query audits below.
    */
  private lazy val allPlans: Map[String, String] =
    SparkEntry.queries.keys.map(n => n -> plan(n)).toMap

  /** Plan after execution — collect() drives THIS queryExecution, so AQE
    * finalizes in place and codegen stage markers become visible. (A write
    * would build a separate execution and leave this plan un-finalized.)
    */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q01: projection prunes the parquet scan to the selected columns") {
    val p = plan("q01_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey"))
    assert(!readSchema.contains("l_shipdate"), "unused column must be pruned")
    assert(!readSchema.contains("l_quantity"), "unused column must be pruned")
  }

  test("q02: filters are pushed down to the parquet scan") {
    val p = plan("q02_filter_limit")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_quantity"),
      s"expected both predicates pushed, got: $pushed")
  }

  test("q03: rate and currency dims join as broadcasts, no shuffle for them") {
    val p = plan("q03_convert_currency")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both dimension joins must be broadcast hash joins")
  }

  test("q13: top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q13_topk").contains("TakeOrderedAndProject"))
  }

  test("q46: the capped pickup is a TakeOrdered heap, not a global sort") {
    // the batch cap must not serialize the unpicked remainder through one
    // sort — per-partition top-k heaps feed the conversion joins
    assert(plan("q46_incremental_pick").contains("TakeOrderedAndProject(limit=5000"))
  }

  test("q08: map-side partial aggregation before the shuffle, inside codegen") {
    val p = finalPlan("q08_agg_group")
    assert(p.contains("partial_sum"),
      "the hash aggregate must combine map-side — the shuffle carries " +
        "one row per (mapper, group), not per input row")
    // simple-mode plan strings mark codegen'd operators with a "*(stage)"
    // prefix; the partial aggregate must carry one
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(p).isDefined,
      s"the partial hash aggregate must run generated code:\n$p")
  }

  test("q04: small dims broadcast; fact-side aggregation is partial-first") {
    val p = plan("q04_join_multiway")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "nation and region must broadcast, not shuffle")
    assert(p.contains("partial_sum") || p.contains("Partial"))
  }

  test("q10b/q10c: grouping-set expansion aggregates partial-first") {
    // cube/grouping-sets compile to Expand (one row per set per input row)
    // feeding a hash aggregate — the partial agg must combine map-side so
    // the shuffle carries groups, not the expanded fact
    Seq("q10b_cube", "q10c_grouping_sets").foreach { n =>
      val p = plan(n)
      assert(p.contains("Expand"), s"$n must use the Expand operator")
      assert(p.contains("partial_count") || p.contains("Partial"),
        s"$n must aggregate map-side before the shuffle")
    }
  }

  test("q38: one window pass — all four navigation functions share one sort") {
    val p = plan("q38_window_nav")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      s"lead/first_value/nth_value/ntile share a spec, so one Window op:\n$p")
    assert("Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1,
      "exactly one shuffle on the partition key")
  }

  test("x10: the vocabulary df lookup joins as a broadcast, never a corpus shuffle") {
    val p = plan("x10_jaccard_join")
    assert(p.contains("BroadcastHashJoin"),
      "the Zipf-small df table must broadcast against the exploded token stream")
  }

  test("x07: the banded self-join shuffles on the key — never broadcasts the index") {
    // round-10 sf1 finding: pre-explode statistics made the planner
    // broadcast the ENTIRE 64×-exploded key index (n-proportional driver
    // build — 8.8 of x07's 11.4 s at sf1, and wrong at any cluster
    // scale). The SHUFFLE_HASH hint pins the co-partitioned shape; this
    // guards the hint (and the native simhash_tables kernel feeding it)
    // against a refactor that silently drops either.
    val p = finalPlan("x07_simhash_dedup")
    assert(p.contains("ShuffledHashJoin"),
      s"banded self-join must be a shuffled hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      "the exploded key index must never broadcast (n-proportional)")
    assert(p.contains("simhash_tables"),
      "key generation must run in the native kernel, not the Column array")
  }

  test("q18: props parses ONCE — one from_json map build, probe-only predicate") {
    // the round-3 regression shape was 3 parses/row; the discipline is one
    // get_json_object probe (runs on every row, its pushed copy included)
    // plus exactly one from_json that materializes only for survivors.
    // Guarded by plan audit because a bare withColumn refactor silently
    // re-inlines the parse per derived field (CollapseProject).
    val p = plan("q18_json_extract")
    assert("from_json".r.findAllIn(p).size == 1,
      s"expected exactly one from_json in the plan:\n$p")
    assert(p.contains("get_json_object"),
      "the filter must use the streaming probe, not the map parse")
  }

  test("x12: the bloom prefilter survives into the physical plan as a filter") {
    val p = plan("x12_bloom_semi")
    assert(p.contains("might_contain"),
      "probe rows must be pruned map-side before the semi-join shuffle")
  }

  test("q49: the dedup shuffle never carries document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the pipeline's contract: gates + fingerprint evaluate at the scan,
    // text is projected away BEFORE the one wide operation — a refactor
    // that reorders the select would silently ship the corpus
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exchanges = SparkEntry.queries("q49_clean_pipeline")(spark, sf0001)
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        val cols = e.child.output.map(_.name)
        assert(!cols.contains("text"),
          s"shuffle carries the text column: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("no declared or extension query contains a cartesian product") {
    allPlans.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"),
        s"$name has a cartesian product — never acceptable at scale")
    }
  }

  test("x01/x06: the only nested-loop join is against the broadcast probes") {
    // brute-force ANN is allowed a BroadcastNestedLoopJoin (bounded by the
    // tiny probe side) — x01 and its dequantized twin q60; q73's one BNLJ
    // is the 1-row scalar attach of its coverage denominator (bounded by
    // construction — an aggregate's single row cross-joined broadcast);
    // q78's is the same shape (the 1-row global-max D attach); x18's is
    // the 1-row×1-row stitch of the union estimate beside the exact
    // overall count (both sides aggregates — bounded by construction);
    // everything else — x11's cell assignment included, now a map-side
    // argmax over the literal centroid array — must be hash/sort-merge joins
    // x20's BNLJ is the broadcast of the EVAL SUITE against one train
    // scan — the q65 fixed-size-benchmark adjudication (|eval| is a
    // contract constant, so pairs are n·|eval|, linear in the corpus)
    val nlAllowed = Set("x01_vector_cosine", "q60_search_quantized",
      "q73_vocab_coverage", "q78_ks_test", "x18_sketch_columns",
      "x20_embed_decontaminate")
    allPlans.keys.filterNot(nlAllowed).foreach { n =>
      assert(!allPlans(n).contains("BroadcastNestedLoopJoin"),
        s"$n uses a nested-loop join")
    }
    assert(allPlans("x01_vector_cosine").contains("BroadcastNestedLoopJoin"))
    // x20b is the BUCKETED declared alternative to x20's whitelisted BNLJ
    // (VERDICT r11 #3): same oracle, but the pair source must be a hash
    // equi-join on the IVF cell — the scalable shape — not a nested loop
    val p20b = allPlans("x20b_embed_decontaminate_bucketed")
    assert(p20b.contains("BroadcastHashJoin"),
      s"x20b must equi-join on the cell key:\n$p20b")
  }

  test("q59/q60: quantization math runs in the native kernels, not the HOF chain") {
    // the interpreted transform/round chain is CodegenFallback and gets
    // inlined once per USE by projection collapse — per probe pair in q60;
    // a regression back to it re-opens a full-corpus interpreted pass
    val enc = plan("q59_quantize")
    assert(enc.contains("quant8_sym"), "q59 must encode via quant8_sym")
    assert(!enc.contains("transform("), "no interpreted lambda in the encode path")
    val dec = plan("q60_search_quantized")
    assert(dec.contains("dequant_sym"), "q60 must reconstruct via dequant_sym")
    assert(dec.contains("vec_dot_d"), "q60's dot must be the double kernel")
    assert(!dec.contains("transform("), "no interpreted lambda in the search path")
  }

  test("q90: corpus windows are bucket-partitioned; carry stitches broadcast") {
    val p = plan("q90_skyline")
    // the two suffix-max RANGE windows must be partitioned on the range
    // bucket — an unpartitioned RANGE window over the corpus is the
    // single-reducer global sort the decomposition exists to avoid; the
    // only unpartitioned window allowed is the ≤64-row carry prefix scan
    // (a ROWS frame over the bucket-stats aggregate)
    val rangeWindows = p.linesIterator
      .filter(_.contains("specifiedwindowframe(RangeFrame")).toSeq
    assert(rangeWindows.nonEmpty, "expected the suffix-max RANGE windows")
    rangeWindows.foreach { l =>
      assert(l.contains("windowspecdefinition(__sb#"),
        s"corpus RANGE window not bucket-partitioned: $l")
    }
    // both carry joins attach as broadcasts of the tiny bucket-stats side
    val stitches = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(stitches >= 2, s"expected 2 broadcast carry stitches, saw $stitches")
  }
}
