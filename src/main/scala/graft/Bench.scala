package graft

/** Benchmark main (driver-run → BENCH_r{N}.json).
  *
  * Each declared query executes its FULL plan into the `noop` sink — unlike
  * `.count()`, which lets Catalyst eliminate sorts and prune every projection
  * (VERDICT r1 #1), noop forces the sort, projection arithmetic and exchange
  * work to run while writing nothing. Failures are recorded per-query with a
  * sentinel time of -1 and a nonzero exit so a regression can't hide in a
  * green-looking number.
  *
  * Each query is timed as the MEDIAN of 3 back-to-back runs (VERDICT r2 #7):
  * the documented ±15% run-to-run variance plus one-off codegen/encoder
  * compilation (the r2 q24 outlier) made single-shot per-query numbers too
  * noisy to gate on. The median drops the first-use compile run; `"runs":3`
  * is recorded in the JSON line.
  *
  * Observability (VERDICT r3 #1 + ADVICE r3): the JSON also carries the raw
  * per-run `"times"` arrays — so an environment-noise outlier (all three
  * runs landing in a bad window, like q08-r3) is self-diagnosing — and a
  * `"flaky"` map of queries that failed SOME runs (a deterministic
  * first-run-only failure is otherwise invisible when the median is green).
  * The headline `"queries"` medians keep the original flat shape the driver
  * parses.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session(cpus)
    // Untimed warmup: absorb one-off session cost (first parquet read,
    // codegen compiler, shuffle service spin-up) so per-query numbers
    // measure the plan, not JVM warmup, and stay comparable across rounds.
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    // Clear any previous bench_out.json up front: the file is (re)written
    // only at successful end-of-run, so a crashed bench must leave NO file
    // rather than last run's numbers masquerading as this run's result.
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get("bench_out.json"))
    // default 3 (median-of-3, see header); SPARK_GRAFT_RUNS=1 for long
    // large-SF pins where per-run durations dwarf the run-to-run noise
    // the median exists to absorb. The driver never sets it.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    var failed = List.empty[String]
    // JSON numbers must be locale-independent: the f-interpolator uses the
    // default locale, and a comma-decimal locale would corrupt the
    // driver-parsed headline line.
    def fmt(d: Double, places: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(d))
    // Local-iteration filter (comma-separated query names); the driver never
    // sets it, so driver runs always bench the full declared surface. A
    // typo'd or empty filter fails fast — a zero-query run would otherwise
    // print a green headline having measured nothing.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_QUERIES names no declared query: ${unknown.mkString(",")}")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = selected.map { case (name, fn) =>
      val times = (1 to runs).flatMap { _ =>
        // every run starts cache-cold AND heap-quiet: CacheManager dedups
        // by logical plan, so a query that persist()s internally (x10)
        // would otherwise serve runs 2-3 from run 1's cache while every
        // other query recomputes — and without the forced GC, collection
        // debt from the PREVIOUS run/query lands inside this run's timed
        // window (measured: x10 read 6.5/3.9/2.8 s across runs after heavy
        // neighbors vs 2.1-2.3 s steady-state standalone)
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            None
        }
      }
      // failed only when EVERY run fails: a single transient error must
      // not discard two valid timings and fail the round
      if (times.isEmpty) { failed ::= name; (name, -1.0, times) }
      else (name, times.sorted.apply(times.size / 2), times)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v, 3) }
      .mkString("{", ",", "}")
    val rawTimes = results.map { case (k, _, ts) =>
      "\"" + k + "\":" + ts.map(t => fmt(t, 4)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // queries where 1-2 of the 3 runs failed: green median, but the partial
    // failure must be machine-visible (ADVICE r3) — name -> successful runs
    val flaky = results.collect { case (k, _, ts) if ts.nonEmpty && ts.size < runs =>
      "\"" + k + "\":" + ts.size
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Trivial-query floor (VERDICT r9 #9): the sum of the three cheapest
    // fixed-cost queries (scan+project, top-k, decimal round) is the
    // host-speed normalizer every round's judge re-derived by hand to
    // separate "this box is slower today" from "this plan regressed".
    // Emitting it in the artifact makes cross-round ratios one division:
    //   normalized(q) = t_r{N}(q) / floor_r{N} vs t_r{M}(q) / floor_r{M}.
    val floorQs = Seq("q01_scan_project", "q13_topk", "q17_decimal_round")
    val floorSec = results.collect {
      case (k, v, _) if floorQs.contains(k) && v >= 0 => v
    }.sum
    // Subtotal-group names must exist in the results (ADVICE r11): a
    // renamed/removed member would otherwise silently shrink the subtotal
    // toward 0 and inflate the derived engine number without any error.
    // Only enforced on full runs — SPARK_GRAFT_QUERIES subsets legitimately
    // exclude group members.
    def assertGroup(label: String, qs: Seq[String]): Unit = if (only.isEmpty) {
      val missing = qs.toSet -- results.map(_._1).toSet
      require(missing.isEmpty,
        s"$label subtotal names absent queries: ${missing.toSeq.sorted.mkString(",")}")
    }
    assertGroup("floor", floorQs)
    val floorJson =
      s""""floor":{"queries":${floorQs.map("\"" + _ + "\"").mkString("[", ",", "]")},"sec":${fmt(floorSec, 3)}}"""
    // Harness group (VERDICT r10 #3): the five MemoryStream batch-twin
    // parity gates time driver-fed micro-batch scheduling + fixture
    // collection, not engine dataflow — ~38% of the r10 total, and growing
    // suites would let them swamp round-over-round comparison. Splitting
    // their subtotal out makes the engine number (total - harness.sec)
    // machine-readable instead of re-derived in SCALE.md prose each round.
    val harnessQs = Seq("x03b_stream_tumbling_gate", "x13b_stream_join_gate",
      "x15b_stream_transitions_gate", "x16b_stream_dedup_gate",
      "x17b_stream_hopping_gate", "x23b_stream_scd2_gate")
    val harnessSec = results.collect {
      case (k, v, _) if harnessQs.contains(k) && v >= 0 => v
    }.sum
    assertGroup("harness", harnessQs)
    val harnessJson =
      s""""harness":{"queries":${harnessQs.map("\"" + _ + "\"").mkString("[", ",", "]")},"sec":${fmt(harnessSec, 3)}}"""
    // Steady-state metric beside the protocol median (VERDICT r11 #7):
    // the r10/r11 x10/x11/q83 analysis showed median-of-3 can land on the
    // deterministic first-run codegen-compile + JIT tier-up slope for the
    // largest generated plans. min(runs) is the compile-free floor — the
    // number to compare round-over-round; the median stays the headline
    // for protocol continuity.
    val steadyTotal = results.collect {
      case (_, v, ts) if v >= 0 && ts.nonEmpty => ts.min
    }.sum
    val steadyJson = s""""steady_sec":${fmt(steadyTotal, 3)}"""
    // The harness keeps only the LAST ~2000 chars of output. The raw-times
    // diagnostics line grew past that in round 4 and clipped the headline
    // line out of the capture window — so diagnostics print FIRST and the
    // compact headline (what the driver parses) prints LAST, with medians at
    // millisecond precision to keep the line well inside the window. The
    // flaky map (name -> successful-run count; {} normally) rides on the
    // HEADLINE line too, so partial-failure evidence survives even when the
    // diag line is clipped (ADVICE r5).
    val steadyMap = results.collect { case (k, v, ts) if v >= 0 && ts.nonEmpty =>
      "\"" + k + "\":" + fmt(ts.min, 3)
    }.mkString("{", ",", "}")
    val headline =
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries":$qs,"steady":$steadyMap,$steadyJson,"failed":$failedJson,"flaky":$flaky,"runs":$runs,$floorJson,$harnessJson,"sf":"$sfDir"}"""
    println(s"""{"diag":"raw_times","runs":$runs,"times":$rawTimes,"flaky":$flaky}""")
    println(headline)
    // Bare machine-readable copy: sbt wraps stdout in [info]/[success]
    // noise that defeats the driver's parser every round (VERDICT r5 #4) —
    // a plain file needs no scraping. Written to the working directory
    // (the repo root under both sbt and the driver).
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (headline + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // COMPACT summary as the FINAL program line (VERDICT r6 #5): with 84+
    // queries the full headline is ~2.6k chars — wider than the ~2k-char
    // tail window the driver captures, so the headline's opening brace
    // falls outside the window and every round's "parsed" field came back
    // null. This line carries the totals (the per-query map lives in the
    // headline above and in bench_out.json) and is ~200 chars, so it
    // survives the window whole and parses no matter how the driver scans.
    println(s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","n_queries":${results.size},"failed":$failedJson,"flaky":$flaky,"runs":$runs,$floorJson,$harnessJson,$steadyJson,"sf":"$sfDir","detail":"bench_out.json"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
