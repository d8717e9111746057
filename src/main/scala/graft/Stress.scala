package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe: the flagship kernels over a generated order volume far
  * beyond the fixtures (default 10M rows ≈ 300× the reference's hourly
  * cap), all in one JVM. Generation is distributed and fused into each
  * measured plan, so figures are end-to-end including the synthetic scan.
  *
  *   SPARK_GRAFT_STRESS_ROWS=10000000 sbt "runMain graft.Stress"
  */
object Stress {
  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  private def time(name: String)(f: => Unit): (String, Double) = {
    val t0 = System.nanoTime(); f
    name -> (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STRESS_ROWS", "10000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus)
    import spark.implicits._

    val rates = Seq(("EUR", 1.0), ("USD", 1.1), ("GBP", 0.85),
      ("JPY", 163.0), ("CNY", 7.85), ("INR", 91.2), ("BRL", 5.47),
      ("CAD", 1.48), ("CHF", 0.95), ("SEK", 11.4)).toDF("currency", "rate")
    val ts = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    def orders = gen.OrderGen.orders(spark, n, seed = 1)


    noop(spark.range(1000).toDF()) // session warmup
    // comma-separated stage filter for single-probe runs (e.g.
    // SPARK_GRAFT_STRESS_STAGES=ledger); unset = every stage, the
    // full-probe default used for SCALE.md round entries
    val stages = sys.env.get("SPARK_GRAFT_STRESS_STAGES")
      .map(_.split(",").map(_.trim).toSet)
    def want(stage: String)(thunk: => Seq[(String, Double)]) =
      if (stages.forall(_.contains(stage))) thunk else Seq.empty
    val results = want("flagship") { Seq(
      time("generate_only") { noop(orders) },
      time("convert") {
        noop(streaming.IncrementalPipeline.convertBatch(orders, rates, ts))
      },
      time("agg_by_currency") {
        noop(orders.groupBy("currency")
          .agg(sum(col("amount")).as("total"), count(lit(1)).as("n")))
      },
      time("dedup_latest_per_email") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("customer_email")
          .orderBy(desc("order_date"), desc("order_id"))
        noop(orders.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn"))
      }) } ++
      want("vector") { vectorAssignment(spark, n / 10) } ++
      want("salted") { saltedJoinStage(spark, n) } ++
      want("prefix") { prefixScanStage(spark, n) } ++
      want("cc") { ccStarStage(spark, n / 10) } ++
      want("ccmerge") { ccMergeStage(spark, n / 10) } ++
      want("rank") { groupRankStage(spark, n) } ++
      want("gram") { gramCensusStage(spark, n / 10) } ++
      want("hopping") { hoppingStage(spark, n) } ++
      want("ledger") { ledgerCompactionStage(spark, n) } ++
      want("skyline") { skylineStage(spark, n) } ++
      want("ivfappend") { ivfAppendStage(spark, n / 10) } ++
      want("lsh") { lshStage(spark, n / 10) } ++
      want("decon") { deconStage(spark, n / 10) } ++
      want("compactpolicy") { compactPolicyStage(spark, n / 10) } ++
      want("gentable") { genTableStage(spark, n / 10) } ++
      want("gentableconc") { genTableConcStage(spark, n / 100) }

    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"stress","rows":$n,"timings":$qs}""")
    spark.stop()
  }

  /** IVF assignment at corpus scale (default 1M 64-dim vectors ≈ 500× the
    * sf0.1 embeddings table): the round-6 map-side argmax vs the round-5
    * crossJoin+window shuffle form, same deterministic synthetic corpus —
    * the measured gap IS the ~nlist× vector shuffle the rewrite removed.
    */
  private def vectorAssignment(
      spark: SparkSession, vn: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    // deterministic synthetic embeddings, generation fused into each plan
    def vecs = spark.range(vn).select(col("id"),
      transform(sequence(lit(0), lit(63)),
        d => sin(col("id") * 64 + d).cast("float")).as("vec"))
    val centsDf = vecs.orderBy("id").limit(16)
      .select(col("id").as("cell"), col("vec").as("cvec"))
    val cents = centsDf.collect().toSeq
      .map(r => (r.get(0): Any, r.getSeq[Float](1)))
    Seq(
      time(s"ivf_assign_mapside_${vn}") {
        noop(ops.Vector.nearestCells(vecs, cents, 1))
      },
      time(s"ivf_assign_shuffle_${vn}") {
        noop(ops.Vector.nearestCellShuffle(vecs, centsDf, 1))
      })
  }

  /** Semantic decontamination at corpus scale (default 1M 64-dim train
    * vectors, 1%-of-train eval slice): the BNLJ broadcast form (x20's
    * declared plan) vs the bucketed equi-join ([[ops.Vector
    * .decontaminateBucketed]]) exact (nprobe = nlist — same pair count,
    * hash-join generation) and approximate (nprobe = nlist/4 — the
    * recall-traded knob whose candidate volume is nprobe/nlist of the
    * exact form's). The measured gaps price the x20b contract: what the
    * hash join saves at equal pair count, and what the knob buys when
    * approximate is acceptable (VERDICT r11 #3's scale argument, as a
    * number instead of prose).
    */
  private def deconStage(
      spark: SparkSession, vn: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    def vecs = spark.range(vn).select(col("id"),
      transform(sequence(lit(0), lit(63)),
        d => sin(col("id") * 64 + d).cast("float")).as("vec"))
    def trainSide = vecs.filter(pmod(col("id"), lit(100L)) =!= 0)
    def evalSide = vecs.filter(pmod(col("id"), lit(100L)) === 0)
      .select(col("id").as("eval_id"), col("vec").as("e_vec"))
    graft.ext.GraftFunctions.ensureVecDot(spark)
    Seq(
      time(s"decon_bnlj_${vn}") {
        val t = trainSide.withColumn("nrm", ops.Vector.nNorm(col("vec")))
        val e = evalSide.withColumn("e_nrm", ops.Vector.nNorm(col("e_vec")))
        noop(t.crossJoin(broadcast(e))
          .withColumn("cosine", ops.Vector.nCos(col("vec"), col("e_vec"),
            col("nrm"), col("e_nrm")))
          .filter(col("cosine") >= 0.35)
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_eval_hits"), max(col("cosine")).as("max_cosine")))
      },
      time(s"decon_bucketed_exact_${vn}") {
        noop(ops.Vector.decontaminateBucketed(trainSide,
          evalSide.select(col("eval_id").as("id"), col("e_vec").as("vec")),
          minCosine = 0.35, nlist = 16, nprobe = 16))
      },
      time(s"decon_bucketed_nprobe4_${vn}") {
        noop(ops.Vector.decontaminateBucketed(trainSide,
          evalSide.select(col("eval_id").as("id"), col("e_vec").as("vec")),
          minCosine = 0.35, nlist = 16, nprobe = 4))
      })
  }

  /** Star-CC convergence at volume (default 1M edges ≈ 40 000× the sf0.1
    * pair list): a planted mix of one `m/2`-node PATH — the diameter
    * monster where plain min-propagation needs m/2 rounds — and an
    * Erdős–Rényi-ish blob (m/2 random edges over an m/2-node id space,
    * giant component + fragments). Emits per-round wall seconds plus the
    * round count; the count staying ≤ ~log₂(n)+2 at this scale is the
    * measured form of the O(log n) claim q41b/q47 rest on (ScaleSpec pins
    * the same bound functionally on a smaller mix).
    */
  private def ccStarStage(
      spark: SparkSession, m: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val half = m / 2
    val blobBase = half + 10L
    def edges = spark.range(half)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
      .union(spark.range(half).select(
        (pmod(col("id") * 2654435761L, lit(half)) + blobBase).as("doc_a"),
        (pmod(col("id") * 48271L, lit(half)) + blobBase).as("doc_b")))
    val t0 = System.nanoTime()
    val (labels, rounds) =
      ops.Text.dupComponentsStarTimed(edges, "doc_a", "doc_b", maxIters = 40)
    noop(labels)
    val total = (System.nanoTime() - t0) / 1e9
    Seq(s"cc_star_total_${m}" -> total,
        s"cc_star_rounds_${m}" -> rounds.length.toDouble) ++
      rounds.zipWithIndex.map { case (s, i) => s"cc_star_round_$i" -> s }
  }

  /** The nightly cluster-resolution choice at volume: FULL rebuild
    * (dupComponentsStar over standing ∪ delta edges — what q41 pays
    * every night without ccMerge) vs [[graft.ops.Text.ccMerge]] given
    * yesterday's labels (what the standing-index pipeline pays). The
    * standing graph is m/4 near-clique components of 4 (the near-dup
    * shape); the delta is 1% of m new docs each pairing with one
    * existing doc — so the merge's touched edge set is ~1% of the
    * rebuild's. The measured gap is the corpus-sized CC the merge never
    * runs; yesterday's label computation is NOT timed (it is last
    * night's output, read from the lake in production).
    */
  private def ccMergeStage(
      spark: SparkSession, m: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val dn = m / 100
    // blobs of 4 consecutive ids: star edges to each blob's minimum
    def standingEdges = spark.range(m)
      .filter(pmod(col("id"), lit(4L)) =!= 0)
      .select(col("id").as("doc_a"),
        (col("id") - pmod(col("id"), lit(4L))).as("doc_b"))
    // each new doc m+i attaches to one scattered existing doc
    def deltaEdges = spark.range(dn)
      .select((col("id") + m).as("doc_a"),
        pmod(col("id") * 2654435761L, lit(m)).as("doc_b"))
    val labels = ops.Text.dupComponentsStar(standingEdges)
    noop(labels) // materialized: yesterday's output, outside the timings
    Seq(
      time(s"cc_rebuild_${m}") {
        noop(ops.Text.dupComponentsStar(
          standingEdges.unionByName(deltaEdges)))
      },
      time(s"cc_merge_${dn}") {
        noop(ops.Text.ccMerge(labels, deltaEdges))
      })
  }

  /** Per-group FULL ranking at volume over a 4-value group key: the naive
    * window funnels all `n` rows through 4 reducers (each sorting n/4);
    * the q67 bucketed form ranks inside 4×1024 (group, score-bucket)
    * partitions and re-bases by census offsets. The measured gap is the
    * low-cardinality sort serialization the bucketed plan removes.
    */
  private def groupRankStage(
      spark: SparkSession, n: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def base = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("g"), pmod(col("id"), lit(4L))).as("lang"),
      (pmod(col("id") * 2654435761L, lit(1000000L)).cast("double")
        / lit(1000000.0)).as("ttr"))
    Seq(
      time(s"group_rank_naive_${n}") {
        noop(base.withColumn("rk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(asc("ttr"), asc("doc_id")))))
      },
      time(s"group_rank_bucketed_${n}") {
        noop(ops.TextAnalysis.bucketedGroupRank(base, "lang", "ttr", "doc_id"))
      })
  }

  /** q80's gram census at corpus volume, with a PLANTED boilerplate gram
    * (an 8-word constant prefix on 30% of docs — one gram whose document
    * frequency is 0.3·n). The join-free form computes shared counts from
    * the map-side-combinable census (count, min owner); the naive
    * join-back form re-attaches per-gram document frequencies to every
    * (doc, gram) row, so the planted gram's df rows all meet one reducer.
    * The measured gap IS the hot-key funnel q80's Scaladoc claims to
    * avoid.
    */
  private def gramCensusStage(
      spark: SparkSession, nDocs: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    graft.ext.GraftFunctions.ensureWordNgrams(spark)
    // ~16 words/doc from a 50k-type vocab; deterministic, generation fused
    def docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat(
        when(pmod(col("id"), lit(10)) < 3,
          lit("b0 b1 b2 b3 b4 b5 b6 b7 ")).otherwise(lit("")),
        concat_ws(" ", (0 until 16).map(k =>
          conv(pmod(hash(col("id") * 31 + lit(k)), lit(50000)).cast("string"),
            10, 36)): _*)).as("text"))
    def grams = docs.select(col("doc_id"),
      explode(ops.Text.nativeShingles(col("text"), 8)).as("gram"))
    Seq(
      time(s"gram_census_joinfree_${nDocs}") {
        val census = grams.groupBy(col("gram"))
          .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
        val uniq = census.filter(col("df") === 1)
          .groupBy(col("owner").as("doc_id"))
          .agg(count(lit(1)).as("n_unique"))
        noop(grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
          .join(uniq, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            (col("n_grams") - coalesce(col("n_unique"), lit(0L))).as("n_shared")))
      },
      time(s"gram_census_joinback_${nDocs}") {
        val dfreq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
        noop(grams.join(dfreq, Seq("gram"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared")))
      })
  }

  /** q81's hop fan-out at volume: hopping (1 h / 15 min — 4 windows per
    * event) vs plain tumbling on the same synthetic stream. Because the
    * Expand collapses into the partial aggregate BEFORE the exchange
    * (ScaleSpec-pinned), the hopping form should cost far less than 4×
    * the tumbling form — the measured ratio is the map-side collapse.
    */
  /** q90's bucket decomposition vs the global-window skyline at 10M rows:
    * both are the same exact two-suffix-max reduction; the difference is
    * that the naive form runs each RANGE window unpartitioned — every row
    * through ONE reducer's sort, twice — while the bucketed form sorts 64
    * range-balanced buckets in parallel and stitches a ≤64-row carry. The
    * measured gap is the single-reducer serialization, the term that grows
    * without bound at cluster scale.
    */
  private def skylineStage(
      spark: SparkSession, n: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // deterministic continuous axes; generation fused into each plan
    def pts = spark.range(n).select(col("id"),
      sin(col("id") * lit(2.1)).as("x"), sin(col("id") * lit(3.7)).as("y"))
    def globalForm = {
      val w1 = Window.orderBy(col("x").desc)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val w2 = Window.orderBy(col("y").desc)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("__my", max(col("y")).over(w1))
        .withColumn("__mx", max(col("x")).over(w2))
        .where(col("__my") <= col("y") && col("__mx") <= col("x"))
        .drop("__my", "__mx")
    }
    // SKEWED axes: 99% of the mass in a [0, 0.01] sliver, a 1% tail to
    // 1e6 — the distribution where equi-width collapses ~99% of rows into
    // ONE bucket (its local sort re-becoming the global sort the
    // decomposition exists to remove) while equi-depth's quantile cuts
    // keep all 64 buckets ~balanced
    def skewed = spark.range(n).select(col("id"),
      when(pmod(col("id"), lit(100L)) === 99L,
          abs(sin(col("id") * lit(2.1))) * lit(1e6))
        .otherwise(abs(sin(col("id") * lit(2.1))) * lit(0.01)).as("x"),
      when(pmod(col("id"), lit(100L)) === 42L,
          abs(sin(col("id") * lit(3.7))) * lit(1e6))
        .otherwise(abs(sin(col("id") * lit(3.7))) * lit(0.01)).as("y"))
    Seq(
      time(s"skyline_bucketed_${n}") {
        noop(ops.Analytics.skylineOf(pts, "x", "y"))
      },
      time(s"skyline_global_window_${n}") { noop(globalForm) },
      time(s"skyline_skew_equiwidth_${n}") {
        noop(ops.Analytics.skylineOf(skewed, "x", "y"))
      },
      time(s"skyline_skew_equidepth_${n}") {
        noop(ops.Analytics.skylineOf(skewed, "x", "y", equiDepth = true))
      })
  }

  private def hoppingStage(
      spark: SparkSession, n: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    def events = spark.range(n).select(
      timestamp_micros(lit(1704067200000000L) +
        pmod(col("id") * 48271L, lit(2592000L)) * 1000000L).as("ts"),
      concat(lit("t"), pmod(col("id"), lit(5L))).as("event_type"),
      (pmod(col("id") * 2654435761L, lit(1000L)).cast("double") / 10.0).as("value"))
    def agg(win: org.apache.spark.sql.Column) = events
      .groupBy(win.getField("start").as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total"))
    Seq(
      time(s"window_tumbling_${n}") {
        noop(agg(window(col("ts"), "1 hour")))
      },
      time(s"window_hopping4x_${n}") {
        noop(agg(window(col("ts"), "1 hour", "15 minutes")))
      })
  }

  /** The compaction-policy constants, measured (VERDICT r14 #5): a
    * ClusterStore label pile at the 1M-label scale, 30 tiny nightly
    * merge generations on top — the shape a month of nightlies leaves.
    * Emits the read time at 31 generations vs compacted, the compact
    * cost itself, and `shouldCompact`'s verdict before/after, which is
    * how GenCommit's PerGenReadSec / CompactFixedSec constants were
    * fitted (SCALE.md r15).
    */
  private def compactPolicyStage(
      spark: SparkSession, m: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val root = graft.TempRoots.create("graft_cpolicy_")
    val store = s"$root/store"
    // m labels: pair clusters (2k ↔ 2k+1), comp = the even member
    val labels = spark.range(m)
      .select(col("id"), (col("id") - pmod(col("id"), lit(2L))).as("comp"))
    val nights = 30
    val perNight = math.max(1L, m / 1000)
    val t0 = System.nanoTime()
    ops.ClusterStore.init(labels, store)
    val initSec = (System.nanoTime() - t0) / 1e9
    // 30 nightly merges, each a tiny batch of NEW pair clusters — the
    // delta-proportional write path, leaving 31 generations on disk
    val tm = System.nanoTime()
    (0 until nights).foreach { k =>
      val lo = m + k * 2 * perNight
      val pairs = spark.range(lo, lo + perNight)
        .select((col("id") * 2).as("doc_a"), (col("id") * 2 + 1).as("doc_b"))
      ops.ClusterStore.merge(spark, store, pairs)
    }
    val mergeSec = (System.nanoTime() - tm) / 1e9
    val should31 =
      if (ops.ClusterStore.shouldCompact(spark, store)) 1.0 else 0.0
    val readPiled = time(s"cpolicy_read_${nights + 1}gens") {
      noop(ops.ClusterStore.read(spark, store))
    }
    val compactT = time("cpolicy_compact") {
      ops.ClusterStore.compact(spark, store)
    }
    val readFlat = time("cpolicy_read_1gen") {
      noop(ops.ClusterStore.read(spark, store))
    }
    val should1 =
      if (ops.ClusterStore.shouldCompact(spark, store)) 1.0 else 0.0
    Seq(
      (s"cpolicy_init_${m}", initSec),
      (s"cpolicy_merge_${nights}x${perNight}", mergeSec),
      readPiled, compactT, readFlat,
      ("cpolicy_should_at_31gens", should31),
      ("cpolicy_should_at_1gen", should1))
  }

  /** The incremental pipeline's ledger after sustained operation
    * (VERDICT r9 #8): every [[graft.streaming.IncrementalPipeline.runBatch]]
    * appends one small file per batch, so a pipeline that has run 1000
    * micro-batches anti-joins its source against a 1000-file ledger —
    * footer reads and task scheduling scale with the COMMIT COUNT, not the
    * id count. The probe replays that commit history literally (default
    * 1000 single-file appends, `SPARK_GRAFT_STRESS_BATCHES` to vary),
    * measures the pickup anti-join against the fragmented ledger, runs
    * [[graft.streaming.IncrementalPipeline.compactLedger]], and re-measures.
    * "Flat after compaction" is pinned by the third timing: the same
    * pickup against a BORN-COMPACT ledger (identical ids written in one
    * commit) — post-compaction latency should sit at that anchor, i.e. the
    * accumulated commit history costs nothing after maintenance.
    */
  private def ledgerCompactionStage(
      spark: SparkSession, n: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import graft.streaming.{IncrementalPipeline => IP}
    val batches = sys.env.getOrElse("SPARK_GRAFT_STRESS_BATCHES", "1000").toInt
    val perBatch = 1000L
    val ledgerIdSpace = batches * perBatch
    val root = graft.TempRoots.create("graft_ledger_stress_")
    val fragDir = s"$root/ledger_frag"
    val flatDir = s"$root/ledger_flat"
    val ts = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    def ledgerChunk(lo: Long, hi: Long) =
      spark.range(lo, hi).select(
        format_string("o%012d", col("id")).as("order_id"),
        lit(ts).as("processed_at"))
    // source: half already-ledgered ids, half fresh — the steady-state mix
    def source = spark.range(n).select(
      format_string("o%012d", pmod(col("id") * 2654435761L,
        lit(ledgerIdSpace * 2))).as("order_id"))
    def pickupTime(name: String, dir: String) = time(name) {
      noop(IP.pickup(source, spark.read.parquet(dir), "order_id", 30000))
    }
    def fileCount(dir: String): Double =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
        .toDouble
    // replay the commit history: one real append per micro-batch
    val buildFrag = time(s"ledger_append_${batches}x") {
      (0 until batches).foreach { i =>
        ledgerChunk(i * perBatch, (i + 1) * perBatch)
          .coalesce(1).write.mode("append").parquet(fragDir)
      }
    }
    ledgerChunk(0L, ledgerIdSpace).write.mode("overwrite").parquet(flatDir)
    val filesBefore = s"ledger_files_fragmented" -> fileCount(fragDir)
    val pickFrag = pickupTime(s"pickup_fragmented_${batches}f", fragDir)
    val compact = time("ledger_compact") { IP.compactLedger(spark, fragDir) }
    val filesAfter = s"ledger_files_compacted" -> fileCount(fragDir)
    val pickCompacted = pickupTime("pickup_compacted", fragDir)
    val pickAnchor = pickupTime("pickup_born_compact_anchor", flatDir)
    Seq(buildFrag, filesBefore, pickFrag, compact, filesAfter,
      pickCompacted, pickAnchor)
  }

  /** Hot-key join at volume: one key owns 90% of `n` fact rows against a
    * 100k-row dim too big to broadcast (broadcast disabled to model it).
    * The measured gap between the plain shuffle join — whose hot key
    * funnels through ONE reducer — and the salted (key, salt) join is the
    * skew mitigation q04b declares.
    */
  private def saltedJoinStage(
      spark: SparkSession, n: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    def fact = spark.range(n).select(
      when(pmod(col("id"), lit(10)) < 9, lit(7L))
        .otherwise(pmod(col("id") * 2654435761L, lit(100000L))).as("fk"),
      col("id").as("payload"))
    def dim = spark.range(100000L).select(
      col("id").as("dk"), (col("id") * 3L).as("dval"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE arm: Spark 4 ships AQE on by default, but its skew splitter
    // only fires past skewedPartitionThresholdInBytes (256 MB) — at this
    // probe's scale the hot partition is ~140 MB, so the "plain" arm is
    // genuinely unmitigated. This arm lowers the thresholds so the
    // runtime splitter actually engages, giving the salting-vs-AQE
    // adjudication a measured basis instead of a doc claim.
    def withConfs[A](kvs: (String, String)*)(f: => A): A = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    try Seq(
      time(s"join_hotkey_plain_${n}") {
        noop(fact.join(dim, col("fk") === col("dk")))
      },
      time(s"join_hotkey_salted_${n}") {
        noop(ops.Skew.saltedJoin(fact, dim, "fk", "dk"))
      },
      time(s"join_hotkey_aqe_skew_${n}") {
        withConfs(
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m") {
          noop(fact.join(dim, col("fk") === col("dk")))
        }
      })
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  /** Global running sum at volume: q52's two-phase distributed prefix
    * scan vs the naive corpus-wide window (every row through one
    * reducer). The gap grows with core count — the naive form cannot use
    * more than one.
    */
  private def prefixScanStage(
      spark: SparkSession, n: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def base = spark.range(n).select(
      col("id").as("doc_id"),
      (pmod(col("id") * 48271L, lit(97L)) + 3L).as("n_tokens"),
      pmod(col("id") * 2654435761L, lit(1000000007L)).as("h"))
    Seq(
      time(s"prefix_scan_twophase_${n}") {
        noop(ops.TextAnalysis.hashOrderRunningSum(base))
      },
      time(s"prefix_scan_global_${n}") {
        noop(base.withColumn("cum", sum(col("n_tokens")).over(
          Window.orderBy(asc("h"), asc("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      })
  }

  /** Incremental IVF maintenance cost (VERDICT r10 #5, x21's precedent on
    * the dedup side): build an index over `vn` synthetic vectors once,
    * then compare appending a `vn/10` delta ([[ops.Vector.ivfAppend]] —
    * one map-side argmax + one partitioned write over the DELTA, frozen
    * quantizer) against the full rebuild a naive nightly pays
    * ([[ops.Vector.ivfBuild]] over `vn + vn/10` — re-seeding, re-Lloyd,
    * re-assigning the whole corpus). The append should price like the
    * delta, the rebuild like the corpus; SCALE.md records the ratio.
    */
  private def ivfAppendStage(  // temp dirs via TempRoots (review r14)
      spark: SparkSession, vn: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    def vecs(from: Long, until: Long) = spark.range(from, until)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => sin(col("id") * 64 + d).cast("float")).as("embedding"))
    val delta = vn / 10
    val dir = graft.TempRoots.create("graft_stress_ivf_")
    val dirFull = graft.TempRoots.create("graft_stress_ivf_full_")
    Seq(
      time(s"ivf_build_${vn}") {
        ops.Vector.ivfBuild(vecs(0, vn), dir, nlist = 64)
      },
      time(s"ivf_append_delta_${delta}") {
        ops.Vector.ivfAppend(spark, dir, vecs(vn, vn + delta))
      },
      // a 10×-smaller second delta: append cost should track the DELTA
      // (≈ linearly), proving delta-proportionality rather than a fixed
      // floor — ids disjoint from both the corpus and the first delta
      time(s"ivf_append_delta_${delta / 10}") {
        ops.Vector.ivfAppend(spark, dir,
          vecs(vn + delta, vn + delta + delta / 10))
      },
      // compaction after the two appends: the periodic maintenance job —
      // should price like ONE read+write of the postings, far under the
      // rebuild (which re-pays seeding + Lloyd + assignment)
      time(s"ivf_compact_${vn + delta + delta / 10}") {
        ops.Vector.ivfCompact(spark, dir)
      },
      time(s"ivf_rebuild_${vn + delta}") {
        ops.Vector.ivfBuild(vecs(0, vn + delta), dirFull, nlist = 64)
      })
  }

  /** The standing text-LSH index vs the no-index nightly (x21b's scale
    * claim, measured): corpus-scale synthetic documents (20 words each),
    * one-time build, then the nightly delta probe at two delta sizes
    * (delta-proportionality, the ivfAppend protocol), append + compact
    * maintenance, and finally the path [[graft.ops.Text
    * .minhashDeltaPairs]] pays without an index: re-shingling and
    * re-hashing the WHOLE corpus for a delta-sized question. The
    * probe/noindex ratio is SCALE.md's delta-vs-rebuild number.
    *
    * Doc generator: 5% of docs draw their text from 104729 shared
    * classes (the exact-duplicate population — a few copies per class at
    * these corpus sizes, a realistic dedup hit rate), the other 95% are
    * unique; word w is the QUADRATIC mix x(x+7) mod 999983 over a
    * per-class/per-doc base. The nonlinearity matters: a linear mix
    * (b·p + w·q) makes every doc share shifted shingle RUNS with ~39
    * other classes (the first cut of this stage measured 11.6M
    * candidates and 2.9M ≥0.9 pairs from that accident), and an
    * all-class population (the second cut, every text ~95× duplicated at
    * 10M docs) drowns both paths in pair-verification work that says
    * nothing about indexing. Candidates ≈ dup-rate × copies-per-class ×
    * delta is the shape the ratio should be read at.
    */
  private def lshStage(
      spark: SparkSession, dn: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    def docs(from: Long, until: Long) = spark.range(from, until)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(19)), { w =>
          val base = when(pmod(col("id"), lit(100L)) < 5,
              pmod(col("id"), lit(104729L)))      // duplicate classes
            .otherwise(lit(200000L) + col("id")) // unique (disjoint range)
          val x = base * lit(20L) + w
          concat(lit("w"), pmod(x * (x + lit(7L)), lit(999983L)))
        })).as("text"))
    val delta = dn / 10
    val dir = graft.TempRoots.create("graft_stress_lsh_")
    val dirFine = graft.TempRoots.create("graft_stress_lsh_fine_")
    // the corpus lives in the lake: BOTH nightlies start from parquet
    // text (generating it in-memory would hand the no-index path its
    // corpus scan for free and hide exactly the cost under test)
    val corpusDir = graft.TempRoots.create("graft_stress_lsh_corpus_")
    docs(0, dn).write.mode("overwrite").parquet(corpusDir)
    def corpus = spark.read.parquet(corpusDir)
    Seq(
      time(s"lsh_build_${dn}") { ops.Text.lshBuild(corpus, dir) },
      // nightly ingest through the STANDING index
      time(s"lsh_probe_delta_${delta}") {
        noop(ops.Text.lshProbe(spark, dir, docs(dn, dn + delta)))
      },
      // 10×-smaller delta: probe cost must track the delta, not the index
      time(s"lsh_probe_delta_${delta / 10}") {
        noop(ops.Text.lshProbe(spark, dir,
          docs(dn + delta, dn + delta + delta / 10)))
      },
      // POINT probe (10 docs): the r14 sub-bucket claim — (band, sb)
      // static pruning + db verify pruning make its READS
      // probe-proportional, so it must price like the question, not like
      // the corpus (lsh_noindex_point below pays the corpus regardless)
      time("lsh_probe_point_10") {
        noop(ops.Text.lshProbe(spark, dir,
          docs(3 * dn, 3 * dn + 10)))
      },
      time(s"lsh_append_delta_${delta}") {
        ops.Text.lshAppend(spark, dir, docs(dn, dn + delta))
      },
      time(s"lsh_compact_${dn + delta}") {
        ops.Text.lshCompact(spark, dir)
      },
      // the no-index nightly re-shingles and re-hashes the parquet corpus
      // per probe — at BOTH delta sizes, because its cost is
      // corpus-proportional no matter how small the question
      time(s"lsh_noindex_probe_${delta}") {
        noop(ops.Text.minhashDeltaPairs(corpus, docs(dn, dn + delta)))
      },
      time(s"lsh_noindex_probe_${delta / 10}") {
        noop(ops.Text.minhashDeltaPairs(corpus,
          docs(dn + delta, dn + delta + delta / 10)))
      },
      // the no-index POINT probe: corpus-proportional no matter how
      // small the question — the r14 pruning's direct comparator
      time("lsh_noindex_point_10") {
        noop(ops.Text.minhashDeltaPairs(corpus, docs(3 * dn, 3 * dn + 10)))
      },
      // PRODUCTION-sized sub-bucketing: at 16-way sb even 80 point-probe
      // sigs touch ~half the combinations (birthday bound), so the point
      // probe above still reads ~half the bucket table; 128-way cuts the
      // touched fraction to ~8% with identical build ROWS (just more
      // directories — the sizing a 10M+ corpus would pick)
      time("lsh_build_sb128") {
        ops.Text.lshBuild(corpus, dirFine, subBuckets = 128)
      },
      time("lsh_probe_point_10_sb128") {
        noop(ops.Text.lshProbe(spark, dirFine,
          docs(3 * dn, 3 * dn + 10)))
      })
  }

  /** Disjoint-writer CONTENTION cost (VERDICT r15 #3's datum): two
    * writers stream merges onto DISJOINT partition sets of one table,
    * first sequentially (the old serialized story), then genuinely
    * concurrently. Concurrency's win is bounded by the driver (one
    * Spark scheduler runs both writers' jobs), so the honest numbers
    * are wall-clock ratio and the retry bill: every claim race a loser
    * pays is a directory re-listing plus a ~50 ms declaration re-read —
    * never a re-staged write job (claim-first ordering). The stage also
    * certifies the end state: all merges committed, no compact, view
    * exact.
    */
  private def genTableConcStage(
      spark: SparkSession, m: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rounds = 8
    def fixture(dir: String): Unit =
      sources.GenTable.init(
        spark.range(m).select(col("id").as("k"),
          concat(lit("p"), pmod(col("id"), lit(8L))).as("p"),
          (col("id") * lit(1.0)).as("v")),
        dir, "p")
    def mergesFor(dir: String, parts: Seq[Long]): Unit =
      (0 until rounds).foreach { r =>
        val part = parts(r % parts.size)
        sources.GenTable.merge(spark, dir, "p",
          Seq((part, s"p$part", -r.toDouble, "upsert"))
            .toDF("k", "p", "v", "_op"),
          Seq("k"))
      }
    val seqDir = s"${graft.TempRoots.create("graft_gtc_seq_")}/t"
    fixture(seqDir)
    val seqT = time(s"gtconc_sequential_${2 * rounds}merges") {
      mergesFor(seqDir, Seq(0L, 1L, 2L, 3L))
      mergesFor(seqDir, Seq(4L, 5L, 6L, 7L))
    }
    val concDir = s"${graft.TempRoots.create("graft_gtc_conc_")}/t"
    fixture(concDir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val concT = time(s"gtconc_concurrent_${2 * rounds}merges") {
      val t1 = new Thread(() =>
        try mergesFor(concDir, Seq(0L, 1L, 2L, 3L))
        catch { case t: Throwable => errs.add(t) })
      val t2 = new Thread(() =>
        try mergesFor(concDir, Seq(4L, 5L, 6L, 7L))
        catch { case t: Throwable => errs.add(t) })
      t1.start(); t2.start(); t1.join(); t2.join()
    }
    require(errs.isEmpty,
      s"disjoint concurrent merges failed: ${Option(errs.peek()).map(_.getMessage)}")
    val gens = sources.GenCommit.committed(spark, concDir).size
    require(gens == 2 * rounds + 1,
      s"expected ${2 * rounds + 1} committed generations, got $gens")
    val rows = sources.GenTable.read(spark, concDir, "p").count()
    // OVERLAPPING writers (r17 rebase-and-retry): both threads hammer
    // the SAME partitions — every conflict serializes behind the
    // in-flight writer at metadata cost (a 200 ms poll, nothing
    // staged), so the wall-clock upper bound is ~sequential + waits,
    // and every merge must land (no lost updates, no loud fails)
    val ovDir = s"${graft.TempRoots.create("graft_gtc_ov_")}/t"
    fixture(ovDir)
    val ovErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ovT = time(s"gtconc_overlapping_${2 * rounds}merges") {
      val t1 = new Thread(() =>
        try mergesFor(ovDir, Seq(0L, 1L))
        catch { case t: Throwable => ovErrs.add(t) })
      val t2 = new Thread(() =>
        try mergesFor(ovDir, Seq(0L, 1L))
        catch { case t: Throwable => ovErrs.add(t) })
      t1.start(); t2.start(); t1.join(); t2.join()
    }
    require(ovErrs.isEmpty, s"overlapping merges failed to rebase: ${
      Option(ovErrs.peek()).map(_.getMessage)}")
    val ovGens = sources.GenCommit.committed(spark, ovDir).size
    require(ovGens == 2 * rounds + 1,
      s"expected ${2 * rounds + 1} committed generations, got $ovGens")
    Seq(seqT, concT, ovT,
      ("gtconc_committed_gens", gens.toDouble),
      ("gtconc_rows", rows.toDouble))
  }

  /** The GenTable METADATA path under sustained nightly operation
    * (VERDICT r15 #7): read-side resolution is driver work over
    * generations × partitions (one manifest file per committed
    * generation), so a lazily-compacted table's reads pay a growing
    * metadata toll even though the SCAN stays one generation per
    * partition. The probe: a 256-partition table absorbs 50 tiny merges
    * (51 generations), then measures (a) pure resolution — DataFrame
    * CONSTRUCTION, no job — at 51 vs 1 generations, (b) the full read
    * at both, (c) the row-tombstone masking increment after a scattered
    * deleteRows, (d) GenTable.shouldCompact's verdict on both states
    * (bytesAmplified = false — the data table's policy), and (e) the
    * file-skipping ratio on the stats-clustered compacted table
    * (files opened / files present for a 0.1% range predicate).
    */
  private def genTableStage(
      spark: SparkSession, m: Long): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = graft.TempRoots.create("graft_gtstress_")
    val tbl = s"$root/t"
    val parts = 256L
    val base = spark.range(m).select(col("id").as("k"),
      pmod(col("id"), lit(parts)).as("p"),
      (col("id") * lit(1.0)).as("v"))
    val t0 = System.nanoTime()
    // statsCols on init AND the nightly merges (r18): every generation
    // carries a filestats sidecar, so the filtered-SQL-read probe below
    // exercises the per-generation stats path the ADVICE r17 fix
    // de-jobbed (sidecar-less generations short-circuit it)
    sources.GenTable.init(base, tbl, "p", statsCols = Seq("v"))
    val initSec = (System.nanoTime() - t0) / 1e9
    val nights = 50
    val tm = System.nanoTime()
    (0 until nights).foreach { k =>
      val p0 = (k % parts).toLong
      sources.GenTable.merge(spark, tbl, "p",
        Seq((p0, p0, -1.0, "upsert"), (p0 + parts, p0, -2.0, "upsert"))
          .toDF("k", "p", "v", "_op"),
        Seq("k"), statsCols = Seq("v"))
    }
    val mergeSec = (System.nanoTime() - tm) / 1e9
    def resolveOnly(label: String) = time(label) {
      sources.GenTable.read(spark, tbl, "p") // construction = claims IO
      ()
    }
    val res51 = resolveOnly(s"gt_resolve_${nights + 1}gens")
    val read51 = time(s"gt_read_${nights + 1}gens") {
      noop(sources.GenTable.read(spark, tbl, "p"))
    }
    // filtered SQL read over the full 51-generation history: the file
    // index consults every generation's stats sidecar at PLANNING time
    // — pre-r18 this spun up one driver Spark job per (generation ×
    // bound) per listFiles call (ADVICE r17); now it is a cached parse
    // + interpreted compares, zero jobs
    val sqlWhere51 = time(s"gt_sqlwhere_${nights + 1}gens") {
      noop(spark.read.format("gentable").load(tbl)
        .filter(col("v") >= m * 0.4995 && col("v") <= m * 0.5005))
    }
    // timestamp resolution over the same history: bounded by the log
    // checkpoint's @ts lines (r18) — one checkpoint + tail markers
    val tsResolve51 = time(s"gt_tsresolve_${nights + 1}gens") {
      sources.GenTable.genAtTs(spark, tbl, Long.MaxValue - 1)
      ()
    }
    // a scattered takedown: 1 every 1000 keys, spanning all partitions
    sources.GenTable.deleteRows(spark, tbl,
      spark.range(0, m, 1000).select(col("id").as("k")))
    val readMasked = time(s"gt_read_${nights + 2}gens_masked") {
      noop(sources.GenTable.read(spark, tbl, "p"))
    }
    val shouldPiled =
      if (sources.GenTable.shouldCompact(spark, tbl)) 1.0 else 0.0
    val compactT = time("gt_compact") {
      sources.GenTable.compact(spark, tbl, "p", statsCols = Seq("v"))
    }
    val res1 = resolveOnly("gt_resolve_1gen")
    val read1 = time("gt_read_1gen") {
      noop(sources.GenTable.read(spark, tbl, "p"))
    }
    val shouldFlat =
      if (sources.GenTable.shouldCompact(spark, tbl)) 1.0 else 0.0
    // skipping ratio, measured on a fixture whose SHAPE can skip: with
    // 256 partitions over 32 range buckets each partition folds to ONE
    // file spanning its whole value range — nothing to prune inside a
    // partition (measured: 256/263 opened). A WIDE-partition table
    // (8 partitions, each spanning many range-clustered files) is the
    // shape the stats column is for; a 0.1%-selectivity range there
    // opens a small fraction of the files present.
    val skipTbl = s"$root/skip"
    val wideParts = 8L
    // a 100 TB table gets many files per partition from data volume;
    // this fixture fits in a couple of AQE-coalesced buckets, so pin the
    // write fan-out to make the layout representative (the spec does the
    // same — GenTableSpec's readWhere test)
    val (ck, sk) = ("spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
    val (oc, os) = (spark.conf.get(ck, "true"), spark.conf.get(sk))
    spark.conf.set(ck, "false")
    spark.conf.set(sk, "128")
    try sources.GenTable.init(
      spark.range(m).select(col("id").as("k"),
        pmod(col("id"), lit(wideParts)).as("p"),
        (col("id") * lit(1.0)).as("v")),
      skipTbl, "p", statsCols = Seq("v"))
    finally { spark.conf.set(ck, oc); spark.conf.set(sk, os) }
    val lo = m * 0.4995
    val hi = m * 0.5005
    val opened = sources.GenTable
      .readWhere(spark, skipTbl, "p", "v", lo, hi).inputFiles.length
    val present = sources.GenTable.read(spark, skipTbl, "p")
      .inputFiles.length
    Seq(
      (s"gt_init_${m}x$parts", initSec),
      (s"gt_merge_${nights}x2rows", mergeSec),
      res51, read51, sqlWhere51, tsResolve51, readMasked,
      ("gt_should_at_52gens", shouldPiled),
      compactT, res1, read1,
      ("gt_should_at_1gen", shouldFlat),
      ("gt_skip_files_opened", opened.toDouble),
      ("gt_skip_files_present", present.toDouble))
  }
}
