package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch profiling main for the optimization round (not a declared
  * surface): per-statement wall times + Spark job counts for the gates
  * under investigation. Run:
  *   SPARK_GRAFT_PROBE=q92u sbt "runMain graft.Probe"
  */
object Probe {
  private var jobs = 0
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val which = sys.env.getOrElse("SPARK_GRAFT_PROBE", "q92u")
    val spark = Session(cpus)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      })
    // warmup
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()

    def step[T](name: String)(f: => T): T = {
      Thread.sleep(50) // let listener drain
      val j0 = jobs
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(50)
      println(f"[probe] $name%-28s ${dt}%8.3f s  jobs=${jobs - j0}")
      r
    }

    (1 to 2).foreach { round =>
      println(s"=== $which round $round ===")
      which match {
        case "q92u" =>
          val (t0d, d1, d2) = ops.Merge.mergeFixture(spark, sfDir)
          val tbl = s"${TempRoots.create("graft_probe_u_")}/table"
          def recent(d: DataFrame) = d
            .filter(year(col("o_orderdate")) >= 1996)
            .withColumn("yr", year(col("o_orderdate")))
          step("init") { graft.sources.GenTable.init(
            t0d.withColumn("yr", year(col("o_orderdate"))), tbl, "yr") }
          step("merge1") { graft.sources.GenTable.merge(spark, tbl, "yr",
            recent(d1), Seq("o_orderkey")) }
          step("merge2") { graft.sources.GenTable.merge(spark, tbl, "yr",
            recent(d2), Seq("o_orderkey")) }
          step("drop") { spark.sql("DROP TABLE IF EXISTS gt_probe_u") }
          step("create") { spark.sql(
            s"CREATE TABLE gt_probe_u USING gentable OPTIONS (path '$tbl')") }
          val df = step("select-plan") { spark.sql(
            """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
              |FROM gt_probe_u VERSION AS OF 1
              |ORDER BY o_orderkey""".stripMargin) }
          step("noop") {
            df.write.format("noop").mode("overwrite").save() }
          // the Scala twin for contrast
          val df2 = step("scala-asof-plan") {
            graft.sources.GenTable.read(spark, tbl, "yr", asOfGen = Some(1L))
              .select("o_orderkey", "o_orderstatus", "o_totalprice",
                "o_orderdate").orderBy("o_orderkey") }
          step("scala-asof-noop") {
            df2.write.format("noop").mode("overwrite").save() }
        case "q92m_steps" =>
          val (t0d, d1, d2) = ops.Merge.mergeFixture(spark, sfDir)
          val tbl = s"${TempRoots.create("graft_probe_m_")}/table"
          def recent(d: DataFrame) = d
            .filter(year(col("o_orderdate")) >= 1996)
            .withColumn("yr", year(col("o_orderdate")))
          step("init") { graft.sources.GenTable.init(
            t0d.withColumn("yr", year(col("o_orderdate"))), tbl, "yr") }
          recent(d1).createOrReplaceTempView("probe_m_d1")
          recent(d2).createOrReplaceTempView("probe_m_d2")
          Seq("probe_m_d1", "probe_m_d2").zipWithIndex.foreach { case (v, i) =>
            step(s"sql-merge$i") { spark.sql(
              s"""MERGE INTO gentable.`$tbl` t USING $v s
                 |ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED AND s._op = 'delete' THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED AND s._op <> 'delete' THEN INSERT *
                 |""".stripMargin) }
          }
          val dfm = step("read-plan") { spark.sql(
            s"""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
               |FROM gentable.`$tbl` ORDER BY o_orderkey""".stripMargin) }
          step("read-noop") {
            dfm.write.format("noop").mode("overwrite").save() }
          // Scala twin statements for contrast
          val tbl2 = s"${TempRoots.create("graft_probe_m2_")}/table"
          step("scala-init") { graft.sources.GenTable.init(
            t0d.withColumn("yr", year(col("o_orderdate"))), tbl2, "yr") }
          step("scala-merge1") { graft.sources.GenTable.merge(spark, tbl2,
            "yr", recent(d1), Seq("o_orderkey")) }
          step("scala-merge2") { graft.sources.GenTable.merge(spark, tbl2,
            "yr", recent(d2), Seq("o_orderkey")) }
        case "cc" =>
          val docs = Tables.documents(spark, sfDir)
          val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
          val delta = docs.filter(pmod(col("doc_id"), lit(5L)) === 4)
          val pairs = step("minhashPairs-noop") {
            val p = ops.Text.minhashPairs(corpus)
            p.write.format("noop").mode("overwrite").save(); p }
          val standing = step("star-standing") {
            ops.Text.dupComponentsStar(pairs) }
          step("standing-noop") {
            standing.write.format("noop").mode("overwrite").save() }
          val dp = step("deltaPairList-noop") {
            val p = ops.Text.deltaPairList(corpus, delta)
            p.write.format("noop").mode("overwrite").save(); p }
          val merged = step("ccMerge") { ops.Text.ccMerge(standing, dp) }
          step("ccMerge-noop") {
            merged.write.format("noop").mode("overwrite").save() }
          step("window+sort-noop") {
            merged.withColumn("cluster_size",
              count(lit(1)).over(org.apache.spark.sql.expressions.Window
                .partitionBy(col("comp"))).cast("long"))
              .orderBy("id")
              .write.format("noop").mode("overwrite").save() }
        case "x27b_steps" =>
          val grid = Tables.embeddings(spark, sfDir).select(col("vec_id"),
            transform(col("embedding"),
              x => floor(x.cast("double") * 8) / 8).as("embedding"))
          val idx = s"${TempRoots.create("graft_probe_pq_")}/ivfpq"
          step("pqBuild") {
            ops.VectorPq.pqBuild(grid, idx, nlist = 16, m = 64) }
          val s = step("pqSearch-plan") {
            ops.VectorPq.pqSearch(spark, idx,
              grid.filter(col("vec_id") < 8), nprobe = 16)
              .orderBy("probe_id", "rank") }
          step("pqSearch-noop") {
            s.write.format("noop").mode("overwrite").save() }
        case "plans" if round != 1 => () // plan capture is single-shot
        case "plans" =>
          import java.nio.file.{Files, Paths}
          Files.createDirectories(Paths.get("plans/r19"))
          def dump(name: String, header: String,
              df: DataFrame): Unit = {
            val s = "-- " + header + "\n" + df.queryExecution
              .explainString(org.apache.spark.sql.execution.FormattedMode)
            Files.write(Paths.get(s"plans/r19/$name.txt"),
              s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"[probe] wrote plans/r19/$name.txt")
          }
          // ---- q92m/q92s: the SQL MERGE delta subtree, r18 vs r19 ----
          val (t0d, d1, _) = ops.Merge.mergeFixture(spark, sfDir)
          val tbl = s"${TempRoots.create("graft_probe_plans_")}/table"
          def recent(d: DataFrame) = d
            .filter(year(col("o_orderdate")) >= 1996)
            .withColumn("yr", year(col("o_orderdate")))
          graft.sources.GenTable.init(
            t0d.withColumn("yr", year(col("o_orderdate"))), tbl, "yr")
          val src = recent(d1)
          val target = graft.sources.GenTable.read(spark, tbl, "yr")
          val keys = Seq("o_orderkey")
          val targetCols = target.columns.toSeq
          val mOp = coalesce(
            when(expr("_op = 'delete'"), lit("delete")),
            when(lit(true), lit("upsert")))
          val keyRowsOld = target.select(keys.map(col): _*).distinct()
          val mD = src.join(keyRowsOld, keys, "left_semi")
            .withColumn("__mergeop", mOp)
            .filter(col("__mergeop").isNotNull)
          val uD = src.join(keyRowsOld, keys, "left_anti")
            .filter(expr("_op <> 'delete'"))
            .withColumn("__mergeop", lit("upsert"))
          dump("q92m_merge_sql_before",
            "r18 delta shape inside GenTableMergeCommand: TABLE-wide key " +
              "distinct under BOTH a semi and an anti join, union of the " +
              "halves; this whole subtree was then re-evaluated by every " +
              "downstream consumer of the delta (touched-partition " +
              "enumeration + staged write).",
            mD.unionByName(uD)
              .select((targetCols.map(col) :+ col("__mergeop")): _*))
          val srcKeys = src.select(keys.map(col): _*).distinct()
          val keyRows = target.select(keys.map(col): _*)
            .join(srcKeys, keys, "left_semi").distinct()
            .withColumn("__merge_matched", lit(true))
          val deltaNew = src.join(keyRows, keys, "left")
            .withColumn("__mergeop",
              when(col("__merge_matched").isNotNull, mOp)
                .otherwise(when(expr("_op <> 'delete'"), lit("upsert"))))
            .filter(col("__mergeop").isNotNull)
            .select((targetCols.map(col) :+ col("__mergeop")): _*)
          dump("q92m_merge_sql_after",
            "r19 delta shape (GenTableMerge.scala run()): target scanned " +
              "ONCE, key-pruned and semi-joined to the source's distinct " +
              "keys (delta-proportional, broadcastable), one LEFT join " +
              "with a presence flag, one CaseWhen - no union, no second " +
              "table scan. In the command the result is additionally " +
              "localCheckpoint'ed, so downstream consumers plan against " +
              "a LogicalRDD instead of re-evaluating this subtree.",
            deltaNew)
          // ---- x29b: the per-generation row diff, r18 vs r19 ----
          graft.sources.GenTable.merge(spark, tbl, "yr", src,
            Seq("o_orderkey"))
          val pre = graft.sources.GenTable.read(spark, tbl, "yr",
            asOfGen = Some(0L))
          val post = graft.sources.GenTable.read(spark, tbl, "yr",
            asOfGen = Some(1L))
          dump("x29b_stream_gentable_rows_before",
            "r18 per-generation row diff (GenTableStream.rowFrame): " +
              "two exceptAll's unioned - each side (the old side is a " +
              "multi-generation resolution read) scanned TWICE, four " +
              "shuffles per generation.",
            post.exceptAll(pre).withColumn("_change", lit("insert"))
              .unionByName(pre.exceptAll(post)
                .withColumn("_change", lit("delete"))))
          val allCols = post.columns.toIndexedSeq.map(col)
          val diff = post.withColumn("__w", lit(1L))
            .unionByName(pre.withColumn("__w", lit(-1L)))
            .groupBy(allCols: _*).agg(sum(col("__w")).as("__d"))
          def repl(side: DataFrame, n: org.apache.spark.sql.Column) =
            side.withColumn("__i", explode(sequence(lit(1L), n)))
              .drop("__d", "__i")
          dump("x29b_stream_gentable_rows_after",
            "r19 per-generation row diff: ONE signed-count aggregation " +
              "(union with weight +/-1, groupBy all columns), inserts = " +
              "positive sums replicated, deletes = negative; one scan " +
              "per side, one shuffle, branches share the aggregate " +
              "exchange (ReusedExchange below).",
            repl(diff.filter(col("__d") > 0), col("__d"))
              .withColumn("_change", lit("insert"))
              .unionByName(repl(diff.filter(col("__d") < 0), -col("__d"))
                .withColumn("_change", lit("delete"))))
          // ---- x27 family: the codebook passes over `subs` ----
          val grid = Tables.embeddings(spark, sfDir).select(col("vec_id"),
            transform(col("embedding"),
              x => floor(x.cast("double") * 8) / 8).as("embedding"))
          val m27 = 64
          val sublen27 = 1
          val shaped = grid.select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("vecD"))
          val subsPlain = shaped.select(posexplode(transform(
              sequence(lit(0), lit(m27 - 1)),
              i => slice(col("vecD"), i * sublen27 + 1, lit(sublen27))))
            .as(Seq("sub", "sv"))).distinct()
          dump("x27b_ann_ivfpq_gate_before",
            "r18 pqBuild codebook: the corpus-x-m exploded+distinct'ed " +
              "subvector frame was recomputed for EACH of its two driver " +
              "passes (per-subspace counts, then the lossless ordered " +
              "collect) - this full subtree ran twice per build.",
            subsPlain.orderBy(col("sub"), col("sv")))
          val subsP = subsPlain.persist()
          subsP.count()
          dump("x27b_ann_ivfpq_gate_after",
            "r19 pqBuild codebook: `subs` persisted across the two " +
              "passes (unpersisted before pqBuild returns) - the second " +
              "pass scans the cache (InMemoryTableScan below) instead of " +
              "re-running the corpus-x-m explode + distinct.",
            subsP.orderBy(col("sub"), col("sv")))
          subsP.unpersist()
        case "q92h_steps" =>
          val (t0d, d1, d2) = ops.Merge.mergeFixture(spark, sfDir)
          val tbl = s"${TempRoots.create("graft_probe_h_")}/table"
          val stats = Seq("o_totalprice", "o_orderkey")
          def recent(d: DataFrame) = d
            .filter(year(col("o_orderdate")) >= 1996)
            .withColumn("yr", year(col("o_orderdate")))
          step("init-zorder") { graft.sources.GenTable.init(
            t0d.withColumn("yr", year(col("o_orderdate"))), tbl, "yr",
            statsCols = stats, zorder = true) }
          step("merge1-zorder") { graft.sources.GenTable.merge(spark, tbl,
            "yr", recent(d1), Seq("o_orderkey"),
            statsCols = stats, zorder = true) }
          step("merge2-zorder") { graft.sources.GenTable.merge(spark, tbl,
            "yr", recent(d2), Seq("o_orderkey"),
            statsCols = stats, zorder = true) }
          step("readWhere-noop") {
            graft.sources.GenTable.readWhere(spark, tbl, "yr",
              "o_orderkey", 10000L, 20000L)
              .select("o_orderkey", "o_orderstatus", "o_totalprice",
                "o_orderdate").orderBy("o_orderkey")
              .write.format("noop").mode("overwrite").save() }
        case "q92p_steps" =>
          val (t0d, d1, _) = ops.Merge.mergeFixture(spark, sfDir)
          val tbl = s"${TempRoots.create("graft_probe_p_")}/table"
          def recent(d: DataFrame) = d
            .filter(year(col("o_orderdate")) >= 1996)
            .withColumn("yr", year(col("o_orderdate")))
          step("init") { graft.sources.GenTable.init(
            t0d.withColumn("yr", year(col("o_orderdate"))), tbl, "yr") }
          step("insertRows") { graft.sources.GenTable.insertRows(spark,
            tbl, "yr", recent(d1).drop("_op")) }
          recent(d1).drop("_op").createOrReplaceTempView("probe_p_src")
          step("sql-insert") { spark.sql(
            s"INSERT INTO gentable.`$tbl` BY NAME SELECT * FROM probe_p_src") }
        case "x29b_steps" =>
          val (t0d, d1, d2) = ops.Merge.mergeFixture(spark, sfDir)
          val root = TempRoots.create("graft_probe_x29b_")
          val (tbl, ckpt, sink) = (s"$root/table", s"$root/ckpt",
            s"$root/sink")
          def recent(d: DataFrame) = d
            .filter(year(col("o_orderdate")) >= 1996)
            .withColumn("yr", year(col("o_orderdate")))
          def drain(tag: String): Unit = step(s"drain-$tag") {
            val q = spark.readStream.format("gentable")
              .option("changeGranularity", "row").load(tbl)
              .writeStream.option("checkpointLocation", ckpt)
              .format("parquet").option("path", sink).start()
            try q.processAllAvailable() finally q.stop()
          }
          step("init") { graft.sources.GenTable.init(
            t0d.withColumn("yr", year(col("o_orderdate"))), tbl, "yr") }
          step("merge1") { graft.sources.GenTable.merge(spark, tbl, "yr",
            recent(d1), Seq("o_orderkey")) }
          drain("1")
          step("merge2") { graft.sources.GenTable.merge(spark, tbl, "yr",
            recent(d2), Seq("o_orderkey")) }
          drain("2")
          step("replay-noop") {
            graft.sources.GenTableStream.replayRows(
                spark.read.parquet(sink), "yr")
              .select("o_orderkey", "o_orderstatus", "o_totalprice",
                "o_orderdate").orderBy("o_orderkey")
              .write.format("noop").mode("overwrite").save() }
        case "plans20" if round != 1 => ()
        case "plans20" =>
          import java.nio.file.{Files, Paths}
          Files.createDirectories(Paths.get("plans/r20"))
          def dump(name: String, header: String,
              df: DataFrame): Unit = {
            val s = "-- " + header + "\n" + df.queryExecution
              .explainString(org.apache.spark.sql.execution.FormattedMode)
            Files.write(Paths.get(s"plans/r20/$name.txt"),
              s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"[probe] wrote plans/r20/$name.txt")
          }
          // ---- x27 family: the codebook phase, r19 vs r20 ----
          val grid = Tables.embeddings(spark, sfDir).select(col("vec_id"),
            transform(col("embedding"),
              x => floor(x.cast("double") * 8) / 8).as("embedding"))
          val m27 = 64
          val sublen27 = 1
          val shaped = grid.select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("vecD"))
          val subsPlain = shaped.select(posexplode(transform(
              sequence(lit(0), lit(m27 - 1)),
              i => slice(col("vecD"), i * sublen27 + 1, lit(sublen27))))
            .as(Seq("sub", "sv"))).distinct()
          val subsP = subsPlain.persist()
          subsP.count()
          dump("x27b_ann_ivfpq_gate_before",
            "r19 pqBuild codebook: the exploded+distinct subvector frame " +
              "persisted across TWO driver passes - pass 1 the " +
              "per-subspace counts (groupBy(sub).count), pass 2 this " +
              "lossless ordered collect over the cache " +
              "(InMemoryTableScan). The persist cost exceeded the " +
              "recompute at bench scale (VERDICT r19 #1: x27b/c/e " +
              "+17-26%), and two passes stay two passes.",
            subsP.orderBy(col("sub"), col("sv")))
          subsP.unpersist()
          dump("x27b_ann_ivfpq_gate_after",
            "r20 pqBuild codebook: the r19 persist is REMOVED - the " +
              "lossless collect recomputes the explode+distinct subtree " +
              "(no InMemoryTableScan in this plan) because the " +
              "materialization cost exceeded the recompute at bench " +
              "scale (driver-measured x27b/c/e +17-26%). A fused " +
              "one-pass row_number-capped collect was also A/B'd and " +
              "REJECTED: its partitionBy(sub) window sort runs " +
              "unconditionally and caps parallelism at m tasks, and it " +
              "measured slower still (Probe x27b_steps: 5.0 s two-pass " +
              "vs 5.4 s persisted vs 6.0 s fused, warm).",
            subsPlain.orderBy(col("sub"), col("sv")))
          // ---- CC star loop: one round's iterate, r19 vs r20 ----
          val docs = Tables.documents(spark, sfDir)
          val pairs = ops.Text.minhashPairs(
            docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4))
          val edges = pairs.select(
              greatest(col("doc_a"), col("doc_b")).as("u"),
              least(col("doc_a"), col("doc_b")).as("v"))
            .filter(col("u") =!= col("v")).distinct().localCheckpoint()
          val sym = edges.union(
            edges.select(col("v").as("u"), col("u").as("v")))
          val nbrMin = sym.groupBy("u")
            .agg(least(min(col("v")), first(col("u"))).as("m"))
          val afterLarge = sym.join(nbrMin, "u")
            .filter(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
            .filter(col("u") =!= col("v")).distinct()
          val mins = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
          val part1 = afterLarge.join(mins, "u")
            .filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v"))
          val part2 = mins.select(col("u"), col("m").as("v"))
          val iter = part1.union(part2).distinct()
          dump("q41_dedup_clusters_before",
            "r19 star-loop round: the checkpointed iterate (this plan) " +
              "PLUS a dedicated convergence-probe job per round - " +
              "next.exceptAll(edges).union(edges.exceptAll(next))" +
              ".isEmpty, two wide shuffles over both checkpointed " +
              "iterates, one full driver round-trip each round.",
            iter)
          val obs = org.apache.spark.sql.Observation()
          val h = xxhash64(col("u"), col("v"))
          dump("q41_dedup_clusters_after",
            "r20 star-loop round: the same iterate with the convergence " +
              "SIGNATURE (sum/bit_xor/count of xxhash64(u,v)) riding the " +
              "checkpoint job as a pass-through CollectMetrics node " +
              "(bottom of this plan) - a differing signature proves the " +
              "edge set changed and the probe job is SKIPPED; the exact " +
              "exceptAll probe runs at most once, on the candidate final " +
              "round, and remains the sole arbiter of convergence.",
            iter.observe(obs, sum(h.cast("decimal(38,0)")).as("__sig_sum"),
              bit_xor(h).as("__sig_xor"), count(lit(1)).as("__sig_n")))
          // ---- x29b: the replication arm, r19 vs r20 ----
          val (t0d, d1, _) = ops.Merge.mergeFixture(spark, sfDir)
          val tblP = s"${TempRoots.create("graft_probe_plans20_")}/table"
          def recent(d: DataFrame) = d
            .filter(year(col("o_orderdate")) >= 1996)
            .withColumn("yr", year(col("o_orderdate")))
          graft.sources.GenTable.init(
            t0d.withColumn("yr", year(col("o_orderdate"))), tblP, "yr")
          graft.sources.GenTable.merge(spark, tblP, "yr", recent(d1),
            Seq("o_orderkey"))
          val pre = graft.sources.GenTable.read(spark, tblP, "yr",
            asOfGen = Some(0L))
          val post = graft.sources.GenTable.read(spark, tblP, "yr",
            asOfGen = Some(1L))
          val allCols = post.columns.toIndexedSeq.map(col)
          val diffP = post.withColumn("__w", lit(1L))
            .unionByName(pre.withColumn("__w", lit(-1L)))
            .groupBy(allCols: _*).agg(sum(col("__w")).as("__d"))
          def replOld(side: DataFrame, n: org.apache.spark.sql.Column) =
            side.withColumn("__i", explode(sequence(lit(1L), n)))
              .drop("__d", "__i")
          dump("x29b_stream_gentable_rows_before",
            "r19 row-diff replication: explode(sequence(1, n)) - an " +
              "n-element in-memory array per duplicated row group " +
              "(ADVICE r19 medium: OOM/array-cap on a keyless table " +
              "with millions of identical rows).",
            replOld(diffP.filter(col("__d") > 0), col("__d"))
              .withColumn("_change", lit("insert"))
              .unionByName(replOld(diffP.filter(col("__d") < 0),
                -col("__d")).withColumn("_change", lit("delete"))))
          def replNew(side: DataFrame, n: org.apache.spark.sql.Column) =
            side
              .withColumn("__b", explode(sequence(lit(0L),
                shiftright(n - 1, 16))))
              .withColumn("__i", explode(sequence(lit(1L),
                least(lit(1L << 16), n - shiftleft(col("__b"), 16)))))
              .drop("__d", "__b", "__i")
          dump("x29b_stream_gentable_rows_after",
            "r20 row-diff replication: bounded-BLOCK nested explode - " +
              "every materialized array capped at 2^16 elements, still " +
              "exactly n rows emitted, same one-shuffle signed-count " +
              "diff (the ReusedExchange is retained).",
            replNew(diffP.filter(col("__d") > 0), col("__d"))
              .withColumn("_change", lit("insert"))
              .unionByName(replNew(diffP.filter(col("__d") < 0),
                -col("__d")).withColumn("_change", lit("delete"))))
          // ---- q92m: the SQL MERGE matched-ness pass, r19 vs r20 ----
          // (reconstructs GenTableMergeCommand's delta subtree — the
          // command itself is a commit, not a single explainable plan)
          val mSrc = recent(d1)
          val mTarget = graft.sources.GenTable.read(spark, tblP, "yr")
          val mKeys = Seq("o_orderkey")
          def mergeDelta(srcKeys: DataFrame): DataFrame = {
            val keyRows = mTarget.select(mKeys.map(col): _*)
              .join(srcKeys, mKeys, "left_semi").distinct()
              .withColumn("__merge_matched", lit(true))
            val mOp = coalesce(
              when(expr("_op = 'delete'"), lit("delete")),
              when(lit(true), lit("upsert")))
            mSrc.join(keyRows, mKeys, "left")
              .withColumn("__mergeop",
                when(col("__merge_matched").isNotNull, mOp)
                  .otherwise(when(expr("_op <> 'delete'"), lit("upsert"))))
              .filter(col("__mergeop").isNotNull)
              .select((mTarget.columns.toIndexedSeq.map(col)
                :+ col("__mergeop")): _*)
          }
          dump("q92m_merge_sql_before",
            "r19 SQL MERGE matched-ness: the semi join's right side was " +
              "src.select(keys).distinct() - a redundant " +
              "exchange+aggregate on EVERY statement (LEFT SEMI already " +
              "emits each left row at most once regardless of right-side " +
              "duplicates). Note the extra HashAggregate pair + Exchange " +
              "under the semi join's right side.",
            mergeDelta(mSrc.select(mKeys.map(col): _*).distinct()))
          dump("q92m_merge_sql_after",
            "r20 SQL MERGE matched-ness (VERDICT r19 #6, guide §2.4): " +
              "the source's raw key projection feeds the semi join " +
              "directly - one fewer Exchange + aggregate pair per " +
              "statement; the semantically required distinct (keyRows, " +
              "preventing left-join fanout on duplicate target keys) is " +
              "the sole dedup in the pass.",
            mergeDelta(mSrc.select(mKeys.map(col): _*)))
        case "sig" =>
          // does a localCheckpoint action deliver Observation metrics,
          // and how fast? (the LoopSignature viability probe)
          val ob = org.apache.spark.sql.Observation()
          val base = spark.range(1000000).toDF("id")
            .observe(ob, sum(col("id")).as("__sig_sum"),
              count(lit(1)).as("__sig_n"))
          step("localCheckpoint") { base.localCheckpoint() }
          step("obs-await") {
            println("[probe] future completed already: " +
              ob.future.isCompleted)
            val r = scala.util.Try(scala.concurrent.Await.result(
              ob.future, scala.concurrent.duration.Duration(1, "s")))
            println(s"[probe] obs result: $r")
          }
          step("ckpt-rddOf") {
            val ck = spark.range(1000).toDF("id").localCheckpoint()
            val rdd = Ckpt.rddOf(ck)
            println(s"[probe] Ckpt.rddOf resolves: ${rdd.isDefined} " +
              s"persisted-before-free: ${rdd.exists(r =>
                spark.sparkContext.getPersistentRDDs.contains(r.id))}")
            Ckpt.free(ck)
            Thread.sleep(200)
            println("[probe] persisted-after-free: " + rdd.exists(r =>
              spark.sparkContext.getPersistentRDDs.contains(r.id)))
          }
        case "q92w" =>
          step("q92w-all") {
            ops.Merge.q92w(spark, sfDir)
              .write.format("noop").mode("overwrite").save() }
        case "q92m" =>
          step("q92m-all") {
            ops.Merge.q92m(spark, sfDir)
              .write.format("noop").mode("overwrite").save() }
        case _ =>
          val fn = SparkEntry.queries(which)
          step(s"$which-all") {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      }
    }
    spark.stop()
  }
}
