package graft

import graft.sources.{GenCommit, GenTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The `gentable` data source (VERDICT r16 #1/#2): SQL/catalog reads
  * and the CDC-out stream resolve through the SAME generation/
  * tombstone/schema-pin logic as the Scala API, with the file pruning
  * visible in the plan.
  */
class GenTableSqlSpec extends SparkSuite {
  import spark.implicits._

  private def fixture() = Seq(
    (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "B", 40.0),
    (5L, "C", 50.0)).toDF("k", "p", "v")

  private def toSet(df: DataFrame) =
    df.select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def buildTable(tag: String): String = {
    val dir = s"${TempRoots.create(s"graft_sql_$tag")}/t"
    GenTable.init(fixture(), dir, "p")
    GenTable.merge(spark, dir, "p",
      Seq((3L, "B", 31.0, "upsert"), (6L, "C", 60.0, "upsert"),
        (2L, "A", 0.0, "delete")).toDF("k", "p", "v", "_op"),
      Seq("k"))
    dir
  }

  test("spark.read.format(gentable), SQL-on-path and CREATE TABLE USING " +
      "gentable all serve exactly GenTable.read's resolved view — " +
      "multi-generation resolution included") {
    val dir = buildTable("fmt_")
    val want = toSet(GenTable.read(spark, dir, "p"))
    assert(want == toSet(spark.read.format("gentable").load(dir)),
      "format read diverged from GenTable.read")
    assert(want == toSet(spark.sql(
      s"SELECT k, p, v FROM gentable.`$dir`")),
      "SQL-on-path read diverged")
    spark.sql("DROP TABLE IF EXISTS lake_t")
    spark.sql(
      s"CREATE TABLE lake_t USING gentable OPTIONS (path '$dir')")
    try assert(want == toSet(spark.sql("SELECT k, p, v FROM lake_t")),
      "catalog-table read diverged")
    finally spark.sql("DROP TABLE lake_t")
  }

  test("asOfGen option: SQL time travel matches the Scala as-of read") {
    val dir = buildTable("asof_")
    val want = toSet(GenTable.read(spark, dir, "p", asOfGen = Some(0L)))
    val got = toSet(spark.read.format("gentable")
      .option("asOfGen", "0").load(dir))
    assert(got == want && got.contains((2L, "A", 20.0)))
  }

  test("the plan prunes: a partition predicate opens only the claimed " +
      "partition's files; a range predicate on a stats-clustered column " +
      "opens fewer files than the table holds (numFiles metric)") {
    val dir = s"${TempRoots.create("graft_sql_prune_")}/t"
    // 3 partitions × spread values, stats-clustered on v; widen the
    // range-shuffle so the clustered write produces enough files to
    // observe skipping (the suite default of 2 would write ~2)
    val rows = (1 to 300).map(i => (i.toLong, s"P${i % 3}", i.toDouble))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try GenTable.init(rows.toDF("k", "p", "v"), dir, "p",
      statsCols = Seq("v"))
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
    def scanOf(df: DataFrame): FileSourceScanExec = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }
        .getOrElse(fail("no FileSourceScanExec — not the native path"))
    }
    val all = spark.read.format("gentable").load(dir)
    val total = scanOf(all).metrics("numFiles").value
    assert(total > 3, s"fixture too small to show pruning ($total files)")
    // partition pruning
    val onePart = spark.sql(s"SELECT * FROM gentable.`$dir` WHERE p = 'P1'")
    assert(onePart.count() == 100)
    val pFiles = scanOf(onePart).metrics("numFiles").value
    assert(pFiles < total, s"partition predicate did not prune: " +
      s"$pFiles of $total")
    // file skipping through the filestats sidecar
    val narrow = spark.sql(
      s"SELECT * FROM gentable.`$dir` WHERE v >= 10 AND v <= 20")
    assert(narrow.count() == 11)
    val vFiles = scanOf(narrow).metrics("numFiles").value
    assert(vFiles < total, s"stats skipping did not prune: " +
      s"$vFiles of $total")
    // bloom skipping through SQL: an equality on an UNCLUSTERED key
    // (hash-scattered — min/max can't prune) consults the sidecar
    val bDir = s"${TempRoots.create("graft_sql_bloom_")}/t"
    val scattered = (1 to 400)
      .map(i => (i * 37 % 1000L, s"P${i % 2}", i.toDouble))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try GenTable.init(scattered.toDF("k", "p", "v").repartition(8),
      bDir, "p", bloomCols = Seq("k"))
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
    val key = scattered(17)._1
    val point = spark.sql(s"SELECT * FROM gentable.`$bDir` WHERE k = $key")
    val wantRows = scattered.count(_._1 == key)
    assert(point.count() == wantRows && wantRows >= 1)
    val bTotal = scanOf(spark.read.format("gentable").load(bDir))
      .metrics("numFiles").value
    val bFiles = scanOf(point).metrics("numFiles").value
    assert(bFiles < bTotal,
      s"bloom skipping did not prune through SQL: $bFiles of $bTotal")
  }

  test("live row tombstones route through the masked relation — SQL " +
      "still serves the masked view (and revival) exactly; compaction " +
      "restores the native file-scan path") {
    val dir = buildTable("tomb_")
    GenTable.deleteRows(spark, dir, Seq(Tuple1(4L)).toDF("k"))
    val wantMasked = toSet(GenTable.read(spark, dir, "p"))
    val viaSql = spark.sql(s"SELECT k, p, v FROM gentable.`$dir`")
    assert(toSet(viaSql) == wantMasked &&
      !wantMasked.exists(_._1 == 4L), "tombstone mask lost in SQL")
    assert(!viaSql.queryExecution.executedPlan.collectLeaves()
      .exists(_.isInstanceOf[FileSourceScanExec]),
      "a tombstoned table must not serve the unmasked native scan")
    // pushdown INTO the masked plan still filters correctly
    assert(toSet(spark.sql(
      s"SELECT k, p, v FROM gentable.`$dir` WHERE p = 'B' AND v > 30"))
      == wantMasked.filter(t => t._2 == "B" && t._3 > 30))
    GenTable.compact(spark, dir, "p")
    val after = spark.read.format("gentable").load(dir)
    assert(toSet(after) == wantMasked)
    assert(after.queryExecution.executedPlan.collectLeaves()
      .exists(_.isInstanceOf[FileSourceScanExec]),
      "compaction should restore the native path")
  }

  test("masked-relation pushdown: NOT over a partially-translatable AND " +
      "is not pushed (ADVICE r17 — pushing NOT of a weakened conjunct " +
      "is STRONGER than the original predicate and silently drops rows)") {
    val dir = buildTable("notand_")
    // force the masked (PrunedFilteredScan) path
    GenTable.deleteRows(spark, dir, Seq(Tuple1(1L)).toDF("k"))
    // v <=> 40.0 reaches the V1 API as EqualNullSafe, which toColumn
    // does not translate; the buggy push was NOT(p = 'B') alone, which
    // wrongly dropped (3, B, 31.0) — a row the real predicate keeps
    val got = spark.sql(
      s"SELECT k FROM gentable.`$dir` WHERE NOT (p = 'B' AND v <=> 40.0)")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 5L, 6L),
      s"NOT(partial AND) pushdown dropped rows: got $got")
    // the weaker single-conjunct push of a bare AND stays correct
    val and = spark.sql(
      s"SELECT k FROM gentable.`$dir` WHERE p = 'B' AND v <=> 31.0")
      .collect().map(_.getLong(0)).toSet
    assert(and == Set(3L), s"AND pushdown wrong: got $and")
  }

  test("SQL DML: UPDATE applies all assignments against the OLD row " +
      "(simultaneous assignment), matches nothing as a released no-op, " +
      "and refuses a partition-column assignment loudly") {
    val dir = s"${TempRoots.create("graft_dml_upd_")}/t"
    GenTable.init(Seq((1L, "A", 10.0, 1.0), (2L, "A", 20.0, 2.0),
      (3L, "B", 30.0, 3.0)).toDF("k", "p", "v", "w"), dir, "p")
    // swap v and w where k <= 2: with chained (non-simultaneous)
    // assignment w would get the NEW v and the swap would be lost
    spark.sql(s"UPDATE gentable.`$dir` SET v = w, w = v WHERE k <= 2")
    val got = spark.sql(s"SELECT k, v, w FROM gentable.`$dir`")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(got == Set((1L, 1.0, 10.0), (2L, 2.0, 20.0), (3L, 30.0, 3.0)),
      s"simultaneous-assignment semantics violated: $got")
    // a no-match UPDATE commits nothing and releases its claim — the
    // next writer is not blocked and history is unchanged
    val gensBefore = GenCommit.committed(spark, dir)
    spark.sql(s"UPDATE gentable.`$dir` SET v = 0.0 WHERE k = 99")
    assert(GenCommit.committed(spark, dir) == gensBefore,
      "a no-match UPDATE must not commit a generation")
    GenTable.merge(spark, dir, "p",
      Seq((4L, "B", 40.0, 4.0, "upsert")).toDF("k", "p", "v", "w", "_op"),
      Seq("k")) // would dead-lock on a leaked all-partitions claim
    // partition-column assignment is a partition MOVE — refused loudly
    val e = intercept[Exception] {
      spark.sql(s"UPDATE gentable.`$dir` SET p = 'C' WHERE k = 1")
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("SQL DML: DELETE keys are the WHERE clause's referenced columns " +
      "(tombstone generation, zero partitions rewritten); a constant " +
      "predicate has no key shape and fails loudly") {
    val dir = buildTable("dml_del_")
    val dataGens = GenCommit.committed(spark, dir).size
    spark.sql(s"DELETE FROM gentable.`$dir` WHERE k % 2 = 1")
    // rows 1, 3, 5 die (k odd); 4 and 6 survive; 2 was merge-deleted
    val got = spark.sql(s"SELECT k FROM gentable.`$dir`")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(4L, 6L), s"DELETE mask wrong: $got")
    // one tombstone generation, no data generation added
    assert(GenCommit.committed(spark, dir).size == dataGens + 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombs")),
      "SQL DELETE must route through the tombstone table")
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM gentable.`$dir` WHERE 1 = 1")
    }
    assert(e.getMessage.contains("reference at least one"), e.getMessage)
  }

  test("SQL DML: INSERT INTO appends positionally with duplicates " +
      "allowed; BY NAME matches by name; OVERWRITE replaces the table; " +
      "a column list or PARTITION spec fails loudly") {
    val dir = s"${TempRoots.create("graft_dml_ins_")}/t"
    GenTable.init(Seq((1L, "A", 10.0)).toDF("k", "p", "v"), dir, "p")
    // positional = the table's SELECT * order, which serves the
    // partition column LAST: (k, v, p)
    spark.sql(s"INSERT INTO gentable.`$dir` VALUES (1, 99.0, 'A')")
    val got = spark.sql(s"SELECT k, v FROM gentable.`$dir`")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 10.0), (1L, 99.0)),
      s"INSERT must append without key semantics: $got")
    // BY NAME: source columns in a different order
    Seq((9.0, "B", 3L)).toDF("v", "p", "k")
      .createOrReplaceTempView("dml_ins_byname")
    spark.sql(
      s"INSERT INTO gentable.`$dir` BY NAME SELECT * FROM dml_ins_byname")
    assert(spark.sql(s"SELECT k, v FROM gentable.`$dir` WHERE p = 'B'")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      == Set((3L, 9.0)), "BY NAME insert misrouted")
    // OVERWRITE replaces content (fresh history — the init contract)
    spark.sql(s"INSERT OVERWRITE gentable.`$dir` VALUES (7, 70.0, 'C')")
    assert(spark.sql(s"SELECT k FROM gentable.`$dir`")
      .collect().map(_.getLong(0)).toSet == Set(7L))
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO gentable.`$dir` (k, v, p) " +
        "VALUES (8, 80.0, 'C')")
    }
    assert(e1.getMessage.contains("column list"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO gentable.`$dir` PARTITION (p = 'C') " +
        "VALUES (8, 80.0)")
    }
    assert(e2.getMessage.contains("PARTITION spec"), e2.getMessage)
  }

  test("catalog-named tables (r19): UPDATE/INSERT/DELETE/MERGE and " +
      "readStream.table all resolve the name through the session " +
      "catalog; a temp view with a gentable-ish name is NOT intercepted; " +
      "an evolving MERGE keeps the stored catalog schema in sync") {
    val root = TempRoots.create("graft_named_")
    val dir = s"$root/t"
    Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("named_src")
    spark.sql("DROP TABLE IF EXISTS named_t")
    spark.sql(s"CREATE TABLE named_t USING gentable " +
      s"OPTIONS (path '$dir', partCol 'p') AS SELECT * FROM named_src")
    // named UPDATE
    spark.sql("UPDATE named_t SET v = v + 1.0 WHERE k = 1")
    // named INSERT
    spark.sql("INSERT INTO named_t VALUES (3, 30.0, 'B')")
    // named DELETE
    spark.sql("DELETE FROM named_t WHERE k = 2")
    // named MERGE (evolving: adds column w — catalog schema must follow)
    Seq((1L, "A", 100.0, "x1")).toDF("k", "p", "v", "w")
      .createOrReplaceTempView("named_delta")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO named_t t USING named_delta s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the named read serves the merged+masked state under the SYNCED
    // catalog schema (without the sync this SELECT fails the
    // stored-vs-actual schema check)
    val got = spark.sql("SELECT k, v, w FROM named_t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
      .toSet
    assert(got == Set((1L, 100.0, Some("x1")), (3L, 30.0, None)),
      s"named DML chain wrong: $got")
    // named time travel
    assert(spark.sql("SELECT k FROM named_t VERSION AS OF 0")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // readStream.table follows the name (catalog → V1 streaming source)
    val sink = s"$root/sink"
    val q = spark.readStream.table("named_t")
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .format("parquet").option("path", sink).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(sink).count() > 0,
      "readStream.table must follow the named gentable")
    // a TEMP VIEW whose name would resolve is NOT ours: Spark's own
    // error fires (the view is not a table), never a silent gentable hit
    Seq((1L, "A", 1.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("named_view")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM named_view WHERE k = 1")
    }
    assert(!e.getMessage.contains("gentable"), e.getMessage)
    spark.sql("DROP TABLE named_t")
  }

  test("repartitionTable (r19): the table rebuilds atomically under a " +
      "new partition column with identical content, inherited layout, " +
      "EXPLICIT fresh history (stale pins fail loudly), and stays " +
      "mergeable on the new grain") {
    val dir = s"${TempRoots.create("graft_repart_")}/t"
    GenTable.init(Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0))
      .toDF("k", "p", "v"), dir, "p", statsCols = Seq("v"))
    GenTable.merge(spark, dir, "p",
      Seq((4L, "B", 40.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"))
    def content(partCol: String) = GenTable.read(spark, dir, partCol)
      .select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val pre = content("p")
    GenTable.repartitionTable(spark, dir, "k")
    // the recorded partition column moved; content is untouched
    assert(GenTable.partColOf(spark, dir) == "k")
    val post = content("k")
    assert(post == pre, s"repartition changed content: $post vs $pre")
    // layout inherited: the fresh generation carries the stats sidecar
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/filestats/0")),
      "repartition must inherit the recorded layout")
    // history is FRESH — the explicit contract: the commit set is the
    // one rebuilt generation, and any pin resolves against the NEW
    // history only (pre-rebuild states are gone — pin-by-id cannot
    // address them, exactly like the documented init/overwrite reset)
    assert(GenCommit.committed(spark, dir) == Seq(0L))
    assert(GenTable.read(spark, dir, "k", asOfGen = Some(0L))
      .select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      == pre, "the fresh generation must denote the rebuilt table")
    // writes continue on the new grain
    GenTable.merge(spark, dir, "k",
      Seq((5L, "C", 50.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"))
    assert(GenTable.read(spark, dir, "k").count() == 5)
    // a non-column target refuses loudly
    val e2 = intercept[Exception] {
      GenTable.repartitionTable(spark, dir, "nope")
    }
    assert(e2.getMessage.contains("not a column"), e2.getMessage)
  }

  test("SQL ALTER TABLE ADD COLUMNS (r19): widens the footer by " +
      "rewriting exactly ONE (the smallest) partition, old rows " +
      "null-fill, duplicate/NOT NULL refuse loudly, and a named target " +
      "syncs the catalog schema") {
    val dir = s"${TempRoots.create("graft_alter_")}/t"
    // partition A: 2 rows, B: 1 row (the smaller carrier)
    GenTable.init(Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0))
      .toDF("k", "p", "v"), dir, "p")
    spark.sql(s"ALTER TABLE gentable.`$dir` ADD COLUMNS (tag STRING, n INT)")
    // the widened generation claims exactly one partition
    val claims1 = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(claims1)
    val m1 = GenCommit.readSmallFile(fs,
      new org.apache.hadoop.fs.Path(s"$dir/manifests/1"))
    assert(m1.split("\n").length == 1,
      s"ALTER must rewrite exactly one partition, claimed: $m1")
    // every row serves the widened schema, null-filled
    val got = spark.sql(s"SELECT k, tag, n FROM gentable.`$dir`")
      .collect().map(r => (r.getLong(0), r.isNullAt(1), r.isNullAt(2)))
      .toSet
    assert(got == Set((1L, true, true), (2L, true, true), (3L, true, true)),
      s"widened null-fill wrong: $got")
    // a later merge carries the new column plainly — no evolve flag
    GenTable.merge(spark, dir, "p",
      Seq((1L, "A", 11.0, "t1", 7, "upsert"))
        .toDF("k", "p", "v", "tag", "n", "_op"), Seq("k"))
    assert(spark.sql(s"SELECT tag FROM gentable.`$dir` WHERE k = 1")
      .collect().head.getString(0) == "t1")
    // refusals
    val eDup = intercept[Exception] {
      spark.sql(s"ALTER TABLE gentable.`$dir` ADD COLUMNS (TAG STRING)")
    }
    assert(eDup.getMessage.contains("already exists"), eDup.getMessage)
    val eNn = intercept[Exception] {
      spark.sql(s"ALTER TABLE gentable.`$dir` ADD COLUMNS (x INT NOT NULL)")
    }
    assert(eNn.getMessage.contains("NOT NULL"), eNn.getMessage)
    // named target: catalog schema follows the widening
    spark.sql("DROP TABLE IF EXISTS alter_named")
    spark.sql(s"CREATE TABLE alter_named USING gentable OPTIONS (path '$dir')")
    spark.sql("ALTER TABLE alter_named ADD COLUMNS (w DOUBLE)")
    assert(spark.sql("SELECT k, w FROM alter_named WHERE k = 3")
      .collect().head.isNullAt(1),
      "named ALTER must sync the catalog schema for named reads")
    spark.sql("DROP TABLE alter_named")
  }

  test("SQL OPTIMIZE/VACUUM (r19): the maintenance verbs compact with " +
      "the recorded layout, IF NEEDED gates on the measured policy, " +
      "named targets resolve, non-gentable targets refuse loudly, and " +
      "every other statement still parses through the delegate") {
    val dir = buildTable("opt_")
    val pre = GenTable.read(spark, dir, "p").collect().toSet
    assert(GenCommit.committed(spark, dir).size == 2)
    // IF NEEDED declines on a tiny 2-generation table (the measured
    // fixed-cost floor) and says so
    val declined = spark.sql(s"OPTIMIZE gentable.`$dir` IF NEEDED")
      .collect().map(_.getBoolean(0)).toSeq
    assert(declined == Seq(false) &&
      GenCommit.committed(spark, dir).size == 2,
      "IF NEEDED must decline below the measured crossover")
    // unconditional OPTIMIZE folds history to ONE fresh generation,
    // content untouched
    val did = spark.sql(s"OPTIMIZE gentable.`$dir`")
      .collect().map(_.getBoolean(0)).toSeq
    assert(did == Seq(true))
    assert(GenCommit.committed(spark, dir).size == 1,
      "OPTIMIZE must fold history to the one fresh generation")
    assert(GenTable.read(spark, dir, "p").collect().toSet == pre,
      "OPTIMIZE must not change content")
    // VACUUM is the same maintenance op on this format; named targets
    // resolve through the catalog
    spark.sql("DROP TABLE IF EXISTS opt_named")
    spark.sql(s"CREATE TABLE opt_named USING gentable OPTIONS (path '$dir')")
    GenTable.merge(spark, dir, "p",
      Seq((9L, "C", 90.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"))
    assert(spark.sql("VACUUM opt_named").collect().head.getBoolean(0))
    assert(GenCommit.committed(spark, dir).size == 1)
    assert(GenTable.read(spark, dir, "p").collect().toSet.size ==
      pre.size + 1)
    spark.sql("DROP TABLE opt_named")
    // a non-gentable target refuses loudly at run
    val e = intercept[Exception] {
      spark.sql("OPTIMIZE not_a_table").collect()
    }
    assert(e.getMessage.contains("not a gentable"), e.getMessage)
    // the delegate still owns everything else — incl. statements that
    // merely START with the keyword-ish text
    assert(spark.sql("SELECT 'OPTIMIZE t' AS s").collect()
      .head.getString(0) == "OPTIMIZE t")
  }

  test("INSERT OVERWRITE is transactional (ADVICE r18): an empty source " +
      "fails BEFORE touching the table (which stays writable), a " +
      "self-referencing overwrite reads its pre-state, history is " +
      "fresh, and a crash inside the swap window heals on the next " +
      "replace") {
    val root = TempRoots.create("graft_ow_")
    val dir = s"$root/t"
    GenTable.init(Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "p", "v"),
      dir, "p")
    // empty source: init's non-empty refusal fires against the STAGED
    // tree — the live table is untouched (the old path deleted it first,
    // then threw)
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE gentable.`$dir` " +
        s"SELECT k, v, p FROM gentable.`$dir` WHERE k < 0")
    }
    assert(e.getMessage.contains("EMPTY"), e.getMessage)
    assert(spark.sql(s"SELECT k FROM gentable.`$dir`").count() == 2,
      "a failed OVERWRITE must leave the table intact")
    // and WRITABLE: the failure released its all-partitions claim
    GenTable.merge(spark, dir, "p",
      Seq((3L, "B", 30.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"))
    // self-referencing overwrite: the staged write fully consumes the
    // live pre-state before the swap promotes the replacement
    spark.sql(s"INSERT OVERWRITE gentable.`$dir` " +
      s"SELECT k, v * 2, p FROM gentable.`$dir`")
    val got = spark.sql(s"SELECT k, v FROM gentable.`$dir`")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 20.0), (2L, 40.0), (3L, 60.0)),
      s"self-referencing OVERWRITE wrong: $got")
    // fresh history — the overwrite contract (like compaction's)
    assert(GenCommit.committed(spark, dir) == Seq(0L),
      "OVERWRITE must reset history to generation 0")
    // crash INSIDE the swap (live renamed aside, staged set complete):
    // the next replace heals by rolling the complete stage forward
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(
      graft.sources.SwapDir.stagePath(root, "t"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir), staged))
    fs.createNewFile(new org.apache.hadoop.fs.Path(staged, "_SUCCESS"))
    GenTable.replace(Seq((9L, "C", 90.0)).toDF("k", "p", "v"), dir, "p")
    assert(spark.sql(s"SELECT k FROM gentable.`$dir`")
      .collect().map(_.getLong(0)).toSet == Set(9L),
      "replace after a crashed swap must heal then apply")
  }

  test("timestamp time travel: asOfTs resolves by the monotonized-stamp " +
      "rule; a pre-history pin and a post-compaction stale pin fail " +
      "loudly; history carries the stamp column") {
    val dir = s"${TempRoots.create("graft_ts_travel_")}/t"
    val saved = GenCommit.clockMs
    try {
      GenCommit.clockMs = () => 1000L
      GenTable.init(Seq((1L, "A", 10.0)).toDF("k", "p", "v"), dir, "p")
      // a NON-MONOTONE wall clock: gen 1 stamps EARLIER than gen 0 —
      // its effective stamp inherits gen 0's 1000 (Delta's rule)
      GenCommit.clockMs = () => 500L
      GenTable.merge(spark, dir, "p",
        Seq((2L, "A", 20.0, "upsert")).toDF("k", "p", "v", "_op"),
        Seq("k"))
      GenCommit.clockMs = () => 3000L
      GenTable.merge(spark, dir, "p",
        Seq((3L, "B", 30.0, "upsert")).toDF("k", "p", "v", "_op"),
        Seq("k"))
      // pin between: effective stamps are 1000, 1000, 3000 → ts 2000
      // resolves to gen 1 (k = 1, 2), NOT gen 0 (raw-stamp order would
      // wrongly exclude gen 1's 500)
      val got = GenTable.read(spark, dir, "p", asOfTs = Some(2000L))
        .select("k").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L), s"monotonized resolution wrong: $got")
      // exactly at a stamp is inclusive; SQL option path agrees
      assert(spark.read.format("gentable").option("asOfTs", "3000")
        .load(dir).count() == 3)
      // the Delta-style PATH SUFFIX forms: pure-SQL time travel with no
      // options clause
      assert(spark.sql(s"SELECT k FROM gentable.`$dir@v1`")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      assert(spark.sql(s"SELECT k FROM gentable.`$dir@ts2000`")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      // the NATIVE travel clauses (RelationTimeTravel): VERSION AS OF
      // and TIMESTAMP AS OF (UTC session; stamps are 1000/500/3000 ms —
      // 2.5 s pins the monotonized gen 1)
      assert(spark.sql(s"SELECT k FROM gentable.`$dir` VERSION AS OF 1")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      assert(spark.sql(s"SELECT k FROM gentable.`$dir` " +
          "TIMESTAMP AS OF '1970-01-01 00:00:02.5'")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      val eSuf = intercept[Exception] {
        spark.read.format("gentable").option("asOfGen", "1")
          .load(s"$dir@v1")
      }
      assert(eSuf.getMessage.contains("ONE of"), eSuf.getMessage)
      // history exposes the stamps
      val hist = GenTable.history(spark, dir)
        .select("gen", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(hist == Map(0L -> 1000L, 1L -> 500L, 2L -> 3000L),
        s"history ts column wrong: $hist")
      // pre-history pin: loud
      val e1 = intercept[Exception] {
        GenTable.read(spark, dir, "p", asOfTs = Some(999L)).collect()
      }
      assert(e1.getMessage.contains("predates"), e1.getMessage)
      // post-compaction: the reset marker stamps compaction time, so
      // yesterday's pin names collapsed history and fails loudly
      GenCommit.clockMs = () => 9000L
      GenTable.compact(spark, dir, "p")
      val e2 = intercept[Exception] {
        spark.read.format("gentable").option("asOfTs", "3000").load(dir)
      }
      assert(e2.getMessage.contains("predates"), e2.getMessage)
      // the surviving state still reads at/after the compaction stamp
      assert(GenTable.read(spark, dir, "p", asOfTs = Some(9000L))
        .count() == 3)
      // UNSTAMPED-PREFIX table (ADVICE r18 low): blank out the first
      // generation's marker (a legacy/crash-window empty marker) — a
      // pin below the first RECORDED stamp must fail loudly instead of
      // silently resolving to the unstamped generations
      val dir2 = s"${TempRoots.create("graft_ts_legacy_")}/t"
      GenCommit.clockMs = () => 5000L
      GenTable.init(Seq((1L, "A", 1.0)).toDF("k", "p", "v"), dir2, "p")
      GenCommit.clockMs = () => 6000L
      GenTable.merge(spark, dir2, "p",
        Seq((2L, "B", 2.0, "upsert")).toDF("k", "p", "v", "_op"),
        Seq("k"))
      val fs2 = new org.apache.hadoop.fs.Path(dir2)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs2.create(new org.apache.hadoop.fs.Path(s"$dir2/commits/0"), true)
        .close() // empty = pre-stamp legacy marker
      val e3 = intercept[Exception] {
        GenTable.read(spark, dir2, "p", asOfTs = Some(5500L)).collect()
      }
      assert(e3.getMessage.contains("predates"),
        s"a pin below the first recorded stamp must be pre-history: " +
          s"${e3.getMessage}")
      // at/after the first recorded stamp still resolves
      assert(GenTable.read(spark, dir2, "p", asOfTs = Some(6000L))
        .count() == 2)
    } finally GenCommit.clockMs = saved
  }

  test("row-granular CDC-out: an update emits its delete+insert image " +
      "pair diffed over the claimed partitions only, a tombstone " +
      "generation emits the masked PRE-IMAGE rows, and the bag replay " +
      "reconstructs the state") {
    val root = TempRoots.create("graft_row_cdc_")
    val (dir, ckpt, sink) = (s"$root/t", s"$root/ckpt", s"$root/sink")
    GenTable.init(Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0))
      .toDF("k", "p", "v"), dir, "p")
    // update k=1 (pair expected), insert k=4, leave partition B alone
    GenTable.merge(spark, dir, "p",
      Seq((1L, "A", 11.0, "upsert"), (4L, "A", 40.0, "upsert"))
        .toDF("k", "p", "v", "_op"), Seq("k"))
    // tombstone delete k=3 (pre-image expected from partition B)
    GenTable.deleteRows(spark, dir, Seq(Tuple1(3L)).toDF("k"))
    def drain(): Unit = {
      val q = spark.readStream.format("gentable")
        .option("changeGranularity", "row").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", sink).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val log = spark.read.parquet(sink)
      .select("k", "v", "_gen", "_change").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getString(3))).toSet
    assert(log == Set(
      (1L, 10.0, 0L, "insert"), (2L, 20.0, 0L, "insert"),
      (3L, 30.0, 0L, "insert"),                        // initial snapshot
      (1L, 10.0, 1L, "delete"), (1L, 11.0, 1L, "insert"), // update pair
      (4L, 40.0, 1L, "insert"),                        // plain insert
      (3L, 30.0, 2L, "delete")),                       // tomb pre-image
      s"row-granular change log wrong: $log")
    // k=2 appears once (gen 0): gen 1 rewrote partition A but the row's
    // value is unchanged, so the old-vs-new bag diff cancels it
    val state = graft.sources.GenTableStream
      .replayRows(spark.read.parquet(sink), "p")
      .select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(state == Set((1L, 11.0), (2L, 20.0), (4L, 40.0)),
      s"bag replay wrong: $state")
  }

  test("NULL-keyed tombstones mask (VERDICT r18): DELETE ... WHERE c IS " +
      "NULL removes the NULL-keyed rows end to end — read-back, the " +
      "row-CDC pre-images, and the consumer replay all see the delete; " +
      "a nondeterministic DELETE predicate refuses loudly") {
    val root = TempRoots.create("graft_null_tomb_")
    val (dir, ckpt, sink) = (s"$root/t", s"$root/ckpt", s"$root/sink")
    GenTable.init(Seq((1L, "A", Some(10.0)), (2L, "A", None),
      (3L, "B", Some(30.0)), (4L, "B", None)).toDF("k", "p", "v"),
      dir, "p")
    spark.sql(s"DELETE FROM gentable.`$dir` WHERE v IS NULL")
    // the read mask: the NULL-keyed tombstone must match NULL-keyed rows
    // (the old EqualTo join matched nothing — a silent no-op DELETE)
    val got = spark.sql(s"SELECT k FROM gentable.`$dir`")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L), s"NULL-keyed DELETE did not mask: $got")
    // Scala read path agrees
    assert(GenTable.read(spark, dir, "p").select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    // the row-CDC stream delivers the NULL-keyed pre-images (the old
    // left_semi missed them — downstream consumers never saw the delete)
    val q = spark.readStream.format("gentable")
      .option("changeGranularity", "row").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .format("parquet").option("path", sink).start()
    try q.processAllAvailable() finally q.stop()
    val log = spark.read.parquet(sink)
    val dels = log.filter(col("_change") === "delete")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(dels == Set(2L, 4L),
      s"row-CDC tombstone pre-images missed NULL-keyed rows: $dels")
    val replayed = graft.sources.GenTableStream
      .replayRows(log, "p").select("k").collect()
      .map(_.getLong(0)).toSet
    assert(replayed == Set(1L, 3L), s"bag replay wrong: $replayed")
    // partition-granular replay masks NULL keys too (the consumer-side
    // mirror of the table's own mask): gen-0 snapshot rows as `data`
    // changes, plus a gen-1 NULL-keyed delete on the v column
    val nullDels = Seq((2L, "A"), (4L, "B")).toDF("k", "p")
      .withColumn("v", lit(null).cast("double"))
      .withColumn("_gen", lit(1L)).withColumn("_change", lit("delete"))
    val pk = graft.sources.GenTableStream.replay(
      log.filter(col("_change") === "insert")
        .withColumn("_change", lit("data"))
        .unionByName(nullDels),
      "p", keyCols = Seq("v"))
    // delete keys here are the v column (all-NULL): only NULL-v rows die
    assert(pk.select("k").collect().map(_.getLong(0)).toSet == Set(1L, 3L),
      "replay's delete mask must be null-safe")
    // a nondeterministic predicate would tombstone every row of any
    // sampled key — refused loudly (VERDICT r18 #2)
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM gentable.`$dir` WHERE k = 1 AND rand() < 0.5")
    }
    assert(e.getMessage.contains("nondeterministic"), e.getMessage)
  }

  test("layout inheritance: statement-written generations (UPDATE, " +
      "INSERT, MERGE) carry the table's recorded sidecars — SQL DML " +
      "does not degrade skipping") {
    val dir = s"${TempRoots.create("graft_layout_")}/t"
    GenTable.init(Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "p", "v"),
      dir, "p", statsCols = Seq("v"), bloomCols = Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sidecars(gen: Long): (Boolean, Boolean) = (
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/filestats/$gen")),
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/blooms/$gen")))
    assert(sidecars(0L) == ((true, true)))
    spark.sql(s"UPDATE gentable.`$dir` SET v = v + 1.0 WHERE k = 1")
    assert(sidecars(1L) == ((true, true)),
      "SQL UPDATE must inherit the recorded layout")
    spark.sql(s"INSERT INTO gentable.`$dir` VALUES (3, 30.0, 'B')")
    assert(sidecars(2L) == ((true, true)),
      "SQL INSERT must inherit the recorded layout")
    Seq((2L, "B", 21.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("layout_m_src")
    spark.sql(
      s"""MERGE INTO gentable.`$dir` t USING layout_m_src s
         |ON t.k = s.k WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(sidecars(3L) == ((true, true)),
      "SQL MERGE must inherit the recorded layout")
    // content stayed exact through all three inherited-layout writes
    assert(GenTable.read(spark, dir, "p").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 11.0), (2L, 21.0), (3L, 30.0)))
  }

  test("masked-path file skipping: tombstones do not forfeit sidecar " +
      "pruning — filters pushed into the masked scan skip files below " +
      "the mask, and SQL answers stay exact") {
    import org.apache.spark.sql.sources.{Filter, EqualTo => VEq,
      GreaterThanOrEqual => VGe, LessThanOrEqual => VLe}
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFs].getName)
    val dir = s"counting://${TempRoots.create("graft_mask_skip_")}/t"
    val rows = (1 to 400).map(i => (i * 37 % 1000L, s"P${i % 2}",
      i.toDouble))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try GenTable.init(rows.toDF("k", "p", "v").repartition(8), dir, "p",
      statsCols = Nil, bloomCols = Seq("k"))
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
    val victim = rows(3)._1
    GenTable.deleteRows(spark, dir, Seq(Tuple1(victim)).toDF("k"))
    val rel = new graft.sources.GenTableMaskedRelation(spark, dir, "p",
      None)
    val total = GenTable.read(spark, dir, "p").inputFiles.length
    val key = rows(17)._1
    // the distinct data files one collected scan of the relation opens
    def opened(filters: Filter*): Int = {
      CountingFs.reset()
      rel.buildScan(Array("k", "v", "p"), filters.toArray).collect()
      CountingFs.calls.collect {
        case ("open", p) if p.contains("/data/gen=") => p }.distinct.size
    }
    val eqOpened = opened(VEq("k", key), VGe("v", 1.0))
    assert(eqOpened < total,
      s"bloom skipping lost on the masked path: $eqOpened of $total")
    assert(opened(VGe("v", 10.0), VLe("v", 20.0)) <= total)
    // end-to-end SQL over the masked table stays exact, victim masked
    val got = spark.sql(s"SELECT k, v FROM gentable.`$dir` WHERE k = $key")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val want = rows.filter(t => t._1 == key && t._1 != victim)
      .map(t => (t._1, t._3)).toSet
    assert(got == want, s"masked point lookup wrong: $got vs $want")
    assert(spark.sql(s"SELECT k FROM gentable.`$dir` WHERE k = $victim")
      .count() == 0, "tombstoned key must stay masked through skipping")
  }

  test("gentable sink: an op-less stream is append-only (every row " +
      "upserts), keys is required loudly, and deletes flow through the " +
      "merge") {
    val root = TempRoots.create("graft_sink_")
    val (src, dir, ck1, ck2) =
      (s"$root/src", s"$root/t", s"$root/ck1", s"$root/ck2")
    // op-less stream: auto-init from batch 0, plain upserts after
    Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "p", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val sch = spark.read.parquet(src).schema
    def drain(ck: String, extra: (String, String)*): Unit = {
      var w = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.format("gentable").option("path", dir)
        .option("keys", "k").option("partCol", "p")
        .option("checkpointLocation", ck)
      extra.foreach { case (k, v) => w = w.option(k, v) }
      val q = w.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain(ck1)
    Seq((1L, "A", 11.0)).toDF("k", "p", "v")
      .coalesce(1).write.mode("append").parquet(src)
    drain(ck1)
    val got = GenTable.read(spark, dir, "p").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 11.0), (2L, 20.0)),
      s"op-less sink stream must upsert: $got")
    // deletes flow through when the stream carries _op
    val src2 = s"$root/src2"
    Seq((2L, "B", 20.0, "delete")).toDF("k", "p", "v", "_op")
      .coalesce(1).write.mode("append").parquet(src2)
    val q2 = spark.readStream.schema(spark.read.parquet(src2).schema)
      .parquet(src2)
      .writeStream.format("gentable").option("path", dir)
      .option("keys", "k").option("checkpointLocation", ck2).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(GenTable.read(spark, dir, "p").select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L), "sink delete lost")
    // keys option is required, loudly
    val e = intercept[Exception] {
      spark.readStream.schema(sch).parquet(src)
        .writeStream.format("gentable").option("path", s"$root/t2")
        .option("partCol", "p")
        .option("checkpointLocation", s"$root/ck3").start()
        .processAllAvailable()
    }
    assert(e.getMessage.contains("keys"), e.getMessage)
  }

  test("gentable sink auto-init reduces batch 0 like every later batch " +
      "(ADVICE r18): upsert-then-delete of a key in the first batch " +
      "does not resurrect it, and duplicate upserts resolve seqCol " +
      "latest-wins") {
    val root = TempRoots.create("graft_sink_b0_")
    val (src, dir, ck) = (s"$root/src", s"$root/t", s"$root/ck")
    // ONE file → one micro-batch → the auto-init path sees the whole
    // mixed batch: k=1 upserted twice (seq 1 then 2 — latest wins),
    // k=2 upserted then deleted (must NOT survive), k=3 plain
    Seq(
      (1L, "A", 10.0, 1L, "upsert"),
      (1L, "A", 11.0, 2L, "upsert"),
      (2L, "B", 20.0, 1L, "upsert"),
      (2L, "B", 20.0, 2L, "delete"),
      (3L, "B", 30.0, 1L, "upsert"))
      .toDF("k", "p", "v", "seq", "_op")
      .coalesce(1).write.parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .parquet(src)
      .writeStream.format("gentable").option("path", dir)
      .option("keys", "k").option("partCol", "p").option("seqCol", "seq")
      .option("checkpointLocation", ck).start()
    try q.processAllAvailable() finally q.stop()
    val got = GenTable.read(spark, dir, "p").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 11.0), (3L, 30.0)),
      s"auto-init must apply the merge path's batch reduction: $got")
  }

  test("gentable stream: every committed generation delivered exactly " +
      "once in id order — data, emptied-partition markers and delete " +
      "keys — restart-safe across a checkpoint, and a post-compaction " +
      "restart fails loudly") {
    val root = TempRoots.create("graft_sql_stream_")
    val (dir, ckpt, sink) = (s"$root/t", s"$root/ckpt", s"$root/sink")
    GenTable.init(fixture(), dir, "p")
    GenTable.merge(spark, dir, "p",
      Seq((3L, "B", 31.0, "upsert"), (4L, "B", 40.0, "delete"))
        .toDF("k", "p", "v", "_op"), Seq("k"))
    def drain(): Unit = {
      val q = spark.readStream.format("gentable").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", sink).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val firstRows = spark.read.parquet(sink).collect()
    assert(firstRows.map(r => r.getAs[Long]("_gen")).toSet == Set(0L, 1L),
      "generations 0 and 1 expected in the initial drain")
    // gen 1 rewrote partition B wholly: k=3 updated, k=4 dropped
    val g1 = firstRows.filter(_.getAs[Long]("_gen") == 1L)
    assert(g1.forall(_.getAs[String]("_change") == "data"))
    assert(g1.map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"))).toSet
      == Set((3L, 31.0)))
    // restart: an emptied partition (delete-all of C) emits a marker,
    // a row tombstone emits delete keys — and gens 0/1 do NOT re-emit
    GenTable.merge(spark, dir, "p",
      Seq((5L, "C", 50.0, "delete"), (6L, "C", 60.0, "delete"))
        .toDF("k", "p", "v", "_op"), Seq("k"))
    GenTable.deleteRows(spark, dir, Seq(Tuple1(1L)).toDF("k"))
    drain()
    val all = spark.read.parquet(sink).collect()
    assert(all.count(_.getAs[Long]("_gen") <= 1L) == firstRows.length,
      "exactly-once violated: old generations re-delivered after restart")
    val g2 = all.filter(_.getAs[Long]("_gen") == 2L)
    assert(g2.map(r => (r.getAs[String]("_change"),
      r.getAs[String]("p"))).toSet == Set(("empty", "C")),
      s"emptied partition must emit one marker, got ${g2.mkString(",")}")
    val g3 = all.filter(_.getAs[Long]("_gen") == 3L)
    assert(g3.map(r => (r.getAs[String]("_change"),
      r.getAs[Long]("k"))).toSet == Set(("delete", 1L)))
    // the delivered changes REPLAY to the table's current state:
    // per partition take the max data/empty gen's rows, then apply
    // later delete keys
    val byPart = all.groupBy(_.getAs[String]("p"))
    val replayed = byPart.collect { case (p, rows) if p != null =>
      val dataish = rows.filter(r => r.getAs[String]("_change") != "delete")
      val wg = dataish.map(_.getAs[Long]("_gen")).max
      dataish.filter(r => r.getAs[Long]("_gen") == wg &&
        r.getAs[String]("_change") == "data")
    }.flatten.toSeq
    val delKeys = all.filter(_.getAs[String]("_change") == "delete")
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("_gen"))).toMap
    val state = replayed.filter(r => delKeys.get(r.getAs[Long]("k"))
        .forall(_ < r.getAs[Long]("_gen")))
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("p"),
        r.getAs[Double]("v"))).toSet
    assert(state == toSet(GenTable.read(spark, dir, "p")),
      "replaying the change stream must reconstruct the table")
    // compaction collapses history → the old checkpoint fails LOUDLY
    GenTable.compact(spark, dir, "p")
    val q = spark.readStream.format("gentable").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .format("parquet").option("path", sink).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination(10000)
    }
    q.stop()
    assert(e.getMessage.contains("restart the stream") ||
      Option(e.getCause).exists(_.getMessage.contains("restart the stream")),
      s"wanted the history-collapsed error, got: ${e.getMessage}")
  }

  test("CTAS and df.write.format(gentable): the write path lands on " +
      "init's atomic generation-0 commit; Append refuses loudly " +
      "(deltas go through merge); startingGen skips the initial " +
      "snapshot on a fresh stream") {
    val root = TempRoots.create("graft_sql_ctas_")
    val dir = s"$root/t"
    fixture().createOrReplaceTempView("ctas_src")
    spark.sql(
      s"""CREATE TABLE ctas_t USING gentable
         |OPTIONS (path '$dir', partCol 'p')
         |AS SELECT * FROM ctas_src""".stripMargin)
    try {
      assert(toSet(spark.sql("SELECT k, p, v FROM ctas_t")) ==
        toSet(GenTable.read(spark, dir, "p")))
      // the created table is a REAL GenTable: merge + read compose
      GenTable.merge(spark, dir, "p",
        Seq((9L, "C", 90.0, "upsert")).toDF("k", "p", "v", "_op"),
        Seq("k"))
      assert(toSet(spark.read.format("gentable").load(dir))
        .contains((9L, "C", 90.0)))
    } finally spark.sql("DROP TABLE ctas_t")
    // Append has no keyed-upsert semantics on this table: loud refusal
    val e = intercept[Exception] {
      fixture().write.format("gentable").mode("append")
        .option("partCol", "p").save(dir)
    }
    assert(e.getMessage.contains("merge"),
      s"append must point at the merge path, got: ${e.getMessage}")
    // startingGen: a fresh stream from AFTER gen 0 delivers only gen 1
    val sink = s"$root/sink"
    val q = spark.readStream.format("gentable")
      .option("startingGen", "0").load(dir)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .format("parquet").option("path", sink).start()
    try q.processAllAvailable() finally q.stop()
    val gens = spark.read.parquet(sink).collect()
      .map(_.getAs[Long]("_gen")).toSet
    assert(gens == Set(1L),
      s"startingGen=0 must deliver only generation 1, got $gens")
  }

  test("SQL MERGE INTO: the CDC statement lands as one atomic " +
      "generation with exact matched-ness; unsupported constructs " +
      "fail loudly naming the construct") {
    val dir = s"${TempRoots.create("graft_sql_merge_")}/t"
    GenTable.init(fixture(), dir, "p")
    Seq((3L, "B", 33.0, "upsert"), (6L, "C", 60.0, "upsert"),
      (2L, "A", 0.0, "delete"), (99L, "Z", 9.0, "delete"))
      .toDF("k", "p", "v", "_op").createOrReplaceTempView("m_src")
    spark.sql(
      s"""MERGE INTO gentable.`$dir` t USING m_src s
         |ON t.k = s.k
         |WHEN MATCHED AND s._op = 'delete' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s._op <> 'delete' THEN INSERT *
         |""".stripMargin)
    assert(toSet(spark.sql(s"SELECT k, p, v FROM gentable.`$dir`")) ==
      Set((1L, "A", 10.0), (3L, "B", 33.0), (4L, "B", 40.0),
        (5L, "C", 50.0), (6L, "C", 60.0)),
      "update + delete + insert + unmatched-delete-drop must all land")
    // one atomic generation for the whole statement
    assert(GenCommit.committed(spark, dir) == Seq(0L, 1L))
    // unsupported: a column-level SET list — loud, named
    val e1 = intercept[UnsupportedOperationException] {
      spark.sql(s"MERGE INTO gentable.`$dir` t USING m_src s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v + 1")
    }
    assert(e1.getMessage.contains("matched action"))
    // unsupported: NOT MATCHED BY SOURCE — loud, named
    val e2 = intercept[UnsupportedOperationException] {
      spark.sql(s"MERGE INTO gentable.`$dir` t USING m_src s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    }
    assert(e2.getMessage.contains("NOT MATCHED BY SOURCE"))
    // unsupported: a non-equality ON term — loud
    val e3 = intercept[UnsupportedOperationException] {
      spark.sql(s"MERGE INTO gentable.`$dir` t USING m_src s " +
        "ON t.k = s.k AND t.v < s.v WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e3.getMessage.contains("ON clause"))
    // a source column named like the translation's scratch columns is
    // REFUSED (r20 guard: withColumn previously silently replaced it,
    // silently corrupting matched-ness)
    Seq((3L, "B", 34.0, "upsert", true))
      .toDF("k", "p", "v", "_op", "__merge_matched")
      .createOrReplaceTempView("m_src_scratch")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e4 = intercept[Throwable] {
      spark.sql(s"MERGE INTO gentable.`$dir` t USING m_src_scratch s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET *")
    }
    assert(messages(e4).exists(_.contains("reserved")),
      s"expected the reserved-name refusal, got: ${messages(e4)}")
  }

  test("the stream frontier never skips an in-flight lower id: an " +
      "outstanding claim below a committed generation holds the offset " +
      "back until it commits") {
    val root = TempRoots.create("graft_sql_frontier_")
    val dir = s"$root/t"
    GenTable.init(fixture(), dir, "p")
    // writer A claims id 1 (in-flight, disjoint), writer B commits id 2
    require(GenCommit.tryClaim(spark, dir, 1L, "wA", declare = Seq("A")))
    GenTable.merge(spark, dir, "p",
      Seq((7L, "B", 70.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"))
    assert(GenCommit.committed(spark, dir).toSet == Set(0L, 2L))
    val src = new graft.sources.GenTableStream(spark, dir, "p")
    assert(src.getOffset.map(_.json.toLong) == Some(0L),
      "frontier must stop below the in-flight claim at id 1")
    // the in-flight writer commits → frontier advances past both
    val tk = GenCommit.newToken()
    // simulate writer A finishing: release its claim (nothing staged)
    GenCommit.releaseClaim(spark, dir, 1L)
    assert(src.getOffset.map(_.json.toLong) == Some(2L),
      "a released (hole) id must not block the frontier")
  }
}
