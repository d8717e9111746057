package graft

import graft.sources.GenTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File skipping has one rule: [[GenTable.readWhere]] and
  * [[GenTable.readWhereEq]] keep the snapshot's winning files the
  * sidecars admit, and the scan of `read(...).filter(...)` skips the same
  * files in `listFiles`. Each case checks the entry point against the
  * plain read: the same rows, `inputFiles` within the read's, and the
  * same files the filtered read's scan selects.
  */
class GenTableSkippingSpec extends SparkSuite {
  import spark.implicits._

  /** Multi-file generations: AQE's partition coalescing would fold these
    * tiny fixtures to one or two files.
    */
  private def manyFiles[T](f: => T): T = {
    val (ck, sk) = ("spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
    val (oc, os) = (spark.conf.get(ck, "true"), spark.conf.get(sk))
    spark.conf.set(ck, "false")
    spark.conf.set(sk, "8")
    try f finally { spark.conf.set(ck, oc); spark.conf.set(sk, os) }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("k", "p", "v").collect().map(_.toString).sorted.toSeq

  /** The data files the planned scans of `df` select, filters applied. */
  private def scanned(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      .flatMap(s => s.relation.location.listFiles(s.partitionFilters,
        s.dataFilters))
      .flatMap(_.files.map(_.getPath.toString)).toSet

  /** `got` against `read(pin).filter(pred)`: equal rows, files within the
    * read's, and file for file what the filtered read's scan selects.
    */
  private def agrees(got: DataFrame, dir: String, pred: Column,
      pin: Option[Long] = None): Set[String] = {
    val read = GenTable.read(spark, dir, "p", asOfGen = pin)
    val want = read.filter(pred)
    assert(rows(got) == rows(want), "skipping changed the answer")
    val files = got.inputFiles.toSet
    assert(files.subsetOf(read.inputFiles.toSet),
      s"files outside the read's winning set: " +
        (files -- read.inputFiles).mkString(", "))
    val selected = scanned(want)
    assert(files == selected,
      s"entry point keeps $files, the filtered read's scan $selected")
    assert(scanned(got) == files)
    files
  }

  private def base(n: Int) = (1 to n).map(i =>
    (2L * i, if (i <= n / 2) "A" else "B", i.toDouble)).toDF("k", "p", "v")

  test("a generation with no sidecars that holds a partition a later " +
      "generation outranks contributes only its winning files") {
    val dir = s"${TempRoots.create("graft_skip_outranked_")}/t"
    manyFiles {
      GenTable.init(base(200).repartition(8), dir, "p")               // 0
      GenTable.merge(spark, dir, "p",                                  // 1
        Seq((10L, "A", 500.0, "upsert")).toDF("k", "p", "v", "_op"),
        Seq("k"), statsCols = Seq("v"), bloomCols = Seq("k"))
    }
    val snap = GenTable.snapshot(spark, dir, "p")
    assert(snap.parts.map(p => p.gen -> p.value.toString).toSet ==
      Set(1L -> "A", 0L -> "B"))
    val gen1 = snap.parts.filter(_.gen == 1L).flatMap(_.files).size
    def winningOnly(files: Set[String]) = assert(
      !files.exists(_.contains("/gen=0/p=A/")),
      s"an outranked gen=0/p=A file is scanned: $files")
    // gen 1 (stats) skips; gen 0 (no stats) keeps every p=B file
    val range = agrees(GenTable.readWhere(spark, dir, "p", "v", 5.0, 10.0),
      dir, col("v").between(5.0, 10.0))
    winningOnly(range)
    assert(range.count(_.contains("/gen=1/")) < gen1)
    winningOnly(agrees(
      GenTable.readWhere(spark, dir, "p", "v", 150.0, 160.0),
      dir, col("v").between(150.0, 160.0)))
    winningOnly(agrees(GenTable.readWhereEq(spark, dir, "p", "k", 300L),
      dir, col("k") === 300L))
    winningOnly(agrees(GenTable.readWhereEq(spark, dir, "p", "k", 10L),
      dir, col("k") === 10L))
  }

  test("an equality on a column with both sidecars keeps the files both " +
      "admit") {
    val dir = s"${TempRoots.create("graft_skip_both_")}/t"
    manyFiles(GenTable.init(base(400), dir, "p", statsCols = Seq("k"),
      bloomCols = Seq("k")))
    val total = GenTable.read(spark, dir, "p").inputFiles.length
    assert(total > 4, s"vacuous: $total files")
    val hit = agrees(GenTable.readWhereEq(spark, dir, "p", "k", 402L), dir,
      col("k") === 402L)
    assert(hit.size == 1, s"a clustered key lives in one file: $hit")
    // an absent (odd) key inside one file's recorded [min, max]: the
    // range admits that file on stats alone, and the bloom rejects it
    // for the equality
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val absent = graft.sources.GenCommit.readSmallFile(fs,
        new org.apache.hadoop.fs.Path(s"$dir/filestats/0")).split("\n")
      .map(_.split("\t")).collect { case Array(_, "k", mn, mx)
        if mx.toLong > mn.toLong + 1 => mn.toLong + 1 }.head
    assert(agrees(GenTable.readWhere(spark, dir, "p", "k", absent - 1,
      absent + 1), dir, col("k").between(absent - 1, absent + 1)).nonEmpty)
    assert(agrees(GenTable.readWhereEq(spark, dir, "p", "k", absent), dir,
      col("k") === absent).isEmpty)
  }

  test("files under partition directories whose names URL-encode match " +
      "their sidecar entries") {
    val dir = s"${TempRoots.create("graft_skip_escaped_")}/t"
    GenTable.init(Seq((1L, "a b", 1.0), (2L, "c%d", 2.0), (3L, "e:f", 3.0))
      .toDF("k", "p", "v"), dir, "p", statsCols = Seq("v"),
      bloomCols = Seq("k"))
    Seq(1L, 2L, 3L).foreach { k =>
      assert(agrees(GenTable.readWhere(spark, dir, "p", "v", k - 0.5,
        k + 0.5), dir, col("v").between(k - 0.5, k + 0.5)).size == 1)
      assert(agrees(GenTable.readWhereEq(spark, dir, "p", "k", k), dir,
        col("k") === k).size == 1)
    }
  }

  test("an asOfGen pin and row tombstones read through the same rule") {
    val dir = s"${TempRoots.create("graft_skip_pin_")}/t"
    manyFiles {
      GenTable.init(base(200), dir, "p", statsCols = Seq("v"))         // 0
      GenTable.merge(spark, dir, "p",                                  // 1
        Seq((12L, "A", 7.5, "upsert")).toDF("k", "p", "v", "_op"),
        Seq("k"), statsCols = Seq("v"))
    }
    GenTable.deleteRows(spark, dir, Seq(14L).toDF("k"))                // 2
    val range = col("v").between(5.0, 10.0)
    def keys(df: DataFrame) = df.select("k").as[Long].collect().toSet
    val pinned = GenTable.readWhere(spark, dir, "p", "v", 5.0, 10.0,
      asOfGen = Some(0L))
    agrees(pinned, dir, range, pin = Some(0L))
    assert(keys(pinned) == Set(10L, 12L, 14L, 16L, 18L, 20L))
    val masked = GenTable.readWhere(spark, dir, "p", "v", 5.0, 10.0)
    agrees(masked, dir, range)
    assert(keys(masked) == Set(10L, 12L, 16L, 18L, 20L))
    val eq = GenTable.readWhereEq(spark, dir, "p", "k", 14L)
    agrees(eq, dir, col("k") === 14L)
    assert(eq.isEmpty, "a tombstoned key must stay masked")
  }

  test("the lookup key hashes on the driver exactly as xxhash64 does in " +
      "a job") {
    val cases = Seq[(Any, DataType)](
      (42L, LongType), (7, IntegerType), (7, LongType), ("abc", StringType),
      (java.sql.Date.valueOf("2024-02-29"), DateType),
      (new java.math.BigDecimal("12.34"), DecimalType(10, 2)),
      (null, LongType), (null, StringType))
    cases.foreach { case (v, dt) =>
      val inJob = spark.range(1).select(xxhash64(lit(v).cast(dt)))
        .head().getLong(0)
      assert(GenTable.keyHash(spark, v, dt) == inJob, s"$v :: $dt")
    }
  }

  test("building a readWhere or readWhereEq launches no Spark job") {
    val dir = s"${TempRoots.create("graft_skip_jobs_")}/t"
    manyFiles(GenTable.init(base(200), dir, "p", statsCols = Seq("v"),
      bloomCols = Seq("k")))
    GenTable.deleteRows(spark, dir, Seq(4L).toDF("k"))
    assert(jobsDuring(GenTable.readWhereEq(spark, dir, "p", "k", 6L))
      .isEmpty)
    assert(jobsDuring(GenTable.readWhere(spark, dir, "p", "v", 1.0, 9.0))
      .isEmpty)
  }

  test("one readWhere's filesystem calls are pinned on a fixed table") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFs].getName)
    val dir = s"counting://${TempRoots.create("graft_skip_ops_")}/t"
    GenTable.init(base(20), dir, "p", statsCols = Seq("v"))            // 0
    GenTable.merge(spark, dir, "p",                                    // 1
      Seq((30L, "B", 15.5, "upsert")).toDF("k", "p", "v", "_op"),
      Seq("k"), statsCols = Seq("v"))
    CountingFs.reset()
    val df = GenTable.readWhere(spark, dir, "p", "v", 14.0, 16.0)
    val calls = CountingFs.calls
    def n(op: String) = calls.count(_._1 == op)
    // lists: commits, the winning directories gen=1/p=B and gen=0/p=A,
    // and the absent tombs table
    assert(n("list") == 4, calls.mkString("\n"))
    // opens: 2 manifests, partcol, the schema footer, and the filestats
    // sidecar of each winning generation
    assert(n("open") == 6, calls.mkString("\n"))
    assert(n("status") == 0, calls.mkString("\n"))
    CountingFs.reset()
    assert(df.select("k").as[Long].collect().toSet == Set(28L, 30L, 32L))
    // the scan's listFiles, planning the pushed range, reuses the
    // snapshot's parsed sidecars: no filestats sidecar is opened again
    assert(!CountingFs.calls.exists { case (op, p) =>
      op == "open" && p.contains("/filestats/") },
      CountingFs.calls.mkString("\n"))
  }
}
