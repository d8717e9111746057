package graft

import graft.sources.{GenCommit, GenTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** [[GenTable.snapshot]] and the driver-folded tombstone mask: a masked
  * read returns the rows of the planned mask in every shape of delete,
  * launches the jobs of an unmasked read, falls back (counted) past the
  * broadcast threshold, and resolves the table once — pinned by a count
  * of filesystem calls through the `counting:` file system.
  */
class GenTableSnapshotSpec extends SparkSuite {
  import spark.implicits._

  private def fixture() = Seq(
    (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "B", 40.0),
    (5L, "C", 50.0)).toDF("k", "p", "v")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def keys(df: DataFrame): Set[Long] =
    df.select("k").collect().map(_.getLong(0)).toSet

  private val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(f: => T): T = {
    val old = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, v)
    try f finally spark.conf.set(thresholdKey, old)
  }

  /** `read`'s rows with the mask folded on the driver, after checking
    * they equal the planned mask's (threshold disabled); `masked` says
    * whether the view holds committed tombstones, i.e. whether the
    * planned run must take the counted fallback.
    */
  private def bothWays(masked: Boolean)(read: => DataFrame): Seq[String] = {
    val before = GenCommit.TombFallback.masks
    val driver = rows(read)
    assert(GenCommit.TombFallback.masks == before,
      "the driver-side fold fell back under the default threshold")
    val planned = withThreshold("-1")(rows(read))
    assert(GenCommit.TombFallback.masks == before + (if (masked) 1 else 0))
    assert(driver == planned, "the driver-side mask changed the rows")
    driver
  }

  private def useCountingFs(): Unit = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFs].getName)
  }

  test("single key: deletes, an absent-key delete, revival and every " +
      "as-of pin read the planned mask's rows") {
    val dir = s"${TempRoots.create("graft_snap_one_")}/t"
    GenTable.init(fixture(), dir, "p")                                 // 0
    GenTable.deleteRows(spark, dir, Seq(1L, 3L).toDF("k"))             // 1
    GenTable.deleteRows(spark, dir, Seq(99L).toDF("k"))                // 2
    GenTable.merge(spark, dir, "p",                                    // 3
      Seq((1L, "A", 11.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"))
    def read(pin: Option[Long]) = GenTable.read(spark, dir, "p", pin)
    def ks(pin: Option[Long], masked: Boolean) =
      bothWays(masked)(read(pin)).map(_.stripPrefix("[").split(",")(0).toLong)
        .toSet
    assert(ks(Some(0L), masked = false) == Set(1L, 2L, 3L, 4L, 5L))
    assert(ks(Some(1L), masked = true) == Set(2L, 4L, 5L))
    assert(ks(Some(2L), masked = true) == Set(2L, 4L, 5L))
    assert(ks(None, masked = true) == Set(1L, 2L, 4L, 5L), "revival lost")
    assert(bothWays(masked = true)(read(None)).contains("[1,11.0,A]"))
    // a timestamp pin resolves to the generation it names
    (0L to 3L).foreach { g =>
      val ts = GenCommit.commitTs(spark, dir, g).get
      val at = GenTable.genAtTs(spark, dir, ts)
      assert(bothWays(masked = at >= 1)(
        GenTable.read(spark, dir, "p", asOfTs = Some(ts))) ==
        rows(read(Some(at))))
    }
  }

  test("composite and NULL keys: the null-safe key join survives the " +
      "driver-side fold") {
    val dir = s"${TempRoots.create("graft_snap_nulls_")}/t"
    val t = Seq[(java.lang.Long, String, String, Double)](
      (1L, "x", "A", 1.0), (1L, "y", "A", 2.0), (2L, null, "B", 3.0),
      (null, "z", "B", 4.0), (null, null, "C", 5.0), (3L, "x", "C", 6.0),
      (4L, "w", null, 7.0)).toDF("k", "s", "p", "v")
    GenTable.init(t, dir, "p")
    GenTable.deleteRows(spark, dir,
      Seq[(java.lang.Long, String)]((1L, "x"), (2L, null), (null, null),
        (4L, "w"), (9L, "q")).toDF("k", "s"))
    val got = bothWays(masked = true)(
      GenTable.read(spark, dir, "p").select("k", "s", "p", "v"))
    assert(got == Seq("[1,y,A,2.0]", "[3,x,C,6.0]", "[null,z,B,4.0]"))
  }

  test("all-emptied views and a schema-evolved table read the planned " +
      "mask's rows") {
    // every key tombstoned: the mask empties the view
    val gone = s"${TempRoots.create("graft_snap_gone_")}/t"
    GenTable.init(fixture(), gone, "p")
    GenTable.deleteRows(spark, gone, Seq(1L, 2L, 3L, 4L, 5L).toDF("k"))
    assert(bothWays(masked = true)(GenTable.read(spark, gone, "p")).isEmpty)
    // every partition emptied by a merge, after a delete: no resolved
    // generation holds a file, so the snapshot has no schema
    val empty = s"${TempRoots.create("graft_snap_empty_")}/t"
    GenTable.init(fixture(), empty, "p")
    GenTable.deleteRows(spark, empty, Seq(1L).toDF("k"))
    GenTable.merge(spark, empty, "p",
      fixture().withColumn("_op", lit("delete")), Seq("k"))
    assert(GenTable.snapshot(spark, empty, "p").schema.isEmpty)
    val view = GenTable.read(spark, empty, "p")
    assert(view.columns.toSeq == Seq("k", "v", "p") && view.isEmpty)
    // an evolved merge adds a column; deletes straddle both footers
    val evo = s"${TempRoots.create("graft_snap_evo_")}/t"
    GenTable.init(fixture(), evo, "p")
    GenTable.merge(spark, evo, "p",
      Seq((3L, "B", 31.0, "n3", "upsert"), (6L, "B", 60.0, "n6", "upsert"))
        .toDF("k", "p", "v", "note", "_op"), Seq("k"), evolveSchema = true)
    GenTable.deleteRows(spark, evo, Seq(1L, 6L).toDF("k"))
    val got = bothWays(masked = true)(
      GenTable.read(spark, evo, "p").select("k", "note", "p"))
    assert(got == Seq("[2,null,A]", "[3,n3,B]", "[4,null,B]", "[5,null,C]"))
  }

  test("a masked read launches the jobs of the unmasked read, and none " +
      "of them opens a tombstone file") {
    useCountingFs()
    val dir = s"counting://${TempRoots.create("graft_snap_jobs_")}/t"
    GenTable.init(fixture(), dir, "p")
    def agg() = GenTable.read(spark, dir, "p").filter(col("p") =!= "C")
      .groupBy("p").count().collect()
    val unmasked = jobsDuring(agg())
    GenTable.deleteRows(spark, dir, Seq(1L).toDF("k"))
    val frame = GenTable.read(spark, dir, "p").filter(col("p") =!= "C")
      .groupBy("p").count()
    CountingFs.reset()
    val masked = jobsDuring(assert(frame.collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap == Map("A" -> 1L, "B" -> 2L)))
    assert(masked.size == unmasked.size,
      s"masked read jobs $masked, unmasked read jobs $unmasked")
    val tombOpens = CountingFs.calls.filter { case (op, p) =>
      op == "open" && p.contains(s"/${GenCommit.TombsTable}/") }
    assert(tombOpens.isEmpty, s"a job read tombstones: $tombOpens")
    assert(jobsDuring(agg()).size == unmasked.size)
  }

  test("a disabled threshold, and one below the tombstone bytes, take " +
      "the counted planned fold and return the same rows") {
    val dir = s"${TempRoots.create("graft_snap_fallback_")}/t"
    GenTable.init(fixture(), dir, "p")
    GenTable.deleteRows(spark, dir, Seq(2L, 5L).toDF("k"))
    val want = rows(GenTable.read(spark, dir, "p"))
    val tombBytes = GenTable.snapshot(spark, dir, "p").tombFiles
      .map(_._2.getLen).sum
    assert(tombBytes > 1)
    Seq("-1", (tombBytes - 1).toString).foreach { t =>
      val before = GenCommit.TombFallback.masks
      assert(withThreshold(t)(rows(GenTable.read(spark, dir, "p"))) == want)
      assert(GenCommit.TombFallback.masks == before + 1, s"threshold $t")
    }
    // at exactly the tombstone bytes the fold stays on the driver
    val before = GenCommit.TombFallback.masks
    assert(withThreshold(tombBytes.toString)(
      rows(GenTable.read(spark, dir, "p"))) == want)
    assert(GenCommit.TombFallback.masks == before)
    assert(want.size == 3)
  }

  test("one read resolves the table once: its filesystem calls are " +
      "pinned on a fixed table") {
    useCountingFs()
    val dir = s"counting://${TempRoots.create("graft_snap_ops_")}/t"
    GenTable.init(fixture(), dir, "p")                                 // 0
    GenTable.merge(spark, dir, "p",                                    // 1
      Seq((3L, "B", 31.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"))
    GenTable.deleteRows(spark, dir, Seq(1L).toDF("k"))                 // 2
    val snap = GenTable.snapshot(spark, dir, "p")
    val tombFiles = snap.tombFiles.size
    assert(tombFiles >= 1 && snap.parts.size == 3)
    CountingFs.reset()
    val df = GenTable.read(spark, dir, "p")
    val calls = CountingFs.calls
    def n(op: String) = calls.count(_._1 == op)
    // lists: commits, the winning directories gen=1/p=B, gen=0/p=A and
    // gen=0/p=C, tombs and tombs/gen=2 (three commits are too few for a
    // log checkpoint, so logckpts goes unlisted)
    assert(n("list") == 6, calls.mkString("\n"))
    // opens: 3 manifests, partcol, tombkeys, the schema footer, the
    // tombstone schema footer, and each tombstone file
    assert(n("open") == 7 + tombFiles, calls.mkString("\n"))
    // status: Spark's file reader looks up each tombstone file it reads
    assert(n("status") == tombFiles, calls.mkString("\n"))
    assert(keys(df) == Set(2L, 3L, 4L, 5L))
  }

  test("a steady-state batch lists the ledger and its consumed record " +
      "once each") {
    import graft.streaming.{IncrementalPipeline => IP}
    useCountingFs()
    val root = TempRoots.create("graft_snap_ledger_")
    val (src, tgt, led) = (s"counting://$root/src", s"counting://$root/tgt",
      s"counting://$root/ledger")
    val rates = Seq(("EUR", 1.0), ("USD", 1.1)).toDF("currency", "rate")
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-02 $h%02d:00:00")
    def hour(h: Int) = gen.OrderGen.orders(spark, 20, seed = 100 + h)
      .repartition(2).write.mode("append").parquet(src)
    hour(0)
    IP.runBatch(spark, src, tgt, led, rates, ts(1))
    hour(1)
    CountingFs.reset()
    assert(IP.runBatch(spark, src, tgt, led, rates, ts(2)) ==
      IP.BatchResult(20, 20))
    val lists = CountingFs.calls.collect { case ("list", p) => p }
    def listed(p: String) = lists.count(_ == s"$root/ledger$p")
    assert(listed("") == 1 && listed("/_consumed") == 1, lists.mkString("\n"))
  }

  test("each write statement lists commits/ once — the claim's listing " +
      "serves its snapshot and its checkpoint decision; insertRows adds " +
      "its pre-claim schema check") {
    useCountingFs()
    val root = TempRoots.create("graft_snap_commits_")
    val dir = s"counting://$root/t"
    GenTable.init(fixture(), dir, "p")                                 // 0
    def commitsLists(statement: => Unit): Int = {
      CountingFs.reset()
      statement
      CountingFs.calls.count(_ == ("list" -> s"$root/t/commits"))
    }
    val merge = commitsLists(GenTable.merge(spark, dir, "p",          // 1
      Seq((6L, "A", 60.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k")))
    val update = commitsLists(GenTable.updateWhere(spark, dir, "p",   // 2
      col("k") === 3L, Seq("v" -> lit(33.0))))
    val delete = commitsLists(                                         // 3
      GenTable.deleteRows(spark, dir, Seq(4L).toDF("k")))
    val add = commitsLists(GenTable.addColumns(spark, dir,            // 4
      Seq("w" -> org.apache.spark.sql.types.IntegerType)))
    val insert = commitsLists(GenTable.insertRows(spark, dir, "p",    // 5
      Seq((7L, "C", 70.0, Option.empty[Int])).toDF("k", "p", "v", "w")))
    assert((merge, update, delete, add, insert) == ((1, 1, 1, 1, 2)))
    assert(GenCommit.committed(spark, dir) == (0L to 5L))
    assert(GenTable.read(spark, dir, "p").select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSet ==
      Set(1L -> 10.0, 2L -> 20.0, 3L -> 33.0, 5L -> 50.0, 6L -> 60.0,
        7L -> 70.0))
  }
}

/** The local file system under the `counting:` scheme, recording every
  * list, status and open call a caller makes, with its path — not the
  * calls the file system makes to itself while serving one.
  */
class CountingFs extends KillPointFs {
  override def getUri: java.net.URI = java.net.URI.create("counting:///")
  override def getScheme: String = "counting"

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    CountingFs.record("status", f)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    CountingFs.record("list", f)(super.listStatus(f))
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    CountingFs.record("open", f)(super.open(f, bufferSize))
}

object CountingFs {
  private val seen =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  def record[T](op: String, f: Path)(call: => T): T = {
    val d = depth.get
    if (d == 0) seen.add(op -> f.toUri.getPath)
    depth.set(d + 1)
    try call finally depth.set(d)
  }
  def reset(): Unit = seen.clear()
  def calls: Seq[(String, String)] = seen.asScala.toSeq
}
