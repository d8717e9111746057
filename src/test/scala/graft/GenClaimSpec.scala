package graft

import graft.ops.{ClusterStore, Inverted}
import graft.sources.{GenCommit, GenTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Every claimed writer runs its body through [[GenCommit.withClaim]]: a
  * failure after the claim and before publishing releases the claim, so
  * the next write commits at once instead of waiting on a dead claim; and
  * a z-ordered statement records its z-bounds only once it commits.
  * Failures are forced by a column the writer cannot find, or by the
  * `killpoint:` file system at the publish rename.
  */
class GenClaimSpec extends SparkSuite {
  import spark.implicits._

  private def useKillPointFs(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.killpoint.impl", classOf[KillPointFs].getName)

  private def fixture() = Seq(
    (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "C", 40.0))
    .toDF("k", "p", "v")

  private def rows(dir: String) = GenTable.read(spark, dir, "p")
    .select("k", "p", "v").collect()
    .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  /** Claimed generations that never committed. */
  private def outstanding(dir: String): Seq[Long] =
    GenCommit.claimedGens(spark, dir)
      .filterNot(GenCommit.committed(spark, dir).toSet)

  /** `f`, with the `killpoint:` file system failing every rename `at`
    * selects while it runs; `f` must fail there.
    */
  private def killedAt(at: (Path, Path) => Boolean)(f: => Unit): Unit = {
    KillPointFs.armed.set(Some(at))
    val e = try intercept[Throwable](f) finally KillPointFs.armed.set(None)
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected crash")),
      s"the writer failed for another reason: $e")
    throw e
  }

  /** Publish's rename of a staged generation into `table`. */
  private def publishInto(table: String)(src: Path, dst: Path): Boolean =
    dst.getParent.getName == table && dst.getName.startsWith("gen=")

  // each GenTable writer, failing after its claim and before its publish
  private val tableWriters: Seq[(String, String => Unit)] = Seq(
    "merge" -> (d => GenTable.merge(spark, d, "p",
      Seq((5L, "A", 50.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"),
      statsCols = Seq("nope"))),
    "insertRows" -> (d => GenTable.insertRows(spark, d, "p",
      Seq((5L, "A", 50.0)).toDF("k", "p", "v"), statsCols = Seq("nope"))),
    "updateWhere" -> (d => GenTable.updateWhere(spark, d, "p",
      col("k") === 1L, Seq("v" -> lit(11.0)), statsCols = Seq("nope"))),
    "deleteRows" -> (d => killedAt(publishInto(GenCommit.TombsTable))(
      GenTable.deleteRows(spark, d, Seq(1L).toDF("k")))),
    // the column exists: refused once the claimed snapshot is read
    "addColumns" -> (d => GenTable.addColumns(spark, d,
      Seq("v" -> org.apache.spark.sql.types.DoubleType))),
    "compact" -> (d => GenTable.compact(spark, d, "p",
      statsCols = Seq("nope"))),
    "replace" -> (d => GenTable.replace(fixture(), d, "p",
      statsCols = Seq("nope"))))

  tableWriters.foreach { case (name, fail) =>
    test(s"GenTable.$name failing before its publish releases its claim; " +
        "the next merge commits at once") {
      useKillPointFs()
      val dir = s"killpoint://${TempRoots.create(s"graft_claim_$name")}/t"
      GenTable.init(fixture(), dir, "p")
      GenTable.merge(spark, dir, "p",
        Seq((2L, "A", 22.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"))
      val (before, gens) = (rows(dir), GenCommit.committed(spark, dir))
      intercept[Throwable](fail(dir))
      assert(outstanding(dir).isEmpty,
        s"$name left claim(s) ${outstanding(dir)}")
      assert(GenCommit.committed(spark, dir) == gens && rows(dir) == before)
      GenTable.merge(spark, dir, "p",
        Seq((9L, "B", 90.0, "upsert")).toDF("k", "p", "v", "_op"), Seq("k"),
        overlapWaitMs = 400)
      assert(GenCommit.committed(spark, dir).size == gens.size + 1)
      assert(rows(dir) == before + ((9L, "B", 90.0)))
    }
  }

  test("ClusterStore.merge and remove failing before their publish " +
      "release their claim; the next merge commits at once") {
    val dir = TempRoots.create("graft_claim_cstore_")
    ClusterStore.init(Seq((1L, 1L), (2L, 1L)).toDF("id", "comp"), dir)
    def labels() = ClusterStore.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val failing = Seq[() => Unit](
      () => ClusterStore.merge(spark, dir,
        Seq((2L, 3L)).toDF("doc_a", "doc_b"), aCol = "nope"),
      () => ClusterStore.remove(spark, dir, Seq(1L).toDF("id"),
        idCol = "nope"))
    failing.foreach { fail =>
      intercept[Throwable](fail())
      assert(outstanding(dir).isEmpty, s"claim(s) left: ${outstanding(dir)}")
    }
    ClusterStore.merge(spark, dir, Seq((2L, 3L)).toDF("doc_a", "doc_b"))
    assert(GenCommit.committed(spark, dir) == Seq(0L, 1L))
    assert(labels() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("an index append failing before its publish releases its claim") {
    val dir = TempRoots.create("graft_claim_inv_")
    val docs = Seq((1L, "red fox"), (2L, "blue fox")).toDF("doc_id", "text")
    Inverted.invBuild(docs, dir, nBuckets = 4)
    intercept[Throwable](Inverted.invAppend(spark, dir, docs.select("doc_id")))
    assert(outstanding(dir).isEmpty, s"claim(s) left: ${outstanding(dir)}")
    Inverted.invAppend(spark, dir,
      Seq((3L, "green fox")).toDF("doc_id", "text"))
    assert(GenCommit.committed(spark, dir).size == 2)
  }

  test("a z-ordered merge killed at its publish rename leaves the zbounds " +
      "record byte-identical; committed, it re-records the boundaries") {
    useKillPointFs()
    val dir = s"killpoint://${TempRoots.create("graft_claim_zb_")}/t"
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def record() = GenCommit.readSmallFile(f, new Path(s"$dir/zbounds"))
    GenTable.init(Seq((1L, "A", 10.0, 1.0), (2L, "A", 20.0, 5.0),
      (3L, "B", 30.0, 2.0), (4L, "C", 40.0, 8.0)).toDF("k", "p", "v", "w"),
      dir, "p", statsCols = Seq("v"), zorder = true)
    val rec0 = record()
    assert(rec0.startsWith("v\t") && rec0.split("\n").length == 1, rec0)
    def merge() = GenTable.merge(spark, dir, "p",
      Seq((5L, "B", 50.0, 3.0, "upsert")).toDF("k", "p", "v", "w", "_op"),
      Seq("k"), statsCols = Seq("v", "w"), zorder = true,
      overlapWaitMs = 400)
    intercept[Throwable](killedAt(publishInto("data"))(merge()))
    assert(record() == rec0, "a failed statement replaced the record")
    assert(outstanding(dir).isEmpty && GenCommit.committed(spark, dir) ==
      Seq(0L))
    merge()
    assert(record().split("\n").map(_.split("\t").head).toSeq ==
      Seq("v", "w"))
    assert(GenTable.read(spark, dir, "p").count() == 5)
  }
}
