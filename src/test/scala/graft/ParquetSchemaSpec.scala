package graft

import graft.sources.{GenCommit, GenTable, GenTableStream, ParquetSchema}
import graft.streaming.{IncrementalPipeline => IP}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Driver-side parquet schemas ([[ParquetSchema]]): the schema equals
  * Spark's own inference, building the table, tombstone and pipeline
  * frames launches no Spark job, and the satellites of the same change —
  * the lazy INSERT checkpoint, the temp + rename `zbounds` write and the
  * counted checkpoint leak.
  */
class ParquetSchemaSpec extends SparkSuite {
  import spark.implicits._

  private def fixture() = Seq(
    (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "B", 40.0),
    (5L, "C", 50.0)).toDF("k", "p", "v")

  private def readSet(dir: String) =
    GenTable.read(spark, dir, "p").select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def rates =
    Seq(("EUR", 1.0), ("USD", 1.1), ("GBP", 0.85)).toDF("currency", "rate")

  /** A GenTable with one tombstone generation, and a pipeline that ran
    * one batch: (table dir, source, target, ledger).
    */
  private def written(): (String, String, String, String) = {
    val root = TempRoots.create("graft_ps_")
    val dir = s"$root/t"
    GenTable.init(fixture(), dir, "p")
    GenTable.deleteRows(spark, dir, Seq(2L).toDF("k"))
    val (src, tgt, led) = (s"$root/src", s"$root/tgt", s"$root/ledger")
    gen.OrderGen.orders(spark, 40, seed = 3).write.parquet(src)
    IP.runBatch(spark, src, tgt, led, rates,
      java.sql.Timestamp.valueOf("2026-01-02 00:00:00"), maxBatch = 25)
    (dir, src, tgt, led)
  }

  /** The helper's data schema is Spark's inferred schema minus the
    * partition columns, and a read under it has Spark's full schema.
    */
  private def assertSameAsSpark(path: String, partCols: Set[String]) = {
    val inferred = spark.read.parquet(path).schema
    val mine = ParquetSchema.of(spark, path)
    assert(mine.isDefined, s"no driver-side schema for $path")
    assert(mine.get ==
      StructType(inferred.filterNot(f => partCols(f.name))), path)
    assert(spark.read.schema(mine.get).parquet(path).schema == inferred, path)
    assert(ParquetSchema.read(spark, path).schema == inferred, path)
  }

  test("the driver-side schema equals Spark's inference: every sf0.1 " +
      "dataset, a GenTable, its tombstones and a pipeline ledger") {
    val datasets = new java.io.File(sf01).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(datasets.nonEmpty)
    datasets.foreach(assertSameAsSpark(_, Set.empty))
    val (dir, src, tgt, led) = written()
    assertSameAsSpark(s"$dir/data", Set("gen", "p"))
    assertSameAsSpark(s"$dir/${GenCommit.TombsTable}", Set("gen"))
    assertSameAsSpark(src, Set.empty)
    assertSameAsSpark(tgt, Set.empty)
    assertSameAsSpark(led, Set.empty)
  }

  test("the file choice is Spark's: files of DIFFERENT schemas in one " +
      "directory resolve to the schema Spark's inference picks") {
    val dir = s"${TempRoots.create("graft_ps_mixed_")}/d"
    Seq((1L, "a")).toDF("x", "y").write.parquet(dir)
    Seq(2L).toDF("x").write.mode("append").parquet(dir)
    Seq((3L, 1.5, true)).toDF("x", "z", "w").write.mode("append").parquet(dir)
    Seq(("b", 4L)).toDF("y", "x").write.mode("append").parquet(dir)
    assertSameAsSpark(dir, Set.empty)
  }

  test("no data file: None, and the read fails exactly as Spark's; " +
      "schema merging keeps Spark's own inference") {
    val root = TempRoots.create("graft_ps_none_")
    val missing = s"$root/missing"
    assert(ParquetSchema.of(spark, root).isEmpty)
    assert(ParquetSchema.of(spark, missing).isEmpty)
    Seq(root, missing).foreach { p =>
      val theirs = intercept[AnalysisException](spark.read.parquet(p))
      val ours = intercept[AnalysisException](ParquetSchema.read(spark, p))
      assert(ours.getCondition == theirs.getCondition &&
        ours.getMessage == theirs.getMessage)
    }
    val (dir, _, _, _) = written()
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(ParquetSchema.of(spark, s"$dir/data").isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(ParquetSchema.of(spark, s"$dir/data").isDefined)
  }

  test("building GenTable.read, GenCommit.committedTable and the " +
      "pipeline's source, ledger and target frames launches no Spark job") {
    val (dir, src, tgt, led) = written()
    // the change-stream frames of the tombstone generation, both
    // granularities
    val committed = GenCommit.committed(spark, dir)
    val tombGen = committed.max
    val genStream = new GenTableStream(spark, dir, "p")
    val rowStream = new GenTableStream(spark, dir, "p", rowGranularity = true)
    var frames = Seq.empty[org.apache.spark.sql.DataFrame]
    val jobs = jobsDuring {
      frames = Seq(
        GenTable.read(spark, dir, "p"),
        GenCommit.committedTable(spark, dir, GenCommit.TombsTable),
        ParquetSchema.read(spark, src), // runBatch's source read
        IP.readParquetOrEmpty(spark, led, spark.emptyDataFrame),
        IP.targetView(spark, tgt),
        genStream.genFrame(tombGen),
        rowStream.rowFrame(tombGen, committed))
    }
    assert(jobs.isEmpty, s"frame building launched jobs: $jobs")
    // and the frames are the right ones
    assert(frames(0).count() == 4 && !readSet(dir).exists(_._1 == 2L))
    assert(frames(1).collect().map(_.getAs[Long]("k")).toSeq == Seq(2L))
    assert(frames(2).count() == 40 && frames(3).count() == 25 &&
      frames(4).count() == 25)
    def changes(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "_change").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(changes(frames(5)) == Seq((2L, "delete")))
    assert(changes(frames(6)) == Seq((2L, "delete")) &&
      frames(6).select("v").head().getDouble(0) == 20.0)
  }

  test("an empty insertRows launches no checkpoint job and leaves the " +
      "table unchanged") {
    val dir = s"${TempRoots.create("graft_ps_ins_")}/t"
    GenTable.init(fixture(), dir, "p")
    val before = readSet(dir)
    val gens = GenCommit.committed(spark, dir)
    // an empty result of a real scan (a local empty frame plans no job
    // at all, checkpoint or not)
    val src = s"${TempRoots.create("graft_ps_ins_src_")}/s"
    fixture().write.parquet(src)
    val empty = spark.read.parquet(src).filter(col("k") > 100L)
    val jobs = jobsDuring(GenTable.insertRows(spark, dir, "p", empty))
    assert(!jobs.exists(_.toLowerCase.contains("checkpoint")),
      s"an empty source was materialized: $jobs")
    assert(GenCommit.committed(spark, dir) == gens)
    assert(readSet(dir) == before)
    // the non-empty path commits, its touched-partition job filling the
    // lazy checkpoint — no separate checkpoint job there either
    val src2 = s"$src-more"
    Seq((6L, "D", 60.0), (7L, "A", 70.0)).toDF("k", "p", "v")
      .write.parquet(src2)
    val jobs2 = jobsDuring(
      GenTable.insertRows(spark, dir, "p", spark.read.parquet(src2)))
    assert(!jobs2.exists(_.toLowerCase.contains("checkpoint")), jobs2)
    assert(readSet(dir) == before + ((6L, "D", 60.0)) + ((7L, "A", 70.0)))
  }

  test("zbounds is written by temp + rename: a writer killed mid-write " +
      "leaves the previous record intact, and its leftover temp file " +
      "never changes the record readers parse") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashy.impl", classOf[CrashyLocalFs].getName)
    val dir = s"crashy://${TempRoots.create("graft_ps_zb_")}/t"
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val zb = new org.apache.hadoop.fs.Path(s"$dir/zbounds")
    def record(): String = GenCommit.readSmallFile(f, zb)
    def temps() = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith(".zbounds.tmp_")).toSet
    def upsert(k: Long, stats: Seq[String]) = GenTable.merge(spark, dir, "p",
      Seq((k, "C", k * 10.0, "upsert")).toDF("k", "p", "v", "_op"),
      Seq("k"), statsCols = stats, zorder = true)
    GenTable.init(fixture(), dir, "p", statsCols = Seq("v", "k"),
      zorder = true)
    val rec0 = record()
    assert(rec0.startsWith("v\t") && rec0.split("\n").length == 2 &&
      temps().isEmpty, s"init must leave one record and no temp: $rec0")
    // a statement whose layout differs must re-record — kill it mid-write
    CrashyLocalFs.armed.set(true)
    val e = try intercept[Exception](upsert(9L, Seq("v")))
      finally CrashyLocalFs.armed.set(false)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected crash")),
      s"the merge failed for another reason: $e")
    assert(record() == rec0, "a writer killed mid-write tore the record")
    assert(temps().size == 1, "the killed writer leaves its temp file")
    // the leftover temp file does not change what the next statement
    // parses: it reuses the intact record verbatim
    upsert(10L, Seq("v", "k"))
    assert(record() == rec0)
    assert(readSet(dir).exists(_._1 == 10L) && !readSet(dir).exists(_._1 == 9L))
    // a completed re-record replaces the record whole, leaving no temp
    upsert(11L, Seq("v"))
    assert(record().startsWith("v\t") && record().split("\n").length == 1)
    assert(temps().size == 1)
  }

  test("Ckpt: an owner whose checkpoint RDD cannot be resolved is " +
      "counted (and warned), never silent; a real checkpoint is not") {
    val n0 = Ckpt.unresolved
    val ck = spark.range(10).toDF("x").localCheckpoint()
    assert(Ckpt.ownedRdd(ck, "spec").isDefined)
    Ckpt.free(ck)
    assert(Ckpt.unresolved == n0)
    // a derived frame is no bare checkpoint: freeing it frees nothing
    Ckpt.free(ck.filter(col("x") > 3))
    assert(Ckpt.unresolved == n0 + 1)
  }
}

/** The local filesystem under its own `crashy:` scheme, whose writes of
  * a `zbounds` file can be made to die after a few bytes — the crash
  * point that tears a record written in place. Instantiated by Hadoop
  * from `fs.crashy.impl`; other schemes never see it.
  */
class CrashyLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashy:///")
  override def getScheme: String = "crashy"

  // RawLocalFileSystem loads a status's permissions through a `file:`
  // URI; plain statuses carry none and never do
  private def plain(s: org.apache.hadoop.fs.FileStatus) =
    new org.apache.hadoop.fs.FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
  override def getFileStatus(
      f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus =
    plain(super.getFileStatus(f))
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(plain)

  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = crashing(f,
    super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = crashing(f,
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  private def crashing(f: org.apache.hadoop.fs.Path,
      out: org.apache.hadoop.fs.FSDataOutputStream) =
    if (!CrashyLocalFs.armed.get || !f.getName.contains("zbounds")) out
    else new org.apache.hadoop.fs.FSDataOutputStream(
      new java.io.FilterOutputStream(out) {
        private var left = 8
        override def write(b: Int): Unit = {
          if (left == 0) throw new java.io.IOException("injected crash")
          left -= 1
          out.write(b)
        }
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          (off until off + len).foreach(i => write(b(i).toInt))
      }, null)
}

object CrashyLocalFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
