package graft.streaming

import graft.ops.Convert
import graft.sources.{GenCommit, ParquetSchema}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import scala.util.{Failure, Success, Try}

/** x04_stream_incremental: the reference pipeline's core semantics —
  * "pick up unprocessed rows, convert, append, mark processed, exactly
  * once" (`dags/order_currency_conversion_dag.py:87-157`) — re-expressed
  * for Spark's execution model (SURVEY.md §7.4).
  *
  * The reference's machinery maps as:
  *  - `SELECT ... WHERE processed_at IS NULL ... FOR UPDATE` (:87-95)
  *    → LEFT ANTI join against a processed-ids LEDGER (q07's primitive);
  *  - `UPDATE orders SET processed_at = ...` writeback (:141-150)
  *    → append the picked ids to the ledger;
  *  - two-phase cross-DB commit (:156-157) → the same commit ORDER (target
  *    append first, ledger second): a crash between the two re-delivers the
  *    batch (at-least-once), and the target PK that deduped replays in the
  *    reference (`init/postgres-2/init.sql:2`, §2.1.6) → [[targetView]]'s
  *    keep-first dedup on order_id (exactly-once effect via idempotency).
  *    The ledger append is WRITTEN while the target append runs, into the
  *    ledger's hidden `_staging/<token>` directory, and PUBLISHED (its part
  *    file renamed into the ledger) only after the target append returns —
  *    the order holds, and the two writes overlap;
  *  - `LIMIT 30000` batch cap (:91) → deterministic `orderBy.limit` pick;
  *  - hourly schedule (:14) → either driver-looped [[runBatch]] or the
  *    [[stream]] form with a micro-batch trigger + checkpoint.
  *
  * Scale notes (100 TB): pickup is one anti hash-join of source against
  * the ledger keyed by order_id; conversion is the broadcast-join kernel
  * (shuffle-free); both appends are partition-parallel writes. The ledger
  * stays O(processed ids); compact it periodically (or age it out once
  * source partitions are immutable-and-complete) exactly like any
  * streaming state store.
  *
  * Consumed record: [[runBatch]] keeps, in the ledger's hidden
  * `_consumed/` directory, one line per source file it has fully consumed
  * (relative path, length, modification time), written by temp file +
  * rename after the ledger publish. A batch lists the source with Spark's
  * leaf-listing rules and reads only the files not recorded, so each
  * source row is read once, not once per batch of history. A file is
  * recorded only when the batch took every fresh row it holds — the
  * candidates' footers count at most the cap, or fewer rows than the cap
  * were picked — so a backlog over the cap stays unrecorded until it
  * drains. Every row of a recorded file is in the ledger; a file
  * rewritten in place has a new length or time and is read again, its
  * ledgered ids still anti-joined away. [[compactLedger]] carries the
  * record into the compacted ledger as one file. Records of source files
  * deleted later stay until the ledger is rebuilt.
  *
  * Per-batch cost: an hourly batch is at most 30,000 rows, so its
  * latency is set by fixed per-operation work, not data volume. A batch
  * reads its new files once, runs no top-K when they cannot exceed the
  * cap, overlaps the two appends, and joins the day's rates as a local
  * relation whose broadcast launches no job. Its frames take their
  * schemas from footer reads on the driver
  * ([[graft.sources.ParquetSchema]]), not the inference job a
  * schema-less `spark.read.parquet` launches. An idle tick — no new
  * source file — lists two directories and launches no job.
  *
  * Ledger Blooms: every ledger data file has a Bloom sidecar in the
  * ledger's hidden `_blooms/` directory (`<data file name>.bloom`) over
  * `xxhash64(order_id)` — the hash `graft_bloom_agg` and
  * `graft_might_contain` use — sized from the file's row count at a
  * per-file false-positive rate of 1e-8 (≈38 bits per id). A sidecar
  * holds its data file's length, then the filter in
  * `org.apache.spark.util.sketch.BloomFilter`'s own format; it is written
  * by temp file + rename before its data file is published, so every
  * ledger file's Bloom admits every id in that file. A batch that can
  * take every fresh row loads the ledger's Blooms on the driver, ships
  * them as one broadcast, and checks each fresh id against them in the
  * job that fills its cache and counts it. No admitted id: the pick is
  * every fresh row, and the ledger itself is not read. An admitted id,
  * or a ledger file whose Bloom is missing, unreadable or records
  * another length: the batch runs the exact anti-join against the whole
  * ledger, counted per reason ([[Fallback]]) and logged. A ledger
  * written before the Blooms existed has none, so it takes the exact
  * path until [[compactLedger]] — which writes a Bloom for every file it
  * writes — next rewrites it. The probe's scale: ≈38 bits per ledgered id
  * read on the driver per batch, against 32-byte ids scanned and hashed
  * into a broadcast relation by the exact anti-join.
  */
object IncrementalPipeline {

  final case class BatchResult(picked: Long, appended: Long)

  private val log =
    org.slf4j.LoggerFactory.getLogger("graft.streaming.IncrementalPipeline")

  /** Why a batch that could take every fresh row ran the exact anti-join
    * against the whole ledger instead of the Bloom-checked pick. Each
    * such batch is counted here and logged at WARN.
    */
  sealed abstract class Fallback(val reason: String) {
    private[IncrementalPipeline] val count = new AtomicLong
    /** Process-wide count of batches that fell back for this reason. */
    def batches: Long = count.get
  }
  /** A ledger data file's Bloom is missing, unreadable, or records
    * another length than the file's.
    */
  object MissingBloom extends Fallback("a ledger file has no valid Bloom")
  /** A fresh id is admitted by a ledger Bloom (ledgered, or a false
    * positive).
    */
  object FlaggedId extends Fallback("a ledger Bloom admits a fresh id")

  private def fellBack(f: Fallback, detail: String): Unit = {
    f.count.incrementAndGet()
    log.warn(s"ledger probe: ${f.reason} ($detail); running the exact " +
      "anti-join against the whole ledger")
  }

  /** The pickup stage — "unprocessed rows, deterministic order, capped"
    * (`dags/order_currency_conversion_dag.py:87-95`): one LEFT ANTI
    * hash-join of the source against the processed-ids ledger. Factored out
    * so the DECLARED query q46_incremental_pick ([[graft.ops.Convert.q46]])
    * runs the exact plan [[runBatch]] runs — the driver's DuckDB oracle
    * gates the pipeline's pickup semantics, not a restatement of them.
    */
  def pickup(source: DataFrame, ledgerIds: DataFrame,
      keyCol: String, maxBatch: Int): DataFrame =
    source.join(ledgerIds.select(keyCol), Seq(keyCol), "left_anti")
      .orderBy(keyCol)
      .limit(maxBatch)

  /** All ledger filesystem ops go through the Hadoop FileSystem API, so the
    * ledger works on any Hadoop-supported store (HDFS, S3A, local) — a
    * `java.io.File` check against an `hdfs://` path silently reports
    * "missing" and would re-deliver the whole source every batch.
    * NOTE: the compaction swap relies on `rename`; on object stores without
    * atomic rename (raw S3) use a rename-capable committer/locking layer.
    */
  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** `dir` read as parquet; empty, with `like`'s schema, when it holds no
    * data file — missing, or a ledger whose first batch died after
    * staging.
    */
  private[graft] def readParquetOrEmpty(spark: SparkSession, dir: String, like: DataFrame): DataFrame = {
    // a local empty relation: the optimizer drops an anti-join against it
    def empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), like.schema)
    val (fs, p) = fsFor(spark, dir)
    if (!fs.exists(p)) empty
    else ParquetSchema.of(spark, dir) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None if ParquetSchema.dataFiles(spark, dir).nonEmpty =>
        spark.read.parquet(dir)
      case None => empty
    }
  }

  /** Convert one picked batch to the orders_eur target shape
    * (`init/postgres-2/init.sql:1-11`): reference-exact semantics — EUR
    * branch skips conversion and rounding, missing rate defaults to 1.0,
    * HALF_EVEN 2-dp round, one batch-constant timestamp.
    */
  def convertBatch(batch: DataFrame, rates: DataFrame, batchTs: Timestamp): DataFrame = {
    val joined = batch.join(broadcast(rates), Seq("currency"), "left")
    joined.select(
      col("order_id"),
      col("customer_email"),
      col("order_date"),
      col("amount").as("original_amount"),
      col("currency").as("original_currency"),
      Convert.convertExact(col("amount"), col("currency"), col("rate"))
        .cast("decimal(12,2)").as("amount_eur"),
      coalesce(col("rate"), lit(1.0)).cast("decimal(16,6)").as("exchange_rate"),
      lit(batchTs).as("exchange_rate_date"),
      lit(batchTs).as("processed_at"))
  }

  /** One incremental run. Idempotent under re-delivery: pickup anti-joins
    * the ledger, so an already-ledgered order is never converted twice, and
    * a crash after the target append but before the ledger append only
    * duplicates rows that [[targetView]] dedups by order_id.
    *
    * Only the source files the consumed record does not list are read
    * (see the object doc). When their footers hold at most `maxBatch`
    * rows, every fresh row is the pick: the batch is the plain anti-join,
    * with no top-K. Otherwise it is [[pickup]] over those files. Either
    * way the target and ledger each get one file, ordered by order_id.
    */
  def runBatch(
      spark: SparkSession,
      sourceDir: String,
      targetDir: String,
      ledgerDir: String,
      rates: DataFrame,
      batchTs: Timestamp,
      maxBatch: Int = 30000,
      // the conversion body is pluggable so the DECLARED q46b gate can run
      // the oracle-parity multiply form (Convert.convertDeclared) through
      // the SAME pickup→target-append→ledger-append transaction; the
      // default stays the reference-exact divide form
      convert: (DataFrame, DataFrame, Timestamp) => DataFrame = convertBatch): BatchResult = {
    // repair an interrupted batch or swap; its listings serve the batch
    val listed = recover(spark, ledgerDir)
    val (fs, _) = fsFor(spark, ledgerDir)
    val consumed = consumedLines(fs, listed.consumed)
    val (srcFs, src) = fsFor(spark, sourceDir)
    require(srcFs.exists(src), s"source directory $sourceDir does not exist")
    val root = srcFs.makeQualified(src).toUri
    val unread = ParquetSchema.dataFiles(spark, sourceDir)
      .map(f => consumedLine(root, f) -> f).filterNot(e => consumed(e._1))
    if (unread.isEmpty) return BatchResult(0, 0) // idle tick: no job
    val files = unread.map(_._2)

    val source = readFiles(spark, sourceDir, files)
    // the footers' row counts bound the fresh rows; summing stops past the
    // cap
    val footerRows = files.iterator.map(ParquetSchema.rowCount(spark, _))
      .scanLeft(0L)(_ + _).takeWhile(_ <= maxBatch).toSeq
    val underCap = footerRows.size > files.size
    // R2+R3: unprocessed pickup, capped — deterministic order (D1) instead
    // of the reference's bare LIMIT; the q46-declared primitive when the
    // cap can bind, every fresh row (no top-K) when it cannot
    val pick =
      if (underCap)
        pickFresh(spark, source, ledgerDir, Some(footerRows.last), listed.top)
      else counted(pickup(source, ledgerIds(spark, ledgerDir, source),
        "order_id", maxBatch).cache(), Some(maxBatch.toLong))
    try {
      if (pick.n > 0)
        append(spark,
          oneOrderedFile(convert(pick.rows, rates, batchTs)),
          oneOrderedFile(pick.rows.select(col("order_id"),
            lit(batchTs).as("processed_at"))),
          targetDir, ledgerDir, pick.bloom)
      // R6: an empty batch appends nothing; its files are still consumed
      if (underCap || pick.n < maxBatch)
        writeConsumed(fs, new Path(ledgerDir, ConsumedDir), unread.map(_._1),
          GenCommit.newToken())
      BatchResult(pick.n, pick.n)
    } finally pick.rows.unpersist() // a scheduler polling a drained source
    // must not leak one cache entry per tick
  }

  /** A batch's pick: the cached rows, their count, and a Bloom of their
    * ids for the ledger file they become.
    */
  private final case class Pick(rows: DataFrame, n: Long, bloom: BloomFilter)

  /** The pick of a batch that takes every fresh row: `fresh` minus the
    * ledgered ids, cached. When every ledger file has a valid Bloom, one
    * job fills the cache of `fresh`, counts it, flags the rows a ledger
    * Bloom admits, and builds the batch's Bloom; with no flagged row that
    * is the pick, and the ledger is not read. Otherwise the exact
    * anti-join against the whole ledger is the pick ([[Fallback]]).
    * `bound`, when known, is at least the number of fresh rows and sizes
    * the batch's Bloom inside that one job; without it the Bloom takes a
    * second job over the cached pick. `top` is the ledger directory's
    * listing from [[recover]].
    */
  private def pickFresh(spark: SparkSession, fresh: DataFrame,
      ledgerDir: String, bound: Option[Long], top: Seq[FileStatus]): Pick = {
    def exact(from: DataFrame): Pick =
      counted(from.join(ledgerIds(spark, ledgerDir, from), Seq("order_id"),
        "left_anti").cache(), bound)
    val (fs, led) = fsFor(spark, ledgerDir)
    loadBlooms(spark, fs, led, Some(top)) match {
      case Left(missing) =>
        fellBack(MissingBloom, s"${missing.size} file(s), first " +
          missing.head)
        exact(fresh)
      case Right(blooms) =>
        val rows = fresh.cache()
        unpersistOnFailure(rows) {
          val seen =
            if (blooms.isEmpty) None
            else Some(spark.sparkContext.broadcast(blooms))
          val s = try scan(rows, seen, bound)
            finally seen.foreach(_.destroy())
          if (s.flagged == 0) pickOf(rows, s)
          else {
            fellBack(FlaggedId, s"${s.flagged} of ${s.n} fresh ids")
            try exact(rows) finally rows.unpersist()
          }
        }
    }
  }

  /** `rows` (cached) as a pick: counted, with its Bloom, in one job when
    * `bound` sizes the Bloom up front.
    */
  private def counted(rows: DataFrame, bound: Option[Long]): Pick =
    unpersistOnFailure(rows)(pickOf(rows, scan(rows, None, bound)))

  private def pickOf(rows: DataFrame, s: Scan): Pick =
    Pick(rows, s.n, s.bloom.getOrElse(
      if (s.n == 0) newBloom(1) else scan(rows, None, Some(s.n)).bloom.get))

  private def unpersistOnFailure[T](df: DataFrame)(body: => T): T =
    try body catch { case t: Throwable => df.unpersist(); throw t }

  /** The ledger's ids, read as parquet; empty when it holds no file. */
  private def ledgerIds(spark: SparkSession, ledgerDir: String,
      like: DataFrame): DataFrame =
    readParquetOrEmpty(spark, ledgerDir, like.select("order_id"))
      .select("order_id")

  /** One pass over `rows`: how many, how many a Bloom in `seen` admits,
    * and — when `bound` is given — a Bloom of their ids sized for `bound`
    * ids, built per partition and merged on the driver.
    */
  private final case class Scan(n: Long, flagged: Long,
      bloom: Option[BloomFilter])

  private def scan(rows: DataFrame,
      seen: Option[org.apache.spark.broadcast.Broadcast[Array[BloomFilter]]],
      bound: Option[Long]): Scan =
    // one job; Dataset.count would add an aggregate's shuffle map and
    // reduce jobs
    rows.select(xxhash64(col("order_id"))).queryExecution.toRdd
      .mapPartitions { it =>
        val ledger = seen.fold(Array.empty[BloomFilter])(_.value)
        val bloom = bound.map(newBloom)
        var n, flagged = 0L
        it.foreach { r =>
          val h = r.getLong(0)
          n += 1
          if (ledger.exists(_.mightContainLong(h))) flagged += 1
          bloom.foreach(_.putLong(h))
        }
        Iterator(Scan(n, flagged, bloom))
      }
      .reduce { (a, b) =>
        Scan(a.n + b.n, a.flagged + b.flagged,
          a.bloom.map(_.mergeInPlace(b.bloom.get)))
      }

  /** One output file per batch, rows in order_id order. The sort sits
    * above the conversion join, where the optimizer keeps it.
    */
  private def oneOrderedFile(df: DataFrame): DataFrame =
    df.coalesce(1).sortWithinPartitions("order_id")

  /** `files` (data files under `sourceDir`) as one frame: the schema from
    * the footer Spark's inference would pick, partition columns from the
    * directories below `sourceDir`.
    */
  private def readFiles(spark: SparkSession, sourceDir: String,
      files: Seq[FileStatus]): DataFrame = {
    val reader = spark.read.option("basePath", sourceDir)
    val paths = files.map(_.getPath.toString)
    ParquetSchema.ofFile(spark, files.minBy(_.getPath.toString)) match {
      case Some(s) => reader.schema(s).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }
  }

  /** The target append, with the ledger append staged alongside it.
    *
    * The ledger rows are written on a second thread into a hidden
    * `_staging/<token>` directory of the ledger while this thread appends
    * the target. Only after the target append has returned are the staged
    * part files renamed into the ledger, so the commit order stays the
    * reference's (target, then ledger; `:156-157`) and the crash window
    * stays the one [[targetView]] absorbs. A failure of either write
    * fails the call after both have finished; whatever was staged is
    * left for [[recoverLedger]] to sweep. Each staged file's Bloom sidecar
    * (`bloom`, which admits every id of the batch) is published before the
    * file itself. The second thread is started from this one and inherits
    * its Spark local properties, so its jobs belong to the caller's job
    * group and SQL execution.
    */
  private def append(spark: SparkSession, target: DataFrame,
      ledgerRows: DataFrame, targetDir: String, ledgerDir: String,
      bloom: BloomFilter): Unit = {
    val (fs, led) = fsFor(spark, ledgerDir)
    val stage = new Path(led, s"$StagingDir/${GenCommit.newToken()}")
    var staged: Try[Unit] =
      Failure(new IllegalStateException("ledger staging did not finish"))
    val stager = new Thread(() => staged =
      try Success(ledgerRows.write.parquet(stage.toString))
      catch { case t: Throwable => Failure(t) }, "ledger-staging")
    stager.setDaemon(true)
    stager.start()
    val wrote = Try(target.write.mode("append").parquet(targetDir))
    stager.join()
    wrote.get
    staged.get
    fs.listStatus(stage).filter(f => visible(f.getPath.getName))
      .foreach { f =>
        writeBloom(fs, led, f, bloom)
        require(fs.rename(f.getPath, new Path(led, f.getPath.getName)),
          s"could not publish staged ledger file ${f.getPath}")
      }
    fs.delete(stage.getParent, true)
  }

  /** Spark's data-file rule: names starting `_` or `.` are hidden. */
  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** The ledger's hidden side directories: staged appends, the record of
    * fully consumed source files, and the data files' Bloom sidecars.
    */
  private val StagingDir = "_staging"
  private val ConsumedDir = "_consumed"
  private val BloomDir = "_blooms"
  private val BloomSuffix = ".bloom"

  /** A ledger Bloom's false-positive rate: ≈38 bits per id. A batch of
    * 30,000 fresh ids checked against a day's 24 ledger files is falsely
    * flagged in under 1% of batches.
    */
  private val BloomFpp = 1e-8

  private def newBloom(ids: Long): BloomFilter =
    BloomFilter.create(math.max(1L, ids), BloomFpp)

  private def bloomPath(led: Path, dataFile: String): Path =
    new Path(new Path(led, BloomDir), dataFile + BloomSuffix)

  /** Publish the Bloom sidecar of ledger data file `dataFile`: its length,
    * then `bloom` in the sketch's own format.
    */
  private[graft] def writeBloom(fs: FileSystem, led: Path,
      dataFile: FileStatus, bloom: BloomFilter): Unit = {
    val p = bloomPath(led, dataFile.getPath.getName)
    publish(fs, p.getParent, p.getName) { out =>
      val data = new java.io.DataOutputStream(out)
      data.writeLong(dataFile.getLen)
      bloom.writeTo(data)
      data.flush()
    }
  }

  /** The Bloom of ledger data file `dataFile`, if its sidecar exists, can
    * be read whole and records the file's length.
    */
  private def readBloom(fs: FileSystem, led: Path,
      dataFile: FileStatus): Option[BloomFilter] =
    Try {
      val in = new java.io.DataInputStream(
        fs.open(bloomPath(led, dataFile.getPath.getName)))
      try
        if (in.readLong() != dataFile.getLen) None
        else Some(BloomFilter.readFrom(in))
      finally in.close()
    }.toOption.flatten

  /** The Blooms of every data file in the ledger at `led`, or the names of
    * the files without a valid one. `top`, when given, is a listing of
    * `led` taken since its last change, and the ledger is not listed
    * again.
    */
  private[graft] def loadBlooms(spark: SparkSession, fs: FileSystem, led: Path,
      top: Option[Seq[FileStatus]] = None)
      : Either[Seq[String], Array[BloomFilter]] = {
    // the ledger is flat: its data files are its visible files
    val files = top.fold(ParquetSchema.dataFiles(spark, led.toString))(
      _.filter(f => f.isFile && visible(f.getPath.getName))
        .sortBy(_.getPath.toString))
    val blooms = files.map(readBloom(fs, led, _))
    if (blooms.forall(_.isDefined)) Right(blooms.flatten.toArray)
    else Left(files.zip(blooms).collect { case (f, None) => f.getPath.getName })
  }

  /** A Bloom for every data file of the ledger copy at `dir`, written
    * into its `_blooms`: one job over the copy, each file's filter sized
    * from its footer's row count.
    */
  private def writeBlooms(spark: SparkSession, fs: FileSystem,
      dir: Path): Unit = {
    val files = ParquetSchema.dataFiles(spark, dir.toString)
    val sizes = files.map(f =>
      f.getPath.getName -> ParquetSchema.rowCount(spark, f)).toMap
    val blooms = ParquetSchema.read(spark, dir.toString)
      .select(col("_metadata.file_name"), xxhash64(col("order_id")))
      .queryExecution.toRdd
      .mapPartitions { it =>
        val byFile = scala.collection.mutable.Map.empty[String, BloomFilter]
        var file: org.apache.spark.unsafe.types.UTF8String = null
        var bloom: BloomFilter = null
        it.foreach { r =>
          // a partition reads its files one after another
          if (file != r.getUTF8String(0)) {
            file = r.getUTF8String(0).clone()
            bloom = byFile.getOrElseUpdate(file.toString,
              newBloom(sizes(file.toString)))
          }
          bloom.putLong(r.getLong(1))
        }
        Iterator(byFile.toMap)
      }
      .fold(Map.empty[String, BloomFilter]) { (a, b) =>
        a ++ b.map { case (f, x) => f -> a.get(f).fold(x)(_.mergeInPlace(x)) }
      }
    files.foreach { f =>
      val name = f.getPath.getName
      writeBloom(fs, dir, f, blooms.getOrElse(name, newBloom(sizes(name))))
    }
  }

  /** One consumed-record line: the file's path relative to the source
    * root (URI-encoded, so free of tabs and newlines), its length and its
    * modification time. A file rewritten in place gets a new line.
    */
  private def consumedLine(root: java.net.URI, f: FileStatus): String =
    s"${root.relativize(f.getPath.toUri).getRawPath}\t${f.getLen}\t" +
      s"${f.getModificationTime}"

  /** Every line of the ledger's consumed record. */
  private def readConsumed(fs: FileSystem, led: Path): Set[String] =
    consumedLines(fs, GenCommit.listOrEmpty(fs, new Path(led, ConsumedDir)))

  /** Every line of the consumed-record files `files` (a listing of it). */
  private def consumedLines(fs: FileSystem, files: Seq[FileStatus])
      : Set[String] =
    files.filter(s => visible(s.getPath.getName))
      .flatMap(s => GenCommit.readSmallFile(fs, s.getPath).split("\n"))
      .filter(_.nonEmpty).toSet

  /** Add `lines` to a consumed record as one file named `name`. */
  private def writeConsumed(fs: FileSystem, dir: Path, lines: Seq[String],
      name: String): Unit =
    publish(fs, dir, name)(_.write(lines.map(_ + "\n").mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Write `dir/name` by temp file + rename, so a reader never sees half
    * a file: a consumed record or a Bloom sidecar.
    */
  private def publish(fs: FileSystem, dir: Path, name: String)(
      write: java.io.OutputStream => Unit): Unit = {
    val tmp = new Path(dir, s".tmp-$name")
    val out = fs.create(tmp, true)
    try write(out) finally out.close()
    require(fs.rename(tmp, new Path(dir, name)), s"could not publish $tmp")
  }

  /** Rewrite the append-only ledger as range-sorted multi-file output. The
    * ledger grows a file per batch (like any streaming state spilled to
    * storage); compact on a maintenance cadence so the pickup anti-join
    * scans file counts, not file mountains. `repartitionByRange(order_id)`
    * + in-partition sort keeps the rewrite PARALLEL — a `coalesce(1)` would
    * funnel billions of ids through one task and emit one giant file
    * (VERDICT r2 #3) — while still yielding globally range-ordered files.
    * File count scales with ledger size (~128 MB of ids per file), capped
    * below by 2 so multi-file output is the invariant tests can pin.
    *
    * Crash safety: the compacted copy is fully written to a side directory
    * before the two-rename swap, every rename result is CHECKED, and
    * [[recoverLedger]] (invoked by both this method and [[runBatch]])
    * repairs the one non-atomic window — ledger renamed away but the new
    * one not yet in place — by restoring the backup. Losing the ledger
    * would silently re-deliver the entire source; duplicates would still
    * collapse in [[targetView]], but the recompute is the failure to avoid.
    * The consumed record is merged into the compacted copy before the
    * swap, and every compacted file gets its Bloom there, so whichever
    * ledger the swap leaves live carries the record and a Bloom for every
    * file.
    */
  def compactLedger(spark: SparkSession, ledgerDir: String): Unit = {
    recoverLedger(spark, ledgerDir)
    val (fs, dir) = fsFor(spark, ledgerDir)
    if (!fs.exists(dir) || ParquetSchema.dataFiles(spark, ledgerDir).isEmpty)
      return
    val tmp = new Path(ledgerDir + ".compact")
    val bak = new Path(ledgerDir + ".old")
    // stale leftovers from an interrupted prior attempt
    fs.delete(tmp, true); fs.delete(bak, true)
    // size from filesystem METADATA, not a count() job — a billions-of-ids
    // ledger should not be scanned twice per compaction. Target ~128 MB of
    // parquet per output file; ≥2 files so compaction never regresses to
    // the single-task/single-file shape. The schema, likewise, is one
    // driver-side footer read, not a job
    val bytes = fs.getContentSummary(dir).getLength
    val nFiles = math.max(2, math.min(spark.sparkContext.defaultParallelism,
      (bytes / (128L << 20)).toInt + 1))
    compactionLayout(ParquetSchema.read(spark, ledgerDir), nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // the consumed record rides along, merged into one file
    val consumed = readConsumed(fs, dir)
    if (consumed.nonEmpty)
      writeConsumed(fs, new Path(tmp, ConsumedDir), consumed.toSeq.sorted,
        GenCommit.newToken())
    writeBlooms(spark, fs, tmp)
    require(fs.rename(dir, bak), s"could not move $ledgerDir aside")
    require(fs.rename(tmp, dir), s"could not activate compacted ledger; " +
      s"backup preserved at $bak")
    fs.delete(bak, true)
  }

  /** The compacted ledger's physical layout: range-partitioned and sorted
    * on order_id, never the coalesce(1) single-task shape. Factored out so
    * tests can pin the RangePartitioning(≥2) in the PLAN — an empty range
    * emits no parquet file, so counting output files is not a reliable
    * proxy for the partitioning (ADVICE r3).
    */
  private[graft] def compactionLayout(ledger: DataFrame, nFiles: Int): DataFrame =
    ledger.repartitionByRange(nFiles, col("order_id"))
      .sortWithinPartitions("order_id")

  /** Repair an interrupted [[compactLedger]] swap: if the live ledger is
    * missing but its backup exists, the backup IS the ledger — restore it.
    * Then sweep what a batch killed mid-commit leaves: its staged ledger
    * append (never published, so its ids are simply picked again), a
    * consumed-record or Bloom temp file, and a Bloom published before its
    * data file was. Single-writer contract: only safe while no batch or
    * compaction of this ledger is running.
    */
  def recoverLedger(spark: SparkSession, ledgerDir: String): Unit = {
    recover(spark, ledgerDir)
    ()
  }

  /** What [[recover]] leaves listed: the ledger directory's entries and
    * its consumed-record files, each listed once and valid until the
    * ledger next changes.
    */
  private final case class Listed(top: Seq[FileStatus],
      consumed: Seq[FileStatus])

  /** [[recoverLedger]], returning its listings for the batch to use. */
  private def recover(spark: SparkSession, ledgerDir: String): Listed = {
    val (fs, dir) = fsFor(spark, ledgerDir)
    val bak = new Path(ledgerDir + ".old")
    if (!fs.exists(dir)) {
      if (fs.exists(bak))
        require(fs.rename(bak, dir), s"could not restore ledger backup $bak")
      else return Listed(Nil, Nil)
    }
    fs.delete(new Path(dir, StagingDir), true)
    val (tmps, consumed) =
      GenCommit.listOrEmpty(fs, new Path(dir, ConsumedDir))
        .partition(_.getPath.getName.startsWith(".tmp-"))
    tmps.foreach(t => fs.delete(t.getPath, false))
    val top = GenCommit.listOrEmpty(fs, dir)
    val blooms =
      GenCommit.listOrEmpty(fs, new Path(dir, BloomDir)).map(_.getPath)
    if (blooms.nonEmpty) {
      val files = top.map(_.getPath.getName).toSet
      blooms.filter { p =>
        val n = p.getName
        n.startsWith(".tmp-") ||
          n.endsWith(BloomSuffix) && !files(n.stripSuffix(BloomSuffix))
      }.foreach(fs.delete(_, false))
    }
    Listed(top, consumed)
  }

  /** The target with PK semantics enforced on read: keep-first per
    * order_id (earliest processed_at wins) — the explicit form of the
    * reference target's PRIMARY KEY dedup guard.
    */
  def targetView(spark: SparkSession, targetDir: String): DataFrame = {
    val w = Window.partitionBy(col("order_id"))
      .orderBy(asc("processed_at"), asc("exchange_rate_date"))
    ParquetSchema.read(spark, targetDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Streaming form: micro-batches through foreachBatch with the same
    * Bloom-checked pick and idempotent, staged append as [[runBatch]] (no
    * consumed record: the stream's source offsets live in its
    * checkpoint; no row bound, so a batch's Bloom takes a second job over
    * its cached pick). The checkpoint
    * replays an unacknowledged batch on restart (at-least-once). Replay semantics, stated precisely: if the
    * crash hit BEFORE the target append committed, the ledger anti-join
    * makes the replay a clean re-run; if it hit BETWEEN the target append
    * and the ledger append (the same window [[runBatch]] documents), the
    * replay appends the batch's rows a second time and [[targetView]]'s
    * PK keep-first dedup collapses them on read — the reference's own
    * crash answer (`init/postgres-2/init.sql:2`). "Exactly-once effect"
    * is the two mechanisms together, not the anti-join alone.
    * The conversion body and
    * batch timestamp are pluggable like [[runBatch]]'s, so the declared
    * gate (x04b) can run the oracle-parity form through the same
    * per-micro-batch transaction; `batchTs` stays a constant for
    * deterministic gating (prod: derive from the trigger time).
    */
  def stream(
      orders: DataFrame,
      targetDir: String,
      ledgerDir: String,
      rates: DataFrame,
      checkpointDir: String,
      batchTs: Timestamp = new Timestamp(0L),
      convert: (DataFrame, DataFrame, Timestamp) => DataFrame = convertBatch)
      : StreamingQuery =
    orders.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val ts = batchTs
        // a killed micro-batch's staging
        val listed = recover(spark, ledgerDir)
        val pick = pickFresh(spark, batch, ledgerDir, None, listed.top)
        try {
          if (pick.n > 0)
            append(spark, convert(pick.rows, rates, ts),
              pick.rows.select(col("order_id"), lit(ts).as("processed_at")),
              targetDir, ledgerDir, pick.bloom)
        } finally pick.rows.unpersist() // incl. write failure — the checkpoint
        // replays the batch and would otherwise leak one cache entry per retry
        ()
      }
      .start()
}
