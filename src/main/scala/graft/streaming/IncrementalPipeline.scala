package graft.streaming

import graft.ops.Convert
import graft.sources.ParquetSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import java.sql.Timestamp

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
  *    keep-first dedup on order_id (exactly-once effect via idempotency);
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
  * Fixed per-batch costs: an hourly batch is at most 30,000 rows, so its
  * latency is set by per-operation overhead, not data volume. The
  * source, ledger and target frames take their schemas from one footer
  * read on the driver ([[graft.sources.ParquetSchema]]) rather than the
  * one-task inference job a schema-less `spark.read.parquet` launches:
  * building them costs file listings and one footer read each, no job.
  */
object IncrementalPipeline {

  final case class BatchResult(picked: Long, appended: Long)

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
  private def fsFor(spark: SparkSession, path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def readParquetOrEmpty(spark: SparkSession, dir: String, like: DataFrame): DataFrame = {
    val (fs, p) = fsFor(spark, dir)
    if (fs.exists(p))
      ParquetSchema.read(spark, dir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        like.schema)
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
    recoverLedger(spark, ledgerDir) // repair an interrupted compaction swap
    val source = ParquetSchema.read(spark, sourceDir)
    val ledger = readParquetOrEmpty(spark, ledgerDir,
      source.select(col("order_id"), lit(batchTs).as("processed_at")))

    // R2+R3: unprocessed pickup, capped — deterministic order (D1) instead
    // of the reference's bare LIMIT; the q46-declared primitive
    val picked = pickup(source, ledger, "order_id", maxBatch)
      .cache()
    try {
      val nPicked = picked.count()
      if (nPicked == 0) return BatchResult(0, 0) // R6 early exit

      // commit order mirrors the reference (:156-157): target THEN ledger
      convert(picked, rates, batchTs)
        .write.mode("append").parquet(targetDir)
      picked.select(col("order_id"), lit(batchTs).as("processed_at"))
        .write.mode("append").parquet(ledgerDir)
      BatchResult(nPicked, nPicked)
    } finally picked.unpersist() // incl. early return — a scheduler polling
    // a drained source must not leak one cache entry per tick
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
    */
  def compactLedger(spark: SparkSession, ledgerDir: String): Unit = {
    recoverLedger(spark, ledgerDir)
    val (fs, dir) = fsFor(spark, ledgerDir)
    if (!fs.exists(dir)) return
    val tmp = new org.apache.hadoop.fs.Path(ledgerDir + ".compact")
    val bak = new org.apache.hadoop.fs.Path(ledgerDir + ".old")
    // stale leftovers from an interrupted prior attempt
    fs.delete(tmp, true); fs.delete(bak, true)
    // size from filesystem METADATA, not a count() job — a billions-of-ids
    // ledger should not be scanned twice per compaction. Target ~128 MB of
    // parquet per output file; ≥2 files so compaction never regresses to
    // the single-task/single-file shape. The schema, likewise, is one
    // driver-side footer read: the rewrite is the compaction's only job
    val bytes = fs.getContentSummary(dir).getLength
    val nFiles = math.max(2, math.min(spark.sparkContext.defaultParallelism,
      (bytes / (128L << 20)).toInt + 1))
    compactionLayout(ParquetSchema.read(spark, ledgerDir), nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
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
    */
  def recoverLedger(spark: SparkSession, ledgerDir: String): Unit = {
    val (fs, dir) = fsFor(spark, ledgerDir)
    val bak = new org.apache.hadoop.fs.Path(ledgerDir + ".old")
    if (!fs.exists(dir) && fs.exists(bak)) {
      require(fs.rename(bak, dir), s"could not restore ledger backup $bak")
    }
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
    * idempotent append. The checkpoint replays an unacknowledged batch on
    * restart (at-least-once). Replay semantics, stated precisely: if the
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
        val ledger = readParquetOrEmpty(spark, ledgerDir,
          batch.select(col("order_id"), lit(ts).as("processed_at")))
        val fresh = batch
          .join(ledger.select("order_id"), Seq("order_id"), "left_anti")
          .cache()
        try {
          if (!fresh.isEmpty) {
            convert(fresh, rates, ts)
              .write.mode("append").parquet(targetDir)
            fresh.select(col("order_id"), lit(ts).as("processed_at"))
              .write.mode("append").parquet(ledgerDir)
          }
        } finally fresh.unpersist() // incl. write failure — the checkpoint
        // replays the batch and would otherwise leak one cache entry per retry
        ()
      }
      .start()
}
