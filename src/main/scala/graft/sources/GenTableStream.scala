package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** [[GenTable]] as a STREAMING SOURCE — CDC-out (VERDICT r16 #2):
  * `spark.readStream.format("gentable").load(dir)` delivers each
  * committed generation exactly once, in generation order, restart-safe
  * — the generation log IS the offset ledger (offsets = generation
  * ids, checkpointed by Structured Streaming like any source's). The
  * reference anchor is R1+R14's incremental pickup (read unprocessed,
  * mark processed) made native to the lake table: downstream consumers
  * follow the table without a ledger of their own, the way Delta's
  * table-as-source works.
  *
  * CHANGE GRANULARITY is the table's own merge unit — the partition:
  * for each committed generation the stream emits, tagged `_gen` (the
  * generation id) and `_change`:
  *  - `data`: the full new content of every partition the generation
  *    claimed and wrote (a merge's copy-on-write rewrite — apply as a
  *    partition overwrite downstream);
  *  - `empty`: one all-null marker row per claimed partition with NO
  *    data (an emptied partition — apply as a partition drop; without
  *    the marker a row stream cannot express "this partition is now
  *    empty");
  *  - `delete`: a row-tombstone generation's key rows, key columns
  *    populated and everything else null (apply as a row delete by the
  *    table's recorded tombkeys).
  * Within one micro-batch apply changes in `_gen` order (union output
  * order is not meaningful; the column is).
  *
  * Offsets advance to the COMMIT FRONTIER: the largest committed id
  * below the smallest uncommitted id that still has a claim or a
  * generation dir. Disjoint writers may commit out of id order; the
  * frontier never skips an in-flight id, so a generation is never lost
  * to a late commit — the stream simply waits for the gap to close
  * (an abandoned claim stalls it; [[GenTable.recoverClaims]] /
  * [[GenTable.recover]] unblock, the documented maintenance remedy).
  * Fully-released claim holes (no claim, no state) can never commit
  * and do not block.
  *
  * COMPACTION COLLAPSES HISTORY (the lake VACUUM contract): a
  * checkpointed offset naming a collapsed generation fails LOUDLY on
  * restart ("restart the stream fresh") instead of silently
  * re-snapshotting; a fresh stream on a compacted table starts from
  * the compacted generation — the initial snapshot — then follows.
  *
  * The stream's SCHEMA pins at source creation (payload…, partCol,
  * `_gen`, `_change`); a schema-evolving merge mid-stream delivers
  * through the pinned projection (evolved columns appear after a
  * stream restart — the fixed-schema rule every streaming source has).
  *
  * At 100 TB: getOffset is driver metadata (one commits listing + one
  * claims listing); each batch reads exactly the generation dirs it
  * delivers — delta-proportional, never table-sized. The exactly-once
  * replay is free because generation dirs are immutable.
  */
class GenTableStream(spark: SparkSession, dir: String, partCol: String,
    startingGen: Option[Long] = None,
    rowGranularity: Boolean = false) extends Source {

  private val fs = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override val schema: StructType =
    GenTableStream.streamSchema(spark, dir, partCol)

  /** payload…, partCol — the table view's columns (no gen). */
  private val tableFields: Seq[StructField] =
    schema.fields.toIndexedSeq.dropRight(2)
  private val partType = tableFields.last.dataType
  require(tableFields.last.name == partCol)
  // the row-granular diff reserves its scratch columns (ADVICE r19 low:
  // withColumn silently REPLACES a same-named payload column, which
  // would corrupt the diff for such a table — fail loudly instead)
  if (rowGranularity)
    require(!tableFields.exists(f =>
        GenTableStream.DiffScratchCols.contains(f.name)),
      s"gentable stream at $dir: changeGranularity=row reserves " +
        s"columns ${GenTableStream.DiffScratchCols.mkString(", ")}; " +
        "the table schema collides")

  private def off(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong
  }

  /** Uncommitted ids that may STILL COMMIT: an outstanding claim, or a
    * generation dir mid-publish. A hole with neither can never commit
    * (ids are claimed before any write) and never blocks the frontier.
    */
  private def pending(committed: Set[Long]): Set[Long] = {
    val claimed = GenCommit.claimedGens(spark, dir).toSet
    val dirs = Seq("data", GenCommit.TombsTable).flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("gen=") &&
          n.length > 4 && n.drop(4).forall(_.isDigit) => n.drop(4).toLong }
    }
    (claimed ++ dirs) -- committed
  }

  override def getOffset: Option[Offset] = {
    val committed = GenCommit.committed(spark, dir)
    if (committed.isEmpty) return None
    val blockAt = pending(committed.toSet)
      .filter(_ > committed.min).minOption.getOrElse(Long.MaxValue)
    val front = committed.filter(_ < blockAt)
    if (front.isEmpty) None else Some(LongOffset(front.max))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // `startingGen` (Delta's startingVersion): a fresh stream skips the
    // initial snapshot and follows from AFTER the named generation —
    // only the very first batch (no checkpointed offset) honors it; a
    // checkpointed stream is already past it
    val lo = start.map(off)
      .orElse(startingGen.map(g => g max -1L)).getOrElse(-1L)
    val hi = off(end)
    val committed = GenCommit.committed(spark, dir)
    require(lo == -1L || committed.contains(lo),
      s"gentable stream at $dir: offset $lo (checkpoint or " +
        "startingGen) names a generation that is not committed — " +
        "either a compaction collapsed the history this checkpoint was " +
        "following, or startingGen is wrong; restart the stream with a " +
        "fresh checkpoint (it will deliver the compacted snapshot as " +
        "its initial batch)")
    val gens = committed.filter(g => g > lo && g <= hi).sorted
    val frame: Long => DataFrame =
      if (rowGranularity) g => rowFrame(g, committed) else genFrame
    val batch =
      if (gens.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else gens.map(frame).reduce(_ unionByName _)
    org.apache.spark.sql.graftshim.StreamingFrame.wrap(
      spark, batch.queryExecution.toRdd, schema)
  }

  /** One generation's change rows, in the stream schema. */
  private[graft] def genFrame(g: Long): DataFrame = {
    val tombDir = new org.apache.hadoop.fs.Path(
      s"$dir/${GenCommit.TombsTable}/gen=$g")
    if (fs.exists(tombDir)) {
      val tombs = ParquetSchema.read(spark, tombDir.toString)
      val cols = tableFields.map { fl =>
        (if (tombs.columns.contains(fl.name)) col(fl.name)
         else lit(null)).cast(fl.dataType).as(fl.name)
      }
      tombs.select(cols: _*)
        .withColumn("_gen", lit(g)).withColumn("_change", lit("delete"))
    } else genData(g)
  }

  /** One generation's changes at ROW granularity (VERDICT r17 #4 —
    * `changeGranularity=row`): per/post images for consumers that are
    * not themselves partitioned tables (a search index, a cache). For a
    * DATA generation, the bag difference between the generation's new
    * content of its claimed partitions and the table's PRE-state of
    * exactly those partitions (the as-of read at the previous committed
    * generation — partition-pruned, so the diff is delta-proportional):
    * rows only in the new content emit `insert` (post-images), rows
    * only in the old emit `delete` (pre-images) — an UPDATE is the
    * delete+insert pair, full-row semantics (the table declares no row
    * key; deletes record their own key shape). For a TOMBSTONE
    * generation, the pre-images are the rows the tombstone masks: the
    * pre-state semi-joined on the recorded keys, emitted `delete` —
    * this one change kind scans the pre-state's winning files (a
    * takedown's pre-images live anywhere; partition claims cannot
    * bound them), every other is claimed-partitions only.
    *
    * Replay rule ([[GenTableStream.replayRows]]): inserts ∖bag deletes
    * — multiplicities line up because every physical row inserts once
    * and deletes at most once before re-inserting.
    */
  private[graft] def rowFrame(g: Long, committed: Seq[Long]): DataFrame = {
    val prev = committed.filter(_ < g).maxOption
    def aligned(df: DataFrame): DataFrame = df.select(
      tableFields.map { fl =>
        (if (df.columns.contains(fl.name)) col(fl.name) else lit(null))
          .cast(fl.dataType).as(fl.name)
      }: _*)
    def emptyRows: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(tableFields))
    def preState: DataFrame = prev match {
      case None => emptyRows
      case Some(p) =>
        aligned(GenTable.read(spark, dir, partCol, asOfGen = Some(p)))
    }
    def tag(df: DataFrame, change: String): DataFrame =
      df.withColumn("_gen", lit(g)).withColumn("_change", lit(change))
    val tombDir = new org.apache.hadoop.fs.Path(
      s"$dir/${GenCommit.TombsTable}/gen=$g")
    if (fs.exists(tombDir)) {
      // NULL-SAFE semi-join (VERDICT r18): the pre-images of a
      // NULL-keyed tombstone are the NULL-keyed rows, which an EqualTo
      // semi-join misses — downstream consumers would never see those
      // deletes (consistently wrong with the read mask's old bug)
      val tombs = ParquetSchema.read(spark, tombDir.toString)
      tag(GenTable.nullSafeKeyJoin(preState, tombs,
        tombs.columns.toSeq, "left_semi"), "delete")
    } else {
      val claimedVals = readClaims(g).map(GenTable.decN)
      val genDir = new org.apache.hadoop.fs.Path(s"$dir/data/gen=$g")
      val newC =
        if (GenCommit.firstParquet(fs, genDir).isEmpty) emptyRows
        else aligned(spark.read.schema(StructType(tableFields))
          .parquet(genDir.toString))
      val oldC = preState.filter(GenTable.valuesPred(partCol,
        claimedVals, partType))
      // ONE-PASS bag diff (optimization r19, guide §2.3/§2.4): the
      // first cut ran two exceptAll's — `new ∖bag old` and `old ∖bag
      // new` — whose union scanned BOTH sides twice (the old side is a
      // multi-generation resolution read) and shuffled four times. The
      // multiset difference is one signed count: union the sides with
      // weight ±1, aggregate by ALL columns (hash aggregation groups
      // NULLs together, exactly exceptAll's null-safe matching), and a
      // positive sum is that many inserts, a negative one that many
      // deletes — one scan per side, ONE shuffle, and the insert/delete
      // branches share the aggregate's exchange (ReuseExchange).
      val allCols = tableFields.map(f => col(f.name))
      val diff = newC.withColumn("__w", lit(1L))
        .unionByName(oldC.withColumn("__w", lit(-1L)))
        .groupBy(allCols: _*).agg(sum(col("__w")).as("__d"))
      // bounded-BLOCK replication (ADVICE r19 medium): a bare
      // explode(sequence(1, n)) materializes an n-element array per
      // duplicated row group, so a keyless table holding millions of
      // identical full rows would OOM or hit the array-length cap where
      // the old two-exceptAll code streamed. Two nested explodes emit
      // exactly n rows while bounding every materialized array at 2^16
      // elements; block arithmetic is shift-based (exact on longs —
      // Column./ is double division).
      def replicate(side: DataFrame, n: org.apache.spark.sql.Column) =
        side
          .withColumn("__b", explode(sequence(lit(0L),
            shiftright(n - 1, GenTableStream.RepBlockBits))))
          .withColumn("__i", explode(sequence(lit(1L),
            least(lit(1L << GenTableStream.RepBlockBits),
              n - shiftleft(col("__b"), GenTableStream.RepBlockBits)))))
          .drop("__d", "__b", "__i")
      tag(replicate(diff.filter(col("__d") > 0), col("__d")), "insert")
        .unionByName(
          tag(replicate(diff.filter(col("__d") < 0), -col("__d")),
            "delete"))
    }
  }

  private def readClaims(g: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifests/$g")
    val s = GenCommit.readSmallFile(fs, p)
    if (s.isEmpty) Seq.empty else s.split("\n").toSeq
  }

  /** A data generation's changes: its own manifest's claims — NOT the
    * resolution view (a generation delivers what it committed even if a
    * later generation has since outranked it).
    */
  private def genData(g: Long): DataFrame = {
    val claimedVals = readClaims(g).map(GenTable.decN)
    val genDir = new org.apache.hadoop.fs.Path(s"$dir/data/gen=$g")
    // which claimed partition values actually have data dirs — the
    // rest are EMPTIED partitions and emit markers
    val present: Set[String] =
      if (!fs.exists(genDir)) Set.empty
      else fs.listStatus(genDir).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"$partCol="))
        .map { st =>
          val raw = st.getPath.getName.drop(partCol.length + 1)
          if (raw == org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(raw)
        }.toSet
    val dataPart: Option[DataFrame] =
      if (GenCommit.firstParquet(fs, genDir).isEmpty) None
      else Some(spark.read.schema(StructType(tableFields))
        .parquet(genDir.toString)
        .withColumn("_gen", lit(g)).withColumn("_change", lit("data")))
    val missing = claimedVals.filterNot(present.contains)
    val markerPart: Option[DataFrame] =
      if (missing.isEmpty) None
      else {
        import spark.implicits._
        val cols = tableFields.map { fl =>
          (if (fl.name == partCol) col("__pv").cast(partType)
           else lit(null).cast(fl.dataType)).as(fl.name)
        }
        Some(missing.toDF("__pv").select(cols: _*)
          .withColumn("_gen", lit(g)).withColumn("_change", lit("empty")))
      }
    (dataPart, markerPart) match {
      case (Some(d), Some(m)) => d.unionByName(m)
      case (Some(d), None) => d
      case (None, Some(m)) => m
      case (None, None) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

object GenTableStream {

  /** Replication block width (bits) for the row-diff's bounded-block
    * explode: 2^16-row blocks — large enough that one block covers any
    * sane duplicate multiplicity in one array, small enough that a
    * pathological one streams in bounded memory.
    */
  private[sources] val RepBlockBits = 16

  /** Scratch columns the row-granular diff claims on the stream schema. */
  private[sources] val DiffScratchCols = Set("__w", "__d", "__b", "__i")

  /** Reconstruct the table's CURRENT STATE from a drained change log —
    * the downstream consumer's apply rule, as a plan: per partition the
    * winning (highest-`_gen`) data/empty change serves (`data` rows
    * survive, an `empty` winner leaves the partition gone), then
    * later-generation `delete` keys mask (strictly later — the table's
    * own revival rule). `keyCols` names the delete-key columns (the
    * table's tombkeys); empty = the log carries no delete generations.
    * One aggregation + one join, both partition/delete-proportional —
    * the consumer-side mirror of [[GenTable.read]]'s resolution.
    */
  def replay(changes: DataFrame, partCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val data = changes.filter(col("_change") =!= "delete")
    val w = data.groupBy(col(partCol).as("__p"))
      .agg(max(col("_gen")).as("__wg"))
    val current = data
      .join(w, data(partCol) <=> w("__p") && data("_gen") === w("__wg"))
      .filter(col("_change") === "data")
      .drop("__p", "__wg", "_change")
    val dels = changes.filter(col("_change") === "delete")
    val masked =
      if (keyCols.isEmpty) current
      else {
        // null-safe key join — the consumer-side mirror of the table's
        // own tombstone mask (a NULL-keyed delete must mask NULL-keyed
        // rows here too, VERDICT r18)
        val dmax = dels.groupBy(keyCols.map(col): _*)
          .agg(max(col("_gen")).as("__dg"))
        GenTable.nullSafeKeyJoin(current, dmax, keyCols, "left")
          .filter(col("__dg").isNull || col("_gen") > col("__dg"))
          .drop("__dg")
      }
    masked.drop("_gen")
  }

  /** Reconstruct the table's current state from a drained ROW-granular
    * change log: inserts ∖bag deletes (every physical row inserts once
    * and deletes at most once before re-inserting, so multiplicities
    * line up) — the one-line consumer-side apply row granularity buys.
    */
  def replayRows(changes: DataFrame, partCol: String): DataFrame = {
    val payload = changes.columns.filterNot(c =>
      c == "_gen" || c == "_change").toIndexedSeq
    changes.filter(col("_change") === "insert")
      .select(payload.map(col): _*)
      .exceptAll(changes.filter(col("_change") === "delete")
        .select(payload.map(col): _*))
  }

  /** x29b_stream_gentable_rows: the ROW-granular CDC gate (VERDICT r17
    * #4) — x29's exact harness (two merge batches, a checkpoint restart
    * between the drains) with `changeGranularity=row`: each generation
    * delivers pre/post-image rows (updates as delete+insert pairs,
    * diffed over exactly the claimed partitions), and [[replayRows]]'
    * bag arithmetic reconstructs the table — SHARES q92b's oracle, so
    * the per-row diff, the exactly-once delivery and the consumer apply
    * are oracle-gated end to end. Tombstone pre-images are spec-gated
    * in GenTableSqlSpec (they change final state).
    */
  def x29b(spark: SparkSession, dir: String): DataFrame = {
    val (t0, d1, d2) = graft.ops.Merge.mergeFixture(spark, dir)
    val root = graft.TempRoots.create("graft_x29b_")
    val (tbl, ckpt, sink) = (s"$root/table", s"$root/ckpt", s"$root/sink")
    def recent(d: DataFrame) = d
      .filter(year(col("o_orderdate")) >= 1996)
      .withColumn("yr", year(col("o_orderdate")))
    def drain(): Unit = {
      val q = spark.readStream.format("gentable")
        .option("changeGranularity", "row").load(tbl)
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", sink).start()
      try q.processAllAvailable() finally q.stop()
    }
    graft.sources.GenTable.init(
      t0.withColumn("yr", year(col("o_orderdate"))), tbl, "yr")
    graft.sources.GenTable.merge(spark, tbl, "yr", recent(d1),
      Seq("o_orderkey"))
    drain()
    graft.sources.GenTable.merge(spark, tbl, "yr", recent(d2),
      Seq("o_orderkey"))
    drain()
    replayRows(spark.read.parquet(sink), "yr")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .orderBy("o_orderkey")
  }

  /** x29_stream_gentable_source: the driver gate for CDC-OUT — q92b's
    * two delta batches merge into a GenTable (x26's ingest), and a
    * `readStream.format("gentable")` CONSUMER follows the table's
    * generation log into a parquet sink, with a checkpoint restart
    * between the batches (x24's harness shape): the restarted stream
    * resumes at its checkpointed generation offset and delivers only
    * the new generations. [[replay]] over the drained change log
    * reconstructs the table's current state — SHARES q92b's oracle, so
    * source → offsets → exactly-once delivery → consumer apply is
    * oracle-gated end to end. (Delete generations and emptied-partition
    * markers are spec-gated in GenTableSqlSpec — they change final
    * state, so they cannot share this oracle.)
    */
  def x29(spark: SparkSession, dir: String): DataFrame = {
    val (t0, d1, d2) = graft.ops.Merge.mergeFixture(spark, dir)
    val root = graft.TempRoots.create("graft_x29_")
    val (tbl, ckpt, sink) = (s"$root/table", s"$root/ckpt", s"$root/sink")
    def recent(d: DataFrame) = d
      .filter(year(col("o_orderdate")) >= 1996)
      .withColumn("yr", year(col("o_orderdate")))
    def drain(): Unit = {
      val q = spark.readStream.format("gentable").load(tbl)
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", sink).start()
      try q.processAllAvailable() finally q.stop()
    }
    graft.sources.GenTable.init(
      t0.withColumn("yr", year(col("o_orderdate"))), tbl, "yr")
    graft.sources.GenTable.merge(spark, tbl, "yr", recent(d1),
      Seq("o_orderkey"))
    drain()
    graft.sources.GenTable.merge(spark, tbl, "yr", recent(d2),
      Seq("o_orderkey"))
    drain()
    replay(spark.read.parquet(sink), "yr")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .orderBy("o_orderkey")
  }

  /** The stream's fixed schema: the table view's pinned columns
    * (payload…, partCol) + `_gen` + `_change`.
    */
  def streamSchema(spark: SparkSession, dir: String,
      partCol: String): StructType = {
    val pinned = GenTable.snapshot(spark, dir, partCol).schema
      .getOrElse(throw new IllegalStateException(
        s"gentable stream at $dir: the table has no readable " +
          "generation to pin a schema from"))
    StructType(
      pinned.fields.filterNot(_.name == "gen").toIndexedSeq :+
        StructField("_gen", LongType, nullable = false) :+
        StructField("_change", StringType, nullable = false))
  }
}
