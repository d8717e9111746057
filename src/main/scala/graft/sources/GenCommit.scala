package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.DriverParquet

/** Atomic multi-table generation commits for materialized indexes — the
  * fix for the half-applied-append window a two-table index otherwise
  * has (review r13): an append that writes table A's delta and crashes
  * before table B's leaves the index silently inconsistent (for the
  * inverted index: stats counted, postings missing — every BM25 score
  * drifts; for the LSH index: docs present, buckets missing — pairs
  * silently lost), and a retry double-applies A. No ordering of plain
  * appends fixes this; a COMMIT MARKER does.
  *
  * Protocol (a deliberately minimal table-format commit):
  *  - each index table lives at `indexDir/<table>/gen=<k>/…` — the
  *    generation is the table's FIRST partition level, so readers see it
  *    as an ordinary partition column;
  *  - a generation k is COMMITTED iff the marker file
  *    `indexDir/commits/<k>` exists; readers filter every table to the
  *    committed set (`col("gen").isin(committed)` — partition-pruned, so
  *    invisible generations are also unread ones);
  *  - a writer STAGES each table's generation content OUTSIDE the table
  *    trees (`.gen<k>_<table>`), then [[publish]] renames each staged
  *    dir into place and creates the marker LAST (one atomic file
  *    create). Every crash point is safe: before any rename, the stage
  *    dirs are invisible garbage; between renames or before the marker,
  *    the gen dirs hold complete data that no reader admits; after the
  *    marker, the append is fully applied. A retry takes a FRESH
  *    generation id ([[nextGen]] counts uncommitted orphan dirs too, so
  *    it never collides), and orphans are garbage-collected wholesale by
  *    the index's compaction (which SwapDir-replaces each table tree
  *    with a single committed generation and [[resetCommits]]).
  *
  * Concurrency: WRITER-FENCED optimistic commits (VERDICT r13 #6).
  * Each append stages under a per-writer token, so racing writers can
  * never clobber each other's staged bytes; the first writer to create
  * the generation's CLAIM file (one atomic `createNewFile`, taken
  * before any rename — see [[publish]] for why a rename cannot be the
  * fence) owns the id. Appends take the fence BEFORE staging
  * ([[claimNextGen]]'s bounded retry loop), so losing a race costs a
  * metadata retry, never a re-staged write job — the full
  * optimistic-commit loop of a lake table format; compaction remains
  * single-writer (maintenance-window semantics, as documented on each
  * compactor).
  */
object GenCommit {

  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The storage adapter every fence and promotion routes through
    * (VERDICT r17 #3 — the Delta LogStore seam): [[HdfsCommitStore]]
    * by default (native atomic create + rename on HDFS-semantics
    * stores); deployments on raw S3-style stores swap in a
    * [[LockingCommitStore]] wired to their conditional-put/lock
    * service. Process-wide, like the Hadoop configuration itself;
    * set-and-restore in try/finally when overriding in tests.
    */
  @volatile var store: CommitStore = HdfsCommitStore

  /** The fence's primitive: ATOMIC create-exclusive, true iff this call
    * created the file — delegated to the configured [[CommitStore]]
    * (Hadoop's own `createNewFile` default is CHECK-THEN-ACT, and so is
    * the local FS's `create(overwrite = false)`; see HdfsCommitStore
    * for the per-store rule, LockingCommitStore for stores with no
    * atomic create at all).
    */
  private[sources] def createExclusive(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    store.createExclusive(f, p)

  /** Where a writer stages table `table`'s content for generation `gen`
    * before [[publish]] — outside every table tree, so a crashed staged
    * write is invisible to partition discovery. `token` is the writer's
    * fencing token (see [[newToken]]): two concurrent writers racing to
    * the same generation id stage under DISJOINT paths, so neither can
    * clobber the other's staged content — the race is then decided
    * loudly at [[publish]] time, never by silent data loss.
    */
  def stagePath(indexDir: String, gen: Long, table: String,
      token: String = ""): String = {
    val tk = if (token.isEmpty) "" else s"${token}_"
    s"$indexDir/.gen${gen}_$tk$table"
  }

  /** A fresh writer token for one staged-generation attempt. Tokens
    * only need to differ between concurrent writers of one index.
    */
  def newToken(): String =
    java.util.UUID.randomUUID.toString.replace("-", "").take(12)

  /** The committed generation ids (marker file names under commits/). */
  def committed(spark: SparkSession, indexDir: String): Seq[Long] =
    committedMarks(spark, indexDir).map(_._1)

  /** The committed generations with their markers' modification times,
    * by id: the commit set's identity — a table replaced at the same
    * path shows the same ids under newer markers.
    */
  def committedMarks(spark: SparkSession,
      indexDir: String): Seq[(Long, Long)] =
    commitsListing(spark, indexDir)
      .map(st => st.getPath.getName -> st.getModificationTime)
      .collect { case (n, t) if n.nonEmpty && n.forall(_.isDigit) =>
        n.toLong -> t }
      .sortBy(_._1)

  /** The entries of `commits/`: markers and claims, one listing. */
  private[sources] def commitsListing(spark: SparkSession,
      indexDir: String): Seq[org.apache.hadoop.fs.FileStatus] =
    listOrEmpty(fsOf(spark, indexDir),
      new org.apache.hadoop.fs.Path(s"$indexDir/commits"))

  /** The committed ids in a [[commitsListing]]. */
  private[sources] def committedIn(
      commits: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Long] =
    commits.map(_.getPath.getName)
      .collect { case n if n.nonEmpty && n.forall(_.isDigit) => n.toLong }
      .sorted

  /** The claimed ids in a [[commitsListing]]. */
  private[sources] def claimedIn(
      commits: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Long] =
    commits.map(_.getPath.getName)
      .collect { case n if n.startsWith(Claim) &&
        n.drop(Claim.length).nonEmpty &&
        n.drop(Claim.length).forall(_.isDigit) => n.drop(Claim.length).toLong }

  /** `dir`'s children, or none when it does not exist — one listing, no
    * separate existence check.
    */
  def listOrEmpty(f: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    try f.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The committed set AS OF generation `asOf` — the reader-side pin
    * that makes index reads reproducible (VERDICT r13 #2): a probe
    * running concurrently with an append can pin the snapshot it
    * started from, and an audit can re-run yesterday's read against
    * yesterday's committed set. `None` = all committed (the default
    * read). The pin must itself be a committed generation: a compaction
    * collapses history into the HIGHEST previously committed id (ids
    * are never reused — review r14), so after it every older pin names
    * a state that no longer exists and fails LOUDLY instead of silently
    * resolving to different content (the contract of a lake format's
    * time travel after VACUUM), while the surviving id still denotes
    * exactly the data it did before the compaction.
    */
  def committedAsOf(spark: SparkSession, indexDir: String,
      asOf: Option[Long]): Seq[Long] =
    pinned(indexDir, committed(spark, indexDir), asOf)

  /** [[committedAsOf]] over a commit listing the caller already holds. */
  private[sources] def pinned(indexDir: String, gens: Seq[Long],
      asOf: Option[Long]): Seq[Long] =
    asOf match {
      case None => gens
      case Some(k) =>
        require(gens.contains(k),
          s"asOfGen $k is not a committed generation at $indexDir " +
            s"(committed: ${gens.mkString(",")}) — compaction collapses " +
            "history; only still-present generations can be pinned")
        gens.filter(_ <= k)
    }

  /** A table's COMMITTED rows: generations are the table's first
    * partition level (`<table>/gen=<k>/…`), filtered to the commit-
    * marker set (optionally pinned by [[committedAsOf]]) — an
    * uncommitted (crashed or half-published) generation is both
    * invisible and, by partition pruning, unread. THE protocol reader,
    * shared by all three standing indexes so their read semantics
    * cannot diverge (review r14).
    * The schema is read from one footer on the driver
    * ([[ParquetSchema]]), so building the frame runs no job.
    */
  def committedTable(spark: SparkSession, indexDir: String,
      table: String, asOf: Option[Long] = None)
      : org.apache.spark.sql.DataFrame = {
    val gens = committedAsOf(spark, indexDir, asOf)
    require(gens.nonEmpty,
      s"no committed generations at $indexDir — build the index first")
    ParquetSchema.read(spark, s"$indexDir/$table")
      .filter(org.apache.spark.sql.functions.col("gen").isin(gens: _*))
  }

  /** [[committedTable]] for a table that may not exist yet — the
    * TOMBSTONE table's reader: an index that has never seen a delete has
    * no `tombs` dir at all, and the read must then cost NOTHING (no scan,
    * no join — callers skip masking entirely on None). An existing dir
    * whose generations are all outside the as-of pin reads as an empty
    * frame through the ordinary committed filter.
    */
  def committedTableIfExists(spark: SparkSession, indexDir: String,
      table: String, asOf: Option[Long] = None)
      : Option[org.apache.spark.sql.DataFrame] = {
    val f = fsOf(spark, indexDir)
    if (!f.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$table"))) None
    else Some(committedTable(spark, indexDir, table, asOf))
  }

  /** The shared tombstone table name: a DELETE commits a generation
    * holding only the removed ids (single column `id`), and readers mask
    * data rows by [[maskTombstones]]' rule. Kept one name across every
    * standing index so the delete lifecycle cannot drift per index.
    */
  val TombsTable = "tombs"

  /** Equality-delete masking (the lake formats' sequence-number rule): a
    * data row of generation g is DEAD iff some committed tombstone for
    * its id sits at a LATER generation (tombGen > g — strictly, so
    * delete-then-re-append revives the id: the re-appended rows carry a
    * generation past the tombstone's and survive, while every copy from
    * before the delete stays masked). `asOf` pins both sides to one
    * snapshot, so an as-of read from before a delete still sees the doc.
    * Ids join by plain equality: a NULL id is never masked.
    *
    * Cost shape: nothing at all while the index has no committed
    * tombstone (no join is planned); with deletes, the tombstones folded
    * per id by [[foldTombs]] — on the driver with no Spark job up to the
    * broadcast threshold — and joined as a broadcast. Deletes accumulate
    * until the index's compaction folds them into the data tables and
    * drops the tombs table.
    */
  def maskTombstones(spark: SparkSession, indexDir: String,
      data: org.apache.spark.sql.DataFrame, idCol: String,
      asOf: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // the commit set is resolved only once a tombs table exists — an
    // index that never saw a delete pays one listing
    lazy val gens = {
      val g = committedAsOf(spark, indexDir, asOf)
      require(g.nonEmpty,
        s"no committed generations at $indexDir — build the index first")
      g
    }
    committedTombFiles(spark, indexDir, gens)
      .flatMap(foldTombs(spark, indexDir, gens, _, Seq("id"))) match {
      case None => data
      case Some(tmax) =>
        data.join(tmax.withColumnRenamed("id", idCol), Seq(idCol), "left")
          .filter(col(TombGen).isNull || col("gen") > col(TombGen))
          .drop(TombGen)
    }
  }

  /** The column [[foldTombs]] carries each key's newest tombstone
    * generation in.
    */
  val TombGen = "__tomb_gen"

  /** The tombstone files of the generations in `gens`, as (generation,
    * file) in path order; None when the index has no tombs table at all.
    * `gens` is evaluated only when the table exists. One listing of the
    * table root plus one per committed tombstone generation.
    */
  def committedTombFiles(spark: SparkSession, indexDir: String,
      gens: => Seq[Long])
      : Option[Seq[(Long, org.apache.hadoop.fs.FileStatus)]] = {
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/$TombsTable")
    val dirs =
      try fsOf(spark, indexDir).listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => return None }
    val keep = gens.toSet
    Some(dirs.flatMap { st =>
      val n = st.getPath.getName
      val g = if (st.isDirectory && n.startsWith("gen=") && n.length > 4 &&
          n.drop(4).forall(_.isDigit)) Some(n.drop(4).toLong) else None
      g.filter(keep).toSeq.flatMap(k =>
        ParquetSchema.dataFiles(spark, st.getPath.toString).map(k -> _))
    }.sortBy(_._2.getPath.toString))
  }

  /** Committed tombstones folded to one row per key: the `keys` columns
    * and [[TombGen]], the newest tombstone generation of that key; None
    * when `files` is empty.
    *
    * When the files total at most `spark.sql.autoBroadcastJoinThreshold`
    * bytes — the size at which the optimizer broadcasts them anyway, and
    * a broadcast collects its rows on the driver — they are read on the
    * driver with Spark's own parquet reader ([[DriverParquet]]), folded
    * there, and returned as a local relation with a broadcast hint:
    * [[org.apache.spark.sql.execution.DriverLocalBroadcast]] then builds
    * the broadcast with no job. Keys fold by their binary row form, so
    * floating-point and nested key columns (whose join equality is not
    * binary) take the planned path too. Otherwise — over the threshold,
    * the threshold disabled (-1), or a footer the driver cannot use — the
    * fold is the planned aggregate over the committed tombs table, as
    * before; each such mask is counted in [[TombFallback]] and logged at
    * WARN.
    */
  def foldTombs(spark: SparkSession, indexDir: String, gens: Seq[Long],
      files: Seq[(Long, org.apache.hadoop.fs.FileStatus)], keys: Seq[String])
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{col, max}
    if (files.isEmpty) return None
    val bytes = files.map(_._2.getLen).sum
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    val local: Either[String, org.apache.spark.sql.DataFrame] =
      if (limit < 0) Left("the broadcast threshold is disabled")
      else if (bytes > limit)
        Left(s"$bytes tombstone bytes exceed the $limit-byte threshold")
      else DriverParquet.reader(spark, files.head._2, keys)
        .toRight("the tombstone footer cannot be read on the driver")
        .flatMap { case (schema, read) =>
          if (!schema.fields.forall(f => binaryEq(f.dataType)))
            Left(s"a key column is not binary-comparable ($schema)")
          else Right(foldOnDriver(spark, schema, files, read))
        }
    Some(local.fold({ why =>
      TombFallback.count.incrementAndGet()
      logger.warn(s"tombstone mask at $indexDir: $why; folding the " +
        "tombstones with a planned aggregate")
      ParquetSchema.read(spark, s"$indexDir/$TombsTable")
        .filter(col("gen").isin(gens: _*))
        .groupBy(keys.map(col): _*).agg(max(col("gen")).as(TombGen))
    }, identity))
  }

  private def binaryEq(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
          DateType | TimestampType | TimestampNTZType | BinaryType => true
      case _: DecimalType => true
      case s: StringType => s == StringType // the binary collation only
      case _ => false
    }
  }

  /** Key → newest generation over every row of `files`, as a broadcast-
    * hinted local relation.
    */
  private def foldOnDriver(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[(Long, org.apache.hadoop.fs.FileStatus)],
      read: org.apache.hadoop.fs.FileStatus =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    val key = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(schema)
    val newest = scala.collection.mutable.HashMap.empty[UnsafeRow, Long]
    files.foreach { case (g, file) =>
      read(file).foreach { r =>
        val k = key(r)
        if (newest.get(k).forall(_ < g)) newest(k.copy()) = g
      }
    }
    val out = schema.add(TombGen,
      org.apache.spark.sql.types.LongType, nullable = false)
    val rows = newest.iterator.map { case (k, g) =>
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        k.toSeq(schema) :+ g): org.apache.spark.sql.catalyst.InternalRow
    }.toIndexedSeq
    org.apache.spark.sql.functions.broadcast(
      DriverParquet.localFrame(spark, out, rows))
  }

  /** Tombstone masks folded by the planned aggregate instead of on the
    * driver ([[foldTombs]]); each one is also logged at WARN.
    */
  object TombFallback {
    private[sources] val count = new java.util.concurrent.atomic.AtomicLong
    /** Process-wide count of masks that took the planned fold. */
    def masks: Long = count.get
  }

  private val logger =
    org.slf4j.LoggerFactory.getLogger("graft.sources.GenCommit")

  /** The next free generation id: past every committed id AND every
    * existing gen dir (a crashed publish may have renamed a table in
    * without committing — its id is burned, never reused).
    */
  def nextGen(spark: SparkSession, indexDir: String,
      tables: Seq[String]): Long =
    nextGenIn(spark, indexDir, tables, commitsListing(spark, indexDir))

  /** [[nextGen]] over a [[commitsListing]] the caller already holds. */
  private[sources] def nextGenIn(spark: SparkSession, indexDir: String,
      tables: Seq[String],
      commits: Seq[org.apache.hadoop.fs.FileStatus]): Long = {
    val f = fsOf(spark, indexDir)
    val fromDirs = tables.flatMap { t =>
      listOrEmpty(f, new org.apache.hadoop.fs.Path(s"$indexDir/$t"))
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("gen=") &&
          n.drop(4).forall(_.isDigit) && n.length > 4 => n.drop(4).toLong }
    }
    // claims count too: a writer that died between claiming and its
    // first rename left no gen dir, but its id is burned all the same
    ((committedIn(commits) ++ fromDirs ++ claimedIn(commits)) :+ -1L)
      .max + 1
  }

  /** Atomically CLAIM the next free generation id — the auto-retry half
    * of the optimistic-commit loop: claim FIRST (one exclusive file
    * create per attempt — a metadata op), stage under the claimed id,
    * then [[publish]] with `claimed = true`. Losing a race here costs a
    * directory re-listing and another file create, never a re-staged
    * write job: concurrent appends to one index serialize at metadata
    * price. `attempts` bounds pathological contention loudly instead of
    * spinning (64 lost races in a row is a stuck claimant or a caller
    * bug, not traffic). `token` should be the writer's staging token
    * ([[newToken]]) — it is written INTO the claim file so
    * [[publish]](claimed = true) can verify the caller actually owns
    * the claim it names (ADVICE r14: an anonymous claim file lets a
    * confused caller pass the fence on someone else's generation).
    */
  def claimNextGen(spark: SparkSession, indexDir: String,
      tables: Seq[String], attempts: Int = 64,
      token: String = "", declare: Seq[String] = Nil): Long = {
    var tries = attempts
    while (tries > 0) {
      val gen = nextGen(spark, indexDir, tables)
      if (tryClaim(spark, indexDir, gen, token, declare)) return gen
      tries -= 1
    }
    throw new IllegalStateException(
      s"claimNextGen: lost $attempts claim races at $indexDir — " +
        "either a claimant is stuck mid-crash-loop or generation ids " +
        "are being claimed outside this protocol")
  }

  /** Atomically claim ONE SPECIFIC generation id: true iff this caller
    * created the claim file (which records `token` as its owner). [[
    * claimNextGen]]'s building block, and the compare-and-swap a
    * READ-MODIFY-WRITE writer needs: claiming exactly `snapshot max + 1`
    * succeeds only if no other writer committed (or is committing) past
    * the snapshot the caller read — see [[graft.ops.ClusterStore.merge]]
    * for the argument. Append-only writers whose generations commute
    * should use [[claimNextGen]] instead (any free id serves them).
    *
    * STORE REQUIREMENT (the SwapDir caveat, ADVICE r14): the fence's
    * atomicity rests on exclusive file create, which is atomic under
    * HDFS semantics (HDFS, local FS, ABFS, GCS). On raw S3 the S3A
    * client implements create-exclusive as check-then-act, so two racing
    * claimants can both "win" — run this protocol there only behind a
    * committer/lock layer (e.g. S3A's directory committer or a DynamoDB
    * lock), exactly as every lake table format requires.
    */
  def tryClaim(spark: SparkSession, indexDir: String, gen: Long,
      token: String = "", declare: Seq[String] = Nil): Boolean = {
    val f = fsOf(spark, indexDir)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$indexDir/commits"))
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/commits/$Claim$gen")
    // [[createExclusive]] is THE atomic fence (java.io.File's
    // O_CREAT|O_EXCL locally, NameNode-atomic create elsewhere —
    // Hadoop's own createNewFile is check-then-act). The token (line 1) and the optional partition
    // DECLARATION (lines 2+, [[claimDeclaration]]) are written AFTER
    // winning, into a file this writer now owns exclusively: the token
    // is only read back by the owner at publish time, and a concurrent
    // writer that reads the declaration in the create→write window sees
    // none and treats the claimant as unknowable — conservative, never
    // unsound. A crash between the two steps leaves an empty claim — a
    // crashed claimant either way, which [[recoverClaims]] releases.
    if (!createExclusive(f, p)) false
    else {
      if (token.nonEmpty || declare.nonEmpty) {
        val out = f.create(p, true)
        try out.write((token +: declare).mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      true
    }
  }

  /** What an outstanding claim DECLARES it will touch — the concurrency
    * information a disjoint-writer check needs about an in-flight,
    * not-yet-committed generation (its manifest does not exist yet).
    * `None` = no declaration (a legacy or crashed-mid-write claim: the
    * writer's reach is unknowable, treat as conflicting). The entries
    * are whatever the claimant wrote — [[graft.sources.GenTable]] uses
    * its manifest encoding plus an all-partitions sentinel.
    */
  def claimDeclaration(spark: SparkSession, indexDir: String,
      gen: Long): Option[Seq[String]] = {
    val s = claimContent(spark, indexDir, gen)
    val lines = s.split("\n", -1).toSeq
    if (s.isEmpty || lines.length < 2) None else Some(lines.tail)
  }

  /** Raw claim-file content ("" if absent or not yet written) — lets a
    * concurrency check distinguish the owner's create→write window
    * (empty: re-read shortly) from a token-only claim that genuinely
    * declared nothing (unknowable: conflict).
    */
  def claimContent(spark: SparkSession, indexDir: String,
      gen: Long): String =
    readSmallFile(fsOf(spark, indexDir),
      new org.apache.hadoop.fs.Path(s"$indexDir/commits/$Claim$gen"))

  /** Read a small metadata file fully as UTF-8 ("" if absent) — claim
    * tokens here, partition manifests in [[GenTable]]. Metadata-sized
    * files only (read into one driver-side buffer).
    */
  def readSmallFile(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String =
    readSmallFileOpt(f, p).getOrElse("")

  /** [[readSmallFile]], None if the file is absent — one `open`, no
    * separate existence check.
    */
  def readSmallFileOpt(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] = {
    val in =
      try f.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      Some(new String(bytes.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8))
    } finally in.close()
  }

  /** The owner token recorded in a claim file ("" if the file is empty
    * or absent) — what [[publish]](claimed = true) verifies. Line 1 of
    * the file; later lines are the [[claimDeclaration]].
    */
  private def claimToken(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String =
    readSmallFile(f, p).split("\n", -1).head

  /** Drop the folded tombstone table — every index compactor's last
    * step before (or after) its commit-set reset; shared so the delete
    * lifecycle stays one code path across the standing indexes.
    */
  def dropTombs(spark: SparkSession, indexDir: String): Unit =
    fsOf(spark, indexDir).delete(
      new org.apache.hadoop.fs.Path(s"$indexDir/$TombsTable"), true)

  /** Release a claim THIS WRITER owns and has not begun publishing —
    * the CAS-failure cleanup ([[graft.ops.ClusterStore.merge]]): a
    * transient in-process failure between claim and publish would
    * otherwise burn the snapshot+1 slot until a compaction. Owner-only
    * by contract, and ONLY safe while no table dir for `gen` exists (a
    * partially-published generation must stay burned — the caller
    * checks before releasing).
    */
  def releaseClaim(spark: SparkSession, indexDir: String,
      gen: Long): Unit = {
    val f = fsOf(spark, indexDir)
    f.delete(
      new org.apache.hadoop.fs.Path(s"$indexDir/commits/$Claim$gen"), false)
  }

  /** The highest committed generation, with the module's friendly error
    * instead of `empty.max` when nothing is committed — every
    * compactor's first read.
    */
  def lastCommitted(spark: SparkSession, indexDir: String): Long = {
    val gens = committed(spark, indexDir)
    require(gens.nonEmpty,
      s"no committed generations at $indexDir — build the index first")
    gens.max
  }

  /** Promote generation `gen`: rename each staged table dir into its
    * table tree, then create the commit marker LAST. Caller must have
    * finished writing every [[stagePath]] (Spark leaves `_SUCCESS`,
    * which is checked — promoting a half-written stage is data loss).
    * `claimed = true` says the caller already owns `gen` via
    * [[claimNextGen]] (the append path); `false` claims here (the build
    * path, which owns the whole index dir it just created).
    */
  def publish(spark: SparkSession, indexDir: String, gen: Long,
      tables: Seq[String], token: String = "",
      claimed: Boolean = false): Unit = {
    val f = fsOf(spark, indexDir)
    // THE FENCE, and it must be ATOMIC: createNewFile either creates the
    // file or reports it exists — no check-then-act window. A rename-
    // based fence is NOT one: Hadoop rename with an existing directory
    // destination moves src INSIDE dst, so two racing renames would nest
    // the loser's table into the winner's generation and then half-apply
    // the loser's remaining tables — exactly the corruption this module
    // exists to prevent (review r14). The first writer to create the
    // claim owns generation `gen` and is the only one that renames; a
    // loser fails LOUDLY here with all its staged content intact
    // (claimed ids are burned, counted by nextGen, never reused).
    // [[claimNextGen]] moves this fence BEFORE staging so retries are
    // metadata-only — together they are the optimistic-commit loop of a
    // lake table format.
    val claim = new org.apache.hadoop.fs.Path(s"$indexDir/commits/$Claim$gen")
    f.mkdirs(claim.getParent)
    if (claimed) {
      require(f.exists(claim),
        s"publish: claimed=true but no claim file for generation $gen " +
          s"at $indexDir — ids must come from claimNextGen")
      // the claim must be OURS: the claim file records its owner's token
      // (tryClaim), so a caller that wrongly passes claimed=true for a
      // generation someone else claimed fails HERE instead of racing the
      // owner's renames (ADVICE r14 — an anonymous existence check was
      // the latent footgun)
      val owner = claimToken(f, claim)
      require(owner == token,
        s"publish: claim for generation $gen at $indexDir belongs to " +
          s"writer '$owner', not '$token' — claimed=true is only valid " +
          "for ids this writer claimed via claimNextGen/tryClaim with " +
          "the same token")
    } else
      require(createExclusive(f, claim),
        s"publish: generation $gen at $indexDir is already claimed — a " +
          "concurrent writer got there first; retry the append with a " +
          "fresh nextGen id")
    tables.foreach { t =>
      val src = new org.apache.hadoop.fs.Path(
        stagePath(indexDir, gen, t, token))
      require(f.exists(new org.apache.hadoop.fs.Path(src, "_SUCCESS")),
        s"publish: no complete staged set at $src (missing _SUCCESS)")
      val dst = new org.apache.hadoop.fs.Path(s"$indexDir/$t/gen=$gen")
      f.mkdirs(dst.getParent)
      require(!f.exists(dst), s"publish: generation dir $dst already " +
        "exists — generation ids must come from nextGen")
      require(store.promote(f, src, dst),
        s"publish: could not promote $src")
    }
    val marker = new org.apache.hadoop.fs.Path(s"$indexDir/commits/$gen")
    require(createExclusive(f, marker),
      s"publish: could not create commit marker $marker")
    // the marker records its WALL-CLOCK stamp (VERDICT r17 #2 — Delta's
    // commit timestamp): written after the atomic create, into a file
    // this writer owns. A crash in the window leaves an empty marker —
    // committed, timestamp unknown (the pre-r18 state), which the
    // timestamp resolution treats as inheriting its predecessor's stamp.
    val out = f.create(marker, true)
    try out.write(clockMs().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The wall clock commit markers stamp with — a SEAM so gates and
    * tests inject deterministic stamps (the driver's oracle compare
    * needs literal timestamps; D4 bans wall-clock reads in declared
    * queries). Production default is the system clock. Set-and-restore
    * in try/finally when overriding.
    */
  @volatile var clockMs: () => Long = () => System.currentTimeMillis()

  /** Generation `gen`'s recorded commit stamp (epoch millis), `None`
    * for a pre-r18 (empty or absent) marker.
    */
  def commitTs(spark: SparkSession, indexDir: String,
      gen: Long): Option[Long] = {
    val s = readSmallFile(fsOf(spark, indexDir),
      new org.apache.hadoop.fs.Path(s"$indexDir/commits/$gen")).trim
    if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
  }

  /** Claim-file prefix inside commits/ — the atomic per-generation fence
    * [[publish]] takes before any rename. Dot-prefixed so [[committed]]'s
    * digit filter ignores it; [[nextGen]] counts claims so a crashed
    * claimant's id stays burned.
    */
  private val Claim = ".claim-"

  /** Compaction-policy inputs, driver-side metadata only: (committed
    * generation count, total committed bytes across `tables`, the
    * largest single generation's bytes). Absent gen dirs (a table a
    * generation never wrote — tombstone-only generations, delete-only
    * nights) count zero.
    */
  def compactionStats(spark: SparkSession, indexDir: String,
      tables: Seq[String]): (Int, Long, Long) = {
    val f = fsOf(spark, indexDir)
    val gens = committed(spark, indexDir)
    val perGen = gens.map { g =>
      tables.map { t =>
        val p = new org.apache.hadoop.fs.Path(s"$indexDir/$t/gen=$g")
        if (f.exists(p)) f.getContentSummary(p).getLength else 0L
      }.sum
    }
    (gens.size, perGen.sum, if (perGen.isEmpty) 0L else perGen.max)
  }

  /** WHEN to compact — the measured crossover (VERDICT r14 #5), not a
    * guess: every read of a multi-generation table pays (a) a
    * per-generation metadata/open toll and (b) a re-read of the
    * redundant bytes (everything outside the one generation a compacted
    * table would serve), while compaction pays one fixed job overhead
    * plus a read+write pass over the table. Compact when the expected
    * reads before the next compaction would waste more than the rewrite
    * costs:
    *
    *   expectedReads × (PerGenReadSec × (G − 1)
    *                    + ReadSecPerByte × (B_total − B_largest))
    *     ≥ CompactFixedSec + RewriteSecPerByte × B_total
    *
    * Constants measured by the Stress `compactpolicy` stage on the
    * reference box (SCALE.md r15): the per-generation toll dominates for
    * label-store-sized tables (many tiny nightly generations — the
    * file-count pressure), the byte terms dominate for index-sized ones.
    * The fixed-cost floor is what keeps a fresh 2-generation store
    * uncompacted: two Spark jobs of overhead buy nothing there.
    *
    * `expectedReads` is the caller's cadence knob: how many reads the
    * table serves between maintenance windows (default 30 ≈ a nightly
    * pipeline compacting monthly). `bytesAmplified = false` drops the
    * redundant-byte term for stores whose reads touch each row exactly
    * once regardless of generation count ([[GenTable]]'s
    * partition-granular resolution — review r15): only the
    * per-generation metadata toll applies there.
    */
  def shouldCompact(spark: SparkSession, indexDir: String,
      tables: Seq[String], expectedReads: Int = 30,
      bytesAmplified: Boolean = true): Boolean = {
    val (g, total, largest) = compactionStats(spark, indexDir, tables)
    if (g <= 1) return false
    val redundant =
      if (bytesAmplified) ReadSecPerByte * (total - largest).toDouble
      else 0.0
    val extraPerRead = PerGenReadSec * (g - 1) + redundant
    val compactCost = CompactFixedSec + RewriteSecPerByte * total.toDouble
    expectedReads * extraPerRead >= compactCost
  }

  /** Per-generation read toll: footer/open/listing per generation per
    * read. Stress `compactpolicy` datum (1M-label ClusterStore, 30 tiny
    * nightly generations): read at 31 gens 0.609 s vs 0.386 s compacted
    * → (0.609 − 0.386)/30 ≈ 0.0074 s/generation (SCALE.md r15).
    */
  private val PerGenReadSec = 0.0075
  /** Redundant-byte re-read rate (local parquet scan ~1 GB/s upward;
    * conservative 2 GB/s would under-compact, so 1 GB/s).
    */
  private val ReadSecPerByte = 1.0e-9
  /** One compaction's fixed overhead: the read+rewrite Spark jobs plus
    * the swap/commit metadata. Stress `compactpolicy` datum: compacting
    * the ~10 MB pile took 0.97 s — essentially all fixed cost at that
    * size (SCALE.md r15). This floor is what keeps a fresh store
    * uncompacted: with the measured toll, the nightly-cadence default
    * (expectedReads = 30) first fires at ~6 generations.
    */
  private val CompactFixedSec = 1.0
  /** Rewrite rate: read all generations + write the view (~1 GB/s read +
    * ~0.3 GB/s snappy parquet write on the reference box).
    */
  private val RewriteSecPerByte = 4.0e-9

  /** The generation ids with an outstanding CLAIM file (committed or
    * not) — the recovery paths' worklist ([[recoverClaims]] here,
    * [[graft.sources.GenTable.recover]] for the single-writer table).
    */
  def claimedGens(spark: SparkSession, indexDir: String): Seq[Long] =
    claimedIn(commitsListing(spark, indexDir))

  /** Release claims whose generation never BEGAN publishing — no gen dir
    * exists for the id in any table (a writer that died between claiming
    * and its first rename). Without this, a crashed CAS writer (e.g.
    * [[graft.ops.ClusterStore.merge]]'s snapshot+1 claim) blocks every
    * subsequent merge until a full compact — a corpus-sliver rewrite for
    * a metadata-only failure (ADVICE r14 / VERDICT r14 #4). A claim with
    * a gen dir stays burned (partially-published generations must never
    * be reused — [[nextGen]]'s invariant).
    *
    * SAFETY WINDOW: only run this when no writer is mid-flight on the
    * index — a LIVE claimant between claim and first rename looks
    * identical to a crashed one (its staged `.gen*` writes live outside
    * the table trees). Same single-writer maintenance-window contract
    * the compactors carry; unlike them it costs only metadata, so a
    * stuck nightly unblocks without paying compact's rewrite.
    *
    * @return the released generation ids
    */
  def recoverClaims(spark: SparkSession, indexDir: String,
      tables: Seq[String]): Seq[Long] = {
    val f = fsOf(spark, indexDir)
    val commitsDir = new org.apache.hadoop.fs.Path(s"$indexDir/commits")
    if (!f.exists(commitsDir)) return Seq.empty
    val claimed = claimedGens(spark, indexDir)
    val marked = committed(spark, indexDir).toSet
    claimed.filter { g =>
      // a marker means the publish COMPLETED and the claim is just its
      // normal residue — never touch it; a gen dir means publishing
      // began — the id stays burned
      !marked.contains(g) &&
        !tables.exists(t =>
          f.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$t/gen=$g"))) && {
        releaseClaim(spark, indexDir, g); true
      }
    }
  }

  /** Garbage-collect orphan STAGE dirs (`.gen*` at the index root) —
    * leftovers of crashed appends and fencing losers. Only safe inside
    * a compaction's maintenance window (no live writer may be mid-stage
    * — the same single-writer contract the compactors already carry);
    * [[StandingStore.compact]] calls it on entry.
    */
  def gcStages(spark: SparkSession, indexDir: String): Unit = {
    val f = fsOf(spark, indexDir)
    val root = new org.apache.hadoop.fs.Path(indexDir)
    if (f.exists(root)) f.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith(".gen"))
      .foreach(s => f.delete(s.getPath, true))
  }

  /** Compaction support: atomically replace the commit set with the
    * single generation `gen` (SwapDir on the commits dir — crash-safe
    * like the table swaps it follows; see [[StandingStore]] for the
    * window-by-window consistency argument).
    *
    * Claim files are wiped with the rest of the old commit set. That
    * SCOPES the never-reuse invariant: COMMITTED ids are never reused,
    * ever (the next id is past keepGen = the committed max, and stale
    * as-of pins reference committed ids only) — but a claimed-never-
    * committed id loses its burn here and may be handed out again.
    * That is safe, and deliberate: the compactor's single-writer
    * maintenance window means every outstanding claim belongs to a
    * CRASHED writer, whose staged bytes gcStages already removed and
    * whose orphan generations the table swaps erased — nothing of the
    * claimant survives for a reused id to collide with, and wiping is
    * also the documented remedy when a crashed claim blocks
    * [[graft.ops.ClusterStore.merge]]'s compare-and-swap.
    */
  def resetCommits(spark: SparkSession, indexDir: String,
      gen: Long): Unit = {
    val f = fsOf(spark, indexDir)
    val st = new org.apache.hadoop.fs.Path(
      SwapDir.stagePath(indexDir, "commits"))
    f.delete(st, true)
    f.mkdirs(st)
    // the reset marker is stamped like any publish: after a compaction
    // the fresh generation's stamp is the compaction time, so an as-of
    // TIMESTAMP pin from before it finds no generation and fails loudly
    // (the VACUUM contract) instead of silently resolving to collapsed
    // content
    val marker = new org.apache.hadoop.fs.Path(st, gen.toString)
    val out = f.create(marker, true)
    try out.write(clockMs().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(f.createNewFile(new org.apache.hadoop.fs.Path(st, "_SUCCESS")))
    SwapDir.swap(spark, indexDir, "commits")
  }
}
