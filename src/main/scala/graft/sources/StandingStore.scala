package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The lifecycle every standing store shares — IVF ([[graft.ops.Vector]]),
  * IVF-PQ ([[graft.ops.VectorPq]]), text-LSH ([[graft.ops.Text]]),
  * inverted ([[graft.ops.Inverted]]) and [[graft.ops.ClusterStore]]. Each
  * store describes itself as one value; this module owns the protocol
  * order over [[GenCommit]] and [[SwapDir]], so the order exists once:
  *
  *  - build: replace the store's directory, stage generation 0, publish
  *    (the publish takes the claim — the builder owns the fresh dir);
  *  - append: claim-first [[GenCommit.claimNextGen]] over the scan
  *    tables → staged writes → [[GenCommit.publish]] with `claimed`;
  *  - delete: one generation of distinct ids in [[GenCommit.TombsTable]];
  *  - compact: recover → [[GenCommit.gcStages]] → keepGen = the highest
  *    committed id → per table, the fold written to its
  *    [[SwapDir.stagePath]] and [[SwapDir.swap]]ped in → drop the folded
  *    tombstones → [[GenCommit.resetCommits]] to {keepGen};
  *  - recover: [[SwapDir.recover]] for each table, then `commits`;
  *  - shouldCompact: [[GenCommit.shouldCompact]] over the scan tables.
  *
  * THE WINDOW ARGUMENT — why every intermediate state of a compaction
  * reads exactly the committed rows. keepGen is the HIGHEST committed id,
  * never 0: ids are never reused across compaction, so a stale as-of pin
  * fails loudly, and a pin at the surviving id denotes the same data
  * before and after. After a table's swap its only generation is keepGen,
  * which the old commit set still admits, and `isin` over absent
  * generation values reads nothing, so a reader between two swaps sees
  * complete alive rows in every table. Tombstones fold into the rewrite;
  * the folded rows sit at gen = keepGen and a tombstone sits at most AT
  * keepGen, so the strict later-generation rule of
  * [[GenCommit.maskTombstones]] masks none of them while the tombs table
  * still exists — dropping it afterwards changes no read. The commit-set
  * reset comes last; uncommitted orphan generations vanish with the
  * swaps. A crash at any point leaves each table in one of SwapDir's
  * three states, which [[recover]] heals (and compact runs first).
  *
  * Compaction and recovery are SINGLE-WRITER: schedule them in a
  * maintenance window, as with any lake table rewrite (a reader can see a
  * missing canonical path for the instant between a swap's two renames).
  *
  * @param name       what the store is, for error messages
  * @param rebuild    the build entry point a lost store is rebuilt with
  * @param tables     generation tables, in compaction and recovery order
  * @param scanTables tables whose gen dirs burn an id at claim time (the
  *                   tombstone table for stores that delete by tombstone)
  * @param fold       a table's compacted content ([[StandingStore.Fold]])
  * @param optional   tables a store may lack (PQ's refine `vectors`):
  *                   skipped when none of their swap states exists
  */
final case class StandingStore(
    name: String,
    rebuild: String,
    tables: Seq[String],
    scanTables: Seq[String],
    fold: (SparkSession, String, String) => StandingStore.Fold,
    optional: Set[String] = Set.empty) {

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commit(spark: SparkSession, dir: String, gen: Long,
      token: String, claimed: Boolean, staged: Seq[String])(
      stage: (String => String) => Unit): Unit = {
    stage(t => GenCommit.stagePath(dir, gen, t, token))
    GenCommit.publish(spark, dir, gen, staged, token, claimed)
  }

  /** Replace whatever is at `dir` with generation 0. `stage` writes the
    * store's metadata and each table in `staged` at `path(table)`.
    */
  def build(spark: SparkSession, dir: String, staged: Seq[String] = tables)(
      stage: (String => String) => Unit): Unit = {
    fs(spark, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    commit(spark, dir, 0L, GenCommit.newToken(), claimed = false, staged)(
      stage)
  }

  /** Commit one new generation of `staged`, claim first: the id is fenced
    * before the staged writes, so losing a race with a concurrent writer
    * costs a metadata retry, never a re-staged write job, and the claim
    * records the writer's token so publish verifies ownership.
    */
  def append(spark: SparkSession, dir: String, staged: Seq[String] = tables)(
      stage: (String => String) => Unit): Unit = {
    val tk = GenCommit.newToken()
    val gen = GenCommit.claimNextGen(spark, dir, scanTables, token = tk)
    commit(spark, dir, gen, tk, claimed = true, staged)(stage)
  }

  /** Commit generation `gen`, which the caller already claimed with
    * `token` ([[graft.ops.ClusterStore.merge]]'s compare-and-swap).
    */
  def commitClaimed(spark: SparkSession, dir: String, gen: Long,
      token: String)(stage: (String => String) => Unit): Unit =
    commit(spark, dir, gen, token, claimed = true, tables)(stage)

  /** Tombstone delete: one generation holding the distinct ids of `ids`
    * (column `idCol`) in the shared tombs table. `also` names further
    * tables the same generation commits, staged by `stageAlso` (the
    * inverted index's negative stats row).
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame, idCol: String,
      also: Seq[String] = Nil,
      stageAlso: (String => String) => Unit = _ => ()): Unit =
    append(spark, dir, GenCommit.TombsTable +: also) { path =>
      ids.select(col(idCol).as("id")).distinct()
        .write.mode("overwrite").parquet(path(GenCommit.TombsTable))
      stageAlso(path)
    }

  /** Fold every generation into keepGen, table by table (see the window
    * argument above).
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    recover(spark, dir)
    GenCommit.gcStages(spark, dir)
    val keepGen = GenCommit.lastCommitted(spark, dir)
    tables.filter(t => !optional(t) ||
        fs(spark, dir).exists(new org.apache.hadoop.fs.Path(s"$dir/$t")))
      .foreach { t =>
        val StandingStore.Fold(rows, partitionBy @ _*) = fold(spark, dir, t)
        rows.withColumn("gen", lit(keepGen))
          .write.mode("overwrite").partitionBy(("gen" +: partitionBy): _*)
          .parquet(SwapDir.stagePath(dir, t))
        SwapDir.swap(spark, dir, t)
      }
    if (scanTables.contains(GenCommit.TombsTable))
      GenCommit.dropTombs(spark, dir)
    GenCommit.resetCommits(spark, dir, keepGen)
  }

  /** Heal an interrupted [[compact]]: each table and then the commit set,
    * independently (a crash between swaps leaves earlier ones promoted and
    * later ones not; each rolls to a complete generation). Safe any time.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    def present(t: String) =
      Seq(s"$dir/$t", s"$dir/${t}_old", SwapDir.stagePath(dir, t))
        .exists(p => f.exists(new org.apache.hadoop.fs.Path(p)))
    (tables.filter(t => !optional(t) || present(t)) :+ "commits")
      .foreach { t =>
        SwapDir.recover(spark, dir, t,
          s"$name at $dir: no $t in any swap state — the store is gone, " +
            s"rebuild with $rebuild")
      }
  }

  /** The measured compact-now signal over the scan tables (tombstone
    * bytes are pure read redundancy, so they push toward folding).
    */
  def shouldCompact(spark: SparkSession, dir: String,
      expectedReads: Int = 30): Boolean =
    GenCommit.shouldCompact(spark, dir, scanTables, expectedReads)
}

object StandingStore {

  /** A table's compacted content: `rows` without the `gen` column,
    * clustered so each partition lands in one task, and the partition
    * columns below `gen`.
    */
  final case class Fold(rows: DataFrame, partitionBy: String*)

  /** A table's committed rows minus the tombstoned ones, `gen` dropped —
    * the fold of every table that carries the store's id column.
    */
  def alive(spark: SparkSession, dir: String, table: String,
      idCol: String): DataFrame =
    GenCommit.maskTombstones(spark, dir,
      GenCommit.committedTable(spark, dir, table), idCol).drop("gen")
}
