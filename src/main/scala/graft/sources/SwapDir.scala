package graft.sources

import org.apache.spark.sql.SparkSession

/** Crash-safe directory replacement for materialized index generations —
  * the rename-aside swap of [[StandingStore]]'s compaction, which every
  * standing store's compactor runs (and of [[GenCommit.resetCommits]]).
  * Single-writer semantics; see [[StandingStore]] for the
  * maintenance-window contract.
  *
  * Protocol (live = `root/<name>`, stage = `root/<name>_compacting`,
  * old = `root/<name>_old`):
  *   caller writes the full replacement set at stage (Spark leaves a
  *   `_SUCCESS` marker) → [[swap]] renames (1) live → old,
  *   (2) stage → live, then (3) deletes old.
  * Every failure point leaves a COMPLETE set recoverable on disk: a crash
  * before (1) leaves live untouched; between (1) and (2) the new set is
  * complete at stage and the old at old (roll FORWARD); after (2) only
  * the stale old lingers (cleanup). [[recover]] heals all three states
  * and [[StandingStore.compact]] runs it on entry, so a crashed swap
  * self-heals on the next maintenance run.
  *
  * Renames go through the Hadoop FileSystem API so the swap works on any
  * rename-capable store (HDFS, local, S3A with a committer layer — raw
  * S3 rename is not atomic; see IncrementalPipeline's ledger note).
  *
  * The `_SUCCESS` marker is the completeness protocol: [[swap]] refuses
  * to promote a stage dir without one (a half-written stage promoted is
  * data loss), and [[recover]] uses it to tell roll-forward from
  * roll-back. Deployments that disable markers
  * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, common
  * object-store guidance) must re-enable them for index-maintenance
  * jobs — without a marker there is no way to distinguish a complete
  * staged generation from a crashed write, and failing loudly here is
  * the correct behavior, not a regression.
  */
object SwapDir {

  /** Where the caller must write the replacement set before [[swap]]. */
  def stagePath(root: String, name: String): String =
    s"$root/${name}_compacting"

  private def fs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomically-as-possible promote `root/<name>_compacting` to
    * `root/<name>`. Caller must have finished writing the stage dir
    * (with `_SUCCESS`). Every rename result is CHECKED.
    */
  def swap(spark: SparkSession, root: String, name: String): Unit = {
    val f = fs(spark, root)
    val dst = new org.apache.hadoop.fs.Path(s"$root/$name")
    val old = new org.apache.hadoop.fs.Path(s"$root/${name}_old")
    val tmp = new org.apache.hadoop.fs.Path(stagePath(root, name))
    require(f.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")),
      s"swap: no complete staged set at $tmp (missing _SUCCESS) — " +
        "write the replacement before swapping")
    require(f.rename(dst, old),
      s"swap failed: could not set aside $dst")
    require(f.rename(tmp, dst),
      s"swap failed: could not rename $tmp into place " +
        s"(complete sets remain at $old and $tmp — run recover)")
    f.delete(old, true)
  }

  /** Heal an interrupted [[swap]]. Safe to run any time (no-op + stray
    * cleanup on a healthy dir). Decision table:
    *  - live exists → healthy; delete stray old/stage (crash after the
    *    swap completed or before it began).
    *  - live missing, stage has `_SUCCESS` → crash between the two
    *    renames with a COMPLETE new set: roll forward.
    *  - live missing, old exists → stage incomplete: roll back.
    *  - none → the data is gone: fail loudly (`fatalMsg`) rather than
    *    fabricate an empty directory.
    */
  def recover(spark: SparkSession, root: String, name: String,
      fatalMsg: => String): Unit = {
    val f = fs(spark, root)
    val dst = new org.apache.hadoop.fs.Path(s"$root/$name")
    val old = new org.apache.hadoop.fs.Path(s"$root/${name}_old")
    val tmp = new org.apache.hadoop.fs.Path(stagePath(root, name))
    if (f.exists(dst)) {
      f.delete(old, true)
      f.delete(tmp, true)
    } else if (f.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
      require(f.rename(tmp, dst), s"recover: could not roll $tmp forward")
      f.delete(old, true)
    } else if (f.exists(old)) {
      require(f.rename(old, dst), s"recover: could not roll $old back")
      f.delete(tmp, true)
    } else {
      require(false, fatalMsg)
    }
  }
}
