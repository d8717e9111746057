package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The STANDING near-dup cluster state — the nightly dedup pipeline's
  * last piece made a persisted, atomically-maintained table instead of
  * an in-memory frame that dies with the job.
  *
  * After r13/r14 the nightly is delta-proportional end to end in
  * COMPUTE: detection probes the materialized LSH index
  * ([[Text.lshProbe]]), resolution merges the probe's pairs into
  * yesterday's labels ([[Text.ccMerge]]). But yesterday's labels have to
  * LIVE somewhere: rewriting the full label table every night re-pays
  * corpus-sized WRITE I/O for a delta-sized change — q92's
  * full-rewrite problem, recurring nightly. This store fixes it the
  * lake way, with the repo's third commit-protocol flavor:
  * MERGE-ON-READ generations.
  *
  *  - `dir/labels/gen=0`: the initial full resolution (doc_id → comp
  *    for every doc with ≥ 1 near-dup — singletons are absent, exactly
  *    [[Text.dupComponentsStar]]'s domain).
  *  - `dir/labels/gen=k` (k ≥ 1): ONLY the labels night k CHANGED —
  *    [[Text.ccMergeParts]]'s rewired half (touched components' members
  *    + tonight's new docs). Delta-proportional bytes.
  *  - Readers ([[read]]) union the committed generations LATEST-WINS
  *    per doc: components only grow or merge under added pairs (no
  *    edge deletions in this model), so the newest label is the
  *    current one. `asOfGen = k` pins "clusters as of night k" — the
  *    audit read, free because history is the storage format.
  *  - Every generation commits through [[graft.sources.GenCommit]],
  *    so a crashed night is INVISIBLE, not half-applied; concurrent
  *    merges serialize by COMPARE-AND-SWAP (see [[merge]] — a merge is
  *    a read-modify-write, so unlike index appends it claims exactly
  *    snapshot+1 and the loser fails loudly).
  *  - [[compact]] folds history into one generation when the
  *    changed-row tail outweighs the read's latest-wins shuffle —
  *    [[graft.sources.StandingStore]]'s crash-safe compaction, same
  *    keepGen id semantics as every standing index (stale pins fail
  *    loudly, the surviving pin keeps its meaning).
  *
  * Scale shape: the nightly WRITE is the changed set (delta-
  * proportional); the nightly READ inside [[merge]] is one scan of the
  * narrow (id, comp) table plus a latest-wins shuffle — the price of
  * merge-on-read, bounded by the corpus sliver that has near-dups at
  * all, and reclaimable any time via [[compact]]. The alternative
  * (copy-on-write labels) pays a corpus-sized WRITE nightly; for a
  * label table read once per night and written once per night,
  * merge-on-read is the right trade. Mirrors the reference's
  * cache-not-recompute principle
  * (reference: dags/order_currency_conversion_dag.py:33-42) applied to
  * derived cluster state.
  */
object ClusterStore {

  /** The store's lifecycle: one labels table, no tombstone table (a
    * [[remove]] is a null-comp label row), compaction persists [[read]]'s
    * latest-wins view.
    */
  private val Store = graft.sources.StandingStore("cluster store", "init",
    Seq("labels"), scanTables = Seq("labels"),
    fold = (spark, dir, _) =>
      graft.sources.StandingStore.Fold(read(spark, dir)))

  /** Initialize the store with a FULL resolution (gen 0), replacing
    * anything at `dir`. `labels` must carry (id, comp) —
    * [[Text.dupComponentsStar]]'s output shape.
    */
  def init(labels: DataFrame, dir: String): Unit =
    Store.build(labels.sparkSession, dir)(
      stageLabels(labels.select(col("id"), col("comp")), _))

  /** Apply one night's delta pair list (the shape [[Text.lshProbe]]
    * emits, via [[Text.deltaPairList]]'s contract: cross pairs ∪
    * delta-internal pairs): merge into the current labels and commit
    * ONLY the changed rows as a new generation. Crash-safe (an
    * uncommitted night is invisible) and SERIALIZED against concurrent
    * merges by compare-and-swap: unlike the indexes' appends (whose
    * generations are independent deltas — any interleaving is their
    * union, so ANY free id serves), a merge is a READ-MODIFY-WRITE, and
    * two merges from the same snapshot must not both land. The fence is
    * claiming EXACTLY `snapshot max + 1` ([[graft.sources.GenCommit
    * .tryClaim]]): every merge writer claims its own snapshot+1, so two
    * racing from one snapshot collide on the same claim file and the
    * loser fails LOUDLY here with nothing staged — re-read and re-merge
    * to retry. The read itself pins `asOfGen = snapshot`, so the labels
    * merged are exactly the fenced state. The read, the merge and the
    * staged write run inside [[graft.sources.GenCommit.withClaim]]: an
    * in-process failure before publishing (a bad delta schema, a failed
    * stage write) releases the claim, so the next merge retries at once.
    * (A claim left by a CRASHED merge blocks the slot until
    * [[graft.sources.GenCommit.recoverClaims]] releases it or [[compact]]
    * wipes it.)
    */
  def merge(
      spark: SparkSession,
      dir: String,
      deltaPairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): Unit = {
    import graft.sources.GenCommit
    val base = GenCommit.lastCommitted(spark, dir)
    val (gen, tk) = (base + 1, GenCommit.newToken())
    require(GenCommit.tryClaim(spark, dir, gen, tk),
      s"ClusterStore.merge: generation $gen at $dir is already " +
        "claimed — a concurrent merge is in flight (re-read and retry) " +
        "or a crashed one left its claim (recoverClaims releases it " +
        "without a compact)")
    GenCommit.withClaim(spark, dir, gen, Seq("labels")) {
      val cur = read(spark, dir, asOfGen = Some(base))
      val (_, rewired) = Text.ccMergeParts(cur, deltaPairs, aCol, bCol)
      stageLabels(rewired, GenCommit.stagePath(dir, gen, _, tk))
      Some(GenCommit.publish(spark, dir, gen, Seq("labels"), tk,
        claimed = true))
    }
  }

  /** TOMBSTONE removal from the standing labels (VERDICT r14 #1 — the
    * takedown path: a document leaves the corpus, its cluster label must
    * leave the store without a rewrite): commits one delta-proportional
    * generation of (id, comp = NULL) rows — the latest-wins read machinery
    * IS the tombstone machinery, a null comp simply wins and then drops
    * from the view. Removing an id the store never held is a harmless
    * no-op (its null row wins over nothing). A later [[merge]] whose
    * delta pairs touch a removed id RE-ADDS it (the merge generation
    * outranks the tombstone — re-entry is the correct semantic for a doc
    * that re-appears with near-dups), and an `asOfGen` pin from before
    * the removal still reads the old label (both spec-pinned).
    * [[compact]] folds tombstones away for free: it persists [[read]]'s
    * view, which has already dropped them.
    *
    * REMOVAL IS ROW-SCOPED, not cluster-scoped, by design: the remaining
    * members of the removed doc's cluster keep their labels (component
    * names are stable ids, not live min-member recomputations — the same
    * reason ccMerge never relabels untouched components). Re-deriving
    * "what the clusters would be had the doc never existed" is a
    * resolution question, answered by rebuilding the affected component
    * from its surviving pair list — a different, costlier operation.
    */
  def remove(
      spark: SparkSession,
      dir: String,
      ids: DataFrame,
      idCol: String = "id"): Unit = {
    val compType = graft.sources.GenCommit
      .committedTable(spark, dir, "labels").schema("comp").dataType
    Store.append(spark, dir)(stageLabels(
      ids.select(col(idCol).as("id"),
        lit(null).cast(compType).as("comp")).distinct(), _))
  }

  /** The current labels (or, with `asOfGen = k`, the labels as of night
    * k): committed generations, latest-wins per doc — and a latest row
    * whose comp is NULL is a [[remove]] tombstone, dropped from the
    * view. Latest-wins rides a struct max ordered by gen (an id appears
    * at most once per generation — init once, one row per changed id per
    * merge, one per remove — so the comp field never tiebreaks). One
    * narrow scan + one doc_id shuffle — the merge-on-read price
    * [[compact]] resets.
    */
  def read(spark: SparkSession, dir: String,
      asOfGen: Option[Long] = None): DataFrame =
    graft.sources.GenCommit.committedTable(spark, dir, "labels", asOfGen)
      .groupBy(col("id"))
      .agg(max(struct(col("gen"), col("comp"))).as("__latest"))
      .select(col("id"), col("__latest.comp").as("comp"))
      .filter(col("comp").isNotNull)

  /** Fold history into the single highest committed generation —
    * [[graft.sources.StandingStore.compact]]: crash-safe table rewrite,
    * then the commit set resets to {keepGen} (stale as-of pins fail
    * loudly; the surviving pin denotes identical data). Single-writer
    * maintenance window, as with every compactor.
    */
  def compact(spark: SparkSession, dir: String): Unit =
    Store.compact(spark, dir)

  /** The measured compact-now signal ([[graft.sources.GenCommit
    * .shouldCompact]]'s crossover over the labels table): true once the
    * nightly generations' read toll outweighs one fold. The nightly's
    * natural call shape: `if (shouldCompact(...)) compact(...)` in the
    * maintenance window.
    */
  def shouldCompact(spark: SparkSession, dir: String,
      expectedReads: Int = 30): Boolean =
    Store.shouldCompact(spark, dir, expectedReads)

  /** Heal an interrupted [[compact]] swap; safe any time. */
  def recover(spark: SparkSession, dir: String): Unit =
    Store.recover(spark, dir)

  /** Release claims left by merges that died BEFORE staging anything —
    * the targeted unblock for a crashed nightly (VERDICT r14 #4): the
    * snapshot+1 slot frees at metadata cost instead of [[compact]]'s
    * full label-table rewrite. Single-writer maintenance window (a LIVE
    * merge between claim and staging is indistinguishable from a crashed
    * one — see [[graft.sources.GenCommit.recoverClaims]]).
    */
  def recoverClaims(spark: SparkSession, dir: String): Seq[Long] =
    graft.sources.GenCommit.recoverClaims(spark, dir, Store.tables)

  private def stageLabels(labels: DataFrame, path: String => String): Unit =
    labels.write.mode("overwrite").parquet(path("labels"))
}
