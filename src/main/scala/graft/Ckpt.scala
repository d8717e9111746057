package graft

import org.apache.spark.sql.DataFrame

/** The persisted RDD behind a `localCheckpoint()`'d frame (review r20).
  *
  * The statement paths that materialize a delta once (MERGE, INSERT)
  * and the CC loops all need to FREE the checkpointed blocks when the
  * consumer is done. The first cut diffed
  * `sc.getPersistentRDDs` around the checkpoint call — which is a
  * context-GLOBAL set, so a concurrent statement's checkpoint landing
  * inside the snapshot window would be swept into the diff and
  * unpersisted out from under it (localCheckpoint truncates lineage;
  * the blocks are unrecoverable). A checkpointed Dataset's analyzed
  * plan is exactly the `LogicalRDD` wrapping the persisted RDD, so the
  * owner can be identified without any global state.
  */
object Ckpt {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.Ckpt")
  private val unresolvedCount = new java.util.concurrent.atomic.AtomicLong

  /** The checkpointed RDD behind `df`, or None when `df` is not a
    * bare checkpoint result (callers then free nothing — never a
    * stranger's blocks).
    */
  def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** [[rddOf]] for the OWNER of a checkpoint, which must free its blocks
    * later: None there means the blocks stay cached until the context
    * stops, so it is warned about and counted ([[unresolved]]), never
    * silent. `site` names the caller in the warning.
    */
  def ownedRdd(df: DataFrame, site: String)
      : Option[org.apache.spark.rdd.RDD[_]] = {
    val r = rddOf(df)
    if (r.isEmpty) {
      unresolvedCount.incrementAndGet()
      log.warn(s"$site: the checkpointed frame's plan is not a LogicalRDD; " +
        "its blocks cannot be freed and stay cached until the context stops")
    }
    r
  }

  /** Process-wide count of checkpoints whose RDD [[ownedRdd]] could not
    * resolve — each one leaked its blocks.
    */
  def unresolved: Long = unresolvedCount.get

  /** Unpersist exactly `df`'s own checkpointed blocks (async). */
  def free(df: DataFrame): Unit =
    ownedRdd(df, "Ckpt.free").foreach(_.unpersist(blocking = false))
}
