package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared standing-store lifecycle ([[graft.sources.StandingStore]])
  * under injected crashes: every store's compaction is killed inside each
  * of its swaps — every generation table and the commit set — in each of
  * SwapDir's three states, and the store's own recover must bring back
  * exactly what a clean compaction reads.
  */
class StandingStoreSpec extends SparkSuite {
  import spark.implicits._

  /** One store under test: its swap tables in compaction order, and its
    * public build/compact/recover/read entry points.
    */
  private case class Store(name: String, tables: Seq[String],
      make: String => Unit, compact: String => Unit,
      recover: String => Unit, read: String => DataFrame)

  private lazy val emb = Tables.embeddings(spark, sf001)
  private lazy val vecProbes = emb.filter(col("vec_id") < 8)
  private lazy val docs = Tables.documents(spark, sf001)
  private lazy val lshCorpus =
    docs.filter(col("doc_id") % 5 =!= 4).filter(col("doc_id") < 6000)

  private def pairs(p: (Long, Long)*) = p.toDF("doc_a", "doc_b")

  // each store is built, appended to and deleted from, so every
  // compaction has several generations and (but for ClusterStore, whose
  // removals are label rows) a tombstone table to fold
  private lazy val stores = Seq(
    Store("ivf", Seq("postings"),
      make = d => {
        ops.Vector.ivfBuild(emb.filter(col("vec_id") % 2 === 0), d,
          nlist = 16)
        ops.Vector.ivfAppend(spark, d, emb.filter(col("vec_id") % 2 === 1))
        ops.Vector.ivfDelete(spark, d, emb.filter(col("vec_id") % 7 === 0))
      },
      compact = ops.Vector.ivfCompact(spark, _),
      recover = ops.Vector.ivfRecover(spark, _),
      read = ops.Vector.ivfSearch(spark, _, vecProbes, nprobe = 4, k = 10)),
    Store("pq", Seq("postings", "vectors"),
      make = d => {
        ops.VectorPq.pqBuild(emb.filter(col("vec_id") % 2 === 0), d,
          nlist = 16, m = 16, refinable = true)
        ops.VectorPq.pqAppend(spark, d, emb.filter(col("vec_id") % 2 === 1))
        ops.VectorPq.pqDelete(spark, d, emb.filter(col("vec_id") % 7 === 0))
      },
      compact = ops.VectorPq.pqCompact(spark, _),
      recover = ops.VectorPq.pqRecover(spark, _),
      // refine reads the exact-vector table beside the codes
      read = ops.VectorPq.pqSearch(spark, _, vecProbes, nprobe = 4,
        refine = 20)),
    Store("lsh", Seq("buckets", "docs"),
      make = d => {
        ops.Text.lshBuild(lshCorpus.filter(col("doc_id") % 2 === 0), d)
        ops.Text.lshAppend(spark, d,
          lshCorpus.filter(col("doc_id") % 2 === 1))
        ops.Text.lshDelete(spark, d,
          lshCorpus.filter(col("doc_id") % 7 === 0))
      },
      compact = ops.Text.lshCompact(spark, _),
      recover = ops.Text.lshRecover(spark, _),
      read = ops.Text.lshProbe(spark, _,
        docs.filter(col("doc_id") % 5 === 4).filter(col("doc_id") < 6000),
        threshold = 0.8)),
    Store("inverted", Seq("postings", "stats"),
      make = d => {
        ops.Inverted.invBuild(docs.filter(col("doc_id") % 2 === 0), d,
          nBuckets = 16)
        ops.Inverted.invAppend(spark, d, docs.filter(col("doc_id") % 2 === 1))
        ops.Inverted.invDelete(spark, d, docs.filter(col("doc_id") % 7 === 0))
      },
      compact = ops.Inverted.invCompact(spark, _),
      recover = ops.Inverted.invRecover(spark, _),
      read = ops.Inverted.invSearch(spark, _, Seq("table", "hash", "merge"))),
    Store("cluster", Seq("labels"),
      make = d => {
        ops.ClusterStore.init(ops.Text.dupComponentsStar(
          pairs((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L))), d)
        ops.ClusterStore.merge(spark, d, pairs((3L, 10L), (20L, 21L)))
        ops.ClusterStore.merge(spark, d, pairs((4L, 11L)))
        ops.ClusterStore.remove(spark, d, Seq(2L, 20L).toDF("id"))
      },
      compact = ops.ClusterStore.compact(spark, _),
      recover = ops.ClusterStore.recover(spark, _),
      read = ops.ClusterStore.read(spark, _)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def copyOf(local: String, prefix: String): String = {
    val d = TempRoots.create(prefix)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(local), new java.io.File(d))
    d
  }

  private def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected crash"))

  test("crash matrix: every store × every swap table × staged-not-" +
      "promoted / live-aside-stage-complete / stray _old recovers to " +
      "exactly what a clean compaction reads") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.swapcrash.impl", classOf[SwapCrashFs].getName)
    def at(local: String) = s"swapcrash://$local"
    stores.foreach { s =>
      val base = TempRoots.create(s"graft_ss_${s.name}_")
      s.make(at(base))
      val before = rows(s.read(at(base)))
      val ref = copyOf(base, s"graft_ss_${s.name}_ref_")
      s.compact(at(ref))
      val want = rows(s.read(at(ref)))
      assert(want.nonEmpty, s"${s.name}: vacuous fixture, the read is empty")
      assert(want == before, s"${s.name}: a clean compaction changed reads")
      for (t <- s.tables :+ "commits"; state <- Seq("A", "B", "C")) {
        val dir = copyOf(base, s"graft_ss_${s.name}_${t}_${state}_")
        def has(n: String) = new java.io.File(s"$dir/$n").exists()
        val (live, old, stage) = (t, s"${t}_old", s"${t}_compacting")
        SwapCrashFs.armed.set(Some(state match {
          case "A" => ("rename", s"$dir/$live")  // live never set aside
          case "B" => ("rename", s"$dir/$stage") // stage never promoted
          case _ => ("delete", s"$dir/$old")     // old never removed
        }))
        val e = try intercept[Exception](s.compact(at(dir)))
          finally SwapCrashFs.armed.set(None)
        val what = s"${s.name} $t state $state"
        assert(injected(e), s"$what: compaction failed otherwise: $e")
        val onDisk = state match {
          case "A" => has(live) && has(s"$stage/_SUCCESS") && !has(old)
          case "B" => !has(live) && has(old) && has(s"$stage/_SUCCESS")
          case _ => has(live) && has(old) && !has(stage)
        }
        assert(onDisk, s"$what: the crash left another swap state")
        s.recover(at(dir))
        assert(has(live) && !has(old) && !has(stage),
          s"$what: recover left a side directory")
        assert(rows(s.read(at(dir))) == want, s"$what: reads changed")
      }
    }
  }
}

/** The local filesystem under its own `swapcrash:` scheme: when armed
  * with (op, path), a rename FROM `path` or a delete of an existing
  * `path` dies with an injected crash — the kill points inside a
  * [[graft.sources.SwapDir.swap]]. Instantiated by Hadoop from
  * `fs.swapcrash.impl`; other schemes never see it.
  */
class SwapCrashFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("swapcrash:///")
  override def getScheme: String = "swapcrash"

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

  private def crashIf(op: String, p: org.apache.hadoop.fs.Path): Unit =
    if (SwapCrashFs.armed.get.contains((op, p.toUri.getPath)) && exists(p))
      throw new java.io.IOException(s"injected crash: $op $p")

  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    crashIf("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: org.apache.hadoop.fs.Path,
      recursive: Boolean): Boolean = {
    crashIf("delete", p)
    super.delete(p, recursive)
  }
}

object SwapCrashFs {
  val armed =
    new java.util.concurrent.atomic.AtomicReference[Option[(String, String)]](
      None)
}
