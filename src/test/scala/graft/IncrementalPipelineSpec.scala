package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The hourly batch's consumed record, staged ledger append and ledger
  * Blooms ([[graft.streaming.IncrementalPipeline]]): which source files a
  * batch reads, what an idle tick and a steady-state batch cost, when the
  * exact anti-join runs, and what a run killed at each commit step leaves
  * for [[graft.streaming.IncrementalPipeline.recoverLedger]].
  */
class IncrementalPipelineSpec extends SparkSuite {
  import graft.streaming.{IncrementalPipeline => IP}
  import spark.implicits._

  private def rates =
    Seq(("EUR", 1.0), ("USD", 1.1), ("GBP", 0.85), ("JPY", 163.0))
      .toDF("currency", "rate")

  private def ts(h: Int) =
    java.sql.Timestamp.valueOf(f"2026-01-02 $h%02d:00:00")

  /** Hour `h` of orders as `files` parquet files of `rows` rows in all,
    * written into `dir`; each hour's ids are its own.
    */
  private def hour(dir: String, h: Int, rows: Int = 20, files: Int = 2) =
    gen.OrderGen.orders(spark, rows, seed = 100 + h).repartition(files)
      .write.mode("append").parquet(dir)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def ids(df: DataFrame): Seq[String] =
    df.select("order_id").collect().map(_.getString(0)).sorted.toSeq

  /** The visible lines of a ledger's consumed record. */
  private def record(led: String): Set[String] =
    Option(new java.io.File(s"$led/_consumed").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).toSet

  private def recordFiles(led: String): Int =
    Option(new java.io.File(s"$led/_consumed").list()).toSeq.flatten
      .count(!_.startsWith("."))

  private def fsOf(led: String) = {
    val p = new Path(led)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The ledger's data files, each with a Bloom that reads back whole and
    * records the file's length.
    */
  private def bloomsValid(led: String): Boolean = {
    val (fs, p) = fsOf(led)
    IP.loadBlooms(spark, fs, p).isRight
  }

  /** The ledger's Bloom sidecars, temp files included. */
  private def bloomNames(led: String): Set[String] =
    Option(new java.io.File(s"$led/_blooms").list()).toSeq.flatten
      .filterNot(_.endsWith(".crc")).toSet

  private def dataNames(led: String): Set[String] =
    Option(new java.io.File(led).list()).toSeq.flatten
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet

  private def fallbacks = (IP.MissingBloom.batches, IP.FlaggedId.batches)

  private def useKillPointFs(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.killpoint.impl", classOf[KillPointFs].getName)

  /** The ledger data files (under `led`, a local path) opened while `f`
    * ran through the `killpoint:` file system.
    */
  private def ledgerFilesOpened(led: String)(f: => Unit): Seq[String] = {
    KillPointFs.opened.clear()
    f
    KillPointFs.opened.asScala.toSeq.filter { p =>
      p.startsWith(s"$led/") && p.endsWith(".parquet") &&
        !p.contains("/_staging/")
    }
  }

  test("an idle tick — no new source file — returns (0, 0) and launches " +
      "no Spark job") {
    val root = TempRoots.create("graft_ip_idle_")
    val (src, tgt, led) = (s"$root/src", s"$root/tgt", s"$root/ledger")
    hour(src, 0)
    assert(IP.runBatch(spark, src, tgt, led, rates, ts(1)) ==
      IP.BatchResult(20, 20))
    assert(record(led).size == 2, "both source files are consumed")
    var r: IP.BatchResult = null
    val jobs = jobsDuring {
      r = IP.runBatch(spark, src, tgt, led, rates, ts(2))
    }
    assert(r == IP.BatchResult(0, 0))
    assert(jobs.isEmpty, s"an idle tick launched jobs: $jobs")
    // a new hour is picked up, and only its rows are read
    hour(src, 1)
    assert(IP.runBatch(spark, src, tgt, led, rates, ts(3)) ==
      IP.BatchResult(20, 20))
    assert(record(led).size == 4 && recordFiles(led) == 2)
    assert(IP.targetView(spark, tgt).count() == 40)
  }

  test("a source file rewritten in place is read again; its ledgered ids " +
      "are not converted again") {
    val root = TempRoots.create("graft_ip_rewrite_")
    val (src, tgt, led) = (s"$root/src", s"$root/tgt", s"$root/ledger")
    hour(src, 0, files = 1)
    IP.runBatch(spark, src, tgt, led, rates, ts(1))
    val file = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    // the file's first 12 rows, already converted, and 5 new orders
    val old = spark.read.parquet(file.getPath).orderBy("order_id").limit(12)
    val fresh = gen.OrderGen.orders(spark, 5, seed = 999)
    val staged = s"$root/staged"
    old.unionByName(fresh).coalesce(1).write.parquet(staged)
    val replacement = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(replacement.toPath, file.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(file.getParent, s".${file.getName}.crc").delete()
    // the ledgered ids are admitted by the ledger's Bloom: the batch takes
    // the exact anti-join
    val (missing0, flagged0) = fallbacks
    assert(IP.runBatch(spark, src, tgt, led, rates, ts(2)) ==
      IP.BatchResult(5, 5))
    assert(fallbacks == ((missing0, flagged0 + 1)))
    assert(bloomsValid(led), "the fallback batch's ledger file has no Bloom")
    val raw = spark.read.parquet(tgt)
    assert(raw.count() == 25 && raw.select("order_id").distinct().count() == 25)
    assert(ids(raw.filter(col("processed_at") === lit(ts(2)))) == ids(fresh))
    assert(IP.runBatch(spark, src, tgt, led, rates, ts(3)) ==
      IP.BatchResult(0, 0))
  }

  test("a hive-partitioned source keeps its partition column") {
    val root = TempRoots.create("graft_ip_hive_")
    val (src, tgt, led) = (s"$root/src", s"$root/tgt", s"$root/ledger")
    def write(h: Int) = gen.OrderGen.orders(spark, 20, seed = 200 + h)
      .write.mode("append").partitionBy("currency").parquet(src)
    write(0)
    assert(IP.runBatch(spark, src, tgt, led, rates, ts(1)).picked == 20)
    write(1)
    assert(IP.runBatch(spark, src, tgt, led, rates, ts(1)).picked == 20)
    val cols = Seq("order_id", "original_currency", "amount_eur",
      "exchange_rate")
    val whole = spark.read.parquet(src)
    assert(whole.select("currency").distinct().count() > 1)
    assert(rowsOf(IP.targetView(spark, tgt).select(cols.map(col): _*)) ==
      rowsOf(IP.convertBatch(whole, rates, ts(1)).select(cols.map(col): _*)))
  }

  test("the consumed record survives compactLedger, merged into one file") {
    val root = TempRoots.create("graft_ip_compact_")
    val (src, tgt, led) = (s"$root/src", s"$root/tgt", s"$root/ledger")
    (0 until 3).foreach { h =>
      hour(src, h)
      IP.runBatch(spark, src, tgt, led, rates, ts(h + 1))
    }
    val before = record(led)
    assert(before.size == 6 && recordFiles(led) == 3)
    IP.compactLedger(spark, led)
    assert(record(led) == before && recordFiles(led) == 1)
    assert(ids(spark.read.parquet(led)) == ids(spark.read.parquet(src)))
    val jobs = jobsDuring {
      assert(IP.runBatch(spark, src, tgt, led, rates, ts(5)) ==
        IP.BatchResult(0, 0))
    }
    assert(jobs.isEmpty, s"the compacted record was not honoured: $jobs")
  }

  /** Three hourly batches and a compaction through the `killpoint:` file
    * system, killed once where `kill` says; the ledger is then recovered
    * and the run finished. `check` inspects the disk right after the kill.
    */
  private def killedRun(name: String, killAt: Int,
      kill: (Path, Path) => Boolean, check: String => Unit)
      : (String, String, String) = {
    useKillPointFs()
    val root = TempRoots.create(s"graft_ip_kill_${name}_")
    val (src, tgt, led) = (s"killpoint://$root/src",
      s"killpoint://$root/tgt", s"killpoint://$root/ledger")
    def step(h: Int): Unit =
      if (h < 3) IP.runBatch(spark, src, tgt, led, rates, ts(h + 1))
      else IP.compactLedger(spark, led)
    (0 to 3).foreach { h =>
      if (h < 3) hour(s"$root/src", h) // the hour's files arrive
      if (h == killAt) {
        KillPointFs.armed.set(Some(kill))
        val e = try intercept[Exception](step(h))
          finally KillPointFs.armed.set(None)
        assert(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("injected crash")),
          s"$name: the step failed for another reason: $e")
        check(root)
        IP.recoverLedger(spark, led)
        assert(!new java.io.File(s"$root/ledger/_staging").exists() &&
          !Option(new java.io.File(s"$root/ledger/_consumed").list())
            .toSeq.flatten.exists(_.startsWith(".tmp-")),
          s"$name: recovery left a staged append or a record temp file")
        assert(bloomNames(s"$root/ledger").forall(n => !n.startsWith(".") &&
          dataNames(s"$root/ledger")(n.stripSuffix(".bloom"))),
          s"$name: recovery left a Bloom temp file or an orphan Bloom")
      }
      step(h)
    }
    (src, tgt, led)
  }

  /** Three hourly batches and a compaction, uninterrupted: the target
    * every killed run must recover to.
    */
  private lazy val cleanTarget: Seq[String] = {
    val cleanRoot = TempRoots.create("graft_ip_clean_")
    val (cs, ct, cl) = (s"$cleanRoot/src", s"$cleanRoot/tgt",
      s"$cleanRoot/ledger")
    (0 until 3).foreach { h =>
      hour(cs, h)
      IP.runBatch(spark, cs, ct, cl, rates, ts(h + 1))
    }
    IP.compactLedger(spark, cl)
    rowsOf(IP.targetView(spark, ct))
  }

  private def visible(local: String) =
    Option(new java.io.File(local).list()).toSeq.flatten
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
  private def staged(root: String) =
    Option(new java.io.File(s"$root/ledger/_staging").listFiles())
      .toSeq.flatten.flatMap(d => visible(d.getPath))
  private def ledgerIds(root: String) =
    ids(spark.read.parquet(s"$root/ledger"))
  private def under(p: Path, dir: String) =
    p.toUri.getPath.contains(s"/$dir/")
  private def parentName(p: Path) = p.getParent.getName

  /** Every case's killed run recovers to the clean run's target, its
    * ledger ids to the source ids, and every ledger file has a Bloom.
    */
  private def killMatrix(
      cases: Seq[(String, Int, (Path, Path) => Boolean, String => Unit)])
      : Unit = {
    val want = cleanTarget
    assert(want.size == 60)
    cases.foreach { case (name, at, kill, check) =>
      val (src, tgt, led) = killedRun(name, at, kill, check)
      assert(rowsOf(IP.targetView(spark, tgt)) == want, name)
      assert(ids(spark.read.parquet(led)) == ids(spark.read.parquet(src)),
        s"$name: ledger ids differ from source ids")
      assert(record(led.stripPrefix("killpoint://")).size == 6, name)
      assert(bloomsValid(led), s"$name: a ledger file has no valid Bloom")
    }
  }

  test("kill points: a batch killed before the target commit, before the " +
      "ledger publish, before the consumed record, and a compaction " +
      "killed mid-swap recover to the clean run's target and ledger") {
    val cases = Seq[(String, Int, (Path, Path) => Boolean, String => Unit)](
      // the target's output moves into the target directory
      ("before-target-commit", 1,
        (s, d) => parentName(d) == "tgt" && under(s, "tgt"),
        root => {
          assert(staged(root).size == 1, "the ledger append was not staged")
          assert(visible(s"$root/tgt").size == 1, "the target committed")
          assert(ledgerIds(root).size == 20,
            "a ledger file became visible before the target committed")
        }),
      // a staged ledger file moves into the ledger
      ("before-ledger-publish", 1,
        (s, d) => parentName(d) == "ledger" && under(s, "_staging"),
        root => {
          assert(staged(root).size == 1 && visible(s"$root/tgt").size == 2)
          assert(ledgerIds(root).size == 20)
        }),
      // the consumed record's temp file is renamed into place
      ("before-consumed-record", 1,
        (s, _) => s.getName.startsWith(".tmp-") && under(s, "_consumed"),
        root => {
          assert(ledgerIds(root).size == 40 && staged(root).isEmpty)
          assert(recordFiles(s"$root/ledger") == 1)
        }),
      // the compacted ledger is moved into place, the live one aside
      ("mid-compaction-swap", 3,
        (s, _) => s.getName == "ledger.compact",
        root => {
          assert(!new java.io.File(s"$root/ledger").exists() &&
            recordFiles(s"$root/ledger.old") == 3)
        }))
    killMatrix(cases)
  }

  test("kill points: a batch killed after a Bloom is published but before " +
      "its ledger file, and a compaction killed mid-Bloom write, recover " +
      "to the clean run's target and ledger") {
    killMatrix(Seq(
      // the staged ledger file moves into the ledger after its Bloom
      ("bloom-before-ledger-file", 1,
        (s, d) => parentName(d) == "ledger" && under(s, "_staging"),
        root => {
          val led = s"$root/ledger"
          assert(staged(root).size == 1 && ledgerIds(root).size == 20)
          val orphans = bloomNames(led).map(_.stripSuffix(".bloom")) --
            dataNames(led)
          assert(orphans.size == 1 && orphans.forall(staged(root).contains),
            s"the staged file's Bloom was not published first: $orphans")
        }),
      // a compacted file's Bloom temp file is renamed into place
      ("mid-compaction-bloom-write", 3,
        (s, _) => s.getName.startsWith(".tmp-") &&
          under(s, "ledger.compact/_blooms"),
        root => {
          assert(bloomsValid(s"$root/ledger") && ledgerIds(root).size == 60,
            "the live ledger was touched before the swap")
          assert(bloomNames(s"$root/ledger.compact").exists(
            _.startsWith(".tmp-")))
        })))
  }

  test("a steady-state batch reads no ledger file: three jobs, no " +
      "fallback") {
    useKillPointFs()
    val root = TempRoots.create("graft_ip_steady_")
    val (src, tgt, led) = (s"killpoint://$root/src",
      s"killpoint://$root/tgt", s"killpoint://$root/ledger")
    (0 until 2).foreach { h =>
      hour(s"$root/src", h)
      IP.runBatch(spark, src, tgt, led, rates, ts(h + 1))
    }
    assert(bloomsValid(led) && dataNames(s"$root/ledger").size == 2)
    hour(s"$root/src", 2)
    val before = fallbacks
    var r: IP.BatchResult = null
    var jobs: Seq[String] = Nil
    val opened = ledgerFilesOpened(s"$root/ledger") {
      jobs = jobsDuring {
        r = IP.runBatch(spark, src, tgt, led, rates, ts(3))
      }
    }
    assert(r == IP.BatchResult(20, 20))
    assert(opened.isEmpty, s"the batch read ledger files: $opened")
    assert(KillPointFs.opened.asScala.exists(_.startsWith(s"$root/src/")),
      "the source reads did not go through the counted file system")
    // the Bloom-checked scan that fills the cache, the target write, the
    // staged ledger write
    assert(jobs.size == 3, s"jobs: $jobs")
    assert(fallbacks == before)
    assert(bloomsValid(led) && dataNames(s"$root/ledger").size == 3)
  }

  test("a missing, torn, length-mismatched or all-ones ledger Bloom forces " +
      "the exact anti-join, with the clean run's result") {
    def run(tamper: String => Unit): (Seq[String], Seq[String]) = {
      val root = TempRoots.create("graft_ip_fallback_")
      val (src, tgt, led) = (s"$root/src", s"$root/tgt", s"$root/ledger")
      (0 until 3).foreach { h =>
        hour(src, h)
        if (h == 2) tamper(led)
        IP.runBatch(spark, src, tgt, led, rates, ts(h + 1))
      }
      (rowsOf(IP.targetView(spark, tgt)), ids(spark.read.parquet(led)))
    }
    val clean = run(_ => ())
    assert(clean._1.size == 60 && clean._2.size == 60)

    /** The first ledger file's Bloom path, its status, and its file system. */
    def first(led: String) = {
      val (fs, p) = fsOf(led)
      val f = fs.getFileStatus(new Path(p, dataNames(led).min))
      (new java.io.File(s"$led/_blooms/${dataNames(led).min}.bloom"), f, fs, p)
    }
    def crc(b: java.io.File) = new java.io.File(b.getParent, s".${b.getName}.crc")
    val cases = Seq[(String, String => Unit, (Long, Long))](
      ("missing", led => {
        val (b, _, _, _) = first(led)
        assert(b.delete())
      }, (1, 0)),
      ("torn", led => {
        val (b, _, _, _) = first(led)
        val raf = new java.io.RandomAccessFile(b, "rw")
        try raf.setLength(raf.length() / 2) finally raf.close()
        crc(b).delete()
      }, (1, 0)),
      ("length-mismatched", led => {
        val (b, f, fs, p) = first(led)
        assert(fs.delete(new Path(b.getPath), false))
        val other = new org.apache.hadoop.fs.FileStatus(f.getLen + 1, false,
          1, 0, 0, f.getPath)
        IP.writeBloom(fs, p, other,
          org.apache.spark.util.sketch.BloomFilter.create(1000))
      }, (1, 0)),
      ("all-ones", led => {
        val (b, f, fs, p) = first(led)
        assert(fs.delete(new Path(b.getPath), false))
        val ones = org.apache.spark.util.sketch.BloomFilter.create(1L, 64L)
        (0L until 4096L).foreach(ones.putLong)
        assert(ones.cardinality() > 0)
        IP.writeBloom(fs, p, f, ones)
      }, (0, 1)))
    cases.foreach { case (name, tamper, (missing, flagged)) =>
      val (m0, f0) = fallbacks
      assert(run(tamper) == clean, name)
      assert(fallbacks == ((m0 + missing, f0 + flagged)), name)
    }
  }

  test("compactLedger writes a Bloom for every compacted file; the next " +
      "batch reads no ledger file") {
    useKillPointFs()
    val root = TempRoots.create("graft_ip_compact_blooms_")
    val (src, tgt, led) = (s"killpoint://$root/src",
      s"killpoint://$root/tgt", s"killpoint://$root/ledger")
    (0 until 3).foreach { h =>
      hour(s"$root/src", h)
      IP.runBatch(spark, src, tgt, led, rates, ts(h + 1))
    }
    // a ledger file written without a Bloom takes the exact path ...
    val lost = dataNames(s"$root/ledger").min
    assert(new java.io.File(s"$root/ledger/_blooms/$lost.bloom").delete())
    assert(!bloomsValid(led))
    IP.compactLedger(spark, led)
    // ... until compaction rewrites it with a Bloom for every file
    val files = dataNames(s"$root/ledger")
    assert(files.nonEmpty && !files.contains(lost))
    assert(bloomNames(s"$root/ledger") == files.map(_ + ".bloom"))
    assert(bloomsValid(led))
    hour(s"$root/src", 3)
    val before = fallbacks
    val opened = ledgerFilesOpened(s"$root/ledger") {
      assert(IP.runBatch(spark, src, tgt, led, rates, ts(4)) ==
        IP.BatchResult(20, 20))
    }
    assert(opened.isEmpty, s"the batch read ledger files: $opened")
    assert(fallbacks == before)
    assert(IP.targetView(spark, tgt).count() == 80)
    assert(ids(spark.read.parquet(s"$root/ledger")) ==
      ids(spark.read.parquet(s"$root/src")))
  }
}

/** The local filesystem under its own `killpoint:` scheme: when armed
  * with a predicate on (source, destination), a rename it matches dies
  * with an injected crash — the kill points between the pipeline's
  * commit steps. Every opened path is recorded in `opened`. Instantiated
  * by Hadoop from `fs.killpoint.impl`; other schemes never see it.
  */
class KillPointFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("killpoint:///")
  override def getScheme: String = "killpoint"

  // RawLocalFileSystem loads a status's permissions through a `file:`
  // URI; plain statuses carry none and never do
  private def plain(s: org.apache.hadoop.fs.FileStatus) =
    new org.apache.hadoop.fs.FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(plain)

  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    KillPointFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (KillPointFs.armed.get.exists(_(src, dst)))
      throw new java.io.IOException(s"injected crash: rename $src to $dst")
    super.rename(src, dst)
  }
}

object KillPointFs {
  val armed = new java.util.concurrent.atomic.AtomicReference[
    Option[(Path, Path) => Boolean]](None)
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
