package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <file>
  * }}}
  *
  * Set-up (timed): session start, then the workload's inputs prepared
  * three times into fresh directories (the last is kept; the first also
  * pays JIT and codegen warm-up, which the median leaves out), then a
  * warm-up of a few operations. The correctness model is built between the
  * two, untimed. Untimed [[Calibrate]] samples, taken before every
  * preparation and every operation, record how fast the host ran; run.py
  * scales the timings by them. The timed phase runs a fixed number of rounds, sized from
  * `seconds`. With `--trace 1` it runs four rounds: untraced, traced,
  * traced, untraced, so both kinds of round sit alike after the warm-up
  * and the difference of their medians is the tracing overhead. The
  * listeners and the counting filesystem are active in the traced
  * rounds only. Every span, job,
  * planning record and counter is written as one JSON document to
  * `--out`; the statistics are computed from it outside this process.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def note(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")

    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sessionWindow.merge.sessions.in.local.partition", "true")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val wl: Workload = workload match {
      case "hourly_convert" => new HourlyConvert(spark, work, seed, hours = 6)
      case "lake_dml" => new LakeDml(spark, work, seed)
      case other => sys.error(s"unknown workload $other")
    }
    // Set-up's calibration: four samples before the second and the third
    // preparation, and one before each warm-up operation; none before the
    // first preparation, while the JIT still compiles the engine on other
    // threads. The five samples before them let the JIT compile the kernel.
    (1 to 5).foreach(_ => Calibrate.sample())
    val setupCalib = scala.collection.mutable.ArrayBuffer.empty[Double]
    val prepS = (1 to 3).map { i =>
      if (i > 1) (1 to 4).foreach(_ => setupCalib += Calibrate.sample())
      val t0 = System.nanoTime()
      wl.prepare(s"$work/inputs$i")
      (System.nanoTime() - t0) / 1e9
    }
    (1 until 3).foreach(i => Trees.deleteTree(Paths.get(s"$work/inputs$i")))
    note(f"inputs prepared (${prepS.map(x => f"$x%.2f").mkString(", ")} s)")
    wl.model()
    note("model built")
    val rec = new Recorder(spark, workload)
    val w0 = System.nanoTime()
    rec.round = -1
    wl.warmUp(rec)
    val warmupS = (System.nanoTime() - w0) / 1e9
    note("set-up done")
    setupCalib ++= rec.calib
    rec.calib.clear()
    rec.spans.clear()
    rec.failures.clear()

    val listeners = new Listeners
    // The run length is fixed work: ⌊seconds / wl.roundSeconds⌋ rounds, at
    // least one. A slow machine or a fast change then alters the time a
    // run takes, never how many operations it samples, so percentiles
    // and per-round sums compare across runs and commits.
    // A traced run does four rounds in the order untraced, traced, traced,
    // untraced: per-layer sums are per traced round, and neither kind of
    // round gains more from warming up than the other.
    val rounds = math.max(1, (seconds / wl.roundSeconds).toInt)
    // Untimed, before every round and after the last: a full collection,
    // so each round starts from a collected heap, and the heap that is
    // still in use after it, the memory the engine retains. The first
    // collection hands the last round's broadcasts and shuffles to Spark's
    // context cleaner, which frees their blocks on its own thread; the
    // pause lets it finish, so the second collection sees none of them.
    var liveHeapBytes = 0L
    def collect(): Unit = {
      System.gc()
      Thread.sleep(500)
      System.gc()
      liveHeapBytes = math.max(liveHeapBytes, java.lang.management
        .ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    def phase(withTrace: Boolean, n: Int): Unit = {
      rec.traced = withTrace
      if (withTrace) { listeners.attach(spark); FsCounters.on = true }
      for (_ <- 1 to n) {
        collect()
        wl.round(rec)
        rec.round += 1
      }
      if (withTrace) { FsCounters.on = false; listeners.detach(spark) }
    }
    rec.round = 0
    if (traced) {
      phase(withTrace = false, 1); phase(withTrace = true, 2)
      phase(withTrace = false, 1)
    } else phase(withTrace = false, rounds)
    collect()
    note("timed phase done")
    val fileImpl = org.apache.hadoop.fs.FileSystem
      .get(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .getClass.getName
    val peakRssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)

    val mismatches = wl.check()
    note("check done")
    val diskBytes = Trees.bytesUnder(Paths.get(wl.tableRoot))
    val doc = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmupS,
      "spans" -> rec.spans, "failures" -> rec.failures,
      "jobs" -> listeners.jobs.values.map(_.toMap),
      "actions" -> listeners.actions,
      "file_fs" -> fileImpl,
      "mismatches" -> mismatches, "disk_bytes" -> diskBytes,
      "peak_rss_kb" -> peakRssKb, "live_heap_bytes" -> liveHeapBytes,
      "calib_setup_s" -> setupCalib, "calib_run_s" -> rec.calib,
      "counters" -> wl.counters)
    Files.writeString(Paths.get(a("out")), Json(doc))
    spark.stop()
  }
}
