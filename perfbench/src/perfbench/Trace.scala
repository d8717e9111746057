package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the run record (maps, sequences, numbers,
  * strings, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Hadoop `file:` filesystem calls, counted while [[FsCounters.on]]. */
object FsCounters {
  @volatile var on = false
  val names = Seq("list", "status", "open", "create", "rename", "delete")
  private val counts = names.map(_ -> new AtomicLong).toMap
  def bump(name: String): Unit = if (on) counts(name).incrementAndGet()
  def snapshot(): Map[String, Long] =
    counts.map { case (k, v) => k -> v.get } + ("write_bytes" -> bytesWritten)
  /** Bytes written through any `file:` filesystem, from Hadoop's own
    * per-scheme statistics. */
  private def bytesWritten: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
}

/** The `file:` scheme's filesystem with each metadata and data call
  * counted; installed through `spark.hadoop.fs.file.impl` in traced runs
  * only, so untraced runs use Hadoop's own `LocalFileSystem`. */
class CountingLocalFileSystem extends LocalFileSystem {
  import FsCounters.bump
  override def listStatus(f: Path): Array[FileStatus] = {
    bump("list"); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    bump("status"); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump("open"); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump("create")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    bump("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump("delete"); super.delete(f, recursive)
  }
}

/** One Spark job as the listener saw it, with its tasks' metrics summed.
  * `op` is the operation id read back from the job's local properties. */
final class JobRec(val id: Int, val op: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  def toMap: Map[String, Any] = Map("id" -> id, "op" -> op,
    "start_ms" -> startMs, "end_ms" -> endMs, "stages" -> stages,
    "tasks" -> tasks, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
    "spill" -> spill, "input_bytes" -> inputBytes, "input_rows" -> inputRows)
}

/** The listeners of a traced run: Spark's scheduler events and the SQL
  * actions' planning phases. Everything is kept in memory and written out
  * once the run ends. */
final class Listeners extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  /** Catalyst phase times per action: wall-clock start and phase ms. */
  val actions = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Recorder.OpKey))).getOrElse("")
    val j = new JobRec(e.jobId, op, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private def action(qe: QueryExecution, ok: Boolean): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    actions += Map("start_ms" -> start, "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = action(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = action(qe, ok = false)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Times each operation of the closed loop and, in traced mode, records
  * its span: id, parent, name, start and end (epoch ns), the `file:`
  * calls it made, and any attributes the workload attaches. Spark jobs
  * find their operation through the [[Recorder.OpKey]] local property,
  * set before each call. */
final class Recorder(spark: SparkSession, workload: String) {
  /** Set by the timed loop in [[Main]]: which round runs, and whether it
    * is traced. */
  var round = 0
  var traced = false
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def now(): Long = ms0 * 1000000L + (System.nanoTime() - ns0)

  val spans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[String]
  /** [[Calibrate]] times, one taken before each operation. */
  val calib = mutable.ArrayBuffer.empty[Double]
  private var nextId = 0

  /** Run `body` as one operation of the closed loop and record its span,
    * whose parent is the workload. A failure is recorded on the span,
    * counted, and its name printed; None is returned so the workload
    * carries on. */
  def op[T](kind: String, name: String, attrs: Map[String, Any] = Map.empty)(
      body: => T): Option[T] = {
    nextId += 1
    val id = s"op$nextId"
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.OpKey, id)
    val fs0 = if (traced) FsCounters.snapshot() else Map.empty[String, Long]
    calib += Calibrate.sample()
    val t0 = now()
    val out = try Some(body) catch {
      case e: Throwable =>
        failures += name
        System.err.println(s"[perfbench] operation $name FAILED: $e")
        None
    }
    val t1 = now()
    sc.setLocalProperty(Recorder.OpKey, null)
    val s = mutable.Map[String, Any]("id" -> id, "parent" -> workload,
      "kind" -> kind, "name" -> name, "start_ns" -> t0, "end_ns" -> t1,
      "ok" -> out.isDefined, "round" -> round, "traced" -> traced) ++ attrs
    if (traced) {
      val fs1 = FsCounters.snapshot()
      s("fs") = fs1.map { case (k, v) => k -> (v - fs0(k)) }
    }
    spans += s
    out
  }

  /** Attach an attribute to the most recent operation of `kind`. */
  def annotate(kind: String, kv: (String, Any)*): Unit =
    spans.reverseIterator.find(_("kind") == kind).foreach(_ ++= kv)
}

object Recorder {
  val OpKey = "perfbench.op"
}
