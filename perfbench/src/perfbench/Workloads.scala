package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark workload: inputs prepared in set-up, then a closed loop of
  * rounds (each a fixed list of operations), then a correctness check on
  * the last round's output. */
trait Workload {
  /** Build the inputs under `dir`. Set-up calls this several times, each
    * into a fresh directory, and keeps the last. */
  def prepare(dir: String): Unit
  /** Build what the correctness check compares against; not timed. */
  def model(): Unit = ()
  /** Operations that let codegen, JIT and caches settle before timing. */
  def warmUp(rec: Recorder): Unit
  /** One round of the timed phase; every operation goes through `rec`. */
  def round(rec: Recorder): Unit
  /** Check the last round's output; a non-empty list names each mismatch. */
  def check(): Seq[String]
  /** Where the workload's tables live, for `disk_mb`. */
  def tableRoot: String
  /** Workload counters reported beside the spans. */
  def counters: Map[String, Any] = Map.empty
  /** Nominal length of one round on a 4-core box; a run does
    * ⌊seconds / roundSeconds⌋ rounds. */
  def roundSeconds: Double
}

object Trees {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala
      .foreach(Files.delete) finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def bytesUnder(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Data files directly or recursively under `p` (checksums excluded). */
  def dataFiles(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val s = Files.walk(p)
    try s.iterator.asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && n.endsWith(".parquet") && !n.startsWith(".")
    }.toList finally s.close()
  }
}

/** The paper's hourly incremental EUR conversion. Each hour of orders is
  * generated in set-up (six OrderGen ticks of 5,000), made visible in the
  * source by an untimed file copy, and converted by one
  * `IncrementalPipeline.runBatch` with the 30,000-row cap and day-cached
  * rates. A round is one simulated day of `hours` hourly batches, closed by
  * `compactLedger`; the next round starts from an empty target and ledger
  * and the same hours. */
final class HourlyConvert(spark: SparkSession, work: String, seed: Long,
    hours: Int) extends Workload {
  import graft.streaming.IncrementalPipeline

  private val ticks = 6
  private val perTick = 5000L
  private val cap = 30000
  private val day0 = java.time.LocalDate.of(2026, 1, 1)
  private val run = Paths.get(work, "pipeline")
  private val source = run.resolve("source")
  private val target = run.resolve("target").toString
  private val ledger = run.resolve("ledger").toString
  private var hoursDir: Path = _
  private var committed = 0L
  private lazy val rates = new graft.sources.RatesDim.DailyCachedRates(spark,
    s"$work/rates", graft.sources.RatesDim.StaticProvider).broadcastable(day0)

  private def batchTs(h: Int) =
    Timestamp.valueOf(day0.atStartOfDay().plusHours(h + 1))

  /** One OrderGen draw of 30,000 orders per hour, each hour under its
    * own seed (so order ids never repeat across hours) and cut round-robin
    * into ticks of 5,000, one file each. */
  def prepare(dir: String): Unit = {
    for (h <- 0 until hours)
      graft.gen.OrderGen.orders(spark, ticks * perTick, seed * 1000 + h)
        .repartition(ticks).write.parquet(s"$dir/hour=$h")
    hoursDir = Paths.get(dir)
  }

  private def hourFiles(h: Int) =
    Trees.dataFiles(hoursDir.resolve(s"hour=$h")).sortBy(_.toString)

  private def resetRun(): Unit = {
    Trees.deleteTree(run)
    Files.createDirectories(source)
  }

  /** One simulated day of `nHours` hourly batches from an empty target and
    * ledger, closed by a ledger compaction. */
  private def day(rec: Recorder, nHours: Int): Unit = {
    resetRun()
    for (h <- 0 until nHours) {
      hourFiles(h).foreach(f =>
        Files.copy(f, source.resolve(s"h$h-${f.getFileName}")))
      val attrs: Map[String, Any] = if (!rec.traced) Map.empty else Map(
        "source_files" -> Trees.dataFiles(source).size,
        "ledger_files" -> Trees.dataFiles(Paths.get(ledger)).size)
      rec.op("runBatch", "runBatch", attrs) {
        IncrementalPipeline.runBatch(spark, source.toString, target, ledger,
          rates, batchTs(h), cap)
      }.foreach { b =>
        rec.annotate("runBatch", "picked_rows" -> b.picked,
          "appended_rows" -> b.appended)
        committed += b.appended
      }
    }
    rec.op("compactLedger", "compactLedger") {
      IncrementalPipeline.compactLedger(spark, ledger)
    }
  }

  def warmUp(rec: Recorder): Unit = day(rec, 2)

  def roundSeconds: Double = 6.5

  def round(rec: Recorder): Unit = day(rec, hours)

  /** Row count and an order-independent digest (the sum of per-row
    * xxhash64 values) of `cols`: two frames with equal results hold the
    * same multiset of rows. */
  private def digest(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(20,0)"))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(
      java.math.BigDecimal.ZERO)))
  }

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val src = spark.read.parquet(source.toString)
    val expected = hours * ticks * perTick
    val cols = Seq("order_id", "amount_eur", "exchange_rate")
    val got = digest(IncrementalPipeline.targetView(spark, target), cols)
    if (got._1 != expected)
      bad += s"targetView has ${got._1} rows, expected $expected"
    val ids = Seq("order_id")
    val ledgerIds = digest(spark.read.parquet(ledger), ids)
    if (ledgerIds._1 != expected || ledgerIds != digest(src, ids))
      bad += "ledger ids differ from source ids"
    val ref = IncrementalPipeline.convertBatch(src, rates, batchTs(0))
    if (got != digest(ref, cols))
      bad += "target (order_id, amount_eur, exchange_rate) differs from " +
        "one convertBatch over the whole source"
    bad.toSeq
  }

  def tableRoot: String = run.toString

  override def counters: Map[String, Any] = Map("committed_rows" -> committed)
}

/** Small writes beside reads on one GenTable: orders (150,000 rows,
  * partitioned by order year) and a seeded list of statements — a read of
  * one year, then merge, updateWhere, deleteRows and insertRows, each
  * touching one or two years, every one followed by a
  * partition-pruned aggregate read of the years it wrote. A round replays the list on a fresh copy of the initial table;
  * the list and its expected result come from a plain in-memory model. */
final class LakeDml(spark: SparkSession, work: String, seed: Long)
    extends Workload {
  import graft.sources.GenTable
  import LakeDml._

  private val nRows = 150000L
  private val table = Paths.get(work, "table")
  private var initDir: Path = _
  private lazy val plan: Plan = LakeDml.plan(initialRows(), seed)
  private val readResults = mutable.ArrayBuffer.empty[Map[String, Long]]

  private def generated(): DataFrame = {
    val id = col("id")
    def h(tag: Int) = xxhash64(lit(seed), id, lit(tag))
    def pick(tag: Int, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (pmod(h(tag), lit(xs.size)) + 1).cast("int"))
    val date = date_add(lit("1995-01-01").cast("date"),
      pmod(h(4), lit(2404)).cast("int"))
    spark.range(nRows).select(
      id.as("o_orderkey"),
      pmod(h(1), lit(15000L)).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      functions.round(lit(1000.0) + (pmod(h(3), lit(49900000L)) / lit(100.0)), 2)
        .as("o_totalprice"),
      date.cast("timestamp").as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"),
      year(date).as("o_year"))
  }

  def prepare(dir: String): Unit = {
    GenTable.init(generated(), dir, "o_year")
    initDir = Paths.get(dir)
  }

  private def initialRows(): Seq[O] =
    generated().collect().toSeq.map(O.of)

  private def frame(rows: Seq[O], op: Option[String]): DataFrame = {
    val base = rows.map(_.toRow)
    op match {
      case None => spark.createDataFrame(base.asJava, Schema)
      case Some(o) => spark.createDataFrame(
        base.map(r => Row.fromSeq(r.toSeq :+ o)).asJava,
        Schema.add("_op", StringType))
    }
  }

  private def years(ys: Seq[Int]) = col("o_year").isin(ys: _*)

  private def execute(s: Stmt, dir: String): Option[Map[String, Long]] = s match {
    case Merge(ys, ups, dels, _) =>
      GenTable.merge(spark, dir, "o_year",
        frame(ups, Some("upsert")).unionByName(frame(dels, Some("delete"))),
        Seq("o_orderkey"))
      None
    case Update(ys, mod, rem, status, _) =>
      GenTable.updateWhere(spark, dir, "o_year",
        years(ys) && pmod(col("o_custkey"), lit(mod.toLong)) === rem.toLong,
        Seq("o_orderstatus" -> lit(status)))
      None
    case Delete(ys, keys) =>
      import spark.implicits._
      GenTable.deleteRows(spark, dir, keys.toDF("o_orderkey"))
      None
    case Insert(ys, rows) =>
      GenTable.insertRows(spark, dir, "o_year", frame(rows, None))
      None
    case Read(ys, _) =>
      Some(GenTable.read(spark, dir, "o_year").filter(years(ys))
        .groupBy("o_orderstatus").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  private def replay(rec: Recorder, dir: String, stmts: Seq[Stmt]): Unit = {
    readResults.clear()
    Trees.deleteTree(Paths.get(dir))
    Trees.copyTree(initDir, Paths.get(dir))
    stmts.foreach { s =>
      rec.op(s.kind, s"GenTable.${s.kind}", Map("delta_rows" -> s.deltaRows)) {
        execute(s, dir)
      }.foreach(_.foreach { r =>
        readResults += r
        rec.annotate(s.kind, "result_rows" -> r.size)
      })
    }
  }

  override def model(): Unit = plan

  /** The whole statement list twice, on its own copy of the table: after
    * one pass the next rounds still ran up to a third faster each, as the
    * JIT compiled more of the engine. */
  def warmUp(rec: Recorder): Unit =
    (1 to 2).foreach(_ => replay(rec, s"$work/warmup", plan.stmts))

  def round(rec: Recorder): Unit = replay(rec, table.toString, plan.stmts)

  def roundSeconds: Double = 5.0

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val reads = plan.stmts.collect { case r: Read => r.expected }
    if (readResults.toSeq != reads)
      bad += s"reads returned ${readResults.mkString(";")}, " +
        s"the model expects ${reads.mkString(";")}"
    val got = GenTable.read(spark, table.toString, "o_year")
      .select(Schema.fieldNames.toIndexedSeq.map(col): _*).collect().toSeq.map(O.of)
    val (n, h) = (got.size, digest(got))
    if (n != plan.finalRows.size || h != digest(plan.finalRows))
      bad += s"final table has $n rows (digest $h); the model has " +
        s"${plan.finalRows.size} rows (digest ${digest(plan.finalRows)})"
    bad.toSeq
  }

  def tableRoot: String = table.toString

  override def counters: Map[String, Any] = Map(
    "init_rows" -> nRows,
    "init_bytes" -> Trees.bytesUnder(initDir),
    "gens" -> graft.sources.GenCommit.committed(spark, table.toString).size,
    "files" -> Trees.dataFiles(table.resolve("data")).size)
}

object LakeDml {
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType),
    StructField("o_year", IntegerType)))

  final case class O(key: Long, cust: Long, status: String, price: Double,
      date: Timestamp, prio: String, year: Int) {
    def toRow: Row = Row(key, cust, status, price, date, prio, year)
  }
  object O {
    def of(r: Row): O = O(r.getLong(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getTimestamp(4), r.getString(5), r.getInt(6))
  }

  /** Order-independent digest: the wrapping sum of per-row hashes. */
  def digest(rows: Seq[O]): Long = rows.iterator.map { o =>
    MurmurHash3.productHash((o.key, o.cust, o.status,
      java.lang.Double.doubleToLongBits(o.price), o.date.getTime, o.prio,
      o.year)).toLong
  }.sum

  sealed trait Stmt {
    def kind: String
    def deltaRows: Int
  }
  final case class Merge(years: Seq[Int], upserts: Seq[O], deletes: Seq[O],
      deltaRows: Int) extends Stmt { def kind = "merge" }
  final case class Update(years: Seq[Int], mod: Int, rem: Int, status: String,
      deltaRows: Int) extends Stmt { def kind = "update" }
  final case class Delete(years: Seq[Int], keys: Seq[Long]) extends Stmt {
    def kind = "delete"; def deltaRows: Int = keys.size
  }
  final case class Insert(years: Seq[Int], rows: Seq[O]) extends Stmt {
    def kind = "insert"; def deltaRows: Int = rows.size
  }
  final case class Read(years: Seq[Int], expected: Map[String, Long])
      extends Stmt { def kind = "read"; def deltaRows = 0 }

  final case class Plan(stmts: Seq[Stmt], finalRows: Seq[O])

  /** The seeded statement list, built by applying each statement to an
    * in-memory model of the table (a map from order key to row), which
    * also yields every read's expected answer and the final table. */
  def plan(initial: Seq[O], seed: Long): Plan = {
    val rnd = new Random(seed)
    val model = mutable.LinkedHashMap.empty[Long, O]
    initial.foreach(o => model(o.key) = o)
    val allYears = initial.map(_.year).distinct.sorted
    var nextKey = 10000000L
    // Each kind writes as many years in every seed's list (a merge or a
    // delete two, an update or an insert one), and only full years (the
    // last holds seven months of orders), so every list rewrites alike:
    // with the count of years drawn per write, round times spread 0.29
    // over six seeds.
    val fullYears = allYears.init
    val yearsOf = Map("merge" -> 2, "update" -> 1, "delete" -> 2, "insert" -> 1)
    def someYears(kind: String): Seq[Int] = rnd.shuffle(fullYears).take(yearsOf(kind))
    def existing(ys: Seq[Int], n: Int): Seq[O] = {
      val pool = model.valuesIterator.filter(o => ys.contains(o.year)).toVector
      rnd.shuffle(pool).take(n)
    }
    def fresh(ys: Seq[Int], n: Int): Seq[O] = (0 until n).map { _ =>
      nextKey += 1
      val y = ys(rnd.nextInt(ys.size))
      O(nextKey, rnd.nextInt(15000).toLong, "N",
        math.round((1000 + rnd.nextInt(49900000) / 100.0) * 100) / 100.0,
        Timestamp.valueOf(s"$y-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(9)} 00:00:00"),
        "3-MEDIUM", y)
    }
    def read(ys: Seq[Int]): Read = Read(ys, model.valuesIterator
      .filter(o => ys.contains(o.year)).toSeq
      .groupBy(_.status).map { case (k, v) => k -> v.size.toLong })

    // The kinds run in one order for every seed, so that seeds differ in
    // the years and rows they touch, not in the shape of the round.
    val kinds = Seq("merge", "update", "delete", "insert")
    // The list opens with a read of one year, so reads are one more than
    // writes. With as many fast statements (reads, deletes) as slow ones
    // the median latency would fall in the gap between the two groups and
    // swing from run to run.
    val opening = read(Seq(allYears(rnd.nextInt(allYears.size))))
    val stmts = opening +: kinds.flatMap { k =>
      val ys = someYears(k)
      val w: Stmt = k match {
        case "merge" =>
          val ups = existing(ys, 12).map(o => o.copy(status = "M",
            price = math.round((o.price + 1.0) * 100) / 100.0)) ++ fresh(ys, 8)
          val ds = existing(ys, 16).filterNot(o => ups.exists(_.key == o.key))
            .take(4)
          ups.foreach(o => model(o.key) = o)
          ds.foreach(o => model.remove(o.key))
          Merge(ys, ups, ds, ups.size + ds.size)
        case "update" =>
          val (mod, rem) = (101, rnd.nextInt(101))
          val status = "U"
          val hit = model.valuesIterator.filter(o =>
            ys.contains(o.year) && o.cust % mod == rem).toSeq
          hit.foreach(o => model(o.key) = o.copy(status = status))
          Update(ys, mod, rem, status, hit.size)
        case "delete" =>
          val ks = existing(ys, 16).map(_.key)
          ks.foreach(model.remove)
          Delete(ys, ks)
        case "insert" =>
          val rows = fresh(ys, 16)
          rows.foreach(o => model(o.key) = o)
          Insert(ys, rows)
      }
      Seq(w, read(ys))
    }
    Plan(stmts, model.values.toSeq)
  }
}
