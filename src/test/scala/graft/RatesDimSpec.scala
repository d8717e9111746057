package graft

import java.nio.file.Files
import java.time.LocalDate

/** Rates-dimension acquisition semantics (R16-R20, R25): the daily memo
  * budget, EUR re-basing, and the missing-base failure mode.
  */
class RatesDimSpec extends SparkSuite {
  import graft.sources.RatesDim
  import graft.streaming.{IncrementalPipeline => IP}

  // scheme-qualified store URI: the memo probes must go through the Hadoop
  // FileSystem API (a java.io.File check against "file:/..." always reports
  // missing → silent re-fetch on every resolve, the VERDICT r3 #2 defect)
  private def cache(provider: RatesDim.RatesProvider) =
    new RatesDim.DailyCachedRates(spark,
      "file:" + Files.createTempDirectory("graft_rates_"), provider)

  test("provider is hit at most once per day; next day refetches") {
    val c = cache(RatesDim.StaticProvider)
    val d1 = LocalDate.parse("2026-01-01")
    c.resolve(d1); c.resolve(d1); c.broadcastable(d1)
    assert(c.fetchCount == 1, "same-day resolves must reuse the memo")
    c.resolve(LocalDate.parse("2026-01-02"))
    assert(c.fetchCount == 2)
  }

  test("same-day resolves reuse one local frame, collected once") {
    val c = cache(RatesDim.StaticProvider)
    val d1 = LocalDate.parse("2026-01-01")
    val first = c.resolve(d1)
    assert(first.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    var again: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { again = c.resolve(d1) }
    assert(again eq first, "a same-day resolve built a new frame")
    assert(jobs.isEmpty, s"a same-day resolve launched jobs: $jobs")
    assert(c.resolve(LocalDate.parse("2026-01-02")) ne first)
    assert(c.fetchCount == 2)
  }

  test("a conversion against broadcastable(day) launches no job for the " +
      "rates side") {
    val store = "file:" + Files.createTempDirectory("graft_rates_")
    val c = new RatesDim.DailyCachedRates(spark, store, RatesDim.StaticProvider)
    val day = LocalDate.parse("2026-01-01")
    val rates = c.broadcastable(day)
    val root = TempRoots.create("graft_rates_conv_")
    gen.OrderGen.orders(spark, 40, seed = 19).write.parquet(s"$root/src")
    val batch = spark.read.parquet(s"$root/src").cache()
    batch.count()
    val ts = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    def convertInto(r: org.apache.spark.sql.DataFrame, out: String) =
      jobsDuring(IP.convertBatch(batch, r, ts).write.parquet(out))
    def broadcasts(jobs: Seq[String]) =
      jobs.count(_.contains("broadcast exchange"))
    val local = convertInto(rates, s"$root/local")
    assert(broadcasts(local) == 0 && local.size == 1,
      s"the rates side launched jobs: $local")
    // the same join over the day's memo files pays its broadcast job
    val stored = convertInto(org.apache.spark.sql.functions.broadcast(
      spark.read.parquet(s"$store/day=$day")), s"$root/stored")
    assert(broadcasts(stored) == 1, stored)
    def rows(d: String) =
      spark.read.parquet(d).collect().map(_.toString).sorted.toSeq
    assert(rows(s"$root/local") == rows(s"$root/stored"))
    batch.unpersist()
  }

  test("rates are re-based to units-per-EUR (EUR exactly 1.0)") {
    val c = cache(RatesDim.StaticProvider)
    val rates = c.resolve(LocalDate.parse("2026-01-01"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("EUR") == 1.0)
    assert(math.abs(rates("USD") - 1.0 / 0.92) < 1e-12)
    assert(math.abs(rates("JPY") - 151.0 / 0.92) < 1e-12)
  }

  test("missing EUR in the response fails fast, nothing memoized") {
    val broken = new RatesDim.RatesProvider {
      override def fetch(day: LocalDate): Map[String, Double] =
        Map("USD" -> 1.0)
    }
    val c = cache(broken)
    intercept[IllegalStateException] {
      c.resolve(LocalDate.parse("2026-01-01"))
    }
  }

  // in-process HTTP stub: serves `body()` with `status()` at /rates and
  // counts requests — the offline stand-in for the reference's rates API
  private def withHttpServer[A](status: => Int, body: => String)(
      f: (String, () => Int) => A): A = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/rates", (ex: com.sun.net.httpserver.HttpExchange) => {
      hits.incrementAndGet()
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/rates", () => hits.get())
    finally server.stop(0)
  }

  test("HttpProvider: fetch + rebase over a real HTTP round trip") {
    withHttpServer(200,
      """{"rates": {"EUR": 0.92, "USD": 1.0, "JPY": 151.0}}""") { (url, _) =>
      val c = cache(new RatesDim.HttpProvider(url))
      val rates = c.resolve(LocalDate.parse("2026-01-01"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(rates("EUR") == 1.0)
      assert(math.abs(rates("USD") - 1.0 / 0.92) < 1e-12)
      assert(math.abs(rates("JPY") - 151.0 / 0.92) < 1e-12)
    }
  }

  test("HttpProvider: memo hit means NO second HTTP request; day roll refetches") {
    withHttpServer(200,
      """{"rates": {"EUR": 0.92, "USD": 1.0}}""") { (url, hits) =>
      val c = cache(new RatesDim.HttpProvider(url))
      val d1 = LocalDate.parse("2026-01-01")
      c.resolve(d1); c.resolve(d1); c.broadcastable(d1)
      assert(hits() == 1, "same-day resolves must not re-hit the endpoint")
      c.resolve(LocalDate.parse("2026-01-02"))
      assert(hits() == 2, "a new day is one more request")
    }
  }

  test("HttpProvider error ladder: non-200, non-JSON, missing rates, missing EUR") {
    val day = LocalDate.parse("2026-01-01")
    withHttpServer(503, """{"oops": true}""") { (url, _) =>
      val e = intercept[IllegalStateException] {
        cache(new RatesDim.HttpProvider(url)).resolve(day) }
      assert(e.getMessage.contains("HTTP 503"))
    }
    withHttpServer(200, "not json at all {") { (url, _) =>
      val e = intercept[IllegalStateException] {
        cache(new RatesDim.HttpProvider(url)).resolve(day) }
      assert(e.getMessage.contains("non-JSON"))
    }
    withHttpServer(200, """{"base": "USD"}""") { (url, _) =>
      val e = intercept[IllegalStateException] {
        cache(new RatesDim.HttpProvider(url)).resolve(day) }
      assert(e.getMessage.contains("no 'rates' object"))
    }
    // missing EUR rides the SHARED DailyCachedRates check (R25's
    // validate-base rung) — and must memoize nothing
    withHttpServer(200, """{"rates": {"USD": 1.0}}""") { (url, hits) =>
      val c = cache(new RatesDim.HttpProvider(url))
      val e = intercept[IllegalStateException] { c.resolve(day) }
      assert(e.getMessage.contains("EUR missing"))
      intercept[IllegalStateException] { c.resolve(day) }
      assert(hits() == 2, "a failed day must not be memoized as fetched")
    }
  }

  test("cached dim feeds the incremental pipeline end to end") {
    val root = Files.createTempDirectory("graft_e2e_").toString
    gen.OrderGen.orders(spark, 25, seed = 13).write.parquet(s"$root/src")
    val rates = cache(RatesDim.StaticProvider)
      .broadcastable(LocalDate.parse("2026-01-01"))
    val r = IP.runBatch(spark, s"$root/src", s"$root/tgt", s"$root/ledger",
      rates, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"))
    assert(r.picked == 25)
    assert(IP.targetView(spark, s"$root/tgt").count() == 25)
  }

  test("ledger compaction preserves ids and pickup behavior") {
    val root = Files.createTempDirectory("graft_compact_").toString
    gen.OrderGen.orders(spark, 40, seed = 17).write.parquet(s"$root/src")
    val rates = cache(RatesDim.StaticProvider)
      .broadcastable(LocalDate.parse("2026-01-01"))
    val ts = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    // 4 batches of 10 -> 4 ledger appends
    (1 to 4).foreach { _ =>
      IP.runBatch(spark, s"$root/src", s"$root/tgt", s"$root/ledger",
        rates, ts, maxBatch = 10)
    }
    val before = spark.read.parquet(s"$root/ledger").count()
    IP.compactLedger(spark, s"$root/ledger")
    assert(spark.read.parquet(s"$root/ledger").count() == before)
    // compaction is parallel range-partitioned output, never the coalesce(1)
    // single-task shape — pinned in the PLAN (RangePartitioning, ≥2
    // partitions), not by counting files: an empty range emits no parquet
    // file, so a file count can under-report the partitioning (ADVICE r3)
    val layout = IP.compactionLayout(spark.read.parquet(s"$root/ledger"), 2)
    // sparkPlan, not executedPlan: AQE wraps the latter in an opaque
    // AdaptiveSparkPlanExec whose children aren't collectable pre-execution
    val exchange = layout.queryExecution.sparkPlan.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning
    }
    exchange match {
      case Some(p: org.apache.spark.sql.catalyst.plans.physical.RangePartitioning) =>
        assert(p.numPartitions >= 2,
          s"expected >=2 range partitions, got ${p.numPartitions}")
        assert(p.ordering.map(_.child.references.head.name) == Seq("order_id"))
      case other => fail(s"expected RangePartitioning exchange, got $other")
    }
    // after compaction the source is still seen as fully drained
    val r = IP.runBatch(spark, s"$root/src", s"$root/tgt", s"$root/ledger",
      rates, ts, maxBatch = 10)
    assert(r == IP.BatchResult(0, 0))

    // crash simulation: ledger renamed aside, replacement never activated
    // (the one non-atomic window) — the next batch must recover the backup
    // instead of re-delivering the whole source
    val dir = new java.io.File(s"$root/ledger")
    assert(dir.renameTo(new java.io.File(s"$root/ledger.old")))
    val r2 = IP.runBatch(spark, s"$root/src", s"$root/tgt", s"$root/ledger",
      rates, ts, maxBatch = 10)
    assert(r2 == IP.BatchResult(0, 0), "recovery must restore the ledger")
    assert(spark.read.parquet(s"$root/ledger").count() == before)
  }
}
