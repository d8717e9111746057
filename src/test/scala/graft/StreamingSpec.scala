package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.nio.file.Files

case class Ev(ts: Timestamp, event_type: String, value: Double)
case class Imp(user_id: Long, imp_id: String, imp_ts: Timestamp)
case class Clk(click_user: Long, click_id: String, click_ts: Timestamp)
case class SrcOrder(
    order_id: String, customer_email: String, order_date: Timestamp,
    amount: java.math.BigDecimal, currency: String)

/** Streaming semantics (SURVEY.md §5.4): watermark late-data drop (x03) and
  * no-duplicate-on-redelivery for the incremental pipeline (x04).
  */
class StreamingSpec extends SparkSuite {
  import graft.streaming.{Windows, IncrementalPipeline => IP}

  private def ts(s: String) = Timestamp.valueOf(s)

  test("x03: tumbling window emits once; late event beyond watermark dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Windows.tumbling(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("x03out")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(ts("2026-01-01 10:05:00"), "A", 1.0),
        Ev(ts("2026-01-01 10:20:00"), "A", 2.0),
        Ev(ts("2026-01-01 11:05:00"), "B", 3.0))
      q.processAllAvailable()
      // watermark 10:55 — the 10:00 window is still open, nothing emitted
      assert(spark.table("x03out").count() == 0)

      input.addData(Ev(ts("2026-01-01 12:00:00"), "A", 9.0))
      q.processAllAvailable()
      // watermark 11:50 closes the 10:00 window: A x2, total 3.0
      val w10 = spark.table("x03out")
        .filter(col("window_start") === ts("2026-01-01 10:00:00")).collect()
      assert(w10.length == 1)
      assert(w10.head.getAs[String]("event_type") == "A")
      assert(w10.head.getAs[Long]("n_events") == 2)

      // a late event 80 min behind the watermark must be DROPPED, and the
      // already-emitted window must not re-emit
      input.addData(
        Ev(ts("2026-01-01 10:30:00"), "A", 100.0), // late
        Ev(ts("2026-01-01 13:00:00"), "C", 1.0))
      q.processAllAvailable()
      val out = spark.table("x03out").collect()
      val w10rows = out.filter(_.getAs[Timestamp]("window_start") ==
        ts("2026-01-01 10:00:00"))
      assert(w10rows.length == 1, "late data must not re-open the window")
      assert(w10rows.head.getAs[java.math.BigDecimal]("total_value")
        .doubleValue == 3.0, "late value must not be counted")
      // watermark 12:50 closed the 11:00 window with exactly the B event
      val w11 = out.filter(_.getAs[Timestamp]("window_start") ==
        ts("2026-01-01 11:00:00"))
      assert(w11.length == 1 && w11.head.getAs[Long]("n_events") == 1)
    } finally q.stop()
  }

  test("x17: hopping windows count each event size/slide times; watermark finalizes per hop") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Windows.hopping(input.toDF(), "1 hour", "15 minutes", "10 minutes")
      .writeStream.format("memory").queryName("x17out")
      .outputMode("append").start()
    try {
      // one event at 10:05 belongs to the 4 windows starting 09:15..10:00
      input.addData(Ev(ts("2026-01-01 10:05:00"), "A", 2.0))
      q.processAllAvailable()
      input.addData(Ev(ts("2026-01-01 11:40:00"), "B", 1.0))
      q.processAllAvailable()
      // watermark 11:30: every window ending <= 11:30 finalized — that is
      // all four A-windows (latest ends 11:00)
      val outA = spark.table("x17out")
        .filter(col("event_type") === "A").collect()
      assert(outA.map(_.getAs[Timestamp]("window_start")).toSet ==
        Set("09:15", "09:30", "09:45", "10:00")
          .map(m => ts(s"2026-01-01 $m:00")),
        "an event must be counted into exactly size/slide = 4 hops")
      assert(outA.forall(r => r.getAs[Long]("n_events") == 1 &&
        r.getAs[java.math.BigDecimal]("total_value").doubleValue == 2.0))
      // a late event 65 min behind the watermark is dropped from every hop
      input.addData(
        Ev(ts("2026-01-01 10:25:00"), "A", 100.0), // late
        Ev(ts("2026-01-01 13:00:00"), "C", 1.0))
      q.processAllAvailable()
      val again = spark.table("x17out")
        .filter(col("event_type") === "A").collect()
      assert(again.length == 4 &&
        again.forall(_.getAs[Long]("n_events") == 1),
        "late data must not re-open or re-emit any hop")
    } finally q.stop()
  }

  test("x17 parity: hopping on a batch frame matches the q81-style aggregate") {
    import spark.implicits._
    val batch = Seq(
      Ev(ts("2026-01-01 10:05:00"), "A", 1.0),
      Ev(ts("2026-01-01 10:20:00"), "A", 2.0),
      Ev(ts("2026-01-01 11:05:00"), "B", 3.0)).toDF()
    val out = Windows.hopping(batch, "1 hour", "15 minutes", "10 minutes")
      .collect()
    assert(out.map(_.getAs[Long]("n_events")).sum == 3 * 4,
      "each batch event lands in exactly 4 hops")
    val a1030 = out.filter(r =>
      r.getAs[Timestamp]("window_start") == ts("2026-01-01 10:00:00") &&
        r.getAs[String]("event_type") == "A")
    assert(a1030.length == 1 && a1030.head.getAs[Long]("n_events") == 2,
      "the 10:00 hop holds both A events")
  }

  test("x03 extra: native session_window splits on the gap, closes via watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Windows.sessionized(input.toDF(), "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("x03sess")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(ts("2026-01-01 10:00:00"), "A", 1.0),
        Ev(ts("2026-01-01 10:10:00"), "A", 2.0), // same session (gap 10m < 30m)
        Ev(ts("2026-01-01 11:30:00"), "A", 5.0)) // new session (gap 80m)
      q.processAllAvailable()
      input.addData(Ev(ts("2026-01-01 13:00:00"), "B", 0.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("x03sess")
        .filter(col("event_type") === "A")
        .orderBy("session_start").collect()
      assert(rows.length == 2, s"expected two closed sessions, got ${rows.length}")
      assert(rows(0).getAs[Long]("n_events") == 2)
      // a session extends `gap` past its last event
      assert(rows(0).getAs[Timestamp]("session_end") == ts("2026-01-01 10:40:00"))
      assert(rows(1).getAs[Long]("n_events") == 1)
      assert(rows(1).getAs[Timestamp]("session_start") == ts("2026-01-01 11:30:00"))
    } finally q.stop()
  }

  test("Windows.tumbling on a batch frame matches the q19-style aggregate") {
    import spark.implicits._
    val batch = Seq(
      Ev(ts("2026-01-01 10:05:00"), "A", 1.0),
      Ev(ts("2026-01-01 10:20:00"), "A", 2.0),
      Ev(ts("2026-01-01 11:05:00"), "B", 3.0)).toDF()
    val out = Windows.tumbling(batch, "1 hour", "10 minutes")
      .orderBy("window_start", "event_type").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Timestamp]("window_start") == ts("2026-01-01 10:00:00"))
    assert(out(0).getAs[Long]("n_events") == 2)
    assert(out(0).getAs[java.math.BigDecimal]("total_value").doubleValue == 3.0)
    assert(out(1).getAs[Long]("n_events") == 1)
  }

  test("stateful dedup suppresses duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StatefulDedup
    import graft.streaming.StatefulDedup.Keyed
    val input = MemoryStream[Keyed]
    val q = StatefulDedup.dedupStream(input.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: fp1 arrives twice in one batch -> min doc_id wins
      input.addData(
        Keyed("fp1", 10L, "a"), Keyed("fp2", 11L, "b"), Keyed("fp1", 5L, "a'"))
      q.processAllAvailable()
      val b1 = spark.table("dedup_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(b1 == Set(("fp1", 5L), ("fp2", 11L)))

      // batch 2: fp1 again (state suppresses), fp3 new (emitted)
      input.addData(Keyed("fp1", 99L, "a''"), Keyed("fp3", 12L, "c"))
      q.processAllAvailable()
      val all = spark.table("dedup_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(all == Set(("fp1", 5L), ("fp2", 11L), ("fp3", 12L)))
    } finally q.stop()
  }

  test("x15: streaming transitions == batch lead() over the same prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Transitions
    import graft.streaming.Transitions.UserEvent
    val input = MemoryStream[UserEvent]
    val q = Transitions.transitions(input.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      // batch 1, user 1 OUT OF ORDER in the batch: sorts to view->click
      input.addData(
        UserEvent(1L, ts("2026-01-01 10:05:00"), 2L, "click"),
        UserEvent(1L, ts("2026-01-01 10:00:00"), 1L, "view"),
        UserEvent(2L, ts("2026-01-01 10:01:00"), 3L, "view"))
      q.processAllAvailable()
      val b1 = spark.table("trans_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(b1 == Set((1L, "view", "click")))

      // batch 2 stitches across the batch boundary via state:
      // user 1 click->purchase, user 2 view->click
      input.addData(
        UserEvent(1L, ts("2026-01-01 10:10:00"), 4L, "purchase"),
        UserEvent(2L, ts("2026-01-01 10:12:00"), 5L, "click"))
      q.processAllAvailable()
      val all = spark.table("trans_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(all.toSet == Set(
        (1L, "view", "click"), (1L, "click", "purchase"),
        (2L, "view", "click")))
      // and the hop aggregate equals the batch q72 shape on the same rows
      val allEvents = Seq(
        (1L, ts("2026-01-01 10:00:00"), 1L, "view"),
        (1L, ts("2026-01-01 10:05:00"), 2L, "click"),
        (1L, ts("2026-01-01 10:10:00"), 4L, "purchase"),
        (2L, ts("2026-01-01 10:01:00"), 3L, "view"),
        (2L, ts("2026-01-01 10:12:00"), 5L, "click"))
        .toDF("user_id", "ts", "event_id", "event_type")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(asc("ts"), asc("event_id"))
      val batchHops = allEvents
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy("event_type", "to_type").count()
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val streamHops = all.groupBy(h => (h._2, h._3)).view
        .mapValues(_.length.toLong).toSeq
        .map { case ((f, t), n) => (f, t, n) }.toSet
      assert(streamHops == batchHops)
    } finally q.stop()
  }

  test("x23: streaming SCD2 closed rows == batch build's non-current rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Scd2Stream
    import graft.streaming.Scd2Stream.LogEvent
    val input = MemoryStream[LogEvent]
    val q = Scd2Stream.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      // batch 1, user 1 OUT OF ORDER in the batch (sorts a->a->b: the
      // same-attr pair collapses, then one close emits); user 2 opens
      input.addData(
        LogEvent(1L, ts("2026-01-01 10:05:00"), 2L, "a"),
        LogEvent(1L, ts("2026-01-01 10:00:00"), 1L, "a"),
        LogEvent(1L, ts("2026-01-01 10:08:00"), 3L, "b"),
        LogEvent(2L, ts("2026-01-01 10:01:00"), 4L, "x"))
      q.processAllAvailable()
      val b1 = spark.table("scd2_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(4))).toSet
      assert(b1 == Set((1L, "a", 1)))

      // batch 2 closes across the boundary via state: user 1's open "b"
      // extends on the same attr then closes on "c"; user 2 closes "x"
      input.addData(
        LogEvent(1L, ts("2026-01-01 10:20:00"), 5L, "b"),
        LogEvent(1L, ts("2026-01-01 10:30:00"), 6L, "c"),
        LogEvent(2L, ts("2026-01-01 10:25:00"), 7L, "y"))
      q.processAllAvailable()
      val streamClosed = spark.table("scd2_out")
        .orderBy("user_id", "version").collect().map(_.toString).toSeq

      val batchClosed = ops.Scd.scd2Build(Seq(
          (1L, "a", ts("2026-01-01 10:00:00"), 1L),
          (1L, "a", ts("2026-01-01 10:05:00"), 2L),
          (1L, "b", ts("2026-01-01 10:08:00"), 3L),
          (1L, "b", ts("2026-01-01 10:20:00"), 5L),
          (1L, "c", ts("2026-01-01 10:30:00"), 6L),
          (2L, "x", ts("2026-01-01 10:01:00"), 4L),
          (2L, "y", ts("2026-01-01 10:25:00"), 7L))
          .toDF("user_id", "event_type", "ts", "event_id"))
        .filter(!col("is_current"))
        .orderBy("user_id", "version").collect().map(_.toString).toSeq
      assert(streamClosed == batchClosed)
    } finally q.stop()
  }

  test("TTL dedup: bounded state — expired keys re-admit, live keys suppress") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StatefulDedup
    import graft.streaming.StatefulDedup.KeyedT
    val input = MemoryStream[KeyedT]
    val q = StatefulDedup
      .dedupStreamTtl(input.toDS(), lateness = "10 minutes",
        ttlMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("ttl_dedup_out")
      .outputMode("append").start()
    def emitted() = spark.table("ttl_dedup_out").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    try {
      // batch 1: first arrivals emit
      input.addData(
        KeyedT("fp1", 1L, "a", ts("2026-01-01 10:00:00")),
        KeyedT("fp2", 2L, "b", ts("2026-01-01 10:00:00")))
      q.processAllAvailable()
      assert(emitted() == Set(("fp1", 1L), ("fp2", 2L)))
      // batch 2: duplicate inside the TTL horizon -> suppressed
      input.addData(KeyedT("fp1", 3L, "a", ts("2026-01-01 10:05:00")))
      q.processAllAvailable()
      assert(emitted() == Set(("fp1", 1L), ("fp2", 2L)))
      // batch 3: watermark advances past fp1's expiry (10:05 + 30m = 10:35)
      input.addData(KeyedT("adv", 4L, "x", ts("2026-01-01 12:00:00")))
      q.processAllAvailable()
      // batch 4: timeout fires for fp1/fp2 under the 11:50 watermark
      input.addData(KeyedT("adv2", 5L, "y", ts("2026-01-01 12:30:00")))
      q.processAllAvailable()
      // batch 5: fp1 past the horizon is a NEW document again (the
      // documented re-admission trade of bounded state)
      input.addData(KeyedT("fp1", 6L, "a", ts("2026-01-01 12:31:00")))
      q.processAllAvailable()
      assert(emitted() == Set(("fp1", 1L), ("fp2", 2L), ("adv", 4L),
        ("adv2", 5L), ("fp1", 6L)))
    } finally q.stop()
  }

  private def ratesDf = {
    import spark.implicits._
    Seq(("EUR", 1.0), ("USD", 1.1), ("GBP", 0.85), ("JPY", 163.0),
      ("CNY", 7.85), ("INR", 91.2), ("BRL", 5.47), ("CAD", 1.48),
      ("CHF", 0.95), ("SEK", 11.4)).toDF("currency", "rate")
    // XXX and AUD deliberately absent -> default 1.0 path
  }

  test("x04 batch: incremental pickup drains the source exactly once") {
    val root = Files.createTempDirectory("graft_x04_").toString
    val (src, tgt, led) = (s"$root/src", s"$root/tgt", s"$root/ledger")
    gen.OrderGen.orders(spark, 50, seed = 7).write.parquet(src)

    val r1 = IP.runBatch(spark, src, tgt, led, ratesDf, ts("2026-01-02 00:00:00"), maxBatch = 30)
    assert(r1 == IP.BatchResult(30, 30))
    val r2 = IP.runBatch(spark, src, tgt, led, ratesDf, ts("2026-01-02 01:00:00"), maxBatch = 30)
    assert(r2 == IP.BatchResult(20, 20))
    // drained: the next run is the reference's early-exit empty batch (R6)
    val r3 = IP.runBatch(spark, src, tgt, led, ratesDf, ts("2026-01-02 02:00:00"), maxBatch = 30)
    assert(r3 == IP.BatchResult(0, 0))

    val tv = IP.targetView(spark, tgt)
    assert(tv.count() == 50)
    assert(tv.select("order_id").distinct().count() == 50)
    // conversion semantics spot check: EUR rows keep their amount
    val eur = tv.filter(col("original_currency") === "EUR")
      .filter(col("amount_eur") =!= col("original_amount"))
    assert(eur.count() == 0)

    // a 3-batch backlog: three new files, 75 fresh rows over the cap of
    // 30. No file is recorded consumed until the batch that drains them
    val backlog = gen.OrderGen.orders(spark, 75, seed = 8)
    backlog.repartition(3).write.mode("append").parquet(src)
    def records() = Option(new java.io.File(s"$led/_consumed").list())
      .map(_.count(n => !n.startsWith("."))).getOrElse(0)
    val recorded0 = records()
    val stamps = Seq("03", "04", "05").map(h => ts(s"2026-01-02 $h:00:00"))
    val runs = stamps.map { t =>
      val r = IP.runBatch(spark, src, tgt, led, ratesDf, t, maxBatch = 30)
      (r, records())
    }
    assert(runs == Seq((IP.BatchResult(30, 30), recorded0),
      (IP.BatchResult(30, 30), recorded0),
      (IP.BatchResult(15, 15), recorded0 + 1)))
    assert(IP.runBatch(spark, src, tgt, led, ratesDf,
      ts("2026-01-02 06:00:00"), maxBatch = 30) == IP.BatchResult(0, 0))
    // exactly once, in order_id order: batch k took the k-th 30 ids
    val ids = backlog.select("order_id").collect().map(_.getString(0)).sorted
    val raw = spark.read.parquet(tgt)
    stamps.zipWithIndex.foreach { case (t, k) =>
      val got = raw.filter(col("processed_at") === lit(t))
        .select("order_id").collect().map(_.getString(0)).sorted.toSeq
      assert(got == ids.slice(30 * k, 30 * k + 30).toSeq, s"batch $k")
    }
    assert(raw.count() == 125 && IP.targetView(spark, tgt).count() == 125)
  }

  test("x04 batch: replayed append is invisible through the PK view") {
    val root = Files.createTempDirectory("graft_x04r_").toString
    val (src, tgt, led) = (s"$root/src", s"$root/tgt", s"$root/ledger")
    gen.OrderGen.orders(spark, 20, seed = 11).write.parquet(src)
    IP.runBatch(spark, src, tgt, led, ratesDf, ts("2026-01-02 00:00:00"))
    // crash between target append and ledger append, then re-run: the same
    // rows land in the target twice (at-least-once) with a later timestamp
    val replay = spark.read.parquet(src).orderBy("order_id").limit(10)
    IP.convertBatch(replay, ratesDf, ts("2026-01-02 05:00:00"))
      .write.mode("append").parquet(tgt)
    assert(spark.read.parquet(tgt).count() == 30) // raw: duplicates present
    val tv = IP.targetView(spark, tgt)
    assert(tv.count() == 20) // PK view: exactly once
    // keep-first: the original (earlier) conversion wins, as the reference's
    // PK insert-reject does
    val kept = tv.filter(col("order_id").isin(
        replay.select("order_id").collect().map(_.getString(0)).toSeq: _*))
      .select("processed_at").distinct().collect()
    assert(kept.length == 1 &&
      kept.head.getTimestamp(0) == ts("2026-01-02 00:00:00"))
  }

  test("x13: interval join matches inside the bound; outer side finalizes on watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[Imp]
    val clicks = MemoryStream[Clk]
    val q = graft.streaming.Joins
      .clickAttribution(imps.toDF(), clicks.toDF(),
        within = "15 minutes", lateness = "10 minutes", leftOuter = true)
      .writeStream.format("memory").queryName("x13out")
      .outputMode("append").start()
    try {
      imps.addData(
        Imp(1L, "i1", ts("2026-01-01 10:00:00")),
        Imp(2L, "i2", ts("2026-01-01 10:00:00")))
      clicks.addData(
        Clk(1L, "c1", ts("2026-01-01 10:10:00")), // within 15 min → match
        Clk(2L, "c2", ts("2026-01-01 10:40:00"))) // 40 min later → no match
      q.processAllAvailable()
      val matched = spark.table("x13out").filter(col("click_id").isNotNull).collect()
      assert(matched.length == 1 &&
        matched.head.getAs[String]("imp_id") == "i1" &&
        matched.head.getAs[String]("click_id") == "c1",
        "only the click inside the interval may attribute")
      // i2 unmatched, but not yet emitted: the watermark must first prove
      // no qualifying click can still arrive
      assert(spark.table("x13out").filter(col("click_id").isNull).isEmpty)
      // advance both watermarks far past i2's join window
      imps.addData(Imp(9L, "i9", ts("2026-01-01 12:00:00")))
      clicks.addData(Clk(9L, "c9", ts("2026-01-01 12:00:00")))
      q.processAllAvailable()
      val unmatched = spark.table("x13out").filter(col("click_id").isNull).collect()
      assert(unmatched.count(_.getAs[String]("imp_id") == "i2") == 1,
        "expired unmatched impression must emit null-extended EXACTLY once")
    } finally q.stop()
  }

  test("x04 stream: checkpoint-lost redelivery does not duplicate output") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft_x04s_").toString
    val (tgt, led) = (s"$root/tgt", s"$root/ledger")
    val input = MemoryStream[SrcOrder]
    def order(i: Int) = SrcOrder(f"ord$i%04d", s"a$i@example.com",
      ts("2026-01-01 00:00:00"), new java.math.BigDecimal(s"$i.50"),
      if (i % 2 == 0) "EUR" else "USD")
    input.addData((1 to 5).map(order): _*)

    val q1 = IP.stream(input.toDF(), tgt, led, ratesDf, s"$root/ckpt1")
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(tgt).count() == 5)

    // lose the checkpoint -> the source replays from scratch (worst-case
    // at-least-once); the ledger anti-join must make the replay a no-op
    val q2 = IP.stream(input.toDF(), tgt, led, ratesDf, s"$root/ckpt2")
    q2.processAllAvailable()
    input.addData(order(6)) // and new data still flows
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(tgt)
    assert(out.count() == 6, "replayed batch must not append duplicates")
    assert(out.select("order_id").distinct().count() == 6)
  }

  test("x16c: dedup state survives a query restart from the checkpoint") {
    // the distilled recovery contract behind the x16c gate: a key seen by
    // query instance 1 must suppress its duplicate arriving at instance 2,
    // which starts COLD from the on-disk checkpoint — losing the state
    // store (or the file-sink commit log) shows up as (fp1, 99) leaking
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StatefulDedup
    import graft.streaming.StatefulDedup.Keyed
    val root = TempRoots.create("graft_x16c_spec_")
    val input = MemoryStream[Keyed]
    def start() = StatefulDedup.dedupStream(input.toDS())
      .writeStream.format("parquet")
      .option("path", s"$root/sink")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(Keyed("fp1", 5L, "a"), Keyed("fp2", 11L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(Keyed("fp1", 99L, "a'"), Keyed("fp3", 12L, "c"))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(s"$root/sink").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("fp1", 5L), ("fp2", 11L), ("fp3", 12L)))
  }

  test("x23c: open SCD2 version survives restart — closed with continued numbering") {
    // key u1's history straddles the restart: A opens v1 in instance 1;
    // B arriving at instance 2 must CLOSE v1 with A's effective_from and
    // open v2 — a lost state store would open B as a fresh v1 and emit
    // no closed row at all; C then closes B as v2
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Scd2Stream
    import graft.streaming.Scd2Stream.LogEvent
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val root = TempRoots.create("graft_x23c_spec_")
    val input = MemoryStream[LogEvent]
    def start() = Scd2Stream.scd2Stream(input.toDS())
      .writeStream.format("parquet")
      .option("path", s"$root/sink")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(LogEvent(1L, ts(1), 10L, "A"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(LogEvent(1L, ts(5), 11L, "B"))
      q2.processAllAvailable()
      input.addData(LogEvent(1L, ts(9), 12L, "C"))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(s"$root/sink").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getInt(4))).sortBy(_._5).toSeq
    assert(got == Seq(
      (1L, "A", ts(1), ts(5), 1),
      (1L, "B", ts(5), ts(9), 2)))
  }

  test("x16c gate: restart output == batch q21; duplicates cross the split") {
    import spark.implicits._
    // non-vacuity first: the gate only proves recovery if some duplicate
    // key's arrivals straddle the restart boundary
    val keyed = Tables.documents(spark, sf0001)
      .select(graft.ops.Text.wordSetFingerprint(col("text")).as("key"),
        col("doc_id"))
      .orderBy("doc_id").collect().map(r => (r.getString(0), r.getLong(1)))
    val (first, second) = keyed.splitAt(keyed.length / 2)
    val crossing = first.map(_._1).toSet
      .intersect(second.map(_._1).toSet)
    assert(crossing.nonEmpty,
      "vacuous: no duplicate key crosses the restart boundary at this SF")
    val got = graft.streaming.StreamGates.x16c(spark, sf0001).collect()
      .map(_.getLong(0)).toSeq
    val want = graft.ops.Text.q21(spark, sf0001).collect()
      .map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("DedupStream replay: re-applying the SAME batch (the at-least-once " +
      "foreachBatch case) leaves index probes and store view unchanged — " +
      "the tombstone-first apply is the idempotency mechanism") {
    import graft.ops.{ClusterStore, Text}
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
    val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 4)
      .select("doc_id", "text")
    val root = TempRoots.create("graft_dedupstream_replay_")
    val (idx, store) = (s"$root/idx", s"$root/store")
    Text.lshBuild(corpus, idx)
    ClusterStore.init(
      Text.dupComponentsStar(Text.minhashPairs(corpus)), store)
    def view() = ClusterStore.read(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def probeAll() = Text.lshProbe(spark, idx, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    graft.streaming.DedupStream.applyBatch(batch, 7L, idx, store)
    val (v1, p1) = (view(), probeAll())
    // first delivery never grows the tombstone table — the masking join
    // stays the free no-op on the happy path (review r15)
    assert(!new java.io.File(s"$idx/tombs").exists(),
      "a first delivery committed tombstones — the retry marker failed")
    // the crashed-attempt replay: the SAME batchId applies again
    graft.streaming.DedupStream.applyBatch(batch, 7L, idx, store)
    assert(view() == v1,
      "replay changed the store view — the apply is not idempotent")
    // a fresh probe sees each batch doc EXACTLY once (self-pairs at
    // jaccard 1.0 from a double-appended copy would surface here)
    assert(probeAll() == p1,
      "replay changed index probes — a batch doc got double-appended")
    // and the final state is the batch rebuild (merge ≡ rebuild held
    // through the replay)
    val want = Text.dupComponentsStar(Text.minhashPairs(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(v1 == want, "streamed resolution diverged from the rebuild")
  }

  test("CdcApply GenTable batches are SELF-MAINTAINING: the measured " +
      "policy folds history past the crossover, the view stays exact, " +
      "and a continuous feed never piles unbounded generations") {
    import spark.implicits._
    import graft.sources.{GenCommit, GenTable}
    val dir = s"${TempRoots.create("graft_cdc_selfmaint_")}/t"
    GenTable.init(Seq((0L, "A", 0.0)).toDF("k", "p", "v"), dir, "p")
    (1 to 10).foreach { i =>
      graft.streaming.CdcApply.applyGenBatch(
        Seq((i.toLong, "A", i.toDouble, "upsert"))
          .toDF("k", "p", "v", "_op"),
        dir, Seq("k"), "p")
    }
    val gens = GenCommit.committed(spark, dir).size
    assert(gens < 8,
      s"no compaction fired across 10 batches ($gens generations piled)")
    val got = GenTable.read(spark, dir, "p").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == (0 to 10).map(i => (i.toLong, i.toDouble)).toSet,
      "self-maintenance changed the view")
  }

  test("DimRefreshStream: the dim re-resolves per batch across the day " +
      "boundary (day-2 rows at day-2 rates); the once-per-day fetch " +
      "budget holds across batches AND replays (memo hits); a replayed " +
      "batch overwrites its own output, never double-appends") {
    import graft.streaming.DimRefreshStream
    import DimRefreshStream.{Day1, Day2}
    import spark.implicits._
    val root = TempRoots.create("graft_dimrefresh_")
    val (store, sink) = (s"$root/rates", s"$root/sink")
    val (d1, d2) = (java.sql.Date.valueOf(Day1), java.sql.Date.valueOf(Day2))
    val src = Seq(
      (1L, 100.0, "USD", d1), (2L, 100.0, "USD", d2),
      (3L, 50.0, "EUR", d2), (4L, 10.0, "XXX", d2))
      .toDF("order_id", "amount", "currency", "event_day")
    val provider = new DimRefreshStream.TwoDayProvider
    def apply(b: org.apache.spark.sql.DataFrame, id: Long) =
      DimRefreshStream.applyBatch(b, id, store, provider, sink)
    apply(src.filter(col("event_day") === d1), 0L)
    assert(provider.fetches == List(Day1), "batch 1 fetches day 1 once")
    apply(src.filter(col("event_day") === d2), 1L)
    assert(provider.fetches.sortBy(_.toString) == List(Day1, Day2),
      "crossing the day boundary fetches the NEW day exactly once")
    def rows() = spark.read.parquet(sink)
      .select("order_id", "exchange_rate", "amount_eur").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    val got = rows()
    // day-1 USD at the base rate; day-2 USD at the ×1.05 reval — a
    // stale (day-1) dim on the day-2 batch is exactly what this catches
    assert(got == Seq(
      (1L, 0.913242, 91.32), (2L, 0.958904, 95.89),
      (3L, 1.0, 50.0), (4L, 1.0, 10.0)), s"got $got")
    // replay batch 1 (at-least-once): memo hit — no new fetch — and the
    // batch-keyed overwrite leaves the sink EXACTLY as it was
    apply(src.filter(col("event_day") === d1), 0L)
    assert(provider.fetches.size == 2, "a replay must hit the memo")
    assert(rows() == got, "a replayed batch must not change the sink")
  }

  test("DedupStream attempt markers prune below the low-watermark — the " +
      "continuously-ingesting stream cannot accumulate one marker file " +
      "per trigger forever (ADVICE r15)") {
    import graft.ops.{ClusterStore, Text}
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
    val b1 = docs.filter(pmod(col("doc_id"), lit(10L)) === 4)
      .select("doc_id", "text")
    val b2 = docs.filter(pmod(col("doc_id"), lit(20L)) === 9)
      .select("doc_id", "text")
    val b3 = docs.filter(pmod(col("doc_id"), lit(20L)) === 19)
      .select("doc_id", "text")
    val root = TempRoots.create("graft_dedupstream_prune_")
    val (idx, store) = (s"$root/idx", s"$root/store")
    Text.lshBuild(corpus, idx)
    ClusterStore.init(
      Text.dupComponentsStar(Text.minhashPairs(corpus)), store)
    // digit names only: the local FS keeps .crc sidecars next to markers
    def markers() = new java.io.File(s"$idx/stream_attempts").list()
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).toSet
    graft.streaming.DedupStream.applyBatch(b1, 0L, idx, store)
    assert(markers() == Set("0"))
    // a batch still inside the retention window keeps the old marker …
    graft.streaming.DedupStream.applyBatch(b2, 5L, idx, store)
    assert(markers() == Set("0", "5"))
    // … and a batch far past it (a reset checkpoint's reused id would
    // sit below this watermark) sweeps the stale ones: bounded files,
    // and old ids read as FIRST deliveries again instead of forcing
    // tombstone-first
    graft.streaming.DedupStream.applyBatch(b3, 42L, idx, store)
    assert(markers() == Set("42"), s"stale markers survived: ${markers()}")
  }
}
