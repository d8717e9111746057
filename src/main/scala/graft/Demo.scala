package graft

import java.time.LocalDate

/** Runnable end-to-end of the reference's whole lifecycle on this engine:
  * generator (R21) → daily-memoized rates dim (R16–R18) → capped
  * incremental conversion batches with ledger pickup (R2–R15) → PK-view
  * query of the target. Mirrors one day of the reference deployment:
  * 6 generator ticks + hourly conversion runs, at the reference's
  * documented rates (5 000 orders / 10 min, ≤30 000 / hour batches).
  *
  *   sbt "runMain graft.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

    val root = TempRoots.create("graft_demo_")
    val (src, tgt, led) = (s"$root/orders", s"$root/orders_eur", s"$root/ledger")

    // six 10-minute generator ticks (dags/order_generator_dag.py:14,62)
    (0 until 6).foreach { tick =>
      gen.OrderGen.orders(spark, 5000, seed = 100 + tick)
        .write.mode("append").parquet(src)
    }
    println(s"[demo] generated ${spark.read.parquet(src).count()} orders -> $src")

    // daily-cached, EUR-rebased rates (one provider fetch for the day)
    val rates = new sources.RatesDim.DailyCachedRates(
      spark, s"$root/rates", sources.RatesDim.StaticProvider)
    val day = LocalDate.parse("2026-01-01")

    // hourly conversion runs, 30k cap (order_currency_conversion_dag.py:91)
    var hour = 0
    var done = false
    while (!done) {
      val ts = java.sql.Timestamp.valueOf(f"2026-01-01 $hour%02d:30:00")
      val r = streaming.IncrementalPipeline.runBatch(
        spark, src, tgt, led, rates.broadcastable(day), ts, maxBatch = 30000)
      println(s"[demo] hour $hour: picked ${r.picked}")
      done = r.picked == 0
      hour += 1
    }

    val tv = streaming.IncrementalPipeline.targetView(spark, tgt)
    println(s"[demo] target rows: ${tv.count()} " +
      s"(distinct ids: ${tv.select("order_id").distinct().count()}, " +
      s"rate fetches: ${rates.fetchCount})")
    tv.orderBy("order_id").show(5, truncate = false)
    spark.stop()
  }
}
