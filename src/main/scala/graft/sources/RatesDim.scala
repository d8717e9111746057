package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.LocalDate

/** The exchange-rate dimension source with the reference's acquisition
  * semantics (SURVEY.md §2.1 R16–R20, R25; §3.3):
  *
  *  - an external provider fetched at most once per calendar day — the
  *    reference memoizes the HTTP response in a day-keyed Airflow Variable
  *    (`dags/order_currency_conversion_dag.py:33-42`, 2-calls/day budget);
  *    here the memo is a parquet store keyed by day;
  *  - validation: the response must contain the base currency or the run
  *    fails fast (`:55-56`, R25);
  *  - EUR re-basing: rate[c] = usd_rate[c] / usd_rate["EUR"], a
  *    scalar-broadcast projection (`:58-60`, R17);
  *  - the result is a small (currency, rate) DataFrame meant for
  *    `broadcast()` into the conversion join (R7).
  *
  * The provider is an injection point: production would do the HTTP GET
  * (driver-side — a dimension of a few hundred rows has no business being
  * a distributed read); tests and this zero-egress environment plug in a
  * literal table.
  */
object RatesDim {

  /** External source of USD-based rates for a given day (R16's API). */
  trait RatesProvider {
    def fetch(day: LocalDate): Map[String, Double]
  }

  /** Zero-egress stand-in for the openexchangerates API: fixed USD-based
    * rates, any day. */
  object StaticProvider extends RatesProvider {
    override def fetch(day: LocalDate): Map[String, Double] = Map(
      "EUR" -> 0.92, "USD" -> 1.0, "GBP" -> 0.78, "JPY" -> 151.0,
      "CNY" -> 7.23, "INR" -> 83.9, "BRL" -> 5.03, "CAD" -> 1.36,
      "CHF" -> 0.87, "SEK" -> 10.5)
  }

  /** Live HTTP provider — the real R16 acquisition path: GET `endpoint`
    * (any `{day}` placeholder substituted with the ISO date), expect the
    * reference's `{"rates": {code: number, ...}}` payload
    * (`dags/order_currency_conversion_dag.py:44-54`), and drive R25's
    * error ladder for real: a non-200 status and a malformed payload each
    * fail fast with a descriptive error (the missing-EUR check stays
    * downstream in [[DailyCachedRates.resolve]], where both providers
    * share it). Driver-side on purpose — a few-hundred-row dimension has
    * no business being a distributed read. JDK `HttpClient` + the Jackson
    * already on Spark's classpath: zero new dependencies, so the path is
    * testable offline against an in-process `HttpServer`
    * (RatesDimSpec). [[StaticProvider]] remains the zero-egress default.
    */
  final class HttpProvider(
      endpoint: String,
      connectTimeoutMillis: Int = 5000,
      readTimeoutMillis: Int = 10000) extends RatesProvider {
    override def fetch(day: LocalDate): Map[String, Double] = {
      val uri = java.net.URI.create(endpoint.replace("{day}", day.toString))
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMillis.toLong))
        .build()
      val req = java.net.http.HttpRequest.newBuilder(uri)
        .timeout(java.time.Duration.ofMillis(readTimeoutMillis.toLong))
        .GET().build()
      val resp = client.send(
        req, java.net.http.HttpResponse.BodyHandlers.ofString())
      // R25 rung 1: transport-level failure (the reference's
      // response.status_code check) fails the run, never defaults
      if (resp.statusCode() != 200)
        throw new IllegalStateException(
          s"rates endpoint returned HTTP ${resp.statusCode()} for $day: $uri")
      val root =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp.body())
        catch {
          case e: com.fasterxml.jackson.core.JacksonException =>
            // R25 rung 2: unparseable body
            throw new IllegalStateException(
              s"rates endpoint returned non-JSON for $day: ${e.getMessage}")
        }
      val rates = if (root == null) null else root.get("rates")
      if (rates == null || !rates.isObject)
        throw new IllegalStateException(
          s"rates payload for $day has no 'rates' object")
      val b = Map.newBuilder[String, Double]
      val names = rates.fieldNames()
      while (names.hasNext) {
        val k = names.next()
        val v = rates.get(k)
        if (!v.isNumber)
          throw new IllegalStateException(
            s"non-numeric rate for '$k' on $day: $v")
        b += k -> v.asDouble()
      }
      b.result()
    }
  }

  /** Day-memoized, EUR-rebased rates dimension (R17+R18). `resolve` hits
    * the provider only on a memo miss for that day; replays and retries
    * within the day are free, mirroring the reference's API-call budget.
    */
  final class DailyCachedRates(
      spark: SparkSession, storeDir: String, provider: RatesProvider) {

    /** Provider invocations, for tests asserting the once-per-day budget. */
    @volatile var fetchCount: Int = 0

    private def memoPath(day: LocalDate) = s"$storeDir/day=$day"

    def resolve(day: LocalDate): DataFrame = {
      val path = memoPath(day)
      // All memo-store probes go through the Hadoop FileSystem API so the
      // store may be hdfs://, s3a:// or file: — a java.io.File check against
      // a scheme-qualified URI always reports "missing", which would silently
      // re-fetch every resolve (blowing the 2-calls/day budget this class
      // exists to enforce) and never clear a partial write. Same fix class
      // as IncrementalPipeline.fsFor (VERDICT r3 #2).
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a memo hit requires the COMMITTED marker, not mere dir existence:
      // Spark creates the directory at job start, so a crash mid-write
      // would otherwise wedge the whole day on an unreadable partial memo
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
        fs.delete(dir, true) // clear any partial write from a crashed attempt
        val usdRates = provider.fetch(day)
        fetchCount += 1
        // R25: fail fast if the base currency is missing from the response
        val eurRate = usdRates.getOrElse("EUR",
          throw new IllegalStateException(
            s"EUR missing from rates response for $day"))
        // R17: re-base every rate to units-per-EUR
        val rebased = usdRates.view.mapValues(_ / eurRate).toSeq
        import spark.implicits._
        rebased.toDF("currency", "rate")
          .coalesce(1).write.mode("overwrite").parquet(path)
      }
      ParquetSchema.read(spark, path)
    }

    /** Rates ready for the conversion join: broadcast-hinted. */
    def broadcastable(day: LocalDate): DataFrame = broadcast(resolve(day))
  }
}
