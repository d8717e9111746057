package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DecimalType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: a conversion whose currency is literally 'EUR' is the
  * identity — fold it to a widening cast at plan time so the per-row branch
  * (and the division machinery behind it) never reaches the executors.
  * The Catalyst-rule half of the §7.5 extension demo.
  *
  * Semantics-preserving for ANY plan shape, not just the registered builder
  * (which coalesces rate to non-null): EurConvert is null-propagating, so
  * when the rate child can be null the fold keeps an `If(IsNull(rate),
  * null, cast)` guard instead of silently turning a NULL result into a
  * pass-through. The rate expression is dropped entirely only when it is
  * provably non-null AND deterministic.
  */
object EliminateIdentityConvert extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case EurConvert(amount, Literal(c: UTF8String, StringType), rate)
          if c.toString == "EUR" =>
        val cast = Cast(amount, DecimalType(38, 8))
        if (!rate.nullable && rate.deterministic) cast
        else If(IsNull(rate), Literal(null, DecimalType(38, 8)), cast)
    }
}

object GraftFunctions {
  /** `eur_convert(amount, currency, rate)` SQL builder: widens the amount,
    * applies the missing-rate default (null -> 1.0,
    * `dags/order_currency_conversion_dag.py:108`), then the native kernel.
    */
  def eurConvertBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3, "eur_convert(amount, currency, rate)")
    EurConvert(
      Cast(args(0), DecimalType(28, 8)),
      args(1),
      new org.apache.spark.sql.catalyst.expressions.Coalesce(
        Seq(Cast(args(2), org.apache.spark.sql.types.DoubleType),
          Literal(1.0))))
  }

  val identifier: FunctionIdentifier = FunctionIdentifier("eur_convert")
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[EurConvert].getName, "eur_convert")

  /** `vec_dot(a, b)` SQL builder: casts both sides to `array<float>`. */
  def vecDotBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "vec_dot(a, b)")
    val t = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType)
    VecDot(Cast(args(0), t), Cast(args(1), t))
  }

  val vecDotIdentifier: FunctionIdentifier = FunctionIdentifier("vec_dot")
  val vecDotInfo: ExpressionInfo = new ExpressionInfo(
    classOf[VecDot].getName, "vec_dot")

  /** `vec_dot_d(a, b)` SQL builder: casts both sides to `array<double>`
    * (the dequantized-search kernel — no float round-trip). */
  def vecDotDBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "vec_dot_d(a, b)")
    val t = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType)
    VecDotD(Cast(args(0), t), Cast(args(1), t))
  }

  val vecDotDIdentifier: FunctionIdentifier = FunctionIdentifier("vec_dot_d")
  val vecDotDInfo: ExpressionInfo = new ExpressionInfo(
    classOf[VecDotD].getName, "vec_dot_d")

  def ensureVecDotD(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(vecDotDIdentifier)) {
      reg.registerFunction(vecDotDIdentifier, vecDotDInfo, vecDotDBuilder _)
    }
  }

  /** `dequant_sym(embedding)` SQL builder: casts to `array<float>` (the
    * int8 reconstruction kernel — one codegen'd pass per vector). */
  def dequantSymBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, "dequant_sym(embedding)")
    DequantSym(Cast(args(0), org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType)))
  }

  val dequantSymIdentifier: FunctionIdentifier = FunctionIdentifier("dequant_sym")
  val dequantSymInfo: ExpressionInfo = new ExpressionInfo(
    classOf[DequantSym].getName, "dequant_sym")

  def ensureDequantSym(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(dequantSymIdentifier)) {
      reg.registerFunction(dequantSymIdentifier, dequantSymInfo, dequantSymBuilder _)
    }
  }

  /** `quant8_sym(embedding)` SQL builder: casts to `array<float>` (the
    * int8 encode kernel — `struct(scale, q8)` in one codegen'd pass). */
  def quant8SymBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, "quant8_sym(embedding)")
    Quant8Sym(Cast(args(0), org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType)))
  }

  val quant8SymIdentifier: FunctionIdentifier = FunctionIdentifier("quant8_sym")
  val quant8SymInfo: ExpressionInfo = new ExpressionInfo(
    classOf[Quant8Sym].getName, "quant8_sym")

  def ensureQuant8Sym(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(quant8SymIdentifier)) {
      reg.registerFunction(quant8SymIdentifier, quant8SymInfo, quant8SymBuilder _)
    }
  }

  /** Idempotently register `vec_dot` on a live session (library entry
    * points call this; `spark.sql.extensions` covers new sessions).
    */
  def ensureVecDot(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(vecDotIdentifier)) {
      reg.registerFunction(vecDotIdentifier, vecDotInfo, vecDotBuilder _)
    }
  }

  /** `simhash_sig(hashes)` SQL builder over an `array<long>` column. */
  def simHashSigBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, "simhash_sig(hashes)")
    SimHashSig(Cast(args(0), org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType)))
  }

  val simHashSigIdentifier: FunctionIdentifier = FunctionIdentifier("simhash_sig")
  val simHashSigInfo: ExpressionInfo = new ExpressionInfo(
    classOf[SimHashSig].getName, "simhash_sig")

  /** Idempotently register `simhash_sig` on a live session. */
  def ensureSimHashSig(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(simHashSigIdentifier)) {
      reg.registerFunction(simHashSigIdentifier, simHashSigInfo, simHashSigBuilder _)
    }
  }

  /** `simhash_tables(sig)` SQL builder: casts to long. */
  def simHashTablesBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, "simhash_tables(sig)")
    SimHashTables(Cast(args(0), org.apache.spark.sql.types.LongType))
  }

  val simHashTablesIdentifier: FunctionIdentifier = FunctionIdentifier("simhash_tables")
  val simHashTablesInfo: ExpressionInfo = new ExpressionInfo(
    classOf[SimHashTables].getName, "simhash_tables")

  /** Idempotently register `simhash_tables` on a live session. */
  def ensureSimHashTables(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(simHashTablesIdentifier)) {
      reg.registerFunction(simHashTablesIdentifier, simHashTablesInfo, simHashTablesBuilder _)
    }
  }

  /** `simhash_bucket(vec, dim, bits)` SQL builder — dim/bits must be int
    * literals (they size the plan-time coordinate table).
    */
  def simHashBucketBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3, "simhash_bucket(vec, dim, bits)")
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
      case _ => throw new IllegalArgumentException(s"$what must be an int literal")
    }
    SimHashBucket(
      Cast(args(0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
      intLit(args(1), "dim"), intLit(args(2), "bits"))
  }

  val simHashBucketIdentifier: FunctionIdentifier = FunctionIdentifier("simhash_bucket")
  val simHashBucketInfo: ExpressionInfo = new ExpressionInfo(
    classOf[SimHashBucket].getName, "simhash_bucket")

  /** Idempotently register `simhash_bucket` on a live session. */
  def ensureSimHashBucket(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(simHashBucketIdentifier)) {
      reg.registerFunction(simHashBucketIdentifier, simHashBucketInfo, simHashBucketBuilder _)
    }
  }

  /** `rolling_hash(text)` SQL builder over a string column. */
  def rollingHashBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, "rolling_hash(text)")
    RollingHash(Cast(args(0), StringType))
  }

  val rollingHashIdentifier: FunctionIdentifier = FunctionIdentifier("rolling_hash")
  val rollingHashInfo: ExpressionInfo = new ExpressionInfo(
    classOf[RollingHash].getName, "rolling_hash")

  /** Idempotently register `rolling_hash` on a live session. */
  def ensureRollingHash(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(rollingHashIdentifier)) {
      reg.registerFunction(rollingHashIdentifier, rollingHashInfo, rollingHashBuilder _)
    }
  }

  /** `minhash_bands(shingles, numHashes, bands)` SQL builder — the hash
    * counts must be literal ints (they size the kernel's state).
    */
  def minHashBandsBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3, "minhash_bands(shingles, numHashes, bands)")
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
      case _ => throw new IllegalArgumentException(s"$what must be an int literal")
    }
    MinHashBands(
      Cast(args(0), org.apache.spark.sql.types.ArrayType(StringType)),
      intLit(args(1), "numHashes"), intLit(args(2), "bands"))
  }

  val minHashBandsIdentifier: FunctionIdentifier = FunctionIdentifier("minhash_bands")
  val minHashBandsInfo: ExpressionInfo = new ExpressionInfo(
    classOf[MinHashBands].getName, "minhash_bands")

  /** Idempotently register `minhash_bands` on a live session. */
  def ensureMinHashBands(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(minHashBandsIdentifier)) {
      reg.registerFunction(minHashBandsIdentifier, minHashBandsInfo, minHashBandsBuilder _)
    }
  }

  /** `word_ngrams(text, n, distinct)` — n/distinct must be literals (they
    * parameterize the generated code). */
  def wordNgramsBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3, "word_ngrams(text, n, distinct)")
    val n = args(1) match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
      case _ => throw new IllegalArgumentException("n must be an int literal")
    }
    val d = args(2) match {
      case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
      case _ => throw new IllegalArgumentException("distinct must be a boolean literal")
    }
    WordNgrams(Cast(args(0), StringType), n, d)
  }

  val wordNgramsIdentifier: FunctionIdentifier = FunctionIdentifier("word_ngrams")
  val wordNgramsInfo: ExpressionInfo = new ExpressionInfo(
    classOf[WordNgrams].getName, "word_ngrams")

  /** Idempotently register `word_ngrams` on a live session. */
  def ensureWordNgrams(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(wordNgramsIdentifier)) {
      reg.registerFunction(wordNgramsIdentifier, wordNgramsInfo, wordNgramsBuilder _)
    }
  }

  /** `cuts_bucket(value, cuts)` SQL builder: double value, ascending
    * `array<double>` cut points (the equi-depth bucket key kernel). */
  def cutsBucketBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "cuts_bucket(value, cuts)")
    CutsBucket(Cast(args(0), org.apache.spark.sql.types.DoubleType),
      Cast(args(1), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
  }

  val cutsBucketIdentifier: FunctionIdentifier = FunctionIdentifier("cuts_bucket")
  val cutsBucketInfo: ExpressionInfo = new ExpressionInfo(
    classOf[CutsBucket].getName, "cuts_bucket")

  /** Idempotently register `cuts_bucket` on a live session. */
  def ensureCutsBucket(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(cutsBucketIdentifier)) {
      reg.registerFunction(cutsBucketIdentifier, cutsBucketInfo, cutsBucketBuilder _)
    }
  }

  // Spark SHIPS BloomFilterAggregate / BloomFilterMightContain (they power
  // the optimizer's automatic runtime-filter rewrite) but does not register
  // them as SQL functions — x12 registers them under graft_* names to make
  // the bloom semi-join prefilter pattern an explicit, user-callable
  // operator. No custom code: these are Spark's own codegen'd expressions.
  def bloomAggBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3, "graft_bloom_agg(longCol, estItems, numBits)")
    new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      args(0), args(1), args(2))
  }

  val bloomAggIdentifier: FunctionIdentifier = FunctionIdentifier("graft_bloom_agg")
  val bloomAggInfo: ExpressionInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
    "graft_bloom_agg")

  def bloomMightContainBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "graft_might_contain(bloom, longCol)")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))
  }

  val bloomMightContainIdentifier: FunctionIdentifier =
    FunctionIdentifier("graft_might_contain")
  val bloomMightContainInfo: ExpressionInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
    "graft_might_contain")

  /** Foldable-int lgK extraction shared by the theta builders. */
  private def thetaLgK(fn: String, e: Expression): Int = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    e match {
      case l if l.foldable && (l.dataType == IntegerType || l.dataType == LongType ||
          l.dataType == ShortType || l.dataType == ByteType) =>
        val v = l.eval()
        require(v != null, s"$fn lgK must not be NULL")
        val k = v.asInstanceOf[Number].intValue()
        require(k >= 4 && k <= 26, s"$fn lgK out of [4,26]: $k")
        k
      case other =>
        throw new IllegalArgumentException(
          s"$fn lgK must be a foldable integer, got $other")
    }
  }

  def thetaDistinctBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "theta_distinct(col, lgK)")
    ThetaDistinctAgg(args(0), thetaLgK("theta_distinct", args(1)))
      .toAggregateExpression()
  }

  def thetaSketchAggBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "theta_sketch_agg(col, lgK)")
    ThetaSketchAgg(args(0), thetaLgK("theta_sketch_agg", args(1)))
      .toAggregateExpression()
  }

  def thetaUnionAggBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "theta_union_agg(sketchBytes, lgK)")
    ThetaUnionAgg(args(0), thetaLgK("theta_union_agg", args(1)))
      .toAggregateExpression()
  }

  def thetaEstimateBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, "theta_estimate(sketchBytes)")
    ThetaEstimate(args(0))
  }

  def thetaIntersectBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "theta_intersect(a, b)")
    ThetaIntersect2(args(0), args(1))
  }

  def thetaUnion2Builder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "theta_union2(a, b)")
    ThetaUnion2(args(0), args(1))
  }

  def thetaAnotBBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "theta_anotb(a, b)")
    ThetaAnotB(args(0), args(1))
  }

  val thetaDistinctIdentifier: FunctionIdentifier =
    FunctionIdentifier("theta_distinct")
  val thetaDistinctInfo: ExpressionInfo = new ExpressionInfo(
    classOf[ThetaDistinctAgg].getName, "theta_distinct")
  val thetaSketchAggIdentifier: FunctionIdentifier =
    FunctionIdentifier("theta_sketch_agg")
  val thetaSketchAggInfo: ExpressionInfo = new ExpressionInfo(
    classOf[ThetaSketchAgg].getName, "theta_sketch_agg")
  val thetaUnionAggIdentifier: FunctionIdentifier =
    FunctionIdentifier("theta_union_agg")
  val thetaUnionAggInfo: ExpressionInfo = new ExpressionInfo(
    classOf[ThetaUnionAgg].getName, "theta_union_agg")
  val thetaEstimateIdentifier: FunctionIdentifier =
    FunctionIdentifier("theta_estimate")
  val thetaEstimateInfo: ExpressionInfo = new ExpressionInfo(
    classOf[ThetaEstimate].getName, "theta_estimate")
  val thetaIntersectIdentifier: FunctionIdentifier =
    FunctionIdentifier("theta_intersect")
  val thetaIntersectInfo: ExpressionInfo = new ExpressionInfo(
    classOf[ThetaIntersect2].getName, "theta_intersect")
  val thetaUnion2Identifier: FunctionIdentifier =
    FunctionIdentifier("theta_union2")
  val thetaUnion2Info: ExpressionInfo = new ExpressionInfo(
    classOf[ThetaUnion2].getName, "theta_union2")
  val thetaAnotBIdentifier: FunctionIdentifier =
    FunctionIdentifier("theta_anotb")
  val thetaAnotBInfo: ExpressionInfo = new ExpressionInfo(
    classOf[ThetaAnotB].getName, "theta_anotb")

  /** Idempotently register the theta family on a live session. */
  def ensureThetaDistinct(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(thetaDistinctIdentifier)) {
      reg.registerFunction(thetaDistinctIdentifier, thetaDistinctInfo,
        thetaDistinctBuilder _)
    }
    if (!reg.functionExists(thetaSketchAggIdentifier)) {
      reg.registerFunction(thetaSketchAggIdentifier, thetaSketchAggInfo,
        thetaSketchAggBuilder _)
    }
    if (!reg.functionExists(thetaUnionAggIdentifier)) {
      reg.registerFunction(thetaUnionAggIdentifier, thetaUnionAggInfo,
        thetaUnionAggBuilder _)
    }
    if (!reg.functionExists(thetaEstimateIdentifier)) {
      reg.registerFunction(thetaEstimateIdentifier, thetaEstimateInfo,
        thetaEstimateBuilder _)
    }
    if (!reg.functionExists(thetaIntersectIdentifier)) {
      reg.registerFunction(thetaIntersectIdentifier, thetaIntersectInfo,
        thetaIntersectBuilder _)
    }
    if (!reg.functionExists(thetaUnion2Identifier)) {
      reg.registerFunction(thetaUnion2Identifier, thetaUnion2Info,
        thetaUnion2Builder _)
    }
    if (!reg.functionExists(thetaAnotBIdentifier)) {
      reg.registerFunction(thetaAnotBIdentifier, thetaAnotBInfo,
        thetaAnotBBuilder _)
    }
  }

  /** Idempotently register the bloom pair on a live session. */
  def ensureBloom(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(bloomAggIdentifier)) {
      reg.registerFunction(bloomAggIdentifier, bloomAggInfo, bloomAggBuilder _)
    }
    if (!reg.functionExists(bloomMightContainIdentifier)) {
      reg.registerFunction(bloomMightContainIdentifier, bloomMightContainInfo,
        bloomMightContainBuilder _)
    }
  }

  /** `pq_encode(vecD, flatCodebook, m, k, sublen)` — codebook and shape
    * must be FOLDABLE literals: they are evaluated once here and live as
    * codegen reference objects, keeping the per-row expression unary.
    */
  def pqEncodeBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 5 && args.drop(1).forall(_.foldable),
      "pq_encode(vec, flatCodebook LITERAL, m LITERAL, k LITERAL, " +
        "sublen LITERAL)")
    val flat = args(1).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()
    PqEncode(args(0), flat,
      args(2).eval().asInstanceOf[Int],
      args(3).eval().asInstanceOf[Int],
      args(4).eval().asInstanceOf[Int])
  }

  val pqEncodeIdentifier: FunctionIdentifier = FunctionIdentifier("pq_encode")
  val pqEncodeInfo: ExpressionInfo = new ExpressionInfo(
    classOf[PqEncode].getName, "pq_encode")

  def ensurePqEncode(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(pqEncodeIdentifier)) {
      reg.registerFunction(pqEncodeIdentifier, pqEncodeInfo,
        pqEncodeBuilder _)
    }
  }

  /** `pq_encode_res(residual, base, flatCodebook, m, k, sublen)` — the
    * residual-encoding variant; codebook and shape must be foldable.
    */
  def pqEncodeResBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 6 && args.drop(2).forall(_.foldable),
      "pq_encode_res(residual, base, flatCodebook LITERAL, m LITERAL, " +
        "k LITERAL, sublen LITERAL)")
    val flat = args(2).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()
    PqEncodeRes(args(0), args(1), flat,
      args(3).eval().asInstanceOf[Int],
      args(4).eval().asInstanceOf[Int],
      args(5).eval().asInstanceOf[Int])
  }

  val pqEncodeResIdentifier: FunctionIdentifier =
    FunctionIdentifier("pq_encode_res")
  val pqEncodeResInfo: ExpressionInfo = new ExpressionInfo(
    classOf[PqEncodeRes].getName, "pq_encode_res")

  def ensurePqEncodeRes(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(pqEncodeResIdentifier)) {
      reg.registerFunction(pqEncodeResIdentifier, pqEncodeResInfo,
        pqEncodeResBuilder _)
    }
  }

  /** `pq_adc(codes, lut, k)` — k must be a foldable literal. */
  def pqAdcBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3 && args(2).foldable,
      "pq_adc(codes, lut, k LITERAL)")
    PqAdc(args(0), args(1), args(2).eval().asInstanceOf[Int])
  }

  val pqAdcIdentifier: FunctionIdentifier = FunctionIdentifier("pq_adc")
  val pqAdcInfo: ExpressionInfo = new ExpressionInfo(
    classOf[PqAdc].getName, "pq_adc")

  def ensurePqAdc(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(pqAdcIdentifier)) {
      reg.registerFunction(pqAdcIdentifier, pqAdcInfo, pqAdcBuilder _)
    }
  }

  /** `bucket_rank(x, bounds)` — bounds must be a foldable literal. */
  def bucketRankBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2 && args(1).foldable,
      "bucket_rank(x, bounds LITERAL)")
    val bounds = args(1).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()
    BucketRank(Cast(args(0), org.apache.spark.sql.types.DoubleType), bounds)
  }

  val bucketRankIdentifier: FunctionIdentifier =
    FunctionIdentifier("bucket_rank")
  val bucketRankInfo: ExpressionInfo = new ExpressionInfo(
    classOf[BucketRank].getName, "bucket_rank")

  def ensureBucketRank(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(bucketRankIdentifier)) {
      reg.registerFunction(bucketRankIdentifier, bucketRankInfo,
        bucketRankBuilder _)
    }
  }
}

/** Direct-path SQL for the lake table — `SELECT … FROM
  * gentable.`/table/dir`` (VERDICT r16 #1): resolves the two-part
  * identifier whose qualifier is the `gentable` format into the
  * generation-resolved relation ([[graft.sources.GenTableSource
  * .relation]] — the same resolution `spark.read.format("gentable")`
  * and `CREATE TABLE … USING gentable` flow through). A custom rule is
  * REQUIRED for this syntax: the built-in ResolveSQLOnFile admits only
  * FileFormat/FileTable-classed sources and throws
  * UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY for everything else —
  * Delta's connector ships the same shape of analyzer rule for
  * delta.`path`. Injected as a HINT-batch resolution rule so it runs
  * BEFORE ResolveSQLOnFile can throw (extendedResolutionRules append
  * after it in the same batch, too late).
  */
case class ResolveGenTablePath(spark: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    // top-DOWN: the MERGE case must see its target while it is still
    // the raw two-part identifier — bottom-up would rewrite the
    // UnresolvedRelation out from under it first
    plan.resolveOperatorsDown {
      // MERGE INTO gentable.`dir` FIRST: Spark has no V1 MERGE
      // execution, so the statement must become the gentable command
      // before either the V2 rejection or the path-relation rewrite
      // below can touch its target (graft.sources.GenTableMerge)
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
          if graft.sources.GenTableMerge.isGenTarget(spark, m) =>
        graft.sources.GenTableMerge.translate(spark, m).get
      // the other DML verbs (VERDICT r17 #1) — like MERGE, each must
      // become its gentable command while the target is still the raw
      // identifier; since r19 the target may also be a one-/two-part
      // name resolving through the session catalog to a table whose
      // provider is gentable (graft.sources.GenTableMerge.genTarget)
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
          if graft.sources.GenTableDml.isDelete(spark, d) =>
        graft.sources.GenTableDml.translateDelete(spark, d)
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable
          if graft.sources.GenTableDml.isUpdate(spark, u) =>
        graft.sources.GenTableDml.translateUpdate(spark, u)
      case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement
          if graft.sources.GenTableDml.isInsert(spark, i) =>
        graft.sources.GenTableDml.translateInsert(spark, i)
      // ALTER TABLE … ADD COLUMN(S) (r19): schema widening as a
      // statement — one minimal-partition rewrite carries the widened
      // footer (the q92i evolve-read path without crafting a merge)
      case a: org.apache.spark.sql.catalyst.plans.logical.AddColumns
          if graft.sources.GenTableDml.isAddColumns(spark, a) =>
        graft.sources.GenTableDml.translateAddColumns(spark, a)
      // native time-travel syntax: VERSION AS OF / TIMESTAMP AS OF —
      // must resolve before the bare-relation rewrite below strips the
      // travel clause's target; catalog names resolve here too (r19)
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
          if graft.sources.GenTableDml.isTimeTravel(spark, tt) =>
        graft.sources.GenTableDml.translateTimeTravel(spark, tt)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.length == 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("gentable") =>
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          graft.sources.GenTableSource.relation(spark,
            Map("path" -> u.multipartIdentifier(1))),
          isStreaming = false)
    }
}

/** `spark.sql.extensions=graft.ext.GraftExtensions` wires both halves into
  * any session; tests also register on a live session directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (GraftFunctions.identifier, GraftFunctions.info,
        GraftFunctions.eurConvertBuilder _))
    ext.injectFunction(
      (GraftFunctions.vecDotIdentifier, GraftFunctions.vecDotInfo,
        GraftFunctions.vecDotBuilder _))
    ext.injectFunction(
      (GraftFunctions.vecDotDIdentifier, GraftFunctions.vecDotDInfo,
        GraftFunctions.vecDotDBuilder _))
    ext.injectFunction(
      (GraftFunctions.dequantSymIdentifier, GraftFunctions.dequantSymInfo,
        GraftFunctions.dequantSymBuilder _))
    ext.injectFunction(
      (GraftFunctions.quant8SymIdentifier, GraftFunctions.quant8SymInfo,
        GraftFunctions.quant8SymBuilder _))
    ext.injectFunction(
      (GraftFunctions.simHashSigIdentifier, GraftFunctions.simHashSigInfo,
        GraftFunctions.simHashSigBuilder _))
    ext.injectFunction(
      (GraftFunctions.simHashTablesIdentifier, GraftFunctions.simHashTablesInfo,
        GraftFunctions.simHashTablesBuilder _))
    ext.injectFunction(
      (GraftFunctions.minHashBandsIdentifier, GraftFunctions.minHashBandsInfo,
        GraftFunctions.minHashBandsBuilder _))
    ext.injectFunction(
      (GraftFunctions.rollingHashIdentifier, GraftFunctions.rollingHashInfo,
        GraftFunctions.rollingHashBuilder _))
    ext.injectFunction(
      (GraftFunctions.simHashBucketIdentifier, GraftFunctions.simHashBucketInfo,
        GraftFunctions.simHashBucketBuilder _))
    ext.injectFunction(
      (GraftFunctions.wordNgramsIdentifier, GraftFunctions.wordNgramsInfo,
        GraftFunctions.wordNgramsBuilder _))
    ext.injectFunction(
      (GraftFunctions.thetaDistinctIdentifier, GraftFunctions.thetaDistinctInfo,
        GraftFunctions.thetaDistinctBuilder _))
    ext.injectFunction(
      (GraftFunctions.thetaSketchAggIdentifier, GraftFunctions.thetaSketchAggInfo,
        GraftFunctions.thetaSketchAggBuilder _))
    ext.injectFunction(
      (GraftFunctions.thetaUnionAggIdentifier, GraftFunctions.thetaUnionAggInfo,
        GraftFunctions.thetaUnionAggBuilder _))
    ext.injectFunction(
      (GraftFunctions.thetaEstimateIdentifier, GraftFunctions.thetaEstimateInfo,
        GraftFunctions.thetaEstimateBuilder _))
    ext.injectFunction(
      (GraftFunctions.thetaIntersectIdentifier, GraftFunctions.thetaIntersectInfo,
        GraftFunctions.thetaIntersectBuilder _))
    ext.injectFunction(
      (GraftFunctions.thetaUnion2Identifier, GraftFunctions.thetaUnion2Info,
        GraftFunctions.thetaUnion2Builder _))
    ext.injectFunction(
      (GraftFunctions.thetaAnotBIdentifier, GraftFunctions.thetaAnotBInfo,
        GraftFunctions.thetaAnotBBuilder _))
    ext.injectFunction(
      (GraftFunctions.bloomAggIdentifier, GraftFunctions.bloomAggInfo,
        GraftFunctions.bloomAggBuilder _))
    ext.injectFunction(
      (GraftFunctions.bloomMightContainIdentifier, GraftFunctions.bloomMightContainInfo,
        GraftFunctions.bloomMightContainBuilder _))
    ext.injectFunction(
      (GraftFunctions.cutsBucketIdentifier, GraftFunctions.cutsBucketInfo,
        GraftFunctions.cutsBucketBuilder _))
    ext.injectFunction(
      (GraftFunctions.pqEncodeIdentifier, GraftFunctions.pqEncodeInfo,
        GraftFunctions.pqEncodeBuilder _))
    ext.injectFunction(
      (GraftFunctions.pqEncodeResIdentifier, GraftFunctions.pqEncodeResInfo,
        GraftFunctions.pqEncodeResBuilder _))
    ext.injectFunction(
      (GraftFunctions.pqAdcIdentifier, GraftFunctions.pqAdcInfo,
        GraftFunctions.pqAdcBuilder _))
    ext.injectFunction(
      (GraftFunctions.bucketRankIdentifier, GraftFunctions.bucketRankInfo,
        GraftFunctions.bucketRankBuilder _))
    ext.injectOptimizerRule(_ => EliminateIdentityConvert)
    ext.injectHintResolutionRule(ResolveGenTablePath)
    // a broadcast of driver-held rows (the day's rates) launches no job
    ext.injectColumnar(_ =>
      new org.apache.spark.sql.execution.DriverLocalBroadcastRule)
    // OPTIMIZE / VACUUM maintenance verbs (r19) — everything else
    // delegates to Spark's parser verbatim
    ext.injectParser((session, delegate) => GraftSqlParser(session, delegate))
  }
}
