package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up for bench pins beyond the driver's sf0.1
  * (VERDICT r9 #3): derive an sfK-equivalent directory from sf0.1 by
  * replicating every SCALING table `copies` times with per-copy key
  * offsets, so a 10-copy derivation is the sf1 point on the same schema.
  * Bench-only — correctness stays on the driver's own fixtures.
  *
  * Fidelity rules (what makes the derived data behave like bigger data
  * rather than 10 pasted copies):
  *  - Fixed-size dims (region, nation) are NOT replicated — TPC-H keeps
  *    them constant across scale factors, and so do the fixtures.
  *  - Every surrogate/foreign key shifts by `copy × rowcount(sf0.1 table)`
  *    (keys are dense 0..N-1), so referential integrity and join
  *    selectivity are preserved copy-by-copy and keys never collide.
  *  - Document TEXT is passed through a per-copy frequent-letter
  *    permutation (`translate`, length-preserving): within a copy the
  *    shingle/near-dup structure is EXACTLY the fixture's, while
  *    cross-copy token sets diverge — without this, every fixture dup
  *    cluster would become a `copies×` bigger cluster and the LSH
  *    candidate-pair volume would grow quadratically in `copies`,
  *    which is a property of pasting, not of larger corpora.
  *  - EMBEDDINGS get a per-copy coordinate rotation + deterministic sign
  *    flips — an orthogonal transform, so all within-copy inner products
  *    (and thus q47/x01/x08's cosine structure) are bit-preserved up to
  *    float addition order, while cross-copy cosines decorrelate instead
  *    of duplicating every near-dup pair `copies×`.
  *  - Timestamps are NOT shifted: the same time span at `copies×` event
  *    density is the realistic shape of a bigger deployment (windows get
  *    denser, not more numerous).
  *
  *   SPARK_GRAFT_SCALE_COPIES=10 sbt "runMain graft.ScaleUp"   # → target/sf1
  */
object ScaleUp {

  /** Per-copy letter permutation: two COMPOSED rotations over disjoint
    * frequent-letter alphabets with coprime cycle lengths (8 and 13), so
    * every copy < lcm(8,13) = 104 gets a DISTINCT permutation. A single
    * 7-letter rotation (the first-cut form) aliased copies ≡ 0 (mod 7)
    * back to the identity — cross-copy EXACT duplicates, which is
    * precisely the pasted-corpus artifact this perturbation exists to
    * avoid: dup-cluster sizes would grow as copies/7 and pair counts
    * quadratically in that. Identity for copy 0 (the fixture itself
    * survives verbatim); length-preserving for all copies.
    */
  private def perturbText(c: Column, copy: Int): Column = {
    val a1 = "etaoinsh" // 8-cycle
    val a2 = "rdlcumwfgypbv" // 13-cycle, disjoint from a1
    def rot(s: String, k: Int) = s.drop(k) + s.take(k)
    if (copy == 0) c
    else {
      val from = a1 + a2
      val to = rot(a1, copy % a1.length) + rot(a2, copy % a2.length)
      translate(c, from, to)
    }
  }

  /** Per-copy orthogonal transform: rotate coordinates by `copy` and flip
    * signs from a deterministic per-copy pattern. Orthogonal ⇒ within-copy
    * cosines are preserved; cross-copy cosines scramble toward 0.
    */
  private def perturbVec(c: Column, copy: Int, dim: Int): Column = {
    if (copy == 0) c
    else {
      val k = copy % dim
      val rotated =
        if (k == 0) c
        else concat(slice(c, k + 1, dim - k), slice(c, 1, k))
      // signs from a tiny splitmix-ish integer hash of (copy, index):
      // deterministic, no RNG state, same for every row of the copy
      val signs = array((0 until dim).map { i =>
        val h = (copy * 0x9E3779B9L + i * 0x85EBCA6BL)
        lit(if (((h ^ (h >>> 13)) & 1L) == 0L) 1.0f else -1.0f)
      }: _*)
      zip_with(rotated, signs, (x, s) => (x * s).cast("float"))
    }
  }

  /** One scaled table: the union of `copies` key-shifted (and, for text /
    * vector payloads, decorrelated) images of the sf0.1 table.
    */
  private def scaled(spark: SparkSession, src: String, table: String,
      copies: Int)(transform: (DataFrame, Int, Long) => DataFrame): DataFrame = {
    val base = spark.read.parquet(s"$src/$table.parquet")
    val stride = base.count()
    (0 until copies).map(k => transform(base, k, stride)).reduce(_ union _)
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "target/sf1")
    // SPARK_GRAFT_SCALE_HOT=90 → skewed derivation: 90% of each extra
    // copy's fact rows route their FK/value mass onto copy-0's key space
    // (see [[derive]]'s hotPct doc). 0 (default) = the uniform derivation.
    val hotPct = sys.env.getOrElse("SPARK_GRAFT_SCALE_HOT", "0").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus)
    derive(spark, src, out, copies, hotPct)
    println(s"""{"metric":"scaleup","copies":$copies,"hot":$hotPct,"src":"$src","out":"$out"}""")
    spark.stop()
  }

  /** The whole derivation, callable from specs (ScaleUpSpec pins the
    * fidelity contract the header documents).
    *
    * SKEW MODE (`hotPct` > 0, VERDICT r11 #5): the uniform copy-shift
    * preserves relative key frequencies but cannot create NEW hot-key
    * mass — and this round's own measurements (skyline equi-width 237.9 s
    * vs equi-depth 21.0 s; salted join 2.5–8.6×) prove skew flips
    * winners. With hotPct = p, each extra copy (k ≥ 1) routes p% of its
    * fact rows — selected by a deterministic key hash — back onto
    * COPY-0's key space instead of their own shifted keys:
    *   - orders: o_custkey unshifted (hot customers → hot nations →
    *     hot currencies for the as-of family);
    *   - lineitem: l_orderkey / l_suppkey unshifted (join fan-in), and
    *     l_extendedprice squashed into a narrow value band (the median /
    *     skyline / winsorize axis concentrates — the q90c regime);
    *   - orders o_totalprice: same band squash (q34's axis);
    *   - events: user_id unshifted (sessionize hot users).
    * At copies = 10, p = 90 puts ~91% of fact mass on ~10% of the key
    * space (hot keys ≈ 9.1× their uniform weight) — a zipf-head shape.
    * PRIMARY keys stay unique (the invariant): single-column PKs always
    * shift, and lineitem's composite (l_orderkey, l_linenumber) shifts
    * l_linenumber for exactly the hot rows whose l_orderkey stays on
    * copy-0 (disjoint linenumber bands per copy — ADVICE r12), so the
    * derivation introduces NO cross-copy collisions; the fixture itself
    * does not enforce that composite key, and its own collisions are
    * inherited verbatim (distinct pairs scale exactly with copies —
    * spec-pinned). Dims are
    * untouched, so referential integrity holds (copy-0 targets exist).
    * Bench-only, like the uniform mode: the point is measuring which
    * plans survive the skewed regime, not oracle comparison.
    */
  def derive(spark: SparkSession, src: String, out: String, copies: Int,
      hotPct: Int = 0): Unit = {
    require(hotPct >= 0 && hotPct < 100, s"hotPct must be in [0,100): $hotPct")
    def off(c: String, k: Int, stride: Long): Column =
      col(c) + lit(k * stride)
    // deterministic per-row hot choice for copy k>0: murmur3 of the row's
    // primary key — stable across runs, independent of partitioning
    def hot(keyCol: String): Column = pmod(hash(col(keyCol)), lit(100)) < hotPct
    // FK shift that keeps p% of rows on the copy-0 target space
    def offSkew(c: String, k: Int, stride: Long, keyCol: String): Column =
      if (hotPct == 0 || k == 0) off(c, k, stride)
      else when(hot(keyCol), col(c)).otherwise(off(c, k, stride))
    // the complement: shift ONLY the hot rows — used for the second
    // component of lineitem's composite PK, whose first component
    // (l_orderkey) deliberately stays on copy-0 for hot rows. Shifting
    // l_linenumber for exactly those rows keeps (l_orderkey, l_linenumber)
    // unique: hot copies collide on neither component pair (linenumber
    // bands are disjoint per copy and copy-0's band is k=0), non-hot
    // copies are separated by the shifted orderkey (ADVICE r12).
    def offIfHot(c: String, k: Int, stride: Long, keyCol: String): Column =
      if (hotPct == 0 || k == 0) col(c)
      else when(hot(keyCol), off(c, k, stride)).otherwise(col(c))
    // value-band squash: hot rows concentrate in [500, 501) with the
    // fractional part kept for tie diversity — the 99%-head value regime
    // the q90c stress measured
    def squash(c: String, k: Int, keyCol: String): Column =
      if (hotPct == 0 || k == 0) col(c)
      else when(hot(keyCol), lit(500.0) + (col(c) - floor(col(c))))
        .otherwise(col(c))
    def write(df: DataFrame, table: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$table.parquet")

    // fixed dims: byte-for-byte pass-through
    Seq("region", "nation").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t, 1)
    }
    // strides of the FK targets, needed by the fact tables below
    val custN = spark.read.parquet(s"$src/customer.parquet").count()
    val suppN = spark.read.parquet(s"$src/supplier.parquet").count()
    val partN = spark.read.parquet(s"$src/part.parquet").count()
    val ordN  = spark.read.parquet(s"$src/orders.parquet").count()
    // user_id is dense from 0, so the stride is max+1 (1500 at sf0.1) —
    // derived, not hardcoded, so any source SF scales correctly
    val userStride = spark.read.parquet(s"$src/events.parquet")
      .agg(max(col("user_id"))).head().getLong(0) + 1L

    write(scaled(spark, src, "customer", copies) { (df, k, s) =>
      df.withColumn("c_custkey", off("c_custkey", k, s))
    }, "customer", math.max(1, copies / 5))
    write(scaled(spark, src, "supplier", copies) { (df, k, s) =>
      df.withColumn("s_suppkey", off("s_suppkey", k, s))
    }, "supplier", 1)
    write(scaled(spark, src, "part", copies) { (df, k, s) =>
      df.withColumn("p_partkey", off("p_partkey", k, s))
    }, "part", math.max(1, copies / 5))
    write(scaled(spark, src, "orders", copies) { (df, k, s) =>
      df.withColumn("o_custkey", offSkew("o_custkey", k, custN, "o_orderkey"))
        .withColumn("o_totalprice", squash("o_totalprice", k, "o_orderkey"))
        .withColumn("o_orderkey", off("o_orderkey", k, s)) // PK: last, always shifted
    }, "orders", copies)
    // composite-PK stride for skew mode: l_linenumber is small (≤ 7 in
    // TPC-H shape) — derived, not hardcoded, like the FK strides above.
    // Only skew mode consumes it (offIfHot is identity at hotPct == 0),
    // so the uniform path skips the extra lineitem scan (review r13).
    val lnStride =
      if (hotPct == 0) 0L
      else spark.read.parquet(s"$src/lineitem.parquet")
        .agg(max(col("l_linenumber"))).head().getAs[Number](0).longValue + 1L
    write(scaled(spark, src, "lineitem", copies) { (df, k, s) =>
      val lnType = df.schema("l_linenumber").dataType
      // l_linenumber FIRST: offIfHot/offSkew key the hot choice on the
      // ORIGINAL l_orderkey, which the l_orderkey rewrite below replaces
      df.withColumn("l_linenumber",
          offIfHot("l_linenumber", k, lnStride, "l_orderkey").cast(lnType))
        .withColumn("l_orderkey", offSkew("l_orderkey", k, ordN, "l_orderkey"))
        .withColumn("l_partkey", off("l_partkey", k, partN))
        .withColumn("l_suppkey", offSkew("l_suppkey", k, suppN, "l_suppkey"))
        .withColumn("l_extendedprice", squash("l_extendedprice", k, "l_orderkey"))
    }, "lineitem", copies * 2)
    write(scaled(spark, src, "events", copies) { (df, k, s) =>
      df.withColumn("user_id", offSkew("user_id", k, userStride, "event_id"))
        .withColumn("event_id", off("event_id", k, s)) // PK: always shifted
    }, "events", copies)
    write(scaled(spark, src, "documents", copies) { (df, k, s) =>
      df.withColumn("doc_id", off("doc_id", k, s))
        .withColumn("text", perturbText(col("text"), k))
    }, "documents", copies)
    val dim = spark.read.parquet(s"$src/embeddings.parquet")
      .select(size(col("embedding"))).head().getInt(0)
    write(scaled(spark, src, "embeddings", copies) { (df, k, s) =>
      df.withColumn("vec_id", off("vec_id", k, s))
        .withColumn("embedding", perturbVec(col("embedding"), k, dim))
    }, "embeddings", math.max(1, copies / 2))
  }
}
