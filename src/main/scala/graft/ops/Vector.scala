package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over the `embeddings` table (SURVEY.md §2.3 x01;
  * north-star similarity search).
  *
  * The hot dot-product kernel runs as the codegen'd [[graft.ext.VecDot]]
  * expression; [[dot]]/[[l2Norm]]/[[cosine]] remain as the portable
  * higher-order-function reference implementation (bit-identical results —
  * same IEEE operation order — pinned in ExtSpec). Per-row folds evaluate
  * left-to-right, so every cosine is bit-deterministic and x01 is
  * oracle-checkable despite being double-valued.
  *
  * Scale notes (100 TB):
  *  - brute-force top-k against a BROADCAST probe set is the right baseline:
  *    one linear scan, no shuffle until the per-probe top-k (which
  *    TakeOrdered-style reduces map-side via the row_number window on a
  *    probe-partitioned shuffle of only (probe, id, score) triples).
  *  - never materialize the corpus×corpus cross join; probes must be the
  *    small side. For probe sets too big to broadcast, use the SimHash
  *    bucket join (`simhashBucket`) to prune candidates first.
  */
object Vector {

  /** Σ aᵢ·bᵢ as double — elementwise product then left-to-right fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ as double. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** cos(a, b) given precomputed norms (avoid recomputing the corpus norm
    * once per probe). */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  // Native-kernel forms: the codegen'd graft.ext.VecDot expression instead
  // of the interpreted higher-order fold — bit-identical results (same IEEE
  // operation order, pinned in ExtSpec), one tight loop per row. Entry
  // points register the function idempotently on the input's session.
  private[graft] def nDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  private[graft] def nNorm(a: Column): Column = sqrt(nDot(a, a))
  private[graft] def nCos(a: Column, b: Column, na: Column, nb: Column): Column =
    nDot(a, b) / (na * nb)

  /** SimHash-style bucket id: sign bits of the vector against `bits`
    * deterministic pseudo-random hyperplanes (coordinates derived from
    * xxhash64 — reproducible across runs, no rand()). Near-identical
    * vectors land in the same bucket with high probability; use as a
    * pre-join prune when probes don't fit in a broadcast.
    */
  def simhashBucket(vec: Column, dim: Int, bits: Int = 8): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.ext.GraftFunctions.ensureSimHashBucket)
    call_function("simhash_bucket", vec, lit(dim), lit(bits))
  }

  /** The higher-order-function formulation of [[simhashBucket]] —
    * superseded by the one-pass native [[graft.ext.SimHashBucket]] kernel
    * (this form re-walks the vector once PER PLANE, `bits` interpreted
    * O(dim) folds per row; VERDICT r3 #5); retained so VectorSpec can pin
    * the two value-identical (a mismatch would silently shift every ANN
    * bucket and x06's recall).
    */
  private[graft] def hofSimhashBucket(vec: Column, dim: Int, bits: Int = 8): Column = {
    val planes = (0 until bits).map { p =>
      // hyperplane p coordinate i in [-1, 1): hash → uniform via modulus
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), lit(dim - 1)),
          (x, i) => x.cast("double") *
            ((pmod(xxhash64(lit(p), i), lit(2000001L)) - 1000000L)
              .cast("double") / 1000000.0)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    planes.reduce((a, b) => a + b)
  }

  /** Brute-force cosine top-k: for each probe row, the k nearest corpus
    * rows by cosine. Probes are broadcast; the corpus is scanned once.
    */
  def cosineTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(corpus.sparkSession)
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", nNorm(col("c_vec")))
    val p = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("p_vec"))
      .withColumn("p_norm", nNorm(col("p_vec")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("probe_id"))
      // zero-norm guard: cosine would be NaN, and Spark's descending sort
      // places NaN FIRST — a zero vector would outrank every real neighbor
      .filter(col("c_norm") > 0 && col("p_norm") > 0)
      .withColumn("cosine",
        nCos(col("c_vec"), col("p_vec"), col("c_norm"), col("p_norm")))
      .select(col("probe_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** x01_vector_cosine: top-10 cosine neighbors for a fixed probe set
    * (vec_id < 8). Oracle-checked: the DuckDB oracle folds the dot product
    * left-to-right exactly like [[dot]]'s sequential `aggregate`, and IEEE
    * mul/add/div/sqrt are correctly-rounded single operations — identical
    * operand order means bit-identical doubles in both engines.
    */
  def x01(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    cosineTopK(emb, emb.filter(col("vec_id") < 8))
      .orderBy("probe_id", "rank")
  }

  /** Brute-force restatement of [[x01]] for the DuckDB oracle — the same
    * fold order (0-prepended, left to right) the Spark kernel uses.
    */
  val x01Sql: String =
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y)) AS nrm
      |  FROM embeddings)
      |SELECT probe_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y) / (c.nrm * p.nrm) AS cosine,
      |         row_number() OVER (PARTITION BY p.vec_id
      |           ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |             list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))),
      |             (x, y) -> x + y) / (c.nrm * p.nrm) DESC, c.vec_id ASC) AS rank
      |  FROM v p, v c
      |  WHERE p.vec_id < 8 AND c.vec_id <> p.vec_id)
      |WHERE rank <= 10
      |ORDER BY probe_id, rank""".stripMargin

  /** LSH-bucketed approximate top-k — the scale path when the probe set is
    * too large to broadcast against a full corpus scan: both sides key by
    * SimHash bucket, the join touches only same-bucket (plus, with
    * `multiProbe`, Hamming-1-adjacent) candidates, and cosine is computed
    * per candidate instead of per corpus row. Trades recall for a
    * candidate set ~`2^-bits` of the corpus per probed bucket.
    */
  def annTopK(
      corpus: DataFrame,
      probes: DataFrame,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bits: Int = 4,
      k: Int = 10,
      multiProbe: Boolean = true,
      probeAll: Boolean = false): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(corpus.sparkSession)
    graft.ext.GraftFunctions.ensureSimHashBucket(corpus.sparkSession)
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", nNorm(col("c_vec")))
      .withColumn("bucket", simhashBucket(col("c_vec"), dim, bits))
    val p0 = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("p_vec"))
      .withColumn("p_norm", nNorm(col("p_vec")))
      .withColumn("home", simhashBucket(col("p_vec"), dim, bits))
    // probeAll: probe every one of the 2^bits buckets — the candidate set
    // becomes the whole corpus and the SAME bucketed join degenerates to
    // exact brute-force top-k (x06b's oracle-gate argument, the q71
    // all-cells-probed precedent); multi-probe: also search every bucket
    // one sign-flip away (Hamming 1)
    val p =
      if (probeAll) p0.withColumn("bucket",
        explode(array((0 until (1 << bits)).map(b => lit(b.toLong)): _*)))
      else if (!multiProbe) p0.withColumn("bucket", col("home"))
      else p0.withColumn("bucket",
        explode(array(col("home") +:
          (0 until bits).map(i => col("home").bitwiseXOR(lit(1L << i))): _*)))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.join(p, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .filter(col("c_norm") > 0 && col("p_norm") > 0) // NaN-cosine guard
      .withColumn("cosine",
        nCos(col("c_vec"), col("p_vec"), col("c_norm"), col("p_norm")))
      .select(col("probe_id"), col("neighbor_id"), col("cosine"))
      .distinct() // a candidate can surface via several probed buckets
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding near-duplicate pairs: same-bucket (plus Hamming-1) candidate
    * join, exact cosine verification at `minCosine` — the vector analog of
    * Text.minhashPairs, never all-pairs. Returns (id_a, id_b, cosine) with
    * id_a < id_b.
    */
  def cosinePairs(
      corpus: DataFrame,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bits: Int = 4,
      minCosine: Double = 0.95): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(corpus.sparkSession)
    graft.ext.GraftFunctions.ensureSimHashBucket(corpus.sparkSession)
    val v = corpus
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("norm", nNorm(col("vec")))
      .withColumn("home", simhashBucket(col("vec"), dim, bits))
    // near-identical vectors may still straddle a hyperplane: probe the
    // Hamming-1 neighborhood of one side so boundary pairs are not lost
    val a = v.withColumn("bucket",
        explode(array(col("home") +:
          (0 until bits).map(i => col("home").bitwiseXOR(lit(1L << i))): _*)))
      .select(col("bucket"), col("id").as("id_a"),
        col("vec").as("vec_a"), col("norm").as("norm_a"))
    val b = v.select(col("home").as("bucket"), col("id").as("id_b"),
      col("vec").as("vec_b"), col("norm").as("norm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("norm_a") > 0 && col("norm_b") > 0) // NaN-cosine guard
      .select(col("id_a"), col("id_b"),
        nCos(col("vec_a"), col("vec_b"), col("norm_a"), col("norm_b"))
          .as("cosine"))
      .distinct()
      .filter(col("cosine") >= minCosine)
  }

  /** Assign each point its `n` best cells — entirely map-side. The
    * centroids arrive as a driver-collected literal array (`nlist` rows;
    * the same bounded-small-side reasoning as a broadcast build, minus the
    * exchange), each with its norm pre-folded in the SAME IEEE order as
    * [[dot]] (float→double widening, left-to-right adds — bit-identical).
    * Per row: score all centroids inside one `transform`, order best-first,
    * keep `n`. NO shuffle and no row amplification — the round-5
    * formulation (`crossJoin(broadcast)` + per-id `row_number` window)
    * shuffled ~nlist copies of every vector-carrying row just to keep one:
    * ~16× the corpus in shuffle bytes at 100 TB (VERDICT r5 #1).
    *
    * Ordering matches the window form exactly — sim desc with NaN first
    * (Spark ranks NaN above every double in a desc sort), cell asc
    * tiebreak — pinned equal against the retained [[nearestCellShuffle]]
    * in VectorSpec.
    */
  private[graft] def nearestCells(
      points: DataFrame,
      cents: Seq[(Any, Seq[Float])],
      n: Int): DataFrame = {
    require(cents.nonEmpty, "IVF centroid set must be non-empty")
    graft.ext.GraftFunctions.ensureVecDot(points.sparkSession)
    val centArr = array(cents.map { case (cell, cvec) =>
      val nrm = math.sqrt(cvec.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      struct(lit(cell).as("cell"), typedLit(cvec).as("cvec"), lit(nrm).as("c_n"))
    }: _*)
    // ANSI-safe: a zero-norm point (or centroid) must not throw
    // DIVIDE_BY_ZERO — it scores NaN, which the comparator ranks first and
    // ties to the MINIMUM cell: a deterministic assignment for a vector
    // whose cosine is undefined everywhere (same guard in the shuffle form)
    val scored = transform(centArr, c => {
      val denom = col("p_n") * c.getField("c_n")
      struct(
        when(denom =!= 0, nDot(col("vec"), c.getField("cvec")) / denom)
          .otherwise(lit(Double.NaN)).as("sim"),
        c.getField("cell").as("cell"))
    })
    val bestFirst = (l: Column, r: Column) => {
      val (ls, rs) = (l.getField("sim"), r.getField("sim"))
      val (lc, rc) = (l.getField("cell"), r.getField("cell"))
      when(isnan(ls) && !isnan(rs), lit(-1))
        .when(!isnan(ls) && isnan(rs), lit(1))
        .when(ls > rs, lit(-1)).when(ls < rs, lit(1))
        .when(lc < rc, lit(-1)).when(lc > rc, lit(1))
        .otherwise(lit(0))
    }
    points
      .withColumn("p_n", nNorm(col("vec")))
      .withColumn("best", explode(slice(array_sort(scored, bestFirst), 1, n)))
      .select(points.columns.toIndexedSeq.map(col) :+ col("best.cell").as("cell")
        :+ col("best.sim").as("sim"): _*)
  }

  /** The round-5 shuffle formulation of [[nearestCells]]: crossJoin against
    * broadcast centroids, then a row_number window partitioned by id —
    * ~nlist× row amplification of vector-carrying rows through the window
    * exchange, which is exactly what the map-side form exists to avoid at
    * 100 TB. Retained as the executable reference the map-side kernel is
    * pinned value-equal against in VectorSpec (the same pairing idiom as
    * [[hofSimhashBucket]]).
    */
  private[graft] def nearestCellShuffle(
      points: DataFrame, cents: DataFrame, n: Int): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(points.sparkSession)
    val w = Window.partitionBy(col("id")).orderBy(desc("sim"), asc("cell"))
    points.withColumn("p_n", nNorm(col("vec")))
      .crossJoin(broadcast(cents.withColumn("c_n", nNorm(col("cvec")))))
      .withColumn("sim",
        when(col("p_n") * col("c_n") =!= 0,
            nCos(col("vec"), col("cvec"), col("p_n"), col("c_n")))
          .otherwise(lit(Double.NaN))) // ANSI-safe zero-norm guard
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= n)
      .drop("cvec", "r", "p_n", "c_n")
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN scale
    * path: a coarse quantizer of `nlist` centroids partitions the corpus
    * into cells; each probe searches only its `nprobe` nearest cells.
    *
    * The quantizer here is deterministic (centroids = the first `nlist`
    * corpus vectors, refined by one Lloyd step computed as a DataFrame
    * aggregate — no rand(), same result at any parallelism). Production
    * would iterate Lloyd to convergence on a sample; the search-side
    * plumbing (map-side assignment, cell-restricted candidate join,
    * per-probe top-k) is identical and is what matters at 100 TB: cell
    * assignment is zero-shuffle ([[nearestCells]]), each query touches
    * nprobe/nlist of the corpus, and the only corpus-weight movement is
    * the candidate join itself (broadcast when the probed cells are small).
    * This form re-assigns the corpus per call; when the corpus outlives
    * the query, [[ivfBuild]]/[[ivfSearch]] materialize the assignment as a
    * cell-partitioned index so a search reads only the probed cells. The
    * centroid collects below are nlist-row driver reads — index metadata,
    * not a data path.
    */
  def ivfTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nlist: Int = 16,
      nprobe: Int = 4,
      k: Int = 10,
      lloydIters: Int = 3): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(corpus.sparkSession)
    val c0 = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))

    val refined = seedCentroids(c0, nlist, lloydIters)
    // empty corpus: no centroids to quantize against — degrade to an empty
    // result (the round-5 crossJoin form's behavior), never a throw
    if (refined.isEmpty)
      return probes.select(col(idCol).as("probe_id"),
        col(idCol).as("neighbor_id"), lit(0.0).as("cosine"),
        lit(0).cast("int").as("rank")).limit(0)

    val assigned = nearestCells(c0, refined, 1)
      .select(col("cell"), col("id").as("neighbor_id"), col("vec").as("c_vec"))
      .withColumn("c_norm", nNorm(col("c_vec")))

    val p = nearestCells(
      probes.select(col(idCol).as("id"), col(vecCol).as("vec")), refined, nprobe)
      .select(col("cell"), col("id").as("probe_id"), col("vec").as("p_vec"))
      .withColumn("p_norm", nNorm(col("p_vec")))

    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    assigned.join(p, Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .filter(col("c_norm") > 0 && col("p_norm") > 0) // NaN-cosine guard
      .withColumn("cosine",
        nCos(col("c_vec"), col("p_vec"), col("c_norm"), col("p_norm")))
      // no distinct: nearestCells(c0, _, 1) puts each corpus vector in
      // exactly ONE cell, so the join on `cell` surfaces a
      // (probe, neighbor) pair at most once — a distinct here would
      // shuffle the whole candidate set for nothing
      .select(col("probe_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic k-means‖-style centroid seeding + `lloydIters` Lloyd
    * refinements — the quantizer shared by [[ivfTopK]] and [[ivfBuild]]
    * (ONE implementation so the two paths assign, and therefore search,
    * identically; pinned bit-exact in VectorSpec).
    *
    * Round-10 upgrade (VERDICT r9 #5): the old seeds were the first
    * `nlist` corpus vectors by id — deterministic but clustering-quality
    * poor on clustered corpora (ids carry no geometry; adjacent ids can
    * seed the same cluster, silently degrading nprobe<nlist recall).
    * Now:
    *  1. ONE corpus pass takes a hash-ordered candidate sample
    *     (`xxhash64(id)` order — deterministic at any parallelism, no
    *     rand(); TakeOrdered, never a full sort) of 8·nlist vectors;
    *  2. greedy FARTHEST-POINT over the sample, driver-side (the sample
    *     is index metadata — ≤ 8·nlist rows): start from the sample's
    *     hash-first vector, repeatedly add the candidate maximizing its
    *     min cosine distance to the chosen set, ties by sample order —
    *     the standard k-means++/k-means‖ maximal-spread heuristic, made
    *     deterministic by replacing the D²-sampling with its argmax;
    *  3. `lloydIters` Lloyd steps as DataFrame aggregates (order-
    *     independent decimal sums — see [[lloydStep]]), one corpus pass
    *     each.
    *
    * At 100 TB: step 1 reads id+vec only, step 2 is O(nlist²·dim) on the
    * driver, step 3 is the same aggregate the old path ran once — the
    * seeding cost is `lloydIters` extra corpus passes at BUILD time,
    * bought back at every nprobe<nlist search by the recall the spread
    * seeds preserve (floor pinned in VectorSpec).
    */
  private[graft] def seedCentroids(
      c0: DataFrame, nlist: Int, lloydIters: Int): Seq[(Any, Seq[Float])] = {
    val sample = c0
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(math.max(8 * nlist, 64))
      .collect().toSeq
      .map(r => (r.get(0), r.getSeq[Float](1)))
      .filter(_._2 != null)
    if (sample.isEmpty) return Nil

    def norm(v: Seq[Float]): Double =
      math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x))
    // zero-norm vectors have no direction — exclude them from seeding
    // (they still assign to SOME cell at search time, as before)
    val pool = {
      val nz = sample.map { case (id, v) => (id, v, norm(v)) }
        .filter(_._3 > 0)
      if (nz.nonEmpty) nz else sample.map { case (id, v) => (id, v, 1.0) }
    }
    def cosDist(a: (Any, Seq[Float], Double), b: (Any, Seq[Float], Double)): Double = {
      val n = math.min(a._2.length, b._2.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a._2(i).toDouble * b._2(i); i += 1 }
      1.0 - s / (a._3 * b._3)
    }
    val chosen = scala.collection.mutable.ArrayBuffer(pool.head)
    val minDist = scala.collection.mutable.ArrayBuffer.from(
      pool.map(cosDist(_, pool.head)))
    while (chosen.size < math.min(nlist, pool.size)) {
      var best = -1
      var bestD = Double.NegativeInfinity
      var i = 0
      while (i < pool.size) {
        if (minDist(i) > bestD) { bestD = minDist(i); best = i }
        i += 1
      }
      val next = pool(best)
      chosen += next
      minDist(best) = Double.NegativeInfinity // never re-chosen
      var j = 0
      while (j < pool.size) {
        if (minDist(j) > Double.NegativeInfinity) {
          val d = cosDist(pool(j), next)
          if (d < minDist(j)) minDist(j) = d
        }
        j += 1
      }
    }
    var seeds: Seq[(Any, Seq[Float])] = chosen.toSeq.map(t => (t._1, t._2))
    var it = 0
    while (it < lloydIters) {
      seeds = lloydStep(c0, seeds)
        .collect().toSeq.map(r => (r.get(0), r.getSeq[Float](1)))
      it += 1
    }
    seeds
  }

  /** One Lloyd refinement step over seed centroids: elementwise mean of
    * each cell's vectors. Summed as exact decimals per (cell, position) so
    * the result is independent of row order (float addition is not
    * associative; collect_list order is not deterministic), then
    * reassembled position-sorted. Returns a (cell, cvec) DataFrame of
    * `seeds.size` rows. Shared verbatim by the per-call quantizer
    * ([[ivfTopK]]) and the materialized index builder ([[ivfBuild]]) so
    * the two paths assign — and therefore search — identically.
    */
  private[graft] def lloydStep(
      c0: DataFrame, seeds: Seq[(Any, Seq[Float])]): DataFrame =
    nearestCells(c0, seeds, 1)
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg((sum(col("x").cast("decimal(27,10)")) / count(lit(1)))
        .cast("float").as("m"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cvec"))

  /** Build a MATERIALIZED IVF index under `indexDir` — the structural fix
    * for [[ivfTopK]]'s per-query rebuild: the corpus-wide cell assignment
    * (the only corpus-sized stage of IVF) runs ONCE here, and
    * [[ivfSearch]] afterwards touches nothing but the probed cells.
    *
    * Layout:
    *  - `indexDir/centroids`: the (cell, cvec) quantizer, `nlist` rows —
    *    index metadata, read whole by every search.
    *  - `indexDir/postings`: (neighbor_id, c_vec, c_norm) DIRECTORY-
    *    PARTITIONED by cell. Directory partitioning (not bucketing) is the
    *    right persistence for IVF: a search probes `nprobe` named cells,
    *    which a partition-pruned scan turns into reading nprobe/nlist of
    *    the index ON DISK — bucketing would only co-locate a shuffle join
    *    that [[ivfSearch]] never does (probes broadcast). Corpus norms are
    *    precomputed at build so the search plan does no corpus-sized
    *    arithmetic besides the candidate cosines themselves.
    *
    * Cell partition values carry a "c" prefix so Spark's partition-column
    * type inference always reads them back as strings regardless of the
    * caller's id type (pruning literals then match exactly); the NUMERIC
    * cell survives in `centroids`, so assignment tiebreaks stay identical
    * to [[ivfTopK]]'s.
    */
  def ivfBuild(
      corpus: DataFrame,
      indexDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nlist: Int = 16,
      lloydIters: Int = 3,
      centroids: Option[Seq[(Any, Seq[Float])]] = None): Unit = {
    val spark = corpus.sparkSession
    graft.ext.GraftFunctions.ensureVecDot(spark)
    val c0 = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // `centroids` lets a caller rebuild postings under a FROZEN quantizer
    // (compaction after many ivfAppend deltas, or the append≡build spec
    // pin) without re-paying — or re-randomizing — the training pass
    val refined = centroids.getOrElse(seedCentroids(c0, nlist, lloydIters))
    require(refined.nonEmpty, "cannot build an IVF index over an empty corpus")
    // persist the already-collected quantizer rather than re-running
    // the Lloyd aggregates
    IvfStore.build(spark, indexDir) { path =>
      writeCentroids(spark, indexDir, refined, c0.schema("id").dataType)
      ivfPostingsOf(c0, refined).write.mode("overwrite").partitionBy("cell")
        .parquet(path("postings"))
    }
  }

  /** Persist a quantizer (nlist rows — index metadata) at
    * `indexDir/centroids`, the cell column in the caller's id type.
    */
  private[ops] def writeCentroids(spark: SparkSession, indexDir: String,
      cents: Seq[(Any, Seq[Float])],
      idType: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          cents.toIndexedSeq.map(t => org.apache.spark.sql.Row(t._1, t._2)),
          1),
        StructType(Seq(StructField("cell", idType),
          StructField("cvec", ArrayType(FloatType)))))
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** The stored quantizer [[writeCentroids]] persisted. */
  private[ops] def readCentroids(spark: SparkSession,
      indexDir: String): Seq[(Any, Seq[Float])] =
    spark.read.parquet(s"$indexDir/centroids")
      .collect().toSeq.map(r => (r.get(0), r.getSeq[Float](1)))

  /** The postings rows of a (id, vec) frame under quantizer `cents`. */
  private def ivfPostingsOf(c0: DataFrame,
      cents: Seq[(Any, Seq[Float])]): DataFrame =
    nearestCells(c0, cents, 1)
      .select(concat(lit("c"), col("cell").cast("string")).as("cell"),
        col("id").as("neighbor_id"), col("vec").as("c_vec"))
      .withColumn("c_norm", nNorm(col("c_vec")))

  /** The compaction of a cell-partitioned table (IVF and IVF-PQ): alive
    * rows, one file per cell.
    */
  private[ops] def cellFold(spark: SparkSession, dir: String,
      table: String): graft.sources.StandingStore.Fold =
    graft.sources.StandingStore.Fold(
      graft.sources.StandingStore.alive(spark, dir, table, "neighbor_id")
        .repartition(col("cell")), "cell")

  /** The IVF index's lifecycle: one postings table, tombstone deletes. */
  private val IvfStore = graft.sources.StandingStore("IVF index",
    "ivfBuild", Seq("postings"),
    scanTables = Seq("postings", graft.sources.GenCommit.TombsTable),
    fold = cellFold)

  /** The postings' COMMITTED rows (generation = first partition level,
    * admitted by commit marker — a crashed or half-published append is
    * invisible AND, by partition pruning, unread; GenCommit migration
    * r14, closing the raw-append commit window the other two standing
    * indexes closed in r13). `asOfGen` pins the snapshot.
    */
  private def ivfPostings(spark: SparkSession, indexDir: String,
      asOfGen: Option[Long] = None): DataFrame =
    graft.sources.GenCommit.committedTable(spark, indexDir, "postings",
      asOfGen)

  /** Incremental IVF maintenance: assign ONLY the delta vectors against
    * the index's FROZEN stored quantizer and append them to the existing
    * cell partitions — the nightly-ingest shape (x21's precedent for
    * dedup). A full [[ivfBuild]] re-pays the corpus assignment pass on
    * every drop; at 100 TB that is a corpus-sized nightly job for a
    * delta-sized change. Here the only non-metadata work is one map-side
    * argmax + one partitioned write over the DELTA, so cost is
    * delta-proportional (Stress-probed, SCALE.md).
    *
    * Freezing the quantizer is what makes append ≡ build: searches probe
    * cells by the stored centroids, so as long as every vector — old or
    * new — is assigned under those same centroids, the postings are
    * exactly what `ivfBuild(A ∪ B, centroids = stored)` would write
    * (spec-pinned bit-exact in VectorSpec). Centroid drift under a large
    * accumulated delta degrades cell balance, not correctness; the
    * compaction move is a periodic rebuild with fresh seeding.
    *
    * Caller owns id-uniqueness across appends (as with any index); a
    * re-appended id would surface twice in search results.
    */
  def ivfAppend(
      spark: SparkSession,
      indexDir: String,
      delta: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    graft.ext.GraftFunctions.ensureVecDot(spark)
    val cents = readCentroids(spark, indexDir)
    require(cents.nonEmpty, s"no centroids at $indexDir — build first")
    // committed as a NEW GENERATION (not a raw directory append): a
    // crash mid-job-commit can no longer leave a partial delta VISIBLE
    // to searches — uncommitted generations are unread — and concurrent
    // appends are writer-fenced
    IvfStore.append(spark, indexDir) { path =>
      ivfPostingsOf(
          delta.select(col(idCol).as("id"), col(vecCol).as("vec")), cents)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(path("postings"))
    }
  }

  /** TOMBSTONE delete from the standing IVF index — remove vectors
    * without a rebuild (VERDICT r14 #1): one delta-proportional
    * generation holding only the removed ids (the shared `tombs` table);
    * the postings' cell partitions are never touched. Searches mask dead
    * rows by [[graft.sources.GenCommit.maskTombstones]]' later-generation
    * rule, so delete-then-re-append revives the vector (its new posting
    * row sits past the tombstone) and an `asOfGen` pin from before the
    * delete still sees it — both spec-pinned in VectorSpec. The frozen
    * quantizer is untouched (deleting training points does not move the
    * stored centroids — the ivfAppend drift argument applies verbatim);
    * [[ivfCompact]] folds tombstones into the posting rewrite and drops
    * the tombs table.
    */
  def ivfDelete(
      spark: SparkSession,
      indexDir: String,
      ids: DataFrame,
      idCol: String = "vec_id"): Unit =
    IvfStore.delete(spark, indexDir, ids, idCol)

  /** Small-file compaction for an appended IVF index — the third piece of
    * the index lifecycle (build → nightly [[ivfAppend]]s → periodic
    * compact). Every append lays new files into the cell partitions, so a
    * year of nightlies is ~365 files per cell and the search scan pays
    * per-file open/footer costs — the classic lake small-files problem.
    * This rewrites the postings ONE FILE PER CELL (repartition on the
    * partition column routes each cell to exactly one task) under the
    * same frozen quantizer; the quantizer/centroids are untouched so
    * searches before and after are bit-identical (spec-pinned).
    *
    * Crash-safe and single-writer: [[graft.sources.StandingStore]]'s
    * compaction, whose window argument covers every intermediate state;
    * [[ivfRecover]] heals an interrupted swap and runs here on entry.
    *
    * Deliberately NOT a re-cluster: cell membership is preserved
    * verbatim. Rebalancing a drifted quantizer is `ivfBuild` with fresh
    * seeding — a different, costlier operation with different semantics.
    */
  def ivfCompact(spark: SparkSession, indexDir: String): Unit =
    IvfStore.compact(spark, indexDir)

  /** Heal an IVF index whose [[ivfCompact]] swap was interrupted —
    * postings and commit set independently. Safe to run any time (no-op
    * + stray cleanup on a healthy index). The decision table lives in
    * [[graft.sources.SwapDir]]'s recover.
    */
  def ivfRecover(spark: SparkSession, indexDir: String): Unit =
    IvfStore.recover(spark, indexDir)

  /** Search a materialized IVF index ([[ivfBuild]]) — identical results to
    * [[ivfTopK]] at the same (nlist, nprobe, k) on the same corpus (pinned
    * in VectorSpec), but the search plan contains NO corpus-wide stage:
    * only the probes are assigned to cells (map-side, over the `nlist`-row
    * centroid literal), and the postings scan is PARTITION-PRUNED to the
    * probed cells — at 100 TB a query reads nprobe/nlist of the index and
    * nothing else. The two driver collects are index metadata (`nlist`
    * centroid rows) and the ≤ `nlist` distinct probed cell names that
    * become pruning literals — never corpus data.
    */
  def ivfSearch(
      spark: SparkSession,
      indexDir: String,
      probes: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nprobe: Int = 4,
      k: Int = 10,
      asOfGen: Option[Long] = None): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(spark)
    val cents = readCentroids(spark, indexDir)
    val p = nearestCells(
        probes.select(col(idCol).as("id"), col(vecCol).as("vec")), cents, nprobe)
      .select(concat(lit("c"), col("cell").cast("string")).as("cell"),
        col("id").as("probe_id"), col("vec").as("p_vec"))
      .withColumn("p_norm", nNorm(col("p_vec")))
    val probed = p.select("cell").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    // tombstone masking rides on the cell-pruned slice (no cost until a
    // delete exists) — a deleted vector can reach no candidate list
    val postings = graft.sources.GenCommit.maskTombstones(spark, indexDir,
      ivfPostings(spark, indexDir, asOfGen)
        .filter(col("cell").isin(probed: _*)),
      "neighbor_id", asOfGen)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    postings.join(broadcast(p), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .filter(col("c_norm") > 0 && col("p_norm") > 0) // NaN-cosine guard
      .withColumn("cosine",
        nCos(col("c_vec"), col("p_vec"), col("c_norm"), col("p_norm")))
      // no distinct: the index build assigns each vector to exactly ONE
      // cell (nearestCells(..., 1) in ivfBuild; ivfAppend freezes the
      // same quantizer), so a (probe, neighbor) pair can't repeat through
      // the cell join — a distinct would shuffle the candidate set
      .select(col("probe_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** x06_ann_simhash: the LSH-bucketed variant of x01 on the same probe
    * set — rows-only check; recall vs the brute-force baseline is pinned
    * in VectorSpec.
    */
  def x06(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annTopK(emb, emb.filter(col("vec_id") < 8), dim = 64)
      .orderBy("probe_id", "rank")
  }

  /** x06b_ann_simhash_gate: x06's EXACT twin through the identical
    * bucketed-join code path — probing ALL 2^bits buckets makes the
    * candidate set the whole corpus, so the SimHash plan's output equals
    * brute-force top-k and SHARES x01's oracle verbatim (VERDICT r11 #2b;
    * the q71 all-cells-probed precedent). This puts the sketch CODE PATH
    * (bucket kernel, explode, candidate join, dedup, rank window) under
    * the driver's hash gate; x06 itself stays the declared approximate
    * form whose recall floor VectorSpec pins.
    */
  def x06b(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annTopK(emb, emb.filter(col("vec_id") < 8), dim = 64, probeAll = true)
      .orderBy("probe_id", "rank")
  }

  /** x11_ann_ivf: the IVF (inverted-file) approximate top-k on the same
    * probe set as x01/x06 — rows-only check (ANN output is not
    * SQL-restatable); recall vs the brute-force baseline is pinned in
    * VectorSpec ("IVF top-k: recall beats the simhash path"). Cell
    * assignment is zero-shuffle (map-side argmax over the literal centroid
    * array) and each probe touches nprobe/nlist of the corpus — the 100 TB
    * similarity-search path when SimHash buckets (x06) are too coarse for
    * the embedding geometry.
    */
  def x11(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfTopK(emb, emb.filter(col("vec_id") < 8), nlist = 16, nprobe = 4)
      .orderBy("probe_id", "rank")
  }

  /** x11b_ann_ivf_gate: x11's EXACT twin through the identical on-the-fly
    * [[ivfTopK]] code path — probing ALL nlist cells (nprobe = nlist)
    * makes the candidate set the whole corpus: every corpus vector sits
    * in exactly one cell (nearestCells(..., 1)), every probe carries a
    * row for every cell, so the cell equi-join surfaces each
    * (probe, neighbor) pair exactly once and the plan's output equals
    * brute-force top-k — SHARES x01's oracle verbatim (the x06b/x20b
    * argument applied to the quantizer join; q71 gates the same regime
    * for the PERSISTED-index ivfSearch path, this twin gates the
    * in-memory quantize-assign-join pipeline x11 declares). x11 stays the
    * declared nprobe < nlist sketch whose recall floor VectorSpec pins;
    * at scale nprobe/nlist is the fraction of the corpus each probe
    * touches, which is the entire point of the IVF shape.
    */
  def x11b(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfTopK(emb, emb.filter(col("vec_id") < 8), nlist = 16, nprobe = 16)
      .orderBy("probe_id", "rank")
  }

  /** x08_cosine_blocked: metadata-blocked pairwise cosine — every
    * same-`label` pair of embeddings with cosine ≥ 0.35 (this corpus has
    * no true near-dups; cosinePairs' 0.95 path is planted-pair tested).
    * Blocking is the standard scale pattern when candidate pairs must be
    * EXACT within a business partition (same customer, same shard, same
    * label): the pair source is an equi-join on the block key — a plain
    * hash join, never a cartesian — so cost is Σ (block size)², and a
    * block that outgrows quadratic reach is AUTOMATICALLY routed through
    * the same-block LSH candidate path ([[blockLshPairs]]; census +
    * broadcast split — maxBlockSide 10000 sits far above any label block
    * at driver SFs, so the declared query stays exact). Oracle-checked:
    * same fold order as x01 ⇒ bit-identical doubles.
    */
  def x08(spark: SparkSession, dir: String): DataFrame =
    blockedCosinePairs(Tables.embeddings(spark, dir),
        blockCol = "label", minCosine = 0.35)
      .orderBy("vec_id_a", "vec_id_b")

  /** The generic blocked form behind [[x08]]: exact pairwise cosine within
    * each `blockCol` group, pairs at or above `minCosine`, id_a < id_b.
    * Pairs NEVER cross blocks — that is the contract, not a shortcut.
    *
    * Oversized-block handoff (VERDICT r5 #6, previously documentation-only):
    * the equi-join's cost is Σ (block size)², so ONE hot block can turn the
    * operator quadratic. Blocks larger than `maxBlockSide` are therefore
    * routed AUTOMATICALLY through the same-block LSH candidate path
    * ([[blockLshPairs]]): a census aggregate on the bare block key (one
    * narrow-column pass, O(#blocks) rows) finds the oversized keys, the
    * expected-few keys broadcast into an anti/semi split, and only the
    * small side runs exact-quadratic. For the oversized side the candidate
    * set is same-(block, simhash bucket) with Hamming-1 multiprobe —
    * recall is probabilistic-high for NEAR-DUP thresholds (the operator's
    * use case) and intentionally not exact for low thresholds, where an
    * exact answer over a quadratic-infeasible block is itself
    * quadratic-sized. `dim`/`lshBits` only matter for blocks that trip the
    * handoff; pass the embedding dimension when they can. Callers whose
    * contract is exact-at-any-size (e.g. an oracle-gated query) must raise
    * `maxBlockSide` above their largest possible block — the handoff is a
    * recall trade, deliberately not silent-exact.
    */
  def blockedCosinePairs(
      corpus: DataFrame,
      blockCol: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      minCosine: Double = 0.95,
      maxBlockSide: Int = 10000,
      dim: Int = 64,
      lshBits: Int = 8): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(corpus.sparkSession)
    graft.ext.GraftFunctions.ensureSimHashBucket(corpus.sparkSession)
    val v = corpus
      .select(col(idCol).as("vec_id"), col(blockCol).as("block"), col(vecCol).as("vec"))
      .withColumn("nrm", nNorm(col("vec")))
      .filter(col("nrm") > 0) // NaN-cosine guard
    // census on the BARE block column of the raw corpus — a genuinely
    // narrow pruned scan, no per-row norm. Zero-norm rows count toward
    // block size, which only makes the handoff threshold conservative.
    val big = corpus.select(col(blockCol).as("block"))
      .groupBy("block").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBlockSide).select("block")
    val vSmall = v.join(broadcast(big), Seq("block"), "left_anti")
    val vBig = v.join(broadcast(big), Seq("block"), "left_semi")
    val a = vSmall.select(col("block"), col("vec_id").as("vec_id_a"),
      col("vec").as("va"), col("nrm").as("na"))
    val b = vSmall.select(col("block"), col("vec_id").as("vec_id_b"),
      col("vec").as("vb"), col("nrm").as("nb"))
    val smallPairs = a.join(b, Seq("block"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("cosine", nCos(col("va"), col("vb"), col("na"), col("nb")))
      .select(col("block"), col("vec_id_a"), col("vec_id_b"), col("cosine"))
    smallPairs.unionByName(blockLshPairs(vBig, dim, lshBits))
      .filter(col("cosine") >= minCosine)
      .select(col("vec_id_a"), col("vec_id_b"),
        col("block").as(blockCol), col("cosine"))
  }

  /** Same-block LSH candidate pairs (shared simhash bucket, Hamming-1
    * multiprobe on one side) with exact cosine attached, BEFORE the
    * threshold filter — the oversized-block path of [[blockedCosinePairs]],
    * factored out so tests can pin the candidate count itself (bounded by
    * bucket co-occupancy, never size²). Input: (block, vec_id, vec, nrm).
    */
  private[graft] def blockLshPairs(
      vBig: DataFrame, dim: Int, bits: Int): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(vBig.sparkSession)
    graft.ext.GraftFunctions.ensureSimHashBucket(vBig.sparkSession)
    val withHome = vBig.withColumn("home", simhashBucket(col("vec"), dim, bits))
    val a = withHome.withColumn("bucket",
        explode(array(col("home") +:
          (0 until bits).map(i => col("home").bitwiseXOR(lit(1L << i))): _*)))
      .select(col("block"), col("bucket"), col("vec_id").as("vec_id_a"),
        col("vec").as("va"), col("nrm").as("na"))
    val b = withHome.select(col("block"), col("home").as("bucket"),
      col("vec_id").as("vec_id_b"), col("vec").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("block", "bucket"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select(col("block"), col("vec_id_a"), col("vec_id_b"),
        nCos(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
      .distinct() // a pair can co-occupy several probed buckets
  }

  /** Brute-force restatement of [[x08]] for the DuckDB oracle — same
    * blocked join, same 0-prepended left-to-right fold as [[x01Sql]].
    */
  val x08Sql: String =
    """WITH v AS (
      |  SELECT vec_id, label, embedding,
      |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y)) AS nrm
      |  FROM embeddings)
      |SELECT vec_id_a, vec_id_b, label, cosine FROM (
      |  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.label AS label,
      |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
      |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE a.nrm > 0 AND b.nrm > 0)
      |WHERE cosine >= 0.35
      |ORDER BY vec_id_a, vec_id_b""".stripMargin

  /** q59_quantize: symmetric int8 scalar QUANTIZATION of embeddings —
    * the storage/ANN-prep step that shrinks a float32 corpus 4× before
    * indexing: per-vector scale = max|x|/127, code = round(x/scale) ∈
    * [-127, 127]. Pure map-side per-row array math, no shuffle but the
    * D1 ORDER BY, at any corpus size. Cross-engine exact: abs/max/divide
    * are single IEEE ops on identical doubles, and round() on doubles is
    * half-AWAY-FROM-ZERO in both Spark and DuckDB (verified; ties occur
    * whenever x/scale lands on .5 exactly). Codes serialize to a string
    * (driver cannot hash array columns — q31 precedent); zero vectors
    * quantize to all-zero with scale 0. The encode runs in the codegen'd
    * one-pass `quant8_sym` kernel (the portable HOF chain is interpreted
    * per element — on the full-corpus encode pass it IS the job at
    * scale), pinned bit/string-identical to that chain in ExtSpec.
    */
  def q59(spark: SparkSession, dir: String): DataFrame = {
    graft.ext.GraftFunctions.ensureQuant8Sym(spark)
    Tables.embeddings(spark, dir)
      .withColumn("q", call_function("quant8_sym", col("embedding")))
      .select(col("vec_id"), col("q.scale").as("scale"), col("q.q8").as("q8"))
      .orderBy("vec_id")
  }

  val q59Sql: String =
    """SELECT vec_id,
      |       mx / CAST(127 AS DOUBLE) AS scale,
      |       array_to_string(list_transform(embedding,
      |         x -> CAST(CAST(CASE WHEN NOT isnan(mx) AND mx > 0
      |                        THEN round(CAST(x AS DOUBLE) / (mx / CAST(127 AS DOUBLE)))
      |                        ELSE 0 END AS INTEGER) AS VARCHAR)), ',') AS q8
      |FROM (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
      |  FROM embeddings)
      |ORDER BY vec_id""".stripMargin

  /** q60_search_quantized: cosine top-k over the DEQUANTIZED int8 corpus
    * (q59's codes × scale) — the accuracy side of the quantization
    * trade: same brute-force search shape as x01, but every operand is
    * a reconstructed double, so the 4×-smaller representation's effect
    * on ranking is measurable (recall vs x01 pinned in VectorSpec) while
    * the query itself stays EXACT against its own definition: the oracle
    * rebuilds codes, scales, and the left-to-right dot fold verbatim —
    * bit-identical doubles end to end. Both hot expressions run in
    * codegen'd kernels pinned bit-identical to their portable HOF forms:
    * reconstruction in `dequant_sym` (the HOF transform chain is
    * CodegenFallback AND gets inlined once per USE by projection
    * collapse — per pair under the probe cross join) and the dot in
    * `vec_dot_d` (no float round-trip, which would break parity).
    */
  def q60(spark: SparkSession, dir: String): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDotD(spark)
    graft.ext.GraftFunctions.ensureDequantSym(spark)
    def dDot(a: Column, b: Column): Column = call_function("vec_dot_d", a, b)
    val deq = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        call_function("dequant_sym", col("embedding")).as("vec"))
    val c = deq.select(col("vec_id").as("neighbor_id"), col("vec").as("c_vec"))
      .withColumn("c_norm", sqrt(dDot(col("c_vec"), col("c_vec"))))
    val p = deq.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("vec").as("p_vec"))
      .withColumn("p_norm", sqrt(dDot(col("p_vec"), col("p_vec"))))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .filter(col("c_norm") > 0 && col("p_norm") > 0)
      .withColumn("cosine",
        dDot(col("c_vec"), col("p_vec")) / (col("c_norm") * col("p_norm")))
      .select(col("probe_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .orderBy("probe_id", "rank")
  }

  val q60Sql: String =
    """WITH b AS (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
      |  FROM embeddings),
      |v AS (
      |  SELECT vec_id,
      |         list_transform(
      |           list_transform(embedding,
      |             x -> CASE WHEN NOT isnan(mx) AND mx > 0
      |                       THEN round(CAST(x AS DOUBLE) / (mx / CAST(127 AS DOUBLE)))
      |                       ELSE 0 END),
      |           c -> c * (mx / CAST(127 AS DOUBLE))) AS vec
      |  FROM b),
      |n AS (
      |  SELECT vec_id, vec,
      |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> vec[i] * vec[i])),
      |           (x, y) -> x + y)) AS nrm
      |  FROM v)
      |SELECT probe_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> c.vec[i] * p.vec[i])),
      |           (x, y) -> x + y) / (c.nrm * p.nrm) AS cosine,
      |         row_number() OVER (
      |           PARTITION BY p.vec_id
      |           ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |             list_transform(range(1, 65), i -> c.vec[i] * p.vec[i])),
      |             (x, y) -> x + y) / (c.nrm * p.nrm) DESC, c.vec_id ASC) AS rank
      |  FROM n c JOIN n p ON p.vec_id < 8 AND c.vec_id <> p.vec_id
      |  WHERE c.nrm > 0 AND p.nrm > 0)
      |WHERE rank <= 10
      |ORDER BY probe_id, rank""".stripMargin

  /** q47_embed_dedup: embedding-cosine near-duplicate DEDUP — x08's
    * blocked cosine pairs resolved into canonical clusters, (vec_id,
    * component, cluster_size) for every vector with at least one
    * same-label neighbor at cosine ≥ 0.35. Completes the dedup taxonomy
    * (exact q21, minhash x02, simhash x07, n-gram Jaccard x10) with the
    * embedding-space member, end-to-end: pair generation AND canonical
    * resolution, not just pairs.
    *
    * Plan: [[blockedCosinePairs]] (equi-join on the block key — never
    * all-pairs across blocks) feeds [[graft.ops.Text.dupComponentsStar]]
    * (large-star/small-star, O(log n) rounds at any component diameter).
    * Cluster work is on the PAIR list — (id, comp) tuples — never the
    * vectors; the embeddings shuffle exactly once, inside the blocked
    * join. Output is integer-only (ids + counts), so the query is
    * hash-exact despite double cosines inside: both engines compute
    * bit-identical IEEE doubles (same fold order, x08's proof), so the
    * ≥-threshold DECISION is identical even though no double survives to
    * the output.
    *
    * The declared query pins the exact pair path EXPLICITLY
    * (maxBlockSide = Int.MaxValue at the call site, so the oracle-gated
    * contract never silently inherits a tunable default that could flip
    * an oversized block onto the recall-lossy LSH handoff). That pin is
    * justified against the fixture, not assumed: `label` is a ~uniform
    * 10-value key (FIXTURES.md — largest block 59 rows at sf0.01, 218 at
    * sf0.1), so Σ block² is bounded ~10·(n/10)² only at driver SFs where
    * n/10 itself is small; a 100 TB run tunes maxBlockSide to trade the
    * handoff consciously. That trade is MEASURED, not asserted
    * (SCALE.md r11): in the handoff's designed near-dup regime
    * (within-cluster cosine ≈ 0.994) pair recall is 0.9796 with
    * component-membership agreement 1.0000 (VectorSpec pins ≥ 0.9 /
    * ≥ 0.95); at this fixture's loose 0.35 threshold recall collapses to
    * 0.13 — which is exactly why the DECLARED form pins Int.MaxValue.
    *
    * Threshold: minCosine = 0.35 is FIXTURE-SCALED, not a semantic
    * near-dup bar — the generator's planted duplicate pairs top out at
    * cosine 0.47 (measured; at 0.6 the fixture has zero pairs), so a
    * 0.9-style threshold would declare an empty query. Real corpora run
    * this operator at ≥ 0.9, where transitive components stay tight; at a
    * loose threshold components chain, and the guard for that is
    * [[graft.ops.Text.capClusterSizes]] — a deterministic star-split that
    * bounds every cluster before per-cluster consumers (q69's centroid)
    * run.
    */
  def q47(spark: SparkSession, dir: String): DataFrame =
    q47Labels(spark, dir)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long"))
      .select(col("id").as("vec_id"), col("comp").as("component"),
        col("cluster_size"))
      .orderBy("vec_id")

  /** q47/q69's shared cluster resolution: blocked-cosine pairs → star CC
    * → (id, comp) labels for every vector with ≥ 1 near-duplicate.
    */
  private def q47Labels(spark: SparkSession, dir: String): DataFrame = {
    val pairs = blockedCosinePairs(Tables.embeddings(spark, dir),
      blockCol = "label", minCosine = 0.35, maxBlockSide = Int.MaxValue)
    Text.dupComponentsStar(pairs, "vec_id_a", "vec_id_b")
  }

  /** x08's pair CTE + q41's recursive-reachability restatement; CTEs
    * MATERIALIZED so the recursive member doesn't re-run the all-pairs
    * join per fixpoint round (q41Sql precedent).
    */
  val q47Sql: String =
    """WITH RECURSIVE v AS MATERIALIZED (
      |  SELECT vec_id, label, embedding,
      |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y)) AS nrm
      |  FROM embeddings),
      |pairs AS MATERIALIZED (
      |  SELECT vec_id_a, vec_id_b FROM (
      |    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
      |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |             list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |             (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
      |    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      |    WHERE a.nrm > 0 AND b.nrm > 0)
      |  WHERE cosine >= 0.35),
      |und AS MATERIALIZED (
      |  SELECT vec_id_a AS s, vec_id_b AS d FROM pairs
      |  UNION
      |  SELECT vec_id_b AS s, vec_id_a AS d FROM pairs),
      |reach(id, r) AS (
      |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
      |  UNION
      |  SELECT u.s, reach.r FROM und u JOIN reach ON u.d = reach.id)
      |SELECT id AS vec_id, comp AS component,
      |       CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
      |FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      |ORDER BY vec_id""".stripMargin

  /** q69_cluster_centroid: one REPRESENTATIVE vector per near-dup
    * cluster — the elementwise mean of the cluster's embeddings — the
    * "collapse the cluster to its centroid" endpoint of embedding dedup
    * (q47 labels the members, q69 produces what replaces them; q68 is the
    * analogous endpoint on the text side, which KEEPS a member — vectors
    * average instead because the mean is the L2-optimal single
    * representative).
    *
    * Determinism (the reason this is not a plain `avg`): float summation
    * is order-dependent, and aggregate order is partitioning-dependent —
    * so the sum runs per (component, position) over EXACT DECIMALS, the
    * [[lloydStep]] discipline: each float routes through its shortest
    * string repr into DECIMAL(38,18) (exact — a float's shortest repr has
    * ≤ 9 significant digits, parsed identically by both engines; verified
    * value-for-value over the fixture), the decimal sum is associative
    * and therefore partitioning-independent, and the single sum→DOUBLE
    * conversion goes back through VARCHAR (D7: exact print,
    * correctly-rounded parse) before one IEEE divide by the member count.
    * Zero collect, no per-group member list — per-group state is 64
    * decimal accumulators regardless of cluster size, so a giant
    * transitive component degrades throughput, not memory.
    *
    * Output is 64 SCALAR DOUBLE columns (c00..c63), not an
    * array<double>: the driver comparator cannot sort or hash array
    * cells (rule D8; q31/q59 string precedent — scalars chosen here so
    * the values stay native doubles, bit-identical across engines,
    * rather than re-entering the string-formatting problem).
    */
  def q69(spark: SparkSession, dir: String): DataFrame = {
    val labels = q47Labels(spark, dir)
    val sums = Tables.embeddings(spark, dir)
      .join(labels.select(col("id").as("vec_id"), col("comp")), "vec_id")
      .select(col("comp"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("comp"), col("pos"))
      .agg(sum(col("x").cast("string").cast("decimal(38,18)")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m",
        col("s").cast("string").cast("double") / col("n").cast("double"))
    val cents = (0 until 64).map(i =>
      max(when(col("pos") === i, col("m"))).as(f"c$i%02d"))
    val aggs = max(col("n")).cast("long").as("cluster_size") +: cents
    sums.groupBy(col("comp").as("component"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("component")
  }

  /** q47's CTEs + the same per-(component, position) exact-decimal sums
    * with both conversions routed through VARCHAR (float→DECIMAL(38,18)
    * in, sum→DOUBLE out), pivoted to the same 64 scalar columns.
    */
  val q69Sql: String = {
    val cents = (0 until 64).map(i =>
      f"       max(CASE WHEN pos = ${i + 1} THEN m END) AS c$i%02d")
      .mkString(",\n")
    """WITH RECURSIVE v AS MATERIALIZED (
      |  SELECT vec_id, label, embedding,
      |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y)) AS nrm
      |  FROM embeddings),
      |pairs AS MATERIALIZED (
      |  SELECT vec_id_a, vec_id_b FROM (
      |    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
      |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |             list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |             (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
      |    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      |    WHERE a.nrm > 0 AND b.nrm > 0)
      |  WHERE cosine >= 0.35),
      |und AS MATERIALIZED (
      |  SELECT vec_id_a AS s, vec_id_b AS d FROM pairs
      |  UNION
      |  SELECT vec_id_b AS s, vec_id_a AS d FROM pairs),
      |reach(id, r) AS (
      |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
      |  UNION
      |  SELECT u.s, reach.r FROM und u JOIN reach ON u.d = reach.id),
      |lab AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      |sums AS (
      |  SELECT l.comp AS comp, p.pos AS pos,
      |         CAST(CAST(sum(CAST(CAST(e.embedding[CAST(p.pos AS INT)] AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
      |           / CAST(count(*) AS DOUBLE) AS m,
      |         count(*) AS n
      |  FROM lab l JOIN embeddings e ON e.vec_id = l.id
      |  CROSS JOIN range(1, 65) p(pos)
      |  GROUP BY 1, 2)
      |SELECT comp AS component, CAST(max(n) AS BIGINT) AS cluster_size,
      |CENTS
      |FROM sums GROUP BY comp
      |ORDER BY component""".stripMargin.replace("CENTS", cents)
  }

  /** q71_ivf_search: the MATERIALIZED IVF index exercised end-to-end —
    * [[ivfBuild]] writes the cell-partitioned index (centroid quantizer +
    * directory-partitioned postings with precomputed norms), then
    * [[ivfSearch]] answers x01's probe set from the files. The declared
    * form probes ALL cells (nprobe = nlist = 16), which makes IVF
    * PROVABLY exact: every corpus vector lives in exactly one cell and
    * every cell is read, so the candidate set is the whole corpus and the
    * result equals brute-force top-k — the oracle restates exactly that
    * (x01's fold ⇒ bit-identical cosines ⇒ identical ranks), giving the
    * build→search path a driver CORRECTNESS row with no recall caveat.
    * The nprobe < nlist production trade (read nprobe/nlist of the index,
    * partition-pruned on disk) is the same code path, plan-asserted and
    * equivalence-pinned against per-call [[ivfTopK]] in VectorSpec.
    * Output is integer-only (probe, neighbor, rank).
    */
  def q71(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempRoots.create("graft_ivf_q71_")
    val emb = Tables.embeddings(spark, dir)
    ivfBuild(emb, idx, nlist = 16)
    ivfSearch(spark, idx, emb.filter(col("vec_id") < 8),
        nprobe = 16, k = 10)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
      .orderBy("probe_id", "rank")
  }

  /** Brute-force top-k (x01Sql's fold) — exactly what a full-probe IVF
    * search computes, minus the cosine column.
    */
  val q71Sql: String =
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y)) AS nrm
      |  FROM embeddings)
      |SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |         row_number() OVER (PARTITION BY p.vec_id
      |           ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |             list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))),
      |             (x, y) -> x + y) / (c.nrm * p.nrm) DESC, c.vec_id ASC) AS rank
      |  FROM v p, v c
      |  WHERE p.vec_id < 8 AND c.vec_id <> p.vec_id)
      |WHERE rank <= 10
      |ORDER BY probe_id, rank""".stripMargin

  /** q71b_ivf_deleted: the TOMBSTONE-DELETE gate for the IVF index
    * (VERDICT r14 #1) — build over the full embedding corpus,
    * [[ivfDelete]] the `vec_id % 5 = 3` slice, search all cells. With
    * nprobe = nlist the masked candidate set is exactly the surviving
    * corpus, so the result must equal brute-force top-k over the
    * pre-filtered corpus — own oracle = q71's SQL with the candidate
    * side filtered (one leaked dead vector re-ranks a top-10 and
    * mismatches loudly). Probes stay UNfiltered: a deleted vector may
    * still probe (the takedown flow queries with content the index no
    * longer holds). Delete-then-re-append and as-of-before-delete are
    * spec-pinned in VectorSpec.
    */
  def q71b(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.TempRoots.create("graft_ivf_q71b_")
    val emb = Tables.embeddings(spark, dir)
    ivfBuild(emb, idx, nlist = 16)
    ivfDelete(spark, idx, emb.filter(pmod(col("vec_id"), lit(5L)) === 3))
    ivfSearch(spark, idx, emb.filter(col("vec_id") < 8),
        nprobe = 16, k = 10)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
      .orderBy("probe_id", "rank")
  }

  /** q71's brute-force fold with the candidate side restricted to the
    * post-delete survivors.
    */
  val q71bSql: String =
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y)) AS nrm
      |  FROM embeddings)
      |SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |         row_number() OVER (PARTITION BY p.vec_id
      |           ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |             list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))),
      |             (x, y) -> x + y) / (c.nrm * p.nrm) DESC, c.vec_id ASC) AS rank
      |  FROM v p, v c
      |  WHERE p.vec_id < 8 AND c.vec_id <> p.vec_id AND c.vec_id % 5 <> 3)
      |WHERE rank <= 10
      |ORDER BY probe_id, rank""".stripMargin

  /** x20_embed_decontaminate: SEMANTIC cross-corpus decontamination —
    * flag every training vector whose embedding lies within cosine ≥
    * `minCosine` of ANY held-out eval vector, with the hit count and the
    * strongest match. The embedding-space member of the decontamination
    * axis q65 opened (q65 catches verbatim 8-gram leakage; this catches
    * paraphrased/near-duplicate leakage that shares no exact n-gram —
    * the pair every modern pipeline runs side by side).
    *
    * Slice rule: eval = `vec_id % 20 = 0` (deterministic 5%, membership
    * computable on both engines without a hash helper — embeddings carry
    * no text for q65's content-hash rule, and id-modulus is the same
    * "derivable from the row alone, no shuffle to define it" discipline).
    *
    * Plan shape: the eval suite broadcasts against one train-side scan —
    * the SAME fixed-size-benchmark adjudication as q65's gram set and
    * x01's probe block (PlanSpec whitelists the BNLJ). That contract is
    * WHY exact brute-force is the right declared form: an eval suite is
    * externally fixed (MMLU-sized, not corpus-sized), so the pair count
    * is n·|eval| with |eval| a constant — linear in the corpus, one scan,
    * no shuffle of vectors at all (the groupBy is on the pre-aggregated
    * per-train-row hit stats, map-side combinable). When the eval side
    * DOES grow corpus-like, the scale path is the bucketed approximate
    * form ([[annTopK]]'s simhash_bucket equi-join) or x08's blocked
    * handoff — both documented trades of recall for candidate volume.
    *
    * Exactness for the hash gate: per-pair cosines are bit-identical
    * doubles in both engines (x01's fold-order argument), count is
    * integer, and max over bit-identical doubles is order-independent —
    * so `max_cosine` survives hashing even though it is a double.
    */
  def x20(spark: SparkSession, dir: String, minCosine: Double = 0.35): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", nNorm(col("embedding")))
      // zero-norm guard: cosine would be NaN (x01's rule) — a zero vector
      // can neither contaminate nor be contaminated
      .filter(col("nrm") > 0)
    val eval = e.filter(pmod(col("vec_id"), lit(20L)) === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("e_vec"),
        col("nrm").as("e_nrm"))
    val train = e.filter(pmod(col("vec_id"), lit(20L)) =!= 0)
    train.crossJoin(broadcast(eval))
      .withColumn("cosine",
        nCos(col("embedding"), col("e_vec"), col("nrm"), col("e_nrm")))
      .filter(col("cosine") >= minCosine)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cosine")).as("max_cosine"))
      .orderBy("vec_id")
  }

  /** x20b_embed_decontaminate_bucketed: x20's exact twin through the
    * BUCKETED equi-join plan — the declared form of the "big-eval scale
    * path" that x20's scaladoc previously only argued in prose (VERDICT
    * r11 #3, retiring the last BNLJ whitelist entry). Both sides
    * IVF-assign under one deterministic quantizer ([[seedCentroids]],
    * map-side argmax — zero shuffle); the train side lands in exactly ONE
    * cell, the eval side probes `nprobe` cells; the pair source is an
    * equi-join on `cell` — a broadcast HASH join, never a nested loop
    * (PlanSpec-asserted). With the declared nprobe = nlist every
    * (train, eval) pair surfaces exactly once (train's one cell is among
    * the eval copies), so the output is EXACT and SHARES x20's oracle —
    * q71's all-cells-probed argument. At 100 TB the same plan with
    * nprobe < nlist is the recall-traded cheap form, and the eval side
    * stops broadcasting and shuffles on `cell` instead — the join shape
    * is already the scalable one.
    */
  def x20b(
      spark: SparkSession,
      dir: String,
      minCosine: Double = 0.35,
      nlist: Int = 16,
      nprobe: Int = 16): DataFrame = {
    // register BEFORE the first nNorm use: DataFrame transforms analyze
    // eagerly, so the function must exist when the filter below builds
    graft.ext.GraftFunctions.ensureVecDot(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", nNorm(col("embedding")))
      .filter(col("nrm") > 0) // x20's zero-norm guard, identical
    val evalSide = e.filter(pmod(col("vec_id"), lit(20L)) === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val trainSide = e.filter(pmod(col("vec_id"), lit(20L)) =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    decontaminateBucketed(trainSide, evalSide, minCosine, nlist, nprobe)
      .orderBy("vec_id")
  }

  /** The generic bucketed decontamination behind [[x20b]]: flag every
    * train vector with an eval-slice neighbor at cosine ≥ `minCosine`,
    * candidates generated by a hash equi-join on the IVF cell (both
    * sides under one frozen quantizer; train assigned to 1 cell, eval
    * probing `nprobe`). nprobe = nlist ⇒ exact; nprobe < nlist is the
    * recall-traded cheap form. Inputs are (id, vec); zero-norm rows must
    * be pre-filtered by the caller's policy (x20b drops them).
    */
  def decontaminateBucketed(
      trainSide: DataFrame,
      evalSide: DataFrame,
      minCosine: Double,
      nlist: Int = 16,
      nprobe: Int = 16): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(trainSide.sparkSession)
    val cents = seedCentroids(trainSide, nlist, lloydIters = 3)
    if (cents.isEmpty)
      return trainSide.select(col("id").as("vec_id"),
        lit(0L).as("n_eval_hits"), lit(0.0).as("max_cosine")).limit(0)
    val t = nearestCells(trainSide, cents, 1)
      .select(col("cell"), col("id").as("vec_id"), col("vec").as("t_vec"))
      .withColumn("t_nrm", nNorm(col("t_vec")))
    val ev = nearestCells(evalSide, cents, nprobe)
      .select(col("cell"), col("id").as("eval_id"), col("vec").as("e_vec"))
      .withColumn("e_nrm", nNorm(col("e_vec")))
    t.join(broadcast(ev), Seq("cell"))
      .withColumn("cosine",
        nCos(col("t_vec"), col("e_vec"), col("t_nrm"), col("e_nrm")))
      .filter(col("cosine") >= minCosine)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cosine")).as("max_cosine"))
  }

  /** x01Sql's fold over the id-modulus slice split — same pair order,
    * same ≥-threshold decision on bit-identical doubles.
    */
  val x20Sql: String =
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y)) AS nrm
      |  FROM embeddings),
      |nz AS (SELECT * FROM v WHERE nrm > 0)
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
      |       max(cosine) AS max_cosine
      |FROM (
      |  SELECT t.vec_id,
      |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(range(1, 65), i -> CAST(t.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
      |           (x, y) -> x + y) / (t.nrm * e.nrm) AS cosine
      |  FROM nz t, nz e
      |  WHERE t.vec_id % 20 <> 0 AND e.vec_id % 20 = 0)
      |WHERE cosine >= 0.35
      |GROUP BY vec_id
      |ORDER BY vec_id""".stripMargin
}
