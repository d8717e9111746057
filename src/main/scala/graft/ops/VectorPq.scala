package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ: product-quantized postings for the IVF index (VERDICT r15
  * #4) — the standard compression that keeps a 100 TB embedding corpus'
  * postings cache-resident. [[Vector.ivfBuild]] stores every vector
  * verbatim (dim × 4 bytes in the float path); here each vector is cut
  * into `m` subvectors and every subvector replaced by the index of its
  * nearest codeword in a per-subspace codebook of ≤ `kCodes` entries —
  * m small codes per vector (m bytes at kCodes = 256; stored as parquet
  * int arrays, which dictionary/bit-pack to the same order), a
  * dim·4/m-fold reduction of the candidate payload, at an accuracy cost
  * VectorSpec pins as a recall floor vs the exact baseline.
  *
  * Spark-first shape, mirroring [[Vector.ivfBuild]]'s decisions:
  *  - codebook TRAINING is per-subspace k-means on a bounded,
  *    hash-ordered sample, run driver-side (m × sample × k flops of
  *    index metadata, the [[Vector.seedCentroids]] precedent — never a
  *    corpus job). When a subspace has ≤ kCodes DISTINCT values the
  *    codebook is those values exactly and quantization is LOSSLESS —
  *    the property the driver gate twin (x27b) is built on.
  *  - ENCODING is one map-side pass: codes and the reconstruction norm
  *    are pure codegen'd HOF expressions over a literal flat codebook
  *    (`transform`/`slice`/`aggregate` — no UDF, no shuffle beyond the
  *    partitioned write), composed with the same zero-shuffle cell
  *    argmax ([[Vector.nearestCells]]) the plain index uses.
  *  - SEARCH is asymmetric distance computation (ADC): each probe's
  *    (m × kCodes) lookup table of subvector dot products is computed
  *    ONCE driver-side (probes are the small side by contract, exactly
  *    as ivfSearch collects them to prune cells) and broadcast; a
  *    candidate's score is then m table lookups summed in subspace
  *    order — `aggregate(transform(codes, …element_at(lut, …)))`, all
  *    whole-stage codegen. At sublen = 1 the summation order equals the
  *    full left-to-right dot fold bit for bit, which is what lets the
  *    gate twin share an exact brute-force oracle.
  *  - postings are cell-directory-partitioned and generation-committed
  *    ([[graft.sources.GenCommit]]) like every standing index; a search
  *    reads only the probed cells' partitions.
  *
  * Quantizing RAW vectors (FAISS's `by_residual = false` flavor) rather
  * than centroid residuals keeps the codebook global across cells — the
  * residual flavor buys accuracy at equal code budget but couples every
  * codebook to the coarse quantizer (a centroid refresh invalidates all
  * codes); the flat flavor's codes survive re-clustering, the right
  * trade for an index whose compaction story is periodic re-seeding.
  */
object VectorPq {

  /** The generation tables of a REFINABLE index (r19 — VERDICT r18 #5,
    * FAISS's IndexRefineFlat shape): alongside the cache-resident codes
    * the index keeps the exact (rotated-space) vectors in a second
    * cell-partitioned table, committed in the SAME generation — touched
    * only by [[pqSearch]]'s refine stage, which reads the probed cells'
    * partitions alone (probe-proportional, the x21b lesson). The
    * scoring path's storage claim is unchanged: ADC still runs over
    * codes; the flat table is the cold re-rank side.
    */
  private def pqTables(refinable: Boolean): Seq[String] =
    if (refinable) PqStore.tables else Seq("postings")

  /** The IVF-PQ index's lifecycle. The claim scan includes the refine
    * vectors table (absent dirs scan as empty) and the tombstone table,
    * so neither a refine write nor a delete can collide with an append's
    * id. Compaction folds the refine vectors under the same mask as the
    * codes — alive sets must agree or a refined search re-scores rows
    * the codes no longer hold.
    */
  private val PqStore = graft.sources.StandingStore("IVF-PQ index",
    "pqBuild", Seq("postings", "vectors"),
    scanTables = Seq("postings", "vectors",
      graft.sources.GenCommit.TombsTable),
    fold = Vector.cellFold, optional = Set("vectors"))

  /** Build the IVF-PQ index at `indexDir` (replacing anything there):
    * coarse quantizer (`nlist` cells, shared training path with
    * [[Vector.ivfBuild]]), per-subspace codebooks, and cell-partitioned
    * postings of (id, codes, reconstruction norm). `m` must divide the
    * dimension. Norms are of the RECONSTRUCTION (not the original):
    * search scores live entirely in quantized space, so its cosine is
    * internally consistent — and exact whenever quantization is.
    */
  def pqBuild(
      corpus: DataFrame,
      indexDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nlist: Int = 16,
      m: Int = 16,
      kCodes: Int = 256,
      lloydIters: Int = 3,
      kmeansSample: Int = 4096,
      kmeansIters: Int = 4,
      trainOn: Option[DataFrame] = None,
      byResidual: Boolean = false,
      centroidSnap: Option[Int] = None,
      opq: Boolean = false,
      refinable: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    graft.ext.GraftFunctions.ensureVecDot(spark)
    def shape(df: DataFrame) = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("vec"),
      col(vecCol).cast("array<double>").as("vecD"))
    val c0raw = shape(corpus)
    // `trainOn` decouples quantizer/codebook TRAINING from the initial
    // load: a table built from one shard but trained on a representative
    // sample of the whole stream encodes later pqAppend deltas without
    // the coverage gaps a shard-trained codebook would have (x27c's gate
    // relies on exactly this — codes must be lossless for vectors the
    // initial load never saw)
    val t0raw = trainOn.map(shape).getOrElse(c0raw)
    val dimRow = c0raw.select(size(col("vecD"))).head()
    val dim = dimRow.getInt(0)
    require(dim > 0 && dim % m == 0,
      s"pqBuild: m = $m must divide the dimension $dim")
    val sublen = dim / m
    // OPQ (VERDICT r17 #6): a LEARNED orthogonal rotation before the
    // subspace split — here the variance-balanced dimension PERMUTATION
    // (the OPQ paper's initialization, FAISS's OPQ pre-step): dims sort
    // by variance and snake-deal across the m subspaces, so no subspace
    // is all high-variance (starving its k codewords) or all
    // low-variance (wasting them) — recall at equal bytes. A
    // permutation is orthogonal, so rotated-space cosines ARE original
    // cosines, and (the gate's lever) exactness survives bit-for-bit:
    // over the grid fixture every product/partial-sum is an exactly-
    // representable dyadic rational, so reordering the summation
    // changes nothing. Everything downstream — coarse quantizer,
    // residuals, codebooks, encode, probes — lives in rotated space.
    val perm: Option[Array[Int]] =
      if (!opq) None else Some(learnPerm(t0raw, dim, m))
    val c0 = perm.map(applyPerm(c0raw, _)).getOrElse(c0raw)
    val t0 = perm.map(applyPerm(t0raw, _)).getOrElse(t0raw)
    val cents0 = Vector.seedCentroids(
      t0.select(col("id"), col("vec")), nlist, lloydIters)
    // `centroidSnap = Some(s)` snaps centroid coordinates to the 1/s
    // grid — the gate twin's exactness lever for the RESIDUAL flavor:
    // over a 1/8-grid corpus with 1/8-grid centroids, residuals,
    // reconstructions (c + res = v, exactly) and every ⟨p,c⟩ + ⟨p,res⟩
    // product/sum are small dyadic rationals, so residual ADC is
    // bit-identical to the full dot fold (x27d's argument). Production
    // residual indexes leave it None — snapping merely coarsens cells.
    val cents = centroidSnap match {
      case None => cents0
      case Some(s) => cents0.map { case (c, v) =>
        (c, v.map(f => (math.floor(f.toDouble * s) / s).toFloat)) }
    }
    require(cents.nonEmpty, "cannot build an IVF-PQ index over an empty corpus")

    // ---- codebooks: exact when a subspace's distinct values fit ----
    // In the RESIDUAL flavor (FAISS by_residual = true, VERDICT r16 #6)
    // codebooks train on (vector − cell centroid): residual magnitudes
    // are a fraction of raw coordinates, so the same code budget spends
    // its precision on a tighter range — recall at equal bytes. The
    // codebook stays GLOBAL across cells (one training pool), which
    // keeps the LUT per probe rather than per (probe, cell); only the
    // scalar ⟨probe, centroid⟩ term varies per cell at search time.
    val tEnc =
      if (!byResidual) t0
      else residualized(spark, t0, cents)
    // Codebook phase: TWO light passes, NO persist, NO unconditional
    // window (optimization r20, settling VERDICT r19 #1 by measurement).
    // Three shapes were A/B'd at sf0.1 (Probe x27b_steps, warm-round
    // pqBuild): r18's two passes with nothing cached (~5.0 s), r19's
    // persist of the exploded+distinct frame across the two passes
    // (5.4 s — the materialization cost exceeds the recompute, the
    // driver-measured x27b/c/e +17–26% regression), and a fused
    // one-pass row_number-capped collect (6.0 s — the per-sub window
    // sort runs ALWAYS, where the two-pass shape only pays it on the
    // sampled branch, and its partitionBy(sub) caps parallelism at m
    // tasks at any scale). r18's shape wins at bench AND avoids the
    // m-task window bottleneck at 100 TB for lossless-able data; the
    // recompute it pays (the explode+distinct shuffle twice) is a
    // one-off index-build cost amortized across every later search.
    val subs = tEnc.select(posexplode(transform(
        sequence(lit(0), lit(m - 1)),
        i => slice(col("vecD"), i * sublen + 1, lit(sublen))))
      .as(Seq("sub", "sv"))).distinct()
    val perSub: Map[Int, Long] = subs.groupBy(col("sub")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cb: IndexedSeq[IndexedSeq[Array[Double]]] =
      if (perSub.values.max <= kCodes) {
        // LOSSLESS: the codebook IS the subspace's distinct values
        // (deterministic order), every subvector encodes to itself
        val all = subs.orderBy(col("sub"), col("sv")).collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        (0 until m).map(i =>
          all.filter(_._1 == i).map(_._2).toIndexedSeq)
      } else {
        // bounded hash-ordered sample per subspace → driver k-means
        val w = Window.partitionBy(col("sub"))
          .orderBy(xxhash64(col("sv").cast("string")))
        val sample = subs
          .withColumn("__r", row_number().over(w))
          .filter(col("__r") <= kmeansSample).drop("__r")
          .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        (0 until m).map(i => kmeansL2(
          sample.filter(_._1 == i).map(_._2).toIndexedSeq,
          kCodes, kmeansIters))
      }
    val kEff = cb.map(_.size).max
    // pad ragged codebooks with their first entry: a duplicate codeword
    // can never WIN an argmin (array_position takes the first minimum),
    // so pads are unreachable — they only square the flat layout
    val padded = cb.map(b => b ++ IndexedSeq.fill(kEff - b.size)(b.head))
    val flat: Array[Double] =
      padded.flatMap(_.flatMap(_.toIndexedSeq)).toArray

    import spark.implicits._
    PqStore.build(spark, indexDir, pqTables(refinable)) { path =>
      // ---- persist metadata ----
      Vector.writeCentroids(spark, indexDir, cents, c0.schema("id").dataType)
      spark.range(1).select(lit(m).as("m"), lit(kEff).as("k"),
          lit(sublen).as("sublen"), lit(dim).as("dim"),
          lit(byResidual).as("residual"),
          lit(perm.map(_.toSeq).orNull).cast("array<int>").as("perm"))
        .write.mode("overwrite").parquet(s"$indexDir/pqmeta")
      padded.zipWithIndex.flatMap { case (b, i) =>
        b.zipWithIndex.map { case (cw, c) => (i, c, cw.toSeq) }
      }.toDF("sub", "code", "cvec")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/pqcodes")
      // ---- encode + assign, generation 0 ----
      stageGeneration(spark, c0, cents, flat, m, kEff, sublen, byResidual,
        refinable, path)
    }
  }

  /** Stage one generation of a shaped slice: its codes and, for a
    * refinable index, its exact vectors in the SAME generation (codes
    * without refine vectors would silently break re-ranking for exactly
    * those rows).
    */
  private def stageGeneration(spark: SparkSession, shaped: DataFrame,
      cents: Seq[(Any, Seq[Float])], flat: Array[Double], m: Int, kEff: Int,
      sublen: Int, residual: Boolean, refinable: Boolean,
      path: String => String): Unit = {
    encodePostings(spark, shaped, cents, flat, m, kEff, sublen, residual)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(path("postings"))
    if (refinable)
      exactVectors(spark, shaped, cents)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(path("vectors"))
  }

  /** The refine table's content for a shaped slice: the exact
    * (rotated-space) vector and its norm, cell-partitioned like the
    * codes so refine reads only probed cells. The norm goes through the
    * same in-order fold every exact scorer uses (`vec_dot_d`), so a
    * refined cosine is bit-identical to the brute-force one.
    */
  private def exactVectors(spark: SparkSession, shaped: DataFrame,
      cents: Seq[(Any, Seq[Float])]): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDotD(spark)
    Vector.nearestCells(shaped, cents, 1)
      .select(concat(lit("c"), col("cell").cast("string")).as("cell"),
        col("id").as("neighbor_id"), col("vecD").as("evec"),
        sqrt(call_function("vec_dot_d", col("vecD"), col("vecD")))
          .as("v_norm"))
  }

  /** The centroid dimension as a broadcastable frame (cell → centroid
    * as doubles) — nlist rows of index metadata.
    */
  private def centsDf(spark: SparkSession, shaped: DataFrame,
      cents: Seq[(Any, Seq[Float])]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        shaped.schema("id").dataType),
      org.apache.spark.sql.types.StructField("cvec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          cents.toIndexedSeq.map(t =>
            org.apache.spark.sql.Row(t._1, t._2)), 1), schema)
      .select(col("cell"), col("cvec").cast("array<double>").as("cvecD"))
  }

  /** Replace each shaped vector's `vecD` by its residual against its
    * assigned cell's centroid — the residual flavor's training input.
    */
  private def residualized(spark: SparkSession, shaped: DataFrame,
      cents: Seq[(Any, Seq[Float])]): DataFrame =
    Vector.nearestCells(shaped, cents, 1)
      .join(broadcast(centsDf(spark, shaped, cents)), Seq("cell"))
      .withColumn("vecD",
        zip_with(col("vecD"), col("cvecD"), (a, b) => a - b))
      .select("id", "vec", "vecD")

  /** The (cell, id, codes, c_norm) postings of a shaped slice under
    * frozen centroids + codebooks — build's and append's shared encode.
    * Raw flavor: codes over the vector itself. Residual flavor: one
    * broadcast join to the centroid dim, codes over (vector − centroid)
    * via the `pq_encode_res` kernel, whose `c_norm` is of the FULL
    * reconstruction (centroid + codeword) — search cosines live in
    * reconstructed space either way.
    */
  private def encodePostings(spark: SparkSession, shaped: DataFrame,
      cents: Seq[(Any, Seq[Float])], flat: Array[Double], m: Int,
      kEff: Int, sublen: Int, byResidual: Boolean): DataFrame = {
    val assigned = Vector.nearestCells(shaped, cents, 1)
    val enc =
      if (!byResidual) {
        graft.ext.GraftFunctions.ensurePqEncode(spark)
        assigned.withColumn("__pq", call_function("pq_encode",
          col("vecD"), lit(flat), lit(m), lit(kEff), lit(sublen)))
      } else {
        graft.ext.GraftFunctions.ensurePqEncodeRes(spark)
        assigned.join(broadcast(centsDf(spark, shaped, cents)), Seq("cell"))
          .withColumn("__pq", call_function("pq_encode_res",
            zip_with(col("vecD"), col("cvecD"), (a, b) => a - b),
            col("cvecD"), lit(flat), lit(m), lit(kEff), lit(sublen)))
      }
    enc.select(concat(lit("c"), col("cell").cast("string")).as("cell"),
      col("id").as("neighbor_id"), col("__pq.codes").as("codes"),
      col("__pq.c_norm").as("c_norm"))
  }

  /** The HOF REFERENCE form of the encode (first cut): correct but
    * CodegenFallback — every lambda application is an interpreted tree
    * walk, m × k × sublen of them per row (measured ~30 s of the x27
    * gate's 35 s at sf0.1). [[graft.ext.PqEncode]] runs the identical
    * arithmetic as one tight loop; ExtSpec pins the two value-equal
    * (the hofSimhashBucket precedent). Ties take the first minimum
    * (`array_position`), matching the kernel's strict-< argmin.
    */
  private[graft] def hofEncodeExpr(vecD: Column, flat: Array[Double],
      m: Int, kEff: Int, sublen: Int): Column = {
    val fl = lit(flat)
    transform(sequence(lit(0), lit(m - 1)), i => {
      val sv = slice(vecD, i * sublen + 1, lit(sublen))
      val dists = transform(sequence(lit(0), lit(kEff - 1)), c => {
        val cw = slice(fl, (i * lit(kEff) + c) * sublen + 1, lit(sublen))
        aggregate(zip_with(sv, cw, (a, b) => (a - b) * (a - b)),
          lit(0.0), (s, x) => s + x)
      })
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
  }

  /** The decoded vector (HOF reference): codeword slices concatenated
    * in subspace order — the norm the kernel computes inline; ExtSpec
    * pins kernel c_norm == sqrt(Σ recon²) over this form.
    */
  private[graft] def hofReconExpr(codes: Column, flat: Array[Double],
      kEff: Int, sublen: Int): Column = {
    val fl = lit(flat)
    flatten(transform(codes, (c, i) =>
      slice(fl, (i * lit(kEff) + c) * sublen + 1, lit(sublen))))
  }

  /** Search the IVF-PQ index: probe `nprobe` cells, score candidates by
    * ADC over the broadcast per-probe lookup tables, top `topK` per
    * probe by (cosine desc, id asc). The scan touches only the probed
    * cells' partitions; the only per-candidate work is m table lookups
    * and one divide.
    *
    * `refine > 0` (r19 — VERDICT r18 #5, FAISS's refine stage): the ADC
    * ranking selects the top-`refine` candidates per probe, which then
    * RE-SCORE exactly against the index's stored flat vectors (the
    * `vectors` table a `refinable = true` build keeps, cell-partitioned
    * — the read stays probe-proportional) and the final top-`topK`
    * ranks by the EXACT cosine. Quantization error then costs recall
    * only when a true neighbor falls outside the ADC top-R, not
    * whenever its code collides near the boundary — the standard recall
    * lever at fixed nprobe. Requires a refinable index (loud
    * otherwise); `refine = 0` is the unchanged ADC-only path.
    */
  def pqSearch(
      spark: SparkSession,
      indexDir: String,
      probes: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nprobe: Int = 4,
      topK: Int = 10,
      asOfGen: Option[Long] = None,
      refine: Int = 0): DataFrame = {
    graft.ext.GraftFunctions.ensureVecDot(spark)
    graft.ext.GraftFunctions.ensurePqAdc(spark)
    val meta = spark.read.parquet(s"$indexDir/pqmeta").head()
    val (m, kEff, sublen) = (meta.getAs[Int]("m"), meta.getAs[Int]("k"),
      meta.getAs[Int]("sublen"))
    val residual = residualOf(meta)
    val cbRows = spark.read.parquet(s"$indexDir/pqcodes").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
    val cents = Vector.readCentroids(spark, indexDir)
    val centByCell: Map[Any, Seq[Float]] = cents.toMap
    val p0raw = probes.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("vec"),
      col(vecCol).cast("array<double>").as("vecD"))
    // probes enter the index's rotated space (OPQ) — centroids, codes
    // and LUTs all live there; cosines are rotation-invariant
    val p0 = permOf(meta).map(applyPerm(p0raw, _)).getOrElse(p0raw)
    val pc = Vector.nearestCells(p0, cents, nprobe)
      .select(col("id"), col("vecD"), col("cell")).collect()
    // one LUT per distinct probe (probes are the small, collected side —
    // ivfSearch's contract): lut(i·k + c) = ⟨probe subvector i,
    // codeword c⟩, products and sums in ascending position order so the
    // sublen = 1 case reproduces the full dot fold bit for bit
    val lutByProbe = pc.map(r => r.get(0) -> r.getSeq[Double](1)).distinct
      .map { case (pid, pv) =>
        val lut = new Array[Double](m * kEff)
        var i = 0
        while (i < m) {
          var c = 0
          while (c < kEff) {
            val cw = cbRows((i, c))
            var s = 0.0
            var j = 0
            while (j < sublen) { s += pv(i * sublen + j) * cw(j); j += 1 }
            lut(i * kEff + c) = s
            c += 1
          }
          i += 1
        }
        var n2 = 0.0
        var j = 0
        while (j < pv.length) { n2 += pv(j) * pv(j); j += 1 }
        pid -> (lut.toSeq, math.sqrt(n2))
      }.toMap
    val idDt = p0.schema("id").dataType
    val pSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("probe_id", idDt),
      org.apache.spark.sql.types.StructField("lut",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("p_norm",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("base_dot",
        org.apache.spark.sql.types.DoubleType)))
    val pRows = pc.toIndexedSeq.map { r =>
      val (lut, pn) = lutByProbe(r.get(0))
      // the residual flavor's per-(probe, cell) scalar: score =
      // ⟨p, centroid⟩ + ⟨p, residual reconstruction⟩ — the LUT covers
      // the second term (codebooks are global across cells), this
      // covers the first; the raw flavor's term is identically 0
      val baseDot =
        if (!residual) 0.0
        else {
          val pv = r.getSeq[Double](1)
          val cw = centByCell(r.get(2))
          var s = 0.0
          var j = 0
          while (j < pv.length) { s += pv(j) * cw(j).toDouble; j += 1 }
          s
        }
      org.apache.spark.sql.Row("c" + r.get(2).toString, r.get(0), lut,
        pn, baseDot)
    }
    val pdf = spark.createDataFrame(
      spark.sparkContext.parallelize(pRows, 1), pSchema)
    val probed = pRows.map(_.getString(0)).distinct.sorted
    // tombstone masking rides on the cell-pruned slice (free until a
    // pqDelete exists — ivfSearch's rule verbatim)
    val posts = graft.sources.GenCommit.maskTombstones(spark, indexDir,
      graft.sources.GenCommit
        .committedTable(spark, indexDir, "postings", asOfGen)
        .filter(col("cell").isin(probed: _*)),
      "neighbor_id", asOfGen)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    val adc = posts.join(broadcast(pdf), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .filter(col("c_norm") > 0 && col("p_norm") > 0)
      .withColumn("dotv",
        call_function("pq_adc", col("codes"), col("lut"), lit(kEff)) +
          col("base_dot"))
      .withColumn("cosine", col("dotv") / (col("c_norm") * col("p_norm")))
      .select(col("probe_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
    if (refine <= 0) adc.filter(col("rank") <= topK)
    else {
      require(isRefinable(spark, indexDir),
        s"pqSearch: refine = $refine needs the exact-vector table — " +
          "build the index with refinable = true (pqBuild keeps the " +
          "flat vectors cell-partitioned beside the codes)")
      graft.ext.GraftFunctions.ensureVecDotD(spark)
      // ADC selects; the stored flat vectors decide. The probe's exact
      // vector broadcasts (probes are the small side by contract) and
      // the vectors read is the SAME probed-cells slice as the codes —
      // refine never widens the scan
      val cand = adc.filter(col("rank") <= refine)
        .select(col("probe_id"), col("neighbor_id"))
      val vecs = graft.sources.GenCommit.maskTombstones(spark, indexDir,
        graft.sources.GenCommit
          .committedTable(spark, indexDir, "vectors", asOfGen)
          .filter(col("cell").isin(probed: _*)),
        "neighbor_id", asOfGen)
        .select(col("neighbor_id"), col("evec"), col("v_norm"))
      val pvSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("probe_id", idDt),
        org.apache.spark.sql.types.StructField("pvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.types.StructField("p_norm",
          org.apache.spark.sql.types.DoubleType)))
      val pvRows = pc.toIndexedSeq
        .map(r => (r.get(0), r.getSeq[Double](1))).distinct
        .map { case (pid, pv) =>
          org.apache.spark.sql.Row(pid, pv, lutByProbe(pid)._2)
        }
      val pvDf = spark.createDataFrame(
        spark.sparkContext.parallelize(pvRows, 1), pvSchema)
      cand.join(vecs, Seq("neighbor_id"))
        .join(broadcast(pvDf), Seq("probe_id"))
        .filter(col("v_norm") > 0 && col("p_norm") > 0)
        .withColumn("cosine",
          call_function("vec_dot_d", col("evec"), col("pvec")) /
            (col("v_norm") * col("p_norm")))
        .select(col("probe_id"), col("neighbor_id"), col("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
    }
  }

  /** Whether this index keeps the exact-vector refine table. */
  private def isRefinable(spark: SparkSession, indexDir: String): Boolean =
    new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$indexDir/vectors"))

  /** The meta row's `residual` flag, defaulting FALSE when the pqmeta
    * schema predates the residual flavor (ADVICE r17 low: an
    * unconditional getAs threw on `fieldIndex` for pre-r17 indexes,
    * making them unreadable — every such index was written raw).
    */
  private def residualOf(meta: org.apache.spark.sql.Row): Boolean =
    meta.schema.fieldNames.contains("residual") &&
      meta.getAs[Boolean]("residual")

  /** The meta row's OPQ permutation, `None` for unrotated or pre-r18
    * indexes (the residualOf backward-compat rule).
    */
  private def permOf(meta: org.apache.spark.sql.Row): Option[Array[Int]] =
    if (!meta.schema.fieldNames.contains("perm") ||
        meta.isNullAt(meta.fieldIndex("perm"))) None
    else Some(meta.getSeq[Int](meta.fieldIndex("perm")).toArray)

  /** Learn the variance-balanced dimension permutation: per-dimension
    * variance in one aggregate over the training frame (dim `var_pop`
    * columns — a single pass, training-side only), dims sorted by
    * variance descending, snake-dealt across the m subspaces (round r
    * deals left-to-right when even, right-to-left when odd), so each
    * subspace's total variance is near-equal. Returned as
    * perm(newPos) = oldDim; deterministic (ties break by dim index).
    */
  private def learnPerm(shaped: DataFrame, dim: Int, m: Int): Array[Int] = {
    val aggs = (0 until dim).map(i =>
      var_pop(element_at(col("vecD"), i + 1)).as(s"v$i"))
    val row = shaped.agg(aggs.head, aggs.drop(1): _*).head()
    val byVar = (0 until dim)
      .sortBy(i => (-row.getDouble(i), i))
    val buckets = Array.fill(m)(List.newBuilder[Int])
    byVar.grouped(m).zipWithIndex.foreach { case (round, r) =>
      val slots = if (r % 2 == 0) 0 until m else (m - 1) to 0 by -1
      round.zip(slots).foreach { case (d, b) => buckets(b) += d }
    }
    buckets.flatMap(_.result()).toArray
  }

  /** Apply a dimension permutation to a shaped frame's vec/vecD — a
    * plain array constructor of literal-index lookups (codegen'd; no
    * HOF fallback), dim GetArrayItem expressions per column.
    */
  private def applyPerm(shaped: DataFrame, perm: Array[Int]): DataFrame = {
    def p(c: String) = array(perm.toIndexedSeq.map(i =>
      col(c).getItem(i)): _*).as(c)
    shaped.select(col("id"), p("vec"), p("vecD"))
  }

  /** Load the index's PQ parameters and flat codebook (index metadata —
    * m·kEff·sublen doubles), shared by [[pqAppend]] and [[pqSearch]].
    */
  private def loadPq(spark: SparkSession, indexDir: String)
      : (Int, Int, Int, Array[Double], Boolean) = {
    val meta = spark.read.parquet(s"$indexDir/pqmeta").head()
    val (m, kEff, sublen) = (meta.getAs[Int]("m"), meta.getAs[Int]("k"),
      meta.getAs[Int]("sublen"))
    val residual = residualOf(meta)
    val flat = new Array[Double](m * kEff * sublen)
    spark.read.parquet(s"$indexDir/pqcodes").collect().foreach { r =>
      val (sub, code) = (r.getInt(0), r.getInt(1))
      val cw = r.getSeq[Double](2)
      var j = 0
      while (j < sublen) {
        flat((sub * kEff + code) * sublen + j) = cw(j); j += 1
      }
    }
    (m, kEff, sublen, flat, residual)
  }

  /** Incremental maintenance under the FROZEN quantizer AND codebooks:
    * assign + encode only the delta and commit it as a new generation —
    * [[Vector.ivfAppend]]'s argument carried to the compressed index.
    * Freezing BOTH layers is what makes append ≡ build: cells come from
    * the stored centroids and codes from the stored codebooks, so the
    * appended postings are bit-identical to what a build over the union
    * would write (spec-pinned). Codebook drift under a large accumulated
    * delta degrades quantization error, not correctness; the rebalance
    * move is a fresh [[pqBuild]]. Caller owns id-uniqueness, as with
    * every index.
    */
  def pqAppend(
      spark: SparkSession,
      indexDir: String,
      delta: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    graft.ext.GraftFunctions.ensureVecDot(spark)
    val (m, kEff, sublen, flat, residual) = loadPq(spark, indexDir)
    val cents = Vector.readCentroids(spark, indexDir)
    require(cents.nonEmpty, s"no centroids at $indexDir — build first")
    val d0raw = delta.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("vec"),
      col(vecCol).cast("array<double>").as("vecD"))
    // appended vectors enter the index's rotated space (OPQ)
    val d0 = permOf(spark.read.parquet(s"$indexDir/pqmeta").head())
      .map(applyPerm(d0raw, _)).getOrElse(d0raw)
    val refinable = isRefinable(spark, indexDir)
    PqStore.append(spark, indexDir, pqTables(refinable)) { path =>
      stageGeneration(spark, d0, cents, flat, m, kEff, sublen, residual,
        refinable, path)
    }
  }

  /** Tombstone delete — [[graft.sources.StandingStore.delete]]: one
    * committed generation of removed ids; searches mask by the
    * later-generation rule (free until a delete exists),
    * delete-then-append revives, [[pqCompact]] folds.
    */
  def pqDelete(
      spark: SparkSession,
      indexDir: String,
      ids: DataFrame,
      idCol: String = "vec_id"): Unit =
    PqStore.delete(spark, indexDir, ids, idCol)

  /** Small-file compaction + tombstone fold — one file per cell, alive
    * rows only, frozen quantizer and codebooks, the refine vectors folded
    * beside the codes ([[graft.sources.StandingStore.compact]]).
    * Single-writer maintenance window.
    */
  def pqCompact(spark: SparkSession, indexDir: String): Unit =
    PqStore.compact(spark, indexDir)

  /** Heal an interrupted [[pqCompact]] swap — [[graft.sources.SwapDir]]'s
    * decision table; the refine table recovers only when any of its
    * three swap states is on disk.
    */
  def pqRecover(spark: SparkSession, indexDir: String): Unit =
    PqStore.recover(spark, indexDir)

  /** Driver-side L2 k-means over one subspace's sampled values:
    * deterministic farthest-point init from the (hash-ordered) sample's
    * head, a few Lloyd iterations, empty clusters keep their center.
    * Index-metadata scale by construction (≤ kmeansSample points of
    * `sublen` doubles per subspace).
    */
  private def kmeansL2(vals: IndexedSeq[Array[Double]], k: Int,
      iters: Int): IndexedSeq[Array[Double]] = {
    if (vals.size <= k) return vals
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val centers = scala.collection.mutable.ArrayBuffer(vals.head)
    val minD = scala.collection.mutable.ArrayBuffer.from(
      vals.map(d2(_, vals.head)))
    while (centers.size < k) {
      var best = 0; var bd = Double.NegativeInfinity; var i = 0
      while (i < vals.size) {
        if (minD(i) > bd) { bd = minD(i); best = i }; i += 1
      }
      val nc = vals(best)
      centers += nc
      minD(best) = Double.NegativeInfinity
      var j = 0
      while (j < vals.size) {
        if (minD(j) > Double.NegativeInfinity) {
          val d = d2(vals(j), nc)
          if (d < minD(j)) minD(j) = d
        }
        j += 1
      }
    }
    var cs = centers.toIndexedSeq
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cs.size)(new Array[Double](vals.head.length))
      val counts = new Array[Long](cs.size)
      vals.foreach { v =>
        var bi = 0; var bd = Double.MaxValue; var i = 0
        while (i < cs.size) {
          val d = d2(v, cs(i)); if (d < bd) { bd = d; bi = i }; i += 1
        }
        counts(bi) += 1
        var j = 0
        while (j < v.length) { sums(bi)(j) += v(j); j += 1 }
      }
      cs = cs.indices.map { i =>
        if (counts(i) == 0) cs(i)
        else sums(i).map(_ / counts(i))
      }
      it += 1
    }
    cs
  }

  /** x27_ann_ivfpq: the DECLARED compressed form — IVF-PQ over the raw
    * embeddings (m = 16 subspaces of 4 floats, 256-entry codebooks
    * trained by sampled k-means: 16 bytes of code per 256-byte vector),
    * nprobe = 4 of 16 cells, same probe set as x01/x06/x11. Rows-only
    * at the driver (ANN output is not SQL-restatable); VectorSpec pins
    * recall vs the exact x01 baseline and the storage ratio vs the
    * uncompressed IVF postings; x27b is the exact-path gate twin.
    */
  def x27(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = s"${graft.TempRoots.create("graft_x27_")}/ivfpq"
    pqBuild(emb, idx, nlist = 16, m = 16)
    pqSearch(spark, idx, emb.filter(col("vec_id") < 8), nprobe = 4)
      .orderBy("probe_id", "rank")
  }

  /** x27b_ann_ivfpq_gate: x27's EXACT twin through the identical build +
    * ADC search code path, hash-gated against a brute-force oracle. Two
    * levers make the sketch exact (VERDICT r15 #4's recipe): the corpus
    * is snapped to a 1/8 grid (`floor(x·8)/8` — ≤ 8 distinct values per
    * dimension on this fixture's [−0.53, 0.46] range), so with m = dim
    * (sublen = 1) every subspace has ≤ 256 distinct values and the
    * codebook is LOSSLESS by pqBuild's distinct-values path; and
    * nprobe = nlist probes every cell (x11b's argument), so the
    * candidate set is the whole corpus and each (probe, neighbor) pair
    * surfaces exactly once. ADC at sublen = 1 sums p_i·recon_i in
    * dimension order — bit-identical to the oracle's left-to-right dot
    * fold (q60's parity argument), with norms folded the same way on
    * both sides. x27 stays the declared approximate form; this twin
    * puts its entire pipeline (training, encode, cell assignment,
    * LUT scoring, rank window) under the driver's hash gate.
    */
  def x27b(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 8) / 8).as("embedding"))
    val idx = s"${graft.TempRoots.create("graft_x27b_")}/ivfpq"
    pqBuild(grid, idx, nlist = 16, m = 64)
    pqSearch(spark, idx, grid.filter(col("vec_id") < 8), nprobe = 16)
      .orderBy("probe_id", "rank")
  }

  /** x27c_ann_ivfpq_lifecycle: the FULL standing-index lifecycle under
    * the driver's hash gate — build over HALF the grid corpus, append
    * the other half under the frozen quantizer + codebooks, tombstone-
    * delete a slice, RE-APPEND it (revival: the later generation
    * outranks the tombstone, old copies stay masked — exactly one alive
    * copy), compact (tombs fold, one file per cell), then the all-cells
    * exact search. The final alive set is the whole corpus, so the
    * result must equal x27b's — SHARES x27b's oracle verbatim, putting
    * append/delete/revive/compact on the compressed index under the
    * hash gate (x21b's lifecycle precedent, applied to IVF-PQ).
    * Codebooks train on the FULL grid corpus (`trainOn`) while the
    * initial load is the even half — the production shape (train on a
    * representative sample, load shards incrementally), and what keeps
    * the odd half's codes lossless (a half-trained codebook measured
    * 25/80 rows off: dimensions whose edge values appear only in the
    * odd half quantize to the nearest even-half codeword).
    */
  def x27c(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 8) / 8).as("embedding"))
    val idx = s"${graft.TempRoots.create("graft_x27c_")}/ivfpq"
    pqBuild(grid.filter(col("vec_id") % 2 === 0), idx, nlist = 16,
      m = 64, trainOn = Some(grid))
    pqAppend(spark, idx, grid.filter(col("vec_id") % 2 === 1))
    val slice = grid.filter(col("vec_id") % 10 === 3)
    pqDelete(spark, idx, slice.select("vec_id"))
    pqAppend(spark, idx, slice)
    pqCompact(spark, idx)
    pqSearch(spark, idx, grid.filter(col("vec_id") < 8), nprobe = 16)
      .orderBy("probe_id", "rank")
  }

  /** x27d_ann_ivfpq_residual: the RESIDUAL flavor's exact gate twin
    * (VERDICT r16 #6 — FAISS `by_residual = true`): x27b's grid-snap +
    * m = dim construction, with codes over (vector − centroid) and the
    * coarse CENTROIDS snapped to the same 1/8 grid. The pigeonhole
    * survives residuals: per subspace the distinct residual values are
    * (grid values) − (snapped centroid values) — ≤ ~81 ≪ 256 pooled
    * across cells — so the codebook is lossless; and because every
    * operand is a small dyadic rational (a/8 coordinates, ab/64
    * products, exactly-representable partial sums), residual
    * reconstruction is c + (v − c) = v EXACTLY and the two-term score
    * ⟨p,c⟩ + ADC(residual) equals the oracle's left-to-right dot fold
    * bit for bit. nprobe = nlist probes every cell (x11b). SHARES
    * x27b's oracle verbatim — training-on-residuals, the residual
    * kernel, the per-(probe, cell) base term and the rank window all
    * land under the driver's hash gate. The PRODUCTION residual trade
    * (recall at equal code budget on the real corpus, unsnapped) is
    * pinned in VectorSpec against the raw-PQ floor.
    */
  def x27d(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 8) / 8).as("embedding"))
    val idx = s"${graft.TempRoots.create("graft_x27d_")}/ivfpq"
    pqBuild(grid, idx, nlist = 16, m = 64, byResidual = true,
      centroidSnap = Some(8))
    pqSearch(spark, idx, grid.filter(col("vec_id") < 8), nprobe = 16)
      .orderBy("probe_id", "rank")
  }

  /** x27e_ann_ivfpq_opq: the OPQ rotation's exact gate twin (VERDICT
    * r17 #6): x27b's grid-snap + m = dim construction built with
    * `opq = true` — the LEARNED variance-balanced permutation rotates
    * corpus, coarse quantizer, codebooks and probes into one space.
    * Exactness survives the rotation bit for bit: a permutation is
    * orthogonal (rotated cosines ARE original cosines), the pigeonhole
    * still holds per permuted subspace (the same ≤ 9 grid values land
    * there), and over the grid fixture every product and partial sum is
    * an exactly-representable dyadic rational, so the PERMUTED
    * summation order changes nothing — the ADC score equals the
    * oracle's left-to-right fold exactly. SHARES x27b's oracle
    * verbatim. The PRODUCTION claim (recall at the raw floor with
    * sublen > 1, where the permutation genuinely remixes dimensions
    * within subspaces) is pinned in VectorSpec.
    */
  def x27e(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 8) / 8).as("embedding"))
    val idx = s"${graft.TempRoots.create("graft_x27e_")}/ivfpq"
    pqBuild(grid, idx, nlist = 16, m = 64, opq = true)
    pqSearch(spark, idx, grid.filter(col("vec_id") < 8), nprobe = 16)
      .orderBy("probe_id", "rank")
  }

  /** x27f_ann_ivfpq_refine: the refine stage's EXACT gate (r19 —
    * VERDICT r18 #5). Unlike the other twins this one runs a genuinely
    * LOSSY codebook (m = 16 → 4-dim subquantizers over the grid corpus:
    * up to ~9⁴ distinct subvectors ≫ 256 codewords, sampled k-means),
    * so the ADC ranking is approximate — and the refine stage must
    * repair it: with nprobe = nlist (every cell probed) and a refine
    * budget covering every candidate, the final top-k re-scores
    * entirely against the stored flat vectors and equals brute force
    * EXACTLY, whatever the quantization error did to the ADC order.
    * The exact scorer folds dot and norm in dimension order on both
    * sides, so the gate is hash-exact — SHARES x27b's oracle. The
    * production claim (refine ≥ no-refine recall at equal nprobe on
    * the real corpus, candidates-only re-read) is pinned in VectorSpec.
    */
  def x27f(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 8) / 8).as("embedding"))
    val idx = s"${graft.TempRoots.create("graft_x27f_")}/ivfpq"
    pqBuild(grid, idx, nlist = 16, m = 16, refinable = true)
    pqSearch(spark, idx, grid.filter(col("vec_id") < 8), nprobe = 16,
      refine = Int.MaxValue)
      .orderBy("probe_id", "rank")
  }

  /** x27b's own oracle: q60's brute-force shape over the grid-snapped
    * corpus — the same left-to-right folds for dot and norm.
    */
  val x27bSql: String =
    """WITH v AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> floor(CAST(x AS DOUBLE) * 8) / 8) AS vec
      |  FROM embeddings),
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
}
