package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.Schemas
import graft.engine.EngineErrors.NotFoundError

/** IVF+PQ combined index — the standard billion-scale ANN architecture
  * (FAISS `IndexIVFPQ`): a coarse quantizer prunes the corpus to the
  * `nprobe` nearest inverted lists, and within those lists candidates are
  * scored from PRODUCT-QUANTIZED RESIDUALS (vector minus its assigned
  * centroid) with an ADC lookup table — M one-byte codes per vector, no
  * float kernel on the scan.
  *
  * Why this is the 100 TB shape: the codes table is M bytes + ids per
  * vector (it deliberately does NOT carry the stored vector, unlike the
  * engine's flat-PQ family) and is partitioned by centroid via the
  * `centroid_id IN (...)` pushdown, so a query reads `nprobe/k`-th of a
  * byte-compressed corpus, map-only. The exact rerank hydrates only the
  * capped candidate set (≤ 6k rows) from the primary chunk store by id —
  * at 100 TB that is the difference between scanning terabytes of floats
  * and scanning gigabytes of codes.
  *
  * Determinism: "ivfpq" uses the md5-seed init family end-to-end
  * (init-only centroids = IvfIndex.seedCentroids; residual codebooks =
  * residuals of the K lowest-md5 chunks), so the ENTIRE
  * build+encode+probe+ADC+rerank pipeline is pure arithmetic a DuckDB
  * oracle replays and hash-checks. "ivfpq_trained" runs Lloyd's on both
  * stages (IvfIndex.build coarse quantizer + per-subspace Lloyd on
  * residual slices) — deterministic run-to-run, sharper cells/codebooks,
  * rows-only checked like the other trained paths.
  *
  * Residual distances accumulate as exact integer MICRO-UNITS
  * (floor(d*1e6+0.5) summed as longs, the PqIndex convention) so candidate
  * ranking cannot diverge across engines or summation orders.
  *
  * Reference anchor: the reference's IVF (`indexing/ivf.py`) stores raw
  * vectors in its postings; PQ-compressing the postings is the documented
  * scale extension, not a port.
  */
object IvfPqIndex {

  val Oversample = 6 // candidate cap multiplier, as the other families

  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Residuals of the assigned corpus: join the (map-only) centroid
    * assignment to the broadcast centroid table and subtract element-wise
    * in FLOAT (both sides are float-cast, so the oracle's REAL arithmetic
    * reproduces every bit).
    */
  private def residuals(assignments: DataFrame, centroidsDf: DataFrame): DataFrame =
    assignments
      .join(broadcast(centroidsDf.select(col("centroid_id"), col("vector"))),
        Seq("centroid_id"))
      .select(col("centroid_id"), col("chunk_id"),
        zip_with(col("embedding_norm"), col("vector"), (a, b) => a - b).as("res"))

  /** Build (centroids, codebooks, codes). `trained = false` is the
    * fully-oracleable md5-seed mode; `trained = true` runs Lloyd's on both
    * the coarse quantizer and the residual codebooks.
    */
  def build(chunksDf: DataFrame, libraryId: String, dim: Int,
      numCentroids: Int, subspaces: Int, codewords: Int,
      trained: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val spark = chunksDf.sparkSession
    val subDim = dim / subspaces
    val sampleCap = if (trained) IvfIndex.trainCap(codewords) else codewords
    // ONE md5-ordered TakeOrdered serves BOTH the seed centroids and the
    // untrained codebook sample (optimization r16): the seed set is the
    // numCentroids-prefix and the sample the sampleCap-prefix of the same
    // total h-ascending order, so values are bit-identical to the two
    // separate normalized scans this used to run.
    val seedRows: Array[(String, Array[Double])] =
      if (trained) Array.empty
      else IvfIndex.lowestMd5Normalized(chunksDf,
        math.max(numCentroids, sampleCap))
    val (centroidsDf, assignments) =
      if (trained) IvfIndex.build(chunksDf, libraryId, numCentroids)
      else {
        val cents = IvfIndex.seedCentroidsFromRows(spark, seedRows,
          libraryId, numCentroids)
        (cents, IvfIndex.assignToCentroids(chunksDf, cents, libraryId))
      }
    val res = residuals(assignments, centroidsDf)
    // md5-ordered bounded sample: the first k rows ARE the k-lowest-md5
    // seeds (the content-derived init convention shared by IVF and PQ).
    // Untrained mode replays the assignment + float subtraction DRIVER-side
    // over just the sampled rows (bit-identical: the stored float centroids
    // are exactly what assignToCentroids collects, and dot/subtract repeat
    // the executor arithmetic) — the sample rows come from the SHARED
    // seed collect above, zero extra corpus passes. Trained mode keeps
    // the res-based sample: its assignments come from Lloyd's DOUBLE
    // centroids, which the float centroid table cannot replay exactly.
    val sample: Array[(String, Array[Float])] =
      if (trained)
        res.withColumn("h", md5(col("chunk_id")))
          .orderBy(col("h").asc).limit(sampleCap)
          .select(col("chunk_id"), col("res")).collect()
          .map(r => (r.getString(0), r.getSeq[Float](1).toArray))
      else {
        val centsF: Array[Array[Float]] = centroidsDf
          .orderBy(col("centroid_id")).collect()
          .map(_.getSeq[Float](2).toArray)
        val centsD = centsF.map(_.map(_.toDouble))
        if (centsF.isEmpty) Array.empty
        else seedRows.take(sampleCap)
          .map { case (id, vn) =>
            var best = 0; var bestDot = Double.NegativeInfinity
            var c = 0
            while (c < centsD.length) {
              val ct = centsD(c)
              var dot = 0.0; var i = 0
              while (i < math.min(vn.length, ct.length)) { dot += vn(i) * ct(i); i += 1 }
              if (dot > bestDot) { bestDot = dot; best = c }
              c += 1
            }
            val cf = centsF(best)
            val vnf = vn.map(_.toFloat)
            (id, Array.tabulate(vnf.length)(i => vnf(i) - cf(i)))
          }
      }
    if (sample.isEmpty)
      return (centroidsDf,
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.pqCodebooks),
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.ivfpqCodes))
    val k = math.min(codewords, sample.length)
    val cb =
      if (!trained) {
        // codeword id in CHUNK_ID order over the md5 seeds (the DuckDB
        // replay's row_number-by-chunk_id contract, as PqIndex)
        val seeds = sample.sortBy(_._1).map(_._2)
        Array.tabulate(subspaces, k)((m, j) =>
          seeds(j).slice(m * subDim, (m + 1) * subDim))
      } else {
        val vecs = sample.map(_._2)
        val init = vecs.take(k)
        Array.tabulate(subspaces) { m =>
          PqIndex.trainSubspace(vecs.map(_.slice(m * subDim, (m + 1) * subDim)),
            init.map(_.slice(m * subDim, (m + 1) * subDim)), k)
        }
      }
    val cbRows = for {
      m <- 0 until subspaces; j <- 0 until k
    } yield Row(libraryId, m, j, cb(m)(j).toSeq)
    val codebooksDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cbRows, 1), Schemas.pqCodebooks)
    (centroidsDf, codebooksDf, encodeResiduals(res, cb, libraryId))
  }

  /** Encode NEW chunks against EXISTING centroids + codebooks (incremental
    * add between rebuilds: assign, residual, argmin codeword — no retrain).
    */
  def encode(chunksDf: DataFrame, centroidsDf: DataFrame,
      codebooksDf: DataFrame, libraryId: String): DataFrame = {
    val cb = PqIndex.collectCodebooks(codebooksDf)
    if (cb.isEmpty)
      return chunksDf.sparkSession.createDataFrame(
        chunksDf.sparkSession.sparkContext.emptyRDD[Row], Schemas.ivfpqCodes)
    val assignments = IvfIndex.assignToCentroids(chunksDf, centroidsDf, libraryId)
    encodeResiduals(residuals(assignments, centroidsDf), cb, libraryId)
  }

  /** One map-only projection over the residuals: the `PqEncode` codegen
    * kernel loops over the codebook reference object (argmin dist,
    * earliest codeword on ties) — compile cost constant in K, and the
    * residual zip_with is consumed exactly ONCE (the former K-unrolled
    * tree referenced it ~3x per subspace). The stored row is (ids, M
    * small ints) — no vector. Values are bit-identical to the unrolled
    * formulation (see PqExpressions' numeric contract).
    */
  private def encodeResiduals(res: DataFrame, cb: Array[Array[Array[Float]]],
      libraryId: String): DataFrame =
    res.select(
      lit(libraryId).as("library_id"),
      col("centroid_id"),
      col("chunk_id"),
      graft.functions.PqExpressions.pqEncode(col("res"), cb).as("codes"))

  /** The query's ADC table for ONE probed cell: residual vs the cell's
    * centroid (float subtraction — the same arithmetic the encoded
    * residuals used), then the flat m-major codeword distance table.
    * Shared by the single-query `candidates` and the batched engine path.
    */
  def dtabForCell(qnorm: Array[Float], cvec: Array[Float],
      cb: Array[Array[Array[Float]]]): Array[Long] =
    PqIndex.dtabFlat(qnorm.zip(cvec).map { case (a, b) => a - b }, cb)

  /** Per-candidate ADC distance: M lookups into the flat `dtab` column +
    * long adds (codegen'd). Shared contribution expression for the single
    * and batched probes.
    */
  def adcDistExpr(subspaces: Int, kw: Int): Column =
    (0 until subspaces).map(m =>
      element_at(col("dtab"),
        lit(m * kw) + element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)

  /** DISTRIBUTED ADC for DataFrame-scale query sets: the per-(query[,
    * cell]) micro-unit distance table is materialized once per probe pair
    * by the [[graft.functions.PqExpressions.AdcDtab]] codegen loop kernel
    * (the driver `dtabForCell` hoisted onto executors), and each
    * candidate row then sums M lookups via [[adcDistExpr]] — the FAISS
    * ADC-table shape; replaced a per-candidate slice+dot expression that
    * evaluated ~20x slower at corpus-scale query counts. Same sequential
    * double dots, `(qq + cc) - 2.0*dot` association, and per-subspace
    * floors as the driver dtab, so ranks are bit-identical and the DuckDB
    * replays are unchanged.
    */
  def adcDtabExpr(res: Column, cb: Array[Array[Array[Float]]]): Column =
    graft.functions.PqExpressions.adcDtab(res, cb)

  def candidates(codesDf: DataFrame, topCents: Array[(Int, Array[Float])],
      cb: Array[Array[Array[Float]]], qnorm: Array[Float], k: Int): DataFrame = {
    val subspaces = cb.length
    val kw = cb(0).length
    val dtabMap: Map[Int, Seq[Long]] = topCents.map { case (cid, cv) =>
      cid -> dtabForCell(qnorm, cv, cb).toIndexedSeq
    }.toMap
    val contribs: Column = adcDistExpr(subspaces, kw)
    codesDf
      .filter(col("centroid_id").isin(topCents.map(c => Int.box(c._1)).toIndexedSeq: _*))
      .select(col("chunk_id"), col("codes"),
        element_at(typedLit(dtabMap), col("centroid_id")).as("dtab"))
      .select(col("chunk_id"), contribs.as("dist_u"))
      .orderBy(col("dist_u").asc, col("chunk_id").asc)
      .limit(Oversample * k)
      .select("chunk_id")
  }
}

/** The IVF+PQ family (`ivfpq`: md5 seeds; `ivfpq_trained`: Lloyd). */
object IvfPqFamily extends ResidualFamily("ivfpq", Seq("ivfpq", "ivfpq_trained")) {
  type State = Array[Array[Array[Float]]]
  def codesTable: String = "ivfpq_codes"
  def oversample: Int = IvfPqIndex.Oversample

  def build(ctx: IndexContext): Unit = {
    val c = ctx.config
    val (centroids, codebooks, codes) = IvfPqIndex.build(ctx.chunks, ctx.libId,
      ctx.dim, c.ivfNumCentroids, c.pqSubspaces, c.pqCodewords, trained = trained(ctx))
    ctx.write("ivf_centroids", centroids)
    ctx.write("pq_codebooks", codebooks)
    ctx.write("ivfpq_codes", codes)
  }

  /** Assign + residual-encode against the EXISTING cells and codebooks. */
  def add(ctx: IndexContext, newChunks: DataFrame): Unit =
    ctx.built("ivf_centroids", "pq_codebooks").foreach { case Seq(cents, cb) =>
      ctx.append("ivfpq_codes", IvfPqIndex.encode(newChunks, cents, cb, ctx.libId))
    }

  def load(ctx: IndexContext): Option[State] =
    if (!ctx.cellsBuilt || !ctx.exists("pq_codebooks")) None
    else Some(PqIndex.collectCodebooks(ctx.part("pq_codebooks"))).filter(_.nonEmpty)

  /** Centroid-pruned codes scan with per-cell ADC tables, cap 6k. */
  def candidates(ctx: IndexContext, cb: State, q: Query): Option[DataFrame] =
    Some(hydrate(ctx, IvfPqIndex.candidates(q.restrict(ctx.part("ivfpq_codes")),
      ctx.probe(q.qn), cb, q.qn, q.k)))

  /** Each (query, cell) pair's ADC table, built on executors. */
  def residualTable(cb: State, res: Column): Column =
    IvfPqIndex.adcDtabExpr(res, cb).as("dtab")
  def residualDist(cb: State): Column = IvfPqIndex.adcDistExpr(cb.length, cb(0).length)

  /** The RESIDUAL codes against the true residuals (as encoded). */
  def quantizationError(ctx: IndexContext): DataFrame = {
    if (!ctx.exists("ivfpq_codes"))
      throw new NotFoundError(s"ivfpq index for library ${ctx.libId}")
    val cb = PqIndex.collectCodebooks(ctx.part("pq_codebooks"))
    if (cb.isEmpty) throw new NotFoundError(s"ivfpq index for library ${ctx.libId}")
    val cents = broadcast(ctx.part("ivf_centroids")
      .select(col("centroid_id"), col("vector").as("cvec")))
    val res = (d: Int) =>
      (element_at(col("vnorm"), d + 1) - element_at(col("cvec"), d + 1)).cast("double")
    IndexFamily.errorSummary(ctx.part("ivfpq_codes")
      .join(IndexFamily.truthNorms(ctx), "chunk_id").join(cents, "centroid_id")
      .select(PqIndex.reconErr(cb, res).as("err_u")))
  }
}
