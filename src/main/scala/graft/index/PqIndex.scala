package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.Schemas
import graft.engine.EngineErrors.NotFoundError
import graft.functions.VectorFunctions._

/** PRODUCT-QUANTIZATION index: vectors are compressed to M small codes
  * (nearest codeword per dim/M-dim subspace of the normalized vector) and
  * queries score candidates with an ADC (asymmetric distance computation)
  * lookup table — M integer adds per candidate instead of a full float
  * kernel. The memory-bound ANN family FAISS popularized: the codes table
  * is M bytes/vector, so at 100 TB of embeddings the candidate scan reads
  * a small fraction of the raw data, map-only.
  *
  * Codebooks are CONTENT-DERIVED (the K lowest md5(chunk_id) normalized
  * vectors, codeword id in chunk_id order — the same init family as the
  * engine's deterministic IVF): reproducible on any cluster and fully
  * replayable by the DuckDB oracle. Distances accumulate as exact integer
  * MICRO-UNITS (floor(d*1e6+0.5) per subspace, summed as longs), so
  * candidate ranking is immune to float summation order.
  *
  * Vectors are L2-NORMALIZED before slicing (quirk-Q1-consistent with the
  * LSH/IVF families): on the unit sphere ||a-b||^2 = 2 - 2*cos, so
  * ascending quantized L2 distance approximates descending cosine, and
  * the exact rerank stage restores the engine's scoring contract.
  */
object PqIndex {

  val Oversample = 6 // candidate cap multiplier, as the other families

  /** (chunk_id, vnf): FLOAT-normalized non-zero vectors — float-cast
    * before slicing so stored codebooks, codes, and the oracle replay all
    * quantize the identical values.
    */
  private def normalizedF(chunksDf: DataFrame): DataFrame =
    chunksDf.filter(col("embedding").isNotNull)
      .select(col("id").as("chunk_id"), l2Normalize(col("embedding")).as("vn"))
      .filter(col("vn").isNotNull)
      .select(col("chunk_id"), transform(col("vn"), _.cast("float")).as("vnf"))

  /** Build (codebooks, codes) for a library. `dim` must be divisible by
    * `subspaces` (the engine validates). Codeword count clamps to the
    * corpus size, like IVF's k = min(...) clamp.
    *
    * `trained = false`: codebooks are the seed slices directly — fully
    * SQL-replayable (the oracled "pq" mode). `trained = true`: each
    * subspace runs its own Lloyd's k-means (KmeansIters rounds, plain L2
    * on slices — the standard PQ trainer) over a BOUNDED deterministic
    * sample (the IvfIndex trainCap convention), initialized from the same
    * md5 seeds — deterministic run-to-run, sharper codebooks, not
    * SQL-replayable (rows-only checked, like the seeded LSH/IVF paths).
    */
  def build(chunksDf: DataFrame, libraryId: String, dim: Int,
      subspaces: Int, codewords: Int,
      trained: Boolean = false): (DataFrame, DataFrame) = {
    val spark = chunksDf.sparkSession
    val subDim = dim / subspaces
    val data = normalizedF(chunksDf)
    val sampleCap =
      if (trained) IvfIndex.trainCap(codewords) else codewords
    // md5-ordered: the first k rows ARE the k-lowest-md5 seeds (the same
    // content-derived init convention as IvfIndex)
    val sampleMd5 = data.withColumn("h", md5(col("chunk_id")))
      .orderBy(col("h").asc).limit(sampleCap)
      .select(col("chunk_id"), col("vnf")).collect()
    if (sampleMd5.isEmpty)
      return (spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          Schemas.pqCodebooks),
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          Schemas.pqCodes))
    val k = math.min(codewords, sampleMd5.length)
    val cb =
      if (!trained) {
        // oracled mode: codeword id in CHUNK_ID order over the md5 seeds
        // (the DuckDB replay's row_number-by-chunk_id contract)
        val seeds = sampleMd5.sortBy(_.getString(0))
          .map(_.getSeq[Float](1).toArray)
        Array.tabulate(subspaces, k)((m, j) =>
          seeds(j).slice(m * subDim, (m + 1) * subDim))
      } else {
        // trained mode: init from the k LOWEST-md5 vectors in md5 order
        // (IvfIndex's init convention), Lloyd over the whole sample
        val vecs = sampleMd5.map(_.getSeq[Float](1).toArray)
        val init = vecs.take(k)
        Array.tabulate(subspaces) { m =>
          trainSubspace(vecs.map(_.slice(m * subDim, (m + 1) * subDim)),
            init.map(_.slice(m * subDim, (m + 1) * subDim)), k)
        }
      }
    val cbRows = for {
      m <- 0 until subspaces; j <- 0 until k
    } yield Row(libraryId, m, j, cb(m)(j).toSeq)
    val codebooksDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cbRows, 1), Schemas.pqCodebooks)
    (codebooksDf, encodeWith(data, cb, libraryId))
  }

  /** Per-subspace Lloyd's: argmin-L2 assignment (earliest codeword on
    * ties) PARALLELIZED across cores like IvfIndex.lloydDriver, then
    * per-cluster sums accumulated sequentially in SAMPLE ORDER — results
    * deterministic regardless of thread scheduling. The sample is bounded
    * (trainCap), so the whole loop is driver-side.
    */
  private[index] def trainSubspace(slices: Array[Array[Float]],
      init: Array[Array[Float]], k: Int): Array[Array[Float]] = {
    import scala.collection.parallel.CollectionConverters._
    val d = slices.head.length
    var cents = init.map(_.map(_.toDouble))
    val assignments = new Array[Int](slices.length)
    var iter = 0
    while (iter < IvfIndex.KmeansIters) {
      val cs = cents
      (0 until slices.length).par.foreach { i =>
        val v = slices(i)
        var best = 0; var bestDist = Double.MaxValue
        var c = 0
        while (c < k) {
          val ct = cs(c)
          var dist = 0.0; var j = 0
          while (j < d) {
            val diff = v(j).toDouble - ct(j); dist += diff * diff; j += 1
          }
          if (dist < bestDist) { bestDist = dist; best = c }
          c += 1
        }
        assignments(i) = best
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      var i = 0
      while (i < slices.length) {
        val sb = sums(assignments(i)); val v = slices(i)
        var j = 0
        while (j < d) { sb(j) += v(j).toDouble; j += 1 }
        counts(assignments(i)) += 1
        i += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0L) cents(c)
        else sums(c).map(_ / counts(c))
      }
      iter += 1
    }
    cents.map(_.map(_.toFloat))
  }

  /** (m -> k -> slice), ordered; driver-side, M*K*subDim floats. */
  def collectCodebooks(codebooksDf: DataFrame): Array[Array[Array[Float]]] =
    codebooksDf.orderBy(col("m").asc, col("k").asc).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getSeq[Float](3).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
      .toArray

  /** Encode NEW chunks against existing codebooks (incremental add). */
  def encode(chunksDf: DataFrame, codebooksDf: DataFrame,
      libraryId: String): DataFrame = {
    val cb = collectCodebooks(codebooksDf)
    if (cb.isEmpty)
      return chunksDf.sparkSession.createDataFrame(
        chunksDf.sparkSession.sparkContext.emptyRDD[Row], Schemas.pqCodes)
    encodeWith(normalizedF(chunksDf), cb, libraryId)
  }

  /** The query's ADC distance table to EVERY codeword, flattened m-major
    * (index = m*K + k), in integer micro-units — the single-query
    * `candidates` (and, per cell residual, `IvfPqIndex.dtabForCell`)
    * ship it to executors as a literal. The batch path
    * (`VectorEngine.annJoin`) computes the same table on executors with
    * the AdcDtab kernel (`IvfPqIndex.adcDtabExpr`), which PipelineOpsSpec
    * pins bit for bit against this function, so the two paths can never
    * diverge arithmetically.
    */
  def dtabFlat(qnorm: Array[Float], cb: Array[Array[Array[Float]]]): Array[Long] = {
    val subDim = cb(0)(0).length
    cb.indices.iterator.flatMap { m =>
      val qs = qnorm.slice(m * subDim, (m + 1) * subDim)
      val qq = dotD(qs, qs)
      cb(m).iterator.map { c =>
        val dist = qq + dotD(c, c) - 2.0 * dotD(qs, c)
        math.floor(dist * 1000000.0 + 0.5).toLong
      }
    }.toArray
  }

  private[index] def dotD(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** One map-only projection: the `PqEncode` codegen kernel loops over the
    * codebook reference object (argmin dist, earliest codeword on ties) —
    * compile cost constant in K, unlike the former K-unrolled
    * `array_sort(array(struct...))` tree that could not survive K=256.
    * Values are bit-identical (see PqExpressions' numeric contract).
    */
  private def encodeWith(data: DataFrame, cb: Array[Array[Array[Float]]],
      libraryId: String): DataFrame =
    data.select(
      lit(libraryId).as("library_id"),
      col("chunk_id"),
      graft.functions.PqExpressions.pqEncode(col("vnf"), cb).as("codes"),
      col("vnf").as("embedding_norm"))

  /** Decode-error fold of the quantization audits: sum over dims of
    * floor((cb[m][codes[m]][j] - truth(d))^2 * 1e6 + 0.5) as exact BIGINT
    * micro-units, the per-(m,j) codeword component lookup a K-length plan
    * literal.
    */
  def reconErr(cb: Array[Array[Array[Float]]], truthAt: Int => Column): Column = {
    val dsub = cb(0)(0).length
    (for (mi <- cb.indices; j <- 0 until dsub) yield {
      val lut = typedLit(cb(mi).map(_(j).toDouble).toIndexedSeq)
      val dec = element_at(lut, element_at(col("codes"), mi + 1) + 1)
      val diff = dec - truthAt(mi * dsub + j)
      floor(diff * diff * lit(1000000.0) + lit(0.5)).cast("long")
    }).reduce(_ + _)
  }

  /** ADC candidate generation: the distance table from the (normalized)
    * query to every codeword is computed DRIVER-side in integer
    * micro-units and broadcast as literals; per candidate the score is M
    * array lookups + long adds — a codegen map stage over the codes scan,
    * capped at Oversample*k by (distance asc, chunk_id asc).
    */
  def candidates(codesDf: DataFrame, cb: Array[Array[Array[Float]]],
      qnorm: Array[Float], k: Int): DataFrame = {
    val subspaces = cb.length
    val dtabU: Array[Array[Long]] =
      dtabFlat(qnorm, cb).grouped(cb(0).length).toArray
    val contribs = (0 until subspaces).map(m =>
      element_at(typedLit(dtabU(m).toSeq),
        element_at(col("codes"), m + 1) + 1))
    codesDf
      .select(col("chunk_id"), col("embedding_norm"),
        contribs.reduce(_ + _).as("dist_u"))
      .orderBy(col("dist_u").asc, col("chunk_id").asc)
      .limit(Oversample * k)
      .select(col("chunk_id"), col("embedding_norm"))
  }
}

/** The PQ family (`pq`: md5 codebooks; `pq_trained`: Lloyd). */
object PqFamily extends IndexFamily("pq", Seq("pq", "pq_trained"))
    with QuantizationAudit {
  type State = Array[Array[Array[Float]]]

  override def markers: Seq[(String, String)] = Seq("pq_codes" -> "pq")

  def build(ctx: IndexContext): Unit = {
    val c = ctx.config
    val (codebooks, codes) = PqIndex.build(ctx.chunks, ctx.libId, ctx.dim,
      c.pqSubspaces, c.pqCodewords, trained = trained(ctx))
    ctx.write("pq_codebooks", codebooks)
    ctx.write("pq_codes", codes)
  }

  def add(ctx: IndexContext, newChunks: DataFrame): Unit =
    ctx.built("pq_codebooks").foreach { case Seq(cb) =>
      ctx.append("pq_codes", PqIndex.encode(newChunks, cb, ctx.libId))
    }

  def load(ctx: IndexContext): Option[State] =
    if (!ctx.exists("pq_codebooks")) None
    else Some(PqIndex.collectCodebooks(ctx.part("pq_codebooks"))).filter(_.nonEmpty)

  /** ADC over the codes scan (integer micro-unit distances, cap 6k). */
  def candidates(ctx: IndexContext, cb: State, q: Query): Option[DataFrame] =
    Some(PqIndex.candidates(q.restrict(ctx.part("pq_codes")), cb, q.qn, q.k))

  /** Flat ADC with the single path's micro-unit floors; the query frame
    * is broadcast explicitly (a stats-less plan would otherwise fall to a
    * CartesianProduct over the codes).
    */
  def candidates(ctx: IndexContext, cb: State, b: Batch): BatchCandidates = {
    val qrs = b.qn.select(col("query_id"),
      IvfPqIndex.adcDtabExpr(col("qnorm"), cb).as("dtab"))
    val dists = b.restrict(ctx.part("pq_codes"))
      .crossJoin(broadcast(qrs))
      .select(col("query_id"), col("chunk_id"),
        IvfPqIndex.adcDistExpr(cb.length, cb(0).length).as("dist_u"))
    val capped = b.capPerQuery(dists, -col("dist_u"), PqIndex.Oversample * b.k)
    BatchCandidates(ctx.part("pq_codes").select(col("chunk_id"), col("embedding_norm"))
      .join(capped, Seq("chunk_id")))
  }

  /** Codes decoded against the vector stored beside them: no join. */
  def quantizationError(ctx: IndexContext): DataFrame = {
    val cb = PqIndex.collectCodebooks(ctx.part("pq_codebooks"))
    if (cb.isEmpty) throw new NotFoundError(s"pq index for library ${ctx.libId}")
    IndexFamily.errorSummary(ctx.part("pq_codes")
      .select(PqIndex.reconErr(cb, d => element_at(col("embedding_norm"), d + 1)
        .cast("double")).as("err_u")))
  }
}
