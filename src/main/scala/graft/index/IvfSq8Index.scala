package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.Schemas
import graft.engine.EngineErrors.NotFoundError

/** IVF + scalar-quantization composite index — FAISS's `IVF,SQ8`: coarse
  * cells from the deterministic md5-seeded centroids
  * ([[IvfIndex.seedCentroids]], zero-RNG), and within each cell the
  * RESIDUAL (normalized vector minus its centroid) quantized to one byte
  * per dimension against per-(cell, dim) [lo, hi] ranges learned from the
  * build corpus. The scan table is the centroid-partitioned byte-code
  * inverted list (`centroid_id IN (...)` pushdown prunes it to
  * nprobe/K-th of the corpus, as ivfpq), and the "codebook" is
  * 2 doubles x dim per cell — metadata scale, folded into the probed
  * cells' scan expressions as plan literals.
  *
  * Determinism: NO RNG anywhere (md5 seeds, min/max ranges, closed-form
  * encode/decode), so build + incremental add/delete + search are all
  * replayed and hash-checked by the DuckDB oracle, like the flat-SQ8 and
  * det families.
  *
  * Incremental contract (add-after-train): [[encode]] assigns new
  * vectors to the FROZEN centroids and quantizes their residuals against
  * the FROZEN per-cell ranges, CLAMPING codes to [0, 255] — exactly
  * [[Sq8Index]]'s frozen-range degradation, per cell. Every cell has
  * >= 1 build member (a seed's own vector dots itself at 1.0, the
  * maximum for normalized vectors), so every cell has ranges.
  *
  * Reference anchor: the reference has no compressed or composite family
  * (`indexing/` stores raw vectors); this is the documented scale
  * extension completing the FAISS triple (PQ / IVFPQ / SQ8 -> IVF,SQ8).
  */
object IvfSq8Index {

  val Oversample = 6 // candidate cap multiplier, as the other families

  /** Residuals of the assigned corpus: FLOAT subtraction of the
    * float-cast normalized vector and its centroid (both sides float, so
    * the oracle's REAL arithmetic reproduces every bit — the ivfpq
    * residual contract).
    */
  private def residuals(assignments: DataFrame,
      centroidsDf: DataFrame): DataFrame =
    assignments
      .join(broadcast(centroidsDf.select(col("centroid_id"), col("vector"))),
        Seq("centroid_id"))
      .select(col("centroid_id"), col("chunk_id"),
        zip_with(col("embedding_norm"), col("vector"), (a, b) => a - b).as("res"))

  /** Build (centroids, params, codes): seed cells, assign, ONE
    * per-(cell, dim) min/max aggregate over the residuals (output
    * K x dim rows however large the corpus), then the map-side clamped
    * encode of every residual against its cell's ranges. Empty corpus
    * yields empty frames with the correct schemas.
    */
  def build(chunksDf: DataFrame, libraryId: String, dim: Int,
      numCentroids: Int): (DataFrame, DataFrame, DataFrame) = {
    val spark = chunksDf.sparkSession
    def empty(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    val centroidsDf = IvfIndex.seedCentroids(chunksDf, libraryId, numCentroids)
    if (centroidsDf.isEmpty)
      return (centroidsDf, empty(Schemas.ivfsq8Params), empty(Schemas.ivfsq8Codes))
    val assignments = IvfIndex.assignToCentroids(chunksDf, centroidsDf, libraryId)
    val res = residuals(assignments, centroidsDf)
    val rows = res
      .select(col("centroid_id"), posexplode(col("res")).as(Seq("pos", "x")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val params = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.toIndexedSeq.map { case (c, pos, lo, hi) =>
          Row(libraryId, c, pos, lo, hi)
        }, 1),
      Schemas.ivfsq8Params)
    val pmap = toParamMap(rows.map { case (c, pos, lo, hi) => (c, pos, lo, hi) })
    (centroidsDf, params, encodeWith(res, pmap, libraryId))
  }

  /** Driver-collected per-cell ranges, pos-ordered per centroid —
    * metadata scale (2 doubles x dim x K).
    */
  def collectParams(paramsDf: DataFrame): Map[Int, Array[(Double, Double)]] =
    toParamMap(paramsDf.select(col("centroid_id"), col("pos"), col("lo"), col("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3))))

  private def toParamMap(
      rows: Array[(Int, Int, Double, Double)]): Map[Int, Array[(Double, Double)]] =
    rows.groupBy(_._1).map { case (c, rs) =>
      c -> rs.sortBy(_._2).map(t => (t._3, t._4))
    }

  /** Encode NEW chunks against EXISTING centroids + ranges (incremental
    * add between rebuilds — assign to the frozen cells, clamp-encode
    * against the frozen per-cell ranges; no retrain).
    */
  def encode(chunksDf: DataFrame, centroidsDf: DataFrame,
      paramsDf: DataFrame, libraryId: String): DataFrame = {
    val pmap = collectParams(paramsDf)
    if (pmap.isEmpty)
      return chunksDf.sparkSession.createDataFrame(
        chunksDf.sparkSession.sparkContext.emptyRDD[Row], Schemas.ivfsq8Codes)
    val assignments = IvfIndex.assignToCentroids(chunksDf, centroidsDf, libraryId)
    encodeWith(residuals(assignments, centroidsDf), pmap, libraryId)
  }

  /** The per-cell ranges as DENSE (cell x dim) arrays ordered by
    * centroid_id (seed ids are row_number-derived 0..K-1, so the index
    * is total) — shipped to the kernels ONCE as flat reference objects.
    * The first formulation looked these up per dim via nested
    * `element_at` literal trees; the janino compile of that tree
    * dominated the whole entry (see [[graft.functions.IvfSq8Kernels]]).
    */
  private def denseRanges(pmap: Map[Int, Array[(Double, Double)]])
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val k = pmap.size
    require(pmap.keySet == (0 until k).toSet,
      s"ivfsq8 cells must be dense 0..${k - 1}, got ${pmap.keySet}")
    val ordered = (0 until k).map(pmap(_))
    (ordered.map(_.map(_._1)).toArray, ordered.map(_.map(_._2)).toArray)
  }

  /** Map-side clamped encode: per dim, code = clamp(floor((res - lo) /
    * span * 255 + 0.5), 0, 255) against the row's cell ranges — one
    * LOOPING codegen kernel per row; a zero-span dim (single-member
    * cell) encodes 0 and decodes back to lo exactly.
    */
  private def encodeWith(res: DataFrame,
      pmap: Map[Int, Array[(Double, Double)]], libraryId: String): DataFrame = {
    val (lo, hi) = denseRanges(pmap)
    res.select(lit(libraryId).as("library_id"), col("centroid_id"),
      col("chunk_id"),
      graft.functions.IvfSq8Kernels
        .ivfSq8Encode(col("res"), col("centroid_id"), lo, hi).as("codes"))
  }

  /** Batch-path decode-approx L2: the SAME per-cell decode + micro-unit
    * floor arithmetic as [[Sq8Index.distExpr]], with the cell's ranges
    * looked up from the dense metadata-scale array literals (indexed by
    * the row's `centroid_id`) and the query RESIDUAL read from the
    * broadcast `qres` column instead of plan literals — one definition
    * for both batch paths so the oracle-matched arithmetic cannot drift.
    */
  def adcDistExpr(pmap: Map[Int, Array[(Double, Double)]]): Column = {
    val (lo, hi) = denseRanges(pmap)
    graft.functions.IvfSq8Kernels
      .ivfSq8Dist(col("codes"), col("centroid_id"), col("qres"), lo, hi)
  }

  /** Candidate generation over the probed cells: ONE `centroid_id IN
    * (...)`-pruned codes scan joined to a broadcast (centroid_id, qres)
    * probe table (the per-cell FLOAT query residuals, driver-computed —
    * nprobe rows), scored by the [[adcDistExpr]] LOOPING kernel, cap
    * Oversample*k by (dist asc, chunk_id asc). Query values live in the
    * broadcast COLUMN, not plan literals, so the generated code is
    * IDENTICAL across queries (janino cache hit per query — the
    * per-cell-literal formulation recompiled on every search) and the
    * plan shape is independent of nprobe. The caller hydrates and
    * exact-reranks only the capped set.
    */
  def candidates(codesDf: DataFrame,
      pmap: Map[Int, Array[(Double, Double)]],
      topCents: Array[(Int, Array[Float])],
      qnorm: Array[Float], k: Int): DataFrame = {
    val probed = topCents.toSeq.collect {
      case (cid, cvec) if pmap.contains(cid) =>
        Row(cid, qnorm.indices.map(i => (qnorm(i) - cvec(i)).toDouble))
    }
    val spark = codesDf.sparkSession
    if (probed.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("chunk_id",
            org.apache.spark.sql.types.StringType, nullable = false))))
    val probeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(probed, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("centroid_id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("qres",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false))))
    val cids = probed.map(_.getInt(0))
    codesDf.filter(col("centroid_id").isin(cids.map(Int.box): _*))
      .join(broadcast(probeDf), Seq("centroid_id"))
      .select(col("chunk_id"), adcDistExpr(pmap).as("dist_u"))
      .orderBy(col("dist_u").asc, col("chunk_id").asc)
      .limit(Oversample * k)
      .select(col("chunk_id"))
  }
}

/** The IVF+SQ8 family: per-(cell, dim) residual ranges and byte codes. */
object IvfSq8Family extends ResidualFamily("ivfsq8", Seq("ivfsq8")) {
  type State = Map[Int, Array[(Double, Double)]]
  def codesTable: String = "ivfsq8_codes"
  def oversample: Int = IvfSq8Index.Oversample

  def build(ctx: IndexContext): Unit = {
    val (centroids, params, codes) = IvfSq8Index.build(ctx.chunks, ctx.libId,
      ctx.dim, ctx.config.ivfNumCentroids)
    ctx.write("ivf_centroids", centroids)
    ctx.write("ivfsq8_params", params)
    ctx.write("ivfsq8_codes", codes)
  }

  /** Assign to FROZEN cells, clamp-encode against FROZEN ranges. */
  def add(ctx: IndexContext, newChunks: DataFrame): Unit =
    ctx.built("ivf_centroids", "ivfsq8_params").foreach { case Seq(cents, params) =>
      ctx.append("ivfsq8_codes", IvfSq8Index.encode(newChunks, cents, params, ctx.libId))
    }

  def load(ctx: IndexContext): Option[State] =
    if (!ctx.cellsBuilt || !ctx.exists("ivfsq8_params")) None
    else Some(IvfSq8Index.collectParams(ctx.part("ivfsq8_params"))).filter(_.nonEmpty)

  def candidates(ctx: IndexContext, pmap: State, q: Query): Option[DataFrame] =
    Some(hydrate(ctx, IvfSq8Index.candidates(q.restrict(ctx.part("ivfsq8_codes")),
      pmap, ctx.probe(q.qn), q.qn, q.k)))

  /** The FLOAT query residual, read directly by the looping dist kernel. */
  def residualTable(pmap: State, res: Column): Column = res.as("qres")
  def residualDist(pmap: State): Column = IvfSq8Index.adcDistExpr(pmap)

  /** [[IvfSq8Index.adcDistExpr]] with the TRUE residual as the query. */
  def quantizationError(ctx: IndexContext): DataFrame = {
    if (!ctx.exists("ivfsq8_codes") || !ctx.exists("ivfsq8_params"))
      throw new NotFoundError(s"ivfsq8 index for library ${ctx.libId}")
    val pmap = IvfSq8Index.collectParams(ctx.part("ivfsq8_params"))
    if (pmap.isEmpty) throw new NotFoundError(s"ivfsq8 index for library ${ctx.libId}")
    val cents = broadcast(ctx.part("ivf_centroids")
      .select(col("centroid_id"), col("vector").as("cvec")))
    IndexFamily.errorSummary(ctx.part("ivfsq8_codes")
      .join(IndexFamily.truthNorms(ctx), "chunk_id").join(cents, "centroid_id")
      .select(col("codes"), col("centroid_id"),
        zip_with(col("vnorm"), col("cvec"), (a, b) => a - b).as("qres"))
      .select(IvfSq8Index.adcDistExpr(pmap).as("err_u")))
  }
}
