package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.functions._

import graft.engine.Schemas
import graft.engine.EngineErrors.NotFoundError

/** Scalar-quantization index — the FAISS `ScalarQuantizer` (SQ8) family:
  * every dimension of the L2-normalized vector is quantized to ONE BYTE
  * against a per-dimension [lo, hi] range learned from the build corpus,
  * so the scan table is `dim` small ints per vector (64 B at dim 64 —
  * 4x smaller than float32) and the "codebook" is two doubles per
  * dimension, collected to the driver and folded into the scan as plan
  * literals — no join anywhere on the search path.
  *
  * Determinism: there is NO RNG in this family at all — ranges are
  * min/max aggregates, encode/decode is closed-form arithmetic — so the
  * ENTIRE build + encode + search pipeline is replayed and hash-checked
  * by the DuckDB oracle (`x_engine_sq8`), including the incremental
  * variant. Per-dim decoded-L2 contributions are floored to integer
  * MICRO-UNITS before the sum (the PqIndex convention), so candidate
  * ranking is exact long arithmetic on any engine.
  *
  * Incremental contract (add-after-train, as the other families):
  * [[encode]] quantizes new vectors against the FROZEN build-time
  * ranges, CLAMPING codes to [0, 255] — a delta vector outside the
  * learned range degrades gracefully to the range edge instead of
  * corrupting the code space.
  *
  * Reference anchor: the reference has no compressed family at all
  * (`indexing/` stores raw vectors); SQ8 is the third documented scale
  * extension next to PQ/IVFPQ.
  */
object Sq8Index {

  val Oversample = 6 // candidate cap multiplier, as the other families

  private def vnormFloats(chunksDf: DataFrame): DataFrame =
    chunksDf.filter(col("embedding").isNotNull)
      .select(col("id").as("chunk_id"),
        F.transform(graft.functions.VectorFunctions.l2Normalize(col("embedding")),
          _.cast("float")).as("vnorm"))
      .filter(col("vnorm").isNotNull)

  /** Build (params, codes): per-dim [lo, hi] over the normalized corpus
    * (ONE tiny aggregate — output is `dim` rows however large the
    * corpus), then the map-side encode of every vector against them. The
    * aggregate runs ONCE: the returned params DataFrame is constructed
    * from the already-collected driver rows, so the caller's write does
    * not rescan the corpus. An empty/un-embedded corpus yields empty
    * frames with the correct schemas (the search path's
    * ranges-not-built fallback handles the rest).
    */
  def build(chunksDf: DataFrame, libraryId: String,
      dim: Int): (DataFrame, DataFrame) = {
    val spark = chunksDf.sparkSession
    val vn = vnormFloats(chunksDf)
    val rows = vn
      .select(posexplode(col("vnorm")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    if (rows.isEmpty)
      return (
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.sq8Params),
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.sq8Codes))
    require(rows.length == dim,
      s"sq8 build: corpus dimensionality ${rows.length} != library dim $dim")
    val params = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.toIndexedSeq.map { case (pos, lo, hi) => Row(libraryId, pos, lo, hi) }, 1),
      Schemas.sq8Params)
    (params, encodeWith(vn, rows.map(t => (t._2, t._3)), libraryId))
  }

  /** Driver-collected (lo, hi) per dimension, pos-ordered — metadata
    * scale (2 doubles x dim), folded into scan expressions as literals.
    */
  def collectParams(paramsDf: DataFrame): Array[(Double, Double)] =
    paramsDf.select(col("pos"), col("lo"), col("hi")).collect()
      .map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2))))
      .sortBy(_._1).map(_._2)

  /** Encode NEW chunks against EXISTING ranges (incremental add between
    * rebuilds — no retrain; out-of-range values clamp to the edges).
    */
  def encode(chunksDf: DataFrame, paramsDf: DataFrame,
      libraryId: String): DataFrame =
    encodeWith(vnormFloats(chunksDf), collectParams(paramsDf), libraryId)

  private def encodeWith(vn: DataFrame, p: Array[(Double, Double)],
      libraryId: String): DataFrame = {
    val codes = p.indices.map { i =>
      val (lo, hi) = p(i)
      val span = hi - lo
      val x = element_at(col("vnorm"), i + 1).cast("double")
      val raw =
        if (span == 0.0) lit(0.0)
        else floor((x - lit(lo)) / lit(span) * lit(255.0) + lit(0.5))
      least(greatest(raw, lit(0.0)), lit(255.0)).cast("int")
    }
    vn.select(lit(libraryId).as("library_id"), col("chunk_id"),
      array(codes: _*).as("codes"))
  }

  /** The decode-approx-L2 distance expression over a `codes` column —
    * ONE definition shared by the single-query scan (query dims as
    * literals) and both batch paths (query dims read from the broadcast
    * `qnorm` column via `qxAt`), so the oracle-matched arithmetic cannot
    * drift between the three call sites. Per-dim decode (lo + code/255 *
    * span — the exact double ops the oracle replays), micro-unit floors
    * BEFORE the long sum.
    */
  def distExpr(p: Array[(Double, Double)], qxAt: Int => Column): Column =
    p.indices.map { i =>
      val (lo, hi) = p(i)
      val span = hi - lo
      val code = element_at(col("codes"), i + 1).cast("double")
      val xh =
        if (span == 0.0) lit(lo)
        else lit(lo) + code / lit(255.0) * lit(span)
      val diff = xh - qxAt(i)
      floor(diff * diff * lit(1000000.0) + lit(0.5)).cast("long")
    }.reduce(_ + _)

  /** Approximate-L2 candidate generation over the byte-code scan:
    * [[distExpr]] with the query folded in as literals, cap Oversample*k
    * by (dist asc, chunk_id asc). One map-side projection + a
    * distributed TakeOrdered; the caller hydrates and exact-reranks only
    * the capped set.
    */
  def candidates(codesDf: DataFrame, p: Array[(Double, Double)],
      qnorm: Array[Float], k: Int): DataFrame =
    codesDf.select(col("chunk_id"),
        distExpr(p, i => lit(qnorm(i).toDouble)).as("dist_u"))
      .orderBy(col("dist_u").asc, col("chunk_id").asc)
      .limit(Oversample * k)
      .select(col("chunk_id"))
}

/** The SQ8 family: per-dim ranges plus one byte code per (chunk, dim). */
object Sq8Family extends IndexFamily("sq8", Seq("sq8")) with QuantizationAudit {
  type State = Array[(Double, Double)]

  override def markers: Seq[(String, String)] = Seq("sq8_codes" -> "sq8")

  def build(ctx: IndexContext): Unit = {
    val (params, codes) = Sq8Index.build(ctx.chunks, ctx.libId, ctx.dim)
    ctx.write("sq8_params", params)
    ctx.write("sq8_codes", codes)
  }

  /** Encode against the FROZEN ranges (clamped). */
  def add(ctx: IndexContext, newChunks: DataFrame): Unit =
    ctx.built("sq8_params").foreach { case Seq(params) =>
      ctx.append("sq8_codes", Sq8Index.encode(newChunks, params, ctx.libId))
    }

  def load(ctx: IndexContext): Option[State] =
    if (!ctx.exists("sq8_params")) None
    else Some(Sq8Index.collectParams(ctx.part("sq8_params"))).filter(_.nonEmpty)

  /** Byte-code scan: decode-approx L2 against plan-literal ranges, cap 6k. */
  def candidates(ctx: IndexContext, p: State, q: Query): Option[DataFrame] =
    Some(hydrate(ctx, Sq8Index.candidates(q.restrict(ctx.part("sq8_codes")), p, q.qn, q.k)))

  /** [[Sq8Index.distExpr]] reading the broadcast `qnorm` column. */
  def candidates(ctx: IndexContext, p: State, b: Batch): BatchCandidates =
    BatchCandidates(capHydrate(ctx, b, b.restrict(ctx.part("sq8_codes"))
      .crossJoin(broadcast(b.qn))
      .select(col("query_id"), col("chunk_id"), Sq8Index.distExpr(p,
        i => element_at(col("qnorm"), i + 1).cast("double")).as("dist_u")),
      Sq8Index.Oversample))

  /** [[Sq8Index.distExpr]] with the truth as the "query" side. */
  def quantizationError(ctx: IndexContext): DataFrame = {
    val p = load(ctx).getOrElse(
      throw new NotFoundError(s"sq8 index for library ${ctx.libId}"))
    IndexFamily.errorSummary(ctx.part("sq8_codes").join(IndexFamily.truthNorms(ctx), "chunk_id")
      .select(Sq8Index.distExpr(p,
        i => element_at(col("vnorm"), i + 1).cast("double")).as("err_u")))
  }
}
