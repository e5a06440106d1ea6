package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.functions._

import graft.engine.Schemas

/** Binary-quantization index — the FAISS-binary / modern vector-store
  * "BQ" family: ONE SIGN BIT per dimension of the L2-normalized vector,
  * packed into 64-bit words, so the scan table is ceil(dim/64) BIGINTs
  * per vector (8 B at dim 64 — 32x smaller than float32, the strongest
  * memory-residency story of any family at 100 TB: a trillion 64-dim
  * codes fit where 30 billion raw vectors would). Candidates rank by
  * HAMMING distance — xor + popcount, pure integer arithmetic inside
  * whole-stage codegen — capped at Oversample*k, then the engine's
  * exact rerank (quirk Q1) restores float accuracy on the short list.
  *
  * Determinism: NO RNG and NO TRAINING — the code is a closed-form
  * function of the stored vector alone, so build + encode + search
  * replay bit-for-bit in the DuckDB oracle, packing included: bit j of
  * word w is set iff normalized component 64w + j is >= 0, and both
  * engines' BIGINT shifts share two's-complement wrap at bit 63 (the
  * sum of distinct powers of two equals the bitwise OR, negative
  * 1 << 63 included).
  *
  * Incremental contract: with no learned parameters to freeze, encode
  * is STATELESS — adds/deletes maintain the codes table exactly, so
  * incremental == rebuild (the strongest incremental story of any
  * family; sq8/pq clamp against frozen ranges instead).
  *
  * Reference anchor: the reference has no compressed family
  * (`indexing/` stores raw vectors); BQ is a documented scale extension
  * beside SQ8/PQ/IVFPQ.
  */
object BqIndex {

  val Oversample = 6 // candidate cap multiplier, as the other families

  /** Packed words per vector. */
  def words(dim: Int): Int = (dim + 63) / 64

  private def vnormFloats(chunksDf: DataFrame): DataFrame =
    chunksDf.filter(col("embedding").isNotNull)
      .select(col("id").as("chunk_id"),
        F.transform(graft.functions.VectorFunctions.l2Normalize(col("embedding")),
          _.cast("float")).as("vnorm"))
      .filter(col("vnorm").isNotNull)

  /** Build == encode (stateless): map-side sign-bit packing of every
    * embedded chunk, zero aggregates, zero driver state.
    */
  def build(chunksDf: DataFrame, libraryId: String, dim: Int): DataFrame =
    encode(chunksDf, libraryId, dim)

  /** Pack one word: OR of `1L << j` over the word's dims with a
    * non-negative normalized component. Disjoint bits, so the codegen'd
    * integer OR chain is the whole encode — no join, no shuffle.
    */
  private def wordExpr(w: Int, dim: Int, xAt: Int => Column): Column =
    (0 until math.min(64, dim - w * 64)).map { j =>
      when(xAt(w * 64 + j) >= lit(0.0f), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  def encode(chunksDf: DataFrame, libraryId: String, dim: Int): DataFrame = {
    val vn = vnormFloats(chunksDf)
    vn.select(lit(libraryId).as("library_id"), col("chunk_id"),
      array(packExprs(dim, i => element_at(col("vnorm"), i + 1)): _*)
        .as("codes"))
  }

  /** Per-word packing expressions over an arbitrary component accessor —
    * shared by [[encode]] (stored vectors) and the batch paths (the
    * broadcast query column), so the bit rule exists exactly once.
    */
  def packExprs(dim: Int, xAt: Int => Column): Seq[Column] =
    (0 until words(dim)).map(w => wordExpr(w, dim, xAt))

  /** Driver-side query packing (the 1-row query twin of [[encode]]):
    * same sign rule over the float-normalized query.
    */
  def encodeQuery(qnorm: Array[Float]): Array[Long] =
    Array.tabulate(words(qnorm.length)) { w =>
      (0 until math.min(64, qnorm.length - w * 64)).foldLeft(0L) { (acc, j) =>
        if (qnorm(w * 64 + j) >= 0.0f) acc | (1L << j) else acc
      }
    }

  /** Hamming distance over the packed `codes` column — ONE definition
    * shared by the single-query scan (query words as literals) and the
    * batch paths (query words from a broadcast column via `qwAt`), so
    * the oracle-matched arithmetic cannot drift between call sites.
    */
  def hammingExpr(nWords: Int, qwAt: Int => Column): Column =
    (0 until nWords).map { w =>
      bit_count(element_at(col("codes"), w + 1).bitwiseXOR(qwAt(w)))
    }.reduce(_ + _).cast("long")

  /** Hamming candidate generation: one map-side projection over the
    * packed-code scan + a distributed TakeOrdered, cap Oversample*k by
    * (hamming asc, chunk_id asc); the caller hydrates and exact-reranks
    * only the capped set.
    */
  def candidates(codesDf: DataFrame, qcode: Array[Long], k: Int): DataFrame =
    codesDf.select(col("chunk_id"),
        hammingExpr(qcode.length, w => lit(qcode(w))).as("dist_u"))
      .orderBy(col("dist_u").asc, col("chunk_id").asc)
      .limit(Oversample * k)
      .select(col("chunk_id"))

  /** (query_id, qcode): each qnorm row packed on executors. */
  def queryCodes(qn: DataFrame, dim: Int): DataFrame =
    qn.select(col("query_id"),
      array(packExprs(dim, i => element_at(col("qnorm"), i + 1)): _*).as("qcode"))

  /** Hamming `dist_u` of a packed code row against the row's `qcode`. */
  def hammingU(dim: Int): Column =
    hammingExpr(words(dim), w => element_at(col("qcode"), w + 1)).as("dist_u")
}

/** The BQ family: packed sign bits, stateless (no params table). */
object BqFamily extends IndexFamily("bq", Seq("bq")) {
  type State = DataFrame

  override def markers: Seq[(String, String)] = Seq("bq_codes" -> "bq")

  def build(ctx: IndexContext): Unit =
    ctx.write("bq_codes", BqIndex.build(ctx.chunks, ctx.libId, ctx.dim))

  /** Stateless encode: incremental maintenance IS the rebuild. */
  def add(ctx: IndexContext, newChunks: DataFrame): Unit =
    ctx.built("bq_codes").foreach { _ =>
      ctx.append("bq_codes", BqIndex.encode(newChunks, ctx.libId, ctx.dim))
    }

  def load(ctx: IndexContext): Option[DataFrame] = heldRows(ctx, "bq_codes")

  /** xor+popcount hamming against the driver-packed query code, cap 6k. */
  def candidates(ctx: IndexContext, codes: DataFrame, q: Query): Option[DataFrame] =
    Some(hydrate(ctx, BqIndex.candidates(q.restrict(codes),
      BqIndex.encodeQuery(q.qn), q.k)))

  def candidates(ctx: IndexContext, codes: DataFrame, b: Batch): BatchCandidates =
    BatchCandidates(capHydrate(ctx, b, b.restrict(codes)
      .crossJoin(broadcast(BqIndex.queryCodes(b.qn, ctx.dim)))
      .select(col("query_id"), col("chunk_id"), BqIndex.hammingU(ctx.dim)),
      BqIndex.Oversample))
}
