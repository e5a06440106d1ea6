package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF + binary quantization — cell-pruned packed sign-bit codes (the
  * FAISS `IndexBinaryIVF` model): the md5-seeded deterministic coarse
  * quantizer (shared `ivf_centroids` relation) assigns every vector to
  * a cell, and the BQ code rides ON the inverted-list row
  * (`ivfbq_codes(centroid_id, chunk_id, codes)`), so a search scans
  * nprobe/K of the packed corpus via a LITERAL `centroid_id isin`
  * pushdown — no join anywhere on the candidate path. At 100 TB this is
  * THE binary-search architecture: the flat bq scan is already 32x
  * smaller than float32; cell pruning divides it by K/nprobe again, and
  * the layout key (`centroid_id`) turns the pushdown into row-group
  * skipping after `optimizeIndexLayout`.
  *
  * No residual encoding: binary signs are cell-independent (a sign bit
  * of a residual is a different — non-composable — scheme), so the code
  * rule is EXACTLY [[BqIndex]]'s and the two families' codes agree
  * bit-for-bit on the same vector. Determinism: md5 seeds + argmax
  * assignment + closed-form packing — the full build + search replays
  * in the DuckDB oracle, and incremental adds (frozen cells, stateless
  * encode) replay with the standard base/live predicates.
  */
object IvfBqIndex {

  val Oversample = 6

  /** Build == encode against the given centroids (the incremental add
    * uses the same function with the FROZEN build-time cells): one
    * assignment pass + the packing expressions, no aggregate, no join
    * beyond the argmax against the collected metadata-scale centroids.
    */
  def build(chunksDf: DataFrame, centroidsDf: DataFrame,
      libraryId: String, dim: Int): DataFrame = {
    val posts = IvfIndex.assignToCentroids(chunksDf, centroidsDf, libraryId)
    posts.select(col("library_id"), col("centroid_id"), col("chunk_id"),
      array(BqIndex.packExprs(dim,
        i => element_at(col("embedding_norm"), i + 1)): _*).as("codes"))
  }
}

/** The IVF+BQ family: md5-seeded cells, packed codes on their lists. */
object IvfBqFamily extends IndexFamily("ivfbq", Seq("ivfbq")) with BalanceAudit {
  type State = DataFrame

  override def markers: Seq[(String, String)] = Seq("ivfbq_codes" -> "ivfbq")

  def build(ctx: IndexContext): Unit = {
    val cents = IvfIndex.seedCentroids(ctx.chunks, ctx.libId, ctx.config.ivfNumCentroids)
    ctx.write("ivf_centroids", cents)
    ctx.write("ivfbq_codes", IvfBqIndex.build(ctx.chunks, cents, ctx.libId, ctx.dim))
  }

  /** Assign to the FROZEN build-time cells, stateless packing. */
  def add(ctx: IndexContext, newChunks: DataFrame): Unit =
    ctx.built("ivf_centroids", "ivfbq_codes").foreach { case Seq(cents, _) =>
      ctx.append("ivfbq_codes", IvfBqIndex.build(newChunks, cents, ctx.libId, ctx.dim))
    }

  def load(ctx: IndexContext): Option[DataFrame] =
    if (!ctx.cellsBuilt) None else heldRows(ctx, "ivfbq_codes")

  /** The probed cells prune the packed-code scan by `isin` literal. */
  def candidates(ctx: IndexContext, codes: DataFrame, q: Query): Option[DataFrame] = {
    val top = ctx.probe(q.qn).map(c => Int.box(c._1)).toIndexedSeq
    Some(hydrate(ctx, BqIndex.candidates(
      q.restrict(codes.filter(col("centroid_id").isin(top: _*))),
      BqIndex.encodeQuery(q.qn), q.k)))
  }

  def candidates(ctx: IndexContext, codes: DataFrame, b: Batch): BatchCandidates = {
    val pairs = b.probePairs(ctx.part("ivf_centroids"), ctx.config.ivfNprobe)
      .join(BqIndex.queryCodes(b.qn, ctx.dim), Seq("query_id"))
    BatchCandidates(capHydrate(ctx, b, b.restrict(codes)
      .join(broadcast(pairs), Seq("centroid_id"))
      .select(col("query_id"), col("chunk_id"), BqIndex.hammingU(ctx.dim)),
      IvfBqIndex.Oversample))
  }

  /** Unit = a coarse cell, as the other celled families. */
  def balanceUnits(ctx: IndexContext): DataFrame =
    units(ctx, "ivfbq_codes", "centroid_id")
}
