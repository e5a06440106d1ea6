package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Schemas
import graft.functions.PqExpressions
import graft.functions.VectorFunctions._

/** NSW (navigable-small-world) graph ANN — the graph family the modern
  * HNSW engines build on, re-expressed as two Spark relations: the shared
  * `ivf_centroids`/`ivf_postings` pair (coarse cells double as the graph
  * build's candidate blocking AND the search walk's entry cell) plus a
  * thin `nsw_edges` adjacency table. The reference engine has no graph
  * index (its families are flat/LSH/IVF, the `indexing/` modules); this
  * extends
  * the same index-lifecycle contract (`chunk.py:69-73` incremental adds,
  * rebuild endpoint `main.py:61-76`) to the graph shape.
  *
  * Determinism (the `ivf_det`/`seedCentroids` discipline — every step pure
  * arithmetic an independent SQL engine can replay):
  *   - coarse cells = the k lowest md5(chunk_id) vectors (IvfIndex
  *     .seedCentroids), NO Lloyd iterations;
  *   - each node's edge CANDIDATES come from its `nprobe` nearest cells
  *     (TopNDotIds: dot desc, cell asc — never all-pairs: per-node work is
  *     bounded by nprobe cells of constant target size at any corpus);
  *   - edges = per-node top-`degree` candidates by (dot of the float-cast
  *     normalized vectors desc, dst_id asc), then the bidirectional union
  *     (dir ∪ reversed, distinct) — the NSW back-link rule;
  *   - the search walk is a FIXED number of beam rounds (IndexConfig
  *     .nswRounds) from the query's nearest cell, not a convergence test.
  *
  * Scale shape: the adjacency table is (src, dst) strings only — vectors
  * live once in ivf_postings and are hydrated by pushed `isin` id filters.
  * Build shuffles candidate pairs keyed by cell (bounded by cell size x
  * nprobe per node); the per-node top-degree is a k-bounded partial
  * aggregation over those bounded pairs (map-side combine — hot cells
  * never shuffle their full pair set). Search reads edges/postings with beam-bounded id
  * pushdowns — per-query work never scans the corpus.
  */
object NswIndex {

  /** Normalized non-zero vectors: (chunk_id, vnorm: array<double>) —
    * IvfIndex's normalization contract (zero vectors excluded, quirk Q4).
    */
  private[index] def normalized(chunksDf: DataFrame): DataFrame =
    chunksDf.filter(col("embedding").isNotNull)
      .select(col("id").as("chunk_id"), l2Normalize(col("embedding")).as("vnorm"))
      .filter(col("vnorm").isNotNull)

  private[index] def collectCentroids(centroidsDf: DataFrame): Array[Array[Double]] =
    centroidsDf.orderBy(col("centroid_id"))
      .collect()
      .map(r => r.getSeq[Float](2).map(_.toDouble).toArray)

  /** Build the bidirectional k-NN edge table for the whole corpus.
    * Candidate generation: node u's probe set = its `nprobe` nearest seed
    * cells by (double-vnorm x float-centroid dot) — the assignment
    * arithmetic; candidates = nodes ASSIGNED (argmax dot) to those cells.
    * Per-node top-`degree` by (float-pair dot desc, dst asc), then the
    * reverse-edge union.
    */
  def buildEdges(chunksDf: DataFrame, centroidsDf: DataFrame,
      postingsDf: DataFrame, libraryId: String, nprobe: Int,
      degree: Int): DataFrame = {
    val cents = collectCentroids(centroidsDf)
    if (cents.isEmpty) return emptyEdges(chunksDf.sparkSession)
    // v-side straight from the just-written postings (the rebuild's own
    // assignment pass — re-deriving argmax cells here would scan the
    // chunk store a second time for identical values)
    val vside = postingsDf.select(
      col("chunk_id").as("dst_id"),
      col("embedding_norm").as("dvec"),
      col("centroid_id").as("cell"))
    edgesFrom(probeSide(normalized(chunksDf), cents, nprobe), vside,
      libraryId, degree)
  }

  /** Incremental edges for a NEW batch against the FROZEN graph state:
    * probe cells from the frozen seed centroids, candidates from the
    * EXISTING postings only (the pre-batch corpus — in-batch pairs are
    * excluded, the add-after-build contract), reverse links added so the
    * new nodes are reachable from the old graph.
    */
  def edgesForNew(newChunks: DataFrame, centroidsDf: DataFrame,
      basePostings: DataFrame, libraryId: String, nprobe: Int,
      degree: Int): DataFrame = {
    val cents = collectCentroids(centroidsDf)
    if (cents.isEmpty) return emptyEdges(newChunks.sparkSession)
    val vside = basePostings.select(
      col("chunk_id").as("dst_id"),
      col("embedding_norm").as("dvec"),
      col("centroid_id").as("cell"))
    edgesFrom(probeSide(normalized(newChunks), cents, nprobe), vside,
      libraryId, degree)
  }

  /** u-side: one row per (node, probe cell), carrying the float-cast
    * normalized vector the pair scoring uses (= the stored
    * embedding_norm representation, so build and incremental score
    * identically).
    */
  private[index] def probeSide(data: DataFrame, cents: Array[Array[Double]],
      nprobe: Int): DataFrame =
    data.select(
      col("chunk_id").as("src_id"),
      transform(col("vnorm"), _.cast("float")).as("svec"),
      explode(PqExpressions.topNDotIds(col("vnorm"), cents, nprobe)).as("cell"))

  private def edgesFrom(uside: DataFrame, vside: DataFrame,
      libraryId: String, degree: Int): DataFrame = {
    val spark = uside.sparkSession
    import spark.implicits._
    // per-node top-degree via the k-bounded PARTIAL aggregator, not a
    // window: the window formulation shuffled + sorted every candidate
    // pair (and the reverse-union below would evaluate it twice — a
    // measured ~10s on the 5k-doc text corpus); the aggregator's map-side
    // combine reduces each partition to <= degree rows per node before
    // the shuffle. Ordering (pscore desc, dst asc) is the same Q7 cut.
    // localCheckpoint: the union reads `dir` twice — materialize the
    // <= degree * |nodes| rows once.
    // (candidate pairs are already distinct: assignment is argmax, so a
    // dst appears at most once among a node's probe cells)
    val dir = uside.join(vside, "cell")
      .filter(col("src_id") =!= col("dst_id"))
      .select(col("src_id"), col("dst_id"),
        dotProduct(col("svec"), col("dvec")).as("pscore"))
      .as[(String, String, Double)]
      .groupByKey(_._1)
      .agg(graft.functions.TopKAggregator.topKStrKey(degree).toColumn)
      .flatMap { case (src, hits) => hits.map(h => (src, h._2)) }
      .toDF("src_id", "dst_id")
      .localCheckpoint()
    dir.unionAll(dir.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
      .distinct()
      .select(lit(libraryId).as("library_id"), col("src_id"), col("dst_id"))
  }

  /** SINGLE-PASS MULTI-LAYER edge build (optimization r15): the hnsw
    * hierarchy used to run one [[edgesFrom]] pipeline PER layer — each
    * with its own cell join, top-degree aggregation, localCheckpoint and
    * distinct (4-6 fixed global steps per layer, whatever the layer
    * size). Rows here instead carry a `layer` column, the join is keyed
    * (layer, cell) and the bounded aggregation by (layer, src) — ONE
    * join + ONE aggregation + ONE distinct for the whole hierarchy.
    * Per-layer results are bit-identical to the per-layer pipelines: a
    * (layer, cell) join row exists iff the same row existed in layer l's
    * restricted join, and the (pscore desc, dst asc) top-degree cut is
    * taken per (layer, src) exactly as it was per src within one layer.
    * The aggregator key packs layer and src as "l|src"; the layer prefix
    * is all digits, so splitting at the FIRST '|' recovers (layer, src)
    * even when a caller-supplied src id itself contains '|'.
    */
  private[index] def edgesFromLayered(uside: DataFrame, vside: DataFrame,
      libraryId: String, degree: Int): DataFrame = {
    val spark = uside.sparkSession
    import spark.implicits._
    val dir = uside.join(vside, Seq("layer", "cell"))
      .filter(col("src_id") =!= col("dst_id"))
      .select(
        concat(col("layer").cast("string"), lit("|"), col("src_id")).as("lsrc"),
        col("dst_id"),
        dotProduct(col("svec"), col("dvec")).as("pscore"))
      .as[(String, String, Double)]
      .groupByKey(_._1)
      .agg(graft.functions.TopKAggregator.topKStrKey(degree).toColumn)
      .flatMap { case (lsrc, hits) =>
        val i = lsrc.indexOf('|')
        val layer = lsrc.substring(0, i).toInt
        val src = lsrc.substring(i + 1)
        hits.map(h => (layer, src, h._2))
      }
      .toDF("layer", "src_id", "dst_id")
      .localCheckpoint()
    dir.unionAll(dir.select(col("layer"), col("dst_id").as("src_id"),
        col("src_id").as("dst_id")))
      .distinct()
      .select(lit(libraryId).as("library_id"), col("layer"),
        col("src_id"), col("dst_id"))
  }

  private def emptyEdges(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.nswEdges)
}

/** The graph family (`nsw_det`; `hnsw_det` adds [[HnswIndex]]'s upper
  * layers): cells and postings SHARED with ivf (cells block the edge
  * build and seed the walk; postings hold the vectors) plus adjacency.
  */
object GraphFamily extends IndexFamily("graph", Seq("nsw_det", "hnsw_det"))
    with BalanceAudit {
  type State = Unit

  /** Whether a spelling is the layered (hnsw) mode. */
  def layered(spelling: String): Boolean = spelling == "hnsw_det"

  override def markers: Seq[(String, String)] =
    Seq("hnsw_edges" -> "hnsw_det", "nsw_edges" -> "nsw_det")

  def build(ctx: IndexContext): Unit = {
    val c = ctx.config
    val cents = IvfIndex.seedCentroids(ctx.chunks, ctx.libId, c.ivfNumCentroids)
    ctx.write("ivf_centroids", cents)
    ctx.write("ivf_postings", IvfIndex.assignToCentroids(ctx.chunks, cents, ctx.libId))
    ctx.write("nsw_edges", NswIndex.buildEdges(ctx.chunks, cents,
      ctx.part("ivf_postings"), ctx.libId, c.ivfNprobe, c.nswDegree))
    if (layered(ctx.spelling))
      ctx.write("hnsw_edges", HnswIndex.buildLayers(ctx.chunks, cents,
        ctx.part("ivf_postings"), ctx.libId, c.ivfNprobe, c.nswDegree))
  }

  /** Edges first: they probe the PRE-BATCH postings (the add-after-build
    * contract), each write materializing its probe before the posting
    * append makes the batch visible.
    */
  def add(ctx: IndexContext, newChunks: DataFrame): Unit =
    ctx.built("ivf_centroids").foreach { case Seq(cents) =>
      val c = ctx.config
      ctx.append("nsw_edges", NswIndex.edgesForNew(newChunks, cents,
        ctx.part("ivf_postings"), ctx.libId, c.ivfNprobe, c.nswDegree))
      if (layered(ctx.spelling))
        ctx.append("hnsw_edges", HnswIndex.layersForNew(newChunks, cents,
          ctx.part("ivf_postings"), ctx.libId, c.ivfNprobe, c.nswDegree))
      ctx.append("ivf_postings", IvfIndex.assignToCentroids(newChunks, cents, ctx.libId))
    }

  def load(ctx: IndexContext): Option[Unit] =
    Some(()).filter(_ => ctx.exists("nsw_edges") && ctx.cellsBuilt)

  /** The walk's visited ids as a pushed `isin`. A pre-filter gates what
    * the walk SCORES (post-filtering starved the beam: 0.188 vs 0.400
    * recall); None (an emptied entry cell, no reachable allowed node)
    * falls back to flat.
    */
  def candidates(ctx: IndexContext, st: Unit, q: Query): Option[DataFrame] = {
    val beamW = math.max(q.beam.getOrElse(ctx.config.nswBeam), q.k)
    val walked = ctx.graphWalk(beamW, Seq(0L -> q.qn), layered(ctx.spelling),
      q.allowed).head._2
    if (walked.isEmpty) None
    else Some(q.restrict(ctx.part("ivf_postings")
      .filter(col("chunk_id").isin(walked: _*))
      .select(col("chunk_id"), col("embedding_norm"))))
  }

  /** The lockstep driver walk up to the local-finish cap, else the
    * distributed frontier walk; a query that visits nothing takes the
    * flat scan.
    */
  def candidates(ctx: IndexContext, st: Unit, b: Batch): BatchCandidates = {
    val beamW = math.max(ctx.config.nswBeam, b.k)
    val hnsw = layered(ctx.spelling)
    if (ctx.localFinish(b.nq)) {
      val spark = ctx.spark
      import spark.implicits._
      val qRows = b.qn.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val walked = ctx.graphWalk(beamW, qRows, hnsw, b.allowed)
      val pairs = walked.flatMap { case (qid, ids) => ids.map(id => (qid, id)) }
      val rows = ctx.spark.createDataset(pairs).toDF("query_id", "chunk_id")
        .join(ctx.part("ivf_postings").select(col("chunk_id"), col("embedding_norm")),
          Seq("chunk_id"))
      val missed = walked.collect { case (qid, ids) if ids.isEmpty => Long.box(qid) }
      BatchCandidates(rows,
        Some(missed).filter(_.nonEmpty).map(m => b.q.filter(col("query_id").isin(m: _*))))
    } else {
      val (rows, missing) = ctx.frontierWalk(b, beamW, hnsw)
      BatchCandidates(rows, Some(missing).filterNot(_.isEmpty))
    }
  }

  /** Unit = a node's layer-0 adjacency list (a hub taxes every beam). */
  def balanceUnits(ctx: IndexContext): DataFrame = units(ctx, "nsw_edges", "src_id")
}
