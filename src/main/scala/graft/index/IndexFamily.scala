package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{IndexConfig, Schemas}
import graft.engine.EngineErrors.{NotFoundError, ValidationError}
import graft.functions.VectorFunctions._

/** ONE INDEX FAMILY: everything the engine verbs know about a family,
  * so `rebuildIndex`, the incremental add, `search`, `annJoin`,
  * `annJoinStream`, `libraryStats` and the audit policies never name one.
  * Each object sits beside its kernel object (`GraphFamily` in
  * NswIndex.scala, ...). [[IndexFamily.of]] is the only parse of an
  * `IndexConfig.indexType` spelling; the `_det`/`_trained` suffix (and
  * nsw vs hnsw) is the family's MODE, read from the stored spelling, so
  * `IndexConfig` has no mode field.
  *
  * A family supplies its `tables` (derived from the ownership in
  * [[Schemas.storeTables]]), `build` (writes only its own tables), `add`
  * (appends against the FROZEN build state; nothing when not built),
  * `load` (the frozen state a search reads; None = not built, and the
  * engine scores the flat scan), `candidates` for one query (the
  * driver-side probe path, probes as `isin` literals) and for a query
  * frame, and where it has them a [[QuantizationAudit]], a
  * [[BalanceAudit]] and the `markers` of the `auto` resolution. The
  * shared steps — zero-query return, normalization, the pre-filter
  * restriction, the flat fallback, rerank, hydration and the top-k tail
  * — stay in the engine. Adding a family is one object listed in
  * [[IndexFamily.all]] plus its tables' `families` in the registry.
  */
abstract class IndexFamily(val name: String, val spellings: Seq[String]) {

  type State

  /** The index tables a library of `spelling` keeps, from the registry. */
  def tables(spelling: String): Seq[String] =
    Schemas.indexTables.collect { case t if t.families(spelling) => t.name }

  /** False for flat, which scores the chunk table itself. */
  def indexed: Boolean = true

  /** (table, spelling) pairs an `auto` library is resolved by: the first
    * marker, in [[IndexFamily.all]] order, that holds rows for it.
    */
  def markers: Seq[(String, String)] = Nil

  def build(ctx: IndexContext): Unit
  def add(ctx: IndexContext, newChunks: DataFrame): Unit
  def load(ctx: IndexContext): Option[State]

  /** (chunk_id, embedding_norm) rows; None = the flat scan instead. */
  def candidates(ctx: IndexContext, st: State, q: Query): Option[DataFrame]

  /** A query frame: (query_id, chunk_id, embedding_norm) candidate rows. */
  def candidates(ctx: IndexContext, st: State, b: Batch): BatchCandidates

  protected def det(ctx: IndexContext): Boolean = ctx.spelling.endsWith("_det")
  protected def trained(ctx: IndexContext): Boolean =
    ctx.spelling.endsWith("_trained")

  /** The library's `table` when it holds rows (one isEmpty job). */
  protected def heldRows(ctx: IndexContext, table: String): Option[DataFrame] =
    if (!ctx.exists(table)) None else Some(ctx.part(table)).filterNot(_.isEmpty)

  /** One query's capped candidates with their exact vectors. */
  protected def hydrate(ctx: IndexContext, cands: DataFrame): DataFrame =
    IndexFamily.withNorms(broadcast(cands), ctx.chunks, perCandidate = true)

  /** A batch's (query_id, chunk_id, dist_u) rows cut to `oversample` x
    * k per query by (dist_u asc, chunk_id asc), then hydrated.
    */
  protected def capHydrate(ctx: IndexContext, b: Batch, dists: DataFrame,
      oversample: Int): DataFrame =
    IndexFamily.withNorms(b.capPerQuery(dists, -col("dist_u"), oversample * b.k),
      ctx.chunks, perCandidate = false)

  /** One (grp = 0, m) balance unit per `key` of the library's `table`. */
  protected def units(ctx: IndexContext, table: String, key: String): DataFrame = {
    if (!ctx.exists(table))
      throw new NotFoundError(s"$name index for library ${ctx.libId}")
    ctx.part(table).groupBy(col(key))
      .agg(count(lit(1)).as("m")).select(lit(0).as("grp"), col("m"))
  }
}

object IndexFamily {

  /** Every family, in the `auto` probe order: most specific marker first
    * (the shared `ivf_centroids` decides nothing on its own).
    */
  val all: Seq[IndexFamily] = Seq(LshFamily, GraphFamily, IvfPqFamily,
    IvfSq8Family, IvfBqFamily, PqFamily, Sq8Family, BqFamily, IvfFamily,
    FlatFamily)

  private val bySpelling: Map[String, IndexFamily] =
    all.flatMap(f => f.spellings.map(_ -> f)).toMap

  /** The family of an `IndexConfig.indexType` spelling. */
  def of(indexType: String): IndexFamily =
    bySpelling.getOrElse(indexType,
      throw new ValidationError(s"unknown index type: $indexType"))

  /** `cands` joined to the library's embeddings, float-normalized as
    * `embedding_norm`. With `perCandidate` the normalize runs after the
    * join (only one query's <= cap candidates pay it); a batch's rows
    * repeat chunks across queries and outnumber the library in a
    * self-join, so batches and streams normalize the library side first.
    */
  def withNorms(cands: DataFrame, libChunks: DataFrame,
      perCandidate: Boolean): DataFrame = {
    val emb = libChunks.filter(col("embedding").isNotNull)
      .select(col("id").as("chunk_id"), col("embedding"))
    def normalized(df: DataFrame): DataFrame =
      df.withColumn("embedding_norm",
          transform(l2Normalize(col("embedding")), _.cast("float")))
        .drop("embedding")
    if (perCandidate) normalized(cands.join(emb, "chunk_id"))
    else normalized(emb).join(cands, "chunk_id")
  }

  /** (chunk_id, vnorm): the truth side of the quantization audits. */
  def truthNorms(ctx: IndexContext): DataFrame =
    ctx.chunks.filter(col("embedding").isNotNull)
      .select(col("id").as("chunk_id"),
        transform(l2Normalize(col("embedding")), _.cast("float")).as("vnorm"))

  /** The one-row audit readout (n, sum_err_u, max_err_u) of `err_u`. */
  def errorSummary(errs: DataFrame): DataFrame =
    errs.agg(count(lit(1)).as("n"),
      coalesce(sum(col("err_u")), lit(0L)).cast("long").as("sum_err_u"),
      coalesce(max(col("err_u")), lit(0L)).cast("long").as("max_err_u"))
}

/** One library's index as its family sees it: config, table partitions,
  * and the engine services a family reuses (memoized cells, graph walks).
  */
trait IndexContext {
  def spark: SparkSession
  def libId: String
  def dim: Int
  def config: IndexConfig
  def spelling: String
  def lshSeed: Long
  def chunks: DataFrame
  def exists(table: String): Boolean
  def part(table: String): DataFrame
  def write(table: String, df: DataFrame): Unit
  def append(table: String, df: DataFrame): Unit
  /** `tables` when the library holds rows in every one. */
  def built(tables: String*): Option[Seq[DataFrame]]
  /** The sorted coarse cells, memoized; None when too many to cache. */
  def centroidArr: Option[IndexedSeq[(Int, Array[Float])]]
  def cellsBuilt: Boolean = centroidArr.forall(_.nonEmpty)
  def probe(qn: Array[Float]): Array[(Int, Array[Float])]
  def graphWalk(beamW: Int, queries: Seq[(Long, Array[Float])], hnsw: Boolean,
      allowed: Option[DataFrame]): Seq[(Long, Seq[String])]
  def frontierWalk(b: Batch, beamW: Int, hnsw: Boolean): (DataFrame, DataFrame)
  def localFinish(nq: Long): Boolean
}

sealed trait Restricted {
  def allowed: Option[DataFrame]
  def restrict(cands: DataFrame): DataFrame =
    allowed.fold(cands)(a => cands.join(a, Seq("chunk_id"), "left_semi"))
}

/** One `search` query with its float normalization. */
final case class Query(raw: Array[Float], qn: Array[Float], k: Int,
    beam: Option[Int], allowed: Option[DataFrame]) extends Restricted

/** `q` = (query_id, qvec) of `nq` distinct queries, `qn` = (query_id,
  * qnorm) without the zero vectors.
  */
final case class Batch(q: DataFrame, qn: DataFrame, nq: Long, k: Int,
    allowed: Option[DataFrame]) extends Restricted {

  /** Per-query top-`cap` (query_id, chunk_id) by (score desc, id asc). */
  def capPerQuery(cands: DataFrame, scoreCol: Column, cap: Int): DataFrame = {
    import cands.sparkSession.implicits._
    cands.select(col("query_id"), col("chunk_id"), scoreCol.cast("double"))
      .as[(Long, String, Double)]
      .groupByKey(_._1)
      .agg(graft.functions.TopKAggregator.topKStr(cap).toColumn)
      .flatMap { case (qid, hs) => hs.map(h => (qid, h._2)) }
      .toDF("query_id", "chunk_id")
  }

  /** Per-query top-nprobe (query_id, centroid_id), the single-path order. */
  def probePairs(cents: DataFrame, nprobe: Int): DataFrame = {
    import cents.sparkSession.implicits._
    qn.crossJoin(broadcast(cents.select(col("centroid_id"), col("vector"))))
      .select(col("query_id"), col("centroid_id").cast("long"),
        dotProduct(col("vector"), col("qnorm")).as("cscore"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(graft.functions.TopKAggregator.topK(math.max(1, nprobe)).toColumn)
      .flatMap { case (qid, cs) => cs.map(c => (qid, c._2.toInt)) }
      .toDF("query_id", "centroid_id")
  }

  /** The probe pairs with their FLOAT query residual `qres` (the encode
    * arithmetic verbatim).
    */
  def probeResiduals(cents: DataFrame, nprobe: Int): DataFrame =
    probePairs(cents, nprobe)
      .join(broadcast(cents.select(col("centroid_id"), col("vector"))),
        Seq("centroid_id"))
      .join(qn, Seq("query_id"))
      .select(col("query_id"), col("centroid_id"),
        zip_with(col("qnorm"), col("vector"), (a, b) => a - b).as("qres"))
}

/** A batch's candidates, plus the queries that take the flat scan. */
final case class BatchCandidates(rows: DataFrame,
    flatQueries: Option[DataFrame] = None)

/** Reconstruction error of the stored codes: one (n, sum_err_u,
  * max_err_u) row in exact micro-units, the rebuild-due signal.
  */
trait QuantizationAudit { def quantizationError(ctx: IndexContext): DataFrame }

/** (grp, m) rows: m entries per balance unit, shares taken within grp. */
trait BalanceAudit { def balanceUnits(ctx: IndexContext): DataFrame }

/** Flat: never built, so every query is the engine's flat scan. */
object FlatFamily extends IndexFamily("flat", Seq("flat")) {
  type State = Nothing
  override def indexed: Boolean = false
  def build(ctx: IndexContext): Unit = ()
  def add(ctx: IndexContext, newChunks: DataFrame): Unit = ()
  def load(ctx: IndexContext): Option[Nothing] = None
  def candidates(ctx: IndexContext, st: Nothing, q: Query): Option[DataFrame] = st
  def candidates(ctx: IndexContext, st: Nothing, b: Batch): BatchCandidates = st
}

/** The families that code each vector's RESIDUAL against its cell
  * (ivfpq, ivfsq8): one batch scan and one stream probe over the codes,
  * with the per-(query, cell) query table and distance from the family.
  */
abstract class ResidualFamily(name: String, spellings: Seq[String])
    extends IndexFamily(name, spellings) with QuantizationAudit with BalanceAudit {

  def codesTable: String
  def oversample: Int
  def residualTable(st: State, res: Column): Column
  def residualDist(st: State): Column

  override def markers: Seq[(String, String)] = Seq(codesTable -> name)

  def candidates(ctx: IndexContext, st: State, b: Batch): BatchCandidates = {
    val pairs = b.probeResiduals(ctx.part("ivf_centroids"), ctx.config.ivfNprobe)
      .select(col("query_id"), col("centroid_id"), residualTable(st, col("qres")))
    BatchCandidates(capHydrate(ctx, b, b.restrict(ctx.part(codesTable))
      .join(pairs, Seq("centroid_id"))
      .select(col("query_id"), col("chunk_id"), residualDist(st).as("dist_u")),
      oversample))
  }

  def balanceUnits(ctx: IndexContext): DataFrame =
    units(ctx, codesTable, "centroid_id")

  /** `VectorEngine.annJoinStream` over this family's codes table. */
  def stream(ctx: IndexContext, queries: DataFrame, k: Int,
      metric: String): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val st = load(ctx).getOrElse(throw new ValidationError(
      s"annJoinStream: ${ctx.spelling} index is not built"))
    val centArr = ctx.centroidArr.getOrElse(throw new ValidationError(
      "annJoinStream: too many centroids for the probe literal"))
    val qn = queries
      .select(col("query_id").cast("long").as("query_id"), col("qvec"))
      .filter(size(col("qvec")) === ctx.dim)
      .select(col("query_id"), col("qvec"),
        transform(l2Normalize(col("qvec")), _.cast("float")).as("qnorm"))
      .filter(col("qnorm").isNotNull)
    val probeStructs = centArr.map { case (cid, cv) =>
      struct((-dotProduct(typedLit(cv.toSeq), col("qnorm"))).as("nd"),
        lit(cid).as("cid"))
    }
    val cvecMap = typedLit(centArr.map { case (cid, cv) => cid -> cv.toSeq }.toMap)
    val probed = qn
      .select(col("query_id"), col("qvec"), col("qnorm"),
        explode(slice(array_sort(array(probeStructs: _*)), 1,
          math.max(1, ctx.config.ivfNprobe))).as("pc"))
      .select(col("query_id"), col("qvec"), col("pc.cid").as("centroid_id"),
        residualTable(st, zip_with(col("qnorm"),
          element_at(cvecMap, col("pc.cid")), (a, b) => a - b)))
    val codes = ctx.part(codesTable)
      .select(col("centroid_id"), col("chunk_id"), col("codes"))
    IndexFamily.withNorms(probed.join(codes, Seq("centroid_id")), ctx.chunks,
        perCandidate = false)
      .select(col("query_id"), col("chunk_id"), residualDist(st).as("dist_u"),
        similarity(metric)(col("embedding_norm"), col("qvec")).as("score"))
      .as[(Long, String, Long, Double)]
      .groupByKey(_._1)
      .agg(graft.functions.CapRerankAggregator
        .capRerank(oversample * k, k).toColumn)
      .toDF("query_id", "hits")
  }
}
