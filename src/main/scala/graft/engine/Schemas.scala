package graft.engine

import org.apache.spark.sql.types._

/** Explicit schemas for the engine's state tables — the reference's entity
  * model (`/root/reference/src/vector_db_api/models/entities.py:12-60`,
  * `models/metadata.py:7-26`) mapped to Spark types per SURVEY.md §1.
  *
  * Schemas are fixed and validated at the edge (the reference forbids
  * unknown keys via Pydantic extra="forbid") — the engine never infers.
  * `documents.chunk_ids` is intentionally NOT stored: it is derivable from
  * `chunks.document_id` (the reference maintains both in parallel,
  * `services/chunk.py:50-53`; a denormalized id-array is a liability at
  * scale).
  */
object Schemas {

  val chunkMetadataType: StructType = StructType(Seq(
    StructField("source_uri", StringType),
    StructField("author", StringType),
    StructField("lang", StringType),
    StructField("mime_type", StringType),
    StructField("tags", ArrayType(StringType, containsNull = false)),
    StructField("page_number", IntegerType),
    StructField("token_count", IntegerType),
    StructField("sha256", StringType),
  ))

  val documentMetadataType: StructType = StructType(Seq(
    StructField("source_uri", StringType),
    StructField("author", StringType),
    StructField("lang", StringType),
    StructField("mime_type", StringType),
    StructField("tags", ArrayType(StringType, containsNull = false)),
    StructField("title", StringType),
    StructField("summary", StringType),
    StructField("sha256", StringType),
  ))

  val libraryMetadataType: StructType = StructType(Seq(
    StructField("source_uri", StringType),
    StructField("author", StringType),
    StructField("lang", StringType),
    StructField("mime_type", StringType),
    StructField("tags", ArrayType(StringType, containsNull = false)),
    StructField("description", StringType),
  ))

  /** Index configuration (reference `models/indexing.py:6-13` with the
    * registry defaults applied, `indexing/registry.py:52-53`).
    */
  val indexConfigType: StructType = StructType(Seq(
    StructField("type", StringType, nullable = false),
    StructField("lsh_num_tables", IntegerType, nullable = false),
    StructField("lsh_hyperplanes_per_table", IntegerType, nullable = false),
    StructField("ivf_num_centroids", IntegerType, nullable = false),
    StructField("ivf_nprobe", IntegerType, nullable = false),
    StructField("pq_subspaces", IntegerType, nullable = false),
    StructField("pq_codewords", IntegerType, nullable = false),
    StructField("nsw_degree", IntegerType, nullable = false),
    StructField("nsw_beam", IntegerType, nullable = false),
    StructField("nsw_rounds", IntegerType, nullable = false),
  ))

  val chunks: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("library_id", StringType, nullable = false),
    StructField("document_id", StringType, nullable = false),
    StructField("position", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("metadata", chunkMetadataType),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
    StructField("version", LongType, nullable = false),
  ))

  val documents: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("library_id", StringType, nullable = false),
    StructField("metadata", documentMetadataType),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
    StructField("version", LongType, nullable = false),
  ))

  val libraries: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("embedding_dim", IntegerType, nullable = false),
    StructField("index_config", indexConfigType, nullable = false),
    StructField("metadata", libraryMetadataType),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
    StructField("version", LongType, nullable = false),
  ))

  /** Library aliases (blue-green serving): a stable public name
    * re-pointable atomically between library versions. Catalog-scale —
    * one row per alias; an alias may only target a REAL library id
    * (never another alias), enforced at create/switch.
    */
  val aliases: StructType = StructType(Seq(
    StructField("alias", StringType, nullable = false),
    StructField("library_id", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
  ))

  // Derived (index) tables — SURVEY §1.1 "Index (derived)" row.

  /** LSH: one row per (table, hyperplane) — the seeded random hyperplanes,
    * persisted so signatures are reproducible across engine instances.
    */
  val lshPlanes: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("table_id", IntegerType, nullable = false),
    StructField("plane_id", IntegerType, nullable = false),
    StructField("plane", ArrayType(FloatType, containsNull = false), nullable = false),
  ))

  /** LSH: chunk -> per-table signature (bucket key). */
  val lshBuckets: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("table_id", IntegerType, nullable = false),
    StructField("signature", LongType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("embedding_norm", ArrayType(FloatType, containsNull = false), nullable = false),
  ))

  val ivfCentroids: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("centroid_id", IntegerType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
  ))

  val ivfPostings: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("centroid_id", IntegerType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("embedding_norm", ArrayType(FloatType, containsNull = false), nullable = false),
  ))

  /** NSW graph-ANN: bidirectional adjacency rows (one per directed edge
    * after the top-M ∪ reverse union). Vectors are NOT duplicated onto
    * edges — search hydrates them from the shared ivf_postings rows by
    * chunk_id, so the adjacency table stays two-string-columns thin at
    * any corpus size.
    */
  val nswEdges: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("src_id", StringType, nullable = false),
    StructField("dst_id", StringType, nullable = false),
  ))

  /** HNSW upper-layer adjacency (layers >= 1; layer 0 IS the shared
    * `nsw_edges` base graph). One row per directed edge per layer; the
    * descent reads it with (layer, src_id) literal pushdowns, so like
    * the base table it stays vector-free and thin. Node LEVELS are not
    * stored anywhere: level is a pure md5 function of the chunk id
    * ([[graft.index.HnswIndex.levelExpr]]), recomputable by any reader.
    */
  val hnswEdges: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("layer", IntegerType, nullable = false),
    StructField("src_id", StringType, nullable = false),
    StructField("dst_id", StringType, nullable = false),
  ))

  /** PQ: one row per (subspace, codeword) — the content-derived codebook
    * slices (float, of the NORMALIZED seed vectors).
    */
  val pqCodebooks: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("m", IntegerType, nullable = false),
    StructField("k", IntegerType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
  ))

  /** PQ: one row per encoded chunk — M one-byte codes (stored as ints)
    * plus the float-normalized vector for the exact rerank step.
    */
  val pqCodes: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("embedding_norm", ArrayType(FloatType, containsNull = false), nullable = false),
  ))

  /** SQ8: per-dim quantization range (the "codebook" — 2 doubles/dim,
    * metadata scale) and one byte code per (chunk, dim).
    */
  val sq8Params: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("lo", DoubleType, nullable = false),
    StructField("hi", DoubleType, nullable = false),
  ))

  val sq8Codes: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
  ))

  /** BQ (binary quantization): one row per encoded chunk — ceil(dim/64)
    * packed sign-bit words of the L2-normalized vector (1 bit/dim, the
    * family's entire state: no params/codebook table, encode is
    * stateless).
    */
  val bqCodes: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
  ))

  /** IVF+BQ: the packed sign-bit code ON its inverted-list row — the
    * centroid_id is the probe pushdown key (and the layout key), so a
    * search scans nprobe/K of the packed corpus with no join.
    */
  val ivfbqCodes: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("centroid_id", IntegerType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
  ))

  /** IVF+PQ: one row per encoded chunk — its inverted list (centroid_id,
    * the probe pushdown key) plus M one-byte RESIDUAL codes. Deliberately
    * NO stored vector: this is the byte-compressed scan table; the exact
    * rerank hydrates the ≤6k candidates from the chunk store by id.
    */
  val ivfpqCodes: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("centroid_id", IntegerType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
  ))

  /** IVF+SQ8: per-(cell, dim) residual quantization range (2 doubles per
    * dim per cell — metadata scale) and one row per encoded chunk with
    * its inverted list (centroid_id, the probe pushdown key) plus dim
    * one-byte residual codes. No stored vector: the exact rerank
    * hydrates the capped candidates from the chunk store by id.
    */
  val ivfsq8Params: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("centroid_id", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("lo", DoubleType, nullable = false),
    StructField("hi", DoubleType, nullable = false),
  ))

  val ivfsq8Codes: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("centroid_id", IntegerType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
  ))

  /** Curation verb output (`VectorEngine.curateLibrary`): the packed
    * training sequences derived from a library's curated chunk survivors —
    * one row per surviving chunk with its position in the
    * concatenate-and-cut packing.
    */
  val curatedSequences: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("start_off", LongType, nullable = false),
    StructField("seq_id", LongType, nullable = false),
    StructField("end_seq", LongType, nullable = false),
    StructField("straddles", BooleanType, nullable = false),
  ))

  /** Deduped-storage derived tables (`VectorEngine.dedupStorage`): each
    * distinct content-defined passage stored ONCE (`cdc_blobs`) plus the
    * per-chunk ordered recipe that reassembles the original text
    * byte-for-byte (`cdc_manifest`).
    */
  val cdcBlobs: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("chash", StringType, nullable = false),
    StructField("ctext", StringType, nullable = false),
  ))

  val cdcManifest: StructType = StructType(Seq(
    StructField("library_id", StringType, nullable = false),
    StructField("chunk_id", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("chash", StringType, nullable = false),
  ))

  /** CENTRAL STORE-TABLE REGISTRY (ADVICE r14): the single place a state
    * table is declared, from which the maintenance verbs DERIVE their
    * table sets — `vacuum` retains every registered table,
    * `compactIndexes` compacts the row-appended derived tables
    * (`compactable`), and `optimizeIndexLayout` range-slices the
    * probe-keyed ones (`layoutKeys` non-empty, in probe-pushdown order).
    * The r13 defect this kills: three hand-maintained lists that each
    * had to remember every new table separately (nsw_edges/cdc_* missed
    * vacuum for two rounds).
    *
    * `layoutTieKey` = true appends the row id (`chunk_id`) to the layout
    * sort so the rewrite is deterministic; the edge tables carry their
    * own full key instead (they have no chunk_id column).
    *
    * `families` declares which index families OWN the table, by every
    * `IndexConfig.indexType` spelling (`_det`/`_trained` included, so a
    * mode may own more tables than another, as hnsw_det owns
    * `hnsw_edges`); a table with no owner is not an index table. It is
    * the one ownership declaration: [[graft.index.IndexFamily.tables]]
    * derives a family's tables from it (libraryStats reports an index
    * once the library holds all of them), and adding a family means one
    * `IndexFamily` object plus its spellings here. The index lifecycle
    * derives from it: a rebuild writes its family's tables and keeps
    * exactly those, dropping the library's partition of every other
    * index table; a library delete or a flat rebuild drops them all;
    * incremental maintenance touches only tables the library holds, and
    * a bulk ingest into a library holding any of them checkpoints its
    * batch before the index add.
    * A SHARED table is listed under every family that reads it —
    * `ivf_centroids` (the coarse cells of the ivf, graph and ivf-coded
    * families), `ivf_postings` (ivf and the graph families) and
    * `pq_codebooks` (pq and ivfpq) — so a rebuild between two of its
    * owners keeps it.
    */
  final case class TableDef(
      name: String,
      schema: StructType,
      compactable: Boolean = false,
      layoutKeys: Seq[String] = Nil,
      layoutTieKey: Boolean = false,
      families: Set[String] = Set.empty) {
    /** The columns naming the chunk(s) a row stands for: `chunk_id`, or
      * both endpoints of an edge; empty for per-library parameter tables
      * (planes, centroids, codebooks, ranges).
      */
    def rowIdCols: Seq[String] =
      Seq("chunk_id", "src_id", "dst_id").filter(schema.fieldNames.contains)
  }

  private val Lsh = Set("lsh", "lsh_det")
  private val Ivf = Set("ivf", "ivf_det")
  private val Graph = Set("nsw_det", "hnsw_det")
  private val Pq = Set("pq", "pq_trained")
  private val IvfPq = Set("ivfpq", "ivfpq_trained")
  private val Cells = Ivf ++ Graph ++ IvfPq ++ Set("ivfbq", "ivfsq8")

  val storeTables: Seq[TableDef] = Seq(
    TableDef("libraries", libraries),
    TableDef("documents", documents),
    TableDef("chunks", chunks),
    TableDef("lsh_planes", lshPlanes, families = Lsh),
    TableDef("lsh_buckets", lshBuckets, compactable = true,
      layoutKeys = Seq("table_id", "signature"), layoutTieKey = true,
      families = Lsh),
    TableDef("ivf_centroids", ivfCentroids, families = Cells),
    TableDef("ivf_postings", ivfPostings, compactable = true,
      layoutKeys = Seq("centroid_id"), layoutTieKey = true,
      families = Ivf ++ Graph),
    TableDef("pq_codebooks", pqCodebooks, families = Pq ++ IvfPq),
    TableDef("pq_codes", pqCodes, compactable = true, families = Pq),
    TableDef("ivfpq_codes", ivfpqCodes, compactable = true,
      layoutKeys = Seq("centroid_id"), layoutTieKey = true, families = IvfPq),
    TableDef("sq8_params", sq8Params, families = Set("sq8")),
    TableDef("sq8_codes", sq8Codes, compactable = true, families = Set("sq8")),
    TableDef("bq_codes", bqCodes, compactable = true, families = Set("bq")),
    TableDef("ivfbq_codes", ivfbqCodes, compactable = true,
      layoutKeys = Seq("centroid_id"), layoutTieKey = true,
      families = Set("ivfbq")),
    TableDef("ivfsq8_params", ivfsq8Params, families = Set("ivfsq8")),
    TableDef("ivfsq8_codes", ivfsq8Codes, compactable = true,
      layoutKeys = Seq("centroid_id"), layoutTieKey = true,
      families = Set("ivfsq8")),
    // NSW adjacency: the walk reads edges by src_id `isin` (one beam per
    // round); the hnsw descent reads (layer, src_id) literals — layer
    // leads its key. No chunk_id column, so the full key is carried here.
    // hnsw_det's base layer IS nsw_edges; its upper layers are its own.
    TableDef("nsw_edges", nswEdges, compactable = true,
      layoutKeys = Seq("src_id", "dst_id"), families = Graph),
    TableDef("hnsw_edges", hnswEdges, compactable = true,
      layoutKeys = Seq("layer", "src_id", "dst_id"),
      families = Set("hnsw_det")),
    TableDef("curated_sequences", curatedSequences),
    TableDef("cdc_blobs", cdcBlobs),
    TableDef("cdc_manifest", cdcManifest),
    TableDef("aliases", aliases))

  /** The registered tables by name. */
  val storeTable: Map[String, TableDef] =
    storeTables.map(t => t.name -> t).toMap

  /** The derived index tables: every table some family owns. */
  val indexTables: Seq[TableDef] = storeTables.filter(_.families.nonEmpty)

  /** Catalog-scale tables NOT partitioned by library_id — excluded from
    * per-library partition operations (export/import, partition drops).
    */
  val globalTables: Set[String] = Set("libraries", "aliases")
}

/** Search-time metadata filters (reference `services/search.py:40-62`).
  * Applied AFTER top-k (post-filter, quirk Q5) unless the engine is asked
  * to pre-filter.
  */
case class SearchFilters(
    docIds: Seq[String] = Nil,
    tags: Seq[String] = Nil,
    author: Option[String] = None,
    createdAfter: Option[java.sql.Timestamp] = None)

/** Typed facade rows (SURVEY §1.5: `Dataset[T]` where type safety helps;
  * `DataFrame` for the dynamic-schema operator layer). Field names/order
  * match `Schemas.chunks` so `df.as[ChunkRow]` is a pure cast.
  */
case class ChunkMetaRow(
    source_uri: Option[String], author: Option[String], lang: Option[String],
    mime_type: Option[String], tags: Option[Seq[String]],
    page_number: Option[Int], token_count: Option[Int], sha256: Option[String])

case class ChunkRow(
    id: String, library_id: String, document_id: String, position: Int,
    text: String, embedding: Option[Seq[Float]], metadata: Option[ChunkMetaRow],
    created_at: java.sql.Timestamp, updated_at: java.sql.Timestamp, version: Long)

/** Document metadata DTO (reference `models/metadata.py:20-23` on top of
  * BaseMetadata 7-13).
  */
case class DocMetadata(
    title: Option[String] = None,
    summary: Option[String] = None,
    sourceUri: Option[String] = None,
    author: Option[String] = None,
    lang: Option[String] = None,
    mimeType: Option[String] = None,
    tags: Seq[String] = Nil,
    sha256: Option[String] = None)

/** Library metadata DTO (reference `models/metadata.py:25-26`). */
case class LibMetadata(
    description: Option[String] = None,
    sourceUri: Option[String] = None,
    author: Option[String] = None,
    lang: Option[String] = None,
    mimeType: Option[String] = None,
    tags: Seq[String] = Nil)

/** Index configuration with reference defaults. The nsw_* parameters
  * drive the graph-ANN family ("nsw_det"): per-node out-degree of the
  * k-NN graph, beam width of the search walk, and the fixed number of
  * expansion rounds (fixed so the walk is SQL-replayable — a
  * convergence-tested walk would not be).
  */
case class IndexConfig(
    indexType: String = "flat",
    lshNumTables: Int = 8,
    lshHyperplanesPerTable: Int = 16,
    ivfNumCentroids: Int = 64,
    ivfNprobe: Int = 4,
    pqSubspaces: Int = 8,
    pqCodewords: Int = 16,
    nswDegree: Int = 6,
    nswBeam: Int = 12,
    nswRounds: Int = 3)

object EngineErrors {
  class NotFoundError(msg: String) extends RuntimeException(msg)
  class ConflictError(msg: String) extends RuntimeException(msg)
  class ValidationError(msg: String) extends RuntimeException(msg)
}
