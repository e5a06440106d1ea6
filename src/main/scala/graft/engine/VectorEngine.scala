package graft.engine

import java.sql.Timestamp
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.EngineErrors._
import graft.functions.VectorFunctions._
import graft.index.{Batch, BalanceAudit, GraphFamily, HnswIndex, IndexContext, IndexFamily, IvfFamily, IvfPqFamily, IvfSq8Family, LshIndex, PqFamily, QuantizationAudit, Query, ResidualFamily, Sq8Family}

/** The engine facade: the reference's service-layer verbs
  * (`/root/reference/src/vector_db_api/services/{library,document,chunk,search}.py`) re-expressed as
  * batch state transitions over versioned parquet snapshots + derived
  * index tables, per SURVEY.md §7's guiding shape
  * (Engine -> StateStore -> IndexBuilder/Search).
  *
  * Mutation model: every verb reads the current snapshot, computes the next
  * state as a DataFrame (CAS checks via joins on (id, version)), writes the
  * next snapshot, and atomically repoints — single-writer batch semantics,
  * so the reference's per-library read/write locks have no analog here
  * (SURVEY §4: snapshot isolation comes free from immutable storage).
  *
  * Search model (reference `services/search.py:18-75`): index-specific
  * candidate generation -> exact rerank -> top-k -> hydration join ->
  * POST-filters (quirk Q5 preserved: a filtered query may return < k rows)
  * -> hit projection (P9).
  *
  * `quirkCompat = true` additionally replicates reference bug Q2 (LSH
  * update is a silent no-op, `indexing/base.py:6`); the default FIXES it
  * (stale LSH entries are rewritten on chunk update). The quirk is
  * LSH-only — the reference's IVFIndex.update (`ivf.py:51-75`) DOES
  * re-assign updated vectors, so quirk-compat IVF libraries still
  * maintain postings.
  */
final class VectorEngine(
    val spark: SparkSession,
    root: String,
    clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    quirkCompat: Boolean = false,
    lshSeed: Long = 42L,
    autoIvfThreshold: Long = 100000L,
    autoLshThreshold: Long = 10000000L,
    autoVacuumKeep: Option[Int] = None) {

  private val store = new StateStore(spark, root)

  /** The snapshot-store directory — snapshot files are immutable, so a
    * hardlink clone of this tree is an independent store (the fixture
    * discipline the query suite uses for mutating entries).
    */
  def storeRoot: String = root

  private def now(): Timestamp = clock()
  private def newId(): String = UUID.randomUUID().toString


  // Driver-side catalog cache. The library catalog is metadata-scale
  // (O(#libraries), never data-scale — SURVEY §1.1), and this engine is
  // single-writer by contract, so caching collect()ed catalog rows on the
  // driver is a plain catalog cache, not a distributed-consistency hazard.
  // Invalidated on every libraries-snapshot write. The doc->library map is
  // a point-lookup cache (NOT a full-table mirror — documents can be
  // data-scale): entries are added on create/lookup hits and evicted on
  // delete/move, so requireDocInLibrary usually costs zero Spark jobs.
  private var libCache: Option[Map[String, (Int, IndexConfig, Long)]] = None
  private val docLibCache = scala.collection.mutable.Map.empty[String, String]
  private def invalidateLibs(): Unit = { libCache = None; indexMetaCache.clear() }

  // Per-library INDEX-RESOLUTION cache (ADVICE r14): `auto` dispatch used
  // to re-probe up to 8 tables (a store.exists + an isEmpty Spark action
  // each) on EVERY search/annJoin call, and the hnsw walk
  // re-collected its layer list + max-level entry node per query. Both
  // change only when the library's index state changes, so they live here
  // keyed by libId and are dropped wherever that state mutates: catalog
  // writes (invalidateLibs), rebuildIndex, incremental add/remove
  // maintenance, and index-table drops. Values: the resolved effective
  // family, and the hnsw (layers desc, entry node id) metadata.
  private val indexMetaCache =
    scala.collection.mutable.Map.empty[String, IndexMeta]
  private case class IndexMeta(
    var effType: Option[String] = None,
    var hnswLayers: Option[Seq[Int]] = None,
    var hnswEntry: Option[Option[(String, Array[Float])]] = None,
    // BOUNDED CURSOR CACHES (optimization r16, guide §2.4/§5): the graph
    // walks are fixed-round cursor protocols — every round reads a
    // beam-bounded set of adjacency rows and posting vectors via pushed
    // isin literals. Those rows are query-independent (they change only
    // with corpus churn, exactly like hnswEntry/hnswLayers above), and a
    // serving system keeps precisely this working set in a block cache.
    // Caching the RAW rows (never scores, never per-query state) turns a
    // warm walk round into zero Spark jobs while staying bit-identical:
    // driver scoring uses dotDriver, the documented bit-exact twin of the
    // VecDot expression. All maps are hard-capped (WalkCacheCap below) so
    // driver memory stays bounded at any corpus size — an over-cap fetch
    // is served but not retained. Invalidated with the whole IndexMeta on
    // every index-state mutation.
    val adj: scala.collection.mutable.HashMap[String, IndexedSeq[String]] =
      scala.collection.mutable.HashMap.empty,
    val layerAdj: scala.collection.mutable.HashMap[(Int, String), IndexedSeq[String]] =
      scala.collection.mutable.HashMap.empty,
    val vecs: scala.collection.mutable.HashMap[String, Option[Array[Float]]] =
      scala.collection.mutable.HashMap.empty,
    val cellPosts: scala.collection.mutable.HashMap[Int, Option[IndexedSeq[String]]] =
      scala.collection.mutable.HashMap.empty,
    // The coarse centroids every single-query probe (probeCells) and
    // graph entry cell reads. None = not probed yet; Some(None) = too
    // many centroids to cache (callers keep the distributed
    // TakeOrdered); Some(Some(arr)) = the (centroid_id asc)-sorted
    // (id, vector) pairs
    var centroids: Option[Option[IndexedSeq[(Int, Array[Float])]]] = None,
    // Whole-table warm-load markers (optimization r16): None = not
    // attempted, Some(true) = the WHOLE table is cached (a map miss is
    // definitively "no rows"), Some(false) = table over WalkCacheCap,
    // per-cursor fetches only. A serving node pages the whole index
    // block into its block cache once instead of one cursor read per
    // walk round; the cap keeps that exact discipline bounded.
    var adjWarm: Option[Boolean] = None,
    var layerAdjWarm: Option[Boolean] = None,
    var vecsWarm: Option[Boolean] = None)
  private def indexMeta(libId: String): IndexMeta =
    indexMetaCache.getOrElseUpdate(libId, IndexMeta())
  private def invalidateIndexMeta(libId: String): Unit =
    indexMetaCache.remove(libId)

  /** Cap for every per-library cursor cache above: 2^17 entries per map
    * keeps the driver bounded (worst case some tens of MB of ids/vectors)
    * while covering any beam-bounded working set — beams touch
    * O(beam x degree x rounds) nodes per query.
    */
  private val WalkCacheCap = 1 << 17

  /** annJoin batches at or below this size run the per-query cached-
    * cursor walk (the bounded local finish) and broadcast their N x k
    * top-k rows into the hydration join; larger sets keep the
    * distributed frontier-join walk and a planner-chosen join. 1024
    * queries x beam x rounds of driver state is the same order as one
    * collected search result.
    */
  private val LocalAnnJoinCap = 1024

  // ---- state accessors -----------------------------------------------

  def libraries: DataFrame = store.read("libraries", Schemas.libraries)
  def documents: DataFrame = store.read("documents", Schemas.documents)
  def chunks: DataFrame    = store.read("chunks", Schemas.chunks)

  /** Typed chunk view (`Dataset[ChunkRow]`) for callers that want
    * compile-time field safety; same snapshot as `chunks`.
    */
  def chunksTyped: org.apache.spark.sql.Dataset[ChunkRow] = {
    import spark.implicits._
    chunks.as[ChunkRow]
  }

  /** Time travel (Delta-style `VERSION AS OF`): the chunk snapshot as of
    * an earlier store version — old `v<N>` directories stay readable
    * because mutations only repoint `_CURRENT`.
    */
  def chunksAt(version: Long): DataFrame =
    store.readVersion("chunks", version, Schemas.chunks)
  def chunksVersion: Option[Long] = store.currentVersion("chunks")

  /** Snapshot CDC: the row-level change set between two chunk snapshot
    * versions — (id, change ∈ added|deleted|updated, old_text, new_text).
    * The incremental-downstream primitive at scale: a consumer processes
    * the diff instead of rescanning the corpus. One distributed
    * full-outer equi-join on id (both sides partitioned by library via
    * the snapshot layout; unchanged rows — same version AND same text —
    * are filtered map-side after the join, so the output is bounded by
    * the true change set, not the corpus).
    */
  def snapshotDiff(vOld: Long, vNew: Long): DataFrame = {
    // join on (library_id, id), not id alone: chunk ids are
    // caller-supplied and only de-duplicated within a library, so two
    // libraries ingesting the same id must not cross-match into
    // duplicate keys and spurious 'updated' rows (ADVICE r7)
    val o = chunksAt(vOld).select(col("library_id"), col("id"),
      col("text").as("old_text"), col("version").as("old_version"))
    val n = chunksAt(vNew).select(col("library_id"), col("id"),
      col("text").as("new_text"), col("version").as("new_version"))
    o.join(n, Seq("library_id", "id"), "full_outer")
      .withColumn("change",
        when(col("old_version").isNull, lit("added"))
          .when(col("new_version").isNull, lit("deleted"))
          .when(col("old_version") =!= col("new_version") ||
            col("old_text") =!= col("new_text"), lit("updated")))
      .filter(col("change").isNotNull)
      .select(col("id"), col("change"), col("old_text"), col("new_text"))
  }

  /** Retention for all state tables: keep the newest `keepLast` snapshot
    * versions, delete the rest (ends time travel past the horizon).
    * Returns the number of snapshot directories removed.
    */
  def vacuum(keepLast: Int = 1): Int =
    // EVERY registered store table — derived from the one central
    // registry (ADVICE r14: the hand-maintained list here went stale
    // twice; a table registered in [[Schemas.storeTables]] is retained,
    // compacted, and laid out without touching this verb again)
    Schemas.storeTables.map(t => store.vacuum(t.name, keepLast)).sum

  /** Auto-retention hook: when `autoVacuumKeep = Some(n)` every mutating
    * verb trims snapshot history to the newest n versions on its way out
    * (bounded storage instead of unbounded time travel).
    */
  private def maybeVacuum(): Unit = autoVacuumKeep.foreach(n => vacuum(n))

  /** BQ INDEX-BALANCE AUDIT: per-dimension population count of the
    * stored sign bits — the binary family's discrimination readout. A
    * dimension whose bit is (nearly) always 0 or always 1 contributes
    * nothing to any hamming distance, so a skewed population means the
    * effective code length is shorter than dim and recall degrades; the
    * operator reading is the count of dims with n_set near 0 or near
    * n_codes (healthy embeddings hover near n_codes/2). One bounded
    * explode (dim bits/row) + one keyed agg — the sq8 qerror discipline:
    * the oracle recomputes every bit from the corpus, so a single stale
    * or corrupted code row fails the hash.
    */
  def bqBitStats(libId: String): DataFrame = {
    val (dim, _, _) = getLibrary(libId)
    val codes = libPart("bq_codes", libId)
    if (!store.exists("bq_codes") || codes.isEmpty)
      throw new NotFoundError(s"bq index for library $libId")
    val bits = array((0 until dim).map { i =>
      shiftright(element_at(col("codes"), i / 64 + 1), i % 64)
        .bitwiseAND(lit(1L)).cast("int")
    }: _*)
    codes.select(posexplode(bits).as(Seq("pos", "b")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_codes"), sum(col("b")).cast("long").as("n_set"))
      .select(col("pos").cast("int").as("pos"), col("n_codes"), col("n_set"))
      .orderBy(col("pos").asc)
  }

  /** INDEX-BALANCE audit for the IVF families: members per coarse cell,
    * empty cells included — a hot cell makes every probe touching it pay
    * its full posting list (the candidate bound is nprobe/K of the
    * corpus ONLY when cells are balanced), and an empty cell wastes a
    * probe. This is the reading an operator thresholds before
    * re-training/rebalancing, the coarse-cell sibling of the
    * reconstruction-error audits. One groupBy over the postings table +
    * a left join to the metadata-scale centroid list.
    */
  def ivfCellStats(libId: String): DataFrame = IvfFamily.cellStats(libCtx(libId))

  /** Bucket-balance audit for the LSH families, per hash table: bucket
    * count, total entries, and the largest bucket. A degenerate table
    * (most vectors in one sign bucket — planes aligned with the data's
    * dominant direction) makes its probes near-linear scans; per-table
    * stats show WHICH table to re-plane. One groupBy over the bucket
    * table, output = |tables| rows.
    */
  def lshBucketStats(libId: String): DataFrame = {
    if (!store.exists("lsh_buckets"))
      throw new NotFoundError(s"lsh index for library $libId")
    val b = libPart("lsh_buckets", libId)
    if (b.isEmpty) throw new NotFoundError(s"lsh index for library $libId")
    b.groupBy(col("table_id"), col("signature"))
      .agg(count(lit(1)).as("bn"))
      .groupBy(col("table_id"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("bn")).as("n_entries"),
        max(col("bn")).as("max_bucket"))
      .orderBy(col("table_id").asc)
  }

  /** Degree-distribution audit for the NSW graph family: nodes per
    * adjacency degree, zero-degree nodes included (a node whose probe
    * cells held no other member gets no edges and is unreachable by the
    * walk — the graph's analog of an empty IVF cell). A hub (degree far
    * above 2x the configured out-degree, from piled-up reverse links)
    * makes every beam that touches it pay its full adjacency list; a
    * mass at low degrees means the walk can't navigate and recall decays.
    * This is the reading an operator thresholds before re-seeding cells
    * or re-building the graph. One groupBy over the edge table + a left
    * join from the postings (so node-count provenance matches the walk's
    * candidate universe); output rows = distinct degrees, corpus-
    * independent in the balanced case.
    */
  def nswDegreeStats(libId: String): DataFrame = {
    // gate on THIS library's effective family, not just the global
    // table's existence: another library's graph must not turn an
    // ivf-built library's call into an all-zero histogram (ADVICE r13)
    if (!store.exists("nsw_edges") || (libCtx(libId).family ne GraphFamily))
      throw new NotFoundError(s"nsw index for library $libId")
    val nodes = ivfPostings(libId).select(col("chunk_id").as("src_id"))
    if (nodes.isEmpty) throw new NotFoundError(s"nsw index for library $libId")
    val degrees = nswEdges(libId).groupBy(col("src_id"))
      .agg(count(lit(1)).as("n"))
    nodes.join(degrees, Seq("src_id"), "left")
      .select(coalesce(col("n"), lit(0L)).cast("int").as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree").asc)
  }

  /** HIERARCHY-BALANCE audit for the HNSW family (VERDICT r14 missing
    * #3): per layer 0..[[graft.index.HnswIndex.MaxLevel]], the member
    * count (live nodes whose md5 level >= layer — levels are never
    * stored, any reader recomputes them) and the stored directed edge
    * count (layer 0 = the base `nsw_edges` graph the walk spends its
    * beam on; upper layers = the descent's `hnsw_edges`). The healthy
    * shape is geometric 16x member decay with edges tracking members x
    * degree; a layer whose edge count collapses relative to its member
    * count is a disconnected hierarchy (the planted-cluster pathology
    * HnswSpec measures at 0.49 recall) and the rebuild signal for the
    * policy loop, exactly as cell/bucket/codebook/degree stats are for
    * the other families. Two metadata-scale aggs (<= 7 rows each) + the
    * base edge count; output is always MaxLevel+1 rows.
    */
  def hnswLayerStats(libId: String): DataFrame = {
    if (!store.exists("nsw_edges") || !GraphFamily.layered(libCtx(libId).spelling))
      throw new NotFoundError(s"hnsw index for library $libId")
    val posts = ivfPostings(libId)
    if (posts.isEmpty) throw new NotFoundError(s"hnsw index for library $libId")
    val lvls = posts
      .select(HnswIndex.levelExpr(col("chunk_id")).as("lvl"))
      .groupBy(col("lvl")).agg(count(lit(1)).as("n"))
    val layers = spark.range(0, HnswIndex.MaxLevel + 1)
      .select(col("id").cast("int").as("layer"))
    val members = layers.join(lvls, col("lvl") >= col("layer"), "left")
      .groupBy(col("layer"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_members"))
    val upperEdges =
      if (!store.exists("hnsw_edges"))
        spark.emptyDataFrame.select(lit(0).as("layer"), lit(0L).as("ne"))
      else hnswEdges(libId).groupBy(col("layer"))
        .agg(count(lit(1)).as("ne"))
    val baseEdges = nswEdges(libId)
      .agg(count(lit(1)).as("ne")).select(lit(0).as("layer"), col("ne"))
    members.join(baseEdges.unionAll(upperEdges), Seq("layer"), "left")
      .select(col("layer"), col("n_members"),
        coalesce(col("ne"), lit(0L)).as("n_edges"))
      .orderBy(col("layer").asc)
  }

  /** Codebook-usage audit for the PQ families, per subspace: distinct
    * codewords actually used and the hottest codeword's count. Dead
    * codewords (n_used << K) mean wasted codebook capacity and coarser
    * quantization than the bit budget paid for — with the
    * reconstruction-error audits, the re-train signal for the PQ side.
    * One posexplode + two keyed aggs; output = |subspaces| rows.
    */
  def pqCodeStats(libId: String): DataFrame = {
    if (!store.exists("pq_codes"))
      throw new NotFoundError(s"pq index for library $libId")
    val c = store.read("pq_codes", Schemas.pqCodes)
      .filter(col("library_id") === libId)
    if (c.isEmpty) throw new NotFoundError(s"pq index for library $libId")
    c.select(posexplode(col("codes")))
      .groupBy(col("pos"), col("col"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_used"), max(col("cnt")).as("max_use"))
      .select(col("pos").cast("int").as("subspace"),
        col("n_used"), col("max_use"))
      .orderBy(col("subspace").asc)
  }

  /** INDEX HEALTH AUDITS: per-corpus quantization error of the STORED
    * codes against the true normalized vectors — the FAISS-style
    * reconstruction-error readout an operator checks before trusting a
    * compressed index (rising error after many incremental adds means
    * the frozen ranges/codebooks have drifted from the corpus and a
    * rebuild is due), one row (n, sum_err_u, max_err_u) in exact
    * micro-units whatever the corpus size. Each is its family's
    * [[QuantizationAudit]]: sq8 and ivfsq8 fold their distance kernel
    * with the truth as the "query" side, pq decodes every code against
    * the vector stored beside it, ivfpq against the true residual.
    */
  def sq8QuantizationError(libId: String): DataFrame =
    Sq8Family.quantizationError(libCtx(libId))
  def pqQuantizationError(libId: String): DataFrame =
    PqFamily.quantizationError(libCtx(libId))
  def ivfpqQuantizationError(libId: String): DataFrame =
    IvfPqFamily.quantizationError(libCtx(libId))
  def ivfsq8QuantizationError(libId: String): DataFrame =
    IvfSq8Family.quantizationError(libCtx(libId))

  /** AUDIT-DRIVEN REBUILD POLICY — the rebuild-due signal closed into a
    * verb: run the library's family-appropriate reconstruction-error
    * audit and rebuild the index iff the mean per-vector error exceeds
    * `maxMeanErrU` micro-units (frozen build state drifted past the
    * operator's tolerance under incremental adds). The audit is one
    * bounded aggregate; the rebuild is the normal full-corpus path.
    * Returns the decision record (family, n, sum/max/mean error,
    * whether a rebuild ran). Families without stored codes (flat, lsh,
    * ivf) have nothing to audit — ValidationError.
    */
  def rebuildIfDrifted(libId: String, maxMeanErrU: Double): RebuildDecision = {
    val ctx = libCtx(libId)
    val audit = ctx.family match {
      case a: QuantizationAudit => a.quantizationError(ctx)
      case _ => throw new ValidationError(
        s"rebuildIfDrifted: '${ctx.spelling}' stores no compressed codes to audit")
    }
    val row = audit.collect().head
    val n = row.getLong(0)
    val sumErr = row.getLong(1)
    val maxErr = row.getLong(2)
    val mean = if (n == 0) 0.0 else sumErr.toDouble / n
    val due = mean > maxMeanErrU
    if (due) rebuildIndex(libId)
    RebuildDecision(ctx.spelling, n, sumErr, maxErr, mean, rebuilt = due)
  }

  /** BALANCE-DRIVEN REBUILD POLICY (VERDICT r8 #7) — the balance audits
    * closed into a verb, the skew sibling of [[rebuildIfDrifted]]: read
    * the library's family-appropriate balance stats and rebuild iff the
    * hottest unit's share of all entries exceeds `maxSharePpm` (exact
    * integer parts-per-million, so the decision replays bit-identically).
    * The units are the family's [[BalanceAudit]], in every mode of it
    * (`ivf` and `ivf_det`, `lsh` and `lsh_det`, ...); flat, pq, sq8 and
    * bq have none (ValidationError).
    * For the IVF-coarse families the unit is a cell (a hot cell makes
    * every probe touching it pay its full posting list — candidates stay
    * ~nprobe/K of the corpus ONLY when cells are balanced; incremental
    * adds assign to FROZEN centroids, so a drifting corpus concentrates
    * there). For LSH the unit is a bucket and the share is measured
    * WITHIN its hash table, worst table taken (a degenerate table's
    * probes are near-linear scans). A rebuild re-trains centroids /
    * re-draws planes on the CURRENT corpus, redistributing members.
    * The audit is one keyed agg; driver state is one decision row.
    */
  def rebalanceIfSkewed(libId: String, maxSharePpm: Long): RebalanceDecision = {
    val ctx = libCtx(libId)
    val members: DataFrame = ctx.family match {
      case a: BalanceAudit => a.balanceUnits(ctx)
      case _ => throw new ValidationError(
        s"rebalanceIfSkewed: '${ctx.spelling}' has no balance-audited index units")
    }
    // worst per-group share in exact ppm: group = the whole index for the
    // celled and graph families, one hash table for LSH
    val row = members.groupBy(col("grp"))
      .agg(count(lit(1)).as("nu"), sum(col("m")).as("tot"), max(col("m")).as("mx"))
      .agg(coalesce(sum(col("nu")), lit(0L)).cast("long").as("n_units"),
        coalesce(sum(col("tot")), lit(0L)).cast("long").as("n_entries"),
        coalesce(max(expr("(1000000 * mx) div tot")), lit(0L)).cast("long")
          .as("max_share_ppm"))
      .collect().head
    val (nUnits, nEntries, sharePpm) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    val due = nEntries > 0 && sharePpm > maxSharePpm
    if (due) rebuildIndex(libId)
    RebalanceDecision(ctx.spelling, nUnits, nEntries, sharePpm, rebuilt = due)
  }

  /** HIERARCHY POLICY — the layer-thinness sibling of
    * [[rebalanceIfSkewed]], closing the [[hnswLayerStats]] telemetry
    * into a verb (the cell/bucket/degree stats all feed one; the layer
    * census now does too). Incremental adds link a new node against the
    * PRE-BATCH layer members only, so a batch that comes to dominate an
    * upper layer leaves it under-linked relative to the full
    * cell-blocked build — and a thin layer is how the greedy descent
    * strands (the HnswSpec planted pathology: 0.49 vs 0.99 recall on a
    * disconnected layer 1). Audit: for each upper layer with >= 2
    * members, directed-edges-per-member in exact ppm (a connected
    * symmetric layer needs >= 2(m-1) directed rows, so ~2,000,000 ppm is
    * the spanning bound); when the worst layer falls below
    * `minEdgesPerMemberPpm`, [[rebuildIndex]] re-seeds cells from the
    * CURRENT corpus and re-links every layer. One run of
    * [[hnswLayerStats]] (two metadata-scale aggs) + at most one rebuild.
    */
  def relinkIfHierarchyThin(libId: String,
      minEdgesPerMemberPpm: Long): HierarchyDecision = {
    if (minEdgesPerMemberPpm < 0)
      throw new ValidationError(
        s"minEdgesPerMemberPpm out of range: $minEdgesPerMemberPpm")
    val family = libCtx(libId).spelling
    if (!GraphFamily.layered(family))
      throw new ValidationError(
        s"relinkIfHierarchyThin audits the hnsw hierarchy; library is '$family'")
    // upper layers only (the base layer is rebalanceIfSkewed's unit),
    // restricted to layers that hold >= 2 members AND >= 1 edge: a tiny
    // top layer whose members' probe cells never meet has zero edges by
    // construction, and the deterministic re-link would recreate exactly
    // that — rebuilding on it would loop fruitlessly (it is a
    // cell-count/config signal, the rebalance verb's domain, and stays
    // visible in the hnswLayerStats telemetry)
    val rows = hnswLayerStats(libId).collect()
      .filter(r => r.getInt(0) >= 1 && r.getLong(1) >= 2 && r.getLong(2) >= 1)
    val ratios = rows.map(r =>
      (r.getInt(0), 1000000L * r.getLong(2) / r.getLong(1)))
    val (thinnest, worstPpm) =
      if (ratios.isEmpty) (-1, -1L)
      else ratios.minBy { case (l, ppm) => (ppm, l) }
    val due = ratios.nonEmpty && worstPpm < minEdgesPerMemberPpm
    if (due) rebuildIndex(libId)
    HierarchyDecision(family, ratios.length.toLong, thinnest, worstPpm,
      rebuilt = due)
  }

  /** Small-file compaction of the chunk table (the data-scale table): a
    * bulk ingest with N shuffle partitions leaves N part files per
    * library; this collapses each library's partition to ~one file in a
    * fresh snapshot version (content unchanged, readers undisturbed,
    * `vacuum` reclaims the fragmented version later). Returns the new
    * snapshot version, or -1 when no chunk snapshot exists yet.
    *
    * Ordering note: the hash repartition DISCARDS any curve clustering a
    * prior [[optimizeLayout]] established — after compacting, re-run
    * optimizeLayout (which also collapses small files, so for a
    * layout-optimized library it SUBSUMES compaction).
    */
  def compactChunks(): Long = store.compact("chunks", Schemas.chunks)

  /** Small-file compaction of the DERIVED index tables (VERDICT r7 #4):
    * every incremental `bulkIngest` appends one partition-selective write
    * to `lsh_buckets` / `ivf_postings` / `pq_codes` / `ivfpq_codes` /
    * `sq8_codes`, so months of streaming ingest fragment the index scan
    * into thousands of small files — the exact problem `compactChunks`
    * solves for the data table. Collapses each library's partition of
    * every EXISTING index table to ~one file in a fresh snapshot version
    * (content byte-identical, search results unchanged, readers of the
    * old version undisturbed, `vacuum` reclaims the fragments later).
    * Returns (table -> new version) for each table compacted.
    */
  def compactIndexes(): Seq[(String, Long)] =
    // the row-appended derived tables, from the central registry
    Schemas.storeTables
      .collect { case d if d.compactable && store.exists(d.name) =>
        d.name -> store.compact(d.name, d.schema)
      }

  /** PHYSICAL LAYOUT OPTIMIZATION — the Delta/Iceberg `OPTIMIZE ... ZORDER
    * BY` analog over the versioned chunk store: rewrite ONE library's
    * chunk partition with rows ordered along a space-filling curve over
    * two numeric chunk columns, range-sliced into `files` parquet files.
    * Each output file then covers a TIGHT range of BOTH dims, so
    * parquet's own footer min/max stats — the real-format counterpart of
    * the `s_zorder_prune`/`s_hilbert_prune` simulation — let the reader
    * skip whole row groups on a selective 2-d predicate. Proven by scan
    * metrics (rows emitted by the file scan AFTER row-group skipping),
    * asserted loudly in `x_engine_optimize_layout` and LayoutSpec the way
    * `s_partition_prune` REQUIRES its PartitionFilter.
    *
    * Results are layout-INVARIANT — same rows, new order/files (the
    * `x_engine_sq8_compacted` precedent): readers of the old version are
    * undisturbed and `vacuum` reclaims it later. Reference anchor: the
    * scan-economy role of the reference's secondary hash indexes
    * (`repos/chunks.py:9-10` `chunks_by_library`), which on a parquet
    * lake IS physical layout.
    *
    * 100 TB shape: one metadata-scale min/max agg (4 longs to the
    * driver), one range shuffle on the curve key (the shuffle any sorted
    * write pays), one partition-selective snapshot write — O(library)
    * once, amortized over every selective scan after it. `curve`:
    * "hilbert" (default — continuous curve, tightest per-file boxes),
    * "zorder" (Morton interleave), or "linear" (row-major; the
    * single-column-sort baseline the audits compare against).
    * Returns the new chunks snapshot version.
    */
  def optimizeLayout(libId: String, cols: Seq[String],
      curve: String = "hilbert", files: Int = 16): Long = {
    getLibrary(libId)
    if (cols.size != 2)
      throw new ValidationError(
        s"optimizeLayout wants exactly 2 layout columns, got ${cols.mkString(", ")}")
    if (!Set("hilbert", "zorder", "linear").contains(curve))
      throw new ValidationError(s"unknown curve: $curve")
    if (files < 1 || files > (1 << 20))
      throw new ValidationError(s"files out of range: $files")
    import graft.functions.Curves
    val g = Curves.Grid
    val lc = chunks.filter(col("library_id") === libId)
    val dims = cols.map(c => col(c).cast("long"))
    // global extents: one metadata-scale agg (4 longs to the driver)
    val mm = lc.agg(min(dims(0)), max(dims(0)), min(dims(1)), max(dims(1)))
      .collect().head
    if (mm.isNullAt(0) || mm.isNullAt(2))
      // empty library or an all-null dim: nothing to lay out
      return store.currentVersion("chunks").getOrElse(0L)
    val (n0, x0) = (mm.getLong(0), mm.getLong(1))
    val (n1, x1) = (mm.getLong(2), mm.getLong(3))
    val (s0, s1) = (x0 - n0 + 1, x1 - n1 + 1)
    // the bucketizer computes (x - min) * Grid before the DIV: a span
    // within a factor of Grid of Long.MaxValue would overflow it (no
    // real column — ids, epochs, counts — gets there, but fail loudly
    // rather than lay out garbage)
    if (s0 > Long.MaxValue / g || s1 > Long.MaxValue / g)
      throw new ValidationError(
        s"layout column span too wide for the $g-bucket grid: $s0 / $s1")
    // bucketize each dim to [0, Grid) — null dims sort first (bucket 0);
    // integer DIV arithmetic, the layoutStatsBuild template
    val keyed = lc
      .withColumn("cb", coalesce(
        expr(s"((CAST(${cols(0)} AS BIGINT) - $n0) * $g) DIV $s0"), lit(0L)))
      .withColumn("db", coalesce(
        expr(s"((CAST(${cols(1)} AS BIGINT) - $n1) * $g) DIV $s1"), lit(0L)))
    val withKey = curve match {
      case "hilbert" => Curves.hilbertOf(keyed).withColumn("ck", col("hd"))
      case "zorder" =>
        keyed.withColumn("ck", expr(Curves.zInterleaveExpr("DIV")))
      case "linear" => keyed.withColumn("ck", col("cb") * g + col("db"))
    }
    // range-partition on the curve key (id tie-break keeps the write
    // deterministic up to sampled boundaries), sort within each file so
    // row-group stats inside multi-row-group files stay tight too
    val ordered = withKey
      .repartitionByRange(files, col("ck"), col("id"))
      .sortWithinPartitions(col("ck"), col("id"))
      .select(Schemas.chunks.fieldNames.toIndexedSeq.map(col): _*)
    val v = store.writeLibraryPartition("chunks", libId, ordered)
    maybeVacuum()
    v
  }

  /** INDEX LAYOUT OPTIMIZATION — [[optimizeLayout]]'s inverted-list
    * sibling: rewrite a library's PROBE-KEYED index tables range-sliced
    * and sorted by their probe key (`centroid_id` for the IVF-coarse
    * families; `(table_id, signature)` for LSH buckets), so the literal
    * pushdown every probe already carries — the `isin` the search path
    * plants — skips whole parquet files/row-groups instead of scanning
    * the library's full posting set and filtering. The flat-scan tables
    * (`pq_codes`, `sq8_codes`) are untouched: every search reads all of
    * them by design, so there is no key to slice by.
    *
    * At 100 TB this is the inverted-LIST locality story: a probe touches
    * nprobe/K of the postings, and after this rewrite that fraction is
    * what the scan READS, not just what it returns. Results are
    * layout-invariant (x_engine_ivfdet_layout hash-checks against the
    * unoptimized sibling's oracle); the scan-metric drop is asserted in
    * StoreVerbsSpec and required loudly in the entry. Returns
    * (table -> new version) per table rewritten.
    */
  def optimizeIndexLayout(libId: String, files: Int = 8): Seq[(String, Long)] = {
    getLibrary(libId)
    if (files < 1 || files > (1 << 20))
      throw new ValidationError(s"files out of range: $files")
    // the probe-keyed tables, from the central registry: range-slicing +
    // sorting by the probe key turns the search paths' literal pushdowns
    // (`centroid_id`/`src_id` isin, `(table_id, signature)` equi) into
    // row-group skips. `layoutTieKey` appends chunk_id so the rewrite is
    // deterministic; the edge tables carry their own full keys instead.
    Schemas.storeTables
      .collect { case d if d.layoutKeys.nonEmpty && store.exists(d.name) =>
        val part = store.read(d.name, d.schema)
          .filter(col("library_id") === libId)
        val fullKeys = (d.layoutKeys ++
          (if (d.layoutTieKey) Seq("chunk_id") else Nil)).map(col)
        val ordered = part
          .repartitionByRange(files, fullKeys: _*)
          .sortWithinPartitions(fullKeys: _*)
          .select(d.schema.fieldNames.toIndexedSeq.map(col): _*)
        val v = store.writeLibraryPartition(d.name, libId, ordered)
        maybeVacuum()
        d.name -> v
      }
  }

  /** LAYOUT POLICY — the fragmentation sibling of [[rebuildIfDrifted]] /
    * [[rebalanceIfSkewed]]: file-count telemetry closed into a verb.
    * Months of partition-selective ingests leave a library's chunk
    * partition as many small parquet files (per-file open/footer
    * overhead, and no curve clustering); when the count exceeds
    * `maxFiles`, rewrite it with [[optimizeLayout]] — which both
    * collapses the partition to `files` range-sliced outputs AND
    * clusters them, so for a layout-managed library this verb subsumes
    * [[compactChunks]]. The audit is one driver-side directory listing:
    * metadata-scale, ZERO Spark jobs when under threshold.
    */
  def optimizeIfFragmented(libId: String, cols: Seq[String], maxFiles: Int,
      curve: String = "hilbert", files: Int = 16): LayoutDecision = {
    getLibrary(libId)
    if (maxFiles < 1)
      throw new ValidationError(s"maxFiles out of range: $maxFiles")
    val n = store.partitionFileCount("chunks", libId)
    val due = n > maxFiles
    if (due) optimizeLayout(libId, cols, curve, files)
    LayoutDecision(n, maxFiles, optimized = due,
      nFilesAfter = if (due) store.partitionFileCount("chunks", libId) else n)
  }

  /** One library's partition of a registered store table. */
  private def libPart(table: String, libId: String): DataFrame =
    store.read(table, Schemas.storeTable(table).schema)
      .filter(col("library_id") === libId)
  private def ivfCentroids(libId: String): DataFrame = libPart("ivf_centroids", libId)
  private def ivfPostings(libId: String): DataFrame = libPart("ivf_postings", libId)
  private def nswEdges(libId: String): DataFrame = libPart("nsw_edges", libId)
  private def hnswEdges(libId: String): DataFrame = libPart("hnsw_edges", libId)

  // ---- library CRUD ---------------------------------------------------

  def createLibrary(name: String, embeddingDim: Int,
      config: IndexConfig = IndexConfig(), id: Option[String] = None,
      metadata: Option[LibMetadata] = None): String = {
    val (libId, row) = libraryRow(name, embeddingDim, config, id, metadata)
    val newDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), Schemas.libraries)
    store.write("libraries", libraries.filter(col("id") =!= libId).unionAll(newDf),
      partitionBy = Nil)
    invalidateLibs()
    libId
  }

  /** Validate one library spec and build its catalog row — shared by the
    * single-create verb and the bulk batch path.
    */
  private def libraryRow(name: String, embeddingDim: Int, config: IndexConfig,
      id: Option[String], metadata: Option[LibMetadata]): (String, Row) = {
    if (name.isEmpty) throw new ValidationError("library name must be non-empty")
    if (embeddingDim <= 0 || embeddingDim > 8192)
      throw new ValidationError(s"embedding_dim out of range: $embeddingDim")
    validateConfig(config)
    val libId = id.getOrElse(newId())
    // Library ids become `library_id=<id>` partition directory names in
    // writeLibraryPartition, which (unlike Spark's own partitionBy writer)
    // does not URL-escape — so '/', '%', spaces etc. would break the path
    // or round-trip to a different id on read (ADVICE r2). Restrict ids to
    // a filesystem-safe charset instead of escaping; generated UUIDs pass.
    if (!libId.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,127}"))
      throw new ValidationError(
        s"library id must match [A-Za-z0-9][A-Za-z0-9._-]{0,127}: '$libId'")
    // an alias with this name would SHADOW the new library on every
    // serving verb (resolveLibrary prefers the alias) — reject upfront
    if (aliasMap.contains(libId))
      throw new ConflictError(s"library id collides with an alias: $libId")
    requirePqDivisible(config, embeddingDim)
    val t = now()
    (libId, Row(libId, name, embeddingDim,
      Row(config.indexType, config.lshNumTables, config.lshHyperplanesPerTable,
        config.ivfNumCentroids, config.ivfNprobe,
        config.pqSubspaces, config.pqCodewords,
        config.nswDegree, config.nswBeam, config.nswRounds),
      libMetaRow(metadata), t, t, 1L))
  }

  /** BULK library creation — the catalog analog of C3's bulk ingest
    * (VERDICT r6 #8): N libraries validated and appended in ONE catalog
    * snapshot write instead of N full-catalog rewrite round-trips. At
    * 1k+ libraries the per-create snapshot job is the catalog
    * bottleneck; the batch amortizes it to a single metadata-scale
    * write. Explicit ids colliding inside the batch or with the
    * existing catalog are rejected before anything is written.
    */
  def createLibraries(
      specs: Seq[(String, Int, IndexConfig)]): Seq[String] = {
    if (specs.isEmpty) return Nil
    val built = specs.map { case (n, dim, cfg) =>
      libraryRow(n, dim, cfg, None, None)
    }
    val ids = built.map(_._1)
    if (ids.distinct.size != ids.size)
      throw new ValidationError("duplicate library ids in batch")
    val newDf = spark.createDataFrame(
      spark.sparkContext.parallelize(built.map(_._2), 1), Schemas.libraries)
    store.write("libraries", libraries.unionAll(newDf), partitionBy = Nil)
    invalidateLibs()
    ids
  }

  /** (embedding_dim, IndexConfig, version) or NotFound, served from the
    * driver-side catalog cache (one collect per invalidation, not per call).
    */
  def getLibrary(libId: String): (Int, IndexConfig, Long) = {
    if (libCache.isEmpty)
      libCache = Some(libraries.collect().map { r =>
        val c = r.getStruct(r.fieldIndex("index_config"))
        // fields added after a store was written read back null (parquet
        // fills missing struct fields) — default them instead of NPEing,
        // so a libraries snapshot persisted by an older build still opens
        // (ADVICE r13); the defaults are IndexConfig's
        val dflt = IndexConfig()
        def intAt(i: Int, d: Int): Int =
          if (c.length <= i || c.isNullAt(i)) d else c.getInt(i)
        r.getString(r.fieldIndex("id")) ->
          ((r.getInt(r.fieldIndex("embedding_dim")),
            IndexConfig(c.getString(0), c.getInt(1), c.getInt(2), c.getInt(3),
              c.getInt(4), c.getInt(5), c.getInt(6),
              intAt(7, dflt.nswDegree), intAt(8, dflt.nswBeam),
              intAt(9, dflt.nswRounds)),
            r.getLong(r.fieldIndex("version"))))
      }.toMap)
    libCache.get.getOrElse(libId, throw new NotFoundError(s"library $libId"))
  }

  /** Delete a library: the libraries catalog row (metadata-scale rewrite)
    * plus a PARTITION DROP of its documents/chunks/index partitions —
    * every other library's files are hardlinked forward, zero Spark jobs,
    * O(one library) instead of the r2 full-table rewrite (VERDICT r2 #4).
    */
  def deleteLibrary(libId: String): Unit = {
    getLibrary(libId) // NotFound check
    store.write("libraries", libraries.filter(col("id") =!= libId), Nil)
    invalidateLibs()
    store.dropLibraryPartition("documents", libId)
    store.dropLibraryPartition("chunks", libId)
    docLibCache.filterInPlace((_, l) => l != libId)
    dropIndexTables(libId)
    // aliases pointing at the deleted library go with it — a dangling
    // alias would resolve to NotFound forever with no way to observe why
    if (aliasMap.values.exists(_ == libId)) {
      store.write("aliases", listAliases.filter(col("library_id") =!= libId),
        partitionBy = Nil)
      invalidateAliases()
    }
    maybeVacuum()
  }

  // ---- aliases (blue-green serving) ------------------------------------

  /** The alias catalog: (alias, library_id, created_at, updated_at). */
  def listAliases: DataFrame = store.read("aliases", Schemas.aliases)

  private var aliasCache: Option[Map[String, String]] = None
  private def invalidateAliases(): Unit = aliasCache = None

  private def aliasMap: Map[String, String] = {
    if (aliasCache.isEmpty)
      aliasCache = Some(
        if (!store.exists("aliases")) Map.empty
        else listAliases.collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap)
    aliasCache.get
  }

  /** Resolve a public name to a concrete library id: identity for a real
    * id, one cached map lookup for an alias — ZERO Spark jobs on the
    * serving path (the `exists` guard is a filesystem stat; the map
    * collects once per alias mutation). The search-serving verbs resolve
    * at entry, so a reindex is shipped by `switchAlias` alone: build the
    * new library, swap the alias, delete the old — readers never see a
    * half-built index. Mutating verbs take concrete ids only (an alias
    * there would make "delete via yesterday's name" a footgun).
    */
  def resolveLibrary(idOrAlias: String): String =
    aliasMap.getOrElse(idOrAlias, idOrAlias)

  /** Create `alias` -> `libId`. The target must be an EXISTING library id
    * — never another alias (getLibrary does not resolve, so chains are
    * structurally impossible). The name must not collide with any library
    * id or existing alias; re-pointing is `switchAlias`, the explicit
    * verb, not a silent upsert.
    */
  def createAlias(alias: String, libId: String): Unit = {
    if (!alias.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,127}"))
      throw new ValidationError(
        s"alias must match [A-Za-z0-9][A-Za-z0-9._-]{0,127}: '$alias'")
    getLibrary(libId) // target must exist and be concrete
    if (libCache.exists(_.contains(alias)))
      throw new ConflictError(s"alias collides with a library id: $alias")
    if (aliasMap.contains(alias))
      throw new ConflictError(s"alias already exists: $alias")
    writeAlias(alias, libId, created = now())
  }

  /** Atomically re-point an existing alias at another library — the
    * blue-green cutover. One catalog-scale snapshot write; in-flight
    * readers of the old target keep their snapshot (immutable storage),
    * new queries resolve to the new target.
    */
  def switchAlias(alias: String, newLibId: String): Unit = {
    getLibrary(newLibId)
    if (!aliasMap.contains(alias)) throw new NotFoundError(s"alias $alias")
    val created = listAliases.filter(col("alias") === alias)
      .select(col("created_at")).collect().head.getTimestamp(0)
    writeAlias(alias, newLibId, created)
  }

  def deleteAlias(alias: String): Unit = {
    if (!aliasMap.contains(alias)) throw new NotFoundError(s"alias $alias")
    store.write("aliases", listAliases.filter(col("alias") =!= alias),
      partitionBy = Nil)
    invalidateAliases()
  }

  private def writeAlias(alias: String, libId: String,
      created: Timestamp): Unit = {
    val row = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(alias, libId, created, now())), 1), Schemas.aliases)
    store.write("aliases",
      listAliases.filter(col("alias") =!= alias).unionAll(row),
      partitionBy = Nil)
    invalidateAliases()
  }

  // ---- export / import (backup, restore, migration) ---------------------

  /** Export one library's CURRENT state as a self-contained directory:
    * `manifest/` (its catalog row) plus one parquet dir per registered
    * store table holding rows for this library — table membership comes
    * from the central registry, so a new store table is exported without
    * touching this verb (the vacuum-list lesson). Each table is one
    * partition-pruned scan; tables with no partition for the library are
    * skipped by a filesystem stat, zero Spark jobs. Aliases are serving
    * config, not data — they are not exported. Returns the table names
    * written.
    */
  def exportLibrary(libId: String, destDir: String): Seq[String] = {
    getLibrary(libId) // NotFound check (concrete id — no alias resolution)
    val dest = java.nio.file.Paths.get(destDir)
    if (java.nio.file.Files.exists(dest) &&
        java.nio.file.Files.list(dest).findFirst().isPresent)
      throw new ValidationError(s"export destination not empty: $destDir")
    java.nio.file.Files.createDirectories(dest)
    libraries.filter(col("id") === libId).coalesce(1)
      .write.parquet(dest.resolve("manifest").toString)
    Schemas.storeTables
      .filter(t => !Schemas.globalTables(t.name))
      .filter(t => store.hasLibraryPartition(t.name, libId))
      .map { t =>
        store.read(t.name, t.schema)
          .filter(col("library_id") === libId)
          .drop("library_id")
          .write.parquet(dest.resolve(t.name).toString)
        t.name
      }
  }

  /** Import an exported library directory as a NEW library (restore /
    * cross-store migration). `id` defaults to the exported id — the
    * restore path; pass a fresh one when migrating into a store whose id
    * space already holds the exported id. Cloning BESIDE the live
    * original in the same store is rejected by design: document ids are
    * globally unique (the C4 contract), and the clone would home every
    * imported doc id twice.
    * The catalog row keeps the exported name/dim/config/metadata with
    * fresh timestamps and version 1; every exported table lands as one
    * partition-selective write under the new id. Imported DOCUMENT ids
    * must not be homed in another library (the C4 global-uniqueness
    * contract) — checked against the live catalog before anything is
    * written. Returns the library id.
    */
  def importLibrary(srcDir: String, id: Option[String] = None): String = {
    val src = java.nio.file.Paths.get(srcDir)
    if (!java.nio.file.Files.exists(src.resolve("manifest")))
      throw new ValidationError(s"no manifest at $srcDir")
    val m = spark.read.schema(Schemas.libraries)
      .parquet(src.resolve("manifest").toString).collect()
    if (m.length != 1)
      throw new ValidationError(
        s"manifest must hold exactly one library row, got ${m.length}")
    val row = m.head
    val newId = id.getOrElse(row.getString(0))
    if (!newId.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,127}"))
      throw new ValidationError(
        s"library id must match [A-Za-z0-9][A-Za-z0-9._-]{0,127}: '$newId'")
    if (scala.util.Try(getLibrary(newId)).isSuccess)
      throw new ConflictError(s"library already exists: $newId")
    if (aliasMap.contains(newId))
      throw new ConflictError(s"library id collides with an alias: $newId")
    val docsDir = src.resolve("documents")
    if (java.nio.file.Files.exists(docsDir)) {
      val impDocs = spark.read
        .schema(dropLibraryCol(Schemas.documents))
        .parquet(docsDir.toString).select(col("id"))
      val clash = documents.join(impDocs, Seq("id"), "left_semi")
        .filter(col("library_id") =!= newId).limit(1).collect()
      if (clash.nonEmpty)
        throw new ConflictError(
          s"imported document id already homed elsewhere: ${clash.head.getString(clash.head.fieldIndex("id"))}")
    }
    val t = now()
    val newRow = Row(newId, row.get(1), row.get(2), row.get(3), row.get(4),
      t, t, 1L)
    store.write("libraries", libraries.unionAll(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(newRow), 1), Schemas.libraries)),
      partitionBy = Nil)
    invalidateLibs()
    Schemas.storeTables
      .filter(t => !Schemas.globalTables(t.name))
      .foreach { td =>
        val dir = src.resolve(td.name)
        if (java.nio.file.Files.exists(dir))
          store.writeLibraryPartition(td.name, newId,
            spark.read.schema(dropLibraryCol(td.schema)).parquet(dir.toString))
      }
    invalidateIndexMeta(newId)
    newId
  }

  private def dropLibraryCol(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.filterNot(_.name == "library_id"))

  // ---- document CRUD --------------------------------------------------

  def createDocument(libId: String, id: Option[String] = None,
      metadata: Option[DocMetadata] = None): String = {
    getLibrary(libId)
    val docId = id.getOrElse(newId())
    // Document ids are globally unique (ADVICE r2): the partition-scoped
    // rewrite below only replaces a same-id row in THIS library, and
    // docLibCache maps docId -> one library — so an explicit id already
    // homed in another library must be rejected, not silently duplicated.
    // Generated UUIDs skip the scan (collision probability negligible).
    if (id.isDefined) {
      // cache first: a known home answers with zero Spark jobs (the scan
      // below is O(other libraries' partitions) — fine for the occasional
      // explicit-id create, wrong as a per-row cost in an ingest loop)
      docLibCache.get(docId) match {
        case Some(l) if l != libId =>
          throw new ValidationError(
            s"document $docId already exists in library $l")
        case Some(_) => () // cached in THIS library: plain replace
        case None =>
          val other = documents
            .filter(col("id") === docId && col("library_id") =!= libId)
            .select(col("library_id")).limit(1).collect()
          if (other.nonEmpty)
            throw new ValidationError(
              s"document $docId already exists in library ${other.head.getString(0)}")
      }
    }
    val t = now()
    val row = Row(docId, libId, docMetaRow(metadata), t, t, 1L)
    val newDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), Schemas.documents)
    store.writeLibraryPartition("documents", libId,
      documents.filter(col("library_id") === libId && col("id") =!= docId)
        .unionAll(newDf))
    docLibCache(docId) = libId
    docId
  }

  /** Create a document together with its chunks in one verb (reference
    * `document.py:51-103`). Documented deviation: chunks are validated
    * BEFORE anything is written, so a bad batch leaves no state behind —
    * the reference adds the document first and a mid-batch
    * ValidationError strands it.
    */
  def createDocumentWithChunks(libId: String, chunksIn: Seq[ChunkIn],
      metadata: Option[DocMetadata] = None,
      id: Option[String] = None): (String, Seq[String]) = {
    val (dim, _, _) = getLibrary(libId)
    chunksIn.foreach { c =>
      if (c.text.isEmpty) throw new ValidationError("chunk text must be non-empty")
      c.embedding.foreach { e =>
        if (e.length != dim)
          throw new ValidationError(s"embedding dim ${e.length} != library dim $dim")
      }
    }
    val docId = createDocument(libId, id, metadata)
    val ids = upsertChunks(libId, docId, chunksIn)
    (docId, ids)
  }

  /** Replace a document's metadata wholesale (reference
    * `document.py:117-139`: every field of the new metadata is assigned),
    * bumping version/updated_at; optional CAS on the stored version.
    */
  def updateDocumentMetadata(libId: String, docId: String,
      metadata: Option[DocMetadata],
      expectedVersion: Option[Long] = None): Unit = {
    requireDocInLibrary(libId, docId)
    expectedVersion.foreach { ev =>
      val stored = documents.filter(col("id") === docId)
        .select(col("version")).collect().head.getLong(0)
      if (stored != ev)
        throw new ConflictError(
          s"document $docId: expected version $ev, stored $stored")
    }
    val t = now()
    val metaLit = docMetaRow(metadata)
    val metaCol = struct(
      lit(if (metaLit == null) null else metaLit.getString(0)).as("source_uri"),
      lit(if (metaLit == null) null else metaLit.getString(1)).as("author"),
      lit(if (metaLit == null) null else metaLit.getString(2)).as("lang"),
      lit(if (metaLit == null) null else metaLit.getString(3)).as("mime_type"),
      (if (metaLit == null || metaLit.isNullAt(4)) lit(null).cast("array<string>")
       else typedLit(metadata.get.tags)).as("tags"),
      lit(if (metaLit == null) null else metaLit.getString(5)).as("title"),
      lit(if (metaLit == null) null else metaLit.getString(6)).as("summary"),
      lit(if (metaLit == null) null else metaLit.getString(7)).as("sha256"))
    store.writeLibraryPartition("documents", libId,
      documents.filter(col("library_id") === libId)
        .withColumn("metadata",
          when(col("id") === docId, metaCol).otherwise(col("metadata")))
        .withColumn("version",
          when(col("id") === docId, col("version") + 1).otherwise(col("version")))
        .withColumn("updated_at",
          when(col("id") === docId, lit(t)).otherwise(col("updated_at"))))
  }

  private def docMetaRow(m: Option[DocMetadata]): Row = m.map { x =>
    Row(x.sourceUri.orNull, x.author.orNull, x.lang.orNull, x.mimeType.orNull,
      if (x.tags.isEmpty) null else x.tags, x.title.orNull, x.summary.orNull,
      x.sha256.orNull)
  }.orNull

  private def libMetaRow(m: Option[LibMetadata]): Row = m.map { x =>
    Row(x.sourceUri.orNull, x.author.orNull, x.lang.orNull, x.mimeType.orNull,
      if (x.tags.isEmpty) null else x.tags, x.description.orNull)
  }.orNull

  /** Cascade delete (reference `services/document.py:140-158`): the
    * document's chunks go with it — anti-join rewrite of both tables.
    */
  def deleteDocument(libId: String, docId: String): Unit = {
    requireDocInLibrary(libId, docId)
    docLibCache.remove(docId)
    store.writeLibraryPartition("documents", libId,
      documents.filter(col("library_id") === libId && col("id") =!= docId))
    val removed = chunks.filter(col("document_id") === docId)
      .select(col("id").as("chunk_id"))
    store.writeLibraryPartition("chunks", libId,
      chunks.filter(col("library_id") === libId &&
        col("document_id") =!= docId))
    removeFromIndexes(libId, removed)
  }

  /** Move a document across libraries (reference `document.py:160-212`):
    * re-home its chunks; chunks whose embedding dim mismatches the
    * DESTINATION library are rejected (ValidationError) before any write.
    */
  def moveDocument(docId: String, fromLib: String, toLib: String): Unit = {
    requireDocInLibrary(fromLib, docId)
    val (destDim, _, _) = getLibrary(toLib)
    val moving = chunks.filter(col("document_id") === docId)
    val bad = moving.filter(col("embedding").isNotNull &&
      size(col("embedding")) =!= destDim).count()
    if (bad > 0)
      throw new ValidationError(
        s"$bad chunk(s) have embedding dim != destination dim $destDim")
    val t = now()
    // A move touches exactly TWO libraries — rewrite those two partitions
    // and hardlink the rest forward (VERDICT r2 #4), instead of the r2
    // full-table rewrite. `documents`/`chunks` pin the CURRENT snapshot
    // version at call time (store.read resolves _CURRENT eagerly), so the
    // pre-move state stays readable for the second write even after the
    // first one repoints.
    val docsNow = documents
    val chunksNow = chunks
    store.writeLibraryPartition("documents", fromLib,
      docsNow.filter(col("library_id") === fromLib && col("id") =!= docId))
    val movedDoc = docsNow.filter(col("id") === docId)
      .withColumn("library_id", lit(toLib))
      .withColumn("updated_at", lit(t))
      .withColumn("version", col("version") + 1)
    store.writeLibraryPartition("documents", toLib,
      documents.filter(col("library_id") === toLib).unionAll(movedDoc))
    store.writeLibraryPartition("chunks", fromLib,
      chunksNow.filter(col("library_id") === fromLib &&
        col("document_id") =!= docId))
    val movedChunks = chunksNow.filter(col("document_id") === docId)
      .withColumn("library_id", lit(toLib))
      .withColumn("updated_at", lit(t))
    store.writeLibraryPartition("chunks", toLib,
      chunks.filter(col("library_id") === toLib).unionAll(movedChunks))
    docLibCache(docId) = toLib
    // index maintenance on both sides
    val movedIds = moving.select(col("id").as("chunk_id"))
    removeFromIndexes(fromLib, movedIds)
    addToIndexes(toLib, chunks.filter(col("document_id") === docId))
    maybeVacuum()
  }

  // ---- chunk upsert (C2/C3) ------------------------------------------

  /** Bulk upsert — the natural Spark ingest shape (reference
    * `services/chunk.py:76-116`). `incoming` columns: id (nullable for
    * new), position, text, embedding, metadata (all optional except text).
    *
    * Validation (reference parity): document must exist in this library
    * (J2/P10); non-null embeddings must match the library dim (P2).
    * CAS: when `expectedVersions` is given, an existing chunk whose stored
    * version differs raises ConflictError (C1) and nothing is written.
    *
    * Duplicate ids within one batch collapse LAST-WINS in first-occurrence
    * order — the reference's bulk_upsert keys a dict by id
    * (`services/chunk.py:93-109`, Python dict update semantics), so only
    * one row per id ever reaches the store and the snapshot keeps its
    * id-uniqueness invariant.
    */
  def upsertChunks(libId: String, docId: String,
      incoming: Seq[ChunkIn],
      expectedVersions: Map[String, Long] = Map.empty): Seq[String] = {
    // driver-side API verb: the batch is validated in a loop and its ids
    // become an `isin` literal filter below — fine at API scale, a plan
    // bomb at data scale. Route big batches to the distributed path.
    if (incoming.size > VectorEngine.UpsertMaxBatch)
      throw new ValidationError(
        s"upsertChunks batch of ${incoming.size} rows exceeds " +
        s"${VectorEngine.UpsertMaxBatch}; use bulkIngest(libId, docId, df) " +
        "— the fully distributed ingest path")
    val (dim, config, _) = getLibrary(libId)
    requireDocInLibrary(libId, docId)
    incoming.foreach { c =>
      if (c.text.isEmpty) throw new ValidationError("chunk text must be non-empty")
      c.embedding.foreach { e =>
        if (e.length != dim)
          throw new ValidationError(
            s"embedding dim ${e.length} != library dim $dim")
      }
    }
    val t = now()
    val dedup = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, ChunkIn]
      incoming.foreach(c => m.put(c.id.getOrElse(newId()), c))
      m.toSeq
    }
    val ids = dedup.map(_._1)
    val current = chunks
    val existing = current
      .filter(col("id").isin(ids: _*))
      .select(col("id"), col("created_at").as("created0"), col("version").as("version0"))
      .collect()
      .map(r => r.getString(0) -> (r.getTimestamp(1), r.getLong(2))).toMap
    // CAS check (C1)
    expectedVersions.foreach { case (cid, expected) =>
      existing.get(cid).foreach { case (_, stored) =>
        if (stored != expected)
          throw new ConflictError(
            s"chunk $cid: expected version $expected, stored $stored")
      }
    }
    val rows = dedup.map { case (cid, c) =>
      val (createdAt, prevVersion) =
        existing.get(cid).map { case (cr, v) => (cr, v) }.getOrElse((t, 0L))
      Row(cid, libId, docId, c.position, c.text,
        c.embedding.map(_.toSeq).orNull,
        Row(c.sourceUri.orNull, c.author.orNull, c.lang.orNull,
          c.mimeType.orNull, c.tags,
          c.pageNumber.map(Int.box).orNull, c.tokenCount.map(Int.box).orNull,
          c.sha256.orNull),
        createdAt, t, prevVersion + 1)
    }
    val newDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schemas.chunks)
    // partition-selective: only THIS library's partition changes, every
    // other library's files are hardlinked forward — O(this library) per
    // mutation, not O(table). (Chunk ids are UUIDs or content hashes, so
    // a same-id row in a DIFFERENT library is not a case the engine
    // arbitrates — ids are replaced within the library.) When the batch
    // replaces nothing, the rows are APPENDED as a delta instead of
    // rewriting the partition (optimization r15 — O(batch)).
    if (existing.isEmpty)
      store.appendLibraryPartition("chunks", libId, newDf)
    else
      store.writeLibraryPartition("chunks", libId,
        current.filter(col("library_id") === libId && !col("id").isin(ids: _*))
          .unionAll(newDf))
    // doc version bump (one per bulk op, chunk.py:110-112)
    store.writeLibraryPartition("documents", libId,
      documents.filter(col("library_id") === libId)
        .withColumn("version",
          when(col("id") === docId, col("version") + 1).otherwise(col("version")))
        .withColumn("updated_at",
          when(col("id") === docId, lit(t)).otherwise(col("updated_at"))))
    // index maintenance
    val replacedIds = spark.createDataFrame(
      spark.sparkContext.parallelize(existing.keys.toSeq.map(Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("chunk_id",
          org.apache.spark.sql.types.StringType))))
    // Q2 is LSH-only: reference IVFIndex.update (ivf.py:51-75) re-assigns
    // updated vectors; only LSHIndex inherits the no-op update (base.py:6)
    val q2 = quirkCompat && config.indexType == "lsh"
    // no replaced ids => the anti-join removes would be no-op full
    // rewrites of every index table; skip them (optimization r15)
    if (!q2 && existing.nonEmpty) removeFromIndexes(libId, replacedIds)
    // the rows to index are exactly the batch as written (newDf) — no
    // need to re-read the new snapshot through an isin filter
    // (optimization r16, same argument as bulkIngest's merged)
    addToIndexes(libId,
      newDf.filter(
        if (q2) !col("id").isin(existing.keys.toSeq: _*) else lit(true)))
    maybeVacuum()
    ids
  }

  /** Distributed bulk ingest — the 100 TB path. `incoming` never touches
    * the driver: columns (id?, position?, text, embedding?, author?,
    * lang?, source_uri?, tags?) are normalized to the chunk schema with
    * expressions, validated with DataFrame predicates (dim check P2 as an
    * aggregate, not a loop), and written as the next snapshot
    * partition-parallel. Existing ids are replaced (version continuity
    * preserved via a join against the current snapshot). Index maintenance
    * is the same incremental path as upsertChunks.
    *
    * Id semantics: a missing id column is minted as a CONTENT HASH
    * (md5 of docId + position + text + embedding + metadata) — fully
    * deterministic, so the several actions that re-evaluate this plan
    * (validation aggregate, snapshot write, index add/remove joins) all
    * see identical ids regardless of partitioning, AQE re-plans, or
    * row order; rows that are bytewise-identical collapse to one chunk
    * (dropDuplicates). Caller-supplied ids must be unique within the
    * batch: an unordered distributed batch has no "last write", so
    * duplicates raise ValidationError instead of the driver-side
    * upsertChunks' ordered last-wins.
    */
  def bulkIngest(libId: String, docId: String, incoming: DataFrame): Unit = {
    val (dim, config, _) = getLibrary(libId)
    requireDocInLibrary(libId, docId)
    val t = now()
    val cols = incoming.columns.toSet
    def opt(name: String, default: Column): Column =
      if (cols.contains(name)) col(name) else default
    // Null fields are encoded DISTINCTLY from empty (a "\\u0002null"
    // sentinel, unreachable by real values since control chars never
    // appear in them): with plain coalesce(x, ""), author NULL and
    // author "" hashed identically and dropDuplicates("id") silently
    // dropped one of two genuinely-distinct rows (ADVICE r2).
    def nz(c: Column): Column = coalesce(c, lit("\u0002null"))
    val idCol: Column =
      if (cols.contains("id")) col("id")
      else md5(concat_ws("\u0001",
        lit(docId),
        opt("position", lit(0)).cast("int").cast("string"),
        col("text").cast("string"),
        nz(opt("embedding", lit(null).cast("array<float>"))
          .cast("array<float>").cast("string")),
        nz(opt("source_uri", lit(null).cast("string"))),
        nz(opt("author", lit(null).cast("string"))),
        nz(opt("lang", lit(null).cast("string"))),
        nz(opt("tags", lit(null).cast("array<string>"))
          .cast("array<string>").cast("string"))))
    val normalized0 = incoming.select(
        idCol.as("id"),
        lit(libId).as("library_id"),
        lit(docId).as("document_id"),
        opt("position", lit(0)).cast("int").as("position"),
        col("text").cast("string").as("text"),
        opt("embedding", lit(null).cast("array<float>"))
          .cast("array<float>").as("embedding"),
        struct(
          opt("source_uri", lit(null).cast("string")).as("source_uri"),
          opt("author", lit(null).cast("string")).as("author"),
          opt("lang", lit(null).cast("string")).as("lang"),
          lit(null).cast("string").as("mime_type"),
          opt("tags", lit(null).cast("array<string>")).as("tags"),
          // numeric metadata rides along when the batch carries it (the
          // layout entry clusters on token_count); NOT folded into the
          // minted content-hash id above — its input field set is frozen
          // (changing it would re-mint every id minted before r13)
          opt("page_number", lit(null).cast("int")).cast("int").as("page_number"),
          opt("token_count", lit(null).cast("int")).cast("int").as("token_count"),
          lit(null).cast("string").as("sha256")).as("metadata"),
        lit(t).as("created_at"), lit(t).as("updated_at"), lit(1L).as("version"))
    // minted ids are content hashes: bytewise-identical rows share an id
    // and legitimately collapse; caller-supplied dup ids are rejected below
    val normalized =
      if (cols.contains("id")) normalized0 else normalized0.dropDuplicates("id")
    val current = chunks.filter(col("library_id") === libId)
    // preserve created_at/version continuity for replaced ids. A library
    // with NO chunk partition yet (a filesystem stat, zero jobs) skips
    // the prior join entirely — the first-ingest plan then carries no
    // join/sort at all (optimization r15; it was a sort-merge join
    // against a provably empty side inside both the validation aggregate
    // and the snapshot write)
    val hasPartition = store.hasLibraryPartition("chunks", libId)
    val prior = current.select(col("id"),
      col("created_at").as("created0"), col("version").as("version0"))
    val joined =
      if (hasPartition) normalized.join(prior, Seq("id"), "left")
      else normalized
        .withColumn("created0", lit(null).cast("timestamp"))
        .withColumn("version0", lit(null).cast("long"))
    // single validation pass over the batch (one job, one aggregate) —
    // also counts REPLACED ids in the same action (optimization r15): a
    // pure-append batch (the streaming/ingest common case) then skips the
    // per-index-table remove rewrites and appends the chunk delta instead
    // of rewriting the partition
    val bad = joined.agg(
      sum(when(col("embedding").isNotNull &&
        size(col("embedding")) =!= dim, 1).otherwise(0)).as("bad_dim"),
      sum(when(col("text").isNull || col("text") === "", 1).otherwise(0))
        .as("bad_text"),
      count(lit(1)).as("n_rows"),
      countDistinct(col("id")).as("n_ids"),
      sum(when(col("version0").isNotNull, 1L).otherwise(0L)).as("n_prior"))
      .collect().head
    if (bad.getLong(0) > 0)
      throw new ValidationError(s"${bad.getLong(0)} row(s) with embedding dim != $dim")
    if (bad.getLong(1) > 0)
      throw new ValidationError("empty text in bulk batch")
    if (bad.getLong(3) != bad.getLong(2))
      throw new ValidationError(
        s"duplicate ids in bulk batch: ${bad.getLong(2)} rows, ${bad.getLong(3)} distinct ids")
    val nPrior = if (bad.isNullAt(4)) 0L else bad.getLong(4)
    val merged0 = joined
      .withColumn("created_at", coalesce(col("created0"), col("created_at")))
      .withColumn("version", coalesce(col("version0") + 1, col("version")))
      .drop("created0", "version0")
      .select(Schemas.chunks.fieldNames.toIndexedSeq.map(col): _*)
    // ONE evaluation of the normalize + prior-join plan whenever the
    // batch is MULTI-consumed: the replace path reads it in the rewrite +
    // remove + add, and an index add reads it again after the chunk
    // write (the graph families three times: base edges, layer edges,
    // postings). Without the checkpoint each action re-ran the whole
    // ingest plan — the expensive part of a text-embedding ingest — and
    // a NONDETERMINISTIC embedding would index different vectors than
    // the chunk table stores. An add runs when the library holds a
    // partition of an index table (a filesystem stat, no job; a rebuild
    // keeps exactly its family's tables). A single-consumer batch (flat
    // library, or the first ingest before any index is built) skips the
    // materialization: the lone write evaluates the lazy plan once.
    // Batch-bounded by the verb contract, so the checkpoint footprint is
    // O(batch) at any scale.
    val indexed = Schemas.indexTables.exists(t =>
      store.hasLibraryPartition(t.name, libId))
    val ckpt = nPrior > 0L || indexed
    val merged = if (ckpt) merged0.localCheckpoint() else merged0
    // identical id set either way (merged only rewrites
    // created_at/version); served from the checkpoint when one exists
    val incomingIds =
      if (ckpt) merged.select(col("id")) else normalized.select(col("id"))
    // partition-selective: append the delta when nothing is replaced
    // (O(batch)); rewrite this library's partition otherwise — other
    // libraries' files are linked forward either way
    if (nPrior == 0L)
      store.appendLibraryPartition("chunks", libId, merged)
    else
      store.writeLibraryPartition("chunks", libId,
        current.join(incomingIds, Seq("id"), "left_anti").unionAll(merged))
    store.writeLibraryPartition("documents", libId,
      documents.filter(col("library_id") === libId)
        .withColumn("version",
          when(col("id") === docId, col("version") + 1).otherwise(col("version")))
        .withColumn("updated_at",
          when(col("id") === docId, lit(t)).otherwise(col("updated_at"))))
    // Q2 gate: LSH-only (see upsertChunks); for bulk ingest the reference
    // path is create-or-replace, and replaced LSH rows stay stale under Q2
    // (so the add below must also skip them, or buckets double up)
    val q2 = quirkCompat && config.indexType == "lsh"
    // nothing replaced => nothing to remove: skip the per-index-table
    // anti-join rewrites entirely (they would be full no-op rewrites)
    if (!q2 && nPrior > 0L)
      removeFromIndexes(libId, incomingIds.withColumnRenamed("id", "chunk_id"))
    // the rows to index are exactly `merged` — the batch as written
    // (every incoming id lands in the snapshot with merged's values), so
    // the index add consumes it directly instead of re-reading the new
    // snapshot and semi-joining it against a re-evaluated incoming plan
    // (optimization r16: one fewer scan + exchange inside every index-add
    // plan, identical rows by construction)
    addToIndexes(libId,
      if (q2) merged.join(prior.select("id"), Seq("id"), "left_anti")
      else merged)
    maybeVacuum()
  }

  /** Delete one chunk. A missing or foreign-library id is a SILENT no-op —
    * reference parity: ChunkService.delete returns without error when the
    * chunk is absent or belongs to another library (`services/chunk.py:118-121`).
    */
  def deleteChunk(libId: String, chunkId: String): Unit =
    deleteChunks(libId, Seq(chunkId))

  /** BATCH chunk delete: the whole id set leaves in ONE partition-
    * selective chunk rewrite and ONE anti-join pass per index table —
    * deleting k chunks costs the same number of snapshot writes as
    * deleting one (a loop of single deletes pays k full rewrites).
    * Missing ids are silent no-ops, matching [[deleteChunk]]'s
    * reference parity (`chunk.py:118-121`).
    */
  def deleteChunks(libId: String, chunkIds: Seq[String]): Unit = {
    if (chunkIds.isEmpty) return
    val idsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(chunkIds.distinct.map(Row(_)),
        math.max(1, chunkIds.size / 100000)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("chunk_id",
          org.apache.spark.sql.types.StringType))))
    if (chunkIds.size <= VectorEngine.UpsertMaxBatch) {
      // small set: the isin literal pushes into the parquet scan
      val found = chunks.filter(col("library_id") === libId &&
        col("id").isin(chunkIds: _*)).count()
      if (found == 0) return
      store.writeLibraryPartition("chunks", libId,
        chunks.filter(col("library_id") === libId &&
          !col("id").isin(chunkIds: _*)))
    } else {
      // large set: a distributed anti-join on a DataFrame of ids — the
      // same UpsertMaxBatch guard as upsertChunks, because a
      // million-entry isin literal is a plan bomb (ADVICE r7)
      val keyed = idsDf.withColumnRenamed("chunk_id", "id")
      val found = chunks.filter(col("library_id") === libId)
        .join(keyed, Seq("id"), "left_semi").count()
      if (found == 0) return
      store.writeLibraryPartition("chunks", libId,
        chunks.filter(col("library_id") === libId)
          .join(keyed, Seq("id"), "left_anti"))
    }
    removeFromIndexes(libId, idsDf)
  }

  // ---- list / get (S1-S3, T5-T6, P7-P8) ------------------------------

  /** Paginated document listing (reference `repos/documents.py:22-47` +
    * router `has_more` pattern): optional single-tag membership (P7,
    * `has_tag in doc.metadata.tags`) and strict created_after (P8),
    * sorted by created_at|updated_at, stable `id` tie-break, rows
    * [offset, offset+limit) via row_number. Defaults mirror the
    * reference: updated_at descending.
    */
  def listDocuments(libId: String, sortBy: String = "updated_at",
      ascending: Boolean = false, limit: Int = 100, offset: Int = 0,
      hasTag: Option[String] = None,
      createdAfter: Option[Timestamp] = None): DataFrame = {
    if (!Set("created_at", "updated_at").contains(sortBy))
      throw new ValidationError(s"unknown sort field: $sortBy")
    if (limit <= 0 || limit > 1000)
      throw new ValidationError(s"limit out of range: $limit")
    var df = documents.filter(col("library_id") === libId)
    hasTag.foreach(t => df = df.filter(array_contains(col("metadata.tags"), t)))
    createdAfter.foreach(ts => df = df.filter(col("created_at") > lit(ts)))
    val ord = if (ascending) Seq(col(sortBy).asc, col("id").asc)
              else Seq(col(sortBy).desc, col("id").asc)
    page(df, ord, limit, offset)
  }

  /** Point lookup of one library row (reference router GET
    * /libraries/{id}, `api/routers/libraries.py`): the full stored row
    * including index_config and metadata; NotFound if absent.
    */
  def getLibraryRow(libId: String): DataFrame = {
    getLibrary(libId) // NotFound check via the catalog cache
    libraries.filter(col("id") === libId)
  }

  /** Per-library stats (the reference README's "index metrics" next-step,
    * `README.md:264`, realized): document/chunk/indexed-vector counts and
    * the built index — the library's effective `indexType` spelling once
    * it holds a partition of every table that spelling owns in the
    * registry (filesystem stats, no job), None for flat or before the
    * first rebuild.
    */
  def libraryStats(libId: String): LibraryStats = {
    val ctx = libCtx(libId)
    val nDocs = documents.filter(col("library_id") === libId).count()
    val chunkAgg = chunks.filter(col("library_id") === libId)
      .agg(count(lit(1)), sum(when(col("embedding").isNotNull, 1L).otherwise(0L)))
      .collect().head
    val nChunks = chunkAgg.getLong(0)
    val nEmbedded = if (chunkAgg.isNullAt(1)) 0L else chunkAgg.getLong(1)
    val tables = ctx.family.tables(ctx.spelling)
    LibraryStats(libId, ctx.config.indexType, nDocs, nChunks, nEmbedded,
      builtIndex = Some(ctx.spelling).filter(_ => tables.nonEmpty &&
        tables.forall(store.hasLibraryPartition(_, libId))))
  }

  /** Paginated library listing (reference `LibraryService.list`,
    * `services/library.py:55`, + the router's limit/offset/has_more page
    * shape, `api/routers/libraries.py:69-75`; defaults mirror the router:
    * limit 50, bounded (0, 1000]). The reference returns dict insertion
    * order; here the deterministic analog is (created_at asc, id asc).
    * `has_more` is the router's look-one-past-the-page probe.
    */
  def listLibraries(limit: Int = 50, offset: Int = 0): (DataFrame, Boolean) = {
    if (limit <= 0 || limit > 1000)
      throw new ValidationError(s"limit out of range: $limit")
    if (offset < 0)
      throw new ValidationError(s"offset out of range: $offset")
    val ord = Seq(col("created_at").asc, col("id").asc)
    val hasMore = !page(libraries, ord, 1, offset + limit).isEmpty
    (page(libraries, ord, limit, offset), hasMore)
  }

  /** Paginated chunk listing scoped to a library or document (S2):
    * partition-pruned scan, ordered by (document_id, position, id).
    */
  def listChunks(libId: String, docId: Option[String] = None,
      limit: Int = 100, offset: Int = 0): DataFrame = {
    if (limit <= 0 || limit > 1000)
      throw new ValidationError(s"limit out of range: $limit")
    var df = chunks.filter(col("library_id") === libId)
    docId.foreach(id => df = df.filter(col("document_id") === id))
    page(df, Seq(col("document_id").asc, col("position").asc, col("id").asc),
      limit, offset)
  }

  /** Stable pagination without a full-table global window: the top
    * offset+limit rows come from a DISTRIBUTED TakeOrdered (limit is
    * API-bounded at 1000, so the capped set is tiny), and only that capped
    * set is row-numbered — the single-partition window never sees more
    * than offset+limit rows no matter the table size.
    */
  private def page(df: DataFrame, ord: Seq[Column], limit: Int, offset: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.queries.WindowUtil.onePartition(col("id")))
      .orderBy(ord: _*)
    df.orderBy(ord: _*).limit(offset + limit)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > offset)
      .drop("rn")
  }

  /** Point lookups (S1) with ownership validation (P10). */
  def getChunk(libId: String, chunkId: String): DataFrame = {
    val df = chunks.filter(col("id") === chunkId && col("library_id") === libId)
    if (df.isEmpty) throw new NotFoundError(s"chunk $chunkId in library $libId")
    df
  }

  def getDocument(libId: String, docId: String): DataFrame = {
    val df = documents.filter(col("id") === docId && col("library_id") === libId)
    if (df.isEmpty) throw new NotFoundError(s"document $docId in library $libId")
    df
  }

  // ---- index lifecycle (C7) ------------------------------------------

  /** Swap index config (CAS on the library version) and rebuild — the
    * reference's `LibraryService.update_config` (`library.py:58-93`).
    */
  def updateIndexConfig(libId: String, config: IndexConfig,
      expectedVersion: Option[Long] = None): Unit = {
    validateConfig(config)
    val (dim, _, storedVersion) = getLibrary(libId)
    // must fail BEFORE the config write: throwing from the rebuild below
    // would leave the new config persisted with no buildable index
    requirePqDivisible(config, dim)
    expectedVersion.foreach { ev =>
      if (ev != storedVersion)
        throw new ConflictError(
          s"library $libId: expected version $ev, stored $storedVersion")
    }
    val t = now()
    store.write("libraries", libraries
      .withColumn("index_config", when(col("id") === libId,
        struct(lit(config.indexType).as("type"),
          lit(config.lshNumTables).as("lsh_num_tables"),
          lit(config.lshHyperplanesPerTable).as("lsh_hyperplanes_per_table"),
          lit(config.ivfNumCentroids).as("ivf_num_centroids"),
          lit(config.ivfNprobe).as("ivf_nprobe"),
          lit(config.pqSubspaces).as("pq_subspaces"),
          lit(config.pqCodewords).as("pq_codewords"),
          lit(config.nswDegree).as("nsw_degree"),
          lit(config.nswBeam).as("nsw_beam"),
          lit(config.nswRounds).as("nsw_rounds"))).otherwise(col("index_config")))
      .withColumn("version",
        when(col("id") === libId, col("version") + 1).otherwise(col("version")))
      .withColumn("updated_at",
        when(col("id") === libId, lit(t)).otherwise(col("updated_at"))), Nil)
    invalidateLibs()
    rebuildIndex(libId)
  }

  /** Full rebuild of this library's derived index tables from the chunk
    * snapshot (reference startup replay / rebuild endpoint, `main.py:61-76`).
    * Versioned snapshot write + pointer swap = atomic repoint (C7).
    * The family's `build` writes only its own tables; the library then
    * keeps exactly the tables its (auto-resolved) spelling owns in
    * [[Schemas.storeTables]] — its partition of every other index table
    * is dropped, and a table shared with the previous family (e.g.
    * `ivf_centroids` from ivf_det to ivfpq) is rewritten, not dropped.
    */
  def rebuildIndex(libId: String): Unit = {
    val (dim, config, _) = getLibrary(libId)
    // "auto" (reference README.md:263 guidance, there unimplemented):
    // "Flat <100k vectors; IVF for 100k-10M" — plus the engine's own
    // scale thesis (IvfPqIndex header): past ~10M vectors the
    // byte-compressed IVFPQ family is the architecture. Four tiers
    // resolved at rebuild time from the actual corpus size: flat below
    // autoIvfThreshold, IVF up to autoLshThreshold, IVFPQ beyond —
    // falling back to LSH when the library dim is not divisible by the
    // configured pq subspaces (IVFPQ's one structural precondition).
    val ctx = new LibCtx(libId, c =>
      if (config.indexType != "auto") config.indexType
      else {
        val n = c.chunks.filter(col("embedding").isNotNull).count()
        if (n < autoIvfThreshold) "flat"
        else if (n < autoLshThreshold) "ivf"
        else if (config.pqSubspaces > 0 && dim % config.pqSubspaces == 0) "ivfpq"
        else "lsh"
      })
    requirePqDivisible(config.copy(indexType = ctx.spelling), dim) // verbs pre-check
    ctx.family.build(ctx)
    // keep exactly this spelling's tables: an auto library that changed
    // tier, or a library whose config changed family, must not leave
    // stale tables behind (auto search dispatches on which tables HOLD
    // rows for this library)
    dropIndexTables(libId, keep = ctx.spelling)
  }

  // ---- search (the flagship path, §3.1) ------------------------------

  /** kNN search. Returns the reference's hit shape (P9): chunk_id,
    * document_id, score, text, position, created_at, updated_at.
    * Post-filter semantics by default (quirk Q5); `preFilter = true` is the
    * documented deviation that filters the candidate pool first.
    *
    * `nswBeam` overrides the nsw_det/hnsw_det walk's beam width for THIS
    * query — the hnswlib/faiss efSearch convention (search-time
    * quality/latency dial; the IndexConfig value is the default). Ignored
    * by the other families.
    *
    * The library's [[IndexFamily]] generates candidates through its
    * driver-side probe path (probed cells, walked nodes and capped codes
    * become pushed `isin` literals); every index family is then reranked
    * exactly here — normalized stored vector x RAW query (quirk Q1).
    */
  def search(libIdOrAlias: String, query: Array[Float], k: Int,
      metric: String = "cosine", filters: Option[SearchFilters] = None,
      preFilter: Boolean = false, nswBeam: Option[Int] = None): DataFrame = {
    val ctx = libCtx(resolveLibrary(libIdOrAlias))
    if (query.length != ctx.dim)
      throw new ValidationError(s"query dim ${query.length} != library dim ${ctx.dim}")
    requireTopK(k, metric)
    val libChunks = ctx.chunks
    val qn = LshIndex.normalizeDriver(query)
    // preFilter restricts CANDIDATE GENERATION: for flat that is the scan
    // itself (applyPre, filter pushed into the parquet read); for the
    // index families a semi-join of the candidates against the ids
    // passing the filters, BEFORE oversample caps and top-k — so a
    // pre-filtered query returns k rows whenever k matching candidates
    // exist (the documented deviation from quirk Q5)
    val allowedIds = allowedIdsOf(libChunks, filters, preFilter)
    val fam = ctx.family
    // a zero query scores 0 on flat and returns nothing through an index
    // (quirk Q4)
    if (qn.isEmpty && fam.indexed)
      return hitsOf(flatScore(libChunks, query, metric).limit(0), libChunks, filters)
    // the full (pre-filtered) flat scan: the flat family, and every index
    // family whose structures are not built yet (reference ivf.py:96-99)
    val scored = fam.load(ctx)
      .flatMap(st => fam.candidates(ctx, st, Query(query, qn.get, k, nswBeam, allowedIds)))
      .fold(flatScore(applyPre(libChunks, filters, preFilter), query, metric))(
        rerank(_, query, metric))

    hitsOf(scored.orderBy(col("score").desc, col("chunk_id").asc) // Q7 tie-breaker
      .limit(k), libChunks, filters)
  }

  /** The hit shape (P9) of <= k (chunk_id, score) rows: hydrated by a
    * broadcast join against the partition-pruned chunk scan (map-side,
    * never a shuffle; J1: a hit whose chunk vanished drops), then
    * post-filtered (quirk Q5).
    */
  private def hitsOf(topk: DataFrame, libChunks: DataFrame,
      filters: Option[SearchFilters]): DataFrame =
    applyPost(broadcast(topk)
        .join(libChunks.withColumnRenamed("id", "chunk_id"), "chunk_id"), filters)
      .select(col("chunk_id"), col("document_id"), col("score"),
        col("text"), col("position"), col("metadata"),
        col("created_at"), col("updated_at"))
      .orderBy(col("score").desc, col("chunk_id").asc)

  /** HYBRID SEARCH — the lexical+vector surface modern vector stores pair
    * with ANN: the engine's own vector `search` (whatever index family the
    * library resolved) fused with a BM25 ranking over the library's chunk
    * TEXT via reciprocal-rank fusion, rrf = sum over present rankings of
    * 1/(60 + rank). BM25 ranks by the EXACT integer nano-nat score sum
    * ([[graft.retrieval.RetrievalCore.bm25ScoresOf]]); vector ranks by
    * (raw score desc, chunk_id asc) over the k hits `search` returned.
    * Both rank windows run over ALREADY-k-LIMITED frames (single tiny
    * partition by construction — never a corpus-wide window) and the
    * fusion is a k x k outer join, so beyond `search` itself and the
    * BM25 aggregations nothing scales with the corpus. Hits absent from
    * one ranking carry -1 there and contribute 0. Post-search hydration
    * is the broadcast inner join `search` uses (J1 semantics).
    * Returns (chunk_id, rank_lex, rank_vec, rrf, text) top-k by
    * (rrf desc, chunk_id asc).
    */
  def hybridSearch(libIdOrAlias: String, query: Array[Float], terms: Seq[String],
      k: Int, metric: String = "cosine"): DataFrame = {
    import graft.retrieval.RetrievalCore
    val libId = resolveLibrary(libIdOrAlias)
    getLibrary(libId)
    if (terms.isEmpty)
      throw new ValidationError("hybridSearch needs at least one query term")
    if (k <= 0 || k > 1000) throw new ValidationError(s"k out of range: $k")
    val libChunks = chunks.filter(col("library_id") === libId)
    // k-bounded rank frames (see scaladoc): single partition on purpose,
    // stated via onePartition so WindowExec stays warning-free.
    val wV = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.queries.WindowUtil.onePartition(col("chunk_id")))
      .orderBy(col("score").desc, col("chunk_id").asc)
    val vec = search(libId, query, k, metric)
      .select(col("chunk_id"), col("score"))
      .withColumn("rank_vec", row_number().over(wV))
      .select(col("chunk_id"), col("rank_vec"))
    val wL = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.queries.WindowUtil.onePartition(col("chunk_id")))
      .orderBy(col("s9").desc, col("chunk_id").asc)
    val lex = RetrievalCore.bm25ScoresOf(
        libChunks.select(col("id").as("chunk_id"), col("text")),
        "chunk_id", terms)
      .orderBy(col("s9").desc, col("chunk_id").asc)
      .limit(k)
      .withColumn("rank_lex", row_number().over(wL))
      .select(col("chunk_id"), col("rank_lex"))
    val fused = lex.join(vec, Seq("chunk_id"), "full_outer")
      .select(col("chunk_id"),
        coalesce(col("rank_lex"), lit(-1)).as("rank_lex"),
        coalesce(col("rank_vec"), lit(-1)).as("rank_vec"),
        RetrievalCore.rnd6(RetrievalCore.rrfTerm(col("rank_lex")) +
          RetrievalCore.rrfTerm(col("rank_vec"))).as("rrf"))
      .orderBy(col("rrf").desc, col("chunk_id").asc)
      .limit(k)
    broadcast(fused)
      .join(libChunks.withColumnRenamed("id", "chunk_id"), "chunk_id")
      .select(col("chunk_id"), col("rank_lex"), col("rank_vec"),
        col("rrf"), col("text"))
      .orderBy(col("rrf").desc, col("chunk_id").asc)
  }

  /** RANGE (radius) SEARCH — every chunk whose similarity to the query
    * is at least `minScore` (all three metrics are higher-is-better:
    * cosine, 1/(1+d) euclidean, dot), capped at `limit` rows by
    * (score desc, chunk_id asc). The faiss `range_search` surface the
    * reference's fixed-k endpoint (`services/search.py:18-75`) cannot
    * express.
    *
    * Always EXACT, whatever index family the library declares: a score
    * threshold composes with none of the families' top-k candidate
    * generation (an ANN walk/probe may miss an above-threshold row the
    * caller was promised), and the exact answer is ONE corpus pass —
    * scan, score inside whole-stage codegen, `Filter(score >=
    * minScore)`, then a TakeOrderedAndProject bounded by `limit`. No
    * shuffle, no index read; at 100 TB this is the same plan as flat
    * search with a cheaper tail. Scoring uses the RAW stored vectors
    * (quirk Q1's flat path). Filters follow the Q5 post-filter contract
    * (may return fewer than the matched rows); `preFilter = true`
    * pushes them into the scan, as `search`.
    */
  def rangeSearch(libIdOrAlias: String, query: Array[Float], minScore: Double,
      metric: String = "cosine", filters: Option[SearchFilters] = None,
      preFilter: Boolean = false, limit: Int = 1000): DataFrame = {
    val libId = resolveLibrary(libIdOrAlias)
    val (dim, _, _) = getLibrary(libId)
    if (query.length != dim)
      throw new ValidationError(s"query dim ${query.length} != library dim $dim")
    if (limit <= 0 || limit > 10000)
      throw new ValidationError(s"limit out of range: $limit")
    similarity(metric)(lit(0), lit(0)) // validate metric name eagerly
    val libChunks = chunks.filter(col("library_id") === libId)
    hitsOf(flatScore(applyPre(libChunks, filters, preFilter), query, metric)
      .filter(col("score") >= minScore)
      .orderBy(col("score").desc, col("chunk_id").asc) // Q7 tie-breaker
      .limit(limit), libChunks, filters)
  }

  /** RECOMMEND — seed-based retrieval: "more like these, less like
    * those", the positive/negative-examples surface vector stores pair
    * with kNN. Two strategies:
    *
    *  - `"centroid"` (default): the Rocchio pseudo-query (Rocchio 1971,
    *    with beta = gamma = 1 and no original query) — q[j] =
    *    avg(positives)[j] - avg(negatives)[j], averaged in DOUBLE and
    *    rounded once to float32 — then delegated to [[search]]
    *    UNCHANGED, so it runs through whatever index family the library
    *    resolved (flat scan, LSH probes, IVF cells, a graph walk...).
    *    Oversampled by |seeds| so dropping the seed chunks still fills
    *    k: the global top-k non-seed hits all sit inside the top
    *    (k + |seeds|).
    *  - `"margin"`: score(c) = max over positives sim(c, p) - max over
    *    negatives sim(c, n) (0 when no negatives) — a multi-vector
    *    score no single pseudo-query can express, so it is EXACT by
    *    construction: one corpus pass with the <= 64 seed vectors as
    *    plan literals, every max inside whole-stage codegen, then the
    *    k-bounded tail. At 100 TB: flat-search cost times nothing — the
    *    seeds ride along as constants.
    *
    * Seed chunks are excluded from the results in both strategies. Seed
    * vectors are read back driver-side (<= 64 rows — the 1-row
    * query-vector readback precedent, bounded by validation). Scoring
    * uses raw stored vectors (quirk Q1 flat / rerank contracts apply
    * through `search` for centroid). Filters: Q5 post-filter contract,
    * `preFilter` as `search`.
    */
  def recommend(libIdOrAlias: String, positiveIds: Seq[String],
      negativeIds: Seq[String] = Nil, k: Int = 10,
      metric: String = "cosine", strategy: String = "centroid",
      filters: Option[SearchFilters] = None,
      preFilter: Boolean = false): DataFrame = {
    val libId = resolveLibrary(libIdOrAlias)
    val (dim, _, _) = getLibrary(libId)
    if (positiveIds.isEmpty)
      throw new ValidationError("recommend needs at least one positive example")
    if (k <= 0 || k > 1000) throw new ValidationError(s"k out of range: $k")
    val seeds = positiveIds ++ negativeIds
    if (seeds.distinct.length != seeds.length)
      throw new ValidationError("recommend: duplicate seed id")
    if (seeds.length > 64)
      throw new ValidationError(s"recommend: at most 64 seed examples, got ${seeds.length}")
    similarity(metric)(lit(0), lit(0)) // validate metric name eagerly
    val libChunks = chunks.filter(col("library_id") === libId)
    val seedVecs: Map[String, Array[Float]] = libChunks
      .filter(col("id").isin(seeds: _*) && col("embedding").isNotNull)
      .select(col("id"), col("embedding"))
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
    val missing = seeds.filterNot(seedVecs.contains)
    if (missing.nonEmpty)
      throw new NotFoundError(
        s"recommend: no embedded chunk for ${missing.sorted.mkString(", ")}")
    seedVecs.values.find(_.length != dim).foreach(v =>
      throw new ValidationError(s"recommend: seed dim ${v.length} != library dim $dim"))

    strategy match {
      case "centroid" =>
        // per-component double average in SEED-LIST ORDER (the oracle
        // replays the same left-fold), one rounding to float32 at the end
        val q = Array.tabulate(dim) { j =>
          val p = positiveIds.map(seedVecs(_)(j).toDouble).sum / positiveIds.length
          val n =
            if (negativeIds.isEmpty) 0.0
            else negativeIds.map(seedVecs(_)(j).toDouble).sum / negativeIds.length
          (p - n).toFloat
        }
        val kk = math.min(1000, k + seeds.length)
        search(libId, q, kk, metric, filters, preFilter)
          .filter(!col("chunk_id").isin(seeds: _*))
          .orderBy(col("score").desc, col("chunk_id").asc)
          .limit(k)
      case "margin" =>
        def maxSim(ids: Seq[String]): Column = {
          val sims = ids.map(id =>
            similarity(metric)(col("embedding"), typedLit(seedVecs(id).toSeq)))
          if (sims.length == 1) sims.head else greatest(sims: _*)
        }
        val negMax = if (negativeIds.isEmpty) lit(0.0) else maxSim(negativeIds)
        val scored = applyPre(libChunks, filters, preFilter)
          .filter(col("embedding").isNotNull && !col("id").isin(seeds: _*))
          .select(col("id").as("chunk_id"),
            (maxSim(positiveIds) - negMax).as("score"))
        hitsOf(scored.orderBy(col("score").desc, col("chunk_id").asc).limit(k),
          libChunks, filters)
      case other =>
        throw new ValidationError(s"recommend: unknown strategy: $other")
    }
  }

  /** GROUPED SEARCH — the top `groups` groups by their BEST hit, each
    * with its top `perGroup` hits: "best g documents, m chunks each" /
    * "best g authors" — the diversity surface a flat top-k cannot
    * express (one strong group swallows the whole result list).
    *
    * `groupBy` is one of `document_id`, `author`, `lang` (metadata
    * fields), or `tag` (the chunk's FIRST tag); rows with a null group
    * key are excluded. Filters apply to the CANDIDATE rows, BEFORE
    * grouping — the Q5 post-filter contract would let a filtered-out
    * hit consume a group slot and leave a hole, so grouping semantics
    * need the filter first (documented deviation, like `preFilter`).
    *
    * Scoring is EXACT over the raw stored vectors (quirk Q1's flat
    * path): grouped top-k composes badly with ANN candidate generation
    * — a family's oversample bounds hits, not groups, so a small group
    * with above-cut members can vanish entirely. The exact plan is the
    * scale-right one anyway: one scored corpus pass, then the k-bounded
    * PARTIAL aggregator per group (map side reduces every partition to
    * <= perGroup rows per key BEFORE the one shuffle — never a
    * corpus-wide window sort), then ONE TakeOrdered over one row per
    * group (each row carrying its <= perGroup hits), then a bounded
    * explode + broadcast hydration. Driver state: zero; shuffled rows:
    * <= perGroup x |groups present|.
    *
    * Returns (group_key, group_rank, best_score, hit_rank, chunk_id,
    * document_id, score, text) ordered by (group_rank, hit_rank) —
    * group_rank by (best_score desc, group_key asc), hit_rank by the Q7
    * (score desc, chunk_id asc) contract within the group.
    */
  def searchGrouped(libIdOrAlias: String, query: Array[Float], groups: Int,
      perGroup: Int, groupBy: String = "document_id",
      metric: String = "cosine",
      filters: Option[SearchFilters] = None): DataFrame = {
    import spark.implicits._
    val libId = resolveLibrary(libIdOrAlias)
    val (dim, _, _) = getLibrary(libId)
    if (query.length != dim)
      throw new ValidationError(s"query dim ${query.length} != library dim $dim")
    if (groups <= 0 || groups > 1000)
      throw new ValidationError(s"groups out of range: $groups")
    if (perGroup <= 0 || perGroup > 100)
      throw new ValidationError(s"perGroup out of range: $perGroup")
    similarity(metric)(lit(0), lit(0)) // validate metric name eagerly
    val grpCol = groupBy match {
      case "document_id" => col("document_id")
      case "author"      => col("metadata.author")
      case "lang"        => col("metadata.lang")
      // try_: a tagless chunk (null OR empty array) must group as null
      // (excluded below), not throw under ANSI out-of-bounds semantics
      case "tag"         => try_element_at(col("metadata.tags"), lit(1))
      case other =>
        throw new ValidationError(s"searchGrouped: unknown groupBy: $other")
    }
    val libChunks = chunks.filter(col("library_id") === libId)
    val scored = applyPost(
        libChunks.withColumnRenamed("id", "chunk_id"), filters)
      .filter(col("embedding").isNotNull && grpCol.isNotNull)
      .select(grpCol.as("group_key"), col("chunk_id"),
        similarity(metric)(col("embedding"), typedLit(query.toSeq)).as("score"))
    // one row per group, hits already cut to perGroup and sorted
    // (score desc, id asc) by the aggregator; head = the group's best
    val winners = scored.as[(String, String, Double)]
      .groupByKey(_._1)
      .agg(graft.functions.TopKAggregator.topKStrKey(perGroup).toColumn)
      .map { case (g, hits) => (g, hits.head._1, hits) }
      .toDF("group_key", "best_score", "hits")
      .orderBy(col("best_score").desc, col("group_key").asc)
      .limit(groups)
    // group_rank over the <= groups winner rows — a single tiny
    // partition on purpose (the hybridSearch rank-frame discipline)
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.queries.WindowUtil.onePartition(col("group_key")))
      .orderBy(col("best_score").desc, col("group_key").asc)
    val flat = winners
      .withColumn("group_rank", row_number().over(wG))
      .select(col("group_key"), col("group_rank"), col("best_score"),
        posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("group_key"), col("group_rank"), col("best_score"),
        (col("pos") + 1).as("hit_rank"),
        col("hit._2").as("chunk_id"), col("hit._1").as("score"))
    broadcast(flat)
      .join(libChunks.withColumnRenamed("id", "chunk_id")
        .select(col("chunk_id"), col("document_id"), col("text")), "chunk_id")
      .select(col("group_key"), col("group_rank"), col("best_score"),
        col("hit_rank"), col("chunk_id"), col("document_id"),
        col("score"), col("text"))
      .orderBy(col("group_rank").asc, col("hit_rank").asc)
  }

  /** TEXT-QUERY SEARCH — closes the reference's embedding seam from the
    * query side: the reference's search endpoint takes a query EMBEDDING
    * (`api/routers/search.py`, dim-checked at `services/search.py:23-24`)
    * because it assumes an external embedder; here the query text embeds
    * ENGINE-side through the same deterministic hashed-projection
    * embedder the corpus used ([[graft.functions.TextEmbed]]) and reuses
    * [[search]] unchanged — index-family dispatch, the Q5 post-filter
    * contract, and the Q7 tie-break all apply as-is. The library must be
    * [[graft.functions.TextEmbed.EDim]]-dimensional (i.e. ingested with
    * engine-computed embeddings); integer sums are float32-exact, so the
    * embedded query is bit-identical to the oracle's replay.
    *
    * The only thing collected is the single 16-int query row (the 1-row
    * query-vector readback precedent) — the embedding itself runs through
    * the shared expression pipeline, not driver-side string code.
    */
  def searchText(libIdOrAlias: String, text: String, k: Int,
      metric: String = "cosine", filters: Option[SearchFilters] = None,
      preFilter: Boolean = false): DataFrame = {
    import graft.functions.TextEmbed
    val libId = resolveLibrary(libIdOrAlias)
    // the embedder dim comes from the LIBRARY's catalog row (VERDICT r13
    // #4) — the reference's endpoint only dim-checks its embedder's
    // output (`services/search.py:23-24`), so text search composes with
    // every engine-embedded library dim, not just the 16-dim default
    val (dim, _, _) = getLibrary(libId)
    if (dim > TextEmbed.MaxDim)
      throw new ValidationError(
        s"searchText supports dims up to ${TextEmbed.MaxDim}, got $dim")
    if (text == null || text.isEmpty)
      throw new ValidationError("empty query text")
    import spark.implicits._
    val rows = TextEmbed.embedded(
      Seq((0L, text)).toDF("qid", "text"), "qid", dim).collect()
    if (rows.isEmpty)
      throw new ValidationError("query text has no tokens")
    val q = (0 until dim)
      .map(j => rows.head.getLong(j + 1).toFloat).toArray
    search(libId, q, k, metric, filters, preFilter)
  }

  /** The library's effective `indexType` spelling: its config, or for
    * "auto" whatever rebuildIndex resolved and built — the first of the
    * families' marker tables ([[IndexFamily.markers]], in
    * [[IndexFamily.all]] order, most specific first) that holds rows for
    * it, flat before the first rebuild.
    */
  private def effectiveIndexType(libId: String, config: IndexConfig): String =
    if (config.indexType != "auto") config.indexType
    else {
      // resolved once per (library, index state): the probes are up to 8
      // driver jobs, and a serving loop calls this per query (ADVICE r14)
      val m = indexMeta(libId)
      m.effType.getOrElse {
        val t = probeIndexType(libId)
        m.effType = Some(t)
        t
      }
    }

  // the first family, in this order, whose table holds rows for the
  // library; each isEmpty probe is a Spark job, so it runs only where the
  // table has a partition of THIS library (a filesystem stat) — another
  // library's index tables cost a cold `auto` resolution nothing
  private def probeIndexType(libId: String): String =
    IndexFamily.all.flatMap(_.markers)
      .collectFirst { case (table, spelling)
          if store.hasLibraryPartition(table, libId) &&
            !libPart(table, libId).isEmpty => spelling }
      .getOrElse("flat")

  /** Batch kNN: N query vectors answered in ONE distributed pass — the
    * Spark-native throughput shape the reference's per-request API cannot
    * express (its README benchmarks one query at a time). Queries are
    * broadcast against the partition-pruned chunk scan; per-query top-k,
    * hydration and post-filters (quirk Q5) are the shared batch tail.
    * Returns the search hit shape plus a leading `query_id` column.
    *
    * Flat/exact only, whatever the library's index (index-routed batches
    * are `searchBatchAnn`/`annJoin`), which is also the reference's only
    * metric-exact path.
    */
  def searchBatch(libIdOrAlias: String, queries: Seq[(Long, Array[Float])], k: Int,
      metric: String = "cosine", filters: Option[SearchFilters] = None): DataFrame = {
    val libId = resolveLibrary(libIdOrAlias)
    val (dim, _, _) = getLibrary(libId)
    queries.foreach { case (qid, q) =>
      if (q.length != dim)
        throw new ValidationError(s"query $qid dim ${q.length} != library dim $dim")
    }
    requireTopK(k, metric)
    val qRows = queries.map { case (qid, q) => Row(qid, q.toSeq) }
    val qDf = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("qvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false)))))
    val libChunks = chunks.filter(col("library_id") === libId)
    val scored = libChunks.filter(col("embedding").isNotNull)
      .crossJoin(broadcast(qDf))
      .select(col("query_id"), col("id").as("chunk_id"),
        similarity(metric)(col("embedding"), col("qvec")).as("score"))
    batchTopKHydrate(scored, libChunks, k, filters, queries.length)
  }

  /** The one batch result tail (searchBatch, searchBatchAnn, annJoin):
    * per-query top-k via the k-bounded PARTIAL aggregator, not a window —
    * the map side reduces each partition to <= k rows per query BEFORE the
    * shuffle (k*N rows total), where the window formulation shuffles and
    * sorts the full candidate set — then the hydration join, post-filters
    * (quirk Q5), and the hit projection with a leading query_id. The
    * top-k side is broadcast (a map-side hydration) only while the known
    * query count `nq` is driver-bounded (<= LocalAnnJoinCap); at
    * DataFrame-scale N the N x k rows must not be forced into every
    * executor's memory, so the planner picks the join.
    */
  private def batchTopKHydrate(scored: DataFrame, libChunks: DataFrame,
      k: Int, filters: Option[SearchFilters], nq: Long): DataFrame = {
    import spark.implicits._
    val topk = scored.as[(Long, String, Double)]
      .groupByKey(_._1)
      .agg(graft.functions.TopKAggregator.topKStr(k).toColumn)
      .flatMap { case (qid, hits) => hits.map(h => (qid, h._2, h._1)) }
      .toDF("query_id", "chunk_id", "score")
    val hydrated = (if (nq <= LocalAnnJoinCap) broadcast(topk) else topk)
      .join(libChunks.withColumnRenamed("id", "chunk_id"), "chunk_id")
    applyPost(hydrated, filters)
      .select(col("query_id"), col("chunk_id"), col("document_id"),
        col("score"), col("text"), col("position"), col("metadata"),
        col("created_at"), col("updated_at"))
      .orderBy(col("query_id").asc, col("score").desc, col("chunk_id").asc)
  }

  /** Batch kNN routed through the library's INDEX for a driver-side query
    * Seq — a driver-validated front end to [[annJoin]]: a query whose
    * dimension differs from the library's, or a duplicate query id,
    * throws ValidationError here (annJoin silently drops mismatched rows),
    * and k and the metric are checked. The Seq becomes a local
    * (query_id, qvec) frame run through annJoin's one batch pipeline,
    * with the query count known up front, so the front end adds no Spark
    * job. Row-for-row equal to N single `search` calls on every index
    * family (EngineSpec asserts it); returns the hit shape with a leading
    * `query_id`, ordered (query_id, score desc, chunk_id). Zero-vector
    * queries contribute no rows on index paths (single `search` returns
    * empty for them, quirk Q4) and all-zero scores on flat.
    */
  def searchBatchAnn(libIdOrAlias: String, queries: Seq[(Long, Array[Float])], k: Int,
      metric: String = "cosine", filters: Option[SearchFilters] = None,
      preFilter: Boolean = false): DataFrame = {
    val libId = resolveLibrary(libIdOrAlias)
    val (dim, _, _) = getLibrary(libId)
    queries.foreach { case (qid, q) =>
      if (q.length != dim)
        throw new ValidationError(s"query $qid dim ${q.length} != library dim $dim")
    }
    // duplicate ids would silently mix candidates/scores across the rows
    // sharing the id (the probe/ADC stages key on query_id) — reject
    if (queries.map(_._1).distinct.length != queries.length)
      throw new ValidationError("searchBatchAnn query set has duplicate query_ids")
    requireTopK(k, metric)
    import spark.implicits._
    val q = queries.map { case (qid, v) => (qid, v.toSeq) }.toDF("query_id", "qvec")
    annJoinOn(libId, q, queries.length.toLong, k, metric, filters, preFilter)
  }

  /** ANN TOP-K SIMILARITY JOIN — queries as a DATAFRAME, and the engine's
    * ONE batch ANN pipeline (`searchBatchAnn` is its driver-validated
    * front end for a Seq). The pipeline shape a 100 TB training-data run
    * actually executes is millions of query vectors x an indexed corpus,
    * and that query set must itself be distributed. Input: (query_id:
    * long, qvec: array<float>); output: the batch hit shape. Nothing
    * query-dependent lands on the driver, except the graph families'
    * bounded local finish. Flat cross-scores corpus x queries (exact —
    * inherently the cartesian); every index family generates candidates
    * over the (query_id, qnorm) frame with executor-side expressions of
    * the same arithmetic its single-query path folds into literals
    * (probe joins, per-(query, cell) ADC tables, multi-probe signatures,
    * packed query codes), so results equal N single `search` calls; the
    * graph families walk up to LocalAnnJoinCap queries in lockstep on the
    * driver and larger sets with the distributed frontier-join walk.
    *
    * Rows whose qvec dimension mismatches the library contribute no
    * rows. Zero-vector queries contribute no rows on INDEX paths
    * (normalize -> null, quirk Q4; also when an unbuilt index falls back
    * to the flat scan) but score all-zero on flat — the same contract as
    * `search`/`searchBatch` (the flat branch scores the raw,
    * un-normalized query, quirk Q1). Duplicate query_ids are rejected
    * (ValidationError) — one eager metadata-agg over the query set, the
    * only action this method runs, which also yields the query count the
    * local finish and the result tail size themselves by. Post-filters
    * per quirk Q5; `preFilter = true` restricts candidate generation
    * first, as in `search`.
    */
  def annJoin(libIdOrAlias: String, queries: DataFrame, k: Int,
      metric: String = "cosine", filters: Option[SearchFilters] = None,
      preFilter: Boolean = false): DataFrame = {
    val libId = resolveLibrary(libIdOrAlias)
    val (dim, _, _) = getLibrary(libId)
    requireTopK(k, metric)
    val q = queries.select(col("query_id").cast("long").as("query_id"),
        col("qvec"))
      .filter(size(col("qvec")) === dim)
    // duplicate ids would silently mix candidates/scores across rows
    // sharing the id (the probe/ADC stages key on query_id) — reject
    val Array(nq, nqd) = q.agg(count(lit(1)), count_distinct(col("query_id")))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    if (nq != nqd)
      throw new ValidationError(
        s"annJoin query set has duplicate query_ids ($nq rows, $nqd distinct)")
    annJoinOn(libId, q, nq, k, metric, filters, preFilter)
  }

  /** annJoin's body over a validated (query_id, qvec) frame of `nq`
    * distinct, library-dimension queries.
    */
  private def annJoinOn(libId: String, q: DataFrame, nq: Long, k: Int,
      metric: String, filters: Option[SearchFilters],
      preFilter: Boolean): DataFrame = {
    val ctx = libCtx(libId)
    val libChunks = ctx.chunks
    val fam = ctx.family
    // float-normalized queries (zero vectors -> null -> dropped), the
    // same arithmetic as LshIndex.normalizeDriver
    val qn = q.select(col("query_id"),
        transform(l2Normalize(col("qvec")), _.cast("float")).as("qnorm"))
      .filter(col("qnorm").isNotNull)
    // the exact rerank (quirk Q1: normalized stored vector x RAW query)
    def rerank(cands: DataFrame): DataFrame =
      cands.join(q, Seq("query_id"))
        .select(col("query_id"), col("chunk_id"),
          similarity(metric)(col("embedding_norm"), col("qvec")).as("score"))
    // the flat scan of `qside`: the whole batch on flat; minus the zero
    // vectors when an index is not built (quirk Q4 holds on the fallback
    // too); the graph walks' queries that visited nothing
    def flatScored(qside: DataFrame): DataFrame =
      applyPre(libChunks, filters, preFilter)
        .filter(col("embedding").isNotNull)
        .crossJoin(qside)
        .select(col("query_id"), col("id").as("chunk_id"),
          similarity(metric)(col("embedding"), col("qvec")).as("score"))
    val scored = fam.load(ctx) match {
      case None =>
        flatScored(if (fam.indexed) q.filter(exists(col("qvec"), _ =!= 0f)) else q)
      case Some(st) =>
        val c = fam.candidates(ctx, st,
          Batch(q, qn, nq, k, allowedIdsOf(libChunks, filters, preFilter)))
        c.flatQueries.fold(rerank(c.rows))(f => rerank(c.rows).unionAll(flatScored(f)))
    }
    batchTopKHydrate(scored, libChunks, k, filters, nq)
  }

  /** DISTRIBUTED graph walk for annJoin past the local-finish cap: every
    * query's beam lives in one frame — (query_id, chunk_id, s) — and each
    * fixed round is one frontier-adjacency join + per-query top-beam
    * window, so a corpus-scale query set never touches the driver. Rows
    * per round are bounded by |queries| x beam x degree; per-round
    * localCheckpoint truncates the iterative lineage (the K-round loop
    * discipline). Scores/ties mirror graphWalk (float-normalized pairs,
    * chunk_id asc), so per-query results land on the same hits; hnsw
    * batches add the distributed greedy descent ([[hnswDescentSeeds]]) to
    * each query's entry-cell pool, the same hybrid pool graphWalk seeds
    * from. A pre-filter gates every id the walk may SCORE — the seed pool
    * and each round's frontier — as the pre-filtered graphWalk does.
    * Returns the visited (query_id, chunk_id, embedding_norm) rows and
    * the (query_id, qvec) queries that visited nothing.
    */
  private def frontierWalk(libId: String, config: IndexConfig, b: Batch,
      beamW: Int, hnsw: Boolean): (DataFrame, DataFrame) = {
    val qn = b.qn
    val posts = ivfPostings(libId)
    val edges = nswEdges(libId)
    // entry cell per query via the argmax kernel over the metadata-scale
    // centroid literal (seedCentroids ids are contiguous 0..K-1 in
    // centroid_id order, the assign contract)
    val centArr = ivfCentroids(libId).orderBy(col("centroid_id")).collect()
      .map(_.getSeq[Float](2).map(_.toDouble).toArray)
    val entry = qn.select(col("query_id"), col("qnorm"),
      graft.functions.PqExpressions.argmaxDot(
        transform(col("qnorm"), _.cast("double")), centArr)
        .as("centroid_id"))
    val wBeam = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("chunk_id").asc)
    def topBeam(v: DataFrame): DataFrame =
      v.withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beamW)
        .select(col("query_id"), col("chunk_id"))
    // per-query seed pools: the entry cell's members (the nsw pool), and
    // for hnsw ALSO the distributed greedy descent's result + its layer-0
    // neighborhood
    val cellSeeds = posts.join(entry, Seq("centroid_id"))
      .select(col("query_id"), col("chunk_id"), col("embedding_norm"))
    val seeds =
      if (!hnsw) cellSeeds
      else hnswDescentSeeds(libId, config, qn, posts, edges)
        .fold(cellSeeds) { d =>
          cellSeeds.unionAll(
            d.join(posts.select(col("chunk_id"), col("embedding_norm")),
              Seq("chunk_id"))
              .select(col("query_id"), col("chunk_id"),
                col("embedding_norm")))
            .dropDuplicates("query_id", "chunk_id")
        }
    var visited = topBeam(
      b.restrict(seeds)
        .join(qn, Seq("query_id"))
        .select(col("query_id"), col("chunk_id"),
          dotProduct(col("embedding_norm"), col("qnorm")).as("s")))
      .join(posts.select(col("chunk_id"), col("embedding_norm")),
        Seq("chunk_id"))
      .join(qn, Seq("query_id"))
      .select(col("query_id"), col("chunk_id"),
        dotProduct(col("embedding_norm"), col("qnorm")).as("s"))
      .localCheckpoint()
    var beam = visited.select(col("query_id"), col("chunk_id"))
    var round = 0
    while (round < config.nswRounds) {
      val frontier = edges
        .join(beam.withColumnRenamed("chunk_id", "src_id"), Seq("src_id"))
        .select(col("query_id"), col("dst_id").as("chunk_id"))
        .distinct()
      val scoredNbrs = b.restrict(frontier)
        .join(posts.select(col("chunk_id"), col("embedding_norm")),
          Seq("chunk_id"))
        .join(qn, Seq("query_id"))
        .select(col("query_id"), col("chunk_id"),
          dotProduct(col("embedding_norm"), col("qnorm")).as("s"))
      // duplicate (query, node) rows carry identical recomputed scores,
      // so the dedup is deterministic
      visited = visited.unionAll(scoredNbrs)
        .dropDuplicates("query_id", "chunk_id")
        .localCheckpoint()
      beam = topBeam(visited)
      round += 1
    }
    val cands = b.restrict(
      visited.select(col("query_id"), col("chunk_id"))
        .join(posts.select(col("chunk_id"), col("embedding_norm")),
          Seq("chunk_id")))
    // a query whose entry cell was emptied by deletes has no vis0 rows and
    // survives every round empty — it flat-falls-back, matching the
    // single-query walk (ADVICE r13); anchored on qn, so zero-vector
    // queries stay absent from the output (quirk Q4)
    val missing = b.q
      .join(qn.select("query_id")
          .join(visited.select("query_id").distinct(),
            Seq("query_id"), "left_anti"),
        Seq("query_id"), "left_semi")
      .localCheckpoint()
    (cands, missing)
  }

  /** STREAMING ANN through the index tables (the 100 TB online-serving
    * shape): the query side is a STREAMING DataFrame probing the ivfpq
    * or ivfsq8 index, not a broadcast of the corpus. Structured Streaming permits
    * one stateful operator on this plan, so the batch pipeline's two
    * stateful steps (ADC cap, then top-k after hydration) fuse into ONE
    * bounded aggregation ([[graft.functions.CapRerank]]):
    *
    *   - per-query top-nprobe cells as an EXPRESSION over the centroid
    *     literals (metadata-scale, (cscore desc, centroid_id asc) — the
    *     probePairs order), so no stream-side pre-aggregation exists;
    *   - stream-static equi-join of the probe rows against the CODES
    *     table on centroid_id — the corpus-sized side stays partitioned;
    *     each candidate costs the codebook-literal ADC expression;
    *   - exact score computed per candidate BEFORE the aggregation
    *     (stream-static join to the chunk store for the normalized
    *     vector), then the fused cap+rerank aggregator keeps
    *     Oversample*k rows by (dist_u asc, chunk_id asc) and finishes
    *     (score desc, chunk_id asc) top-k — bit-identical order to
    *     `annJoin`'s cap -> hydrate -> rerank on the same candidates,
    *     with per-query state bounded at Oversample*k rows forever.
    *
    * The trade vs batch: candidates are hydrated/scored pre-cap (one
    * extra cosine per candidate) to stay inside the single stateful
    * operator; the probe join still prunes the scan to ~nprobe/K of the
    * corpus. Zero-vector and dim-mismatched queries contribute no rows.
    * query_id uniqueness is the caller's contract (a stream cannot be
    * eagerly validated). Returns (query_id, hits: array<struct<score,
    * chunk_id>>) — run with Update output mode; explode after the sink.
    */
  def annJoinStream(libIdOrAlias: String, queries: DataFrame, k: Int,
      metric: String = "cosine"): DataFrame = {
    val ctx = libCtx(resolveLibrary(libIdOrAlias))
    requireTopK(k, metric)
    ctx.family match {
      case r: ResidualFamily => r.stream(ctx, queries, k, metric)
      case _ => throw new ValidationError(
        s"annJoinStream probes the ivfpq/ivfsq8 index tables; library is '${ctx.spelling}'")
    }
  }

  /** CURATION VERB over the library's versioned chunk store (the
    * "ingest -> curate -> packed sequences as a derived table" pipeline,
    * run where the data lives): the same five-stage DAG as the query-side
    * capstone `d_pipeline_e2e` — exact dedup (md5-canonical), minhash-CC
    * near-dup dedup, benchmark decontamination, Gopher repetition quality
    * — composed as flag columns over ONE chunk scan, with the survivors
    * packed into fixed-budget training sequences and written to the
    * `curated_sequences` derived table via the store's
    * PARTITION-SELECTIVE write (other libraries' partitions are
    * hardlinked, not rewritten). Returns the one-row per-stage accounting
    * in the capstone's shape.
    *
    * Every stage predicate comes from [[graft.curation.CurationCore]], so
    * a library ingested from the documents table produces bit-identical
    * counts to `d_pipeline_e2e` on the same corpus (CurateSpec asserts
    * it). `benchChunkIds` is the benchmark member set (metadata-scale —
    * benchmarks are small; it ships as an isin literal): members never
    * survive, and corpus chunks sharing any distinct 5-gram with a member
    * are dropped as contaminated. Empty = skip decontamination.
    *
    * The packing prefix sum is the two-phase distributed shape: cumsum
    * within ranges keyed by a sampled RANGE-PARTITION id (monotone in
    * chunk id, so range order is compatible with the global chunk-id
    * packing order), plus an exclusive driver-side prefix over the range
    * totals. The range count is the partition count of the checkpointed
    * flag frame, capped at [[VectorEngine.PackRangeCount]]. That frame
    * ends in a join, so the count follows the session's
    * `spark.sql.shuffle.partitions` (after AQE coalescing), not the
    * corpus size. Global state is at most the cap in longs at any corpus
    * size, and a session with few shuffle partitions runs only that many
    * range tasks. The packing does not depend on the count: offsets are
    * the running sum in chunk-id order whatever the range boundaries
    * (CurateSpec pins 1 and 7 ranges equal).
    *
    * `mixture` / `dsirTarget` (VERDICT r6 #4) extend the DAG with the two
    * corpus-assembly stages: temperature-scaled mixture sampling
    * (content-addressed ppm thresholds over the chunk's source =
    * metadata.source_uri, [[CurationCore.mixtureKeepOf]]) and DSIR
    * importance selection against the named target source
    * ([[CurationCore.dsirScoresOf]], keep iff log-ratio sum > 0). Enabled
    * stages add `n_mixture` / `n_dsir` to the stats row and join the
    * survivor conjunction; defaults preserve the five-stage shape
    * bit-for-bit. The 7-stage counts equal `d_pipeline_full` on the same
    * corpus (CurateSpec).
    */
  def curateLibrary(libId: String, benchChunkIds: Seq[String] = Nil,
      packBudget: Int = 512, mixture: Boolean = false,
      dsirTarget: Option[String] = None,
      stripSpanScales: Seq[Int] = Nil,
      stripSubstrings: Boolean = false): DataFrame =
    curateLibraryImpl(libId, benchChunkIds, packBudget, mixture, dsirTarget,
      stripSpanScales, stripSubstrings, sharedFlags = None)

  /** The names + id-keep frames of the FILTER stages for one stage
    * config — the text-only half of the curation DAG (exact/cluster/
    * clean/quality plus the opt-in assembly stages). These depend only
    * on the chunk text, never on the pass's transform tier, so
    * [[curatePasses]] computes them once per distinct stage config and
    * shares the flag frame across passes.
    */
  private def curateStageNames(mixture: Boolean,
      dsirTarget: Option[String]): Seq[String] =
    Seq("f_exact", "f_cluster", "f_clean", "f_quality") ++
      (if (mixture) Seq("f_mixture") else Nil) ++
      dsirTarget.map(_ => "f_dsir").toSeq

  /** The named keep frames (id lists) for one stage config. */
  private def curateStages(libId: String, benchChunkIds: Seq[String],
      mixture: Boolean, dsirTarget: Option[String]): Seq[(String, DataFrame)] = {
    import graft.curation.CurationCore
    import graft.functions.TextFunctions.{tokens, shingles}
    val base = chunks.filter(col("library_id") === libId)
      .select(col("id"), col("text"))
    val wExact = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val exactKeep = base.select(col("id"), md5(col("text")).as("h"))
      .withColumn("canon", min(col("id")).over(wExact))
      .filter(col("id") === col("canon")).select("id")
    val pairs = CurationCore.candidatePairsOf(
      CurationCore.bandRowsOf(base, "id"), "id")
    val clusterKeep = CurationCore
      .connectedComponents(base.select(col("id")), pairs, "id")
      .filter(col("id") === col("cluster_id")).select("id")
    val cleanKeep =
      if (benchChunkIds.isEmpty) base.select(col("id"))
      else {
        val isBench = col("id").isInCollection(benchChunkIds)
        val grams = base.select(col("id"), tokens(col("text")).as("tk"))
          .select(col("id"),
            explode(array_distinct(shingles(col("tk"), 5))).as("g"))
        val bench = grams.filter(isBench)
          .select(col("g"), col("id").as("bench_id")).distinct()
        val contaminated = grams.filter(!isBench)
          .join(broadcast(bench), Seq("g"))
          .select(col("id")).distinct()
        base.filter(!isBench).select(col("id"))
          .join(contaminated, Seq("id"), "left_anti")
      }
    val qualityKeep = CurationCore.repetitionStatsOf(base, "id")
      .filter(col("keep")).select("id")
    // corpus-assembly stages (opt-in): source = metadata.source_uri
    lazy val baseSrc = chunks.filter(col("library_id") === libId)
      .select(col("id"), col("text"),
        coalesce(col("metadata.source_uri"), lit("unknown")).as("source"))
    val stages: Seq[(String, DataFrame)] = Seq(
      "f_exact" -> exactKeep, "f_cluster" -> clusterKeep,
      "f_clean" -> cleanKeep, "f_quality" -> qualityKeep) ++
      (if (mixture) Seq("f_mixture" -> CurationCore.mixtureKeepOf(baseSrc, "id"))
       else Nil) ++
      dsirTarget.map(t => "f_dsir" -> CurationCore.dsirScoresOf(baseSrc, "id", t)
        .filter(col("s9") > 0).select("id")).toSeq
    stages
  }

  /** One row per library chunk: (id, f_exact, f_cluster, ... ) with 1 for
    * a kept id and null otherwise — the flag frame [[curatePasses]]
    * checkpoints once per stage config and shares across passes.
    */
  private def curateKeepFlags(libId: String, benchChunkIds: Seq[String],
      mixture: Boolean, dsirTarget: Option[String]): DataFrame =
    curateStages(libId, benchChunkIds, mixture, dsirTarget)
      .foldLeft(chunks.filter(col("library_id") === libId).select(col("id"))) {
        case (acc, (name, keep)) =>
          acc.join(keep.withColumn(name, lit(1)), Seq("id"), "left_outer")
      }

  private def curateLibraryImpl(libId: String, benchChunkIds: Seq[String],
      packBudget: Int, mixture: Boolean,
      dsirTarget: Option[String],
      stripSpanScales: Seq[Int],
      stripSubstrings: Boolean,
      sharedFlags: Option[DataFrame]): DataFrame = {
    getLibrary(libId)
    if (packBudget <= 0)
      throw new ValidationError(s"packBudget out of range: $packBudget")
    // the transform tiers REWRITE text (token budgets change), so one per
    // pass: composing them from independent per-tier counts would
    // double-count overlapping strips — run two passes to compose
    if (stripSpanScales.nonEmpty && stripSubstrings)
      throw new ValidationError(
        "curateLibrary takes at most one transform tier per pass " +
          "(stripSpanScales or stripSubstrings)")
    if (stripSpanScales.exists(w => w < 2 || w > 4096))
      throw new ValidationError(
        s"stripSpanScales out of range: ${stripSpanScales.mkString(", ")}")
    import graft.curation.CurationCore
    import graft.functions.TextFunctions.tokens
    val base = chunks.filter(col("library_id") === libId)
      .select(col("id"), col("text"))
    val stageNames = curateStageNames(mixture, dsirTarget)

    // TRANSFORM tier (optional, at most one — VERDICT r13 #6): the
    // span/substring strip passes rewrite each chunk's token budget to
    // its KEPT count, computed over the FULL library corpus (the hot
    // sets are corpus-wide, exactly like the standalone d_span_strip /
    // d_substring_strip entries — ONE shared implementation each, so
    // CurateSpec pins the two surfaces equal). n_tok below then carries
    // the post-strip budget into the packing and the stats row.
    val strippedTok: Option[DataFrame] =
      if (stripSpanScales.nonEmpty)
        Some(CurationCore.spanStripCountsOf(base, "id", stripSpanScales)
          .select(col("id"), col("n_kept").cast("long").as("kept_tok")))
      else if (stripSubstrings)
        // shards = DOCUMENTS: a doc's chunks in (position, id) order form
        // its token stream — the engine-natural analog of the query
        // entry's synthetic long-doc shards
        Some(CurationCore.substringStripCountsOf(
            chunks.filter(col("library_id") === libId)
              .select(col("id"), col("text"), col("document_id"),
                col("position")),
            "document_id", "id", Seq(col("position"), col("id")),
            VectorEngine.StripSubL, VectorEngine.StripSubC)
          .select(col("id"), col("n_kept").as("kept_tok")))
      else None

    // materialized once: the range totals, the packed rows, and the stats
    // row all consume it (released at suite end via the Caches registry)
    val rawTok = base
      .select(col("id"), size(tokens(col("text"))).cast("long").as("raw_tok"))
    val tokBase = strippedTok.fold(
        rawTok.select(col("id"), col("raw_tok"),
          col("raw_tok").as("n_tok"))) { st =>
      rawTok.join(st, Seq("id"), "left_outer")
        .select(col("id"), col("raw_tok"),
          coalesce(col("kept_tok"), col("raw_tok")).as("n_tok"))
    }
    // keep-flag columns: shared across passes when the caller precomputed
    // them (curatePasses — the stages are text-only, identical per pass;
    // joining the flag frame onto tokBase by id lands the same rows as
    // the direct fold, both frames carrying each chunk id exactly once);
    // a standalone call keeps the original tokBase-rooted foldLeft —
    // no extra join.
    val flagged = graft.Caches.track(sharedFlags.fold(
      curateStages(libId, benchChunkIds, mixture, dsirTarget)
        .foldLeft(tokBase) { case (acc, (name, keep)) =>
          acc.join(keep.withColumn(name, lit(1)), Seq("id"), "left_outer")
        })(f => tokBase.join(f, Seq("id"), "left_outer"))
      .localCheckpoint())
    val surv = stageNames.map(n => coalesce(col(n), lit(0)))
      .reduce(_ * _)

    // pack the survivors: two-phase prefix sum in chunk-id order.
    // Range key = sampled range-partition id (Spark's own RangePartitioner
    // via repartitionByRange), NOT a fixed-length id prefix: the id-prefix
    // rule collected O(distinct prefixes) driver rows, whereas the range
    // boundaries adapt to the actual id distribution, and range-partition
    // order is monotone in id, so range order stays compatible with the
    // global chunk-id packing order. The range COUNT is the partition
    // count Spark gave `flagged` (a checkpointed frame, so reading it runs
    // no job), at least 1 and at most `PackRangeCount`. `flagged` ends in
    // a join, so that count is the session's shuffle partition count
    // (AQE-coalesced), not a measure of the corpus. Every range is one
    // task in each of the checkpoint, totals and write jobs, so a fixed
    // 1,024 ran thousands of near-empty tasks on a small corpus, while
    // the cap bounds the totals collect and the offset-map literal in a
    // session that runs more shuffle partitions. The localCheckpoint
    // freezes the sampled boundaries so the totals job and the
    // packed-rows job see the SAME rng assignment (the sampler's seed
    // varies per RDD, so an unmaterialized plan could re-draw different
    // boundaries between the two actions).
    val packRanges = math.min(VectorEngine.PackRangeCount,
      math.max(1, flagged.rdd.getNumPartitions))
    val survivors = graft.Caches.track(
      flagged.filter(surv === lit(1))
        .select(col("id"), col("n_tok"))
        .repartitionByRange(packRanges, col("id"))
        .withColumn("rng", spark_partition_id())
        .localCheckpoint())
    val totals = survivors.groupBy(col("rng"))
      .agg(sum(col("n_tok")).as("tot"))
      .orderBy(col("rng").asc).collect()
    var acc = 0L
    val offMap: Map[Int, Long] = totals.map { r =>
      val o = (r.getInt(0), acc); acc += r.getLong(1); o
    }.toMap
    val packed =
      if (offMap.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          Schemas.curatedSequences)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("rng")).orderBy(col("id"))
        survivors.withColumn("local_cum", sum(col("n_tok")).over(w))
          .select(lit(libId).as("library_id"),
            col("id").as("chunk_id"),
            col("n_tok").as("n_tokens"),
            (col("local_cum") - col("n_tok") +
              element_at(typedLit(offMap), col("rng"))).as("start_off"))
          .withColumn("seq_id",
            floor(col("start_off") / packBudget).cast("long"))
          .withColumn("end_seq",
            floor((col("start_off") + greatest(col("n_tokens"), lit(1)) - 1)
              / packBudget).cast("long"))
          .withColumn("straddles", col("seq_id") =!= col("end_seq"))
      }
    store.writeLibraryPartition("curated_sequences", libId, packed)

    // coalesce every sum: an EMPTY library (curate before ingest) must
    // report zeros, not nulls
    def z(c: Column): Column = coalesce(c, lit(0L))
    val aggs =
      stageNames.map { n =>
        z(sum(coalesce(col(n), lit(0)))).cast("long")
          .as("n_" + n.stripPrefix("f_")) } ++
      Seq(z(sum(surv)).cast("long").as("n_survivors"),
        z(sum(surv * col("n_tok"))).cast("long").as("n_tokens_kept"),
        floor((z(sum(surv * col("n_tok"))) + lit(packBudget - 1)) / lit(packBudget))
          .cast("long").as("n_sequences")) ++
      // corpus-wide strip accounting, present only when a transform tier
      // ran (the default stats schema is unchanged — CurateSpec pins it)
      (if (strippedTok.isDefined)
         Seq(z(sum(col("raw_tok") - col("n_tok"))).cast("long")
           .as("n_tokens_stripped"))
       else Nil)
    flagged.agg(count(lit(1)).cast("long").as("n_total"), aggs: _*)
  }

  /** MULTI-PASS CURATION DRIVER (VERDICT r14 #7): the transform tiers
    * REWRITE token budgets, so [[curateLibrary]] deliberately takes at
    * most one per pass — the full strip ladder ("span-strip, THEN
    * substring-strip") was two manual verb calls with no combined
    * accounting. This composes them: each pass runs the whole curation
    * DAG with its own tier/stage config, the packed `curated_sequences`
    * table is snapshot-VERSIONED per pass (pass N's packing remains
    * time-travel readable after pass N+1 supersedes it — the store's
    * normal snapshot discipline), and the returned frame carries one
    * stats row PER PASS tagged with `pass_id` and the sequences-table
    * version that pass wrote. Bit-equal to running the verbs manually
    * in sequence (CurateSpec pins the trajectory); stats columns a pass
    * does not produce (e.g. `n_tokens_stripped` on a tier-less pass)
    * read null in its row.
    */
  def curatePasses(libId: String, passes: Seq[CuratePass]): DataFrame = {
    if (passes.isEmpty)
      throw new ValidationError("curatePasses needs at least one pass")
    // The FILTER stages are text-only (the transform tiers rewrite token
    // BUDGETS, never the chunk text), so their keep flags are identical
    // for every pass with the same stage config — compute them once per
    // distinct (benchChunkIds, mixture, dsirTarget) and share the
    // checkpointed flag frame across passes (optimization r16: pass 2 of
    // the strip ladder re-ran the bands + CC + contamination + quality
    // pipelines for bit-identical flags).
    val sharedFlags = scala.collection.mutable.Map
      .empty[(Seq[String], Boolean, Option[String]), DataFrame]
    val rows = passes.zipWithIndex.map { case (p, i) =>
      val flags = sharedFlags.getOrElseUpdate(
        (p.benchChunkIds, p.mixture, p.dsirTarget),
        graft.Caches.track(curateKeepFlags(libId, p.benchChunkIds,
          p.mixture, p.dsirTarget).localCheckpoint()))
      val stats = curateLibraryImpl(libId, p.benchChunkIds, p.packBudget,
        p.mixture, p.dsirTarget, p.stripSpanScales, p.stripSubstrings,
        sharedFlags = Some(flags))
      stats
        .withColumn("pass_id", lit(i.toLong))
        .withColumn("sequences_version",
          lit(store.currentVersion("curated_sequences").getOrElse(0L)))
    }
    rows.reduce(_.unionByName(_, allowMissingColumns = true))
      .orderBy(col("pass_id").asc)
  }

  /** The curated-sequences derived table for a library (empty schema'd
    * frame when `curateLibrary` has not run).
    */
  def curatedSequences(libId: String): DataFrame =
    if (!store.exists("curated_sequences"))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        Schemas.curatedSequences)
    else store.read("curated_sequences", Schemas.curatedSequences)
      .filter(col("library_id") === libId)

  /** CDC STORAGE DEDUP — the storage twin of [[curateLibrary]]: curation
    * closes the dedup SIGNAL into a keep/drop decision; this verb closes
    * it into the STORE. Each chunk's text is content-defined-chunked by
    * the ONE shared chunker ([[graft.curation.CurationCore
    * .cdcChunksOfTokens]] — the same boundary rule `d_cdc_dedup` and the
    * streaming front door use) and the library's text is rewritten as two
    * derived tables:
    *
    *   - `cdc_blobs(library_id, chash, ctext)` — each distinct passage ONCE
    *   - `cdc_manifest(library_id, chunk_id, seq, chash)` — the per-chunk
    *     ordered recipe
    *
    * Passages are cut over a RAW single-space split (`split(text, " ")`,
    * EMPTIES PRESERVED — not the analysis tokenizer, which collapses
    * whitespace): split-then-join-with-' ' is an exact inverse for ANY
    * text, so [[dedupedChunkText]] reassembles every chunk
    * byte-identically (spec-asserted per chunk) while a passage shared by
    * any number of chunks/documents is stored once. The reference stores
    * every copy of every chunk (`repos/chunks.py`); at 100 TB the
    * boilerplate `d_cdc_dedup` measures is exactly the bytes this
    * removes.
    *
    * 100 TB shape: one chunk-parallel token explode + one chunk-bounded
    * running-sum window + one (chunk, passage) agg (the cdcChunksOf
    * shape), one distinct-by-chash agg for blobs — no pairwise anything;
    * two partition-selective snapshot writes. Returns a 1-row stats
    * frame (n_chunks, n_passages, n_blobs, text_bytes, blob_bytes,
    * saved_bytes); blob_bytes counts stored passage text — the
    * (n_passages − n_chunks) single-space joiners are implicit in the
    * manifest.
    */
  def dedupStorage(libId: String): DataFrame = {
    getLibrary(libId)
    import graft.curation.CurationCore
    val base = chunks.filter(col("library_id") === libId)
      .select(col("id"), col("text"))
    val pieces = graft.Caches.track(
      CurationCore.cdcChunksOfTokens(
        base.select(col("id"), split(col("text"), " ", -1).as("tk")),
        "id", withText = true).localCheckpoint())
    store.writeLibraryPartition("cdc_manifest", libId,
      pieces.select(lit(libId).as("library_id"), col("id").as("chunk_id"),
        col("chunk").cast("long").as("seq"), col("chash")))
    store.writeLibraryPartition("cdc_blobs", libId,
      pieces.select(col("chash"), col("ctext")).dropDuplicates("chash")
        .select(lit(libId).as("library_id"), col("chash"), col("ctext")))
    maybeVacuum()
    def z(c: Column): Column = coalesce(c, lit(0L))
    val tb = base.agg(count(lit(1)).cast("long").as("n_chunks"),
      z(sum(length(col("text")))).cast("long").as("text_bytes"))
    val np = pieces.agg(count(lit(1)).cast("long").as("n_passages"))
    val bb = pieces.dropDuplicates("chash")
      .agg(count(lit(1)).cast("long").as("n_blobs"),
        z(sum(length(col("ctext")))).cast("long").as("blob_bytes"))
    tb.crossJoin(np).crossJoin(bb)
      .select(col("n_chunks"), col("n_passages"), col("n_blobs"),
        col("text_bytes"), col("blob_bytes"),
        (col("text_bytes") - col("blob_bytes")).as("saved_bytes"))
  }

  /** Reconstructed (chunk_id, text) from the deduped storage: manifest
    * recipes joined to their blobs, reassembled in seq order with the
    * single-space joiner the raw split removed — byte-identical to the
    * primary chunk text (the dedupStorage contract; StoreVerbsSpec
    * asserts it per chunk).
    *
    * Snapshot contract: the deduped tables reflect the library AS OF the
    * last [[dedupStorage]] run — chunk mutations after it are visible in
    * the primary table only, exactly like every other derived table
    * (indexes between rebuilds, curated_sequences). Re-run dedupStorage
    * after a mutation batch to refresh.
    */
  def dedupedChunkText(libId: String): DataFrame = {
    val m = store.read("cdc_manifest", Schemas.cdcManifest)
      .filter(col("library_id") === libId)
    val b = store.read("cdc_blobs", Schemas.cdcBlobs)
      .filter(col("library_id") === libId)
    m.join(b, Seq("library_id", "chash"))
      .groupBy(col("chunk_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("seq"), col("ctext")))),
        x => x.getField("ctext")), " ").as("text"))
  }

  /** The search verbs' shared argument check: k in 1..1000, and the
    * metric name validated eagerly (before any plan is built).
    */
  private def requireTopK(k: Int, metric: String): Unit = {
    if (k <= 0 || k > 1000) throw new ValidationError(s"k out of range: $k")
    similarity(metric)(lit(0), lit(0))
  }

  /** The ids passing `filters` when `preFilter` asks candidate generation
    * to be restricted (the documented deviation from quirk Q5); None
    * leaves candidates unrestricted.
    */
  private def allowedIdsOf(libChunks: DataFrame, filters: Option[SearchFilters],
      preFilter: Boolean): Option[DataFrame] =
    if (preFilter && filters.isDefined)
      Some(applyPost(libChunks.withColumnRenamed("id", "chunk_id"), filters)
        .select("chunk_id"))
    else None

  /** One library's index as its [[IndexFamily]] sees it: the catalog
    * row, the library's table partitions, and the engine's memoized cells
    * and graph walks. The effective spelling is resolved on first use by
    * `resolve` (an `auto` library's probe costs jobs), the chunk
    * partition is read once on first use.
    */
  private final class LibCtx(val libId: String, resolve: LibCtx => String)
      extends IndexContext {
    private val lib = getLibrary(libId)
    val dim: Int = lib._1
    val config: IndexConfig = lib._2
    lazy val spelling: String = resolve(this)
    lazy val family: IndexFamily = IndexFamily.of(spelling)
    lazy val chunks: DataFrame =
      VectorEngine.this.chunks.filter(col("library_id") === libId)
    def spark: SparkSession = VectorEngine.this.spark
    def lshSeed: Long = VectorEngine.this.lshSeed
    def exists(table: String): Boolean = store.exists(table)
    def part(table: String): DataFrame = libPart(table, libId)
    def write(table: String, df: DataFrame): Unit =
      store.writeLibraryPartition(table, libId, df)
    def append(table: String, df: DataFrame): Unit =
      store.appendLibraryPartition(table, libId, df)
    def built(tables: String*): Option[Seq[DataFrame]] =
      if (!tables.forall(store.exists)) None
      else Some(tables.map(part)).filterNot(_.exists(_.isEmpty))
    def centroidArr: Option[IndexedSeq[(Int, Array[Float])]] =
      VectorEngine.this.centroidArr(libId)
    def probe(qn: Array[Float]): Array[(Int, Array[Float])] =
      probeCells(libId, qn, math.max(1, config.ivfNprobe))
    def graphWalk(beamW: Int, queries: Seq[(Long, Array[Float])], hnsw: Boolean,
        allowed: Option[DataFrame]): Seq[(Long, Seq[String])] =
      VectorEngine.this.graphWalk(libId, config, beamW, queries, hnsw, allowed)
    def frontierWalk(b: Batch, beamW: Int, hnsw: Boolean): (DataFrame, DataFrame) =
      VectorEngine.this.frontierWalk(libId, config, b, beamW, hnsw)
    def localFinish(nq: Long): Boolean =
      nq <= LocalAnnJoinCap && centroidArr.isDefined
  }

  /** The library's index context under its effective spelling. */
  private def libCtx(libId: String): LibCtx =
    new LibCtx(libId, c => effectiveIndexType(libId, c.config))

  /** Flat scoring: raw stored vectors (quirk Q1). */
  private def flatScore(libChunks: DataFrame, query: Array[Float],
      metric: String): DataFrame =
    libChunks.filter(col("embedding").isNotNull)
      .select(col("id").as("chunk_id"),
        similarity(metric)(col("embedding"), typedLit(query.toSeq)).as("score"))

  /** A score with -0.0 read as 0.0, so driver-side (s desc, id asc)
    * sorts match SQL/Spark ordering, where the two compare equal.
    */
  private def norm0(s: Double): Double = if (s == 0.0) 0.0 else s

  /** The global max-level entry node (id + stored normalized vector),
    * memoized per library: top-1 by (md5 level desc, chunk_id asc) over
    * the live postings — one column-pruned TakeOrdered on first use,
    * zero jobs after. None when the postings are empty.
    */
  private def hnswEntryNode(libId: String,
      posts: DataFrame): Option[(String, Array[Float])] = {
    val m = indexMeta(libId)
    m.hnswEntry.getOrElse {
      val rows = posts
        .select(col("chunk_id"), col("embedding_norm"),
          graft.index.HnswIndex.levelExpr(col("chunk_id")).as("lvl"))
        .orderBy(col("lvl").desc, col("chunk_id").asc)
        .limit(1).collect()
      val e = rows.headOption.map(r =>
        (r.getString(0), r.getSeq[Float](1).toArray))
      m.hnswEntry = Some(e)
      e
    }
  }

  /** The library's present upper layers, descending — memoized (one thin
    * distinct agg on first use; changes only with corpus churn).
    */
  private def hnswLayerList(libId: String): Seq[Int] = {
    val m = indexMeta(libId)
    m.hnswLayers.getOrElse {
      val ls: Seq[Int] =
        if (!store.exists("hnsw_edges")) Nil
        else hnswEdges(libId).select(col("layer")).distinct()
          .collect().map(_.getInt(0)).sorted(Ordering[Int].reverse).toIndexedSeq
      m.hnswLayers = Some(ls)
      ls
    }
  }

  /** Driver-side twin of [[dotProduct]] (VecDot): the same sequential
    * double accumulation in index order, so a cached-vector score is
    * bit-identical to the expression's.
    */
  private def dotDriver(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  // ---- bounded cursor-cache fetches (optimization r16) -----------------
  // Each helper serves a batch of keys, reading ONLY the uncached ones in
  // one pushed-isin job (ids with no rows cache as empty/None so misses
  // never re-read), and retains rows only while the per-library cache is
  // under WalkCacheCap. The cached payloads are raw index/posting rows —
  // query-independent state a serving node keeps in its block cache —
  // never scores or per-query results.

  /** Shared body of the two adjacency fetches: one COMBINED job reads the
    * missing src ids' edge rows LEFT-joined onto the postings, so one
    * round-trip fills both the adjacency lists and the dst vectors (the
    * exact row set the old per-round join read); a dst with no live
    * posting row caches a None vector and drops out of scoring exactly as
    * the old inner join dropped it.
    */
  private def fetchAdjInto(libId: String, edgeRows: DataFrame,
      missing: Seq[String]): Map[String, IndexedSeq[String]] = {
    val m = indexMeta(libId)
    val rows = edgeRows
      .join(ivfPostings(libId)
          .select(col("chunk_id").as("dst_id"), col("embedding_norm")),
        Seq("dst_id"), "left_outer")
      .select(col("src_id"), col("dst_id"), col("embedding_norm"))
      .collect()
    rows.foreach { r =>
      if (m.vecs.size < WalkCacheCap && !m.vecs.contains(r.getString(1)))
        m.vecs.update(r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getSeq[Float](2).toArray))
    }
    val grouped = rows.groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getString(1)).toIndexedSeq }
    missing.map(s => s -> grouped.getOrElse(s, IndexedSeq.empty)).toMap
  }

  /** One-job whole-table warm load of the layer-0 adjacency: when the
    * edge table fits WalkCacheCap rows, cache EVERY adjacency list so a
    * map miss becomes a definitive "no edges" and every later walk round
    * costs zero jobs. Over-cap tables mark themselves and keep the
    * per-cursor fetches.
    */
  private def warmAdj(libId: String): Boolean = {
    val m = indexMeta(libId)
    m.adjWarm.getOrElse {
      val rows = nswEdges(libId).select(col("src_id"), col("dst_id"))
        .limit(WalkCacheCap + 1).collect()
      val ok = rows.length <= WalkCacheCap
      if (ok) rows.groupBy(_.getString(0)).foreach { case (s, rs) =>
        m.adj.update(s, rs.map(_.getString(1)).toIndexedSeq)
      }
      m.adjWarm = Some(ok); ok
    }
  }

  /** Whole-hierarchy twin of [[warmAdj]] for hnsw_edges (all layers in
    * the one load — the hierarchy is geometrically smaller than layer 0).
    */
  private def warmLayerAdj(libId: String): Boolean = {
    val m = indexMeta(libId)
    m.layerAdjWarm.getOrElse {
      val rows = hnswEdges(libId)
        .select(col("layer"), col("src_id"), col("dst_id"))
        .limit(WalkCacheCap + 1).collect()
      val ok = rows.length <= WalkCacheCap
      if (ok) rows.groupBy(r => (r.getInt(0), r.getString(1)))
        .foreach { case (k, rs) =>
          m.layerAdj.update(k, rs.map(_.getString(2)).toIndexedSeq)
        }
      m.layerAdjWarm = Some(ok); ok
    }
  }

  /** Whole-table warm load of the posting vectors (same cap discipline). */
  private def warmVecs(libId: String): Boolean = {
    val m = indexMeta(libId)
    m.vecsWarm.getOrElse {
      val rows = ivfPostings(libId)
        .select(col("chunk_id"), col("embedding_norm"))
        .limit(WalkCacheCap + 1).collect()
      val ok = rows.length <= WalkCacheCap
      if (ok) rows.foreach { r =>
        m.vecs.update(r.getString(0), Some(r.getSeq[Float](1).toArray))
      }
      m.vecsWarm = Some(ok); ok
    }
  }

  /** Layer-0 adjacency lists for `srcs` (nsw_edges). */
  private def adjOf(libId: String,
      srcs: Seq[String]): Map[String, IndexedSeq[String]] = {
    val m = indexMeta(libId)
    var missing = srcs.filterNot(m.adj.contains).distinct
    if (missing.nonEmpty && warmAdj(libId))
      missing = Nil // whole table cached: a residual miss has no edges
    if (missing.nonEmpty) {
      val fetched = fetchAdjInto(libId,
        nswEdges(libId).filter(col("src_id").isin(missing: _*))
          .select(col("src_id"), col("dst_id")),
        missing)
      missing.foreach { s =>
        if (m.adj.size < WalkCacheCap) m.adj.update(s, fetched(s))
      }
      return srcs.map(s => s -> m.adj.getOrElse(s, fetched(s))).toMap
    }
    srcs.map(s => s -> m.adj.getOrElse(s, IndexedSeq.empty)).toMap
  }

  /** Upper-layer adjacency lists for `srcs` at `layer` (hnsw_edges). */
  private def layerAdjOf(libId: String, layer: Int,
      srcs: Seq[String]): Map[String, IndexedSeq[String]] = {
    val m = indexMeta(libId)
    var missing = srcs.filterNot(s => m.layerAdj.contains((layer, s))).distinct
    if (missing.nonEmpty && warmLayerAdj(libId))
      missing = Nil // whole hierarchy cached
    if (missing.nonEmpty) {
      val fetched = fetchAdjInto(libId,
        hnswEdges(libId)
          .filter(col("layer") === layer && col("src_id").isin(missing: _*))
          .select(col("src_id"), col("dst_id")),
        missing)
      missing.foreach { s =>
        if (m.layerAdj.size < WalkCacheCap)
          m.layerAdj.update((layer, s), fetched(s))
      }
      return srcs.map(s =>
        s -> m.layerAdj.getOrElse((layer, s), fetched(s))).toMap
    }
    srcs.map(s => s -> m.layerAdj.getOrElse((layer, s), IndexedSeq.empty)).toMap
  }

  /** Stored float-normalized vectors for `ids` (ivf_postings); None for an
    * id with no live posting row — such ids drop out of scoring exactly as
    * the posts equi-join dropped them.
    */
  private def vecsOf(libId: String,
      ids: Seq[String]): Map[String, Option[Array[Float]]] = {
    val m = indexMeta(libId)
    var missing = ids.filterNot(m.vecs.contains).distinct
    if (missing.nonEmpty && warmVecs(libId))
      missing = Nil // whole table cached: a residual miss has no posting
    if (missing.nonEmpty) {
      val fetched = ivfPostings(libId)
        .filter(col("chunk_id").isin(missing: _*))
        .select(col("chunk_id"), col("embedding_norm"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Float](1).toArray)
        .toMap
      missing.foreach { id =>
        if (m.vecs.size < WalkCacheCap)
          m.vecs.update(id, fetched.get(id))
      }
      return ids.map(id => id -> m.vecs.getOrElse(id, fetched.get(id))).toMap
    }
    ids.map(id => id -> m.vecs.getOrElse(id, None)).toMap
  }

  /** The member ids of one coarse cell (their vectors land in the vecs
    * cache by the same read). None when the cell exceeds WalkCacheCap —
    * callers keep the distributed seed TakeOrdered, so a giant cell is
    * never collected.
    */
  private def cellMembers(libId: String, cell: Int): Option[IndexedSeq[String]] = {
    val m = indexMeta(libId)
    m.cellPosts.getOrElseUpdate(cell, {
      val rows = ivfPostings(libId)
        .filter(col("centroid_id") === cell)
        .select(col("chunk_id"), col("embedding_norm"))
        .limit(WalkCacheCap + 1)
        .collect()
      if (rows.length > WalkCacheCap) None
      else {
        rows.foreach { r =>
          if (m.vecs.size < WalkCacheCap)
            m.vecs.update(r.getString(0), Some(r.getSeq[Float](1).toArray))
        }
        Some(rows.map(_.getString(0)).toIndexedSeq)
      }
    })
  }

  /** The (centroid_id asc)-sorted centroid vectors, memoized; None when
    * the library has more than WalkCacheCap centroids (callers keep the
    * distributed TakeOrdered probe).
    */
  private def centroidArr(libId: String): Option[IndexedSeq[(Int, Array[Float])]] = {
    val m = indexMeta(libId)
    m.centroids.getOrElse {
      val arr: Option[IndexedSeq[(Int, Array[Float])]] =
        if (!store.exists("ivf_centroids")) Some(IndexedSeq.empty)
        else {
          val rows = ivfCentroids(libId)
            .select(col("centroid_id"), col("vector"))
            .limit(WalkCacheCap + 1)
            .collect()
          if (rows.length > WalkCacheCap) None
          else Some(rows.map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
            .sortBy(_._1).toIndexedSeq)
        }
      m.centroids = Some(arr)
      arr
    }
  }

  /** Top-n probe cells (id + centroid vector) for ONE float-normalized
    * query by (dot desc, centroid_id asc) — every single-query family's
    * probe and the graph walks' entry cell. Served by the driver argmax
    * over the cached centroids (bit-identical to the centroid
    * TakeOrdered: dotDriver + the same tie order); a centroid set too
    * large to cache keeps that distributed TakeOrdered. Empty when no
    * centroids are built.
    */
  private def probeCells(libId: String, qn: Array[Float],
      n: Int): Array[(Int, Array[Float])] =
    centroidArr(libId) match {
      case Some(cents) =>
        cents.map { case (cid, v) => (cid, v, dotDriver(v, qn)) }
          .sortBy { case (cid, _, s) => (-s, cid) }
          .take(n).map { case (cid, v, _) => (cid, v) }.toArray
      case None =>
        ivfCentroids(libId)
          .select(col("centroid_id"), col("vector"),
            dotProduct(col("vector"), typedLit(qn.toSeq)).as("cscore"))
          .orderBy(col("cscore").desc, col("centroid_id").asc)
          .limit(n)
          .collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    }

  /** The subset of `ids` present in the allowed set — one id-pushed
    * left-semi probe per call (the walk's per-round filter gate).
    */
  private def allowedSubset(ids: Seq[String], allowed: DataFrame): Set[String] = {
    if (ids.isEmpty) return Set.empty
    import spark.implicits._
    ids.toDF("chunk_id")
      .join(allowed, Seq("chunk_id"), "left_semi")
      .collect().map(_.getString(0)).toSet
  }

  /** THE graph walk of nsw_det / hnsw_det, for a batch of
    * float-normalized queries: `search` calls it with one query, annJoin
    * with an API-sized batch. Per query the protocol is fixed:
    *   - hnsw only, greedy descent: from the global max-level entry node
    *     through the present upper layers, each round moves the cursor to
    *     the best of {cur} ∪ its layer-l neighbours by (s desc, id asc);
    *     a round that does not move is a fixed point, so stopping early
    *     equals the oracle's fixed-round unroll;
    *   - seed pool: the members of the query's entry cell (the top-1
    *     probe) — for hnsw ∪ the descent node and its layer-0 neighbours.
    *     The descent brings a point near the query when the hierarchy is
    *     navigable; the cell bounds the downside when sparse top layers
    *     strand the greedy hop (descent-only seeding scored 0.49 vs the
    *     cell walk's 0.99 on a planted-cluster corpus whose 8-node layer 1
    *     is disconnected), so the layered walk never seeds worse than nsw;
    *   - vis0 = the pool's top-beamW; each of nswRounds rounds scores the
    *     beam's layer-0 neighbours and re-cuts by (s desc, id asc).
    * Scores are the stored float-normalized vectors x the query, by
    * dotDriver (bit-identical to VecDot) and [[norm0]].
    *
    * The queries advance in LOCKSTEP: a round's adjacency lists and
    * vectors for all beams (and a layer's for all descents) are one read
    * through the bounded cursor caches — zero Spark jobs once warm.
    * `allowed` is the PRE-FILTER gate: every id a walk may SCORE (pool
    * and frontier) is checked before the beam cut, one [[allowedSubset]]
    * probe per step over all queries' ids, so a selective filter cannot
    * starve the beam; traversal still follows every edge. A query whose
    * entry cell is past WalkCacheCap is seeded by [[giantCellSeeds]].
    * Returns each query's visited ids — none when the library has no
    * centroids or no hnsw entry node (callers fall back to flat).
    */
  private def graphWalk(libId: String, config: IndexConfig, beamW: Int,
      queries: Seq[(Long, Array[Float])], hnsw: Boolean,
      allowed: Option[DataFrame]): Seq[(Long, Seq[String])] = {
    val unwalked = queries.map { case (qid, _) => (qid, Seq.empty[String]) }
    // the centroid set is query-independent: every query has an entry
    // cell or none does
    val cellOf: Map[Long, Int] = queries.flatMap { case (qid, qn) =>
      probeCells(libId, qn, 1).headOption.map(c => qid -> c._1) }.toMap
    if (cellOf.isEmpty) return unwalked
    val qvec = queries.toMap
    def scored(qid: Long, ids: Iterator[String],
        vs: Map[String, Option[Array[Float]]]): Iterator[(String, Double)] =
      ids.flatMap(id => vs(id).map(v => (id, norm0(dotDriver(v, qvec(qid))))))
    def topBeam(xs: Iterator[(String, Double)]): IndexedSeq[(String, Double)] =
      xs.toIndexedSeq.sortBy { case (id, s) => (-s, id) }.take(beamW)
    // the ids of `ids` the walk may score (all of them without a filter)
    def gate(ids: Seq[String]): String => Boolean =
      allowed.fold[String => Boolean](_ => true)(a => allowedSubset(ids, a))
    var descent: Map[Long, String] = Map.empty
    if (hnsw) {
      val (entId, entNorm) = hnswEntryNode(libId, ivfPostings(libId)) match {
        case Some(e) => e
        case None => return unwalked
      }
      var cur: Map[Long, (String, Double)] = queries.map { case (qid, qn) =>
        qid -> (entId, norm0(dotDriver(entNorm, qn))) }.toMap
      for (l <- hnswLayerList(libId)) {
        var active: Set[Long] = qvec.keySet
        var round = 0
        while (round < config.nswRounds && active.nonEmpty) {
          val adj = layerAdjOf(libId, l,
            active.iterator.map(cur(_)._1).toSeq.distinct)
          val vs = vecsOf(libId,
            active.iterator.flatMap(q => adj(cur(q)._1)).toSeq.distinct)
          active = active.filter { qid =>
            val (c, cs) = cur(qid)
            val best = (Iterator((c, cs)) ++ scored(qid, adj(c).iterator, vs))
              .minBy { case (id, s) => (-s, id) }
            cur += qid -> best
            best._1 != c
          }
          round += 1
        }
      }
      descent = cur.map { case (qid, (id, _)) => qid -> id }
    }
    val descentAdj = adjOf(libId, descent.values.toSeq.distinct)
    // the descent node and its layer-0 neighbours (nothing for nsw)
    def descentIds(qid: Long): IndexedSeq[String] =
      descent.get(qid).fold(IndexedSeq.empty[String])(d => d +: descentAdj(d))
    // each distinct entry cell read once through the bounded cache; None
    // marks a giant cell
    val cells: Map[Int, Option[IndexedSeq[String]]] =
      cellOf.values.toSeq.distinct.map(c => c -> cellMembers(libId, c)).toMap
    val (cached, giant) =
      queries.map(_._1).partition(qid => cells(cellOf(qid)).isDefined)
    val pools: Map[Long, IndexedSeq[String]] = cached.map { qid =>
      qid -> (cells(cellOf(qid)).get ++ descentIds(qid)).distinct }.toMap
    val poolOk = gate(pools.valuesIterator.flatten.toSeq.distinct)
    val seeds = cached.map { qid =>
      val pool = pools(qid).filter(poolOk)
      qid -> topBeam(scored(qid, pool.iterator, vecsOf(libId, pool)))
    }.toMap ++ giantCellSeeds(libId, beamW,
      giant.map(qid => (qid, qvec(qid), cellOf(qid), descentIds(qid))), allowed)
    // lockstep beam walks: per-query visited/beam state, one combined
    // frontier read per round (adjacency lists are per-src, so batching
    // the read never mixes beams); re-scored ids recompute identical
    // values, so the visited update is idempotent (the oracle's UNION)
    val visited = seeds.map { case (qid, top) =>
      qid -> scala.collection.mutable.HashMap(top: _*) }
    var beams: Map[Long, Seq[String]] = seeds.map { case (qid, top) =>
      qid -> top.map(_._1) }
    var round = 0
    while (round < config.nswRounds && beams.valuesIterator.exists(_.nonEmpty)) {
      val adj = adjOf(libId, beams.valuesIterator.flatten.toSeq.distinct)
      val frontier = beams.valuesIterator.flatten.flatMap(adj(_)).toSeq.distinct
      val ok = gate(frontier)
      val vs = vecsOf(libId, frontier.filter(ok))
      beams = beams.map { case (qid, beam) =>
        if (beam.isEmpty) qid -> beam
        else {
          val vm = visited(qid)
          vm ++= scored(qid, beam.iterator.flatMap(adj(_)).distinct.filter(ok), vs)
          qid -> topBeam(vm.iterator).map(_._1)
        }
      }
      round += 1
    }
    queries.map { case (qid, _) => qid -> visited(qid).keys.toSeq }
  }

  /** Seeds for the queries whose entry cell is past WalkCacheCap (a giant
    * cell is never collected), in ONE Spark job per call: one postings
    * scan filtered to the giant cells and the descent ids. A query's pool
    * is its cell's postings plus its hnsw descent ids (none for nsw),
    * routed to it by map literals, gated by `allowed` as the cached pools
    * are and scored by dotProduct; each partition keeps every query's
    * top-beamW by (s desc, chunk_id asc) and the driver merges them — the
    * TakeOrdered cut, per query. Input rows are (query_id, query, cell,
    * descent ids).
    */
  private def giantCellSeeds(libId: String, beamW: Int,
      qs: Seq[(Long, Array[Float], Int, Seq[String])],
      allowed: Option[DataFrame]): Map[Long, IndexedSeq[(String, Double)]] = {
    if (qs.isEmpty) return Map.empty
    import spark.implicits._
    val byCell = qs.groupMap(_._3)(_._1)
    val byId = qs.flatMap { case (qid, _, _, ids) => ids.map(_ -> qid) }
      .groupMap(_._1)(_._2)
    val (cellQs, idQs, none) =
      (typedLit(byCell), typedLit(byId), typedLit(Seq.empty[Long]))
    val qvec = typedLit(qs.map { case (qid, qn, _, _) => qid -> qn.toSeq }.toMap)
    val pool = ivfPostings(libId)
      .filter(col("centroid_id").isin(byCell.keys.toSeq: _*) ||
        col("chunk_id").isin(byId.keys.toSeq: _*))
      .select(col("chunk_id"), col("embedding_norm"), explode(array_union(
        coalesce(cellQs(col("centroid_id")), none),
        coalesce(idQs(col("chunk_id")), none))).as("query_id"))
    val cut = graft.functions.TopKAggregator.topKStr(beamW)
    val tops = allowed.fold(pool)(a => pool.join(a, Seq("chunk_id"), "left_semi"))
      .select(col("query_id"), col("chunk_id"),
        dotProduct(col("embedding_norm"), qvec(col("query_id"))).as("s"))
      .as[(Long, String, Double)]
      .mapPartitions { rows =>
        val bufs = scala.collection.mutable.HashMap.empty[Long, Seq[(Double, String)]]
        rows.foreach(r => bufs(r._1) = cut.reduce(bufs.getOrElse(r._1, cut.zero), r))
        bufs.iterator
      }
      .collect()
      .groupMapReduce(_._1)(_._2)(cut.merge)
    qs.map { case (qid, _, _, _) =>
      qid -> tops.getOrElse(qid, Nil).map { case (s, id) => (id, norm0(s)) }
        .toIndexedSeq
    }.toMap
  }

  /** The distributed twin of [[graphWalk]]'s descent for annJoin: every
    * query's greedy cursor lives in ONE (query_id, chunk_id, s) frame —
    * the global max-level entry node is query-independent (one driver
    * TakeOrdered), each (layer, round) step is one adjacency join + a
    * per-query top-1 window, per-step localCheckpoint truncates the
    * iterative lineage. Returns each query's {cursor} ∪ its layer-0
    * neighborhood as (query_id, chunk_id) seed rows; None when the
    * hierarchy cannot be entered (callers keep the cell pool alone).
    */
  private def hnswDescentSeeds(libId: String, config: IndexConfig,
      qn: DataFrame, posts: DataFrame, edges: DataFrame): Option[DataFrame] = {
    val entryOpt = hnswEntryNode(libId, posts)
    if (entryOpt.isEmpty) return None
    val ent = entryOpt.get._1
    val layers: Seq[Int] = hnswLayerList(libId)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("chunk_id").asc)
    var cur = qn
      .crossJoin(broadcast(posts.filter(col("chunk_id") === ent)
        .select(col("chunk_id"), col("embedding_norm"))))
      .select(col("query_id"), col("chunk_id"),
        dotProduct(col("embedding_norm"), col("qnorm")).as("s"))
      .localCheckpoint()
    for (l <- layers) {
      // EARLY EXIT per layer (VERDICT r14 #3): a round in which no
      // cursor moved is a fixed point for every query (each top-1 over
      // {cur} ∪ neighbors re-scores identically next round), so stopping
      // the layer is result-identical to the fixed-round unroll — the
      // same argument as the single-query walk's `moved` stop. Greedy
      // descent on a 16x-decimated layer typically converges in 2-3
      // hops; the probe is one id-only anti-join over the per-query
      // cursor frames (|queries| rows, both sides localCheckpointed).
      var round = 0
      var moved = true
      while (round < config.nswRounds && moved) {
        val nbrs = hnswEdges(libId).filter(col("layer") === l)
          .join(cur.select(col("query_id"), col("chunk_id").as("src_id")),
            Seq("src_id"))
          .select(col("query_id"), col("dst_id").as("chunk_id"))
          .join(posts.select(col("chunk_id"), col("embedding_norm")),
            Seq("chunk_id"))
          .join(qn, Seq("query_id"))
          .select(col("query_id"), col("chunk_id"),
            dotProduct(col("embedding_norm"), col("qnorm")).as("s"))
        val next = cur.unionAll(nbrs)
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("chunk_id"), col("s"))
          .localCheckpoint()
        moved = !next
          .join(cur.select(col("query_id"), col("chunk_id")),
            Seq("query_id", "chunk_id"), "left_anti")
          .isEmpty
        cur = next
        round += 1
      }
    }
    Some(cur.select(col("query_id"), col("chunk_id"))
      .unionAll(edges
        .join(cur.select(col("query_id"), col("chunk_id").as("src_id")),
          Seq("src_id"))
        .select(col("query_id"), col("dst_id").as("chunk_id"))))
  }

  /** LSH/IVF rerank: normalized stored vectors x UNNORMALIZED query
    * (quirk Q1, `lsh.py:115-117`, `ivf.py:122-128`).
    */
  private def rerank(cands: DataFrame, query: Array[Float], metric: String): DataFrame =
    cands.select(col("chunk_id"),
      similarity(metric)(col("embedding_norm"), typedLit(query.toSeq)).as("score"))

  private def applyPre(df: DataFrame, filters: Option[SearchFilters],
      preFilter: Boolean): DataFrame =
    if (preFilter) applyPost(df, filters) else df

  /** Reference filter semantics (P3-P6, quirk Q8: strict > on created_at,
    * ANY-overlap on tags).
    */
  private def applyPost(df: DataFrame, filters: Option[SearchFilters]): DataFrame =
    filters.fold(df) { f =>
      var out = df
      if (f.docIds.nonEmpty) out = out.filter(col("document_id").isin(f.docIds: _*))
      if (f.tags.nonEmpty)
        out = out.filter(arrays_overlap(col("metadata.tags"),
          typedLit(f.tags)))
      f.author.foreach(a => out = out.filter(col("metadata.author") === a))
      f.createdAfter.foreach(ts => out = out.filter(col("created_at") > lit(ts)))
      out
    }

  // ---- shared helpers -------------------------------------------------

  /** Index-config bounds (reference `models/indexing.py:6-13` + DTO
    * bounds `api/dto.py:34-41`): LSH tables/hyperplanes 1..64 (signatures
    * are packed into a 63-bit long), IVF centroids 1..65536, nprobe
    * 1..1024.
    */
  private def validateConfig(config: IndexConfig): Unit = {
    if (config.indexType != "auto") IndexFamily.of(config.indexType)
    def bound(v: Int, lo: Int, hi: Int, name: String): Unit =
      if (v < lo || v > hi)
        throw new ValidationError(s"$name out of range [$lo,$hi]: $v")
    bound(config.lshNumTables, 1, 64, "lsh_num_tables")
    bound(config.lshHyperplanesPerTable, 1, 64, "lsh_hyperplanes_per_table")
    bound(config.ivfNumCentroids, 1, 65536, "ivf_num_centroids")
    bound(config.ivfNprobe, 1, 1024, "ivf_nprobe")
    bound(config.pqSubspaces, 1, 64, "pq_subspaces")
    bound(config.pqCodewords, 1, 256, "pq_codewords") // codes fit one byte
    bound(config.nswDegree, 1, 64, "nsw_degree")
    bound(config.nswBeam, 1, 1024, "nsw_beam")
    // fixed-round walks only: each round is a bounded frontier expansion,
    // so the cap bounds per-query work (and the unrolled oracle's size)
    bound(config.nswRounds, 1, 16, "nsw_rounds")
  }

  /** PQ needs the dim to split evenly into subspaces — every family that
    * owns `pq_codebooks`; checked wherever a config meets a concrete dim
    * (validateConfig alone never sees one).
    */
  private def requirePqDivisible(config: IndexConfig, dim: Int): Unit =
    if (Schemas.storeTable("pq_codebooks").families(config.indexType) &&
        dim % config.pqSubspaces != 0)
      throw new ValidationError(
        s"embedding_dim $dim not divisible by pq_subspaces ${config.pqSubspaces}")

  private def requireDocInLibrary(libId: String, docId: String): Unit =
    docLibCache.get(docId) match {
      case Some(l) if l == libId => ()
      case Some(_) => throw new NotFoundError(s"document $docId in library $libId")
      case None =>
        val n = documents.filter(col("id") === docId &&
          col("library_id") === libId).count()
        if (n == 0) throw new NotFoundError(s"document $docId in library $libId")
        docLibCache(docId) = libId
    }

  /** Incremental index ADD for new/updated chunks (reference
    * `chunk.py:69-73`) through the library's family — for `auto`, the
    * family whose tables are built for this library, resolved before this
    * add invalidates the cached resolution. Each family appends to its
    * tables against the FROZEN build-time state (LSH hashes with the
    * stored planes, the celled families assign to the existing
    * centroids, the quantizers encode against the stored
    * codebooks/ranges: no re-train between rebuilds); flat needs nothing,
    * and a family whose index is not built yet adds nothing.
    */
  private def addToIndexes(libId: String, newChunks: DataFrame): Unit = {
    val ctx = libCtx(libId)
    val fam = ctx.family
    // index-state mutation: the cached family resolution / hnsw walk
    // metadata may be about to change (e.g. the first add after a wipe)
    invalidateIndexMeta(libId)
    fam.add(ctx, newChunks)
  }

  /** Index REMOVE: an anti-join rewrite of this library's partition of
    * each registered row table it holds one in (U3). A row dies with its
    * chunk, and an edge with EITHER endpoint: a dangling dst would
    * hydrate nothing (its posting is gone) but would still cost adjacency
    * reads. Tables the library holds no partition in — other families'
    * tables — are not touched, and other libraries' index rows are
    * linked forward.
    */
  private def removeFromIndexes(libId: String, chunkIds: DataFrame): Unit = {
    invalidateIndexMeta(libId) // deletes can empty a table / shift the entry node
    Schemas.indexTables
      .filter(t => t.rowIdCols.nonEmpty &&
        store.hasLibraryPartition(t.name, libId))
      .foreach { t =>
        val kept = t.rowIdCols.foldLeft(libPart(t.name, libId)) { (df, c) =>
          df.join(chunkIds.select(col("chunk_id").as(c)), Seq(c), "left_anti")
        }
        store.writeLibraryPartition(t.name, libId,
          kept.select(t.schema.fieldNames.toIndexedSeq.map(col): _*))
      }
  }

  /** Remove this library's partition of every index table that family
    * `keep` does not own — all of them for the default, flat (library
    * delete, flat rebuild). A partition drop per table: hardlink-forward,
    * no Spark job, no other library touched.
    */
  private def dropIndexTables(libId: String, keep: String = "flat"): Unit = {
    invalidateIndexMeta(libId)
    Schemas.indexTables.filterNot(_.families(keep))
      .foreach(t => store.dropLibraryPartition(t.name, libId))
  }
}

object VectorEngine {
  /** upsertChunks batch ceiling: past this, the driver-side loop + `isin`
    * literal plan stops being an API verb — callers get pointed at the
    * distributed `bulkIngest` instead.
    */
  val UpsertMaxBatch = 10000

  /** Substring-strip transform parameters — the SAME values the query
    * entry `d_substring_strip` fixes (min duplicated-run length in
    * tokens; gram-construction chunk width), so CurateSpec can pin the
    * two surfaces equal on a shard-matched corpus.
    */
  val StripSubL = 20
  val StripSubC = 1024

  /** CAP on the range count of the `curateLibrary` packing prefix sum.
    * The actual count is the partition count of the curation flag frame,
    * which follows the session's shuffle partition count; the cap keeps
    * the driver-side range-totals collect and the plan's offset-map
    * literal at most this many entries at ANY corpus size (past it the
    * per-range window grows instead, and windows spill).
    */
  val PackRangeCount = 1024
}

/** Audit-driven rebuild decision (see [[VectorEngine.rebuildIfDrifted]]):
  * the audit readout plus whether the drift threshold triggered a
  * rebuild. Errors are exact micro-units; mean is per encoded vector.
  */
case class RebuildDecision(
    family: String,
    n: Long,
    sumErrU: Long,
    maxErrU: Long,
    meanErrU: Double,
    rebuilt: Boolean)

/** Balance-driven rebuild decision (see [[VectorEngine.rebalanceIfSkewed]]):
  * the worst unit share in exact ppm plus whether the skew threshold
  * triggered a rebuild. Units are coarse cells (IVF families) or
  * per-table buckets (LSH).
  */
case class RebalanceDecision(
    family: String,
    nUnits: Long,
    nEntries: Long,
    maxSharePpm: Long,
    rebuilt: Boolean)

/** [[VectorEngine.relinkIfHierarchyThin]] outcome: audited upper-layer
  * count, the thinnest layer and its directed-edges-per-member ratio in
  * exact ppm (-1 / -1 when no upper layer can hold an edge), and whether
  * the thinness threshold triggered the re-link rebuild.
  */
case class HierarchyDecision(
    family: String,
    nLayers: Long,
    thinnestLayer: Int,
    minEdgesPerMemberPpm: Long,
    rebuilt: Boolean)

/** [[VectorEngine.optimizeIfFragmented]] outcome: file count read,
  * threshold, whether the rewrite ran, and the post-rewrite count.
  */
case class LayoutDecision(
    nFiles: Int,
    maxFiles: Int,
    optimized: Boolean,
    nFilesAfter: Int)

/** Per-library stats snapshot (see [[VectorEngine.libraryStats]]):
  * `builtIndex` is the effective `indexType` spelling of the index the
  * library holds (e.g. "hnsw_det" for an hnsw library, the resolved tier
  * for `auto`), None when it holds none.
  */
case class LibraryStats(
    libraryId: String,
    indexType: String,
    nDocuments: Long,
    nChunks: Long,
    nEmbedded: Long,
    builtIndex: Option[String])

/** One [[VectorEngine.curatePasses]] pass — the [[VectorEngine
  * .curateLibrary]] parameter set as a value, so a strip LADDER
  * (span-strip pass, then substring-strip pass) is one declared
  * sequence instead of two manual calls.
  */
case class CuratePass(
    benchChunkIds: Seq[String] = Nil,
    packBudget: Int = 512,
    mixture: Boolean = false,
    dsirTarget: Option[String] = None,
    stripSpanScales: Seq[Int] = Nil,
    stripSubstrings: Boolean = false)

/** Chunk ingest record (the engine's ChunkIn DTO analog, `api/dto.py`). */
case class ChunkIn(
    text: String,
    embedding: Option[Array[Float]] = None,
    position: Int = 0,
    id: Option[String] = None,
    author: Option[String] = None,
    lang: Option[String] = None,
    sourceUri: Option[String] = None,
    tags: Seq[String] = Nil,
    mimeType: Option[String] = None,
    pageNumber: Option[Int] = None,
    tokenCount: Option[Int] = None,
    sha256: Option[String] = None)
