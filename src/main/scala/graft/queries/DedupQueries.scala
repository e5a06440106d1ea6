package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.curation.CurationCore
import graft.functions.TextFunctions._
import graft.queries.Det.{rnd, rndSql}

/** Deduplication suite over `documents` — the four standard near-dup
  * detectors of large-scale corpus curation, each in its 100 TB shape:
  *
  *   - exact:   hash-groupBy (one shuffle on a 32-byte key)
  *   - minhash: shingle -> K minhash sigs -> banded LSH -> bucket
  *              equi-join (candidates only meet inside a bucket; the
  *              cross-product never forms)
  *   - simhash: 60-bit signature per doc (single fold, no shuffle), then
  *              hamming-distance pairs within a blocking key
  *   - jaccard: token-set similarity verified pairwise inside blocks
  *
  * All signatures are md5-based so the DuckDB oracle recomputes them
  * bit-identically (Spark's murmur/xxhash would be engine-private).
  */
object DedupQueries {

  private val K = 8      // minhash signatures
  private val BANDS = 4  // 2 sigs per band

  private def toks = tokens(col("text"))

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  /** Exact dedup: canonical = min doc_id per md5(text). */
  private def exact(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("h"))
    docs(s, d).select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .orderBy(col("doc_id").asc)
  }

  /** Per-doc banded minhash: K=8 sigs over word-3-gram shingles, md5-combined
    * into 4 band keys. Output is the doc->band-bucket assignment table (the
    * left side of the LSH bucket join).
    */
  /** Unsorted doc->band rows (shared by the bands output and the pairs
    * self-join; only the former needs the presentation sort).
    */
  private def bandRows(s: SparkSession, d: String): DataFrame =
    graft.curation.CurationCore.bandRowsOf(docs(s, d), "doc_id")

  /** ONE materialized band table per (session, dataset): three entries
    * (bands, pairs, clusters) consume the identical signature
    * computation — the shingle+minhash scan is the dominant cost, so it
    * runs once and the checkpoint is shared (the engineFixture
    * precedent; all consumers are read-only).
    */
  private val bandsCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), DataFrame]

  /** Maximal duplicated-run frame of the long-doc shard (r11), shared by
    * `d_substring_dedup` and `d_substring_top` — ~10 rows/shard.
    */
  private val subRunsCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), DataFrame]

  /** Double-checked cache fill: the checkpoint JOB runs OUTSIDE the lock
    * (a slow scan must not serialize unrelated callers); on a lost race the
    * loser's blocks are released and the winner is returned.
    */
  /** Forwarder to the shared keyed checkpoint-cache fill ([[graft.Caches
    * .cachedCkpt]] — build outside the lock, double-checked insert).
    */
  private def cachedCkpt[K](cache: scala.collection.mutable.Map[K, DataFrame],
      key: K)(build: => DataFrame): DataFrame =
    graft.Caches.cachedCkpt(cache, key)(build)

  /** Release every process-lifetime checkpoint this object holds (bands +
    * candidate pairs). Long-lived sessions call this between suites so
    * checkpoint blocks don't stay pinned forever; the next query against
    * the same path simply rebuilds (and re-reads the CURRENT data, so a
    * dataset swapped in-place at the same path is also picked up).
    */
  /** Shared distinct word-3-gram hash rows (doc_id, g) — the projection
    * `d_prefix_join`/`d_banding_recall`, `d_ngram_novelty` and
    * `d_greedy_cover` each rebuilt independently (a full corpus
    * tokenize + shingle + md5 pass per entry, ~2s each at sf0.1).
    * Materialized once per (session, dataset) under the bands/pairs
    * fixture-cache discipline (optimization r15).
    */
  private val gramCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), DataFrame]
  private def gramRows(s: SparkSession, d: String): DataFrame =
    cachedCkpt(gramCache, (s, d))(
      docs(s, d).select(col("doc_id"),
        explode(array_distinct(transform(shingles(toks, 3),
          x => hash60(x)))).as("g"))
        .localCheckpoint())

  def releaseCaches(): Unit =
    Seq(bandsCache, pairsCache, prefixCache, subRunsCache,
        cdcChunksCache, gramCache).foreach { c =>
      c.synchronized {
        c.values.foreach(
          org.apache.spark.sql.GraftRddBridge.unpersistLocalCheckpoint)
        c.clear()
      }
    }

  private def bandRowsCkpt(s: SparkSession, d: String): DataFrame =
    cachedCkpt(bandsCache, (s, d))(bandRows(s, d).localCheckpoint())

  /** The persisted-index subdirectories a micro-batch may PROBE: every
    * committed subdir of `idxDir` EXCEPT the batch's own `b<id>`. A
    * foreachBatch retry replays AFTER its own index write committed but
    * BEFORE the streaming checkpoint did (at-least-once window); a
    * whole-dir glob probe would then read the batch's own rows, every doc
    * would band/chunk-match itself, and the "byte-identical rewrite"
    * idempotency guarantee breaks exactly in the window it exists for
    * (ADVICE r12). Listing-minus-own keeps the probe restricted to
    * strictly earlier data on first run AND on replay.
    */
  private def indexDirsExcept(idxDir: String, own: String): Seq[String] =
    scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(idxDir))) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString != own)
        .map(_.toString).toSeq
    }

  private def minhashBands(s: SparkSession, d: String): DataFrame =
    bandRowsCkpt(s, d).orderBy(col("doc_id").asc, col("band_id").asc)

  /** MinHash-LSH candidate pairs: docs sharing any band bucket. The band
    * table is materialized (localCheckpoint, UNSORTED — the pair join
    * doesn't need the bands query's presentation sort) before the
    * self-join so the signature computation runs once, not per join side.
    * Shared by the pairs entry and the cluster-resolution entry.
    */
  private val pairsCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), DataFrame]
  private def candidatePairs(s: SparkSession, d: String): DataFrame =
    cachedCkpt(pairsCache, (s, d)) {
      graft.curation.CurationCore.candidatePairsOf(bandRowsCkpt(s, d), "doc_id")
        .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
        .localCheckpoint() // the bucket self-join runs once, not per entry
    }

  /** Forwarder kept for in-package callers; the implementation lives in
    * [[graft.curation.CurationCore]] (alternating large-star/small-star
    * contraction — see its doc) so the engine's curation verb shares it
    * without an engine -> queries dependency.
    */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      idCol: String, maxRounds: Int = 50,
      localFinishCap: Long = CurationCore.LocalFinishCap): DataFrame =
    graft.curation.CurationCore.connectedComponents(nodes, pairs, idCol,
      maxRounds, localFinishCap)

  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    candidatePairs(s, d).orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Near-dup CLUSTER RESOLUTION — the step a real dedup pipeline runs
    * AFTER pair generation: connected components over the candidate-pair
    * graph, cluster id = min doc_id in the component, one canonical doc
    * kept per cluster. Alternating large-star/small-star contraction
    * (CurationCore.connectedComponents): O(log n) rounds independent of
    * component diameter, lineage truncated per round. The 100 TB shape:
    * no all-pairs, no driver-side graph, per round a shuffle bounded by
    * the dup-graph edge count — with the DuckDB oracle replaying the
    * labeling as a recursive reachability CTE.
    */
  private def dupClusters(s: SparkSession, d: String): DataFrame =
    connectedComponents(docs(s, d).select(col("doc_id")),
        candidatePairs(s, d), "doc_id")
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id").asc)

  /** SOURCE-PRIORITY DUP RESOLUTION — what production pipelines actually
    * do with a dup cluster: keep the copy from the most trusted SOURCE,
    * not the lowest id (curated > web > crawl). Tier = source number mod
    * 3 (a deterministic stand-in for a source-quality map, which at
    * scale is a broadcast dim); the kept doc per cluster is the
    * (tier asc, doc_id asc) first — so the canonical can be a HIGHER id
    * than cluster-min when a better source holds the duplicate. One
    * window over the cluster-labeled rows; shuffle bounded by the doc
    * count, cluster labels reuse the cached CC run.
    */
  private def dupResolve(s: SparkSession, d: String): DataFrame = {
    val tiers = docs(s, d).select(col("doc_id"), col("source"),
      (substring(col("source"), 4, 10).cast("int") % 3).as("tier"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("tier").asc, col("doc_id").asc)
    connectedComponents(docs(s, d).select(col("doc_id")),
        candidatePairs(s, d), "doc_id")
      .join(tiers, Seq("doc_id"))
      .withColumn("canonical_id", first(col("doc_id")).over(w))
      .withColumn("is_kept", col("doc_id") === col("canonical_id"))
      .orderBy(col("doc_id").asc)
  }

  /** INCREMENTAL DEDUP — the INGEST-TIME shape: a new batch (the newest
    * fifth of doc ids — a stand-in for "the increment that just arrived";
    * the threshold is COMPUTED from the data, `max - max/5`, so the batch
    * stays the minority side at every scale factor) checks itself against
    * the already-ingested corpus WITHOUT rescanning it. The corpus side
    * is the persisted band index (here: the cached band table the other
    * dedup entries share); the batch's band rows are BROADCAST to it, so
    * the corpus bands are never shuffled — at 100 TB this is the only
    * viable shape: the dedup index is a table you probe, not a corpus you
    * rescan per batch. (A production increment is bounded by the ingest
    * batch size; past broadcast size the same plan degrades to a shuffle
    * join by dropping the hint.) Each new doc reports its earliest corpus
    * dup, its earliest within-batch dup (smaller-id peer sharing a
    * bucket), and whether it is new-unique; -1 stands in for "none" (no
    * nullable-int columns — pandas would coerce them to float and break
    * the strict hash).
    */
  private def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    // metadata-scale action: one max over the id column
    val maxId = docs(s, d).agg(max(col("doc_id"))).collect().head.getLong(0)
    val split = maxId - maxId / 5
    val bands = bandRowsCkpt(s, d)
    val nb = bands.filter(col("doc_id") >= split)
      .select(col("doc_id").as("new_id"), col("band_id"), col("band_hash"))
    val ob = bands.filter(col("doc_id") < split)
      .select(col("doc_id").as("old_id"), col("band_id"), col("band_hash"))
    val vsCorpus = broadcast(nb).join(ob, Seq("band_id", "band_hash"))
      .groupBy(col("new_id")).agg(min(col("old_id")).as("c"))
    val peers = nb.select(col("new_id").as("peer_id"),
      col("band_id"), col("band_hash"))
    val vsBatch = broadcast(nb).join(peers, Seq("band_id", "band_hash"))
      .filter(col("peer_id") < col("new_id"))
      .groupBy(col("new_id")).agg(min(col("peer_id")).as("c"))
    // result assembly: every side is bounded by the batch, so the
    // aggregated dup maps broadcast onto the batch scan — the whole
    // entry runs without shuffling anything corpus-sized
    docs(s, d).filter(col("doc_id") >= split).select(col("doc_id"))
      .join(broadcast(vsCorpus.withColumnRenamed("new_id", "doc_id")
        .withColumnRenamed("c", "oc")), Seq("doc_id"), "left_outer")
      .join(broadcast(vsBatch.withColumnRenamed("new_id", "doc_id")
        .withColumnRenamed("c", "ic")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("oc"), lit(-1L)).as("dup_of_corpus"),
        coalesce(col("ic"), lit(-1L)).as("dup_in_batch"),
        (col("oc").isNull && col("ic").isNull).as("is_new_unique"))
      .orderBy(col("doc_id").asc)
  }

  /** STREAMING INGEST-TIME DEDUP (VERDICT r6 #3) — [[incrementalDedup]]
    * run AT the ingest front door: the increment arrives as a STREAM of
    * micro-batches (ascending doc_id ranges — arrival order), and each
    * foreachBatch (1) computes its own band rows, (2) probes the
    * PERSISTED band index — corpus bands seeded once, plus the bands of
    * every earlier micro-batch — with a broadcast join, (3) writes its
    * per-doc dedup report, and only THEN (4) appends its bands to the
    * index, so later arrivals see earlier ones without any corpus
    * rescan. Per-micro-batch work is bounded by the batch (broadcast
    * probe into an indexed table + one append); the corpus is scanned
    * exactly once, to seed the index. Because arrival order is ascending
    * by doc_id, "earliest dup among earlier arrivals + smaller-id peers
    * in my own batch" is exactly the batch entry's "earliest smaller-id
    * dup in the increment" — so the streamed report is byte-identical to
    * the batch replay and the oracle is literally `d_incremental`'s SQL.
    * Reference anchor: the upsert choke point `services/chunk.py:76-116`
    * is where the reference would run this check per-request.
    */
  private def streamIngestDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val maxId = docs(s, d).agg(max(col("doc_id"))).collect().head.getLong(0)
    val split = maxId - maxId / 5
    val root = graft.TempDirs.scratch("graft-stream-ingest").toString
    val idxDir = s"$root/band_index"
    val outDir = s"$root/report"
    val srcDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/arrivals"))
    // seed the persisted band index with the already-ingested corpus
    // (its own subdirectory: every later micro-batch writes b<id>, and all
    // readers glob $idxDir/* — see the idempotency note below)
    bandRowsCkpt(s, d).filter(col("doc_id") < split)
      .withColumn("origin", lit("corpus"))
      .write.mode("overwrite").parquet(s"$idxDir/seed")
    // stage the increment as 4 arrival files: ascending doc_id ranges
    // with strictly increasing mtimes AND lexicographic names, so the
    // file source replays them in arrival order, one per micro-batch
    val span = maxId - split + 1
    val step = math.max(1L, span / 4 + (if (span % 4 == 0) 0L else 1L))
    val t0 = java.nio.file.Files.getLastModifiedTime(srcDir).toMillis
    (0 until 4).foreach { i =>
      val lo = split + i * step
      val stage = s"$root/stage$i"
      docs(s, d).filter(col("doc_id") >= lo && col("doc_id") < lo + step)
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      // Using.resource: an unclosed Files.list leaks a driver fd per call
      val part = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(stage))) { st =>
        val found = st.filter(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet")).findFirst()
        require(found.isPresent, s"no parquet part file under $stage")
        found.get()
      }
      val dst = srcDir.resolve(f"batch$i%02d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
    }
    val srcSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    // the 4-batch protocol wants small shuffles (batch-bounded frames):
    // scope the override to a CLONED session — mutating the shared
    // session's conf would leak the setting to any concurrent query on
    // the same SparkSession (ADVICE r11)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val stream = ss.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
    locally {
      val q = stream.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        // IDEMPOTENT per-batch writes (ADVICE r11/r12): foreachBatch is
        // at-least-once, so a retried micro-batch must not duplicate
        // report or index rows — each batch OVERWRITES its own b<id>
        // subdirectory, and the probe reads the listed subdirs MINUS its
        // own (a replay after the index write committed must not
        // band-match every doc against itself), making a retry a
        // byte-identical rewrite instead of an append-twice
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          if (!batch.isEmpty) {
            // bands computed once per micro-batch, probed three ways
            val nb = graft.curation.CurationCore.bandRowsOf(batch, "doc_id")
              .select(col("doc_id").as("new_id"), col("band_id"),
                col("band_hash"))
              .persist()
            try {
              // probe earlier subdirs ONLY (never the batch's own b<id> —
              // present iff this is a replay; see indexDirsExcept)
              val idx = batch.sparkSession.read
                .parquet(indexDirsExcept(idxDir, s"b$bid"): _*).select(
                col("doc_id").as("old_id"), col("band_id"),
                col("band_hash"), col("origin"))
              // one probe join, split by origin: earliest corpus dup vs
              // earliest earlier-arrival dup
              val vsIndex = broadcast(nb).join(idx, Seq("band_id", "band_hash"))
                .groupBy(col("new_id"))
                .agg(min(when(col("origin") === "corpus", col("old_id"))).as("oc"),
                  min(when(col("origin") === "stream", col("old_id"))).as("ie"))
              val peers = nb.select(col("new_id").as("peer_id"),
                col("band_id"), col("band_hash"))
              val vsSelf = broadcast(nb).join(peers, Seq("band_id", "band_hash"))
                .filter(col("peer_id") < col("new_id"))
                .groupBy(col("new_id")).agg(min(col("peer_id")).as("ii"))
              batch.select(col("doc_id"))
                .join(broadcast(vsIndex.withColumnRenamed("new_id", "doc_id")),
                  Seq("doc_id"), "left_outer")
                .join(broadcast(vsSelf.withColumnRenamed("new_id", "doc_id")),
                  Seq("doc_id"), "left_outer")
                .select(col("doc_id"),
                  coalesce(col("oc"), lit(-1L)).as("dup_of_corpus"),
                  // least() skips nulls: earlier-arrival vs own-batch min
                  coalesce(least(col("ie"), col("ii")), lit(-1L))
                    .as("dup_in_batch"),
                  (col("oc").isNull && col("ie").isNull && col("ii").isNull)
                    .as("is_new_unique"))
                .write.mode("overwrite").parquet(s"$outDir/b$bid")
              // probe done — NOW this batch's bands join the index so the
              // next arrival sees them
              nb.select(col("new_id").as("doc_id"), col("band_id"),
                  col("band_hash"))
                .withColumn("origin", lit("stream"))
                .write.mode("overwrite").parquet(s"$idxDir/b$bid")
            } finally { nb.unpersist(); () }
          }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.read.parquet(s"$outDir/*").orderBy(col("doc_id").asc)
  }

  /** Per-doc 60-bit simhash. */
  private def simhash(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), simhash60(toks).as("simhash"))
      .orderBy(col("doc_id").asc)

  /** SimHash near-dup pairs: same-lang blocking, hamming distance <= 6.
    * `lang` has a handful of distinct values, so a shuffle join would put
    * each block on ONE task; instead the signature table is broadcast and
    * the probe side spread round-robin across all cores — pair generation
    * parallelizes by probe row, not by block key. (At corpus scale the
    * same shape holds as long as the per-block signature table fits a
    * broadcast; beyond that, salt the block key.)
    */
  /** Rows above which the signature table stops being broadcast and the
    * pair join switches to the SALTED shuffle path (a 1M-row signature
    * table is ~10s of MB — near the practical broadcast ceiling).
    */
  private[graft] val BroadcastPairRows = 1000000L

  /** Blocked all-pairs join with two scale regimes (VERDICT r2 #5).
    *
    * Broadcast regime (signature table under [[BroadcastPairRows]]): the
    * whole table is broadcast and the probe side spread round-robin — pair
    * generation parallelizes by probe row even though the block key has
    * only a handful of distinct values.
    *
    * Salted regime (beyond the broadcast ceiling): the probe side keeps
    * ONE copy per row keyed by (block, salt = hash(id) % S); the build
    * side replicates each row to ALL S salts. A pair (a, b) meets exactly
    * once — at a's salt — so results are identical to the broadcast plan,
    * but each block now spreads across S reducers instead of one: the
    * shuffle join parallelizes WITHIN a block, which a low-cardinality
    * block key otherwise prevents. Build-side shuffle volume is
    * S x |table| rows — bounded and spillable, unlike a broadcast that
    * must fit in every executor's memory.
    */
  private[graft] def blockedPairJoin(a: DataFrame, b: DataFrame,
      blockKey: String, probeId: String, salted: Boolean,
      parallelism: Int): DataFrame =
    if (!salted)
      a.repartition(parallelism).join(broadcast(b), blockKey)
    else {
      val aSalted = a.withColumn("salt",
        pmod(hash(col(probeId)), lit(parallelism)))
      val bSalted = b.withColumn("salt",
        explode(array((0 until parallelism).map(lit): _*)))
      aSalted.join(bSalted, Seq(blockKey, "salt")).drop("salt")
    }

  private[graft] def simhashPairsImpl(s: SparkSession, d: String,
      forceSalted: Option[Boolean]): DataFrame = {
    val sh = docs(s, d).select(col("doc_id"), col("lang"),
      simhash60(toks).as("simhash"))
      .localCheckpoint() // signature computed once, not per join side
    val salted = forceSalted.getOrElse(sh.count() > BroadcastPairRows)
    val a = sh.select(col("lang"), col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("lang"), col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    blockedPairJoin(a, b, "lang", "doc_a", salted,
        s.sparkContext.defaultParallelism)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 6)
      .select(col("lang"), col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  private def simhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsImpl(s, d, None)

  /** Verified token-set Jaccard pairs within same-lang blocks, >= 0.95.
    * Token sets are 60-bit hashes, not strings: long-array intersection is
    * several times cheaper than string-array intersection over millions of
    * candidate pairs, and the jaccard values are identical (the hash is
    * injective on this vocabulary; the oracle applies the same hash).
    * The hashed sets are materialized once before the self-join.
    */
  private[graft] def jaccardPairsImpl(s: SparkSession, d: String,
      forceSalted: Option[Boolean]): DataFrame = {
    // sorted distinct hash sets: sorting amortizes once per row so the
    // per-PAIR work is an allocation-free codegen merge walk
    val t = docs(s, d).select(col("doc_id"), col("lang"),
      array_sort(array_distinct(transform(toks, tk => hash60(tk)))).as("tset"))
      .localCheckpoint()
    val salted = forceSalted.getOrElse(t.count() > BroadcastPairRows)
    val a = t.select(col("lang"), col("doc_id").as("doc_a"), col("tset").as("ta"))
    val b = t.select(col("lang"), col("doc_id").as("doc_b"), col("tset").as("tb"))
    val inter = graft.functions.SetExpressions
      .sortedIntersectCount(col("ta"), col("tb")).cast("double")
    blockedPairJoin(a, b, "lang", "doc_a", salted,
        s.sparkContext.defaultParallelism)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        rnd(inter / (size(col("ta")) + size(col("tb")) - inter), 6))
      .filter(col("jaccard") >= 0.95)
      .select(col("lang"), col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairsImpl(s, d, None)

  /** BENCHMARK DECONTAMINATION — the eval-hygiene step every serious
    * training-data pipeline runs: a train doc is contaminated if it
    * shares any word-5-gram with a benchmark document (doc_id < 20 plays
    * the benchmark suite here; production uses 8-13-grams over real eval
    * sets). Scale shape: the BENCHMARK gram set is tiny relative to a
    * 100 TB corpus — distinct grams broadcast, the corpus side is one
    * exploded-gram scan map-side-joined against them; the corpus is
    * never shuffled and non-matching grams die in the probe.
    */
  private def contamination(s: SparkSession, d: String): DataFrame = {
    val grams = docs(s, d)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("tk"), 5))).as("g"))
    val bench = grams.filter(col("doc_id") < 20)
      .select(col("g"), col("doc_id").as("bench_id")).distinct()
    val hits = grams.filter(col("doc_id") >= 20)
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).cast("long").as("n_bench_docs"))
    docs(s, d).filter(col("doc_id") >= 20).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"))
      .withColumn("contaminated", col("n_bench_docs") > 0)
      .orderBy(col("doc_id").asc)
  }

  /** STRATIFIED deterministic sampling — the data-MIXING primitive of
    * training-corpus assembly: each language stratum gets its own keep
    * rate (dominant downsampled, rare kept), rates joined in as a tiny
    * broadcast dim, membership decided by md5-hash-mod on the row key.
    * Portable (the oracle draws the identical sample), reproducible on
    * any cluster/partitioning, and resample-stable: adding rows never
    * flips an existing row's membership — the property that lets a 100 TB
    * corpus be re-mixed incrementally. One map-side-combined aggregation;
    * no shuffle beyond |lang| rows.
    */
  private def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rates = Seq(("en", 20), ("zh", 60), ("es", 60), ("de", 60))
      .toDF("lang", "keep_pct")
    docs(s, d)
      .join(broadcast(rates), Seq("lang"), "left_outer")
      .withColumn("keep_pct", coalesce(col("keep_pct"), lit(10)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_total"),
        sum(when(hash60(col("doc_id").cast("string")) % 100 < col("keep_pct"),
          1).otherwise(0)).cast("long").as("n_kept"))
      .orderBy(col("lang").asc)
  }

  /** DETERMINISTIC TRAIN/VAL/TEST SPLIT ASSIGNMENT (98/1/1) — the last
    * bookkeeping step before a corpus ships to training, and the one
    * that must be STABLE under re-runs, appends, and repartitioning:
    * split = hash60("split|" || doc_id) % 100 (<98 train, =98 val, else
    * test), a pure per-row function of the document identity — no RNG
    * state, no global sort, no sampling pass; adding documents never
    * flips an existing assignment (the resample-stability contract the
    * hash-threshold samplers established). Output is the per-(lang,
    * split) audit: counts plus exact-ppm share within the language — the
    * stratification-drift readout reviewers check before a run. One
    * map-side-combined aggregation; the share join is |lang|x3 rows.
    */
  private def splitAssign(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.hash60
    val b = hash60(concat(lit("split|"), col("doc_id").cast("string"))) % 100
    val split = when(b < 98, "train").when(b === 98, "val").otherwise("test")
    val g = docs(s, d).select(col("lang"), split.as("split"))
      .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n"))
    val tot = g.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    g.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("split"), col("n"),
        col("n_lang").cast("long").as("n_lang"),
        expr("(1000000 * n) div n_lang").as("share_ppm"))
      .orderBy(col("lang").asc, col("split").asc)
  }

  /** The WHOLE curation pipeline as one DAG — the capstone composition:
    * exact dedup (md5-canonical), near-dup cluster dedup (CC-canonical),
    * benchmark decontamination, repetition quality filter, then sequence
    * packing of the survivors. One row of per-stage counts, every number
    * DuckDB-replayed — the end-to-end "raw corpus -> packed training
    * sequences" accounting a 100 TB run reports. Each stage is the
    * already-verified operator's predicate, composed as flag columns on
    * one scan + bounded joins (no stage materializes the corpus twice).
    */
  /** The four core keep-sets of the curation capstone, as (flag, ids)
    * pairs — shared by the 5-column `d_pipeline_e2e` entry and the
    * 7-stage `d_pipeline_full` extension.
    */
  private def pipelineStages(s: SparkSession, d: String)
      : Seq[(String, DataFrame)] = {
    val base = docs(s, d)
    val wExact = Window.partitionBy(col("h"))
    val exactKeep = base.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("canon", min(col("doc_id")).over(wExact))
      .filter(col("doc_id") === col("canon")).select("doc_id")
    val clusterKeep = connectedComponents(base.select(col("doc_id")),
        candidatePairs(s, d), "doc_id")
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    val cleanKeep = contamination(s, d) // doc_id >= 20 rows only
      .filter(!col("contaminated")).select("doc_id")
    val qualityKeep = TextQueries.queries("t_repetition")(s, d)
      .filter(col("keep")).select("doc_id")
    Seq("f_exact" -> exactKeep, "f_cluster" -> clusterKeep,
      "f_clean" -> cleanKeep, "f_quality" -> qualityKeep)
  }

  /** Flag-join + survivor aggregation over an arbitrary stage list: one
    * `n_<stage>` count per stage, survivors = rows every stage kept,
    * plus the packed-token/sequence tallies at a 512-token budget.
    */
  private def pipelineStatsOf(base: DataFrame,
      stages: Seq[(String, DataFrame)]): DataFrame = {
    val flagged = stages.foldLeft(
        base.select(col("doc_id"), size(toks).cast("long").as("n_tok"))) {
      case (acc, (name, keep)) =>
        acc.join(keep.withColumn(name, lit(1)), Seq("doc_id"), "left_outer")
    }
    val surv = stages.map { case (n, _) => coalesce(col(n), lit(0)) }
      .reduce(_ * _)
    val aggs =
      stages.map { case (n, _) =>
        sum(coalesce(col(n), lit(0))).cast("long")
          .as("n_" + n.stripPrefix("f_")) } ++
      Seq(sum(surv).cast("long").as("n_survivors"),
        sum(surv * col("n_tok")).cast("long").as("n_tokens_kept"),
        floor((sum(surv * col("n_tok")) + lit(511)) / lit(512))
          .cast("long").as("n_sequences"))
    flagged.agg(count(lit(1)).cast("long").as("n_total"), aggs: _*)
  }

  private def pipelineE2e(s: SparkSession, d: String): DataFrame =
    pipelineStatsOf(docs(s, d), pipelineStages(s, d))

  /** FULL 7-STAGE CURATION CAPSTONE (VERDICT r6 #4): the five-stage
    * pipeline plus the two corpus-assembly stages r6 landed stand-alone —
    * temperature-scaled MIXTURE sampling (content-addressed ppm
    * thresholds, [[graft.curation.CurationCore.mixtureKeepOf]]) and DSIR
    * importance selection (keep iff the nano-nat log-ratio sum is
    * positive, [[graft.curation.CurationCore.dsirScoresOf]]). A survivor
    * now has to pass dedup, decontamination, quality, the mixing policy,
    * AND target-domain relevance — the order-independent flag
    * conjunction a production corpus assembly runs. Same scale shapes as
    * the stand-alone entries; the engine verb (`curateLibrary` with
    * mixture/DSIR enabled) must reproduce these counts bit-identically
    * (CurateSpec).
    */
  private def pipelineFull(s: SparkSession, d: String): DataFrame = {
    import graft.curation.CurationCore
    val base = docs(s, d)
    val srcText = base.select(col("doc_id"), col("source"), col("text"))
    val mixtureKeep = CurationCore.mixtureKeepOf(srcText, "doc_id")
    val dsirKeep = CurationCore
      .dsirScoresOf(srcText, "doc_id", CurationCore.DefaultDsirTarget)
      .filter(col("s9") > 0).select("doc_id")
    pipelineStatsOf(base, pipelineStages(s, d) ++
      Seq("f_mixture" -> mixtureKeep, "f_dsir" -> dsirKeep))
  }

  /** Un-rounded per-source policy table over pre-aggregated (source,
    * n_docs, n_tokens) counts: adds tot, p, r9 and the exact long
    * normalizer z9 (broadcast on). Shared by the batch entries and the
    * streaming-state variant, which maintains the counts as stream
    * state and applies the same policy to the snapshot.
    */
  private[queries] def policyOf(bySrc: DataFrame): DataFrame = {
    val tot = bySrc.agg(sum(col("n_tokens")).as("tot"))
    val scaled = bySrc.crossJoin(broadcast(tot))
      .withColumn("p",
        col("n_tokens").cast("double") / col("tot").cast("double"))
      .withColumn("r9", floor(sqrt(col("p")) * lit(1.0e9)))
    val z = scaled.agg(sum(col("r9")).as("z9"))
    scaled.crossJoin(broadcast(z))
  }

  /** The weights presentation over a policy table (see [[policyOf]]). */
  private[queries] def weightsSelect(policy: DataFrame): DataFrame = {
    val w = col("r9").cast("double") / col("z9").cast("double")
    policy.select(col("source"), col("n_docs"), col("n_tokens"),
      rnd(col("p"), 6).as("p_raw"),
      rnd(w, 6).as("w_mix"),
      rnd(w / col("p"), 6).as("boost"))
      .orderBy(col("source").asc)
  }

  private def mixturePolicy(s: SparkSession, d: String): DataFrame =
    policyOf(docs(s, d).groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(size(toks)).cast("long").as("n_tokens")))

  /** TEMPERATURE-SCALED MIXTURE WEIGHTS — the corpus-mixing policy step
    * of training-data assembly: each source's sampling weight is
    * p^(1/T) / Z at T = 2 (the standard up-sampling temperature), so
    * rare sources are boosted and dominant ones damped without ever
    * inverting the order. Determinism: IEEE-754 sqrt is correctly
    * rounded on both engines, so floor(sqrt(p) * 1e9) is a bit-exact
    * integer contribution and the normalizer Z is an exact long sum —
    * only the final divisions are floats, rounded to 6 dp as usual.
    * Scale shape: one map-side-combined |sources|-group aggregation
    * plus two broadcast scalar joins; nothing corpus-sized shuffles.
    */
  private def mixtureWeights(s: SparkSession, d: String): DataFrame =
    weightsSelect(mixturePolicy(s, d))

  /** MIXTURE SAMPLE MATERIALIZATION — the tempered policy applied: each
    * source's weight becomes a deterministic keep threshold targeting a
    * half-corpus token budget, membership decided by md5-hash-mod on the
    * doc id (the [[stratifiedSample]] discipline: resample-stable,
    * portable, partition-independent). The threshold is an exact ppm
    * integer — floor(min(1, w*B/n_tokens) * 1e6) over bit-deterministic
    * doubles — so kept counts replay exactly. Scale shape: the
    * |sources|-row policy broadcasts onto one corpus scan + one
    * map-side-combined group agg; the budget B = tot >> 1 stays integer.
    */
  private def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val f = least(lit(1.0),
      col("r9").cast("double") / col("z9").cast("double") *
        shiftright(col("tot"), 1).cast("double") /
        col("n_tokens").cast("double"))
    val policy = mixturePolicy(s, d)
      .select(col("source"), col("n_docs"),
        floor(f * lit(1.0e6)).as("keep_ppm"))
    docs(s, d)
      .select(col("source"), col("doc_id"), size(toks).cast("long").as("nt"))
      .join(broadcast(policy), Seq("source"))
      .withColumn("keep",
        hash60(col("doc_id").cast("string")) % 1000000L < col("keep_ppm"))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("keep_ppm")).as("keep_ppm"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_kept"),
        sum(when(col("keep"), col("nt")).otherwise(0L)).cast("long")
          .as("tok_kept"))
      .orderBy(col("source").asc)
  }

  /** CROSS-SOURCE 5-GRAM OVERLAP MATRIX — the inter-source duplication
    * audit run before fixing a mixture: for every source pair, how many
    * distinct word-5-grams they share and the Jaccard of their gram
    * sets. Scale shape: ONE corpus-scale shuffle collapses each gram to
    * its source SET (<= |sources| elements); the pair expansion then
    * happens map-side on the grouped rows and partial-aggregates
    * straight into <= |sources|^2 keys. A naive gram self-join is
    * quadratically worse on exactly the corpora this audit targets —
    * a gram shared by all 20 sources fans out 400 join rows but only
    * 190 in-stage struct expansions here, and those never shuffle.
    */
  private def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    // token projection FIRST (the CurationCore.bandRowsOf discipline):
    // shingles() references its input 5x per element, and inlining the
    // non-codegen tokens() split there re-tokenizes the doc per gram
    val bySet = docs(s, d)
      .select(col("source"), toks.as("tk"))
      .select(col("source"),
        explode(array_distinct(shingles(col("tk"), 5))).as("g"))
      .groupBy(col("g"))
      .agg(array_sort(collect_set(col("source"))).as("ss"))
    // per-source distinct-gram counts, derived from the same grouped
    // table (the exchange is reused across the two consumers)
    val sizes = bySet.select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).cast("long").as("n"))
    val shared = bySet
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("pr"))
      .select(col("pr.src_a").as("src_a"), col("pr.src_b").as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        rnd(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("src_a").asc, col("src_b").asc)
  }

  /** N-GRAM NOVELTY scoring — each document's marginal contribution to
    * the corpus: the fraction of its distinct 3-gram hashes whose FIRST
    * occurrence (min doc_id over the corpus) is this document. The
    * dedup-aware curation metric between span-level and whole-doc
    * dedup: a low-novelty doc is mostly restating earlier content even
    * when no single document duplicates it. Shape: one distinct
    * (gram, doc) projection, one min-agg per gram, one count-back join —
    * all keyed on the gram hash; exact ppm integers.
    */
  private def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val g = gramRows(s, d)
    // first occurrence as a per-gram window, NOT a min-agg + join-back:
    // one shingle pass and ONE gram-keyed shuffle (the join formulation
    // recomputed the whole explode on both sides — measured 9.5s -> this)
    val w = Window.partitionBy(col("g"))
    g.withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(1000000 * n_novel) div n_grams").as("novelty_ppm"))
      .orderBy(col("doc_id").asc)
  }

  /** PREFIX-FILTERED set-similarity join (PPJoin family) — the THIRD
    * candidate-generation regime next to minhash-LSH (probabilistic,
    * recall < 1) and lang-blocked all-pairs (`d_jaccard_pairs`, coarse
    * fixed blocks): EXACT Jaccard >= 0.8 with a LOSSLESS, data-dependent
    * filter, over distinct word-3-gram SHINGLE sets (the same set family
    * the minhash entries sketch — raw token sets are degenerate on
    * template-shaped corpora where every doc shares the vocabulary; the
    * shingle-set Jaccard is what minhash estimates, so this entry is
    * also the exact ground truth the LSH recall is measured against).
    * Every doc's shingle-hash set is ordered by GLOBAL
    * rarity ((freq asc, hash asc) — no dense rank needed, the (f,h) pair
    * itself is the sort key, so there is no vocab-scale window anywhere);
    * if J(x,y) >= t then x and y MUST share a token within the first
    * |x| - ceil(t|x|) + 1 rarest elements, so only docs sharing a PREFIX
    * token ever meet (t=0.8: p = n - ceil(0.8n) + 1 ~ n/5 + 1; a t=0.5
    * variant was measured and rejected — half-set prefixes admit
    * mid-frequency shingles and the candidate set ballooned to 409k for
    * 256 true pairs, 8.7s at sf0.1). Rarity ordering makes prefix tokens
    * the least-frequent ones, so candidate lists stay short at any
    * corpus size — stopword-shaped hot tokens sit at the BACK of every
    * set and never generate candidates; the PPJoin LENGTH filter
    * (t*|x| <= |y| <= |x|/t, exact rational 5*min >= 4*max) prunes
    * cross-size candidates before the heavy verify (sorted-merge
    * intersection, codegen) runs on survivors. Jaccard is emitted in
    * EXACT integer micro-units ((inter*1e6) div union) and the
    * t-threshold is the exact rational test 5*inter >= 4*union. The
    * oracle is the BRUTE-FORCE all-pairs join — the hash match proves
    * the filter lossless, not just fast.
    */
  /** The verified pair set is computed ONCE per (session, dataset) and
    * shared by the `d_prefix_join` entry and `d_banding_recall`'s
    * ground-truth side (the result is pair-count rows — tiny — while
    * the pipeline behind it costs seconds; same engineFixture/bands
    * precedent).
    */
  private val prefixCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), DataFrame]

  private def prefixJoin(s: SparkSession, d: String): DataFrame =
    cachedCkpt(prefixCache, (s, d))(prefixJoinCore(s, d).localCheckpoint())

  private def prefixJoinCore(s: SparkSession, d: String): DataFrame = {
    val tok = gramRows(s, d).withColumnRenamed("g", "h")
    // global rarity as a WINDOW count over h instead of a (tok x freq)
    // self-join (optimization r15): the join planned a BroadcastExchange
    // of the EXPLODED token table (its post-Generate size is invisible to
    // the estimator — measured 8.1s building that broadcast at sf0.1, and
    // a scale hazard at any corpus size); the window needs one tok-scale
    // shuffle by h and no broadcast, with identical f values
    val wH = Window.partitionBy(col("h"))
    val sets = tok.withColumn("f", count(lit(1)).over(wH))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("f"), col("h")))).as("fh"))
      .select(col("doc_id"),
        transform(col("fh"), x => x.getField("h")).as("rset"), // rarity order
        array_sort(transform(col("fh"), x => x.getField("h"))).as("vset"),
        size(col("fh")).as("n"))
      .localCheckpoint() // sets build once, consumed by both join sides
    val pref = sets.select(col("doc_id"), col("n"),
      explode(expr("slice(rset, 1, n - (4 * n + 4) div 5 + 1)")).as("h"))
    val cand = pref.select(col("doc_id").as("doc_a"), col("n").as("pna"),
        col("h"))
      .join(pref.select(col("doc_id").as("doc_b"), col("n").as("pnb"),
        col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("pna"), col("pnb")) * 5 >=
          greatest(col("pna"), col("pnb")) * 4)
      .select(col("doc_a"), col("doc_b")).distinct()
    val inter = graft.functions.SetExpressions
      .sortedIntersectCount(col("va"), col("vb"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("vset").as("va"),
        col("n").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("vset").as("vb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter", inter.cast("long"))
      .filter(col("na") + col("nb") - col("inter") > 0 &&
        col("inter") * 5 >= (col("na") + col("nb") - col("inter")) * 4)
      .select(col("doc_a"), col("doc_b"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        col("inter"),
        expr("(inter * 1000000) div (na + nb - inter)").as("j6"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** ASYMMETRIC CONTAINMENT scoring over the banded candidate pairs —
    * quote / subset detection: C(A->B) = |A n B| / |A| tells "A is
    * inside B" apart from the SYMMETRIC Jaccard every other dedup entry
    * ranks by (a short doc fully quoted inside a long one has LOW
    * Jaccard but containment ~1 — whole-doc dedup misses it, and it is
    * exactly the training-data case of a document embedded in a larger
    * crawl page). Candidates come from the SAME minhash band index as
    * the pairs/clusters entries (bounded, never all-pairs; at 100 TB the
    * short-in-long case additionally wants the asymmetric band scheme of
    * Broder's containment sketches — noted, not built). Both directions
    * are emitted in exact integer micro-units plus a classification
    * (mutual / a_in_b / b_in_a / partial at the 0.9 threshold); the
    * oracle replays bands, candidate join, and both divisions.
    */
  private def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val sets = docs(s, d).select(col("doc_id"),
      array_sort(array_distinct(transform(shingles(toks, 3), g => hash60(g))))
        .as("sset"))
    candidatePairs(s, d)
      .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"),
        graft.functions.SetExpressions
          .sortedIntersectCount(col("sa"), col("sb")).cast("long").as("inter"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("inter"),
        expr("CASE WHEN na = 0 THEN CAST(0 AS BIGINT) ELSE (inter * 1000000) div na END")
          .as("c_ab6"),
        expr("CASE WHEN nb = 0 THEN CAST(0 AS BIGINT) ELSE (inter * 1000000) div nb END")
          .as("c_ba6"))
      .withColumn("relation",
        when(col("c_ab6") >= 900000L && col("c_ba6") >= 900000L, "mutual")
          .when(col("c_ab6") >= 900000L, "a_in_b")
          .when(col("c_ba6") >= 900000L, "b_in_a")
          .otherwise("partial"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** PRIORITY SAMPLING (fixed-size weighted without replacement) — the
    * third sampling regime beside per-item Bernoulli (`d_weighted_sample`,
    * no size guarantee) and per-stratum rates (`d_stratified_sample`):
    * exactly k documents, selection probability increasing with weight —
    * "give me the 64 highest-value docs by quality-weighted lottery",
    * the shape curation uses when the budget is a COUNT, not a rate.
    * Deterministic integer form of the w/u priority rule: priority =
    * (w * 2^40) div h40, where h40 is the 40-bit md5 hash standing in
    * for uniform u — heavier docs divide by the same uniform, so their
    * priority stochastically dominates, and every engine recomputes the
    * identical lottery. Top-k is TakeOrderedAndProject (k-bounded, never
    * a global sort); the resample-stability story of the hash60 entries
    * applies — adding documents never reshuffles the priorities of
    * existing ones.
    */
  private def prioritySample(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val pri = docs(s, d).select(col("doc_id"),
        col("n_chars").cast("long").as("w"),
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) div 1048576")
          .as("h40"))
      .select(col("doc_id"), col("w"),
        expr("(w * 1099511627776) div greatest(h40, 1)").as("priority"))
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(k)
    val win = Window.partitionBy(WindowUtil.onePartition(col("doc_id")))
      .orderBy(col("priority").desc, col("doc_id").asc)
    pri.withColumn("rank", row_number().over(win))
      .select(col("rank"), col("doc_id"), col("w"), col("priority"))
      .orderBy(col("rank").asc)
  }

  /** BANDING RECALL against EXACT ground truth — the companion to
    * `d_minhash_eval`'s precision: now that `d_prefix_join` computes the
    * exact J >= 0.8 pair set losslessly, the LSH band index can be
    * graded on how many true pairs its candidates actually cover
    * (the metric that decides bands-vs-rows tuning at 100 TB; precision
    * alone can't see missed pairs). One row out: truth size, candidate
    * size, hits, recall in exact ppm. Both sides are k-/candidate-
    * bounded; the oracle replays truth brute-force and candidates from
    * the band SQL.
    */
  private def bandingRecall(s: SparkSession, d: String): DataFrame = {
    val truth = prefixJoin(s, d).select(col("doc_a"), col("doc_b"))
    val cand = candidatePairs(s, d)
    val hits = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth")).crossJoin(
        cand.agg(count(lit(1)).as("n_cand"))).crossJoin(
        hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        expr("CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT) ELSE (n_hit * 1000000) div n_truth END")
          .as("recall_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_priority_sample" -> (prioritySample _),
    "d_banding_recall"  -> (bandingRecall _),
    "d_containment"   -> (containmentPairs _),
    "d_prefix_join"   -> (prefixJoin _),
    "d_exact"         -> (exact _),
    "d_ngram_novelty" -> (ngramNovelty _),
    "d_minhash_bands" -> (minhashBands _),
    "d_minhash_pairs" -> (minhashPairs _),
    "d_dup_clusters"  -> (dupClusters _),
    "d_dup_resolve"   -> (dupResolve _),
    "d_incremental"   -> (incrementalDedup _),
    "e_stream_dedup_incremental" -> (streamIngestDedup _),
    "d_simhash"       -> (simhash _),
    "d_simhash_pairs" -> (simhashPairs _),
    "d_jaccard_pairs" -> (jaccardPairs _),
    "d_split_assign" -> (splitAssign _),
    "d_stratified_sample" -> (stratifiedSample _),
    "d_contamination" -> (contamination _),
    "d_pipeline_e2e"  -> (pipelineE2e _),
    "d_pipeline_full" -> (pipelineFull _),
    "d_mixture_weights" -> (mixtureWeights _),
    "d_mixture_sample"  -> (mixtureSample _),
    "d_source_overlap"  -> (sourceOverlap _),
    "d_span_repeat"     -> (spanRepeat _),
    "d_span_strip"      -> (spanStrip _),
    "d_span_strip_multi" -> (spanStripMulti _),
    "d_minhash_eval"    -> (minhashEval _),
    "d_weighted_sample" -> (weightedSample _),
    "d_pagerank"        -> ((s: SparkSession, d: String) => pageRank(s, d)),
    "d_exact_norm"      -> (exactNorm _),
    "d_edit_dedup"      -> (editDedup _),
    "d_greedy_cover"    -> (greedyCover _),
    "d_substring_dedup" -> (substringDedup _),
    "d_substring_top"   -> (substringTop _),
    "d_substring_strip" -> (substringStrip _),
    "d_cdc_dedup"       -> (cdcDedup _),
    "e_stream_cdc_dedup" -> (streamCdcDedup _),
    "e_stream_dedup_storage" -> (streamDedupStorage _),
  )

  /** NORMALIZED exact dedup — the preprocessing real pipelines run
    * before hashing: lowercase, strip non-alphanumerics, collapse
    * whitespace, trim. Texts differing only in casing, punctuation, or
    * spacing group under one md5 (the duplicates byte-hash [[exact]]
    * dedup misses); canonical = min doc_id per normalized hash, same
    * window shape as [[exact]]. Map-side normalization, one hash-keyed
    * window — the same one-shuffle cost as the plain variant.
    */
  private def exactNorm(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z0-9 ]", ""), " +", " "))
    val w = Window.partitionBy(col("h"))
    docs(s, d).select(col("doc_id"), md5(norm).as("h"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .orderBy(col("doc_id").asc)
  }

  /** GREEDY MAX-COVERAGE SUBSET SELECTION — the submodular
    * data-subset-selection operator (facility-location/coreset family):
    * pick K=10 docs that together cover the most distinct word-3-gram
    * shingles, by the classic 1-1/e greedy — each round scores every
    * remaining doc by its MARGINAL gain (uncovered grams only) and
    * takes the argmax (gain desc, doc_id asc tie-break). "Select a
    * small diverse subset" is a first-class training-data op (data
    * pruning, eval-set seeding, dedup-aware sampling).
    *
    * Distribution shape per round: covered grams = one semi-join +
    * distinct (bounded by the selected docs' grams), marginal scores =
    * one anti-join + count agg, argmax = TakeOrdered(1). Driver state
    * is the K selected ids and one 1-row collect per round — the
    * documented k-bounded greedy pattern (`v_mmr_rerank`); the gram
    * table is built once and localCheckpoint'ed (consumed twice per
    * round). A selected doc's grams are all covered, so it drops out
    * of the anti-join naturally — no explicit exclusion list. The
    * oracle unrolls all 10 rounds as MATERIALIZED CTEs and replays the
    * same argmax.
    */
  private def greedyCover(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.{tokens, shingles, hash60}
    val K = 10
    val grams = gramRows(s, d)
    // BOUNDED LOCAL GREEDY (optimization r15, the CC local-finish
    // discipline): each distributed round pays a covered-set distinct, an
    // anti-join, an aggregation and an argmax collect — ~5 fixed global
    // steps x K rounds. When the gram table fits a hard cap, collect the
    // per-doc gram sets once and run the identical greedy argmax on the
    // driver (gain desc, doc_id asc — same tie cut, same excluded
    // zero-gain docs). Larger corpora keep the distributed rounds.
    if (grams.count() <= (1L << 22)) {
      val perDoc = grams.groupBy(col("doc_id"))
        .agg(collect_list(col("g")).as("gs")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
      val covered = new java.util.HashSet[java.lang.Long]()
      val outL = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
      var tot = 0L
      for (r <- 1 to K) {
        var bestId = 0L; var bestGain = -1L
        perDoc.foreach { case (id, gs) =>
          var gain = 0L
          var i = 0
          while (i < gs.length) {
            if (!covered.contains(gs(i))) gain += 1
            i += 1
          }
          // strictly-greater keeps the first (lowest) doc_id on ties,
          // and gain >= 1 mirrors the aggregation dropping covered docs
          if (gain >= 1 && gain > bestGain) { bestId = id; bestGain = gain }
        }
        require(bestGain >= 1, "greedy cover: no uncovered grams left")
        perDoc.find(_._1 == bestId).get._2.foreach(g => covered.add(g))
        tot += bestGain
        outL += ((r, bestId, bestGain, tot))
      }
      import s.implicits._
      return outL.toSeq.toDF("rank", "doc_id", "marginal_gain", "covered_total")
        .select(col("rank").cast("int").as("rank"), col("doc_id"),
          col("marginal_gain"), col("covered_total"))
        .orderBy(col("rank").asc)
    }
    var selIds = Seq.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var totalCovered = 0L
    for (r <- 1 to K) {
      val scores =
        if (selIds.isEmpty)
          grams.groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        else {
          import s.implicits._
          val covered = grams.join(selIds.toDF("doc_id"), Seq("doc_id"), "left_semi")
            .select(col("g")).distinct()
          grams.join(covered, Seq("g"), "left_anti")
            .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        }
      val top = scores.orderBy(col("gain").desc, col("doc_id").asc)
        .limit(1).collect()(0)
      totalCovered += top.getLong(1)
      out += ((r, top.getLong(0), top.getLong(1), totalCovered))
      selIds :+= top.getLong(0)
    }
    import s.implicits._
    out.toSeq.toDF("rank", "doc_id", "marginal_gain", "covered_total")
      .select(col("rank").cast("int").as("rank"), col("doc_id"),
        col("marginal_gain"), col("covered_total"))
      .orderBy(col("rank").asc)
  }

  /** EDIT-DISTANCE CONFIRMATION over the banded candidates — the fuzzy
    * verification tier between MinHash candidates (set overlap, blind to
    * token ORDER) and exact-hash dedup: Levenshtein distance on the
    * normalized text (the [[exactNorm]] lowercase/strip/collapse rule),
    * as an exact-ppm edit ratio against the longer side. Classic
    * record-linkage shape: candidates from blocking, expensive pairwise
    * metric ONLY on candidates — the O(len²)-per-pair DP never sees a
    * non-candidate pair, and the normalized text is capped at 2048 chars
    * (a no-op on this corpus; the bounded-kernel-cost guard a 100 TB run
    * needs, where a single 1 MB doc would otherwise cost 10^12 cell
    * updates per pair).
    *
    * 100 TB shape: two candidate-bounded equi-joins hydrate the texts
    * (at scale the text side shuffles on doc_id, the pair list is the
    * small side); the DP itself is per-row compute inside codegen
    * (Spark's `levenshtein`), no state. Both engines implement the
    * textbook Wagner-Fischer recurrence, so the integer distances match
    * exactly.
    */
  private def editDedup(s: SparkSession, d: String): DataFrame = {
    val norm = substring(trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z0-9 ]", ""), " +", " ")), 1, 2048)
    val texts = docs(s, d).select(col("doc_id"), norm.as("t"))
    candidatePairs(s, d)
      .join(texts.select(col("doc_id").as("doc_a"), col("t").as("ta")), Seq("doc_a"))
      .join(texts.select(col("doc_id").as("doc_b"), col("t").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("maxlen"))
      .withColumn("ratio_ppm", expr("(lev * 1000000) div greatest(maxlen, 1)"))
      .withColumn("is_dup", col("ratio_ppm") <= 300000L)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  private val PrMass  = 1000000000000L // total initial rank, pico-units
  private val PrSteps = 10

  /** DETERMINISTIC INTEGER PAGERANK over the dup-candidate graph — link
    * analysis on the SAME banded candidate edges the dedup family
    * shares (a doc linked to many near-dup candidates concentrates
    * rank; pipelines use this to pick canonical docs and to spot
    * template hubs). Constant-jump formulation, every step in exact
    * BIGINT pico-units: r0 = floor(S/N), r'(v) = floor(15*S/(100*N)) +
    * sum over in-edges of floor(85*r(u) / (100*outdeg(u))), 10 fixed
    * supersteps. Dangling mass is NOT redistributed (the constant-jump
    * variant) — the identical rule on both engines, so the whole
    * 10-step trajectory replays exactly; the oracle unrolls the
    * supersteps as ten CTEs.
    *
    * 100 TB shape: rank state is NODES-scale; each superstep is one
    * edges->rank equi-join plus one dst aggregation (both partial-agg
    * friendly); edges/outdeg come once from the shared checkpointed
    * candidate pairs. The fixed step count bounds plan depth; at graph
    * scale each superstep's rank frame would be checkpointed exactly as
    * the CC rounds are.
    */
  private[graft] def pageRank(s: SparkSession, d: String,
      localEdgeCap: Long = CurationCore.LocalFinishCap): DataFrame = {
    val pairs = candidatePairs(s, d)
    // The cap checks are one distributed aggregation that counts the
    // nodes and the candidate edges together — node ids and edges are
    // only ever collected INSIDE the capped branch, so an over-cap graph
    // never pulls graph-scale data onto the driver.
    val counts = docs(s, d).select(lit(true).as("node"))
      .unionAll(pairs.select(lit(false).as("node")))
      .agg(count(when(col("node"), 1)), count(when(!col("node"), 1))).head()
    val (n, m) = (counts.getLong(0), counts.getLong(1))
    val jump = (15L * PrMass) / (100L * n)
    // BOUNDED LOCAL SUPERSTEPS (optimization r15, the CC local-finish
    // discipline): the dup-candidate graph is the already-bounded band
    // output; under a hard cap the 10 integer supersteps run on the
    // driver with the identical floor arithmetic — the 10-round lazily
    // chained join plan (and its one giant execution) disappears. The
    // cap bounds both counts: nodes <= 2^20 and edges <= `localEdgeCap`
    // (the connected-components local-finish cap). Larger graphs keep
    // the distributed rounds below.
    val pairRows = pairs.select(col("doc_a"), col("doc_b"))
    if (n <= (1L << 20) && m <= localEdgeCap) {
      val es = pairRows.collect().map(r => (r.getLong(0), r.getLong(1)))
      val nodeIds = docs(s, d).select(col("doc_id")).collect().map(_.getLong(0))
      val edges = es ++ es.map(t => (t._2, t._1)) // bidirected
      val odeg = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (a, _) => odeg.update(a, odeg.getOrElse(a, 0L) + 1) }
      var rank = nodeIds.map(id => id -> PrMass / n).toMap
      for (_ <- 1 to PrSteps) {
        val con = scala.collection.mutable.HashMap.empty[Long, Long]
        edges.foreach { case (src, dst) =>
          val c = (rank(src) * 85L) / (odeg(src) * 100L)
          con.update(dst, con.getOrElse(dst, 0L) + c)
        }
        rank = nodeIds.map(id => id -> (jump + con.getOrElse(id, 0L))).toMap
      }
      val top = nodeIds.map(id => (id, rank(id)))
        .sortBy { case (id, r) => (-r, id) }.take(20)
      return s.createDataFrame(
        s.sparkContext.parallelize(
          top.toSeq.map { case (id, r) => org.apache.spark.sql.Row(id, r) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("r",
            org.apache.spark.sql.types.LongType))))
    }
    val edges = pairRows.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairRows.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val odeg = edges.groupBy(col("src")).agg(count(lit(1)).cast("long").as("odeg"))
    val nodes = docs(s, d).select(col("doc_id"))
    var rank = nodes.select(col("doc_id"), lit(PrMass / n).as("r"))
    for (_ <- 1 to PrSteps) {
      val contrib = edges.join(rank, edges("src") === rank("doc_id"))
        .join(odeg, "src")
        .select(col("dst").as("doc_id"),
          expr("(r * 85) div (odeg * 100)").as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("con"))
      rank = nodes.join(contrib, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), (lit(jump) + coalesce(col("con"), lit(0L))).as("r"))
    }
    rank.orderBy(col("r").desc, col("doc_id").asc).limit(20)
  }

  /** QUALITY-WEIGHTED Bernoulli sampling — per-document importance
    * sampling with an integer-exact keep decision: weight w =
    * min(n_tokens, 100) (standing in for any integer quality score),
    * P(keep) = w/100 via hash60("ws:" || doc_id) < w * floor(2^60/100).
    * Every comparison is BIGINT, so the kept set is bit-identical on any
    * engine and STABLE under re-runs — re-sampling the same corpus keeps
    * the same documents, the property [[stratifiedSample]]'s hash-mod
    * has per stratum, here carried per ITEM with its own weight. One
    * narrow map-side scan; no shuffle, no RNG state.
    */
  private def weightedSample(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), least(size(toks), lit(100)).cast("long").as("w"),
        hash60(concat(lit("ws:"), col("doc_id").cast("string"))).as("h"))
      .select(col("doc_id"), col("w"),
        (col("h") < col("w") * lit((1L << 60) / 100)).as("kept"))
      .orderBy(col("doc_id").asc)

  /** MINHASH BANDING EVALUATION — "measure, don't guess" for the dedup
    * family, the way the recall entries measure the ANN families: every
    * banded candidate pair is scored with the EXACT 3-gram-shingle-set
    * Jaccard (the quantity minhash estimates), and the entry reports the
    * candidate count, how many clear the 0.5 / 0.3 thresholds, and the
    * exact micro-unit Jaccard mass — i.e. the banding precision a
    * pipeline operator reads before trusting the candidate graph.
    * Per-pair Jaccard in micro-units floored BEFORE the sum, so the
    * aggregate is exact BIGINT on both engines.
    *
    * 100 TB shape: work is bounded by the CANDIDATE count (the thing
    * banding already made small), never all-pairs; the per-doc shingle
    * sets are materialized once and equi-joined to the pair list; the
    * per-pair intersection is the allocation-free sorted-merge counter
    * the jaccard family already uses. Recall (missed true pairs) is
    * deliberately NOT measured here — that is O(N^2) by definition and
    * belongs on a bounded sample.
    */
  private def minhashEval(s: SparkSession, d: String): DataFrame = {
    // DELIBERATELY not checkpointed: the projection is consumed twice
    // (sa and sb joins), but recomputing the streamed shingle-hash scan
    // is measured CHEAPER than materializing 50k fat shingle arrays
    // through a checkpoint (0.36s lazy vs 4.7s checkpointed at sf0.1 —
    // the arrays dominate, not the hashing)
    val sets = docs(s, d).select(col("doc_id"),
      array_sort(array_distinct(transform(shingles(toks, 3), g => hash60(g))))
        .as("sset"))
    val j6 = candidatePairs(s, d)
      .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("sb")), "doc_b")
      .withColumn("inter", graft.functions.SetExpressions
        .sortedIntersectCount(col("sa"), col("sb")).cast("double"))
      .withColumn("j",
        when(size(col("sa")) + size(col("sb")) - col("inter") === 0.0, lit(0.0))
          .otherwise(col("inter") /
            (size(col("sa")) + size(col("sb")) - col("inter"))))
      .select(floor(col("j") * lit(1000000.0) + lit(0.5)).cast("long").as("j6"))
    j6.agg(
        count(lit(1)).cast("long").as("n_pairs"),
        sum(when(col("j6") >= 500000L, 1L).otherwise(0L)).as("n_j50"),
        sum(when(col("j6") >= 300000L, 1L).otherwise(0L)).as("n_j30"),
        sum(col("j6")).as("sum_j6"))
      .select(col("n_pairs"),
        coalesce(col("n_j50"), lit(0L)).as("n_j50"),
        coalesce(col("n_j30"), lit(0L)).as("n_j30"),
        coalesce(col("sum_j6"), lit(0L)).as("sum_j6"),
        rnd(coalesce(col("n_j50").cast("double") / col("n_pairs"), lit(0.0)), 6)
          .as("prec50"),
        rnd(coalesce(col("n_j30").cast("double") / col("n_pairs"), lit(0.0)), 6)
          .as("prec30"))
  }

  /** REPEATED-SPAN REMOVAL — the transform the [[spanRepeat]] audit
    * feeds: every 8-token window whose exact text occurs in >= 2 distinct
    * documents is boilerplate; all token positions covered by such a
    * window are dropped and each document is reassembled from the
    * surviving tokens (cross-document template/boilerplate removal at
    * span granularity — whole-doc dedup can't touch these). The output
    * hash-checks the md5 of every reassembled document, so an
    * off-by-one in window coverage fails.
    *
    * 100 TB shape: hot grams come from the same (gram, doc)-distinct agg
    * as the audit (per-gram group bounded by doc count); coverage is an
    * equi-join of the positioned window stream against the hot set (no
    * broadcast assumption — hot boilerplate can be huge), an 8x position
    * explode of MATCHED windows only, and one anti-join on (doc, pos).
    * Reassembly sorts each doc's kept tokens inside a single per-doc
    * aggregation; nothing is ever pairwise.
    */
  private def spanStrip(s: SparkSession, d: String): DataFrame =
    spanStripScales(s, d, Seq(8))

  /** MULTI-SCALE span strip (VERDICT r7 #6, third tier r9 #5): the same
    * hot-set machinery run at 8-, 32- AND 64-token window scales,
    * coverage unioned before the anti-join — the ladder between
    * fixed-window span-strip and whole-doc dedup: each larger tier
    * catches longer templated passages as ONE hot gram each (where the
    * 8-token tier sees them only as many short windows), and any
    * position covered at ANY scale is dropped. Cost is one extra
    * explode+agg per scale over the same token stream; the reassembly
    * tail is shared and runs once.
    *
    * Why 64 and not the 128 the r8 verdict sketched: no document in this
    * corpus reaches 128 tokens (max ~100 at every SF), so a 128 tier
    * would be a structurally-empty scan — 64 is the largest scale the
    * corpus actually exercises (151 hot 64-grams at sf0.01, measured);
    * on a long-document corpus the ladder extends by adding the constant.
    */
  private def spanStripMulti(s: SparkSession, d: String): DataFrame =
    spanStripScales(s, d, Seq(8, 32, 64))

  // ONE implementation shared with the engine's curation transform tier
  // (VERDICT r13 #6): the per-scale hot-window / covered-position / strip
  // arithmetic lives in CurationCore.spanStripCountsOf; this entry only
  // binds the documents corpus and the output ordering.
  private def spanStripScales(s: SparkSession, d: String,
      scales: Seq[Int]): DataFrame =
    graft.curation.CurationCore
      .spanStripCountsOf(docs(s, d), "doc_id", scales)
      .orderBy(col("doc_id").asc)

  /** CROSS-DOCUMENT REPEATED-SPAN AUDIT — the span-granularity
    * approximation of exact-substring dedup ("dedup repeated training
    * substrings", suffix-array style, without the suffix array): every
    * 8-token window of every doc, classified by whether the identical
    * window text occurs in at least one OTHER document; per doc the
    * window count, the repeated-window count, and the repeated fraction
    * (the signal a curation pipeline thresholds to drop boilerplate and
    * templated spans that whole-doc dedup misses).
    *
    * 100 TB shape: the window stream is a map-side explode (x8 token
    * amplification) consumed by exactly ONE map-side-combinable
    * aggregation to (gram, doc, occurrences) — the exploded stream never
    * shuffles raw and never runs twice. Sharedness is then a count
    * window over the gram key of that collapsed table (per-gram groups
    * bounded by the DOC count, not occurrences — a gram repeated 1,000x
    * inside one doc is one row), and the per-doc stats are a final
    * aggregation. High-cardinality gram keys: no hot keys, no salting.
    * Never a pairwise doc comparison.
    */
  private def spanRepeat(s: SparkSession, d: String): DataFrame = {
    val gd = docs(s, d)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), explode(shingles(col("tk"), 8)).as("g"))
      .groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("occ"))
    val perDoc = gd
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_spans"),
        sum(when(col("nd") >= 2, col("occ")).otherwise(lit(0L))).as("n_shared"))
    docs(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        rnd(coalesce(col("n_shared").cast("double") / col("n_spans"), lit(0.0)),
          6).as("shared_frac"))
      .orderBy(col("doc_id").asc)
  }

  /** SUBSTRING (suffix-array-family) DEDUP over a LONG-DOCUMENT shard —
    * the Lee et al. 2021 "Deduplicating Training Data" tier the fixed
    * 8/32/64 span ladder approximates: find every maximal duplicated
    * token run of length >= SubL ANYWHERE in the corpus and report its
    * exact extent. This corpus's raw docs are <= 128 tokens (measured
    * r9 — too short to exercise the tier), so the entry first derives a
    * long-document shard DETERMINISTICALLY from the real table: docs
    * concatenated into SubG shards by doc_id % SubG, in doc_id order
    * (3k-25k tokens each at sf0.01-0.1) — a pure SQL derivation the
    * oracle replays with string_agg(ORDER BY), not synthesized data.
    *
    * Suffix-array OUTPUT semantics without SA construction (reference
    * semantics: lee2021 dedup; impl is Spark-first): a run of >= SubL
    * duplicated tokens exists iff every SubL-gram inside it is repeated
    * (>= 2 occurrences corpus-wide, same doc or not), so (1) explode
    * positioned SubL-gram hashes, (2) "suffix groups" = hashes with
    * occurrence count >= 2, (3) semi-join the positions against the hot
    * set, (4) merge CONSECUTIVE matched starts per doc into maximal
    * runs (pos - row_number graining — per-doc window, doc-length
    * bounded), (5) exact covered-token counts from the matched-window
    * explode only. Work is linear in corpus grams + matched occurrences
    * (suffix-group fan-out), never all-pairs; no driver state. The
    * per-shard summary (window/run/covered-token counts + covered
    * fraction) is fully DuckDB-hash-checked.
    */
  private val SubL = 20 // min duplicated-run length (tokens)
  private val SubG = 8  // long-document shard count

  private val SubC = 1024 // gram-construction chunk width (tokens)

  private def substringDedup(s: SparkSession, d: String): DataFrame = {
    // The long-doc token stream WITHOUT materializing the giant string:
    // a shard's tokens are its member docs' tokens in doc_id order, so
    // per-member global offsets come from one running-sum window over
    // the (ldoc, doc) table and the token explode stays doc-parallel.
    // Gram construction is then OVERLAPPING-CHUNK parallel: each token
    // lands in chunk gpos DIV SubC plus (when gpos % SubC <= SubL-2) the
    // previous chunk, so chunk c holds the contiguous slice
    // [c*SubC, (c+1)*SubC + SubL - 2] and can emit every gram STARTING in
    // its own [c*SubC, (c+1)*SubC) span with full context. Parallelism is
    // therefore |corpus tokens| / SubC, NOT the shard count — the part
    // that matters at 100 TB, where a "shard" is a book-length document
    // and any per-doc-sequential formulation caps at |docs| tasks. Each
    // gram start is emitted exactly once (by its own chunk), so the hash
    // stream is identical to the naive whole-doc shingle the oracle
    // replays via string_agg.
    val runs = subRuns(s, d)
    val nt = subMember(s, d).groupBy(col("ldoc_id"))
      .agg(sum(col("n")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= SubL)
    // run accounting straight off the ~10-rows/shard runs frame: matched
    // window starts partition into runs by consecutiveness, so
    // n_dup_wins = sum of run widths, and covered positions = the union
    // of run EXTENTS [start, endp+SubL-1] (within a run the per-window
    // extents are consecutive, so the union telescopes) — the distinct
    // de-overlaps extents of DIFFERENT runs closer than SubL apart
    val nRuns = runs.groupBy(col("ldoc_id"))
      .agg(count(lit(1)).as("n_runs"),
        sum(col("endp") - col("start") + 1).as("n_dup_wins"))
    val cov = runs
      .select(col("ldoc_id"),
        explode(sequence(col("start"), col("endp") + lit(SubL - 1))).as("p"))
      .distinct()
      .groupBy(col("ldoc_id")).agg(count(lit(1)).as("dup_tokens"))
    nt
      .join(nRuns, Seq("ldoc_id"), "left_outer")
      .join(cov, Seq("ldoc_id"), "left_outer")
      .select(col("ldoc_id"), col("n_tokens"),
        coalesce(col("n_dup_wins"), lit(0L)).as("n_dup_wins"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        rnd(coalesce(col("dup_tokens").cast("double") / col("n_tokens"),
          lit(0.0)), 6).as("dup_frac"))
      .orderBy(col("ldoc_id").asc)
  }

  /** (ldoc_id, doc_id, tk, n): the long-doc shard membership. */
  private def subMember(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select((col("doc_id") % SubG).as("ldoc_id"), col("doc_id"), toks.as("tk"))
      .withColumn("n", size(col("tk")))

  /** (ldoc_id, gpos, tok): the long-doc token stream with global
    * positions — doc-parallel explode, offsets from one running-sum
    * window over the |docs| member table.
    */
  private def subTokStream(s: SparkSession, d: String): DataFrame = {
    val wOff = Window.partitionBy(col("ldoc_id")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    subMember(s, d)
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("ldoc_id"), col("off"), posexplode(col("tk")))
      .select(col("ldoc_id"), (col("off") + col("pos")).as("gpos"),
        col("col").as("tok"))
  }

  /** (ldoc_id, start, endp): maximal duplicated runs (consecutive
    * matched SubL-gram starts), the shared checkpointed fixture both
    * substring entries read (~10 rows/shard).
    */
  private def subRuns(s: SparkSession, d: String): DataFrame =
    cachedCkpt(subRunsCache, (s, d)) { subRunsBuild(s, d).localCheckpoint() }

  private def subRunsBuild(s: SparkSession, d: String): DataFrame = {
    val tokStream = subTokStream(s, d).withColumn("c0", expr(s"gpos DIV $SubC"))
    val dup = tokStream.select(col("ldoc_id"), col("gpos"), col("tok"),
      explode(when(pmod(col("gpos"), lit(SubC.toLong)) <= SubL - 2 &&
          col("c0") > 0, array(col("c0"), col("c0") - 1))
        .otherwise(array(col("c0")))).as("chunk"))
    val base = dup.groupBy(col("ldoc_id"), col("chunk"))
      .agg(sort_array(collect_list(struct(col("gpos"), col("tok")))).as("st"))
      .select(col("ldoc_id"), (col("chunk") * SubC).as("cstart"),
        transform(col("st"), x => x.getField("tok")).as("ctk"))
      .select(col("ldoc_id"), col("cstart"),
        posexplode(transform(shingles(col("ctk"), SubL), g => hash60(g))))
      .filter(col("pos") < SubC) // starts in the chunk's own span only
      .select(col("ldoc_id"), (col("cstart") + col("pos")).as("pos"),
        col("col").as("h"))
    val hot = base.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val mp = base.join(hot.select("h"), Seq("h"), "left_semi")
      .select(col("ldoc_id"), col("pos")).distinct()
    val w = Window.partitionBy(col("ldoc_id")).orderBy(col("pos").asc)
    mp.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("ldoc_id"), col("grp"))
      .agg(min(col("pos")).as("start"), max(col("pos")).as("endp"))
      .select(col("ldoc_id"), col("start"), col("endp"))
  }

  /** TOP REPEATED SUBSTRINGS — what the dedup summary points at (the
    * Lee et al. workflow reports these: the boilerplate/template
    * passages themselves). Each maximal run's exact token extent
    * [start, endp + SubL - 1] is rehydrated from the token stream (runs
    * are ~10/shard, BROADCAST against the stream — never a pair join),
    * fingerprinted with md5, and identical passages are grouped across
    * shards. Output: top 20 by extent length (md5 tie-break) with
    * occurrence counts. A shorter echo of a longer passage surfaces as
    * its own row (different extent, different md5) — maximal-extent-
    * per-shard semantics, stated in the oracle too.
    */
  /** (ldoc_id, start, xend, span_md5): every maximal run's exact token
    * extent rehydrated from the token stream (runs ~10/shard, BROADCAST
    * — never a pair join) and md5-fingerprinted. ONE implementation
    * shared by `d_substring_top` and `d_substring_strip`, so the
    * passage fingerprint cannot drift between the report and the
    * transform.
    */
  private def subSpans(s: SparkSession, d: String): DataFrame = {
    val runs = subRuns(s, d)
      .select(col("ldoc_id"), col("start"), (col("endp") + lit(SubL - 1)).as("xend"))
    subTokStream(s, d).as("t")
      .join(broadcast(runs).as("r"),
        col("t.ldoc_id") === col("r.ldoc_id") &&
          col("t.gpos").between(col("r.start"), col("r.xend")))
      .groupBy(col("r.ldoc_id").as("ldoc_id"), col("r.start").as("start"),
        col("r.xend").as("xend"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("t.gpos"), col("t.tok")))),
        x => x.getField("tok")), " ")).as("span_md5"))
  }

  private def substringTop(s: SparkSession, d: String): DataFrame =
    subSpans(s, d)
      .groupBy(col("span_md5"),
        (col("xend") - col("start") + 1).cast("long").as("span_tokens"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("ldoc_id")).as("n_shards"))
      .orderBy(col("span_tokens").desc, col("span_md5").asc)
      .limit(20)

  /** SUBSTRING-DEDUP TRANSFORM — the removal pass the audit entries
    * feed (Lee et al. keep the FIRST occurrence of each duplicated
    * substring and drop the rest): spans with the same passage md5 are
    * ordered by (ldoc_id, start), the first is kept, and every token
    * position covered by a NON-first span's extent is stripped; each
    * shard is reassembled from its surviving tokens. Overlap rule,
    * stated: the strip set is the UNION of non-first extents, so a
    * position shared with a kept span is still stripped (deterministic
    * and oracle-replayable; the alternative — subtracting kept extents
    * — would make the result depend on span enumeration order).
    *
    * 100 TB shape: spans/strip positions are bounded by duplicated
    * boilerplate (runs fixture, ~10/shard), the strip set joins the
    * token stream with one anti-join on (shard, position), and
    * reassembly is one per-shard sorted aggregation — the [[spanStrip]]
    * machinery at arbitrary-length granularity. Output per shard:
    * kept/stripped token counts + md5 of the reassembled text, all
    * hash-checked.
    */
  private def substringStrip(s: SparkSession, d: String): DataFrame = {
    val ts = subTokStream(s, d)
    val spans = subSpans(s, d)
    val wFirst = Window.partitionBy(col("span_md5"))
      .orderBy(col("ldoc_id").asc, col("start").asc)
    val strip = spans
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") > 1)
      .select(col("ldoc_id"),
        explode(sequence(col("start"), col("xend"))).as("gpos"))
      .distinct()
    val kept = ts.join(strip, Seq("ldoc_id", "gpos"), "left_anti")
    val nt = subMember(s, d).groupBy(col("ldoc_id"))
      .agg(sum(col("n")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    nt
      .join(kept.groupBy(col("ldoc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("gpos"), col("tok")))),
            x => x.getField("tok")), " ")).as("stripped_md5")),
        Seq("ldoc_id"), "left_outer")
      .select(col("ldoc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_stripped"),
        coalesce(col("stripped_md5"), lit("")).as("stripped_md5"))
      .orderBy(col("ldoc_id").asc)
  }

  /** CONTENT-DEFINED CHUNKING DEDUP — the rsync/FastCDC-family
    * primitive fixed-window chunking can't provide: chunk boundaries are
    * cut where the CONTENT's rolling fingerprint hits a mask (here:
    * hash60 of the trailing CdcW-token gram ≡ 0 mod CdcMod, expected
    * chunk ≈ CdcMod tokens), so an insertion or deletion shifts only the
    * chunk it lands in — every later boundary re-synchronizes, and
    * shared passages between edited documents still produce IDENTICAL
    * chunks with identical md5s (fixed-stride chunking would misalign
    * every chunk after the edit). Chunks are then deduped corpus-wide by
    * content hash: a chunk whose md5 appears in >= 2 distinct docs is
    * shared material.
    *
    * 100 TB shape: one doc-parallel token explode, one doc-partitioned
    * running-sum window (doc-length bounded; for book-length docs the
    * same overlapping-chunk regrouping as [[subRuns]] applies since the
    * cut predicate is CdcW-local), one (doc, chunk) agg, and one
    * hash-keyed group for the hot set — no pairwise anything. Output:
    * per-doc chunk counts, shared-chunk counts, shared-token fraction;
    * fully hash-checked (boundary placement, chunk reassembly, and md5s
    * all replayed by DuckDB).
    */
  private val CdcW = graft.curation.CurationCore.CdcW
  private val CdcMod = graft.curation.CurationCore.CdcMod

  /** (doc_id, chunk, n_tok, chash): CDC chunks of a (doc_id, text)
    * frame — shared by the batch dedup entry and the streaming ingest
    * probe (the chunker must be ONE piece of code or the stream==batch
    * contract is meaningless). The boundary/grouping machinery now lives
    * in [[graft.curation.CurationCore.cdcChunksOfTokens]] (r13: the
    * engine's `dedupStorage` chunks RAW splits through the same code);
    * this binding applies the suite's analysis tokenizer.
    */
  private[graft] def cdcChunksOf(df: DataFrame): DataFrame =
    graft.curation.CurationCore.cdcChunksOfTokens(
      df.select(col("doc_id"), toks.as("tk")), "doc_id")

  /** Corpus CDC chunk table as a checkpointed fixture (the
    * [[bandRowsCkpt]] precedent): `d_cdc_dedup` consumes it three ways
    * and `e_stream_cdc_dedup` seeds its persisted index from it.
    */
  private val cdcChunksCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), DataFrame]

  private def cdcChunksCkpt(s: SparkSession, d: String): DataFrame =
    cachedCkpt(cdcChunksCache, (s, d))(
      cdcChunksOf(docs(s, d)).localCheckpoint())

  private def cdcDedup(s: SparkSession, d: String): DataFrame = {
    val chunks = cdcChunksCkpt(s, d)
    val hot = chunks.select(col("chash"), col("doc_id")).distinct()
      .groupBy(col("chash")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
    val marked = chunks.join(hot.select("chash"), Seq("chash"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_chunks"), sum(col("n_tok")).as("dup_tokens"))
    // n_tokens from the fixture, not a second corpus tokenization: the
    // chunks PARTITION each tokenized doc (and both sides exclude
    // zero-token docs), so sum(n_tok) per doc IS the token count
    chunks.groupBy(col("doc_id"))
      .agg(sum(col("n_tok")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_chunks"))
      .join(marked, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        rnd(coalesce(col("dup_tokens").cast("double") / col("n_tokens"),
          lit(0.0)), 6).as("dup_frac"))
      .orderBy(col("doc_id").asc)
  }

  /** STREAMING CDC INGEST DEDUP — [[cdcDedup]] at the ingest front door
    * (the [[streamIngestDedup]] harness with content-defined chunks as
    * the index unit): the increment arrives as 4 ascending-doc_id
    * micro-batches; each foreachBatch (1) chunks its docs with the ONE
    * shared [[cdcChunksOf]] chunker, (2) probes the PERSISTED chunk-hash
    * index (corpus chunks seeded once + every earlier arrival — all of
    * which, by ascending arrival order, have strictly smaller doc_ids),
    * (3) resolves same-batch sharing against smaller-id peers, (4)
    * writes its per-doc report and only THEN appends its chunk hashes to
    * the index. A chunk instance is SHARED iff its chash was first
    * produced by a strictly smaller doc_id — so the streamed report
    * equals the batch rule "first_doc(chash) < doc_id" and the oracle
    * replays it in pure SQL over the whole table. Per-batch work is
    * bounded by the batch (broadcast probe + one append); the corpus is
    * chunked exactly once, to seed.
    */
  private def streamCdcDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val maxId = docs(s, d).agg(max(col("doc_id"))).collect().head.getLong(0)
    val split = maxId - maxId / 5
    val root = graft.TempDirs.scratch("graft-stream-cdc").toString
    val idxDir = s"$root/chunk_index"
    val outDir = s"$root/report"
    val srcDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/arrivals"))
    // seed the persisted chunk index with the already-ingested corpus
    // (from the shared fixture — chunking a doc subset equals filtering
    // the full chunk table, since chunk boundaries are per-doc)
    cdcChunksCkpt(s, d).filter(col("doc_id") < split)
      .select(col("doc_id"), col("chash"))
      .write.mode("overwrite").parquet(s"$idxDir/seed")
    // stage the increment as 4 ascending arrival files (one per batch)
    val span = maxId - split + 1
    val step = math.max(1L, span / 4 + (if (span % 4 == 0) 0L else 1L))
    val t0 = java.nio.file.Files.getLastModifiedTime(srcDir).toMillis
    (0 until 4).foreach { i =>
      val lo = split + i * step
      val stage = s"$root/stage$i"
      docs(s, d).filter(col("doc_id") >= lo && col("doc_id") < lo + step)
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(stage))) { st =>
        val found = st.filter(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet")).findFirst()
        require(found.isPresent, s"no parquet part file under $stage")
        found.get()
      }
      val dst = srcDir.resolve(f"batch$i%02d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
    }
    val srcSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    // cloned session scopes the shuffle override; per-batch b<id>
    // overwrite subdirs make retried micro-batches idempotent — same
    // discipline as [[streamIngestDedup]] (ADVICE r11)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val stream = ss.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
    locally {
      val q = stream.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          if (!batch.isEmpty) {
            val nc = cdcChunksOf(batch).persist()
            try {
              // index probe by chash alone: every indexed doc_id is
              // strictly smaller than any current-batch doc_id — which a
              // replay would violate through its own committed b<id>
              // subdir, so the probe lists-minus-own (ADVICE r12)
              val idxHit = batch.sparkSession.read
                .parquet(indexDirsExcept(idxDir, s"b$bid"): _*)
                .select(col("chash")).distinct()
                .withColumn("in_idx", lit(1))
              val peers = nc.select(col("doc_id").as("peer_id"), col("chash"))
                .distinct()
              val perChunk = nc
                .join(broadcast(idxHit), Seq("chash"), "left_outer")
                .join(broadcast(peers), Seq("chash"), "left_outer")
                .groupBy(col("doc_id"), col("chunk"))
                .agg(first(col("n_tok")).as("n_tok"),
                  (max(coalesce(col("in_idx"), lit(0))) === 1 ||
                    min(when(col("peer_id") < col("doc_id"), col("peer_id")))
                      .isNotNull).as("shared"))
              perChunk.groupBy(col("doc_id"))
                .agg(count(lit(1)).as("n_chunks"),
                  sum(when(col("shared"), 1L).otherwise(0L)).as("n_shared_chunks"),
                  sum(when(col("shared"), col("n_tok")).otherwise(0L))
                    .as("shared_tokens"))
                .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
                  col("shared_tokens"),
                  (col("n_shared_chunks") === col("n_chunks")).as("is_fully_dup"))
                .write.mode("overwrite").parquet(s"$outDir/b$bid")
              // probe done — NOW this batch's chunk hashes join the index
              nc.select(col("doc_id"), col("chash"))
                .write.mode("overwrite").parquet(s"$idxDir/b$bid")
            } finally { nc.unpersist(); () }
          }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.read.parquet(s"$outDir/*").orderBy(col("doc_id").asc)
  }

  /** STREAMING STORAGE DEDUP — `VectorEngine.dedupStorage`'s
    * content-addressing run AT the ingest front door: the WHOLE corpus
    * arrives as 4 ascending-doc_id micro-batches; each foreachBatch
    * (1) chunks its docs with the ONE shared chunker over the RAW
    * byte-reconstructible split, (2) probes the persisted blob store
    * (earlier subdirs only — listed-minus-own, the replay-idempotency
    * discipline) with the BATCH side broadcast, (3) writes its manifest
    * rows, and (4) writes ONLY the passages whose chash no earlier
    * arrival produced. First-arrival-wins equals the batch verb's
    * distinct-by-chash rule (identical md5 ⇒ identical text), so the
    * final stats row equals the batch replay and the oracle is the SAME
    * parameterized SQL as `x_engine_dedup_storage`. The entry also
    * REQUIRES byte-identical reassembly of every document from the
    * streamed manifest + blobs.
    *
    * 100 TB shape: per-batch work is batch-bounded (one chunking pass +
    * a broadcast-batch probe + two appends); the blob store is never
    * rescanned, rewritten, or broadcast.
    */
  private def streamDedupStorage(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val maxId = docs(s, d).agg(max(col("doc_id"))).collect().head.getLong(0)
    val root = graft.TempDirs.scratch("graft-stream-storage").toString
    val blobDir = s"$root/blobs"
    val manDir = s"$root/manifest"
    val srcDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/arrivals"))
    // empty seed so batch 0's listed-minus-own probe has a valid (empty)
    // blob store to read
    docs(s, d).limit(0)
      .select(md5(col("text")).as("chash"), col("text").as("ctext"))
      .write.mode("overwrite").parquet(s"$blobDir/seed")
    // the WHOLE corpus staged as 4 ascending arrival files
    val step = math.max(1L, (maxId + 1) / 4 + (if ((maxId + 1) % 4 == 0) 0L else 1L))
    val t0 = java.nio.file.Files.getLastModifiedTime(srcDir).toMillis
    (0 until 4).foreach { i =>
      val lo = i * step
      val stage = s"$root/stage$i"
      docs(s, d).filter(col("doc_id") >= lo && col("doc_id") < lo + step)
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(stage))) { st =>
        val found = st.filter(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet")).findFirst()
        require(found.isPresent, s"no parquet part file under $stage")
        found.get()
      }
      val dst = srcDir.resolve(f"batch$i%02d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
    }
    val srcSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val stream = ss.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
    locally {
      val q = stream.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          if (!batch.isEmpty) {
            val nc = graft.curation.CurationCore.cdcChunksOfTokens(
              batch.select(col("doc_id"),
                split(col("text"), " ", -1).as("tk")),
              "doc_id", withText = true).persist()
            try {
              nc.select(col("doc_id"), col("chunk").cast("long").as("seq"),
                  col("chash"))
                .write.mode("overwrite").parquet(s"$manDir/m$bid")
              // batch-distinct passages minus those an EARLIER arrival
              // already stored: the hit set is computed by broadcasting
              // the BATCH side (the blob store is never broadcast)
              val newHashes = nc.select(col("chash"), col("ctext"))
                .dropDuplicates("chash")
              val earlier = batch.sparkSession.read
                .parquet(indexDirsExcept(blobDir, s"b$bid"): _*)
                .select(col("chash"))
              val hitHashes = broadcast(newHashes.select(col("chash")))
                .join(earlier, Seq("chash")).distinct()
              newHashes
                .join(broadcast(hitHashes), Seq("chash"), "left_anti")
                .write.mode("overwrite").parquet(s"$blobDir/b$bid")
            } finally { nc.unpersist(); () }
          }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val man = s.read.parquet(s"$manDir/*")
    val blobs = s.read.parquet(s"$blobDir/*")
    // the storage contract, required loudly: every document reassembles
    // byte-identically from the streamed manifest + blob store
    val rebuilt = man.join(blobs, Seq("chash"))
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("seq"), col("ctext")))),
        x => x.getField("ctext")), " ").as("rtext"))
    val bad = rebuilt
      .join(docs(s, d).select(col("doc_id"), col("text")), Seq("doc_id"))
      .filter(col("rtext") =!= col("text")).count()
    require(bad == 0, s"$bad doc(s) failed byte-identical reassembly")
    docs(s, d).agg(count(lit(1)).cast("long").as("n_chunks"),
        coalesce(sum(length(col("text"))), lit(0L)).cast("long").as("text_bytes"))
      .crossJoin(man.agg(count(lit(1)).cast("long").as("n_passages")))
      .crossJoin(blobs.agg(count(lit(1)).cast("long").as("n_blobs"),
        coalesce(sum(length(col("ctext"))), lit(0L)).cast("long").as("blob_bytes")))
      .select(col("n_chunks"), col("n_passages"), col("n_blobs"),
        col("text_bytes"), col("blob_bytes"),
        (col("text_bytes") - col("blob_bytes")).as("saved_bytes"))
  }

  private val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"
  // word-8-gram window stream over a bound token-list column `tk`
  private val grams8Sql =
    """list_transform(generate_series(1, greatest(len(tk) - 7, 0)),
      |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
      |       tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])""".stripMargin.replace("\n", "")
  // word-3-gram shingles, 1-based list indexing
  /** The 10-round greedy max-coverage replay: per round, covered grams
    * (semi-join on the selected set), marginal counts (anti via
    * null-extended left join), argmax as ORDER BY ... LIMIT 1 — every
    * round MATERIALIZED (`g` feeds all ten, each selN feeds two).
    */
  private def greedyCoverOracleSql: String = {
    val K = 10
    val sb = new StringBuilder
    sb.append("WITH g AS MATERIALIZED (\n")
    sb.append(s"  SELECT doc_id, unnest(list_distinct(list_transform($shinglesSql,\n")
    sb.append("    s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))) AS gr\n")
    sb.append("  FROM documents),\n")
    sb.append("s1 AS MATERIALIZED (SELECT doc_id, count(*) AS gain FROM g GROUP BY 1 ORDER BY gain DESC, doc_id ASC LIMIT 1),\n")
    sb.append("sel1 AS MATERIALIZED (SELECT doc_id FROM s1)")
    for (r <- 2 to K) {
      sb.append(s""",
         |cov$r AS MATERIALIZED (SELECT DISTINCT gr FROM g JOIN sel${r - 1} USING (doc_id)),
         |s$r AS MATERIALIZED (SELECT g.doc_id, count(*) AS gain FROM g LEFT JOIN cov$r c ON g.gr = c.gr WHERE c.gr IS NULL GROUP BY 1 ORDER BY gain DESC, doc_id ASC LIMIT 1),
         |sel$r AS MATERIALIZED (SELECT doc_id FROM sel${r - 1} UNION ALL SELECT doc_id FROM s$r)""".stripMargin)
    }
    val unions = (1 to K).map(r => s"SELECT $r AS rank, doc_id, gain FROM s$r")
    sb.append("\nSELECT CAST(rank AS INTEGER) AS rank, doc_id, gain AS marginal_gain,\n")
    sb.append("       CAST(SUM(gain) OVER (ORDER BY rank ASC) AS BIGINT) AS covered_total\nFROM (\n")
    sb.append(unions.mkString("\nUNION ALL\n"))
    sb.append("\n) u ORDER BY rank ASC")
    sb.toString
  }

  private val shinglesSql =
    s"""list_transform(generate_series(1, greatest(len($toksSql) - 2, 0)),
       | i -> ($toksSql)[i] || ' ' || ($toksSql)[i+1] || ' ' || ($toksSql)[i+2])""".stripMargin.replace("\n", "")

  // distinct word-5-gram stream over a bound token-list column `tk` —
  // shared by the contamination, pipeline, and source-overlap oracles so
  // the gram arithmetic cannot drift between them
  private val grams5Sql =
    """unnest(list_distinct(list_transform(
      |  generate_series(1, greatest(len(tk) - 4, 0)),
      |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])))""".stripMargin.replace("\n", "")

  // shared policy CTE prefix for the two mixture oracles: per-source
  // counts, exact BIGINT token total, raw share p, nano-sqrt r9, exact
  // normalizer z9 — ONE copy so the policies cannot drift apart
  private val mixPolicySql =
    s"""src AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM src),
       |sc AS (
       |  SELECT source, n_docs, n_tokens, tot,
       |         CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS p
       |  FROM src CROSS JOIN tt),
       |r AS (SELECT sc.*, CAST(floor(sqrt(p) * 1e9) AS BIGINT) AS r9 FROM sc),
       |z AS (SELECT CAST(SUM(r9) AS BIGINT) AS z9 FROM r)""".stripMargin

  // numeric minhash mirror: hs = 28-bit md5 prefixes (computed once in a
  // CTE), sig_k = min universal hash with the SAME constants as
  // TextFunctions.MinhashAB
  private val hsSql =
    s"list_transform($shinglesSql, s -> CAST('0x' || substr(md5(s), 1, 7) AS BIGINT))"

  private def sigSql(k: Int): String = {
    val (a, b) = graft.functions.TextFunctions.MinhashAB(k)
    s"list_min(list_transform(hs, h -> (h * $a + $b) % ${graft.functions.TextFunctions.MinhashP}))"
  }

  private def bandRowsSql: String =
    (0 until BANDS).map { b =>
      s"""SELECT doc_id, $b AS band_id,
         | md5(CAST(${sigSql(2 * b)} AS VARCHAR) || ':' || CAST(${sigSql(2 * b + 1)} AS VARCHAR)) AS band_hash
         | FROM (SELECT doc_id, $hsSql AS hs FROM documents)""".stripMargin.replace("\n", "")
    }.mkString(" UNION ALL ")

  private val simhashSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
      |  FROM documents),
      |th AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok),
      |bits AS (
      |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM th, generate_series(0, 59) AS g(j) GROUP BY doc_id, j),
      |sh AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Shared by `d_incremental` and `e_stream_dedup_incremental`: the
    * batch-vs-index probe replayed as two band joins, with the split
    * replaying the Spark side's computed `max - max/5` threshold.
    */
  /** The CDC chunk derivation (tokens, boundary cuts, exclusive
    * running-sum chunk ids, reassembled chunk md5s) as CTEs over
    * `documents` — ONE copy shared by the `d_cdc_dedup` and
    * `e_stream_cdc_dedup` oracles so the chunker replay cannot drift.
    */
  /** The CDC chunk replay as DuckDB CTEs, parameterized by the token
    * expression and source relation — the SQL twin of
    * [[graft.curation.CurationCore.cdcChunksOfTokens]], shared by the
    * `d_cdc_dedup`/`e_stream_cdc_dedup` oracles (analysis tokenizer) and
    * the `x_engine_dedup_storage` oracle (raw split, with passage text)
    * so the boundary arithmetic cannot drift between them. Yields a CTE
    * `chunks(doc_id, chunk, n_tok, chash[, ctext])`.
    */
  private[queries] def cdcChunksCtesSqlOf(tokExpr: String, from: String,
      withText: Boolean = false): String = {
    val ctext = if (withText) ",\n         string_agg(tok, ' ' ORDER BY pos) AS ctext" else ""
    s"""tkf AS MATERIALIZED (
       |  SELECT doc_id, tk FROM (SELECT doc_id, $tokExpr AS tk FROM $from)
       |  WHERE len(tk) > 0),
       |tp AS (SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos,
       |         unnest(tk) AS tok FROM tkf),
       |cuts AS (
       |  SELECT doc_id, generate_subscripts(cs, 1) - 1 + ${CdcW - 1} AS pos,
       |         unnest(cs) AS cut
       |  FROM (SELECT doc_id,
       |          list_transform(range(1, len(tk) - ${CdcW - 2}),
       |            i -> CASE WHEN CAST('0x' || substr(md5(array_to_string(
       |                   list_slice(tk, i, i + ${CdcW - 1}), ' ')), 1, 15)
       |                   AS BIGINT) % $CdcMod = 0 THEN 1 ELSE 0 END) AS cs
       |        FROM tkf WHERE len(tk) >= $CdcW)),
       |tc AS (SELECT tp.doc_id, tp.pos, tp.tok,
       |         COALESCE(SUM(COALESCE(c.cut, 0)) OVER (
       |           PARTITION BY tp.doc_id ORDER BY tp.pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
       |       FROM tp LEFT JOIN cuts c ON c.doc_id = tp.doc_id AND c.pos = tp.pos),
       |chunks AS MATERIALIZED (
       |  SELECT doc_id, chunk, CAST(count(*) AS BIGINT) AS n_tok,
       |         md5(string_agg(tok, ' ' ORDER BY pos)) AS chash$ctext
       |  FROM tc GROUP BY doc_id, chunk)""".stripMargin
  }

  private lazy val cdcChunksCtesSql = cdcChunksCtesSqlOf(toksSql, "documents")

  /** The storage-dedup stats-row replay, parameterized by the base
    * (doc_id, text) relation — ONE template for `x_engine_dedup_storage`
    * (base = the engine fixture's ingested docs) and
    * `e_stream_dedup_storage` (base = the whole documents table), so the
    * stream == batch contract is enforced by construction: raw-split CDC
    * (empties preserved), blobs = distinct passages, byte totals.
    */
  private[queries] def cdcStorageStatsSql(baseSql: String): String =
    s"""WITH base AS MATERIALIZED ($baseSql),
       |${cdcChunksCtesSqlOf("string_split(text, ' ')", "base",
           withText = true)},
       |blobs AS (SELECT DISTINCT chash, ctext FROM chunks)
       |SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS n_chunks,
       |       CAST((SELECT count(*) FROM chunks) AS BIGINT) AS n_passages,
       |       CAST((SELECT count(*) FROM blobs) AS BIGINT) AS n_blobs,
       |       CAST((SELECT coalesce(SUM(len(text)), 0) FROM base) AS BIGINT) AS text_bytes,
       |       CAST((SELECT coalesce(SUM(len(ctext)), 0) FROM blobs) AS BIGINT) AS blob_bytes,
       |       CAST((SELECT coalesce(SUM(len(text)), 0) FROM base)
       |         - (SELECT coalesce(SUM(len(ctext)), 0) FROM blobs) AS BIGINT) AS saved_bytes""".stripMargin

  private lazy val incrementalSql =
    s"""WITH bands AS ($bandRowsSql),
       |sp AS (SELECT max(doc_id) - max(doc_id) // 5 AS s FROM documents),
       |nb AS (SELECT doc_id, band_id, band_hash FROM bands
       |       WHERE doc_id >= (SELECT s FROM sp)),
       |ob AS (SELECT doc_id, band_id, band_hash FROM bands
       |       WHERE doc_id < (SELECT s FROM sp)),
       |oc AS (
       |  SELECT nb.doc_id, min(ob.doc_id) AS c
       |  FROM nb JOIN ob USING (band_id, band_hash) GROUP BY nb.doc_id),
       |ib AS (
       |  SELECT a.doc_id, min(b.doc_id) AS c
       |  FROM nb a JOIN nb b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |       AND b.doc_id < a.doc_id
       |  GROUP BY a.doc_id)
       |SELECT d.doc_id,
       |       coalesce(oc.c, -1) AS dup_of_corpus,
       |       coalesce(ib.c, -1) AS dup_in_batch,
       |       oc.c IS NULL AND ib.c IS NULL AS is_new_unique
       |FROM documents d LEFT JOIN oc USING (doc_id) LEFT JOIN ib USING (doc_id)
       |WHERE d.doc_id >= (SELECT s FROM sp)
       |ORDER BY doc_id ASC""".stripMargin

  /** The five-stage capstone's CTE chain (token lists, exact keep, band
    * clusters via recursive reachability, decontamination, quality) —
    * ONE copy shared by the `d_pipeline_e2e` and `d_pipeline_full`
    * oracles so the stage arithmetic cannot drift between them.
    */
  private lazy val pipelineCtesSql = pipelineCtesOver("TRUE")

  /** The five-stage pipeline replay over a PREDICATE-bounded documents
    * corpus (`docs0`) — the engine curate-strip entry composes it over a
    * 1.5k-doc slice; "TRUE" is the classic full-corpus form the
    * d_pipeline entries use.
    */
  private[queries] def pipelineCtesOver(pred: String): String =
    s"""docs0 AS (SELECT * FROM documents WHERE $pred),
       |tk AS (SELECT doc_id, $toksSql AS tk FROM docs0),
       |ex AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS k
       |    FROM docs0) WHERE k),
       |bands AS (SELECT * FROM ($bandRowsSql)
       |           WHERE doc_id IN (SELECT doc_id FROM docs0)),
       |cpairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cpairs
       |  UNION ALL SELECT doc_b, doc_a FROM cpairs),
       |reach(v, l) AS (
       |  SELECT doc_id, doc_id FROM docs0
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
       |cl AS (SELECT v AS doc_id FROM reach GROUP BY v HAVING v = min(l)),
       |g AS (SELECT doc_id, $grams5Sql AS g FROM tk),
       |bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
       |contam AS (
       |  SELECT DISTINCT t.doc_id FROM g t JOIN bench b USING (g)
       |  WHERE t.doc_id >= 20),
       |clean AS (
       |  SELECT doc_id FROM docs0
       |  WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |tokc AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |         CAST(MAX(c) AS BIGINT) AS max_tok FROM (
       |    SELECT doc_id, t, count(*) AS c FROM (
       |      SELECT doc_id, unnest(tk) AS t FROM tk) GROUP BY doc_id, t)
       |  GROUP BY doc_id),
       |bgc AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |         CAST(MAX(c) AS BIGINT) AS max_bg FROM (
       |    SELECT doc_id, g2, count(*) AS c FROM (
       |      SELECT doc_id,
       |             unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
       |               i -> tk[i] || ' ' || tk[i+1])) AS g2
       |      FROM tk) GROUP BY doc_id, g2)
       |  GROUP BY doc_id),
       |qual AS (
       |  SELECT doc_id FROM (
       |    SELECT d.doc_id,
       |           ${rndSql("coalesce(CAST(t.max_tok AS DOUBLE) / t.n_tokens, 0.0)", 6)} AS f1,
       |           ${rndSql("coalesce(CAST(b.max_bg AS DOUBLE) / b.n_bigrams, 0.0)", 6)} AS f2
       |    FROM docs0 d LEFT JOIN tokc t USING (doc_id)
       |         LEFT JOIN bgc b USING (doc_id))
       |  WHERE f1 <= 0.2 AND f2 <= 0.18)""".stripMargin

  /** The multi-scale span-strip replay (tks → cov → kept → agg) over a
    * predicate-bounded corpus — ONE template shared by the
    * d_span_strip_multi oracle ("TRUE") and the engine curate-strip
    * composition (mirrors CurationCore.spanStripCountsOf).
    */
  private[queries] def spanStripCtesOver(pred: String): String =
    s"""tks AS (SELECT doc_id, $toksSql AS tk FROM documents WHERE $pred),
         |gt8 AS (
         |  SELECT doc_id, p, array_to_string(list_slice(tk, p, p + 7), ' ') AS g
         |  FROM (SELECT doc_id, tk,
         |               unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS p
         |        FROM tks)),
         |hot8 AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gt8)
         |         GROUP BY g HAVING count(*) >= 2),
         |gt32 AS (
         |  SELECT doc_id, p, array_to_string(list_slice(tk, p, p + 31), ' ') AS g
         |  FROM (SELECT doc_id, tk,
         |               unnest(generate_series(1, greatest(len(tk) - 31, 0))) AS p
         |        FROM tks)),
         |hot32 AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gt32)
         |          GROUP BY g HAVING count(*) >= 2),
         |gt64 AS (
         |  SELECT doc_id, p, array_to_string(list_slice(tk, p, p + 63), ' ') AS g
         |  FROM (SELECT doc_id, tk,
         |               unnest(generate_series(1, greatest(len(tk) - 63, 0))) AS p
         |        FROM tks)),
         |hot64 AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gt64)
         |          GROUP BY g HAVING count(*) >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT gt8.doc_id, unnest(generate_series(gt8.p, gt8.p + 7)) AS pos
         |    FROM gt8 JOIN hot8 USING (g)
         |    UNION ALL
         |    SELECT gt32.doc_id, unnest(generate_series(gt32.p, gt32.p + 31)) AS pos
         |    FROM gt32 JOIN hot32 USING (g)
         |    UNION ALL
         |    SELECT gt64.doc_id, unnest(generate_series(gt64.p, gt64.p + 63)) AS pos
         |    FROM gt64 JOIN hot64 USING (g))),
         |tok AS (
         |  SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
         |  FROM tks),
         |kept AS (
         |  SELECT t.doc_id, t.i, t.tk[t.i] AS tok
         |  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.i
         |  WHERE c.doc_id IS NULL),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |         array_to_string(list(tok ORDER BY i ASC), ' ') AS stripped
         |  FROM kept GROUP BY doc_id)""".stripMargin

  /** The first-occurrence substring strip replayed over ONE concatenated
    * doc_id-ordered token stream, yielding per-doc kept counts `kc2` —
    * the SQL mirror of [[graft.curation.CurationCore
    * .substringStripCountsOf]] when the shard is a single DOCUMENT whose
    * units are its chunks in (position, id) order, which is exactly the
    * engine curate fixture's shape (one document, ids in doc_id order).
    * Same hash60 hot rule / run grouping / span md5 / rank-by-start
    * pipeline as the `d_substring_strip` oracle, with the per-shard
    * CTEs collapsed to the one stream.
    */
  private[queries] def substringStripStreamCtes(pred: String): String =
    s"""sdoc AS (SELECT doc_id, $toksSql AS tk FROM documents WHERE $pred),
       |soff AS (
       |  SELECT doc_id, tk,
       |         COALESCE(SUM(len(tk)) OVER (ORDER BY doc_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM sdoc),
       |stp AS MATERIALIZED (
       |  SELECT doc_id, off + generate_subscripts(tk, 1) - 1 AS gpos,
       |         unnest(tk) AS tok
       |  FROM soff),
       |sall AS MATERIALIZED (
       |  SELECT list(tok ORDER BY gpos ASC) AS tk FROM stp),
       |sbase AS MATERIALIZED (
       |  SELECT generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS h
       |  FROM (SELECT list_transform(range(1, len(tk) - ${SubL - 2}),
       |          i -> CAST('0x' || substr(md5(array_to_string(
       |            list_slice(tk, i, i + ${SubL - 1}), ' ')), 1, 15) AS BIGINT)) AS hs
       |        FROM sall WHERE len(tk) >= $SubL)),
       |shot AS (SELECT h FROM sbase GROUP BY h HAVING count(*) >= 2),
       |smp AS (SELECT DISTINCT pos FROM sbase JOIN shot USING (h)),
       |sruns AS (
       |  SELECT min(pos) AS start, max(pos) AS endp
       |  FROM (SELECT pos, pos - row_number() OVER (ORDER BY pos ASC) AS grp
       |        FROM smp)
       |  GROUP BY grp),
       |sspans AS MATERIALIZED (
       |  SELECT r.start, r.endp + ${SubL - 1} AS xend,
       |         md5(array_to_string(list_slice(a.tk, CAST(r.start + 1 AS INT),
       |           CAST(r.endp + $SubL AS INT)), ' ')) AS span_md5
       |  FROM sruns r, sall a),
       |sstrip AS (
       |  SELECT DISTINCT gpos FROM (
       |    SELECT unnest(range(start, xend + 1)) AS gpos
       |    FROM (SELECT start, xend,
       |            row_number() OVER (PARTITION BY span_md5
       |              ORDER BY start ASC) AS rn
       |          FROM sspans)
       |    WHERE rn > 1)),
       |skept AS (SELECT t.doc_id FROM stp t LEFT JOIN sstrip s
       |            ON s.gpos = t.gpos
       |          WHERE s.gpos IS NULL),
       |kc2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept2
       |        FROM skept GROUP BY doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d_ngram_novelty" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform($shinglesSql,
         |           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))) AS g
         |  FROM documents),
         |fd AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g)
         |SELECT doc_id, count(*) AS n_grams,
         |       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       CAST((1000000 * SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS novelty_ppm
         |FROM g JOIN fd USING (g)
         |GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin,
    "d_priority_sample" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |           // 1048576 AS h40
        |  FROM documents),
        |pr AS (SELECT doc_id, w,
        |         (w * 1099511627776) // greatest(h40, 1) AS priority FROM p),
        |r AS (SELECT row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rank,
        |             doc_id, w, priority FROM pr)
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id, w, priority
        |FROM r WHERE rank <= 64 ORDER BY rank ASC""".stripMargin,
    // d_banding_recall: truth replayed brute-force (the d_prefix_join
    // core), candidates from the band SQL, counts joined pairwise
    "d_banding_recall" ->
      s"""WITH bands AS ($bandRowsSql),
         |cp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |       AND a.doc_id < b.doc_id),
         |ss AS (SELECT doc_id,
         |         list_distinct(list_transform($shinglesSql,
         |           g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT))) AS tset
         |       FROM documents),
         |tp AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(len(list_filter(a.tset, x -> list_contains(b.tset, x))) AS BIGINT) AS inter,
         |         CAST(len(a.tset) AS BIGINT) AS na, CAST(len(b.tset) AS BIGINT) AS nb
         |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id),
         |t AS (SELECT doc_a, doc_b FROM tp
         |      WHERE na + nb - inter > 0 AND 5 * inter >= 4 * (na + nb - inter)),
         |agg AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_truth,
         |         (SELECT CAST(count(*) AS BIGINT) FROM cp) AS n_cand,
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM t JOIN cp USING (doc_a, doc_b)) AS n_hit)
         |SELECT n_truth, n_cand, n_hit,
         |       CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
         |            ELSE (n_hit * 1000000) // n_truth END AS recall_ppm
         |FROM agg""".stripMargin,
    // d_containment: bands -> candidate pairs -> shingle sets -> both
    // asymmetric divisions, replayed end-to-end
    "d_containment" ->
      s"""WITH bands AS ($bandRowsSql),
         |cp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |       AND a.doc_id < b.doc_id),
         |ss AS (SELECT doc_id,
         |         list_distinct(list_transform($shinglesSql,
         |           g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT))) AS sset
         |       FROM documents),
         |p AS (SELECT doc_a, doc_b,
         |        CAST(len(sa.sset) AS BIGINT) AS na,
         |        CAST(len(sb.sset) AS BIGINT) AS nb,
         |        CAST(len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS BIGINT) AS inter
         |      FROM cp JOIN ss sa ON sa.doc_id = cp.doc_a
         |              JOIN ss sb ON sb.doc_id = cp.doc_b),
         |c AS (SELECT doc_a, doc_b, na, nb, inter,
         |        CASE WHEN na = 0 THEN CAST(0 AS BIGINT)
         |             ELSE (inter * 1000000) // na END AS c_ab6,
         |        CASE WHEN nb = 0 THEN CAST(0 AS BIGINT)
         |             ELSE (inter * 1000000) // nb END AS c_ba6
         |      FROM p)
         |SELECT doc_a, doc_b, na, nb, inter, c_ab6, c_ba6,
         |       CASE WHEN c_ab6 >= 900000 AND c_ba6 >= 900000 THEN 'mutual'
         |            WHEN c_ab6 >= 900000 THEN 'a_in_b'
         |            WHEN c_ba6 >= 900000 THEN 'b_in_a'
         |            ELSE 'partial' END AS relation
         |FROM c ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    // d_prefix_join: BRUTE-FORCE all-pairs — deliberately a different
    // algorithm from the engine's prefix filter; the hash match proves
    // the filter is lossless at the 0.5 threshold.
    "d_prefix_join" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform($shinglesSql,
        |           tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT))) AS tset
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(len(list_filter(a.tset, x -> list_contains(b.tset, x))) AS BIGINT) AS inter,
        |         CAST(len(a.tset) AS BIGINT) AS na, CAST(len(b.tset) AS BIGINT) AS nb
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, na, nb, inter,
        |       (inter * 1000000) // (na + nb - inter) AS j6
        |FROM p
        |WHERE na + nb - inter > 0 AND 5 * inter >= 4 * (na + nb - inter)
        |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    "d_exact" ->
      """WITH f AS (SELECT doc_id, md5(text) AS h FROM documents)
        |SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS canonical_id,
        |       doc_id <> min(doc_id) OVER (PARTITION BY h) AS is_dup
        |FROM f ORDER BY doc_id ASC""".stripMargin,
    "d_exact_norm" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS h
        |  FROM documents)
        |SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS canonical_id,
        |       doc_id <> min(doc_id) OVER (PARTITION BY h) AS is_dup
        |FROM f ORDER BY doc_id ASC""".stripMargin,
    "d_minhash_bands" ->
      s"SELECT doc_id, band_id, band_hash FROM ($bandRowsSql) ORDER BY doc_id ASC, band_id ASC",
    "d_minhash_pairs" ->
      s"""WITH bands AS ($bandRowsSql)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    "d_edit_dedup" ->
      s"""WITH bands AS ($bandRowsSql),
         |cp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |       AND a.doc_id < b.doc_id),
         |tx AS (
         |  SELECT doc_id,
         |         substr(trim(regexp_replace(regexp_replace(lower(text),
         |           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 2048) AS t
         |  FROM documents),
         |sc AS (
         |  SELECT doc_a, doc_b,
         |         CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS lev,
         |         CAST(greatest(length(ta.t), length(tb.t)) AS BIGINT) AS maxlen
         |  FROM cp JOIN tx ta ON ta.doc_id = cp.doc_a
         |          JOIN tx tb ON tb.doc_id = cp.doc_b)
         |SELECT doc_a, doc_b, lev, maxlen,
         |       (lev * 1000000) // greatest(maxlen, 1) AS ratio_ppm,
         |       (lev * 1000000) // greatest(maxlen, 1) <= 300000 AS is_dup
         |FROM sc ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    "d_greedy_cover" -> greedyCoverOracleSql,
    // substring dedup: the long-doc shard derivation (string_agg ORDER BY
    // = the Spark sorted-struct concat), positioned 20-gram hash60s, hot
    // set by corpus-wide occurrence count, consecutive-start run merge
    // via the same pos - row_number graining, and the covered-position
    // explode — full end-to-end replay
    "d_substring_dedup" ->
      s"""WITH ld AS MATERIALIZED (
         |  SELECT doc_id % $SubG AS ldoc_id,
         |         string_agg(text, ' ' ORDER BY doc_id) AS text
         |  FROM documents GROUP BY 1),
         |tkc AS (SELECT ldoc_id, $toksSql AS tk FROM ld),
         |base AS MATERIALIZED (
         |  SELECT ldoc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |         generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS h
         |  FROM (SELECT ldoc_id, tk,
         |          list_transform(range(1, len(tk) - ${SubL - 2}),
         |            i -> CAST('0x' || substr(md5(array_to_string(
         |              list_slice(tk, i, i + ${SubL - 1}), ' ')), 1, 15) AS BIGINT)) AS hs
         |        FROM tkc WHERE len(tk) >= $SubL)),
         |hot AS (SELECT h FROM base GROUP BY h HAVING count(*) >= 2),
         |mp AS MATERIALIZED (
         |  SELECT DISTINCT ldoc_id, pos FROM base JOIN hot USING (h)),
         |nr AS (SELECT ldoc_id, CAST(count(DISTINCT pos - rn) AS BIGINT) AS n_runs
         |       FROM (SELECT ldoc_id, pos,
         |               row_number() OVER (PARTITION BY ldoc_id ORDER BY pos) AS rn
         |             FROM mp)
         |       GROUP BY ldoc_id),
         |cov AS (SELECT ldoc_id, CAST(count(*) AS BIGINT) AS dup_tokens
         |        FROM (SELECT DISTINCT ldoc_id, pos + i AS p
         |              FROM mp CROSS JOIN (SELECT unnest(range(0, $SubL)) AS i) u)
         |        GROUP BY ldoc_id),
         |nw AS (SELECT ldoc_id, CAST(count(*) AS BIGINT) AS n_dup_wins
         |       FROM mp GROUP BY ldoc_id),
         |nd AS (SELECT DISTINCT ldoc_id, n_tokens FROM base)
         |SELECT nd.ldoc_id, nd.n_tokens,
         |       CAST(coalesce(nw.n_dup_wins, 0) AS BIGINT) AS n_dup_wins,
         |       CAST(coalesce(nr.n_runs, 0) AS BIGINT) AS n_runs,
         |       CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |       ${rndSql("coalesce(CAST(cov.dup_tokens AS DOUBLE) / nd.n_tokens, 0.0)", 6)} AS dup_frac
         |FROM nd LEFT JOIN nw USING (ldoc_id) LEFT JOIN nr USING (ldoc_id)
         |     LEFT JOIN cov USING (ldoc_id)
         |ORDER BY ldoc_id ASC""".stripMargin,
    // top repeated substrings: same run derivation, then each maximal
    // extent rehydrated with list_slice from the shard's token list and
    // md5-fingerprinted; identical passages grouped across shards
    "d_substring_top" ->
      s"""WITH ld AS MATERIALIZED (
         |  SELECT doc_id % $SubG AS ldoc_id,
         |         string_agg(text, ' ' ORDER BY doc_id) AS text
         |  FROM documents GROUP BY 1),
         |tkc AS MATERIALIZED (SELECT ldoc_id, $toksSql AS tk FROM ld),
         |base AS MATERIALIZED (
         |  SELECT ldoc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS h
         |  FROM (SELECT ldoc_id, tk,
         |          list_transform(range(1, len(tk) - ${SubL - 2}),
         |            i -> CAST('0x' || substr(md5(array_to_string(
         |              list_slice(tk, i, i + ${SubL - 1}), ' ')), 1, 15) AS BIGINT)) AS hs
         |        FROM tkc WHERE len(tk) >= $SubL)),
         |hot AS (SELECT h FROM base GROUP BY h HAVING count(*) >= 2),
         |mp AS (SELECT DISTINCT ldoc_id, pos FROM base JOIN hot USING (h)),
         |runs AS (
         |  SELECT ldoc_id, min(pos) AS start, max(pos) AS endp
         |  FROM (SELECT ldoc_id, pos,
         |          pos - row_number() OVER (PARTITION BY ldoc_id ORDER BY pos) AS grp
         |        FROM mp)
         |  GROUP BY ldoc_id, grp),
         |spans AS (
         |  SELECT r.ldoc_id, r.start, r.endp + ${SubL - 1} AS xend,
         |         md5(array_to_string(
         |           list_slice(t.tk, CAST(r.start + 1 AS INT),
         |             CAST(r.endp + $SubL AS INT)), ' ')) AS span_md5
         |  FROM runs r JOIN tkc t USING (ldoc_id))
         |SELECT span_md5,
         |       CAST(xend - start + 1 AS BIGINT) AS span_tokens,
         |       CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(count(DISTINCT ldoc_id) AS BIGINT) AS n_shards
         |FROM spans
         |GROUP BY span_md5, xend - start + 1
         |ORDER BY span_tokens DESC, span_md5 ASC
         |LIMIT 20""".stripMargin,
    // substring strip: same run/span derivation as _top, first occurrence
    // per passage md5 by (ldoc_id, start), non-first extents exploded to
    // a strip set (range() with column bounds is a scalar list fn), one
    // anti-join, per-shard reassembly md5
    "d_substring_strip" ->
      s"""WITH ld AS MATERIALIZED (
         |  SELECT doc_id % $SubG AS ldoc_id,
         |         string_agg(text, ' ' ORDER BY doc_id) AS text
         |  FROM documents GROUP BY 1),
         |tkc AS MATERIALIZED (SELECT ldoc_id, $toksSql AS tk FROM ld),
         |base AS MATERIALIZED (
         |  SELECT ldoc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS h
         |  FROM (SELECT ldoc_id, tk,
         |          list_transform(range(1, len(tk) - ${SubL - 2}),
         |            i -> CAST('0x' || substr(md5(array_to_string(
         |              list_slice(tk, i, i + ${SubL - 1}), ' ')), 1, 15) AS BIGINT)) AS hs
         |        FROM tkc WHERE len(tk) >= $SubL)),
         |hot AS (SELECT h FROM base GROUP BY h HAVING count(*) >= 2),
         |mp AS (SELECT DISTINCT ldoc_id, pos FROM base JOIN hot USING (h)),
         |runs AS (
         |  SELECT ldoc_id, min(pos) AS start, max(pos) AS endp
         |  FROM (SELECT ldoc_id, pos,
         |          pos - row_number() OVER (PARTITION BY ldoc_id ORDER BY pos) AS grp
         |        FROM mp)
         |  GROUP BY ldoc_id, grp),
         |spans AS MATERIALIZED (
         |  SELECT r.ldoc_id, r.start, r.endp + ${SubL - 1} AS xend,
         |         md5(array_to_string(
         |           list_slice(t.tk, CAST(r.start + 1 AS INT),
         |             CAST(r.endp + $SubL AS INT)), ' ')) AS span_md5
         |  FROM runs r JOIN tkc t USING (ldoc_id)),
         |strp AS (
         |  SELECT DISTINCT ldoc_id, gpos FROM (
         |    SELECT ldoc_id, unnest(range(start, xend + 1)) AS gpos
         |    FROM (SELECT ldoc_id, start, xend,
         |            row_number() OVER (PARTITION BY span_md5
         |              ORDER BY ldoc_id, start) AS rn
         |          FROM spans)
         |    WHERE rn > 1)),
         |tp AS (SELECT ldoc_id, generate_subscripts(tk, 1) - 1 AS gpos,
         |         unnest(tk) AS tok FROM tkc),
         |kept AS (SELECT tp.ldoc_id, tp.gpos, tp.tok
         |         FROM tp LEFT JOIN strp s
         |           ON s.ldoc_id = tp.ldoc_id AND s.gpos = tp.gpos
         |         WHERE s.gpos IS NULL),
         |ka AS (SELECT ldoc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         md5(string_agg(tok, ' ' ORDER BY gpos)) AS stripped_md5
         |       FROM kept GROUP BY ldoc_id),
         |nt AS (SELECT ldoc_id, CAST(len(tk) AS BIGINT) AS n_tokens
         |       FROM tkc WHERE len(tk) > 0)
         |SELECT nt.ldoc_id, nt.n_tokens,
         |       CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
         |       CAST(nt.n_tokens - coalesce(ka.n_kept, 0) AS BIGINT) AS n_stripped,
         |       coalesce(ka.stripped_md5, '') AS stripped_md5
         |FROM nt LEFT JOIN ka USING (ldoc_id)
         |ORDER BY ldoc_id ASC""".stripMargin,
    // CDC dedup: boundary placement (trailing-4-gram hash60 mod 16),
    // exclusive running-sum chunk ids, chunk reassembly + md5, hot set
    // by distinct-doc count — the whole pipeline replayed
    "d_cdc_dedup" ->
      s"""WITH $cdcChunksCtesSql,
         |hot AS (SELECT chash FROM (SELECT DISTINCT chash, doc_id FROM chunks)
         |        GROUP BY chash HAVING count(*) >= 2),
         |marked AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_dup_chunks,
         |             CAST(SUM(c.n_tok) AS BIGINT) AS dup_tokens
         |           FROM chunks c JOIN hot USING (chash) GROUP BY c.doc_id),
         |nc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
         |       FROM chunks GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tkf)
         |SELECT nt.doc_id, nt.n_tokens, nc.n_chunks,
         |       CAST(coalesce(marked.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
         |       CAST(coalesce(marked.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |       ${rndSql("coalesce(CAST(marked.dup_tokens AS DOUBLE) / nt.n_tokens, 0.0)", 6)} AS dup_frac
         |FROM nt JOIN nc USING (doc_id) LEFT JOIN marked USING (doc_id)
         |ORDER BY doc_id ASC""".stripMargin,
    "d_minhash_eval" ->
      s"""WITH bands AS ($bandRowsSql),
         |cp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |       AND a.doc_id < b.doc_id),
         |ss AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform($shinglesSql,
         |           g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT))) AS sset
         |  FROM documents),
         |jp AS (
         |  SELECT len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS inter,
         |         len(sa.sset) AS na, len(sb.sset) AS nb
         |  FROM cp JOIN ss sa ON sa.doc_id = cp.doc_a
         |          JOIN ss sb ON sb.doc_id = cp.doc_b),
         |j AS (
         |  SELECT CAST(floor((CASE WHEN na + nb - inter = 0 THEN 0.0
         |           ELSE CAST(inter AS DOUBLE) / (na + nb - inter) END)
         |           * 1000000.0 + 0.5) AS BIGINT) AS j6
         |  FROM jp),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(coalesce(SUM(CASE WHEN j6 >= 500000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_j50,
         |         CAST(coalesce(SUM(CASE WHEN j6 >= 300000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_j30,
         |         CAST(coalesce(SUM(j6), 0) AS BIGINT) AS sum_j6
         |  FROM j)
         |SELECT n_pairs, n_j50, n_j30, sum_j6,
         |       ${rndSql("coalesce(CAST(n_j50 AS DOUBLE) / n_pairs, 0.0)", 6)} AS prec50,
         |       ${rndSql("coalesce(CAST(n_j30 AS DOUBLE) / n_pairs, 0.0)", 6)} AS prec30
         |FROM agg""".stripMargin,
    // d_incremental: the batch-vs-index probe replayed as two band joins;
    // the split replays the Spark side's computed max - max/5 threshold.
    // e_stream_dedup_incremental streams the SAME increment through
    // micro-batches and must converge to the identical report, so it
    // shares this SQL verbatim.
    "d_incremental" -> incrementalSql,
    "e_stream_dedup_incremental" -> incrementalSql,
    // streamed CDC ingest report == the batch rule "chunk shared iff its
    // chash was first produced by a strictly smaller doc_id" (ascending
    // arrival order makes index + peer probes exactly that predicate)
    // streaming storage dedup: first-arrival-wins equals the batch
    // distinct-by-chash rule, so the final stats row replays with the
    // SAME parameterized template as x_engine_dedup_storage, base = the
    // whole documents table
    "e_stream_dedup_storage" ->
      cdcStorageStatsSql("SELECT doc_id, text FROM documents"),
    "e_stream_cdc_dedup" ->
      s"""WITH $cdcChunksCtesSql,
         |sp AS (SELECT max(doc_id) - max(doc_id) // 5 AS s FROM documents),
         |fd AS (SELECT chash, min(doc_id) AS fdoc FROM chunks GROUP BY chash),
         |rep AS (
         |  SELECT c.doc_id,
         |         CAST(count(*) AS BIGINT) AS n_chunks,
         |         CAST(SUM(CASE WHEN f.fdoc < c.doc_id THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_shared_chunks,
         |         CAST(SUM(CASE WHEN f.fdoc < c.doc_id THEN c.n_tok ELSE 0 END)
         |           AS BIGINT) AS shared_tokens
         |  FROM chunks c JOIN fd f USING (chash)
         |  WHERE c.doc_id >= (SELECT s FROM sp)
         |  GROUP BY c.doc_id)
         |SELECT doc_id, n_chunks, n_shared_chunks, shared_tokens,
         |       n_shared_chunks = n_chunks AS is_fully_dup
         |FROM rep
         |ORDER BY doc_id ASC""".stripMargin,
    // d_dup_clusters: connected components replayed as a recursive
    // reachability CTE — every doc's cluster is the min doc_id whose
    // label can reach it along the (undirected) candidate-pair edges.
    "d_dup_clusters" ->
      s"""WITH RECURSIVE bands AS ($bandRowsSql),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(v, l) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |lab AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v)
         |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
         |FROM lab ORDER BY doc_id ASC""".stripMargin,
    // d_dup_resolve: the same reachability clusters, canonical chosen by
    // (source tier asc, doc_id asc) within each cluster
    "d_dup_resolve" ->
      s"""WITH RECURSIVE bands AS ($bandRowsSql),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(v, l) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |lab AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v)
         |SELECT doc_id, cluster_id, source, tier, canonical_id,
         |       doc_id = canonical_id AS is_kept
         |FROM (
         |  SELECT l.doc_id, l.cluster_id, d.source,
         |         CAST(substr(d.source, 4) AS INT) % 3 AS tier,
         |         first_value(l.doc_id) OVER (PARTITION BY l.cluster_id
         |           ORDER BY CAST(substr(d.source, 4) AS INT) % 3 ASC,
         |                    l.doc_id ASC) AS canonical_id
         |  FROM lab l JOIN documents d USING (doc_id))
         |ORDER BY doc_id ASC""".stripMargin,
    // d_pipeline_e2e: every stage's predicate recomputed and composed —
    // the per-stage accounting must match the Spark DAG number for number
    "d_pipeline_e2e" ->
      s"""WITH RECURSIVE $pipelineCtesSql,
         |flags AS (
         |  SELECT d.doc_id, CAST(len(t2.tk) AS BIGINT) AS n_tok,
         |         CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_exact,
         |         CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_cluster,
         |         CASE WHEN cn.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_clean,
         |         CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_quality
         |  FROM documents d
         |  JOIN tk t2 ON t2.doc_id = d.doc_id
         |  LEFT JOIN ex ON ex.doc_id = d.doc_id
         |  LEFT JOIN cl ON cl.doc_id = d.doc_id
         |  LEFT JOIN clean cn ON cn.doc_id = d.doc_id
         |  LEFT JOIN qual q ON q.doc_id = d.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(SUM(f_exact) AS BIGINT) AS n_exact,
         |       CAST(SUM(f_cluster) AS BIGINT) AS n_cluster,
         |       CAST(SUM(f_clean) AS BIGINT) AS n_clean,
         |       CAST(SUM(f_quality) AS BIGINT) AS n_quality,
         |       CAST(SUM(f_exact*f_cluster*f_clean*f_quality) AS BIGINT) AS n_survivors,
         |       CAST(SUM(f_exact*f_cluster*f_clean*f_quality*n_tok) AS BIGINT) AS n_tokens_kept,
         |       CAST((SUM(f_exact*f_cluster*f_clean*f_quality*n_tok) + 511) // 512 AS BIGINT) AS n_sequences
         |FROM flags""".stripMargin,
    // d_pipeline_full: the five-stage chain plus the mixture ppm
    // threshold (content-addressed membership: hash60 of md5(text)) and
    // the DSIR positive-log-ratio keep — stage arithmetic lifted
    // verbatim from the d_mixture_sample / d_dsir oracles (CTEs renamed
    // d* to avoid colliding with the pipeline's tk)
    "d_pipeline_full" ->
      s"""WITH RECURSIVE $pipelineCtesSql,
         |$mixPolicySql,
         |mixpol AS (
         |  SELECT source,
         |         CAST(floor(least(1.0,
         |           CAST(r9 AS DOUBLE) / CAST(z9 AS DOUBLE)
         |             * CAST(tot // 2 AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS keep_ppm
         |  FROM r CROSS JOIN z),
         |mix AS (
         |  SELECT d.doc_id FROM documents d JOIN mixpol p USING (source)
         |  WHERE CAST('0x' || substr(md5(md5(d.text)), 1, 15) AS BIGINT) % 1000000 < p.keep_ppm),
         |dtk AS (SELECT doc_id, source, unnest($toksSql) AS tok FROM documents),
         |dcc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cc FROM dtk GROUP BY tok),
         |dct AS (SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM dtk
         |        WHERE source = '${graft.curation.CurationCore.DefaultDsirTarget}' GROUP BY tok),
         |dtot AS (SELECT CAST(SUM(cc) AS BIGINT) AS nc, CAST(count(*) AS BIGINT) AS v FROM dcc),
         |dtt AS (SELECT CAST(coalesce(SUM(ct), 0) AS BIGINT) AS nt FROM dct),
         |dkeep AS (
         |  SELECT doc_id FROM (
         |    SELECT t.doc_id,
         |           CAST(floor(ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)
         |               / CAST(nt + v AS DOUBLE)) * 1000000000.0) AS BIGINT)
         |           - CAST(floor(ln(CAST(cc + 1 AS DOUBLE)
         |               / CAST(nc + v AS DOUBLE)) * 1000000000.0) AS BIGINT) AS c9
         |    FROM dtk t JOIN dcc USING (tok) LEFT JOIN dct USING (tok), dtot, dtt)
         |  GROUP BY doc_id HAVING CAST(SUM(c9) AS BIGINT) > 0),
         |flags AS (
         |  SELECT d.doc_id, CAST(len(t2.tk) AS BIGINT) AS n_tok,
         |         CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_exact,
         |         CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_cluster,
         |         CASE WHEN cn.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_clean,
         |         CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_quality,
         |         CASE WHEN mx.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_mixture,
         |         CASE WHEN dk.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_dsir
         |  FROM documents d
         |  JOIN tk t2 ON t2.doc_id = d.doc_id
         |  LEFT JOIN ex ON ex.doc_id = d.doc_id
         |  LEFT JOIN cl ON cl.doc_id = d.doc_id
         |  LEFT JOIN clean cn ON cn.doc_id = d.doc_id
         |  LEFT JOIN qual q ON q.doc_id = d.doc_id
         |  LEFT JOIN mix mx ON mx.doc_id = d.doc_id
         |  LEFT JOIN dkeep dk ON dk.doc_id = d.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(SUM(f_exact) AS BIGINT) AS n_exact,
         |       CAST(SUM(f_cluster) AS BIGINT) AS n_cluster,
         |       CAST(SUM(f_clean) AS BIGINT) AS n_clean,
         |       CAST(SUM(f_quality) AS BIGINT) AS n_quality,
         |       CAST(SUM(f_mixture) AS BIGINT) AS n_mixture,
         |       CAST(SUM(f_dsir) AS BIGINT) AS n_dsir,
         |       CAST(SUM(f_exact*f_cluster*f_clean*f_quality*f_mixture*f_dsir) AS BIGINT) AS n_survivors,
         |       CAST(SUM(f_exact*f_cluster*f_clean*f_quality*f_mixture*f_dsir*n_tok) AS BIGINT) AS n_tokens_kept,
         |       CAST((SUM(f_exact*f_cluster*f_clean*f_quality*f_mixture*f_dsir*n_tok) + 511) // 512 AS BIGINT) AS n_sequences
         |FROM flags""".stripMargin,
    "d_simhash" ->
      s"$simhashSql SELECT doc_id, simhash FROM sh ORDER BY doc_id ASC",
    "d_simhash_pairs" ->
      s"""$simhashSql, shl AS (
         |  SELECT sh.doc_id, simhash, lang FROM sh JOIN documents USING (doc_id))
         |SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM shl a JOIN shl b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    // d_split_assign: identical hash-mod-100 assignment; shares replayed
    // with the same truncating ppm division (all positive)
    "d_split_assign" ->
      """WITH a AS (
        |  SELECT lang,
        |         CASE WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 98 THEN 'train'
        |              WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 = 98 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM documents),
        |g AS (SELECT lang, split, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM g GROUP BY 1)
        |SELECT g.lang, g.split, g.n, t.n_lang,
        |       CAST((1000000 * g.n) // t.n_lang AS BIGINT) AS share_ppm
        |FROM g JOIN t USING (lang)
        |ORDER BY lang ASC, split ASC""".stripMargin,
    "d_stratified_sample" ->
      """WITH rates(lang, keep_pct) AS (
        |  VALUES ('en', 20), ('zh', 60), ('es', 60), ('de', 60))
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
        |                       < coalesce(r.keep_pct, 10) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN rates r ON d.lang = r.lang
        |GROUP BY d.lang ORDER BY d.lang ASC""".stripMargin,
    // d_contamination: the 5-gram overlap recomputed with the token list
    // bound once in a CTE (the same O(tokens) binding discipline as the
    // Spark side)
    "d_contamination" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id, $grams5Sql AS g FROM tk),
         |bench AS (SELECT DISTINCT g, doc_id AS bench_id FROM g WHERE doc_id < 20),
         |hits AS (
         |  SELECT t.doc_id, CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
         |  FROM g t JOIN bench b USING (g) WHERE t.doc_id >= 20 GROUP BY t.doc_id)
         |SELECT d.doc_id, coalesce(h.n_bench_docs, 0) AS n_bench_docs,
         |       coalesce(h.n_bench_docs, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id >= 20 ORDER BY d.doc_id ASC""".stripMargin,
    "d_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  list_distinct(list_transform($toksSql,
         |    t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))) AS tset
         |FROM documents)
         |SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       ${rndSql("CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE) / (len(a.tset) + len(b.tset) - len(list_intersect(a.tset, b.tset)))", 6)} AS jaccard
         |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE ${rndSql("CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE) / (len(a.tset) + len(b.tset) - len(list_intersect(a.tset, b.tset)))", 6)} >= 0.95
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    // d_mixture_weights: same integer nano-sqrt contributions; every sum
    // is cast to BIGINT before use (DuckDB SUM(BIGINT) is HUGEINT and
    // must never reach the driver's pandas compare un-cast)
    "d_mixture_weights" ->
      s"""WITH $mixPolicySql
         |SELECT source, n_docs, n_tokens,
         |       ${rndSql("p", 6)} AS p_raw,
         |       ${rndSql("CAST(r9 AS DOUBLE) / CAST(z9 AS DOUBLE)", 6)} AS w_mix,
         |       ${rndSql("CAST(r9 AS DOUBLE) / CAST(z9 AS DOUBLE) / p", 6)} AS boost
         |FROM r CROSS JOIN z ORDER BY source ASC""".stripMargin,
    // d_mixture_sample: the same policy pipeline extended to the exact
    // ppm threshold and the md5-mod membership replay; the token budget
    // is integer-halved (tot // 2 == Spark's shiftright(tot, 1))
    "d_mixture_sample" ->
      s"""WITH $mixPolicySql,
         |pol AS (
         |  SELECT source, n_docs,
         |         CAST(floor(least(1.0,
         |           CAST(r9 AS DOUBLE) / CAST(z9 AS DOUBLE)
         |             * CAST(tot // 2 AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS keep_ppm
         |  FROM r CROSS JOIN z)
         |SELECT d.source, p.n_docs, p.keep_ppm,
         |       CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 < p.keep_ppm
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 < p.keep_ppm
         |                THEN len($toksSql) ELSE 0 END) AS BIGINT) AS tok_kept
         |FROM documents d JOIN pol p USING (source)
         |GROUP BY d.source, p.n_docs, p.keep_ppm
         |ORDER BY source ASC""".stripMargin,
    "d_source_overlap" ->
      s"""WITH tk AS (SELECT source, $toksSql AS tk FROM documents),
         |g AS (SELECT DISTINCT source, g FROM (
         |  SELECT source, $grams5Sql AS g FROM tk)),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source)
         |SELECT a.source AS src_a, b.source AS src_b,
         |       sa.n AS n_a, sb.n AS n_b,
         |       CAST(count(*) AS BIGINT) AS n_shared,
         |       ${rndSql("CAST(count(*) AS DOUBLE) / (sa.n + sb.n - count(*))", 6)} AS jaccard
         |FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
         |JOIN sz sa ON sa.source = a.source
         |JOIN sz sb ON sb.source = b.source
         |GROUP BY a.source, b.source, sa.n, sb.n
         |ORDER BY src_a ASC, src_b ASC""".stripMargin,
    // d_span_repeat: the same 8-token window stream, sharedness on the
    // DISTINCT (gram, doc) projection, occurrences classified per doc
    "d_span_repeat" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |gr AS (SELECT doc_id, unnest($grams8Sql) AS g FROM tk),
         |sh AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gr)
         |       GROUP BY g HAVING count(*) >= 2),
         |pd AS (
         |  SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |         CAST(SUM(CASE WHEN sh.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |  FROM gr LEFT JOIN sh ON gr.g = sh.g
         |  GROUP BY gr.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
         |       CAST(coalesce(pd.n_shared, 0) AS BIGINT) AS n_shared,
         |       ${rndSql("coalesce(CAST(pd.n_shared AS DOUBLE) / pd.n_spans, 0.0)", 6)} AS shared_frac
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id ASC""".stripMargin,
    // the 10-superstep integer-PageRank trajectory unrolled as CTEs; the
    // candidate graph is the same bands self-join the pair entries replay
    "d_pagerank" -> {
      val steps = (1 to PrSteps).map { i =>
        s"""p$i AS (
           |  SELECT d.doc_id,
           |         CAST((15 * $PrMass) // (100 * (SELECT n FROM nn)) AS BIGINT)
           |           + COALESCE(c.con, CAST(0 AS BIGINT)) AS r
           |  FROM documents d LEFT JOIN (
           |    SELECT e.dst AS doc_id,
           |           CAST(SUM((p.r * 85) // (o.odeg * 100)) AS BIGINT) AS con
           |    FROM ed e JOIN p${i - 1} p ON p.doc_id = e.src
           |         JOIN odeg o ON o.src = e.src
           |    GROUP BY e.dst) c USING (doc_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH bands AS ($bandRowsSql),
         |cp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |       AND a.doc_id < b.doc_id),
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM cp
         |       UNION ALL SELECT doc_b, doc_a FROM cp),
         |odeg AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM ed GROUP BY src),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |p0 AS (SELECT doc_id, CAST($PrMass // (SELECT n FROM nn) AS BIGINT) AS r
         |       FROM documents),
         |$steps
         |SELECT doc_id, r FROM p$PrSteps
         |ORDER BY r DESC, doc_id ASC LIMIT 20""".stripMargin
    },
    "d_weighted_sample" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |         CAST(least(len($toksSql), 100) AS BIGINT) AS w,
         |         CAST('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM documents)
         |SELECT doc_id, w, h < w * ((CAST(1 AS BIGINT) << 60) // 100) AS kept
         |FROM w ORDER BY doc_id ASC""".stripMargin,
    "d_span_strip" ->
      s"""WITH tks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |gp AS (
         |  SELECT doc_id, tk,
         |         unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS p
         |  FROM tks),
         |gt AS (
         |  SELECT doc_id, p, array_to_string(list_slice(tk, p, p + 7), ' ') AS g
         |  FROM gp),
         |hot AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gt)
         |        GROUP BY g HAVING count(*) >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT gt.doc_id, unnest(generate_series(gt.p, gt.p + 7)) AS pos
         |    FROM gt JOIN hot USING (g))),
         |tok AS (
         |  SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
         |  FROM tks),
         |kept AS (
         |  SELECT t.doc_id, t.i, t.tk[t.i] AS tok
         |  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.i
         |  WHERE c.doc_id IS NULL),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |         array_to_string(list(tok ORDER BY i ASC), ' ') AS stripped
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(len(t.tk) AS INTEGER) AS n_tokens,
         |       CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept,
         |       md5(coalesce(a.stripped, '')) AS strip_md5
         |FROM documents d JOIN tks t USING (doc_id) LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id ASC""".stripMargin,
    // the multi-scale variant: the 8-, 32- and 64-token window streams
    // each build their own hot set; coverage is the DISTINCT union of all
    // scales' covered positions, and the reassembly tail is identical
    "d_span_strip_multi" ->
      s"""WITH ${spanStripCtesOver("TRUE")}
         |SELECT d.doc_id,
         |       CAST(len(t.tk) AS INTEGER) AS n_tokens,
         |       CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept,
         |       md5(coalesce(a.stripped, '')) AS strip_md5
         |FROM documents d JOIN tks t USING (doc_id) LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id ASC""".stripMargin,
  )
}
