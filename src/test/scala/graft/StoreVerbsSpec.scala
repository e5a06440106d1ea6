package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.engine.EngineErrors._

/** Specs for the round-13 store verbs: physical layout optimization
  * (REAL parquet row-group skipping, asserted from scan metrics),
  * CDC storage dedup (byte-identical reassembly + measured on-disk
  * drop), and text-query search (engine-side query embedding).
  */
class StoreVerbsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixedClock = () => Timestamp.valueOf("2026-01-01 00:00:00")

  private def freshEngine(): VectorEngine = {
    val dir = graft.TempDirs.scratch("graft-verbs-test").toString
    new VectorEngine(spark, dir, fixedClock)
  }

  /** 512 chunks with position = i and token_count = (i * 37) % 512 —
    * decorrelated dims, so only a 2-d layout can make a 2-d box scan
    * cheap. No embeddings: layout is about the data table.
    */
  private def layoutFixture(): (VectorEngine, String) = {
    val eng = freshEngine()
    val lib = eng.createLibrary("layout", 4)
    val doc = eng.createDocument(lib)
    // md5-scrambled arrival order: the pure-append ingest now preserves
    // input order, so an ordered range would land pre-clustered on
    // `position` and the "fragmented base layout" premise below would
    // silently hold no fragmentation at all
    eng.bulkIngest(lib, doc, spark.range(512)
      .orderBy(md5(col("id").cast("string")))
      .select(format_string("c%04d", col("id")).as("id"),
        concat(lit("text "), col("id").cast("string")).as("text"),
        col("id").cast("int").as("position"),
        ((col("id") * 37) % 512).cast("int").as("token_count")))
    (eng, lib)
  }

  private def box(eng: VectorEngine, lib: String): DataFrame = eng.chunks
    .filter(col("library_id") === lib &&
      col("position").between(192, 319) &&
      col("metadata.token_count").between(192, 319))
    .select(col("id"), col("position"),
      col("metadata.token_count").as("token_count"))

  test("optimizeLayout: hilbert rewrite skips row groups on a 2-d box") {
    val (eng, lib) = layoutFixture()
    import org.apache.spark.sql.GraftScanBridge
    val pre = box(eng, lib)
    val preRows = pre.collect().map(_.getString(0)).sorted
    val (_, scanPre) = GraftScanBridge.scanStats(pre)
    val v0 = eng.chunksVersion.get
    val v1 = eng.optimizeLayout(lib,
      Seq("position", "metadata.token_count"), "hilbert", files = 16)
    assert(v1 == v0 + 1)
    val post = box(eng, lib)
    val postRows = post.collect().map(_.getString(0)).sorted
    // layout-invariance: identical result set
    assert(postRows.toSeq == preRows.toSeq)
    val (_, scanPost) = GraftScanBridge.scanStats(post)
    // the ingest layout cannot skip (every file spans both dims), the
    // hilbert layout must: scan-emitted rows drop at least 2x (observed
    // far more); predicates reach the scan as pushed filters
    assert(scanPre >= 512, s"expected the fragmented scan to emit all rows, got $scanPre")
    assert(scanPost * 2 <= scanPre,
      s"no real row-group skipping: $scanPost vs $scanPre")
    val plan = GraftScanBridge.executedPlanString(post)
    assert(plan.contains("GreaterThanOrEqual(position"),
      s"position predicate not pushed:\n$plan")
    // full-table content is byte-equal across the rewrite (time travel
    // keeps the old version readable)
    val before = eng.chunksAt(v0).select("id", "text", "position")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted
    val after = eng.chunks.filter(col("library_id") === lib)
      .select("id", "text", "position")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted
    assert(after.toSeq == before.toSeq)
  }

  test("optimizeLayout: zorder and linear curves also rewrite invariantly") {
    val (eng, lib) = layoutFixture()
    val all = eng.chunks.filter(col("library_id") === lib).count()
    eng.optimizeLayout(lib, Seq("position", "metadata.token_count"), "zorder")
    assert(eng.chunks.filter(col("library_id") === lib).count() == all)
    eng.optimizeLayout(lib, Seq("position", "metadata.token_count"), "linear")
    assert(eng.chunks.filter(col("library_id") === lib).count() == all)
  }

  test("optimizeLayout: validation") {
    val (eng, lib) = layoutFixture()
    intercept[ValidationError] { eng.optimizeLayout(lib, Seq("position")) }
    intercept[ValidationError] {
      eng.optimizeLayout(lib, Seq("position", "position"), curve = "peano")
    }
    intercept[ValidationError] {
      eng.optimizeLayout(lib, Seq("position", "position"), files = 0)
    }
    // empty library: no-op, current version unchanged
    val lib2 = eng.createLibrary("empty", 4)
    val v = eng.chunksVersion.get
    assert(eng.optimizeLayout(lib2, Seq("position", "version")) == v)
  }

  /** Storage-dedup corpus: 40 docs sharing one long passage, plus
    * whitespace-hostile texts (double spaces, tabs, newlines, leading /
    * trailing spaces) that break any tokenize-and-rejoin scheme that
    * collapses whitespace.
    */
  private def storageFixture(): (VectorEngine, String, String) = {
    val root = graft.TempDirs.scratch("graft-verbs-storage").toString
    val eng = new VectorEngine(spark, root, fixedClock)
    val lib = eng.createLibrary("storage", 4)
    val doc = eng.createDocument(lib)
    val common = (0 until 400)
      .map(i => f"w${(i * 7919) % 997}%03d").mkString(" ")
    val rows = (0 until 40).map { i =>
      (f"c$i%04d", s"doc $i prefix${i % 7} $common suffix${i % 5} end $i")
    } ++ Seq(
      ("w0001", "a  b\n c "),
      ("w0002", " leading and\ttab"),
      ("w0003", "x"),
      ("w0004", "   "))
    eng.bulkIngest(lib, doc, spark.createDataFrame(rows).toDF("id", "text"))
    (eng, root, lib)
  }

  test("dedupStorage: byte-identical reassembly for every chunk") {
    val (eng, _, lib) = storageFixture()
    eng.dedupStorage(lib)
    val rebuilt = eng.dedupedChunkText(lib).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val orig = eng.chunks.filter(col("library_id") === lib)
      .select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rebuilt.keySet == orig.keySet)
    orig.foreach { case (id, t) =>
      assert(rebuilt(id) == t, s"chunk $id not byte-identical")
    }
  }

  test("dedupStorage: shared passages stored once, bytes drop on disk") {
    val (eng, root, lib) = storageFixture()
    val st = eng.dedupStorage(lib).collect().head
    val (nChunks, nPassages, nBlobs) =
      (st.getLong(0), st.getLong(1), st.getLong(2))
    val (textBytes, blobBytes, savedBytes) =
      (st.getLong(3), st.getLong(4), st.getLong(5))
    assert(nChunks == 44)
    assert(nBlobs < nPassages, "the shared passage must dedup")
    assert(savedBytes > 0 && savedBytes == textBytes - blobBytes)
    // blobs must drop the dominant share: 40 copies of the common
    // passage collapse to one, so under a QUARTER of the text survives
    assert(blobBytes * 4 < textBytes, s"$blobBytes vs $textBytes")
    // measured ON-DISK drop. The baseline writes one chunk per file —
    // the 100 TB reality this verb targets: shared passages live in
    // DIFFERENT files/pages, where page-local compression (snappy
    // backreferences, parquet dictionaries) cannot reach them, so only
    // content addressing removes the copies. (A single-page toy file
    // would let snappy compress the 40 co-located copies and measure
    // the codec, not the dedup.)
    def dirBytes(dir: String): Long = {
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
      } finally stream.close()
    }
    val plainDir = graft.TempDirs.scratch("graft-storage-plain").toString
    eng.chunks.filter(col("library_id") === lib).select("id", "text")
      .repartition(44, col("id"))
      .write.mode("overwrite").parquet(plainDir)
    val dedupBytes = dirBytes(s"$root/cdc_blobs") + dirBytes(s"$root/cdc_manifest")
    val plainBytes = dirBytes(plainDir)
    assert(dedupBytes < plainBytes,
      s"deduped tables ($dedupBytes B) must undercut per-file storage ($plainBytes B)")
  }

  test("dedupStorage: vacuum reclaims superseded blob versions (r13 #7)") {
    // run -> mutate -> re-run -> vacuum: the superseded blob/manifest
    // snapshot versions must be RECLAIMED like every other table's (the
    // blob tables were missing from the vacuum list), and reassembly
    // must stay byte-identical afterwards
    val (eng, root, lib) = storageFixture()
    eng.dedupStorage(lib)
    def versions(table: String): Seq[String] = {
      val dir = java.nio.file.Paths.get(s"$root/$table")
      if (!java.nio.file.Files.exists(dir)) Nil
      else {
        val s = java.nio.file.Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("v")).toSeq.sorted
        } finally s.close()
      }
    }
    val v1 = versions("cdc_blobs")
    assert(v1.nonEmpty)
    // mutate the corpus, refresh the deduped storage
    val doc2 = eng.createDocument(lib)
    eng.upsertChunks(lib, doc2, Seq(
      ChunkIn("a brand new chunk of fresh text", id = Some("zz001"))))
    eng.dedupStorage(lib)
    val v2 = versions("cdc_blobs")
    assert(v2.size > v1.size, "re-run must write a fresh blob version")
    val reclaimed = eng.vacuum(keepLast = 1)
    assert(reclaimed > 0)
    assert(versions("cdc_blobs").size == 1,
      s"superseded blob versions survive vacuum: ${versions("cdc_blobs")}")
    assert(versions("cdc_manifest").size == 1)
    // the surviving snapshot still reassembles every chunk byte-for-byte
    val rebuilt = eng.dedupedChunkText(lib).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val orig = eng.chunks.filter(col("library_id") === lib)
      .select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rebuilt.keySet == orig.keySet)
    orig.foreach { case (id, t) =>
      assert(rebuilt(id) == t, s"chunk $id not byte-identical after vacuum")
    }
  }

  test("optimizeIfFragmented: threshold trips once, then stays quiet") {
    // AQE coalesces this toy ingest to one file; a real multi-executor
    // ingest writes many — manufacture that condition in a cloned
    // session so the fragmentation telemetry has something to read
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val eng = new VectorEngine(ss,
      graft.TempDirs.scratch("graft-verbs-frag").toString, fixedClock)
    val lib = eng.createLibrary("frag", 4)
    val doc = eng.createDocument(lib)
    eng.bulkIngest(lib, doc, ss.range(512)
      .repartition(8)
      .select(format_string("c%04d", col("id")).as("id"),
        concat(lit("text "), col("id").cast("string")).as("text"),
        col("id").cast("int").as("position"),
        ((col("id") * 37) % 512).cast("int").as("token_count")))
    val cols = Seq("position", "metadata.token_count")
    val before = eng.chunks.filter(col("library_id") === lib).count()
    // the 4-shuffle-partition ingest left ~4 files: threshold 3 trips
    val d1 = eng.optimizeIfFragmented(lib, cols, maxFiles = 3, files = 2)
    assert(d1.nFiles > 3 && d1.optimized && d1.nFilesAfter <= 2,
      s"unexpected decision: $d1")
    // under threshold now: no-op, zero version churn
    val v = eng.chunksVersion.get
    val d2 = eng.optimizeIfFragmented(lib, cols, maxFiles = 3, files = 2)
    assert(!d2.optimized && d2.nFiles == d1.nFilesAfter &&
      eng.chunksVersion.get == v)
    assert(eng.chunks.filter(col("library_id") === lib).count() == before)
    intercept[ValidationError] {
      eng.optimizeIfFragmented(lib, cols, maxFiles = 0)
    }
  }

  test("optimizeIndexLayout: probe reads fewer posting rows, hits unchanged") {
    import org.apache.spark.sql.GraftScanBridge
    val eng = freshEngine()
    val lib = eng.createLibrary("idx-layout", 4,
      IndexConfig("ivf_det", ivfNumCentroids = 8, ivfNprobe = 2))
    val doc = eng.createDocument(lib)
    import spark.implicits._
    val rows = (0 until 256).map { i =>
      (f"c$i%04d", s"vec $i",
        Array((i % 5).toFloat + 1f, ((i / 5) % 5).toFloat,
          ((i / 25) % 5).toFloat, (i % 3).toFloat))
    }
    eng.bulkIngest(lib, doc, rows.toDF("id", "text", "embedding"))
    eng.rebuildIndex(lib)
    val q = Array(1f, 2f, 0f, 1f)
    val pre = eng.search(lib, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    val versions = eng.optimizeIndexLayout(lib, files = 8)
    assert(versions.map(_._1).contains("ivf_postings"))
    val post = eng.search(lib, q, k = 5)
    val postRows = post.collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(postRows == pre, "index layout must not change hits")
    val (_, scanned) = GraftScanBridge.scanStatsFor(post, "ivf_postings")
    assert(scanned > 0 && scanned < 256,
      s"sliced postings scan should skip non-probed cells: read $scanned of 256")
  }

  test("search results are invariant under optimizeLayout") {
    import graft.functions.TextEmbed
    val eng = freshEngine()
    val lib = eng.createLibrary("layout-search", TextEmbed.EDim)
    val doc = eng.createDocument(lib)
    import spark.implicits._
    val df = (0 until 64)
      .map(i => (i.toLong, s"doc $i word${i % 9} term${i % 5} body"))
      .toDF("doc_id", "text")
    val emb = TextEmbed.embedded(df, "doc_id")
    val arr = array((0 until TextEmbed.EDim).map(j => col(s"e$j").cast("float")): _*)
    eng.bulkIngest(lib, doc, emb.join(df, "doc_id")
      .select(format_string("c%02d", col("doc_id")).as("id"), col("text"),
        arr.as("embedding"), col("doc_id").cast("int").as("position"),
        length(col("text")).cast("int").as("token_count")))
    val q = "word3 term2 body"
    val before = eng.searchText(lib, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    eng.optimizeLayout(lib, Seq("position", "metadata.token_count"))
    val after = eng.searchText(lib, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(after == before)
  }

  test("searchText embeds the query engine-side and matches vector search") {
    import graft.functions.TextEmbed
    val eng = freshEngine()
    val lib = eng.createLibrary("text-lib", TextEmbed.EDim)
    val doc = eng.createDocument(lib)
    import spark.implicits._
    val texts = Seq("the quick brown fox", "lazy dogs sleep all day",
      "quick foxes and lazy dogs", "an unrelated sentence entirely",
      "brown bears are not foxes")
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val emb = TextEmbed.embedded(df, "doc_id")
    val arr = array((0 until TextEmbed.EDim).map(j => col(s"e$j").cast("float")): _*)
    eng.bulkIngest(lib, doc, emb.join(df, "doc_id")
      .select(format_string("c%02d", col("doc_id")).as("id"),
        col("text"), arr.as("embedding")))
    val q = "quick brown foxes"
    val viaText = eng.searchText(lib, q, k = 3).collect()
      .map(r => (r.getString(0), r.getDouble(2)))
    val qv = TextEmbed.embedded(Seq((0L, q)).toDF("doc_id", "text"), "doc_id")
      .collect().head
    val qArr = (0 until TextEmbed.EDim).map(j => qv.getLong(j + 1).toFloat).toArray
    val viaVec = eng.search(lib, qArr, k = 3).collect()
      .map(r => (r.getString(0), r.getDouble(2)))
    assert(viaText.toSeq == viaVec.toSeq)
    // a NON-16-dim library now embeds the query at ITS catalog dim
    // (r14 — the reference endpoint only dim-checks): the 64-dim text
    // search must match the 64-dim vector search on the same corpus
    val lib64 = eng.createLibrary("dim64", 64)
    val doc64 = eng.createDocument(lib64)
    val emb64 = TextEmbed.embedded(df, "doc_id", 64)
    val arr64 = array((0 until 64).map(j => col(s"e$j").cast("float")): _*)
    eng.bulkIngest(lib64, doc64, emb64.join(df, "doc_id")
      .select(format_string("c%02d", col("doc_id")).as("id"),
        col("text"), arr64.as("embedding")))
    val viaText64 = eng.searchText(lib64, q, k = 3).collect()
      .map(r => (r.getString(0), r.getDouble(2)))
    val qv64 = TextEmbed.embedded(Seq((0L, q)).toDF("doc_id", "text"),
      "doc_id", 64).collect().head
    val qArr64 = (0 until 64).map(j => qv64.getLong(j + 1).toFloat).toArray
    val viaVec64 = eng.search(lib64, qArr64, k = 3).collect()
      .map(r => (r.getString(0), r.getDouble(2)))
    assert(viaText64.toSeq == viaVec64.toSeq)
    // contract errors: empty / token-free text
    intercept[ValidationError] { eng.searchText(lib, "", k = 3) }
    intercept[ValidationError] { eng.searchText(lib, "   ", k = 3) }
  }

  test("exportLibrary/importLibrary: delete-restore and cross-store migration") {
    val eng = freshEngine()
    val lib = eng.createLibrary("backup-me", 4,
      IndexConfig("lsh_det", lshNumTables = 4, lshHyperplanesPerTable = 4))
    val doc = eng.createDocument(lib)
    eng.bulkIngest(lib, doc, spark.range(64)
      .select(format_string("c%04d", col("id")).as("id"),
        concat(lit("text "), col("id").cast("string")).as("text"),
        array(cos(col("id")).cast("float"), sin(col("id")).cast("float"),
          cos(col("id") * 2).cast("float"), sin(col("id") * 2).cast("float"))
          .as("embedding")))
    eng.rebuildIndex(lib)
    val q = Array(1f, 0f, 1f, 0f)
    val before = eng.search(lib, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(before.nonEmpty)

    val dump = graft.TempDirs.scratch("graft-export").toString + "/lib1"
    val exported = eng.exportLibrary(lib, dump)
    // the derived index tables rode along via the registry
    assert(Set("chunks", "documents", "lsh_planes", "lsh_buckets")
      .subsetOf(exported.toSet))

    // clone-beside-live-original violates doc-id uniqueness -> rejected
    intercept[ConflictError] { eng.importLibrary(dump, Some("clone1")) }
    // restore path: delete, import under the exported id, identical hits
    eng.deleteLibrary(lib)
    intercept[NotFoundError] { eng.getLibrary(lib) }
    assert(eng.importLibrary(dump) == lib)
    val restored = eng.search(lib, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(restored == before, s"restore drifted: $restored vs $before")

    // cross-store migration: a second engine on a fresh root
    val eng2 = freshEngine()
    assert(eng2.importLibrary(dump) == lib)
    val migrated = eng2.search(lib, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(migrated == before)
    // importing over an existing id conflicts — and a fresh id does NOT
    // rescue it here, because the live import already homes the doc ids
    intercept[ConflictError] { eng2.importLibrary(dump) }
    intercept[ConflictError] { eng2.importLibrary(dump, Some("copy2")) }
    // the fresh-id escape is for an id squatted by a DIFFERENT library
    val eng3 = freshEngine()
    eng3.createLibrary("squatter", 4, id = Some(lib))
    intercept[ConflictError] { eng3.importLibrary(dump) }
    val lib3 = eng3.importLibrary(dump, Some("migrated1"))
    assert(eng3.search(lib3, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq == before)
    // validations
    intercept[ValidationError] { eng.exportLibrary(lib, dump) } // not empty
    intercept[ValidationError] {
      eng.importLibrary(graft.TempDirs.scratch("graft-empty").toString)
    }
  }

  test("appendLibraryPartition: auto-compact bounds the delta-file count") {
    import spark.implicits._
    val root = graft.TempDirs.scratch("graft-verbs-compact").toString
    val store = new StateStore(spark, root)
    val n = 60 // past the 48-file threshold, so compaction must trip
    (0 until n).foreach { i =>
      val delta = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row("libA", s"s$i", s"d$i")), 1),
        Schemas.nswEdges)
      store.appendLibraryPartition("nsw_edges", "libA", delta)
    }
    // exactly one version bump per append: the compaction arm folds into
    // the SAME mutation version, never its own (time travel / snapshot
    // CDC arithmetic must observe identical history either way)
    assert(store.currentVersion("nsw_edges").contains(n.toLong))
    // the per-partition file count stays bounded by the threshold instead
    // of growing one file per append
    val files = store.partitionFileCount("nsw_edges", "libA")
    assert(files <= 48, s"unbounded delta files after $n appends: $files")
    // no row lost or duplicated across the append/compact interleaving
    val rows = store.read("nsw_edges", Schemas.nswEdges)
    assert(rows.count() == n)
    assert(rows.select(col("src_id")).as[String].collect().sorted.toSeq ==
      (0 until n).map(i => s"s$i").sorted)
  }

  test("appendLibraryPartition: auto-compact sizes its output by bytes") {
    import spark.implicits._
    val store = new StateStore(spark,
      graft.TempDirs.scratch("graft-verbs-compact-bytes").toString)
    // rows [from, until) of libA's `nsw_edges`, written as `parts` files
    def rows(from: Int, until: Int, parts: Int): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(
        (from until until).map(i => org.apache.spark.sql.Row(
          "libA", f"s$i%06d", f"d$i%06d-${i * 7919L}%012d")), parts),
        Schemas.nswEdges)
    def fileNames: Set[String] =
      store.partitionFiles("nsw_edges", "libA").map(_.getFileName.toString).toSet
    // one append of 200 files of 200 rows each: far past the 48-file
    // threshold at any target that splits the partition
    store.appendLibraryPartition("nsw_edges", "libA", rows(0, 40000, 200))
    val written = fileNames
    assert(written.size == 200)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    // a target of about three delta files: the rewrite is some 67 files,
    // 48 or more, so a raw 48-file trigger would rewrite it again on the
    // very next append
    val target = store.partitionFiles("nsw_edges", "libA")
      .map(java.nio.file.Files.size).sum * 3 / 200
    spark.conf.set(key, target.toString)
    try {
      store.appendLibraryPartition("nsw_edges", "libA", rows(40000, 40001, 1))
      val compacted = fileNames
      assert(compacted.intersect(written).isEmpty,
        "the append over the threshold did not compact")
      assert(compacted.size >= 48 && compacted.size < 200,
        s"compaction at a $target-byte target wrote ${compacted.size} files")
      // the next append writes a plain delta: every compacted file is
      // carried forward and one file is added, with no second rewrite
      store.appendLibraryPartition("nsw_edges", "libA", rows(40001, 40002, 1))
      val next = fileNames
      assert(compacted.subsetOf(next) && next.size == compacted.size + 1,
        "the append after a compaction rewrote the partition again")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(store.currentVersion("nsw_edges").contains(3L))
    val read = store.read("nsw_edges", Schemas.nswEdges)
    assert(read.select(col("src_id")).as[String].collect().sorted.toSeq ==
      (0 until 40002).map(i => f"s$i%06d"))
  }
}
