package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.engine.EngineErrors._

/** Engine behavior specs mirroring the reference's test suite
  * (`/root/reference/tests/` — see FIXTURES.md §2): the README worked
  * example (README.md:209-238), zero-vector rules (test_flat.py:324-336),
  * CAS conflicts, cascade deletes, per-index metric quirks (SURVEY Q1),
  * and post-filter semantics (Q5).
  */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixedClock = () => Timestamp.valueOf("2026-01-01 00:00:00")

  private def freshEngine(): VectorEngine = {
    val dir = graft.TempDirs.scratch("graft-engine-test").toString
    new VectorEngine(spark, dir, fixedClock)
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]) =
      x.zip(y).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
    val na = math.sqrt(dot(a, a)); val nb = math.sqrt(dot(b, b))
    if (na == 0 || nb == 0) 0.0 else dot(a, b) / (na * nb)
  }

  // README.md:209-238 worked example — the minimum-slice golden query.
  test("flat cosine search matches hand-computed scores (README example)") {
    val eng = freshEngine()
    val lib = eng.createLibrary("readme", 3)
    val doc = eng.createDocument(lib)
    val vecs = Seq(
      Array(1.0f, 0.0f, 0.0f), Array(0.9f, 0.1f, 0.0f),
      Array(0.85f, 0.15f, 0.0f), Array(0.0f, 1.0f, 0.0f),
      Array(0.0f, 0.0f, 1.0f))
    val ids = eng.upsertChunks(lib, doc, vecs.zipWithIndex.map { case (v, i) =>
      ChunkIn(text = s"chunk $i", embedding = Some(v), position = i,
        id = Some(f"c$i%02d"))
    })
    assert(ids.size == 5)
    val q = Array(0.95f, 0.05f, 0.0f)
    val hits = eng.search(lib, q, k = 3).collect()
    assert(hits.length == 3)
    val expected = vecs.zipWithIndex
      .map { case (v, i) => (f"c$i%02d", cos(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(3)
    hits.zip(expected).foreach { case (row, (eid, escore)) =>
      assert(row.getString(0) == eid)
      assert(math.abs(row.getDouble(2) - escore) < 1e-10)
    }
  }

  test("zero-vector rules: flat scores 0; lsh/ivf return empty on zero query") {
    val eng = freshEngine()
    val lib = eng.createLibrary("zeros", 4)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("zero", Some(Array(0f, 0f, 0f, 0f)), id = Some("z")),
      ChunkIn("unit", Some(Array(1f, 0f, 0f, 0f)), id = Some("u"))))
    // zero STORED vector -> cosine 0 in flat (test_flat.py:324-336)
    val hits = eng.search(lib, Array(1f, 0f, 0f, 0f), k = 2).collect()
    assert(hits.map(r => (r.getString(0), r.getDouble(2))).toMap
      .get("z").contains(0.0))
    // zero QUERY -> all-0 scores in flat, but still scored (Q4)
    assert(eng.search(lib, Array(0f, 0f, 0f, 0f), k = 2).collect()
      .forall(_.getDouble(2) == 0.0))
    // lsh: zero query -> empty
    eng.updateIndexConfig(lib, IndexConfig("lsh", lshNumTables = 2,
      lshHyperplanesPerTable = 4))
    assert(eng.search(lib, Array(0f, 0f, 0f, 0f), k = 2).collect().isEmpty)
    // zero stored vector is excluded from the LSH index entirely
    val lshHits = eng.search(lib, Array(1f, 0f, 0f, 0f), k = 2).collect()
    assert(!lshHits.map(_.getString(0)).contains("z"))
  }

  test("post-filter semantics (Q5): filters applied AFTER top-k") {
    val eng = freshEngine()
    val lib = eng.createLibrary("filters", 2)
    val doc = eng.createDocument(lib)
    // c0 is the best match but has the wrong author; post-filtering top-1
    // must return EMPTY, not fall through to c1.
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("best", Some(Array(1f, 0f)), id = Some("c0"), author = Some("alice")),
      ChunkIn("worse", Some(Array(0.5f, 0.5f)), id = Some("c1"), author = Some("bob"))))
    val post = eng.search(lib, Array(1f, 0f), k = 1,
      filters = Some(SearchFilters(author = Some("bob"))))
    assert(post.collect().isEmpty)
    // pre-filter deviation: same query returns c1
    val pre = eng.search(lib, Array(1f, 0f), k = 1,
      filters = Some(SearchFilters(author = Some("bob"))), preFilter = true)
    assert(pre.collect().map(_.getString(0)).toSeq == Seq("c1"))
  }

  test("tags ANY-overlap and strict created_after filters (Q8)") {
    val eng = freshEngine()
    val lib = eng.createLibrary("tagged", 2)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("a", Some(Array(1f, 0f)), id = Some("a"), tags = Seq("x", "y")),
      ChunkIn("b", Some(Array(0.9f, 0.1f)), id = Some("b"), tags = Seq("z"))))
    val hits = eng.search(lib, Array(1f, 0f), k = 10,
      filters = Some(SearchFilters(tags = Seq("y", "w"))))
    assert(hits.collect().map(_.getString(0)).toSeq == Seq("a"))
    // created_after is strict >: fixed clock means nothing passes at ==
    val none = eng.search(lib, Array(1f, 0f), k = 10,
      filters = Some(SearchFilters(createdAfter = Some(fixedClock()))))
    assert(none.collect().isEmpty)
  }

  test("CAS: wrong expected version raises ConflictError, right one bumps") {
    val eng = freshEngine()
    val lib = eng.createLibrary("cas", 2)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(ChunkIn("v1", Some(Array(1f, 0f)), id = Some("c"))))
    intercept[ConflictError] {
      eng.upsertChunks(lib, doc, Seq(ChunkIn("v2", Some(Array(0f, 1f)), id = Some("c"))),
        expectedVersions = Map("c" -> 99L))
    }
    eng.upsertChunks(lib, doc, Seq(ChunkIn("v2", Some(Array(0f, 1f)), id = Some("c"))),
      expectedVersions = Map("c" -> 1L))
    val row = eng.chunks.filter(org.apache.spark.sql.functions.col("id") === "c")
      .collect().head
    assert(row.getLong(row.fieldIndex("version")) == 2L)
    assert(row.getString(row.fieldIndex("text")) == "v2")
  }

  test("validation: dim mismatch, unknown doc, empty text") {
    val eng = freshEngine()
    val lib = eng.createLibrary("val", 3)
    val doc = eng.createDocument(lib)
    intercept[ValidationError] {
      eng.upsertChunks(lib, doc, Seq(ChunkIn("bad", Some(Array(1f, 0f)))))
    }
    intercept[NotFoundError] {
      eng.upsertChunks(lib, "nope", Seq(ChunkIn("x", None)))
    }
    intercept[ValidationError] {
      eng.upsertChunks(lib, doc, Seq(ChunkIn("", None)))
    }
    intercept[ValidationError] { eng.createLibrary("", 3) }
    intercept[ValidationError] { eng.createLibrary("x", 0) }
    intercept[ValidationError] { eng.createLibrary("x", 3, IndexConfig("hnsw")) }
  }

  test("cascade deletes: document -> chunks; library -> everything") {
    val eng = freshEngine()
    val lib = eng.createLibrary("casc", 2)
    val d1 = eng.createDocument(lib)
    val d2 = eng.createDocument(lib)
    eng.upsertChunks(lib, d1, Seq(ChunkIn("a", Some(Array(1f, 0f)), id = Some("a"))))
    eng.upsertChunks(lib, d2, Seq(ChunkIn("b", Some(Array(0f, 1f)), id = Some("b"))))
    eng.deleteDocument(lib, d1)
    assert(eng.chunks.collect().map(_.getString(0)).toSeq == Seq("b"))
    assert(eng.documents.count() == 1)
    eng.deleteLibrary(lib)
    assert(eng.chunks.count() == 0)
    assert(eng.documents.count() == 0)
    assert(eng.libraries.count() == 0)
  }

  test("LSH: exact-match query found with score ~1.0; buckets maintained on upsert") {
    val eng = freshEngine()
    val lib = eng.createLibrary("lsh", 8,
      IndexConfig("lsh", lshNumTables = 4, lshHyperplanesPerTable = 8))
    val doc = eng.createDocument(lib)
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map(_ => Array.fill(8)(rnd.nextGaussian().toFloat))
    eng.upsertChunks(lib, doc, vecs.zipWithIndex.map { case (v, i) =>
      ChunkIn(s"t$i", Some(v), id = Some(f"c$i%03d"))
    })
    eng.rebuildIndex(lib)
    val q = vecs(7)
    val hits = eng.search(lib, q, k = 5).collect()
    assert(hits.nonEmpty)
    // the identical vector must land in the same buckets -> found at ~1.0
    assert(hits.head.getString(0) == "c007")
    assert(math.abs(hits.head.getDouble(2) - 1.0) < 1e-10)
    // incremental add after rebuild is searchable without another rebuild
    val nv = Array.fill(8)(0.5f)
    eng.upsertChunks(lib, doc, Seq(ChunkIn("new", Some(nv), id = Some("newc"))))
    val hits2 = eng.search(lib, nv, k = 3).collect()
    assert(hits2.head.getString(0) == "newc")
  }

  test("IVF: no centroids -> flat fallback; after rebuild -> nprobe search") {
    val eng = freshEngine()
    val lib = eng.createLibrary("ivf", 4,
      IndexConfig("ivf", ivfNumCentroids = 4, ivfNprobe = 2))
    val doc = eng.createDocument(lib)
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 40).map(_ => Array.fill(4)(rnd.nextGaussian().toFloat))
    eng.upsertChunks(lib, doc, vecs.zipWithIndex.map { case (v, i) =>
      ChunkIn(s"t$i", Some(v), id = Some(f"c$i%03d"))
    })
    // before any rebuild there are no centroids: flat-scan fallback (ivf.py:96-99)
    val pre = eng.search(lib, vecs(3), k = 3).collect()
    assert(pre.head.getString(0) == "c003")
    eng.rebuildIndex(lib)
    val post = eng.search(lib, vecs(3), k = 3).collect()
    assert(post.nonEmpty)
    // self-query must find itself: its posting shares the nearest centroid
    assert(post.head.getString(0) == "c003")
    assert(math.abs(post.head.getDouble(2) - 1.0) < 1e-10)
  }

  test("metric quirk Q1: dot_product differs between flat (raw) and lsh (normalized)") {
    val eng = freshEngine()
    val lib = eng.createLibrary("q1", 2)
    val doc = eng.createDocument(lib)
    // vector with norm 2 -> flat dot = 2.0, lsh (normalized stored) dot = 1.0
    eng.upsertChunks(lib, doc, Seq(ChunkIn("v", Some(Array(2f, 0f)), id = Some("v"))))
    val q = Array(1f, 0f)
    val flatScore = eng.search(lib, q, k = 1, metric = "dot_product")
      .collect().head.getDouble(2)
    assert(math.abs(flatScore - 2.0) < 1e-10)
    eng.updateIndexConfig(lib, IndexConfig("lsh", lshNumTables = 2,
      lshHyperplanesPerTable = 4))
    val lshScore = eng.search(lib, q, k = 1, metric = "dot_product")
      .collect().head.getDouble(2)
    assert(math.abs(lshScore - 1.0) < 1e-10)
  }

  test("bulkIngest (distributed path): new rows, replacement continuity, validation") {
    import spark.implicits._
    val eng = freshEngine()
    val lib = eng.createLibrary("bulk", 2)
    val doc = eng.createDocument(lib)
    eng.bulkIngest(lib, doc, Seq(
      ("b0", "row zero", Array(1f, 0f)),
      ("b1", "row one", Array(0f, 1f))).toDF("id", "text", "embedding"))
    assert(eng.chunks.count() == 2)
    val hit = eng.search(lib, Array(1f, 0f), k = 1).collect().head
    assert(hit.getString(0) == "b0")
    // replacing an existing id preserves created_at and bumps version
    eng.bulkIngest(lib, doc,
      Seq(("b0", "row zero v2", Array(0.5f, 0.5f))).toDF("id", "text", "embedding"))
    val row = eng.chunks.filter(org.apache.spark.sql.functions.col("id") === "b0")
      .collect().head
    assert(row.getLong(row.fieldIndex("version")) == 2L)
    assert(row.getString(row.fieldIndex("text")) == "row zero v2")
    assert(eng.chunks.count() == 2)
    // dim validation is an aggregate over the batch, not a driver loop
    intercept[EngineErrors.ValidationError] {
      eng.bulkIngest(lib, doc, Seq(("b2", "bad", Array(1f, 2f, 3f)))
        .toDF("id", "text", "embedding"))
    }
  }

  test("list/get: pagination, document filters (P7/P8), ownership (P10)") {
    val eng = freshEngine()
    val lib = eng.createLibrary("list", 2)
    val docA = eng.createDocument(lib, id = Some("docA"))
    val docB = eng.createDocument(lib, id = Some("docB"))
    eng.upsertChunks(lib, docA, (0 until 5).map(i =>
      ChunkIn(s"a$i", Some(Array(1f, 0f)), position = i, id = Some(s"a$i"))))
    eng.upsertChunks(lib, docB, Seq(
      ChunkIn("b0", Some(Array(0f, 1f)), id = Some("b0"))))
    // chunk pagination within one document
    val page = eng.listChunks(lib, Some(docA), limit = 2, offset = 2)
      .collect().map(_.getString(0))
    assert(page.toSeq == Seq("a2", "a3"))
    // document listing sorted + stable
    assert(eng.listDocuments(lib).collect().map(_.getString(0)).toSeq ==
      Seq("docA", "docB"))
    // strict created_after excludes everything at the fixed clock (P8)
    assert(eng.listDocuments(lib, createdAfter = Some(fixedClock()))
      .collect().isEmpty)
    // point lookups validate ownership
    assert(eng.getChunk(lib, "b0").count() == 1)
    intercept[NotFoundError] { eng.getChunk(lib, "nope") }
    intercept[NotFoundError] { eng.getDocument(lib, "nope") }
    intercept[ValidationError] { eng.listDocuments(lib, sortBy = "name") }
  }

  test("quirkCompat replicates Q2: LSH update is a silent no-op") {
    val dir = graft.TempDirs.scratch("graft-quirk").toString
    val eng = new VectorEngine(spark, dir, fixedClock, quirkCompat = true)
    val lib = eng.createLibrary("quirk", 2,
      IndexConfig("lsh", lshNumTables = 2, lshHyperplanesPerTable = 4))
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(ChunkIn("v", Some(Array(1f, 0f)), id = Some("v"))))
    eng.rebuildIndex(lib)
    // update the vector: with quirkCompat the bucket entry stays STALE
    // (reference base.py:6 — LSHIndex never overrides update), so the
    // rerank still scores the OLD normalized vector
    eng.upsertChunks(lib, doc, Seq(ChunkIn("v2", Some(Array(0f, 1f)), id = Some("v"))))
    val hit = eng.search(lib, Array(1f, 0f), k = 1).collect().head
    assert(math.abs(hit.getDouble(2) - 1.0) < 1e-10) // stale vector answers
    // the fixed engine (default) re-hashes on update
    val eng2 = freshEngine()
    val lib2 = eng2.createLibrary("fixed", 2,
      IndexConfig("lsh", lshNumTables = 2, lshHyperplanesPerTable = 4))
    val doc2 = eng2.createDocument(lib2)
    eng2.upsertChunks(lib2, doc2, Seq(ChunkIn("v", Some(Array(1f, 0f)), id = Some("v"))))
    eng2.rebuildIndex(lib2)
    eng2.upsertChunks(lib2, doc2, Seq(ChunkIn("v2", Some(Array(0f, 1f)), id = Some("v"))))
    val hit2 = eng2.search(lib2, Array(0f, 1f), k = 1).collect().head
    assert(math.abs(hit2.getDouble(2) - 1.0) < 1e-10) // fresh vector answers
  }

  test("preFilter restricts LSH/IVF candidate generation (ADVICE r1)") {
    // best match has the wrong author; with preFilter=true the index paths
    // must return the best MATCHING row, not post-filter top-k to empty
    def seed(eng: VectorEngine, cfg: IndexConfig): String = {
      val lib = eng.createLibrary("pre", 2, cfg)
      val doc = eng.createDocument(lib)
      eng.upsertChunks(lib, doc, Seq(
        ChunkIn("best", Some(Array(1f, 0f)), id = Some("c0"), author = Some("alice")),
        ChunkIn("match", Some(Array(0.9f, 0.1f)), id = Some("c1"), author = Some("bob"))))
      eng.rebuildIndex(lib)
      lib
    }
    for (cfg <- Seq(
        IndexConfig("lsh", lshNumTables = 4, lshHyperplanesPerTable = 4),
        IndexConfig("ivf", ivfNumCentroids = 2, ivfNprobe = 2))) {
      val eng = freshEngine()
      val lib = seed(eng, cfg)
      val pre = eng.search(lib, Array(1f, 0f), k = 1,
        filters = Some(SearchFilters(author = Some("bob"))), preFilter = true)
      assert(pre.collect().map(_.getString(0)).toSeq == Seq("c1"),
        s"preFilter must surface c1 under ${cfg.indexType}")
    }
  }

  test("duplicate ids in one upsert batch collapse last-wins (ADVICE r1)") {
    val eng = freshEngine()
    val lib = eng.createLibrary("dup", 2)
    val doc = eng.createDocument(lib)
    val ids = eng.upsertChunks(lib, doc, Seq(
      ChunkIn("first", Some(Array(1f, 0f)), id = Some("d")),
      ChunkIn("other", Some(Array(0f, 1f)), id = Some("e")),
      ChunkIn("last", Some(Array(0f, 1f)), id = Some("d"))))
    assert(ids == Seq("d", "e")) // first-occurrence order, deduped
    val rows = eng.chunks.collect().map(r =>
      r.getString(r.fieldIndex("id")) -> r.getString(r.fieldIndex("text"))).toMap
    assert(rows("d") == "last" && rows.size == 2)
  }

  test("bulkIngest mints deterministic content-hash ids (ADVICE r1)") {
    import spark.implicits._
    val dir = graft.TempDirs.scratch("graft-det-ids").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("det", 2,
      IndexConfig("lsh", lshNumTables = 2, lshHyperplanesPerTable = 4))
    val doc = eng.createDocument(lib)
    eng.rebuildIndex(lib) // planes exist -> ingest maintains buckets
    val batch = Seq(("alpha", Array(1f, 0f)), ("beta", Array(0f, 1f)))
    eng.bulkIngest(lib, doc, batch.toDF("text", "embedding"))
    assert(eng.chunks.count() == 2)
    // every LSH bucket row must reference an id present in the snapshot —
    // this is exactly what non-deterministic uuid() minting broke
    val chunkIds = eng.chunks.select(org.apache.spark.sql.functions.col("id")
      .as("chunk_id"))
    val engBuckets = new StateStore(spark, dir)
      .read("lsh_buckets", Schemas.lshBuckets)
    assert(engBuckets.join(chunkIds, Seq("chunk_id"), "left_anti").count() == 0)
    val hit = eng.search(lib, Array(1f, 0f), k = 1).collect().head
    assert(hit.getString(hit.fieldIndex("text")) == "alpha")
    // re-ingesting the identical batch derives the SAME ids: replace, not grow
    eng.bulkIngest(lib, doc, batch.toDF("text", "embedding"))
    assert(eng.chunks.count() == 2)
    assert(eng.chunks.select("version").collect().forall(_.getLong(0) == 2L))
    // duplicate caller-supplied ids are rejected (no defined last-wins)
    intercept[ValidationError] {
      eng.bulkIngest(lib, doc, Seq(("x", "t1", Array(1f, 0f)),
        ("x", "t2", Array(0f, 1f))).toDF("id", "text", "embedding"))
    }
  }

  test("bulkIngest content hash separates null from empty fields (ADVICE r2)") {
    import spark.implicits._
    val eng = freshEngine()
    val lib = eng.createLibrary("hashnull", 2)
    val doc = eng.createDocument(lib)
    // same text; author NULL vs author "" — the old coalesce(x, "") hash
    // collided these and dropDuplicates silently dropped one
    eng.bulkIngest(lib, doc, Seq(
      ("t", Array(1f, 0f), null.asInstanceOf[String]),
      ("t", Array(1f, 0f), "")).toDF("text", "embedding", "author"))
    assert(eng.chunks.count() == 2)
    // field separation: (position=1, text="2abc") vs (position=12, text="abc")
    val eng2 = freshEngine()
    val lib2 = eng2.createLibrary("hashsep", 2)
    val doc2 = eng2.createDocument(lib2)
    eng2.bulkIngest(lib2, doc2, Seq(
      (1, "2abc", Array(1f, 0f)), (12, "abc", Array(1f, 0f)))
      .toDF("position", "text", "embedding"))
    assert(eng2.chunks.count() == 2)
  }

  test("createDocument rejects an explicit id homed in another library (ADVICE r2)") {
    val eng = freshEngine()
    val libA = eng.createLibrary("homeA", 2)
    val libB = eng.createLibrary("homeB", 2)
    eng.createDocument(libA, id = Some("doc-1"))
    val err = intercept[ValidationError] {
      eng.createDocument(libB, id = Some("doc-1"))
    }
    assert(err.getMessage.contains(libA))
    // re-creating in the SAME library is still a replace, not an error
    eng.createDocument(libA, id = Some("doc-1"))
    assert(eng.documents.filter(
      org.apache.spark.sql.functions.col("id") === "doc-1").count() == 1)
  }

  test("createLibrary rejects filesystem-unsafe explicit ids (ADVICE r2)") {
    val eng = freshEngine()
    for (bad <- Seq("a/b", "a b", "100%", "", ".hidden", "x" * 200))
      intercept[ValidationError] { eng.createLibrary("n", 2, id = Some(bad)) }
    // safe ids and generated UUIDs pass
    eng.createLibrary("n", 2, id = Some("Lib-1.core_x"))
    eng.createLibrary("n2", 2)
  }

  test("getLibraryRow and libraryStats reflect state and index tables") {
    val eng = freshEngine()
    val lib = eng.createLibrary("stats", 2,
      IndexConfig("lsh", lshNumTables = 2, lshHyperplanesPerTable = 4))
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("a", Some(Array(1f, 0f)), id = Some("a")),
      ChunkIn("b", None, id = Some("b")))) // text-only chunk: not embedded
    val row = eng.getLibraryRow(lib).collect().head
    assert(row.getString(0) == lib && row.getString(1) == "stats")
    intercept[EngineErrors.NotFoundError] { eng.getLibraryRow("nope") }
    val before = eng.libraryStats(lib)
    assert(before.nDocuments == 1 && before.nChunks == 2 &&
      before.nEmbedded == 1 && !before.hasLshIndex && !before.hasIvfIndex)
    eng.rebuildIndex(lib)
    val after = eng.libraryStats(lib)
    assert(after.hasLshIndex && !after.hasIvfIndex &&
      after.indexType == "lsh")
  }

  test("listLibraries paginates with has_more (reference router shape)") {
    val eng = freshEngine()
    val ids = (1 to 5).map(i => eng.createLibrary(s"lib$i", 2, id = Some(f"L$i%02d")))
    val (p1, more1) = eng.listLibraries(limit = 2, offset = 0)
    assert(p1.collect().map(_.getString(0)).toSeq == Seq("L01", "L02") && more1)
    val (p2, more2) = eng.listLibraries(limit = 2, offset = 4)
    assert(p2.collect().map(_.getString(0)).toSeq == Seq("L05") && !more2)
    val (all, more3) = eng.listLibraries()
    assert(all.count() == 5 && !more3)
    assert(ids.size == 5)
    intercept[ValidationError] { eng.listLibraries(limit = 0) }
    intercept[ValidationError] { eng.listLibraries(limit = 1001) }
    intercept[ValidationError] { eng.listLibraries(offset = -1) }
  }

  test("PQ index: exact when codewords cover the corpus, incremental add, stats") {
    val eng = freshEngine()
    val vecs = Seq(
      Array(1f, 0f, 0f, 0f), Array(0.9f, 0.1f, 0f, 0f),
      Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0.2f),
      Array(0f, 0f, 0f, 1f), Array(0.5f, 0.5f, 0.5f, 0.5f))
    def mkLib(cfg: IndexConfig): (String, String) = {
      val lib = eng.createLibrary("pq-" + cfg.pqCodewords, 4, cfg)
      val doc = eng.createDocument(lib)
      eng.upsertChunks(lib, doc, vecs.zipWithIndex.map { case (v, i) =>
        ChunkIn(s"t$i", Some(v), id = Some(f"c$i%02d")) })
      eng.rebuildIndex(lib)
      (lib, doc)
    }
    // codewords >= corpus: every vector is its own codeword, quantization
    // error is zero, so PQ candidates + rerank == the exact flat ranking
    val (pqLib, pqDoc) = mkLib(
      IndexConfig("pq", pqSubspaces = 2, pqCodewords = 16))
    val flatLib = eng.createLibrary("flat-ref", 4)
    val flatDoc = eng.createDocument(flatLib)
    eng.upsertChunks(flatLib, flatDoc, vecs.zipWithIndex.map { case (v, i) =>
      ChunkIn(s"t$i", Some(v), id = Some(f"c$i%02d")) })
    val q = Array(0.95f, 0.05f, 0f, 0f)
    def hits(lib: String) = eng.search(lib, q, k = 3).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    val (pqHits, flatHits) = (hits(pqLib), hits(flatLib))
    assert(pqHits.map(_._1) == flatHits.map(_._1),
      "full-coverage PQ must reproduce the exact ranking")
    // scores agree to float-normalization precision (quirk Q1: index
    // paths rerank the NORMALIZED stored vector; flat scores the raw one)
    pqHits.zip(flatHits).foreach { case ((_, ps), (_, fs)) =>
      assert(math.abs(ps - fs) < 1e-6) }
    // incremental add encodes against existing codebooks
    eng.upsertChunks(pqLib, pqDoc, Seq(
      ChunkIn("fresh", Some(Array(0.95f, 0.05f, 0f, 0f)), id = Some("zz"))))
    assert(eng.search(pqLib, q, k = 1).collect().head.getString(0) == "zz")
    // stats see the PQ tables; flat library does not
    assert(eng.libraryStats(pqLib).hasPqIndex)
    assert(!eng.libraryStats(flatLib).hasPqIndex)
    // dim not divisible by subspaces fails loudly — BEFORE any state is
    // written (createLibrary and updateIndexConfig both pre-check)
    intercept[ValidationError] {
      eng.createLibrary("bad", 4, IndexConfig("pq", pqSubspaces = 3))
    }
    intercept[ValidationError] {
      eng.updateIndexConfig(pqLib, IndexConfig("pq", pqSubspaces = 3))
    }
    // the failed update left the library's config untouched
    assert(eng.libraryStats(pqLib).indexType == "pq")
    // undersized corpus: codewords clamp (like IVF) and search still works
    val (tinyLib, _) = mkLib(IndexConfig("pq", pqSubspaces = 4, pqCodewords = 3))
    assert(eng.search(tinyLib, q, k = 2).collect().length == 2)
    // TRAINED PQ: per-subspace Lloyd — same exactness property when the
    // codewords cover the corpus (each point converges to its own
    // codeword), and rebuilds are deterministic
    val (trLib, _) = mkLib(
      IndexConfig("pq_trained", pqSubspaces = 2, pqCodewords = 16))
    val trained1 = hits(trLib)
    assert(trained1.map(_._1) == flatHits.map(_._1),
      "full-coverage trained PQ must reproduce the exact ranking")
    eng.rebuildIndex(trLib)
    assert(hits(trLib) == trained1, "trained rebuild must be deterministic")
  }

  test("IVFPQ index: exact under full coverage, incremental add, family swap") {
    val eng = freshEngine()
    val vecs = Seq(
      Array(1f, 0f, 0f, 0f), Array(0.9f, 0.1f, 0f, 0f),
      Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0.2f),
      Array(0f, 0f, 0f, 1f), Array(0.5f, 0.5f, 0.5f, 0.5f))
    def mkLib(cfg: IndexConfig): (String, String) = {
      val lib = eng.createLibrary("ivfpq-" + cfg.indexType, 4, cfg)
      val doc = eng.createDocument(lib)
      eng.upsertChunks(lib, doc, vecs.zipWithIndex.map { case (v, i) =>
        ChunkIn(s"t$i", Some(v), id = Some(f"c$i%02d")) })
      eng.rebuildIndex(lib)
      (lib, doc)
    }
    val flatLib = eng.createLibrary("flat-ref", 4)
    val flatDoc = eng.createDocument(flatLib)
    eng.upsertChunks(flatLib, flatDoc, vecs.zipWithIndex.map { case (v, i) =>
      ChunkIn(s"t$i", Some(v), id = Some(f"c$i%02d")) })
    val q = Array(0.95f, 0.05f, 0f, 0f)
    def hits(lib: String) = eng.search(lib, q, k = 3).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    val flatHits = hits(flatLib)
    // nprobe = numCentroids (no cell missed) + codewords >= corpus (every
    // RESIDUAL is its own codeword, zero quantization error): the ADC
    // candidates + exact rerank must reproduce the flat ranking
    val (pqLib, pqDoc) = mkLib(IndexConfig("ivfpq",
      ivfNumCentroids = 2, ivfNprobe = 2, pqSubspaces = 2, pqCodewords = 16))
    val ipqHits = hits(pqLib)
    assert(ipqHits.map(_._1) == flatHits.map(_._1),
      "full-coverage IVFPQ must reproduce the exact ranking")
    ipqHits.zip(flatHits).foreach { case ((_, ps), (_, fs)) =>
      assert(math.abs(ps - fs) < 1e-6) }
    // incremental add: assign + residual-encode against existing state
    eng.upsertChunks(pqLib, pqDoc, Seq(
      ChunkIn("fresh", Some(Array(0.95f, 0.05f, 0f, 0f)), id = Some("zz"))))
    assert(eng.search(pqLib, q, k = 1).collect().head.getString(0) == "zz")
    // delete removes from the codes table (anti-join rewrite)
    eng.deleteChunk(pqLib, "zz")
    assert(!eng.search(pqLib, q, k = 6).collect()
      .map(_.getString(0)).contains("zz"))
    // stats see the shared centroid/codebook tables + the codes table
    val st = eng.libraryStats(pqLib)
    assert(st.hasIvfPqIndex && !st.hasLshIndex && !st.hasIvfIndex)
    // dim % subspaces validated for the combined family too
    intercept[ValidationError] {
      eng.createLibrary("bad", 4, IndexConfig("ivfpq", pqSubspaces = 3))
    }
    // trained mode: same exactness property, deterministic rebuilds
    val (trLib, _) = mkLib(IndexConfig("ivfpq_trained",
      ivfNumCentroids = 2, ivfNprobe = 2, pqSubspaces = 2, pqCodewords = 16))
    val trained1 = hits(trLib)
    assert(trained1.map(_._1) == flatHits.map(_._1),
      "full-coverage trained IVFPQ must reproduce the exact ranking")
    eng.rebuildIndex(trLib)
    assert(hits(trLib) == trained1, "trained rebuild must be deterministic")
    // family swap drops the codes table (and search keeps working)
    eng.updateIndexConfig(pqLib, IndexConfig("ivf", ivfNumCentroids = 2))
    val swapped = eng.libraryStats(pqLib)
    assert(!swapped.hasIvfPqIndex && swapped.hasIvfIndex)
    assert(hits(pqLib).map(_._1) == flatHits.map(_._1))
  }

  test("PQ/IVFPQ encode survives K=256 (codegen loop kernel, not an unrolled tree)") {
    // The production codeword count: the former per-codeword expression
    // tree (~2,048 nodes per projection at K=256) blew past janino method
    // limits; the PqEncode loop kernel must build + search at this config.
    val eng = freshEngine()
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(j => (((i * 31 + j * 17) % 97) + 1) / 98f)
    val chunksIn = (0 until 300).map(i =>
      ChunkIn(s"t$i", Some(vec(i)), id = Some(f"c$i%03d")))
    for (cfg <- Seq(
        IndexConfig("pq", pqSubspaces = 2, pqCodewords = 256),
        IndexConfig("ivfpq", ivfNumCentroids = 4, ivfNprobe = 4,
          pqSubspaces = 2, pqCodewords = 256))) {
      val lib = eng.createLibrary("k256-" + cfg.indexType, 8, cfg)
      val doc = eng.createDocument(lib)
      eng.upsertChunks(lib, doc, chunksIn)
      eng.rebuildIndex(lib)
      // the query IS vector 7 (vec cycles with period 97 in i, so c007,
      // c104, c201 are identical — cosine 1.0 ties break by chunk_id asc)
      val hits = eng.search(lib, vec(7), k = 5).collect()
      assert(hits.length == 5, s"${cfg.indexType}: expected 5 hits")
      assert(hits.head.getString(0) == "c007",
        s"${cfg.indexType}: exact-match vector must rank first")
    }
  }

  test("deterministic index modes: rebuild reproducible, incremental add maintained") {
    for (cfg <- Seq(
        IndexConfig("lsh_det", lshNumTables = 2, lshHyperplanesPerTable = 4),
        IndexConfig("ivf_det", ivfNumCentroids = 2, ivfNprobe = 2))) {
      val eng = freshEngine()
      val lib = eng.createLibrary("det-" + cfg.indexType, 2, cfg)
      val doc = eng.createDocument(lib)
      eng.upsertChunks(lib, doc, Seq(
        ChunkIn("a", Some(Array(1f, 0f)), id = Some("a")),
        ChunkIn("b", Some(Array(0f, 1f)), id = Some("b"))))
      eng.rebuildIndex(lib)
      val r1 = eng.search(lib, Array(1f, 0.1f), k = 2).collect()
        .map(r => (r.getString(0), r.getDouble(2))).toSeq
      eng.rebuildIndex(lib) // identical derivation -> identical results
      val r2 = eng.search(lib, Array(1f, 0.1f), k = 2).collect()
        .map(r => (r.getString(0), r.getDouble(2))).toSeq
      assert(r1 == r2, s"${cfg.indexType} rebuild must be reproducible")
      // incremental add goes through the det branch of addToIndexes
      eng.upsertChunks(lib, doc, Seq(
        ChunkIn("c", Some(Array(0.9f, 0.1f)), id = Some("c"))))
      val hits = eng.search(lib, Array(0.9f, 0.1f), k = 3).collect()
        .map(_.getString(0)).toSet
      assert(hits.contains("c"), s"${cfg.indexType} must index new chunks")
    }
  }

  test("quirkCompat Q2 is LSH-only: IVF updates still maintain postings") {
    val dir = graft.TempDirs.scratch("graft-quirk-ivf").toString
    val eng = new VectorEngine(spark, dir, fixedClock, quirkCompat = true)
    val lib = eng.createLibrary("qivf", 2,
      IndexConfig("ivf", ivfNumCentroids = 2, ivfNprobe = 2))
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("a", Some(Array(1f, 0f)), id = Some("a")),
      ChunkIn("b", Some(Array(0f, 1f)), id = Some("b"))))
    eng.rebuildIndex(lib)
    // reference ivf.py:51-75 re-assigns on update even though LSH doesn't:
    // after updating "a" the fresh vector must answer (no stale score)
    eng.upsertChunks(lib, doc, Seq(ChunkIn("a2", Some(Array(0f, 1f)), id = Some("a"))))
    val hits = eng.search(lib, Array(0f, 1f), k = 2).collect()
    val scoreA = hits.find(_.getString(0) == "a").get.getDouble(2)
    assert(math.abs(scoreA - 1.0) < 1e-10)
  }

  test("deleteChunk on a missing or foreign chunk is a silent no-op") {
    val eng = freshEngine()
    val lib = eng.createLibrary("del", 2)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(ChunkIn("v", Some(Array(1f, 0f)), id = Some("v"))))
    eng.deleteChunk(lib, "never-existed") // reference chunk.py:118-121
    val other = eng.createLibrary("other", 2)
    eng.deleteChunk(other, "v") // foreign-library id: also silent
    assert(eng.chunks.count() == 1)
    eng.deleteChunk(lib, "v")
    assert(eng.chunks.count() == 0)
  }

  test("chunksTyped: Dataset facade round-trips rows with typed fields") {
    val eng = freshEngine()
    val lib = eng.createLibrary("typed", 2)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("hello", Some(Array(1f, 0f)), id = Some("t0"),
        author = Some("alice"), tags = Seq("x"))))
    val rows = eng.chunksTyped.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.id == "t0" && r.text == "hello" && r.version == 1L)
    assert(r.embedding.get.toSeq == Seq(1f, 0f))
    assert(r.metadata.get.author.contains("alice"))
    assert(r.metadata.get.tags.get == Seq("x"))
  }

  test("searchBatch: N queries in one pass agree with N single searches") {
    val eng = freshEngine()
    val lib = eng.createLibrary("batch", 3)
    val doc = eng.createDocument(lib)
    val rnd = new scala.util.Random(5)
    eng.upsertChunks(lib, doc, (0 until 30).map(i =>
      ChunkIn(s"t$i", Some(Array.fill(3)(rnd.nextGaussian().toFloat)),
        id = Some(f"c$i%03d"), author = Some(s"a${i % 2}"))))
    val qs = (0L until 4L).map(i =>
      i -> Array.fill(3)(rnd.nextGaussian().toFloat))
    val filters = Some(SearchFilters(author = Some("a0")))
    val batch = eng.searchBatch(lib, qs, k = 5, filters = filters).collect()
      .groupBy(_.getLong(0))
    qs.foreach { case (qid, q) =>
      val single = eng.search(lib, q, k = 5, filters = filters).collect()
        .map(r => (r.getString(0), r.getDouble(2)))
      val fromBatch = batch.getOrElse(qid, Array.empty)
        .map(r => (r.getString(1), r.getDouble(3)))
      assert(fromBatch.toSeq == single.toSeq, s"query $qid diverged")
    }
  }

  test("searchBatchAnn: batched index-path search equals N single searches per family") {
    val rnd = new scala.util.Random(11)
    val dim = 8
    val chunksIn = (0 until 60).map(i =>
      ChunkIn(s"t$i", Some(Array.fill(dim)(rnd.nextGaussian().toFloat)),
        id = Some(f"c$i%03d"), author = Some(s"a${i % 3}")))
    // 5 live queries + 1 zero vector (must yield no rows on index paths)
    val qs: Seq[(Long, Array[Float])] =
      (0L until 5L).map(i => i -> Array.fill(dim)(rnd.nextGaussian().toFloat)) :+
        (9L -> Array.fill(dim)(0f))
    val configs = Seq(
      IndexConfig("flat"),
      IndexConfig("lsh", lshNumTables = 2, lshHyperplanesPerTable = 3),
      // high-H det config drives some queries under k candidates -> pad path
      IndexConfig("lsh_det", lshNumTables = 2, lshHyperplanesPerTable = 12),
      IndexConfig("ivf", ivfNumCentroids = 4, ivfNprobe = 2),
      IndexConfig("ivf_det", ivfNumCentroids = 4, ivfNprobe = 2),
      IndexConfig("pq", pqSubspaces = 2, pqCodewords = 8),
      IndexConfig("ivfpq", ivfNumCentroids = 4, ivfNprobe = 2,
        pqSubspaces = 2, pqCodewords = 8),
      IndexConfig("sq8"))
    val eng = freshEngine()
    for (cfg <- configs) {
      val lib = eng.createLibrary("batch-" + cfg.indexType, dim, cfg)
      val doc = eng.createDocument(lib)
      eng.upsertChunks(lib, doc, chunksIn)
      if (cfg.indexType != "flat") eng.rebuildIndex(lib)
      for (filters <- Seq(None, Some(SearchFilters(author = Some("a1"))))) {
        val batch = eng.searchBatchAnn(lib, qs, k = 5, filters = filters)
          .collect().groupBy(_.getLong(0))
        qs.foreach { case (qid, q) =>
          val single = eng.search(lib, q, k = 5, filters = filters).collect()
            .map(r => (r.getString(0), r.getDouble(2))).toSeq
          val fromBatch = batch.getOrElse(qid, Array.empty)
            .map(r => (r.getString(1), r.getDouble(3))).toSeq
          assert(fromBatch == single,
            s"${cfg.indexType} query $qid (filters=${filters.isDefined}) diverged")
        }
      }
      // preFilter deviation batched too
      val pf = Some(SearchFilters(author = Some("a2")))
      val preBatch = eng.searchBatchAnn(lib, qs, k = 3, filters = pf,
        preFilter = true).collect().groupBy(_.getLong(0))
      qs.foreach { case (qid, q) =>
        val single = eng.search(lib, q, k = 3, filters = pf, preFilter = true)
          .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
        val fromBatch = preBatch.getOrElse(qid, Array.empty)
          .map(r => (r.getString(1), r.getDouble(3))).toSeq
        assert(fromBatch == single,
          s"${cfg.indexType} preFilter query $qid diverged")
      }
    }
  }

  test("annJoin: DataFrame-scale batch equals N single searches on every family") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 8
    val chunksIn = (0 until 60).map(i =>
      ChunkIn(s"t$i", Some(Array.fill(dim)(rnd.nextGaussian().toFloat)),
        id = Some(f"c$i%03d"), author = Some(s"a${i % 3}")))
    val qs: Seq[(Long, Array[Float])] =
      (0L until 4L).map(i => i -> Array.fill(dim)(rnd.nextGaussian().toFloat)) :+
        (9L -> Array.fill(dim)(0f))
    val eng = freshEngine()
    // (query_id, chunk_id, score) rows of N single `search` calls, in the
    // batch order (query_id, score desc, chunk_id)
    def singles(lib: String, k: Int, filters: Option[SearchFilters],
        preFilter: Boolean): Seq[(Long, String, Double)] =
      qs.sortBy(_._1).flatMap { case (qid, q) =>
        eng.search(lib, q, k, filters = filters, preFilter = preFilter)
          .collect().map(r => (qid, r.getString(0), r.getDouble(2)))
      }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Double)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3))).toSeq
    for (cfg <- Seq(
        IndexConfig("flat"),
        IndexConfig("ivf_det", ivfNumCentroids = 4, ivfNprobe = 2),
        IndexConfig("ivfpq", ivfNumCentroids = 4, ivfNprobe = 2,
          pqSubspaces = 2, pqCodewords = 8),
        IndexConfig("lsh", lshNumTables = 2, lshHyperplanesPerTable = 3),
        // high-H det config drives some queries under k candidates -> pad path
        IndexConfig("lsh_det", lshNumTables = 2, lshHyperplanesPerTable = 12),
        IndexConfig("pq", pqSubspaces = 2, pqCodewords = 8),
        IndexConfig("sq8"),
        IndexConfig("ivfbq", ivfNumCentroids = 4, ivfNprobe = 2),
        IndexConfig("bq"),
        IndexConfig("ivfsq8", ivfNumCentroids = 4, ivfNprobe = 2),
        // the graph families' pre-filtered batches run the gated
        // lockstep walk (walkIdsMany), pinned against the gated
        // single-query walk below
        IndexConfig("nsw_det", ivfNumCentroids = 4, ivfNprobe = 2,
          nswDegree = 4, nswBeam = 6, nswRounds = 2),
        IndexConfig("hnsw_det", ivfNumCentroids = 4, ivfNprobe = 2,
          nswDegree = 4, nswBeam = 6, nswRounds = 2))) {
      val lib = eng.createLibrary("aj-" + cfg.indexType, dim, cfg)
      val doc = eng.createDocument(lib)
      eng.upsertChunks(lib, doc, chunksIn)
      if (cfg.indexType != "flat") eng.rebuildIndex(lib)
      val qDf = qs.map { case (qid, v) => (qid, v.toSeq) }.toDF("query_id", "qvec")
      val filters = Some(SearchFilters(author = Some("a0")))
      val viaDf = rows(eng.annJoin(lib, qDf, k = 5, filters = filters))
      assert(viaDf == singles(lib, 5, filters, preFilter = false),
        s"${cfg.indexType}: annJoin diverged from single search")
      assert(viaDf.nonEmpty, s"${cfg.indexType}: fixture should produce hits")
      // the zero-vector query (9) scores all-zero on flat, no rows on index paths
      assert(viaDf.exists(_._1 == 9L) == (cfg.indexType == "flat"))
      // preFilter deviation batched identically to the single path
      val pf = Some(SearchFilters(author = Some("a2")))
      val preDf = rows(eng.annJoin(lib, qDf, k = 3, filters = pf, preFilter = true))
      assert(preDf == singles(lib, 3, pf, preFilter = true),
        s"${cfg.indexType}: annJoin preFilter diverged from single search")
      // dim-mismatched rows are dropped, not scored
      val bad = Seq((7L, Seq(1f, 2f))).toDF("query_id", "qvec")
      assert(eng.annJoin(lib, bad, k = 3).collect().isEmpty)
    }
    // duplicate query_ids are rejected on both batch surfaces: probe/ADC
    // would keep one vector per id while rerank joins every raw qvec
    val flatLib = eng.createLibrary("aj-dup", dim, IndexConfig("flat"))
    val dupDoc = eng.createDocument(flatLib)
    eng.upsertChunks(flatLib, dupDoc, chunksIn.take(5))
    val dupQ = Seq((0L, Seq.fill(dim)(1f)), (0L, Seq.fill(dim)(2f)))
    intercept[ValidationError] {
      eng.annJoin(flatLib, dupQ.toDF("query_id", "qvec"), 3)
    }
    intercept[ValidationError] {
      eng.searchBatchAnn(flatLib,
        dupQ.map { case (i, v) => (i, v.toArray) }, 3)
    }
    // searchBatchAnn's driver contract: a wrong-dimension query throws,
    // where annJoin silently drops the row
    intercept[ValidationError] {
      eng.searchBatchAnn(flatLib,
        Seq(0L -> Array.fill(dim)(1f), 1L -> Array.fill(dim - 1)(1f)), 3)
    }
  }

  test("annJoinStream: fused cap+rerank equals annJoin on the ivfpq index") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val dim = 8
    val chunksIn = (0 until 60).map(i =>
      ChunkIn(s"t$i", Some(Array.fill(dim)(rnd.nextGaussian().toFloat)),
        id = Some(f"c$i%03d")))
    val qs: Seq[(Long, Array[Float])] =
      (0L until 4L).map(i => i -> Array.fill(dim)(rnd.nextGaussian().toFloat)) :+
        (9L -> Array.fill(dim)(0f))
    val eng = freshEngine()
    val lib = eng.createLibrary("ajs", dim, IndexConfig("ivfpq",
      ivfNumCentroids = 4, ivfNprobe = 2, pqSubspaces = 2, pqCodewords = 8))
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, chunksIn)
    eng.rebuildIndex(lib)
    val qDf = qs.map { case (qid, v) => (qid, v.toSeq) }.toDF("query_id", "qvec")
    // the streaming plan is batch-executable: same candidates, same cap
    // order, same final (score desc, chunk_id asc) as cap->hydrate->rerank
    import org.apache.spark.sql.functions.{col, explode}
    val streamed = eng.annJoinStream(lib, qDf, k = 5)
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h._2").as("chunk_id"), col("h._1").as("score"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val viaJoin = eng.annJoin(lib, qDf, k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
      .sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(streamed == viaJoin, "annJoinStream diverged from annJoin")
    assert(streamed.nonEmpty)
    // zero-vector query contributes no rows
    assert(!streamed.exists(_._1 == 9L))
    // index-table probing requires an ivfpq library
    val flatLib = eng.createLibrary("ajs-flat", dim)
    intercept[ValidationError] {
      eng.annJoinStream(flatLib, qDf, k = 5)
    }
  }

  test("upsertChunks size guard points oversized batches at bulkIngest") {
    val eng = freshEngine()
    val lib = eng.createLibrary("big", 2)
    val doc = eng.createDocument(lib)
    val big = (0 to VectorEngine.UpsertMaxBatch).map(i =>
      ChunkIn(s"t$i", id = Some(s"c$i")))
    val e = intercept[ValidationError] { eng.upsertChunks(lib, doc, big) }
    assert(e.getMessage.contains("bulkIngest"))
  }

  test("autoVacuumKeep trims snapshot history after mutating verbs") {
    val dir = graft.TempDirs.scratch("graft-autovac").toString
    val eng = new VectorEngine(spark, dir, fixedClock, autoVacuumKeep = Some(1))
    val lib = eng.createLibrary("av", 2)
    val doc = eng.createDocument(lib)
    for (i <- 0 until 3)
      eng.upsertChunks(lib, doc, Seq(
        ChunkIn(s"t$i", Some(Array(1f, 0f)), id = Some(s"c$i"))))
    val v = eng.chunksVersion.get
    assert(v >= 3)
    intercept[IllegalArgumentException] { eng.chunksAt(v - 1) } // trimmed
    assert(eng.chunks.count() == 3) // current intact
  }

  test("auto index selection: flat/IVF/IVFPQ/LSH four-way thresholds (README.md:263)") {
    def build(ivfAt: Long, lshAt: Long): (VectorEngine, String, StateStore) = {
      val dir = graft.TempDirs.scratch("graft-auto").toString
      val eng = new VectorEngine(spark, dir, fixedClock,
        autoIvfThreshold = ivfAt, autoLshThreshold = lshAt)
      val lib = eng.createLibrary("auto", 2, IndexConfig("auto"))
      val doc = eng.createDocument(lib)
      val rnd = new scala.util.Random(3)
      eng.upsertChunks(lib, doc, (0 until 20).map(i =>
        ChunkIn(s"t$i", Some(Array.fill(2)(rnd.nextGaussian().toFloat)),
          id = Some(f"c$i%03d"))))
      eng.rebuildIndex(lib)
      (eng, lib, new StateStore(spark, dir))
    }
    def libCount(st: StateStore, table: String, schema:
        org.apache.spark.sql.types.StructType, lib: String): Long =
      if (!st.exists(table)) 0L
      else st.read(table, schema).filter(
        org.apache.spark.sql.functions.col("library_id") === lib).count()
    // 20 chunks below a high IVF threshold -> flat: no index tables
    val (engF, libF, storeF) = build(ivfAt = 100000L, lshAt = 1000000L)
    assert(!storeF.exists("ivf_centroids") && !storeF.exists("lsh_planes"))
    assert(engF.search(libF, Array(1f, 0f), k = 3).collect().length == 3)
    // middle tier -> IVF: centroids materialize, no planes
    val (engI, libI, storeI) = build(ivfAt = 10L, lshAt = 1000000L)
    assert(libCount(storeI, "ivf_centroids", Schemas.ivfCentroids, libI) > 0)
    assert(libCount(storeI, "lsh_planes", Schemas.lshPlanes, libI) == 0)
    assert(engI.search(libI, Array(1f, 0f), k = 3).collect().nonEmpty)
    // past the top threshold with dim NOT divisible by pqSubspaces
    // (2 % 8 != 0) -> the LSH fallback: planes+buckets, auto search uses
    // them
    val (engL, libL, storeL) = build(ivfAt = 5L, lshAt = 10L)
    assert(libCount(storeL, "lsh_planes", Schemas.lshPlanes, libL) > 0)
    assert(libCount(storeL, "ivf_centroids", Schemas.ivfCentroids, libL) == 0)
    assert(engL.search(libL, Array(1f, 0f), k = 3).collect().nonEmpty)
    // past the top threshold with a pq-divisible dim -> IVFPQ (the
    // engine's >=10M-vector tier): codes table materializes, no planes,
    // no plain-ivf postings — and auto search dispatches on the codes
    val dirP = graft.TempDirs.scratch("graft-auto").toString
    val engP = new VectorEngine(spark, dirP, fixedClock,
      autoIvfThreshold = 5L, autoLshThreshold = 10L)
    val libP = engP.createLibrary("auto", 4,
      IndexConfig("auto", pqSubspaces = 2))
    val docP = engP.createDocument(libP)
    val rndP = new scala.util.Random(3)
    engP.upsertChunks(libP, docP, (0 until 20).map(i =>
      ChunkIn(s"t$i", Some(Array.fill(4)(rndP.nextGaussian().toFloat)),
        id = Some(f"c$i%03d"))))
    engP.rebuildIndex(libP)
    val storeP = new StateStore(spark, dirP)
    assert(libCount(storeP, "ivfpq_codes", Schemas.ivfpqCodes, libP) > 0)
    assert(libCount(storeP, "lsh_planes", Schemas.lshPlanes, libP) == 0)
    assert(libCount(storeP, "ivf_postings", Schemas.ivfPostings, libP) == 0)
    assert(engP.search(libP, Array(1f, 0f, 0f, 0f), k = 3).collect().length == 3)
    // incremental add maintains the auto-resolved LSH buckets
    val docL = eng2doc(engL, libL)
    engL.upsertChunks(libL, docL, Seq(
      ChunkIn("fresh", Some(Array(1f, 0f)), id = Some("fresh"))))
    assert(engL.search(libL, Array(1f, 0f), k = 1).collect()
      .head.getString(0) == "fresh")
    // tier DOWNGRADE: delete chunks below the IVF threshold and rebuild —
    // stale planes must be dropped, centroids take over
    (5 until 20).foreach(i => engL.deleteChunk(libL, f"c$i%03d"))
    engL.rebuildIndex(libL)
    assert(libCount(storeL, "lsh_planes", Schemas.lshPlanes, libL) == 0)
    assert(libCount(storeL, "ivf_centroids", Schemas.ivfCentroids, libL) > 0)
    assert(engL.search(libL, Array(1f, 0f), k = 1).collect().nonEmpty)
  }

  private def eng2doc(eng: VectorEngine, lib: String): String =
    eng.documents.filter(
      org.apache.spark.sql.functions.col("library_id") === lib)
      .collect().head.getString(0)

  test("partition-selective writes: other libraries untouched and hardlink-shared") {
    val dir = graft.TempDirs.scratch("graft-partsel").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val libA = eng.createLibrary("A", 2)
    val libB = eng.createLibrary("B", 2)
    val docA = eng.createDocument(libA)
    val docB = eng.createDocument(libB)
    eng.upsertChunks(libB, docB, Seq(ChunkIn("b0", Some(Array(0f, 1f)), id = Some("b0"))))
    // several mutations scoped to library A
    for (i <- 0 until 3)
      eng.upsertChunks(libA, docA, Seq(
        ChunkIn(s"a$i", Some(Array(1f, 0f)), id = Some(s"a$i"))))
    eng.deleteChunk(libA, "a0")
    // B's data is intact through all of A's snapshot versions
    val bRows = eng.chunks.filter(org.apache.spark.sql.functions.col("library_id") === libB)
      .collect()
    assert(bRows.map(_.getString(0)).toSeq == Seq("b0"))
    assert(eng.search(libB, Array(0f, 1f), k = 1).collect().head.getString(0) == "b0")
    // and B's partition files in the CURRENT version are hardlinks of the
    // earlier snapshot's files (nlink > 1), not copies
    val v = eng.chunksVersion.get
    val bDir = java.nio.file.Paths.get(dir, "chunks", s"v$v", s"library_id=$libB")
    val dataFiles = Files.list(bDir).iterator()
    var sawSharedFile = false
    while (dataFiles.hasNext) {
      val f = dataFiles.next()
      if (f.getFileName.toString.endsWith(".parquet") &&
          Files.getAttribute(f, "unix:nlink").asInstanceOf[Number].intValue > 1)
        sawSharedFile = true
    }
    assert(sawSharedFile, "expected B's partition to be hardlinked forward")
  }

  test("moveDocument/deleteLibrary are partition-selective: bystander hardlinked") {
    import org.apache.spark.sql.functions.{col => c}
    val dir = graft.TempDirs.scratch("graft-partmove").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val libA = eng.createLibrary("A", 2)
    val libB = eng.createLibrary("B", 2)
    val libC = eng.createLibrary("C", 2) // the untouched bystander
    val docA = eng.createDocument(libA)
    val docC = eng.createDocument(libC)
    eng.upsertChunks(libA, docA, Seq(
      ChunkIn("a0", Some(Array(1f, 0f)), id = Some("a0")),
      ChunkIn("a1", Some(Array(0f, 1f)), id = Some("a1"))))
    eng.upsertChunks(libC, docC, Seq(ChunkIn("c0", Some(Array(1f, 1f)), id = Some("c0"))))
    def bystanderHardlinked(): Boolean = {
      val v = eng.chunksVersion.get
      val cDir = java.nio.file.Paths.get(dir, "chunks", s"v$v", s"library_id=$libC")
      val it = Files.list(cDir).iterator()
      var shared = false
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet") &&
            Files.getAttribute(f, "unix:nlink").asInstanceOf[Number].intValue > 1)
          shared = true
      }
      shared
    }
    // move A's document to B: C's chunk partition must be linked, not rewritten
    eng.moveDocument(docA, libA, libB)
    assert(bystanderHardlinked(), "move must hardlink untouched libraries")
    assert(eng.documents.filter(c("id") === docA).collect()
      .head.getString(1) == libB)
    assert(eng.chunks.filter(c("library_id") === libB).count() == 2)
    assert(eng.chunks.filter(c("library_id") === libA).count() == 0)
    assert(eng.search(libB, Array(1f, 0f), k = 1).collect().head.getString(0) == "a0")
    // delete B: zero-job partition drop; C still linked and searchable
    eng.deleteLibrary(libB)
    assert(bystanderHardlinked(), "delete must hardlink surviving libraries")
    assert(eng.chunks.filter(c("library_id") === libB).count() == 0)
    assert(eng.search(libC, Array(1f, 1f), k = 1).collect().head.getString(0) == "c0")
    intercept[EngineErrors.NotFoundError] { eng.getLibrary(libB) }
  }

  test("time travel: chunksAt reads historical snapshots after mutations") {
    val eng = freshEngine()
    val lib = eng.createLibrary("tt", 2)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(ChunkIn("v1", Some(Array(1f, 0f)), id = Some("c"))))
    val v1 = eng.chunksVersion.get
    eng.upsertChunks(lib, doc, Seq(ChunkIn("v2", Some(Array(0f, 1f)), id = Some("c"))))
    eng.deleteChunk(lib, "c")
    assert(eng.chunks.count() == 0) // current: deleted
    val hist = eng.chunksAt(v1).collect()
    assert(hist.length == 1 &&
      hist.head.getString(hist.head.fieldIndex("text")) == "v1")
    intercept[IllegalArgumentException] { eng.chunksAt(9999L) }
    // vacuum: retention drops the historical snapshot, current stays
    assert(eng.vacuum(keepLast = 1) > 0)
    intercept[IllegalArgumentException] { eng.chunksAt(v1) }
    assert(eng.chunks.count() == 0) // current still readable
  }

  test("snapshot CDC: diff emits exactly added/deleted/updated, never unchanged") {
    val eng = freshEngine()
    val lib = eng.createLibrary("cdc", 2)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("keep", Some(Array(1f, 0f)), id = Some("a")),
      ChunkIn("old", Some(Array(0f, 1f)), id = Some("b")),
      ChunkIn("gone", Some(Array(1f, 1f)), id = Some("c"))))
    val v0 = eng.chunksVersion.get
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("new text", Some(Array(0f, 1f)), id = Some("b")),
      ChunkIn("fresh", Some(Array(1f, 0f)), id = Some("d"))))
    eng.deleteChunk(lib, "c")
    val v1 = eng.chunksVersion.get
    val diff = eng.snapshotDiff(v0, v1).collect()
      .map(r => r.getString(0) -> (r.getString(1),
        Option(r.getString(2)), Option(r.getString(3)))).toMap
    assert(diff.keySet == Set("b", "c", "d"), "unchanged 'a' must not appear")
    assert(diff("b") == (("updated", Some("old"), Some("new text"))))
    assert(diff("c") == (("deleted", Some("gone"), None)))
    assert(diff("d") == (("added", None, Some("fresh"))))
    // reversed diff mirrors the change set
    val rev = eng.snapshotDiff(v1, v0).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rev == Map("b" -> "updated", "c" -> "added", "d" -> "deleted"))
    // identical versions -> empty diff
    assert(eng.snapshotDiff(v1, v1).isEmpty)
  }

  test("compaction: collapses per-library part files, preserves content and history") {
    import spark.implicits._
    val dir = graft.TempDirs.scratch("graft-compact-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("cmp", 2)
    val doc = eng.createDocument(lib)
    // spread the ingest over several tasks -> several part files per lib
    eng.bulkIngest(lib, doc, (0 until 200)
      .map(i => (f"c$i%04d", s"text $i", Array(i.toFloat, 1f)))
      .toDF("id", "text", "embedding").repartition(8))
    def partFiles(version: Long): Int = {
      val vd = java.nio.file.Paths.get(dir, "chunks", s"v$version")
      val st = java.nio.file.Files.walk(vd)
      try {
        val it = st.iterator()
        var n = 0
        while (it.hasNext)
          if (it.next().getFileName.toString.endsWith(".parquet")) n += 1
        n
      } finally st.close()
    }
    val v0 = eng.chunksVersion.get
    val before = partFiles(v0)
    assert(before > 1, s"expected a fragmented ingest, got $before files")
    val content = eng.chunks.select("id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val v1 = eng.compactChunks()
    assert(v1 == v0 + 1)
    assert(partFiles(v1) == 1, s"compaction left ${partFiles(v1)} files")
    assert(eng.chunks.select("id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == content)
    assert(eng.search(lib, Array(1f, 1f), k = 1).collect().nonEmpty)
    // the fragmented version stays time-travel readable until vacuumed
    assert(eng.chunksAt(v0).count() == 200)
    assert(eng.vacuum(keepLast = 1) > 0)
    intercept[IllegalArgumentException] { eng.chunksAt(v0) }
  }

  test("compactIndexes: collapses fragmented index tables, search byte-identical") {
    import spark.implicits._
    val dir = graft.TempDirs.scratch("graft-compact-idx-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("cmpidx", 2, IndexConfig("sq8"))
    val doc = eng.createDocument(lib)
    def batch(ids: Range) = ids
      .map(i => (f"c$i%04d", s"text $i", Array(i.toFloat, 1f)))
      .toDF("id", "text", "embedding").repartition(4)
    eng.bulkIngest(lib, doc, batch(0 until 100))
    eng.rebuildIndex(lib)
    // three incremental adds, each a partition-selective codes write ->
    // the sq8_codes partition fragments exactly like streaming ingest
    eng.bulkIngest(lib, doc, batch(100 until 130))
    eng.bulkIngest(lib, doc, batch(130 until 160))
    eng.bulkIngest(lib, doc, batch(160 until 200))
    def codeFiles(version: Long): Int = {
      val vd = java.nio.file.Paths.get(dir, "sq8_codes", s"v$version")
      val st = java.nio.file.Files.walk(vd)
      try {
        val it = st.iterator()
        var n = 0
        while (it.hasNext)
          if (it.next().getFileName.toString.endsWith(".parquet")) n += 1
        n
      } finally st.close()
    }
    def hits(): Seq[(String, Double)] =
      eng.search(lib, Array(1f, 1f), k = 10).select("chunk_id", "score")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val store = new StateStore(spark, dir)
    val v0 = store.currentVersion("sq8_codes").get
    val before = codeFiles(v0)
    assert(before > 3, s"expected a fragmented codes table, got $before files")
    val hitsBefore = hits()
    val compacted = eng.compactIndexes().toMap
    val v1 = compacted("sq8_codes")
    assert(v1 == v0 + 1)
    assert(codeFiles(v1) == 1, s"compaction left ${codeFiles(v1)} files")
    assert(hits() == hitsBefore)
    // the fragmented version stays time-travel readable until vacuumed
    assert(store.readVersion("sq8_codes", v0, Schemas.sq8Codes).count() ==
      store.readVersion("sq8_codes", v1, Schemas.sq8Codes).count())
  }

  test("incremental ivfpq maintenance: delta encoded against frozen centroids, removal anti-joins codes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = graft.TempDirs.scratch("graft-incr-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("incr", 4, IndexConfig("ivfpq",
      ivfNumCentroids = 2, ivfNprobe = 2, pqSubspaces = 2, pqCodewords = 4))
    val doc = eng.createDocument(lib)
    def batch(ids: Range) = ids
      .map(i => (f"c$i%04d", s"text $i",
        Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat,
          math.cos(i * 1.3).toFloat, math.sin(i * 1.3).toFloat)))
      .toDF("id", "text", "embedding")
    eng.bulkIngest(lib, doc, batch(0 until 20))
    eng.rebuildIndex(lib)
    val store = new StateStore(spark, dir)
    def codes = store.read("ivfpq_codes", Schemas.ivfpqCodes)
    def frozen: (Seq[String], Seq[String]) = (
      store.read("ivf_centroids", Schemas.ivfCentroids)
        .collect().map(_.toString).sorted.toSeq,
      store.read("pq_codebooks", Schemas.pqCodebooks)
        .collect().map(_.toString).sorted.toSeq)
    assert(codes.count() == 20)
    val before = frozen
    // delta ingest: encoded incrementally, NO retrain of cells/codebooks
    eng.bulkIngest(lib, doc, batch(20 until 30))
    assert(codes.count() == 30)
    assert(frozen == before)
    // batch removal: one rewrite + one anti-join for the whole id set,
    // missing ids silently skipped (deleteChunk parity)
    eng.deleteChunks(lib, Seq("c0005", "c0011", "c9999"))
    assert(codes.count() == 28)
    assert(codes.filter(col("chunk_id").isin("c0005", "c0011")).isEmpty)
    assert(eng.search(lib, Array(1f, 0f, 1f, 0f), k = 5).count() == 5)
  }

  test("ivfsq8 engine family: lifecycle, frozen-cell incremental, removal, rebuild swap") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = graft.TempDirs.scratch("graft-ivfsq8-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("isq8", 4,
      IndexConfig("ivfsq8", ivfNumCentroids = 2, ivfNprobe = 2))
    val doc = eng.createDocument(lib)
    // empty-corpus rebuild: empty index tables, flat-scan fallback
    eng.rebuildIndex(lib)
    assert(eng.search(lib, Array(1f, 0f, 0f, 0f), k = 3).isEmpty)
    def batch(ids: Range) = ids
      .map(i => (f"c$i%04d", s"text $i",
        Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat,
          math.cos(i * 1.3).toFloat, math.sin(i * 1.3).toFloat)))
      .toDF("id", "text", "embedding")
    eng.bulkIngest(lib, doc, batch(0 until 20))
    eng.rebuildIndex(lib)
    val store = new StateStore(spark, dir)
    def codes = store.read("ivfsq8_codes", Schemas.ivfsq8Codes)
    def frozen: (Seq[String], Seq[String]) = (
      store.read("ivf_centroids", Schemas.ivfCentroids)
        .collect().map(_.toString).sorted.toSeq,
      store.read("ivfsq8_params", Schemas.ivfsq8Params)
        .collect().map(_.toString).sorted.toSeq)
    assert(codes.count() == 20)
    assert(eng.libraryStats(lib).hasIvfSq8Index)
    // self-query: the vector's own chunk must rank first at full recall
    // of its cell (nprobe = num_centroids here, so no prune loss)
    val top = eng.search(lib, Array(math.cos(2.1).toFloat, math.sin(2.1).toFloat,
      math.cos(3.9).toFloat, math.sin(3.9).toFloat), k = 1)
      .select("chunk_id").collect().head.getString(0)
    assert(top == "c0003", s"self-query returned $top")
    val before = frozen
    // delta ingest: assigned + clamp-encoded against FROZEN cells/ranges
    eng.bulkIngest(lib, doc, batch(20 until 30))
    assert(codes.count() == 30)
    assert(frozen == before)
    eng.deleteChunks(lib, Seq("c0003", "c0021", "c9999"))
    assert(codes.count() == 28)
    assert(codes.filter(col("chunk_id").isin("c0003", "c0021")).isEmpty)
    assert(eng.search(lib, Array(1f, 0f, 1f, 0f), k = 5).count() == 5)
    // config swap to flat drops this library's ivfsq8 state
    eng.updateIndexConfig(lib, IndexConfig("flat"))
    assert(codes.filter(col("library_id") === lib).isEmpty)
    assert(!eng.libraryStats(lib).hasIvfSq8Index)
    assert(eng.search(lib, Array(1f, 0f, 1f, 0f), k = 5).count() == 5)
  }

  test("rebuildIfDrifted: clamped out-of-range deltas trip the threshold, rebuild clears it") {
    import spark.implicits._
    val dir = graft.TempDirs.scratch("graft-drift-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("drift", 2, IndexConfig("sq8"))
    val doc = eng.createDocument(lib)
    // tight build corpus: all vectors near (1, 0) -> narrow frozen ranges
    eng.bulkIngest(lib, doc, (0 until 20)
      .map(i => (f"a$i%04d", s"t$i", Array(1f, 0.01f * i)))
      .toDF("id", "text", "embedding"))
    eng.rebuildIndex(lib)
    val clean = eng.rebuildIfDrifted(lib, maxMeanErrU = 1000.0)
    assert(!clean.rebuilt && clean.n == 20)
    // delta far outside the learned ranges: codes clamp to the edges and
    // reconstruction error explodes -> the audit must trip the policy
    eng.bulkIngest(lib, doc, (0 until 20)
      .map(i => (f"b$i%04d", s"u$i", Array(-1f, -0.01f * i)))
      .toDF("id", "text", "embedding"))
    val drifted = eng.rebuildIfDrifted(lib, maxMeanErrU = 1000.0)
    assert(drifted.rebuilt && drifted.n == 40,
      s"expected a drift rebuild, got $drifted")
    assert(drifted.meanErrU > clean.meanErrU * 10)
    // the rebuild re-learned the ranges over the full corpus: clean again
    val after = eng.rebuildIfDrifted(lib, maxMeanErrU = 1000.0)
    assert(!after.rebuilt && after.n == 40, s"post-rebuild still dirty: $after")
    // families with no compressed codes refuse the audit
    val flatLib = eng.createLibrary("flatlib", 2)
    intercept[EngineErrors.ValidationError] {
      eng.rebuildIfDrifted(flatLib, 1000.0)
    }
  }

  test("rebalanceIfSkewed: pile-up on frozen centroids trips the skew policy, rebuild rebalances") {
    import spark.implicits._
    val dir = graft.TempDirs.scratch("graft-skew-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("skew", 2,
      IndexConfig("ivf", ivfNumCentroids = 2, ivfNprobe = 2))
    val doc = eng.createDocument(lib)
    def arc(prefix: String, baseDeg: Int) = (0 until 20)
      .map { i =>
        val a = math.toRadians(baseDeg + i)
        (f"$prefix$i%04d", s"t$prefix$i",
          Array(math.cos(a).toFloat, math.sin(a).toFloat))
      }.toDF("id", "text", "embedding")
    // build corpus: one 20-vector arc at 0..19 degrees; k=2 splits it in
    // two roughly-even cells
    eng.bulkIngest(lib, doc, arc("a", 0))
    eng.rebuildIndex(lib)
    val clean = eng.rebalanceIfSkewed(lib, maxSharePpm = 700000L)
    assert(!clean.rebuilt && clean.family == "ivf" && clean.nEntries == 20,
      s"unexpected clean decision: $clean")
    // a NEW cluster at 120..139 degrees arrives incrementally: every
    // vector assigns to the SAME frozen centroid (both trained centroids
    // sit inside the 0..19-degree arc, and the new arc is single-sidedly
    // closer to the higher-angle one) -> that cell now holds 30/40
    eng.bulkIngest(lib, doc, arc("b", 120))
    val skewed = eng.rebalanceIfSkewed(lib, maxSharePpm = 700000L)
    assert(skewed.rebuilt && skewed.nEntries == 40, s"expected skew rebuild: $skewed")
    assert(skewed.maxSharePpm == 750000L,
      s"30-of-40 pile-up should read exactly 750000 ppm: $skewed")
    // the rebuild re-trained on the full corpus: two far clusters, one
    // centroid each -> exactly 20/20 (500000 ppm), policy clean again
    val after = eng.rebalanceIfSkewed(lib, maxSharePpm = 700000L)
    assert(!after.rebuilt && after.nEntries == 40, s"post-rebuild still skewed: $after")
    assert(after.maxSharePpm == 500000L,
      s"two equal clusters should split 20/20: $after")
    // families with no balance-audited units refuse the audit
    val flatLib2 = eng.createLibrary("flatlib-skew", 2)
    intercept[EngineErrors.ValidationError] {
      eng.rebalanceIfSkewed(flatLib2, 700000L)
    }
  }

  test("sq8 engine family: frozen-range incremental encode, clamped codes, removal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, max => smax, min => smin}
    val dir = graft.TempDirs.scratch("graft-sq8-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("sq8", 4, IndexConfig("sq8"))
    val doc = eng.createDocument(lib)
    // empty-corpus rebuild: empty index tables with correct schemas,
    // search falls back to the flat scan path (no crash)
    eng.rebuildIndex(lib)
    assert(eng.search(lib, Array(1f, 0f, 0f, 0f), k = 3).isEmpty)
    def batch(ids: Range) = ids
      .map(i => (f"c$i%04d", s"text $i",
        Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat,
          math.cos(i * 1.3).toFloat, math.sin(i * 1.3).toFloat)))
      .toDF("id", "text", "embedding")
    eng.bulkIngest(lib, doc, batch(0 until 20))
    eng.rebuildIndex(lib)
    val store = new StateStore(spark, dir)
    def codes = store.read("sq8_codes", Schemas.sq8Codes)
    def params = store.read("sq8_params", Schemas.sq8Params)
      .collect().map(_.toString).sorted.toSeq
    assert(codes.count() == 20)
    val before = params
    // delta encodes against the FROZEN ranges — params byte-identical
    eng.bulkIngest(lib, doc, batch(20 until 30))
    assert(codes.count() == 30)
    assert(params == before)
    // every code (incl. out-of-range delta dims) clamps into one byte
    val mm = codes.select(explode(col("codes")).as("c"))
      .agg(smin(col("c")), smax(col("c"))).collect().head
    assert(mm.getInt(0) >= 0 && mm.getInt(1) <= 255)
    eng.deleteChunks(lib, Seq("c0003"))
    assert(codes.count() == 29)
    assert(codes.filter(col("chunk_id") === "c0003").isEmpty)
    assert(eng.search(lib, Array(1f, 0f, 1f, 0f), k = 5).count() == 5)
  }

  test("document/library metadata verbs: create, has_tag, update, CAS, with-chunks") {
    val eng = freshEngine()
    val lib = eng.createLibrary("meta", 2,
      metadata = Some(LibMetadata(description = Some("test lib"))))
    val doc = eng.createDocument(lib,
      metadata = Some(DocMetadata(title = Some("t1"), tags = Seq("red", "blue"))))
    // P7 has_tag filter sees the created metadata
    assert(eng.listDocuments(lib, hasTag = Some("red"))
      .collect().map(_.getString(0)).toSeq == Seq(doc))
    assert(eng.listDocuments(lib, hasTag = Some("green")).collect().isEmpty)
    // update replaces metadata wholesale and bumps the version
    eng.updateDocumentMetadata(lib, doc,
      Some(DocMetadata(title = Some("t2"), tags = Seq("green"))))
    val row = eng.getDocument(lib, doc).collect().head
    assert(row.getLong(row.fieldIndex("version")) == 2L)
    assert(row.getStruct(row.fieldIndex("metadata"))
      .getAs[String]("title") == "t2")
    assert(eng.listDocuments(lib, hasTag = Some("red")).collect().isEmpty)
    // CAS: stale expected version conflicts
    intercept[ConflictError] {
      eng.updateDocumentMetadata(lib, doc, None, expectedVersion = Some(1L))
    }
    // create_with_chunks: validates BEFORE write (no stranded document)
    val nDocs = eng.documents.count()
    intercept[ValidationError] {
      eng.createDocumentWithChunks(lib,
        Seq(ChunkIn("bad", Some(Array(1f, 0f, 0f))))) // wrong dim
    }
    assert(eng.documents.count() == nDocs)
    val (doc2, ids) = eng.createDocumentWithChunks(lib,
      Seq(ChunkIn("a", Some(Array(1f, 0f)), id = Some("wc-a")),
        ChunkIn("b", None, id = Some("wc-b"))),
      metadata = Some(DocMetadata(title = Some("wc"))))
    assert(ids == Seq("wc-a", "wc-b"))
    val d2 = eng.getDocument(lib, doc2).collect().head
    assert(d2.getLong(d2.fieldIndex("version")) == 2L) // create + chunk bump
    assert(eng.search(lib, Array(1f, 0f), k = 1).collect()
      .head.getString(0) == "wc-a")
  }

  test("SQL-registered kernels work from spark.sql text") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       vec_dot(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d,
        |       set_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS n
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 6.0 && r.getInt(2) == 2)
  }

  test("moveDocument re-homes chunks and maintains both indexes") {
    val eng = freshEngine()
    val src = eng.createLibrary("src", 2)
    val dst = eng.createLibrary("dst", 2)
    val doc = eng.createDocument(src)
    eng.upsertChunks(src, doc, Seq(ChunkIn("m", Some(Array(1f, 0f)), id = Some("m"))))
    eng.moveDocument(doc, src, dst)
    assert(eng.search(dst, Array(1f, 0f), k = 1).collect().map(_.getString(0))
      .toSeq == Seq("m"))
    assert(eng.search(src, Array(1f, 0f), k = 1).collect().isEmpty)
    // dim-mismatch move is rejected
    val dst3 = eng.createLibrary("dst3", 3)
    intercept[ValidationError] { eng.moveDocument(doc, dst, dst3) }
  }

  test("hybridSearch fuses lexical and vector ranks (RRF identity + validation)") {
    val eng = freshEngine()
    val lib = eng.createLibrary("hyb", 2)
    val doc = eng.createDocument(lib)
    // c00 is the vector match (aligned with the query), c03 the lexical
    // match (saturated with the query term), c01 both, c02 neither
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("alpha beta gamma", Some(Array(1f, 0f)), id = Some("c00")),
      ChunkIn("spark beta", Some(Array(0.9f, 0.1f)), id = Some("c01")),
      ChunkIn("delta epsilon", Some(Array(0f, 1f)), id = Some("c02")),
      ChunkIn("spark spark spark", Some(Array(-1f, 0.5f)), id = Some("c03"))))
    intercept[ValidationError] { eng.hybridSearch(lib, Array(1f, 0f), Nil, 2) }
    intercept[ValidationError] {
      eng.hybridSearch(lib, Array(1f, 0f), Seq("spark"), 0)
    }
    val rows = eng.hybridSearch(lib, Array(1f, 0f), Seq("spark"), k = 2)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // lexical top-2 by exact BM25: c03 (tf 3) then c01 (tf 1, shorter than
    // c03? no — rank by score); vector top-2 by cosine: c00 then c01
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId.contains("c01")) // present in both rankings
    rows.foreach { case (_, rl, rv, rrf) =>
      assert(rl == -1 || (rl >= 1 && rl <= 2))
      assert(rv == -1 || (rv >= 1 && rv <= 2))
      val expected =
        (if (rl == -1) 0.0 else 1.0 / (rl + 60)) +
          (if (rv == -1) 0.0 else 1.0 / (rv + 60))
      assert(math.abs(rrf - math.floor(expected * 1e6 + 0.5) / 1e6) == 0.0)
    }
    // result is (rrf desc, chunk_id asc) and k-bounded
    assert(rows.length == 2)
    assert(rows.sortBy { case (id, _, _, f) => (-f, id) }.toSeq == rows.toSeq)
    // c01 holds a rank in BOTH lists, so it must out-fuse any single-list
    // chunk and lead the fused result
    assert(rows.head._1 == "c01" && rows.head._2 != -1 && rows.head._3 != -1)
  }

  test("auto dispatch: family resolution is cached across searches (probes run once)") {
    import org.apache.spark.sql.GraftJobBridge
    val dir = graft.TempDirs.scratch("graft-engine-autocache").toString
    val eng0 = new VectorEngine(spark, dir, fixedClock, autoIvfThreshold = 4)
    // a graph library FIRST, so nsw/hnsw edge tables exist in the store
    // and the auto probes below must pay real per-library isEmpty jobs
    // to rule those families out
    val gLib = eng0.createLibrary("g", 4, IndexConfig("hnsw_det",
      ivfNumCentroids = 2, ivfNprobe = 1, nswDegree = 2, nswBeam = 4,
      nswRounds = 2))
    val gDoc = eng0.createDocument(gLib)
    eng0.upsertChunks(gLib, gDoc, (0 until 8).map { i =>
      ChunkIn(text = s"g $i",
        embedding = Some(Array.tabulate(4)(j => if (j == i % 4) 1f else 0.1f)),
        position = i, id = Some(f"g$i%03d"))
    })
    eng0.rebuildIndex(gLib)
    val lib = eng0.createLibrary("auto-c", 4, IndexConfig("auto",
      ivfNumCentroids = 2, ivfNprobe = 1))
    val doc = eng0.createDocument(lib)
    eng0.upsertChunks(lib, doc, (0 until 12).map { i =>
      ChunkIn(text = s"a $i",
        embedding = Some(Array.tabulate(4)(j => if (j == i % 4) 1f else 0.2f)),
        position = i, id = Some(f"a$i%03d"))
    })
    eng0.rebuildIndex(lib) // 12 >= threshold 4 -> the ivf tier
    // fresh engine over the same store = cold caches, the serving shape
    val eng = new VectorEngine(spark, dir, fixedClock, autoIvfThreshold = 4)
    val sc = spark.sparkContext
    def jobsOf(f: => Unit): Int = {
      val before = GraftJobBridge.jobsSubmitted(sc); f
      GraftJobBridge.jobsSubmitted(sc) - before
    }
    val q = Array(1f, 0.2f, 0.2f, 0.2f)
    def hits(): Seq[String] =
      eng.search(lib, q, k = 3).collect().map(_.getString(0)).toSeq
    var first = Seq.empty[String]
    val j1 = jobsOf { first = hits() }
    var second = Seq.empty[String]
    val j2 = jobsOf { second = hits() }
    var third = Seq.empty[String]
    val j3 = jobsOf { third = hits() }
    assert(first.nonEmpty && first == second && second == third)
    // the first call pays the catalog collect + the family probes (at
    // least nsw_edges + hnsw_edges isEmpty jobs, ruled out per library);
    // every later call serves the cached resolution
    assert(j2 == j3, s"cached searches ran different job counts: $j2 vs $j3")
    assert(j1 >= j2 + 3,
      s"second search should skip catalog + probe jobs: first $j1, second $j2")
    // an index mutation invalidates: the add re-probes ONCE, then caches
    eng.upsertChunks(lib, doc, Seq(ChunkIn(text = "a 12",
      embedding = Some(Array(1f, 0.2f, 0.2f, 0.2f)), position = 12,
      id = Some("a0012"))))
    val j4 = jobsOf { hits() }
    val j5 = jobsOf { hits() }
    assert(j4 > j5, s"post-mutation search should re-probe once: $j4 vs $j5")
    assert(j5 == j2, s"re-cached search job count drifted: $j5 vs $j2")
  }

  /** Three axis clusters + one author/tag split — the shared fixture of
    * the rangeSearch / recommend / searchGrouped specs.
    */
  private def retrievalFixture(): (VectorEngine, String) = {
    val eng = freshEngine()
    val lib = eng.createLibrary("retrieval", 3)
    val doc = eng.createDocument(lib)
    def v(x: Float, y: Float, z: Float) = Some(Array(x, y, z))
    eng.upsertChunks(lib, doc, Seq(
      ChunkIn("x0", v(1f, 0f, 0f), 0, Some("x0"), author = Some("ann"),
        tags = Seq("gx")),
      ChunkIn("x1", v(0.9f, 0.1f, 0f), 1, Some("x1"), author = Some("ann"),
        tags = Seq("gx")),
      ChunkIn("x2", v(0.8f, 0.2f, 0f), 2, Some("x2"), author = Some("bob"),
        tags = Seq("gx")),
      ChunkIn("y0", v(0f, 1f, 0f), 3, Some("y0"), author = Some("bob"),
        tags = Seq("gy")),
      ChunkIn("y1", v(0.1f, 0.9f, 0f), 4, Some("y1"), author = Some("bob"),
        tags = Seq("gy")),
      ChunkIn("z0", v(0f, 0f, 1f), 5, Some("z0"), author = Some("cat"),
        tags = Seq("gz")),
      ChunkIn("ntag", v(0.7f, 0.3f, 0f), 6, Some("ntag"),
        author = Some("cat")))) // no tags: excluded from tag grouping
    (eng, lib)
  }

  test("rangeSearch: threshold + cap + Q5 filters; exact whatever the index") {
    val (eng, lib) = retrievalFixture()
    val q = Array(1f, 0f, 0f)
    // manual raw cosines against q: x0=1, x1~.994, x2~.970, ntag~.919,
    // y1~.110, y0=0, z0=0
    val all = eng.rangeSearch(lib, q, minScore = 0.5).collect()
    assert(all.map(_.getString(0)).toSeq == Seq("x0", "x1", "x2", "ntag"))
    assert(all.forall(_.getDouble(2) >= 0.5))
    // cap binds by (score desc, id asc)
    val capped = eng.rangeSearch(lib, q, minScore = 0.5, limit = 2)
    assert(capped.collect().map(_.getString(0)).toSeq == Seq("x0", "x1"))
    // post-filter contract: threshold hits minus non-matching authors
    val filtered = eng.rangeSearch(lib, q, minScore = 0.5,
      filters = Some(SearchFilters(author = Some("ann"))))
    assert(filtered.collect().map(_.getString(0)).toSeq == Seq("x0", "x1"))
    // exact on an indexed library too: same rows after an LSH rebuild
    eng.updateIndexConfig(lib, IndexConfig("lsh", lshNumTables = 2,
      lshHyperplanesPerTable = 4))
    val indexed = eng.rangeSearch(lib, q, minScore = 0.5).collect()
    assert(indexed.map(_.getString(0)).toSeq == Seq("x0", "x1", "x2", "ntag"))
    intercept[ValidationError](eng.rangeSearch(lib, q, 0.5, limit = 0))
    intercept[ValidationError](eng.rangeSearch(lib, Array(1f), 0.5))
  }

  test("recommend centroid: Rocchio pseudo-query via the index path, seeds excluded") {
    val (eng, lib) = retrievalFixture()
    // positives in the x cluster, negative in y: the pseudo-query points
    // at x minus y, so remaining x members lead and y members trail
    val hits = eng.recommend(lib, Seq("x0", "x1"), Seq("y0"), k = 4).collect()
    val ids = hits.map(_.getString(0)).toSeq
    assert(!ids.exists(Set("x0", "x1", "y0")), s"seed leaked into $ids")
    assert(ids.take(2) == Seq("x2", "ntag"), s"x cluster should lead: $ids")
    // equals a plain search with the hand-built float32 pseudo-query,
    // minus the seeds — the delegation contract
    val manual = Array.tabulate(3) { j =>
      val p = (hits0(eng, lib, "x0")(j).toDouble + hits0(eng, lib, "x1")(j)) / 2
      (p - hits0(eng, lib, "y0")(j).toDouble).toFloat
    }
    val direct = eng.search(lib, manual, k = 7).collect()
      .filterNot(r => Set("x0", "x1", "y0")(r.getString(0))).take(4)
    assert(direct.map(_.getString(0)).toSeq == ids)
    // delegation runs the library's index family: same rows through LSH
    eng.updateIndexConfig(lib, IndexConfig("lsh_det", lshNumTables = 4,
      lshHyperplanesPerTable = 2))
    val viaLsh = eng.recommend(lib, Seq("x0", "x1"), Seq("y0"), k = 2)
    assert(viaLsh.collect().map(_.getString(0)).nonEmpty)
    intercept[ValidationError](eng.recommend(lib, Nil, Nil, k = 3))
    intercept[ValidationError](eng.recommend(lib, Seq("x0", "x0"), Nil, k = 3))
    intercept[ValidationError](
      eng.recommend(lib, Seq("x0"), Nil, k = 3, strategy = "nope"))
    intercept[NotFoundError](eng.recommend(lib, Seq("ghost"), Nil, k = 3))
  }

  test("recommend margin: max-sim margin score, no-negative degenerates to max-pos") {
    val (eng, lib) = retrievalFixture()
    val hits = eng.recommend(lib, Seq("x0", "x1"), Seq("y0"), k = 4,
      strategy = "margin").collect()
    val ids = hits.map(_.getString(0)).toSeq
    assert(!ids.exists(Set("x0", "x1", "y0")), s"seed leaked into $ids")
    // margin of x2 = max(cos x0, cos x1) - cos(y0) — verify the leader's
    // score against the hand formula
    val x2 = hits0(eng, lib, "x2")
    val expected = math.max(cos(x2, hits0(eng, lib, "x0")),
      cos(x2, hits0(eng, lib, "x1"))) - cos(x2, hits0(eng, lib, "y0"))
    assert(ids.head == "x2")
    assert(math.abs(hits.head.getDouble(2) - expected) < 1e-9)
    // y cluster is pushed below the x cluster by the negative
    assert(ids.indexOf("y1") > ids.indexOf("ntag"))
    // no negatives: score is simply the best positive similarity
    val pos = eng.recommend(lib, Seq("x0"), Nil, k = 1,
      strategy = "margin").collect().head
    assert(pos.getString(0) == "x1")
    assert(math.abs(pos.getDouble(2) -
      cos(hits0(eng, lib, "x1"), hits0(eng, lib, "x0"))) < 1e-9)
  }

  test("searchGrouped: per-group cap, best-hit group ranks, null keys excluded") {
    val (eng, lib) = retrievalFixture()
    val q = Array(1f, 0f, 0f)
    val rows = eng.searchGrouped(lib, q, groups = 2, perGroup = 2,
      groupBy = "tag").collect()
    // gx best = 1.0 (x0) -> rank 1 with [x0, x1]; gy best ~0.110 (y1) ->
    // rank 2 with [y1, y0]; gz (0.0) cut by groups = 2; ntag has NO tag
    // and must not appear anywhere
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getInt(3),
      r.getString(4))).toSeq == Seq(
      ("gx", 1, 1, "x0"), ("gx", 1, 2, "x1"),
      ("gy", 2, 1, "y1"), ("gy", 2, 2, "y0")))
    // best_score column carries the group's top raw score
    assert(math.abs(rows.head.getDouble(2) - 1.0) < 1e-9)
    // author grouping + filter-BEFORE-grouping: dropping bob removes x2
    // from ann's competitors and bob's group entirely
    val byAuthor = eng.searchGrouped(lib, q, groups = 3, perGroup = 1,
      groupBy = "author",
      filters = Some(SearchFilters(author = Some("ann"))))
    assert(byAuthor.collect().map(r =>
      (r.getString(0), r.getString(4))).toSeq == Seq(("ann", "x0")))
    intercept[ValidationError](
      eng.searchGrouped(lib, q, groups = 2, perGroup = 2, groupBy = "nope"))
    intercept[ValidationError](
      eng.searchGrouped(lib, q, groups = 0, perGroup = 2))
  }

  test("BQ index: packing parity (bit 63 + multi-word), exact search, incremental == rebuild") {
    val dir = graft.TempDirs.scratch("graft-bq-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val dim = 65 // exercises bit 63 AND the second packed word
    val lib = eng.createLibrary("bq", dim, IndexConfig("bq"))
    val doc = eng.createDocument(lib)
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(dim)((rnd.nextInt(19) - 9) / 3.0f)
    val base = (0 until 16).map(i => f"b$i%03d" -> vec())
    eng.upsertChunks(lib, doc, base.map { case (id, v) =>
      ChunkIn(id, Some(v), id = Some(id)) })
    eng.rebuildIndex(lib)
    val store2 = new StateStore(spark, dir)
    def codes: Map[String, Vector[Long]] =
      store2.read("bq_codes", Schemas.bqCodes).collect()
        .map(r => r.getString(1) -> r.getSeq[Long](2).toVector).toMap
    // packing parity: the expression-packed stored codes equal the
    // driver packer on the normalized vector — 2 words at dim 65, sign
    // bit 63 included (the two's-complement corner both engines share)
    base.foreach { case (id, v) =>
      val expect = graft.index.BqIndex.encodeQuery(
        graft.index.LshIndex.normalizeDriver(v).get).toVector
      assert(expect.length == 2)
      assert(codes(id) == expect, s"packing diverged for $id")
    }
    // full-coverage exactness: cap 6k >= corpus, so hamming ordering
    // cannot lose a true neighbor and the exact rerank equals the
    // Q1 ranking (cosine is scale-invariant, so plain cosine ranks it)
    val q = vec()
    val got = eng.search(lib, q, k = 5).collect().map(_.getString(0)).toSeq
    val expected = base.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got == expected)
    // stateless encode: incremental add/delete lands on the IDENTICAL
    // codes a fresh rebuild produces — bit-for-bit
    val delta = (16 until 24).map(i => f"b$i%03d" -> vec())
    eng.upsertChunks(lib, doc, delta.map { case (id, v) =>
      ChunkIn(id, Some(v), id = Some(id)) })
    eng.deleteChunk(lib, "b003")
    eng.deleteChunk(lib, "b017")
    val incremental = codes
    eng.rebuildIndex(lib)
    assert(codes == incremental, "incremental drifted from rebuild")
    assert(!incremental.contains("b003") && incremental.contains("b016"))
    // family swap drops the codes partition
    eng.updateIndexConfig(lib, IndexConfig("flat"))
    assert(store2.read("bq_codes", Schemas.bqCodes).count() == 0)
  }

  test("IVF+BQ index: packing parity, full-coverage exactness, frozen-cell incremental") {
    val dir = graft.TempDirs.scratch("graft-ivfbq-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val dim = 4
    // nprobe == numCentroids: every cell probed -> candidate stage is
    // full-coverage and the exact rerank must equal the Q1 ranking
    val lib = eng.createLibrary("ivfbq", dim,
      IndexConfig("ivfbq", ivfNumCentroids = 2, ivfNprobe = 2))
    val doc = eng.createDocument(lib)
    val rnd = new scala.util.Random(17)
    def vec() = Array.fill(dim)((rnd.nextInt(19) - 9) / 3.0f)
    val base = (0 until 14).map(i => f"v$i%03d" -> vec())
    eng.upsertChunks(lib, doc, base.map { case (id, v) =>
      ChunkIn(id, Some(v), id = Some(id)) })
    eng.rebuildIndex(lib)
    val store2 = new StateStore(spark, dir)
    def codes: Map[String, (Int, Vector[Long])] =
      store2.read("ivfbq_codes", Schemas.ivfbqCodes).collect()
        .map(r => r.getString(2) -> (r.getInt(1), r.getSeq[Long](3).toVector))
        .toMap
    // the packed word is cell-INDEPENDENT (no residual): it equals the
    // flat bq packer on the normalized vector, whatever the cell
    base.foreach { case (id, v) =>
      val expect = graft.index.BqIndex.encodeQuery(
        graft.index.LshIndex.normalizeDriver(v).get).toVector
      assert(codes(id)._2 == expect, s"packing diverged for $id")
    }
    assert(codes.values.map(_._1).toSet.subsetOf(Set(0, 1)))
    val q = vec()
    val got = eng.search(lib, q, k = 5).collect().map(_.getString(0)).toSeq
    val expected = base.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got == expected)
    // incremental: new rows assign to the FROZEN cells (cell-id set
    // cannot grow) with the same stateless packing; deletes anti-join
    val cellsBefore = codes.values.map(_._1).toSet
    eng.upsertChunks(lib, doc, (14 until 20).map { i =>
      val v = vec(); ChunkIn(f"v$i%03d", Some(v), id = Some(f"v$i%03d"))
    })
    eng.deleteChunk(lib, "v002")
    val after = codes
    assert(!after.contains("v002") && after.contains("v016"))
    assert(after.values.map(_._1).toSet.subsetOf(cellsBefore))
    val got2 = eng.search(lib, q, k = 5).collect().map(_.getString(0)).toSeq
    // recompute expected over the LIVE corpus read back from the store
    import org.apache.spark.sql.functions.col
    val live = eng.chunks.filter(col("library_id") === lib)
      .select(col("id"), col("embedding")).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toArray)
    val expected2 = live.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
    assert(got2 == expected2)
    // family swap drops the codes partition (centroids go with dropIvf)
    eng.updateIndexConfig(lib, IndexConfig("flat"))
    assert(store2.read("ivfbq_codes", Schemas.ivfbqCodes).count() == 0)
  }

  test("aliases: blue-green cutover through the serving verbs") {
    val eng = freshEngine()
    val q = Array(1f, 0f, 0f)
    def mkLib(name: String, chunkId: String): String = {
      val lib = eng.createLibrary(name, 3)
      val doc = eng.createDocument(lib)
      eng.upsertChunks(lib, doc, Seq(ChunkIn(name,
        Some(Array(1f, 0f, 0f)), 0, Some(chunkId))))
      lib
    }
    val blue = mkLib("blue", "a0")
    val green = mkLib("green", "b0")
    eng.createAlias("prod", blue)
    // serving verbs resolve the alias
    assert(eng.search("prod", q, 1).collect().head.getString(0) == "a0")
    assert(eng.rangeSearch("prod", q, 0.5).collect().head.getString(0) == "a0")
    assert(eng.searchBatch("prod", Seq((0L, q)), 1)
      .collect().head.getString(1) == "a0")
    assert(eng.recommend("prod", Seq("a0"), k = 1).collect().isEmpty) // only the seed exists
    // atomic cutover: same public name now serves the green library
    eng.switchAlias("prod", green)
    assert(eng.search("prod", q, 1).collect().head.getString(0) == "b0")
    // name-space discipline
    intercept[ConflictError](eng.createAlias("prod", blue))       // taken
    intercept[ConflictError](eng.createAlias(green, blue))        // = library id
    intercept[NotFoundError](eng.createAlias("x", "ghost"))       // no target
    intercept[NotFoundError](eng.createAlias("chain", "prod"))    // alias->alias
    intercept[NotFoundError](eng.switchAlias("nope", blue))
    intercept[ConflictError](eng.createLibrary("l", 3, id = Some("prod")))
    intercept[ValidationError](eng.createAlias("bad/name", blue))
    // mutations take concrete ids only: the alias name is NOT resolved
    intercept[NotFoundError](eng.deleteLibrary("prod"))
    // deleting the target library removes its aliases with it
    eng.deleteLibrary(green)
    assert(eng.listAliases.count() == 0)
    intercept[NotFoundError](eng.search("prod", q, 1))
    intercept[NotFoundError](eng.deleteAlias("prod"))
  }

  /** Read one chunk's stored embedding back (test helper, 1-row). */
  private def hits0(eng: VectorEngine, lib: String, id: String): Array[Float] = {
    import org.apache.spark.sql.functions.col
    eng.chunks.filter(col("library_id") === lib && col("id") === id)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
  }
}
