package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._

/** NSW graph-ANN family specs: deterministic build (edge-set identity
  * across engines), structural invariants (symmetry, no self-loops,
  * bounded out-degree before reverses), walk quality vs the exact scan,
  * incremental add/delete maintenance, batch/single parity, and the
  * degree audit. The corpus is a fixed-seed cloud with planted clusters
  * so the exact top-k is stable and the graph is navigable.
  */
class NswSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixedClock = () => Timestamp.valueOf("2026-01-01 00:00:00")

  private val Dim = 8
  private val config = IndexConfig("nsw_det", ivfNumCentroids = 4,
    ivfNprobe = 2, nswDegree = 4, nswBeam = 8, nswRounds = 3)

  /** 60 vectors in 6 planted directions + seeded jitter — deterministic,
    * clustered enough that graph hops matter, spread enough that cells
    * are non-trivial.
    */
  private def corpus(): Seq[(String, Array[Float])] = {
    val rnd = new scala.util.Random(42)
    (0 until 60).map { i =>
      val c = i % 6
      val base = Array.tabulate(Dim)(j => if (j == c) 1.0f else 0.1f)
      val v = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f)
      (f"c$i%03d", v)
    }
  }

  private def freshBuilt(cfg: IndexConfig = config): (VectorEngine, String, String) = {
    val dir = graft.TempDirs.scratch("graft-nsw-test").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("nsw", Dim, cfg)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, corpus().zipWithIndex.map { case ((id, v), i) =>
      ChunkIn(text = s"chunk $i", embedding = Some(v), position = i,
        id = Some(id))
    })
    eng.rebuildIndex(lib)
    (eng, dir, lib)
  }

  private def edgesOf(dir: String): DataFrame =
    new StateStore(spark, dir).read("nsw_edges", Schemas.nswEdges)

  test("nsw build: symmetric, self-loop-free, deterministic edge set") {
    val (_, dir1, _) = freshBuilt()
    val e1 = edgesOf(dir1)
    assert(e1.count() > 0)
    assert(e1.filter(col("src_id") === col("dst_id")).count() == 0)
    // edges = dir ∪ reverse(dir) is symmetric by construction — assert it
    // holds in the PERSISTED table (a broken union/distinct would not)
    val flipped = e1.select(col("dst_id").as("src_id"), col("src_id").as("dst_id"))
    assert(e1.select("src_id", "dst_id").exceptAll(flipped).count() == 0)
    // determinism: a second engine over the same corpus lands on the
    // identical edge set
    val (_, dir2, _) = freshBuilt()
    val e2 = edgesOf(dir2)
    assert(e1.select("src_id", "dst_id")
      .exceptAll(e2.select("src_id", "dst_id")).count() == 0)
    assert(e1.count() == e2.count())
  }

  test("nsw degree stats: zero-inclusive histogram sums to node count") {
    val (eng, _, lib) = freshBuilt()
    val stats = eng.nswDegreeStats(lib).collect()
    assert(stats.map(_.getLong(1)).sum == 60)
    // the graph keeps >= degree edges per node in the directed phase and
    // reverses only add — no node below 1 on this connected corpus
    assert(stats.forall(_.getInt(0) >= 1))
    // degree ordering is ascending
    assert(stats.map(_.getInt(0)).toSeq == stats.map(_.getInt(0)).sorted.toSeq)
  }

  test("nsw search: finds the exact top-k on the clustered corpus") {
    val (eng, _, lib) = freshBuilt()
    val q = corpus()(7)._2 // a member vector: its cluster is the answer
    val hits = eng.search(lib, q, k = 5).collect()
    assert(hits.length == 5)
    val exactIds = corpus().map { case (id, v) =>
      (id, cos(v, q))
    }.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(hits.map(_.getString(0)).toSeq == exactIds)
    // scores descend
    val ss = hits.map(h => h.getDouble(h.fieldIndex("score"))).toSeq
    assert(ss == ss.sorted.reverse)
  }

  test("nsw incremental: adds link into the frozen graph, deletes strip edges") {
    val (eng, dir, lib) = freshBuilt()
    val doc2 = eng.createDocument(lib)
    val rnd = new scala.util.Random(7)
    val newVec = Array.tabulate(Dim)(j =>
      (if (j == 2) 1.0f else 0.1f) + (rnd.nextFloat() - 0.5f) * 0.1f)
    eng.upsertChunks(lib, doc2, Seq(
      ChunkIn(text = "new", embedding = Some(newVec), position = 0,
        id = Some("n0001"))))
    val e = edgesOf(dir)
    // the new node got out-edges AND is reachable via reverse links
    assert(e.filter(col("src_id") === "n0001").count() >= 1)
    assert(e.filter(col("dst_id") === "n0001").count() >= 1)
    // searching for the new vector itself must surface it first
    val top = eng.search(lib, newVec, k = 1).collect().head
    assert(top.getString(0) == "n0001")
    // delete: node leaves postings and both edge directions
    eng.deleteChunks(lib, Seq("n0001"))
    val e2 = edgesOf(dir)
    assert(e2.filter(col("src_id") === "n0001" ||
      col("dst_id") === "n0001").count() == 0)
    assert(!eng.search(lib, newVec, k = 10).collect()
      .map(_.getString(0)).contains("n0001"))
  }

  test("nsw batch paths: searchBatchAnn and annJoin match single search") {
    import spark.implicits._
    val (eng, _, lib) = freshBuilt()
    val queries = Seq(0L -> corpus()(3)._2, 1L -> corpus()(20)._2,
      2L -> corpus()(41)._2)
    def hitsOfSingle(q: Array[Float]): Seq[(String, Double)] =
      eng.search(lib, q, k = 5).collect()
        .map(h => (h.getString(0), h.getDouble(h.fieldIndex("score")))).toSeq
    val single = queries.map { case (qid, q) => qid -> hitsOfSingle(q) }.toMap

    val batch = eng.searchBatchAnn(lib, queries, k = 5).collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getString(r.fieldIndex("chunk_id")),
        r.getDouble(r.fieldIndex("score"))))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))
        .sortBy { case (id, s) => (-s, id) }.toSeq).toMap
    assert(batch == single)

    val qDf = queries.map { case (qid, q) => (qid, q.toSeq) }
      .toDF("query_id", "qvec")
    val joined = eng.annJoin(lib, qDf, k = 5).collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getString(r.fieldIndex("chunk_id")),
        r.getDouble(r.fieldIndex("score"))))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))
        .sortBy { case (id, s) => (-s, id) }.toSeq).toMap
    assert(joined == single)
  }

  test("nsw per-call nswBeam equals a twin library built with that beam") {
    // the beam is a search-time dial (the build ignores it), so a query
    // walked at nswBeam = b must land on the hits of a library whose
    // configured beam is b; a starved default keeps the beams apart
    val starved = config.copy(nswBeam = 4, nswRounds = 1)
    val (eng, _, lib) = freshBuilt(starved)
    // off-cluster queries (seeded mixes of every planted direction), so
    // the entry cell does not already hold the answer
    val rnd = new scala.util.Random(5)
    val queries = Seq.fill(12)(Array.fill(Dim)(rnd.nextFloat()))
    def hitsOf(e: VectorEngine, l: String, q: Array[Float],
        beam: Option[Int]): Seq[(String, Double)] =
      e.search(l, q, k = 2, nswBeam = beam).collect()
        .map(h => (h.getString(0), h.getDouble(h.fieldIndex("score")))).toSeq
    val byBeam = Seq(2, 12).map { b =>
      val (twin, _, twinLib) = freshBuilt(starved.copy(nswBeam = b))
      queries.map { q =>
        val got = hitsOf(eng, lib, q, Some(b))
        assert(got == hitsOf(twin, twinLib, q, None), s"beam $b")
        got
      }
    }
    assert(byBeam.head != byBeam.last, "the two beams should walk apart")
  }

  test("nsw rebalance policy: adjacency-hub share thresholds a rebuild") {
    val (eng, _, lib) = freshBuilt()
    // every node's list is a sliver of the 60-node graph: no rebuild
    val d0 = eng.rebalanceIfSkewed(lib, maxSharePpm = 500000L)
    assert(d0.family == "nsw_det" && !d0.rebuilt)
    assert(d0.nUnits == 60 && d0.maxSharePpm > 0)
    // an absurdly tight threshold must trigger the rebuild path
    val d1 = eng.rebalanceIfSkewed(lib, maxSharePpm = 1L)
    assert(d1.rebuilt)
    // rebuild on the same corpus is deterministic: search still exact
    val q = corpus()(7)._2
    assert(eng.search(lib, q, k = 1).collect().head.getString(0) == "c007")
  }

  test("nsw guards: emptied entry cell falls back to the flat scan") {
    val (eng, _, lib) = freshBuilt()
    val doc2 = eng.createDocument(lib)
    // wipe the built corpus (edges + postings go with it), then add ONE
    // node against the frozen empty graph
    eng.deleteChunks(lib, corpus().map(_._1))
    val v = Array.tabulate(Dim)(j => if (j == 2) 1.0f else 0.05f)
    eng.upsertChunks(lib, doc2, Seq(
      ChunkIn(text = "lone", embedding = Some(v), position = 0,
        id = Some("lone01"))))
    // the negated query's entry cell is (near-)opposite the node's cell,
    // so the walk finds nothing and the search must still answer via the
    // flat fallback instead of returning zero hits
    val hits = eng.search(lib, v.map(-_), k = 3).collect()
    assert(hits.length == 1 && hits.head.getString(0) == "lone01")
    assert(hits.head.getDouble(hits.head.fieldIndex("score")) < 0)
  }

  test("nsw preFilter: the walk scores only allowed ids and fills k") {
    // build a corpus where the query's own cluster carries the WRONG tag:
    // the post-filter mode starves (global top-k then filter -> few or
    // zero rows), while the pre-filtered walk must spend its whole beam
    // inside the allowed subset and return k matching rows
    val dir = graft.TempDirs.scratch("graft-nsw-pref").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("nsw-pref", Dim, config)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, corpus().zipWithIndex.map { case ((id, v), i) =>
      ChunkIn(text = s"chunk $i", embedding = Some(v), position = i,
        id = Some(id), tags = Seq(if (i % 6 == 1) "wanted" else "other"))
    })
    eng.rebuildIndex(lib)
    val q = corpus()(7)._2 // cluster 1 = the "wanted" tag... (7 % 6 == 1)
    val f = Some(SearchFilters(tags = Seq("wanted")))
    val pre = eng.search(lib, q, k = 5, filters = f, preFilter = true)
      .collect()
    assert(pre.length == 5, s"pre-filtered walk returned ${pre.length} rows")
    assert(pre.forall(_.getString(0).drop(1).toInt % 6 == 1),
      "pre-filtered hit outside the allowed tag set")
    // and against a tag DISJOINT from the query's cluster — the
    // starvation case — the pre mode still fills k from allowed nodes
    val qOther = corpus()(0)._2 // cluster 0, tagged "other"
    val pre2 = eng.search(lib, qOther, k = 5, filters = f, preFilter = true)
      .collect()
    assert(pre2.length == 5)
    assert(pre2.forall(_.getString(0).drop(1).toInt % 6 == 1))
    // mean recall of the pre mode >= post mode over a 25-query sweep,
    // graded against the exact FILTERED truth (the
    // x_engine_filtered_recall discipline on the graph family)
    val queries = corpus().take(25)
    def filteredRecall(preMode: Boolean, q: Array[Float]): Double = {
      val exact = corpus().zipWithIndex
        .collect { case ((id, v), i) if i % 6 == 1 => (id, cos(v, q)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
      val got = eng.search(lib, q, k = 5, filters = f, preFilter = preMode)
        .collect().map(_.getString(0)).toSet
      (got intersect exact).size.toDouble / exact.size
    }
    val preMean = queries.map(p => filteredRecall(preMode = true, p._2)).sum / 25
    val postMean = queries.map(p => filteredRecall(preMode = false, p._2)).sum / 25
    assert(preMean >= postMean,
      s"pre-filtered mean recall $preMean < post $postMean")
    assert(preMean > 0.9, s"pre-filtered mean recall too low: $preMean")
  }

  test("nsw batch: an emptied-entry-cell query flat-falls-back per query") {
    import spark.implicits._
    // the ADVICE r13 state: one query's walk returns Some(Nil) while the
    // others find ids — the batch surfaces must match single search for
    // EVERY query instead of silently dropping the starved one
    val (eng, _, lib) = freshBuilt()
    val doc2 = eng.createDocument(lib)
    // empty the corpus, then add one lone node against the frozen graph
    eng.deleteChunks(lib, corpus().map(_._1))
    val v = Array.tabulate(Dim)(j => if (j == 2) 1.0f else 0.05f)
    eng.upsertChunks(lib, doc2, Seq(
      ChunkIn(text = "lone", embedding = Some(v), position = 0,
        id = Some("lone01"))))
    // query 0 walks to the lone node; query 1's entry cell is emptied
    val queries = Seq(0L -> v, 1L -> v.map(-_))
    val singles = queries.map { case (qid, q) =>
      qid -> eng.search(lib, q, k = 3).collect()
        .map(r => (r.getString(0), r.getDouble(r.fieldIndex("score")))).toSeq
    }.toMap
    assert(singles(1L).nonEmpty, "single search must flat-fall-back")
    val batch = eng.searchBatchAnn(lib, queries, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    queries.foreach { case (qid, _) =>
      assert(batch.getOrElse(qid, Nil) == singles(qid),
        s"batch query $qid diverged from single search")
    }
    val qDf = queries.map { case (qid, q) => (qid, q.toSeq) }
      .toDF("query_id", "qvec")
    val joined = eng.annJoin(lib, qDf, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    queries.foreach { case (qid, _) =>
      assert(joined.getOrElse(qid, Nil) == singles(qid),
        s"annJoin query $qid diverged from single search")
    }
  }

  test("auto dispatch: a library with only graph tables serves the walk") {
    import org.apache.spark.sql.GraftScanBridge
    // the ADVICE r13 scenario: a store whose catalog row says "auto" but
    // whose built tables are the graph family's (e.g. written by another
    // engine version) — dispatch must resolve to the walk, not the scan
    val (_, dir, lib) = freshBuilt()
    val store = new StateStore(spark, dir)
    val libsDf = store.read("libraries", Schemas.libraries)
    store.write("libraries", libsDf.withColumn("index_config",
      when(col("id") === lib,
        col("index_config").withField("type", lit("auto")))
        .otherwise(col("index_config"))), Nil)
    val eng2 = new VectorEngine(spark, dir, fixedClock)
    // degree stats gate on the EFFECTIVE family — success proves auto
    // resolved to the graph
    assert(eng2.nswDegreeStats(lib).collect().map(_.getLong(1)).sum == 60)
    // and the search plan reads the postings via the walk's id pushdown
    // (the flat path never touches ivf_postings)
    val hits = eng2.search(lib, corpus()(7)._2, k = 5)
    assert(hits.collect().map(_.getString(0)).head == "c007")
    val (files, _) = GraftScanBridge.scanStatsFor(hits, "ivf_postings")
    assert(files > 0, "auto dispatch served the flat scan, not the walk")
  }

  test("nsw guards: zero query empty, flat fallback before rebuild") {
    val dir = graft.TempDirs.scratch("graft-nsw-guard").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val lib = eng.createLibrary("nsw-guard", Dim, config)
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, corpus().take(10).zipWithIndex.map {
      case ((id, v), i) =>
        ChunkIn(text = s"chunk $i", embedding = Some(v), position = i,
          id = Some(id))
    })
    // no rebuild yet: centroids/edges absent -> flat fallback still answers
    val q = corpus()(1)._2
    assert(eng.search(lib, q, k = 3).collect().length == 3)
    assert(eng.search(lib, Array.fill(Dim)(0f), k = 3).collect().isEmpty)
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]) =
      x.zip(y).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
    val na = math.sqrt(dot(a, a)); val nb = math.sqrt(dot(b, b))
    if (na == 0 || nb == 0) 0.0 else dot(a, b) / (na * nb)
  }
}
