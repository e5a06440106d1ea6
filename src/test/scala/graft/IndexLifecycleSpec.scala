package graft

import java.sql.Timestamp

import org.apache.spark.sql.{GraftJobBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._

/** Index-table lifecycle specs: which tables a library holds a partition
  * in after each rebuild, and which tables a chunk delete touches.
  *
  * The ownership map below is written out by hand on purpose rather than
  * read from [[Schemas.storeTables]], so the registry's declarations are
  * checked against an independent copy.
  */
class IndexLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixedClock = () => Timestamp.valueOf("2026-01-01 00:00:00")

  /** The index tables each family keeps a partition in after a rebuild. */
  private val owned: Map[String, Set[String]] = Map(
    "flat" -> Set(),
    "lsh_det" -> Set("lsh_planes", "lsh_buckets"),
    "ivf_det" -> Set("ivf_centroids", "ivf_postings"),
    "ivf" -> Set("ivf_centroids", "ivf_postings"),
    "nsw_det" -> Set("ivf_centroids", "ivf_postings", "nsw_edges"),
    "hnsw_det" -> Set("ivf_centroids", "ivf_postings", "nsw_edges",
      "hnsw_edges"),
    "pq" -> Set("pq_codebooks", "pq_codes"),
    "pq_trained" -> Set("pq_codebooks", "pq_codes"),
    "ivfpq" -> Set("ivf_centroids", "pq_codebooks", "ivfpq_codes"),
    "ivfpq_trained" -> Set("ivf_centroids", "pq_codebooks", "ivfpq_codes"),
    "bq" -> Set("bq_codes"),
    "ivfbq" -> Set("ivf_centroids", "ivfbq_codes"),
    "sq8" -> Set("sq8_params", "sq8_codes"),
    "ivfsq8" -> Set("ivf_centroids", "ivfsq8_params", "ivfsq8_codes"))
  private val indexTables: Set[String] = owned.values.flatten.toSet

  private def config(family: String): IndexConfig =
    IndexConfig(family, lshNumTables = 2, lshHyperplanesPerTable = 3,
      ivfNumCentroids = 2, ivfNprobe = 2, pqSubspaces = 2, pqCodewords = 4,
      nswDegree = 2, nswBeam = 4, nswRounds = 2)

  /** A dim-4 library of `n` chunks `<prefix>NNN`, built as `family`. */
  private def library(eng: VectorEngine, name: String, family: String,
      n: Int, prefix: String): String = {
    val lib = eng.createLibrary(name, 4, config(family))
    val doc = eng.createDocument(lib)
    eng.upsertChunks(lib, doc, (0 until n).map { i =>
      ChunkIn(s"$prefix $i",
        Some(Array.tabulate(4)(j => if (j == i % 4) 1f else 0.1f * (i % 3))),
        position = i, id = Some(f"$prefix$i%03d"))
    })
    eng.rebuildIndex(lib)
    lib
  }

  private def partitions(store: StateStore, lib: String): Set[String] =
    indexTables.filter(store.hasLibraryPartition(_, lib))

  test("rebuild transitions: a library keeps exactly its family's tables") {
    val dir = graft.TempDirs.scratch("graft-lifecycle").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val store = new StateStore(spark, dir)
    // a bystander library whose partitions no transition may touch
    val other = library(eng, "other", "hnsw_det", 8, "o")
    val lib = library(eng, "moving", "flat", 12, "m")
    val forward = Seq("flat", "lsh_det", "ivf_det", "ivf", "nsw_det",
      "hnsw_det", "pq", "pq_trained", "ivfpq", "ivfpq_trained", "bq", "ivfbq",
      "sq8", "ivfsq8")
    assert(forward.toSet == owned.keySet)
    (forward ++ forward.reverse).sliding(2).foreach { case Seq(from, to) =>
      eng.updateIndexConfig(lib, config(to))
      assert(partitions(store, lib) == owned(to), s"$from -> $to")
      assert(partitions(store, other) == owned("hnsw_det"), s"$from -> $to")
      // each family reports its own index once built, and only its own
      // (a graph library is not an ivf one); flat has none
      assert(eng.libraryStats(lib).builtIndex == Some(to).filter(_ != "flat"),
        s"$from -> $to")
      assert(eng.libraryStats(other).builtIndex.contains("hnsw_det"), s"$from -> $to")
      assert(eng.search(lib, Array(1f, 0f, 0f, 0f), k = 3).collect().nonEmpty,
        s"$from -> $to")
    }
  }

  test("deleteChunks rewrites only the index tables its library holds") {
    val sc = spark.sparkContext
    /** Jobs of one delete from a 40-row flat library, and the index
      * tables that library holds afterwards, optionally in a store where
      * every index table already exists for other libraries.
      */
    def deleteFromFlat(foreign: Boolean): (Int, Set[String]) = {
      val dir = graft.TempDirs.scratch("graft-remove-scope").toString
      val eng = new VectorEngine(spark, dir, fixedClock)
      val store = new StateStore(spark, dir)
      val flat = library(eng, "flat", "flat", 40, "f")
      if (foreign) {
        Seq("lsh_det", "hnsw_det", "pq", "ivfpq", "sq8", "ivfsq8", "bq",
          "ivfbq").foreach(fam => library(eng, fam, fam, 8, fam))
        assert(indexTables.forall(store.exists))
      }
      val before = GraftJobBridge.jobsSubmitted(sc)
      eng.deleteChunks(flat, Seq("f005"))
      val jobs = GraftJobBridge.jobsSubmitted(sc) - before
      assert(eng.chunks.filter(org.apache.spark.sql.functions.col(
        "library_id") === flat).count() == 39)
      (jobs, partitions(store, flat))
    }
    val (bareJobs, bareParts) = deleteFromFlat(foreign = false)
    val (jobs, parts) = deleteFromFlat(foreign = true)
    assert(bareParts.isEmpty)
    assert(parts.isEmpty, s"delete left partitions in ${parts.mkString(", ")}")
    assert(jobs == bareJobs,
      s"delete ran $jobs jobs beside other families' tables, $bareJobs without")
  }
  test("ingest into a built index indexes the stored vectors of a nondeterministic batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val dir = graft.TempDirs.scratch("graft-ingest-ckpt").toString
    val eng = new VectorEngine(spark, dir, fixedClock)
    val store = new StateStore(spark, dir)
    val lib = library(eng, "built", "ivf_det", 12, "b")
    val doc = eng.createDocument(lib)
    // every evaluation of the batch draws fresh vectors: an index add
    // that re-ran the ingest plan would index vectors the chunk table
    // does not hold
    val draw = udf(() => Array.fill(4)(scala.util.Random.nextGaussian().toFloat))
      .asNondeterministic()
    val batch = (0 until 20).map(i => (f"n$i%03d", s"n $i")).toDF("id", "text")
      .withColumn("embedding", draw())
    eng.bulkIngest(lib, doc, batch)
    val stored = eng.chunks.filter(col("id").startsWith("n"))
      .select(col("id"), col("embedding")).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
    val posted = store.read("ivf_postings", Schemas.ivfPostings)
      .filter(col("library_id") === lib && col("chunk_id").startsWith("n"))
      .select(col("chunk_id"), col("embedding_norm")).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
    assert(stored.size == 20 && posted.keySet == stored.keySet)
    posted.foreach { case (id, v) =>
      val e = stored(id)
      val n = math.sqrt(e.map(x => x.toDouble * x).sum)
      e.indices.foreach(j => assert(math.abs(v(j) - e(j) / n) < 1e-6,
        s"$id: posting vector is not the stored chunk vector"))
    }
  }
}
