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
    "nsw_det" -> Set("ivf_centroids", "ivf_postings", "nsw_edges"),
    "hnsw_det" -> Set("ivf_centroids", "ivf_postings", "nsw_edges",
      "hnsw_edges"),
    "pq" -> Set("pq_codebooks", "pq_codes"),
    "ivfpq" -> Set("ivf_centroids", "pq_codebooks", "ivfpq_codes"),
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
    val forward = Seq("flat", "lsh_det", "ivf_det", "nsw_det", "hnsw_det",
      "pq", "ivfpq", "bq", "ivfbq", "sq8", "ivfsq8")
    assert(forward.toSet == owned.keySet)
    (forward ++ forward.reverse).sliding(2).foreach { case Seq(from, to) =>
      eng.updateIndexConfig(lib, config(to))
      assert(partitions(store, lib) == owned(to), s"$from -> $to")
      assert(partitions(store, other) == owned("hnsw_det"), s"$from -> $to")
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
}
