package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** package-private internals of the dedup family: the connected-components
  * convergence guard, the agreement of pageRank's two superstep paths and
  * the session-cache lifecycle (release -> no pinned blocks from these
  * caches -> correct rebuild).
  */
class DedupInternalsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  test("connectedComponents converges on a path graph and fails loudly when capped") {
    import spark.implicits._
    // path 0-1-2-3-4-5: diameter 5, so min-label propagation needs 5
    // rounds (+1 to observe no change)
    val nodes = (0L to 5L).toDF("doc_id")
    val pairs = (0L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    // localFinishCap = 0 forces the distributed star-contraction rounds
    // (the default cap would finish this 5-edge graph on the driver)
    val labels = DedupQueries.connectedComponents(nodes, pairs, "doc_id",
        localFinishCap = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 5L).forall(labels(_) == 0L))
    // a 2-round cap exits with labels still changing: an unconverged
    // labeling is WRONG, so the guard must throw, not return it
    val e = intercept[IllegalStateException] {
      DedupQueries.connectedComponents(nodes, pairs, "doc_id", maxRounds = 2,
        localFinishCap = 0L)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("pageRank's distributed supersteps equal its driver supersteps") {
    // the test corpus has no candidate edges; copies of 40 documents
    // under new ids add one exact-duplicate edge each
    val dir = graft.TempDirs.scratch("graft-pagerank").toString
    val src = Tables.documents(spark, sfDir)
    val dupIds = src.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(40).collect().map(_.getLong(0)).toSet
    src.unionByName(src.filter(col("doc_id").isin(dupIds.toSeq: _*))
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .write.parquet(s"$dir/documents.parquet")
    def ranks(cap: Long): Seq[(Long, Long)] =
      DedupQueries.pageRank(spark, dir, localEdgeCap = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the default cap finishes this graph on the driver; a cap of 0
    // sends any graph with an edge to the distributed rounds
    val local = ranks(graft.curation.CurationCore.LocalFinishCap)
    val distributed = ranks(0L)
    // the edges decide the ranking: every top document is a duplicated
    // one or its copy, ranked above the edge-less rest
    assert(local.size == 20 &&
      local.forall { case (id, _) => dupIds(id % 1000000L) })
    assert(distributed == local)
    graft.Caches.releaseAll()
  }

  test("releaseCaches drops this suite's pinned blocks and rebuilds correctly") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val q = DedupQueries.queries("d_minhash_bands")
    val first = q(spark, sfDir).collect().toSeq
    // the band checkpoint is resident now
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty)
    graft.Caches.releaseAll()
    // every block this library pinned is gone (other suites sharing the
    // JVM-wide context may have their own, hence the diff-vs-before)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
    // a released cache rebuilds from the source and matches
    val second = q(spark, sfDir).collect().toSeq
    assert(second == first)
    graft.Caches.releaseAll()
  }
}
