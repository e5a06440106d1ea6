package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Schemas
import graft.engine.EngineErrors.NotFoundError
import graft.functions.VectorFunctions._

/** IVF (inverted-file) index: hand-rolled Lloyd's k-means on L2-normalized
  * vectors with dot-product (= cosine) assignment — the Spark re-expression
  * of the reference's `indexing/ivf.py:133-189`.
  *
  * Algorithm parity:
  *   - 20 iterations (reference constant `IVF_KMEAN_ITERS`, `ivf.py:10`)
  *   - assignment = argmax dot against all centroids (`ivf.py:160-165`)
  *   - recompute = elementwise mean then renormalize (`ivf.py:167-178`)
  *   - empty cluster reseeded from a point (`ivf.py:169-171`)
  *   - zero vectors excluded (normalize -> null, quirk Q4)
  *
  * Determinism deviation (documented): the reference seeds Python's
  * Mersenne `random.shuffle` for init — unreproducible outside CPython.
  * This engine derives the init deterministically from content: take the k
  * lowest `md5(chunk_id)` vectors. Same algorithm, reproducible on any
  * cluster.
  *
  * Scale shape (FAISS-style sampled training): the coarse quantizer is
  * trained on a BOUNDED deterministic sample — max(256·k, 16384) vectors,
  * capped at 1M — never the full corpus, so rebuild cost is independent of
  * corpus size; only the single postings-assignment pass scans everything
  * (map-only, centroids broadcast as literals, no corpus shuffle). Small
  * samples (≤ 64k rows) iterate entirely driver-side — zero Spark jobs for
  * the 20 Lloyd rounds; larger samples fall back to one map+agg job per
  * round over the cached sample.
  */
object IvfIndex {

  val KmeansIters = 20

  /** Train on at most max(256·k, 16384) ∧ 2^20 vectors (per-centroid
    * sample floor following the FAISS convention for coarse quantizers).
    */
  def trainCap(k: Int): Int =
    math.min(math.max(256L * k, 16384L), 1L << 20).toInt

  /** Samples up to this size run Lloyd's on the driver (20 iterations of
    * pure in-memory argmax over ≤ 64k·d doubles beats 20 scheduled Spark
    * jobs by orders of magnitude); beyond it, per-round jobs amortize.
    */
  val DriverTrainMax = 65536

  /** Normalized non-zero vectors: (chunk_id, vnorm: array<double>). */
  private def normalized(chunksDf: DataFrame): DataFrame =
    chunksDf.filter(col("embedding").isNotNull)
      .select(col("id").as("chunk_id"), l2Normalize(col("embedding")).as("vnorm"))
      .filter(col("vnorm").isNotNull)

  /** Run k-means, return (centroids, postings) DataFrames. */
  def build(chunksDf: DataFrame, libraryId: String, numCentroids: Int)
      : (DataFrame, DataFrame) = {
    val spark = chunksDf.sparkSession
    val data = normalized(chunksDf)
    val cap = trainCap(numCentroids)
    // deterministic bounded training set: the cap-lowest md5(chunk_id)
    // rows — content-derived, so identical on any cluster / partitioning.
    // One TakeOrdered job; at most cap·d doubles reach the driver.
    val sample: Array[(String, Array[Double])] = data
      .withColumn("h", md5(col("chunk_id")))
      .orderBy(col("h").asc)
      .limit(cap)
      .select(col("chunk_id"), col("vnorm"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
    if (sample.isEmpty) return (emptyCentroids(spark), emptyPostings(spark))
    val k = math.min(numCentroids, sample.length)

    // init: k lowest md5(chunk_id) = the sample's own prefix (same order)
    // reseed pool for empty clusters: an independent deterministic order
    val init = sample.take(k).map(_._2)
    val reseedPool = sample.map { case (id, v) => (md5Hex("reseed:" + id), v) }
      .sortBy(_._1).take(k).map(_._2)

    val centroids =
      if (sample.length <= DriverTrainMax)
        lloydDriver(sample.map(_._2), init, reseedPool, k)
      else
        lloydDistributed(spark, sample.map(_._2), init, reseedPool, k)

    val centroidRows = centroids.zipWithIndex.map { case (v, i) =>
      Row(libraryId, i, v.map(_.toFloat).toSeq)
    }
    val centroidsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(centroidRows.toSeq, 1), Schemas.ivfCentroids)

    // the only full-corpus pass: map-only assignment for the postings
    val postings = assign(data, centroids)
      .select(lit(libraryId).as("library_id"),
        col("cid").as("centroid_id"), col("chunk_id"),
        transform(col("vnorm"), _.cast("float")).as("embedding_norm"))
    (centroidsDf, postings)
  }

  /** 20 Lloyd rounds fully in driver memory (sample ≤ DriverTrainMax).
    * Assignment parallelizes across cores; the per-cluster sums accumulate
    * in SAMPLE ORDER (sequential pass), so results are deterministic
    * regardless of thread scheduling.
    */
  private def lloydDriver(vecs: Array[Array[Double]], init: Array[Array[Double]],
      reseedPool: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    import scala.collection.parallel.CollectionConverters._
    val d = vecs.head.length
    var centroids = init
    var iter = 0
    val assignments = new Array[Int](vecs.length)
    while (iter < KmeansIters) {
      val cents = centroids
      // argmax dot, strict > keeps the earliest index (utils.py:39-44)
      (0 until vecs.length).par.foreach { i =>
        val v = vecs(i)
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          val ct = cents(c)
          var dot = 0.0; var j = 0
          while (j < d) { dot += v(j) * ct(j); j += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        assignments(i) = best
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      var i = 0
      while (i < vecs.length) {
        val s = sums(assignments(i)); val v = vecs(i)
        var j = 0
        while (j < d) { s(j) += v(j); j += 1 }
        counts(assignments(i)) += 1
        i += 1
      }
      centroids = meanRenormReseed(sums, counts, reseedPool, k)
      iter += 1
    }
    centroids
  }

  /** Per-round Spark jobs over the (re-parallelized) sample — the path for
    * samples too large to iterate comfortably on the driver. Each round is
    * one map+agg job: mutable-buffer VecSum partials, k·d doubles collected.
    */
  private def lloydDistributed(spark: SparkSession, vecs: Array[Array[Double]],
      init: Array[Array[Double]], reseedPool: Array[Array[Double]],
      k: Int): Array[Array[Double]] = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vnorm",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.toSeq.map(v => Row(v.toSeq)),
        spark.sparkContext.defaultParallelism), schema).cache()
    try {
      var centroids = init
      var iter = 0
      while (iter < KmeansIters) {
        val sums = df.withColumn("cid",
            graft.functions.PqExpressions.argmaxDot(col("vnorm"), centroids))
          .groupBy(col("cid"))
          .agg(graft.functions.VecSumAggregator.vecSum(col("vnorm")).as("s"),
            count(lit(1)).as("cnt"))
          .collect()
        val next = Array.fill(k)(null: Array[Double])
        val counts = new Array[Long](k)
        sums.foreach { r =>
          next(r.getInt(0)) = r.getSeq[Double](1).toArray
          counts(r.getInt(0)) = r.getLong(2)
        }
        val d = vecs.head.length
        val sumArr = next.map(v => if (v == null) new Array[Double](d) else v)
        centroids = meanRenormReseed(sumArr, counts, reseedPool, k)
        iter += 1
      }
      centroids
    } finally df.unpersist()
  }

  /** mean -> renormalize -> reseed-empty, shared by both training paths
    * (reference `ivf.py:167-178`, empty-cluster reseed `ivf.py:169-171`).
    */
  private def meanRenormReseed(sums: Array[Array[Double]], counts: Array[Long],
      reseedPool: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val next = new Array[Array[Double]](k)
    var reseedIdx = 0
    for (c <- 0 until k) {
      if (counts(c) == 0L) {
        next(c) = reseedPool(reseedIdx % reseedPool.length)
        reseedIdx += 1
      } else {
        val mean = sums(c).map(_ / counts(c))
        val norm = math.sqrt(mean.foldLeft(0.0)((a, x) => a + x * x))
        next(c) = if (norm == 0.0) reseedPool(reseedIdx % reseedPool.length)
                  else mean.map(_ / norm)
      }
    }
    next
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Map-only nearest-centroid assignment: argmax dot, first-max wins on
    * ties (reference `utils.py:39-44` strict `>` keeps the earliest).
    * One `ArgmaxDot` codegen loop over the broadcast centroid reference
    * object — constant compile cost in k, where the former per-centroid
    * `struct(dot, cid)` array_sort tree was a codegen bomb at the DTO's
    * allowed 65,536 centroids. Values bit-identical (same sequential
    * double dot, same strict-> tie rule).
    */
  private def assign(data: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    data.select(col("chunk_id"), col("vnorm"),
      graft.functions.PqExpressions.argmaxDot(col("vnorm"), centroids).as("cid"))

  /** INIT-ONLY deterministic centroids ("ivf_det" mode): the k lowest
    * md5(chunk_id) vectors, normalized, NO Lloyd iterations — the same
    * content-derived init `build` uses, minus the un-SQL-replayable
    * iteration loop. Clustering quality is poorer than trained IVF (it's
    * a pseudo-random sample), but every step is pure arithmetic the
    * DuckDB oracle replays end-to-end, which turns the engine's whole
    * store->postings->nprobe->rerank path into a hash-checked query.
    * centroid_id is assigned in chunk_id order (deterministic).
    */
  def seedCentroids(chunksDf: DataFrame, libraryId: String,
      numCentroids: Int): DataFrame =
    seedCentroidsFromRows(chunksDf.sparkSession,
      lowestMd5Normalized(chunksDf, numCentroids), libraryId, numCentroids)

  /** The m lowest-md5(chunk_id) normalized rows, h-ascending — the shared
    * content-derived prefix that BOTH the seed-centroid init and the PQ
    * codebook sample draw from (md5 of distinct ids is collision-free in
    * practice and the order is total, so the k-prefix of the m-row
    * collect IS the k-row collect). One TakeOrdered serves every
    * consumer instead of one normalized corpus scan each
    * (optimization r16).
    */
  def lowestMd5Normalized(chunksDf: DataFrame,
      m: Int): Array[(String, Array[Double])] =
    normalized(chunksDf)
      .withColumn("h", md5(col("chunk_id")))
      .orderBy(col("h").asc)
      .limit(m)
      .select(col("chunk_id"), col("vnorm"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))

  /** [[seedCentroids]] from a pre-collected lowest-md5 prefix — values
    * bit-identical to the direct scan (same rows, same chunk_id-order
    * centroid ids, same double->float cast).
    */
  def seedCentroidsFromRows(spark: SparkSession,
      rows: Array[(String, Array[Double])], libraryId: String,
      numCentroids: Int): DataFrame = {
    val seeds = rows.take(numCentroids).sortBy(_._1)
    val out = seeds.zipWithIndex.map { case ((_, v), i) =>
      Row(libraryId, i, v.map(_.toFloat).toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1), Schemas.ivfCentroids)
  }

  /** Assign new vectors to EXISTING centroids (incremental add between
    * rebuilds, reference `ivf.py:40-49` — no re-clustering).
    */
  def assignToCentroids(chunksDf: DataFrame, centroidsDf: DataFrame,
      libraryId: String): DataFrame = {
    val cents = centroidsDf.orderBy(col("centroid_id"))
      .collect()
      .map(r => r.getSeq[Float](2).map(_.toDouble).toArray)
    if (cents.isEmpty) return emptyPostings(chunksDf.sparkSession)
    assign(normalized(chunksDf), cents)
      .select(lit(libraryId).as("library_id"),
        col("cid").as("centroid_id"), col("chunk_id"),
        transform(col("vnorm"), _.cast("float")).as("embedding_norm"))
  }

  private def emptyCentroids(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.ivfCentroids)
  private def emptyPostings(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.ivfPostings)
}

/** The IVF family (`ivf`: Lloyd cells; `ivf_det`: md5-seeded cells). */
object IvfFamily extends IndexFamily("ivf", Seq("ivf", "ivf_det"))
    with BalanceAudit {
  type State = Unit

  override def markers: Seq[(String, String)] = Seq("ivf_centroids" -> "ivf")

  def build(ctx: IndexContext): Unit = {
    val n = ctx.config.ivfNumCentroids
    val (centroids, postings) =
      if (det(ctx)) {
        val cents = IvfIndex.seedCentroids(ctx.chunks, ctx.libId, n)
        (cents, IvfIndex.assignToCentroids(ctx.chunks, cents, ctx.libId))
      } else IvfIndex.build(ctx.chunks, ctx.libId, n)
    ctx.write("ivf_centroids", centroids)
    ctx.write("ivf_postings", postings)
  }

  def add(ctx: IndexContext, newChunks: DataFrame): Unit =
    ctx.built("ivf_centroids").foreach { case Seq(cents) =>
      ctx.append("ivf_postings", IvfIndex.assignToCentroids(newChunks, cents, ctx.libId))
    }

  def load(ctx: IndexContext): Option[Unit] = Some(()).filter(_ => ctx.cellsBuilt)

  /** The probed cells' postings by `isin`; ALL are reranked (not Q3). */
  def candidates(ctx: IndexContext, st: Unit, q: Query): Option[DataFrame] = {
    val top = ctx.probe(q.qn).map(c => Int.box(c._1)).toIndexedSeq
    Some(q.restrict(ctx.part("ivf_postings"))
      .filter(col("centroid_id").isin(top: _*))
      .select(col("chunk_id"), col("embedding_norm"))
      .dropDuplicates("chunk_id"))
  }

  def candidates(ctx: IndexContext, st: Unit, b: Batch): BatchCandidates =
    BatchCandidates(b.restrict(ctx.part("ivf_postings"))
      .join(b.probePairs(ctx.part("ivf_centroids"), ctx.config.ivfNprobe),
        Seq("centroid_id"))
      .select(col("query_id"), col("chunk_id"), col("embedding_norm"))
      .dropDuplicates("query_id", "chunk_id"))

  /** `VectorEngine.ivfCellStats`. */
  def cellStats(ctx: IndexContext): DataFrame = {
    if (!ctx.exists("ivf_postings"))
      throw new NotFoundError(s"ivf index for library ${ctx.libId}")
    val cents = ctx.part("ivf_centroids").select(col("centroid_id"))
    if (cents.isEmpty) throw new NotFoundError(s"ivf index for library ${ctx.libId}")
    val counts = ctx.part("ivf_postings").groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"))
    cents.join(counts, Seq("centroid_id"), "left")
      .select(col("centroid_id"), coalesce(col("n"), lit(0L)).as("n_members"))
      .orderBy(col("centroid_id").asc)
  }

  /** Unit = a cell (adds assign to FROZEN centroids and pile up). */
  def balanceUnits(ctx: IndexContext): DataFrame =
    cellStats(ctx).select(lit(0).as("grp"), col("n_members").as("m"))
}
