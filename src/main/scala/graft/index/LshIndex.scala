package graft.index

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Schemas
import graft.functions.VectorFunctions._

/** Random-hyperplane (cosine) LSH as derived DataFrames — the Spark
  * re-expression of the reference's `indexing/lsh.py`.
  *
  *   - Hyperplanes: L tables x H planes ~ N(0,1), generated DRIVER-side
  *     from a fixed seed (reproducible regardless of executor parallelism,
  *     FIXTURES.md §4) and persisted to the `lsh_planes` table.
  *   - Signatures: H sign-bits of plane dots packed into a long
  *     (`lsh.py:20-25`); H is capped at 63 to fit (the reference DTO
  *     nominally allows 512 but its own model caps at 64).
  *   - Buckets: `(library_id, table_id, signature, chunk_id,
  *     embedding_norm)` — zero vectors are EXCLUDED (normalize -> null,
  *     quirk Q4). Stored vectors are L2-normalized (quirk Q1): rerank uses
  *     the normalized stored vector against the UNNORMALIZED query.
  *
  * Scale shape: the bucket table is an equi-join target on
  * `(table_id, signature)` — candidate generation is a hash join that
  * touches only matching buckets, never the corpus. The signature
  * computation itself is one codegen'd expression over the scan.
  */
object LshIndex {

  val Oversample = 6 // reference LSH_OVERSAMPLE, lsh.py:10

  /** Deterministic hyperplanes: `Random(seed)` gaussians, table-major. */
  def makePlanes(spark: SparkSession, libraryId: String, numTables: Int,
      planesPerTable: Int, dim: Int, seed: Long = 42L): DataFrame = {
    val rnd = new Random(seed)
    val rows = for {
      t <- 0 until numTables
      p <- 0 until planesPerTable
    } yield org.apache.spark.sql.Row(
      libraryId, t, p, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schemas.lshPlanes)
  }

  /** CONTENT-DERIVED deterministic hyperplanes ("lsh_det" mode): component
    * (t, p, j) = md5("lshdet|t|p|j") -> first 15 hex chars -> long ->
    * scaled to [-1, 1) -> float. Not Gaussian (uniform per component), but
    * random-hyperplane LSH only needs direction diversity — and unlike the
    * seeded-Random planes this derivation is pure arithmetic over md5, so
    * an independent SQL engine (the DuckDB oracle) replays the ENTIRE
    * build+search pipeline bit-for-bit. Every op below (long->double,
    * /2^60, *2-1, ->float) is a correctly-rounded IEEE step that DuckDB
    * performs identically.
    */
  def makePlanesDet(spark: SparkSession, libraryId: String, numTables: Int,
      planesPerTable: Int, dim: Int): DataFrame = {
    val rows = for {
      t <- 0 until numTables
      p <- 0 until planesPerTable
    } yield org.apache.spark.sql.Row(
      libraryId, t, p,
      (0 until dim).map { j =>
        val hex = md5Hex(s"lshdet|$t|$p|$j").substring(0, 15)
        (java.lang.Long.parseLong(hex, 16).toDouble /
          (1L << 60).toDouble * 2.0 - 1.0).toFloat
      })
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schemas.lshPlanes)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Signature of `vec` against one table's planes (plane-id ascending):
    * bit i set iff dot(vec, plane_i) >= 0 (`lsh.py:20-25`).
    */
  def signatureOf(vec: Array[Float], planes: Seq[Array[Float]]): Long =
    planes.zipWithIndex.foldLeft(0L) { case (sig, (p, i)) =>
      var dot = 0.0
      var j = 0
      while (j < vec.length) { dot += vec(j).toDouble * p(j).toDouble; j += 1 }
      if (dot >= 0.0) sig | (1L << i) else sig
    }

  /** Build bucket rows for `chunks` (id, embedding): normalize, drop zero
    * vectors, one row per (chunk, table) with the packed signature.
    * The planes are broadcast as literals inside the expression — at scale
    * this is a map-only stage over the chunk scan.
    */
  def buildBuckets(chunksDf: DataFrame, planesDf: DataFrame, libraryId: String): DataFrame = {
    val planes = collectPlanes(planesDf)
    val normed = chunksDf
      .filter(col("embedding").isNotNull)
      .select(col("id").as("chunk_id"),
        l2Normalize(col("embedding")).as("vnorm"))
      .filter(col("vnorm").isNotNull)
      .select(col("chunk_id"),
        transform(col("vnorm"), _.cast("float")).as("embedding_norm"))
    // ONE pass over the corpus: all L signatures are computed in a single
    // projection (L·H codegen'd dot products per row) and exploded to L
    // bucket rows — not L separate scans unioned (which re-reads and
    // re-normalizes the corpus L times)
    val sigStructs = planes.map { case (tableId, tablePlanes) =>
      val sigBits = tablePlanes.zipWithIndex.map { case (p, i) =>
        when(dotProduct(col("embedding_norm"),
          typedLit(p.toSeq)) >= 0.0, lit(1L << i)).otherwise(lit(0L))
      }
      struct(lit(tableId).as("table_id"), sigBits.reduce(_ + _).as("signature"))
    }
    normed
      .select(col("chunk_id"), col("embedding_norm"),
        explode(array(sigStructs: _*)).as("ts"))
      .select(
        lit(libraryId).as("library_id"),
        col("ts.table_id").as("table_id"),
        col("ts.signature").as("signature"),
        col("chunk_id"), col("embedding_norm"))
  }

  /** (table_id -> planes ordered by plane_id); driver-side, tiny. */
  def collectPlanes(planesDf: DataFrame): Seq[(Int, Seq[Array[Float]])] =
    planesDf.orderBy(col("table_id"), col("plane_id"))
      .collect()
      .map(r => (r.getInt(1), r.getSeq[Float](3).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, ps) => (t, ps.map(_._2).toSeq) }

  /** Candidate chunk ids for a query (reference `lsh.py:80-110`):
    * per-table signature equi-join, union+dedup, cap at 6k (deterministic
    * chunk_id order where the reference relies on set order, Q7), then the
    * <k fallback pad from all indexed vectors up to 2k.
    */
  def candidates(bucketsDf: DataFrame, query: Array[Float],
      planes: Seq[(Int, Seq[Array[Float]])], k: Int): DataFrame = {
    val spark = bucketsDf.sparkSession
    import spark.implicits._
    val qnorm = normalizeDriver(query)
    require(qnorm.isDefined, "zero-vector query handled by caller")
    // multi-probe (extension beyond the reference's single-probe
    // `lsh.py:89-93`): also probe every signature at Hamming distance 1 —
    // L x (H+1) probe keys, still a tiny broadcast, but neighbors that
    // differ by one marginal hyperplane now surface. Measured recall@10 on
    // sf0.01 embeddings at L=8,H=12: 0.2 (single-probe) -> see BASELINE.
    val sigs = planes.flatMap { case (t, ps) =>
      val s = signatureOf(qnorm.get, ps)
      (t, s) +: ps.indices.map(i => (t, s ^ (1L << i)))
    }
    val sigDf = sigs.toDF("table_id", "signature")
    // Rank candidates by multiplicity (how many tables matched) before the
    // oversample cap — a documented improvement over the reference, which
    // truncates in arbitrary Python-set order (`lsh.py:94-98`): multi-table
    // matches are likelier true neighbors, so the cap keeps the best
    // candidates instead of arbitrary ones. Deterministic total order:
    // (matches desc, chunk_id asc). Measured recall@10 on the sf0.01
    // embeddings: 0.2 -> 0.9 at L=8,H=12.
    // localCheckpoint: the bucket join + rank runs ONCE — the <k fallback
    // decision below needs an eager count, and without materialization the
    // whole join would re-run when the rerank consumes the candidates
    val fromBuckets = bucketsDf
      .join(broadcast(sigDf), Seq("table_id", "signature"))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_matches"), first(col("embedding_norm")).as("embedding_norm"))
      .orderBy(col("n_matches").desc, col("chunk_id").asc)
      .limit(Oversample * k)
      .select(col("chunk_id"), col("embedding_norm"))
      .localCheckpoint()
    graft.Caches.track(fromBuckets) // released at suite end (lazy result reads it)
    val have = fromBuckets.count()
    if (have >= k) fromBuckets
    else {
      // pad from the full indexed set, up to 2k total (lsh.py:101-110)
      val pad = bucketsDf.select(col("chunk_id"), col("embedding_norm"))
        .dropDuplicates("chunk_id")
        .join(fromBuckets.select("chunk_id"), Seq("chunk_id"), "left_anti")
        .orderBy(col("chunk_id").asc)
        .limit((2 * k - have).toInt.max(0))
      fromBuckets.unionAll(pad)
    }
  }

  def normalizeDriver(v: Array[Float]): Option[Array[Float]] = {
    val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    if (n == 0.0) None else Some(v.map(x => (x / n).toFloat))
  }
}

/** The LSH family (`lsh`: seeded random planes; `lsh_det`: md5-derived
  * planes): per-library planes plus the bucket table.
  */
object LshFamily extends IndexFamily("lsh", Seq("lsh", "lsh_det"))
    with BalanceAudit {
  type State = Seq[(Int, Seq[Array[Float]])]

  override def markers: Seq[(String, String)] = Seq("lsh_planes" -> "lsh")

  def build(ctx: IndexContext): Unit = {
    val c = ctx.config
    val h = math.min(c.lshHyperplanesPerTable, 63)
    val planes =
      if (det(ctx)) LshIndex.makePlanesDet(ctx.spark, ctx.libId, c.lshNumTables, h, ctx.dim)
      else LshIndex.makePlanes(ctx.spark, ctx.libId, c.lshNumTables, h, ctx.dim, ctx.lshSeed)
    ctx.write("lsh_planes", planes)
    ctx.write("lsh_buckets", LshIndex.buildBuckets(ctx.chunks, planes, ctx.libId))
  }

  def add(ctx: IndexContext, newChunks: DataFrame): Unit =
    ctx.built("lsh_planes").foreach { case Seq(planes) =>
      ctx.append("lsh_buckets", LshIndex.buildBuckets(newChunks, planes, ctx.libId))
    }

  def load(ctx: IndexContext): Option[State] =
    if (!ctx.exists("lsh_planes")) None
    else Some(LshIndex.collectPlanes(ctx.part("lsh_planes"))).filter(_.nonEmpty)

  def candidates(ctx: IndexContext, planes: State, q: Query): Option[DataFrame] =
    Some(LshIndex.candidates(q.restrict(ctx.part("lsh_buckets")), q.raw, planes, q.k))

  /** Multi-probe signatures as EXPRESSIONS (the bucket build's sign-bit
    * pack; the Hamming-1 flips are xors of the bound base signature), ONE
    * bucket equi-join, per-query multiplicity cap, and the reference's <k
    * pad (lsh.py:101-110) DISTRIBUTED from the globally-lowest
    * (2k + Oversample*k) ids, which cover any query's deficit; planned
    * only when some query is short (one isEmpty over the checkpointed cap).
    */
  def candidates(ctx: IndexContext, planes: State, b: Batch): BatchCandidates = {
    val k = b.k
    val sigStructs = planes.map { case (t, ps) =>
      val bits = ps.zipWithIndex.map { case (p, i) =>
        when(dotProduct(col("qnorm"), typedLit(p.toSeq)) >= 0.0,
          lit(1L << i)).otherwise(lit(0L))
      }
      struct(lit(t).as("table_id"), bits.reduce(_ + _).as("sig"))
    }
    val nBits = planes.head._2.length
    val baseSigs = b.qn
      .select(col("query_id"), explode(array(sigStructs: _*)).as("ts"))
      .select(col("query_id"), col("ts.table_id").as("table_id"),
        col("ts.sig").as("sig"))
    val flips = col("sig") +: (0 until nBits).map(i =>
      col("sig").bitwiseXOR(lit(1L << i)))
    val probes = baseSigs.select(col("query_id"), col("table_id"),
      explode(array(flips: _*)).as("signature"))
    val buckets = b.restrict(ctx.part("lsh_buckets"))
    val ranked = buckets
      .join(probes, Seq("table_id", "signature"))
      .groupBy(col("query_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_matches"))
    // the pad's count-agg, anti-join and union all read it
    val capped = graft.Caches.track(
      b.capPerQuery(ranked, col("n_matches"), LshIndex.Oversample * k)
        .localCheckpoint())
    val norms = buckets.select(col("chunk_id"), col("embedding_norm"))
      .dropDuplicates("chunk_id")
    // zero-candidate queries count too: the live ids join the count
    val deficient = b.qn.select(col("query_id"), lit(0L).as("one"))
      .unionAll(capped.select(col("query_id"), lit(1L).as("one")))
      .groupBy(col("query_id"))
      .agg(sum(col("one")).as("have"))
      .filter(col("have") < k)
      .withColumn("need", lit(2L * k) - col("have"))
    val pool = norms.select(col("chunk_id"))
      .orderBy(col("chunk_id").asc)
      .limit(2 * k + LshIndex.Oversample * k)
    val padW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("chunk_id").asc)
    val pad = deficient.crossJoin(broadcast(pool))
      .join(capped, Seq("query_id", "chunk_id"), "left_anti")
      .withColumn("rn", row_number().over(padW))
      .filter(col("rn") <= col("need"))
      .select(col("query_id"), col("chunk_id"))
    val withPad = if (deficient.isEmpty) capped else capped.unionAll(pad)
    BatchCandidates(norms.join(withPad, Seq("chunk_id")))
  }

  /** Unit = a bucket, share measured WITHIN its hash table (a degenerate
    * table's probes are near-linear scans).
    */
  def balanceUnits(ctx: IndexContext): DataFrame = {
    if (!ctx.exists("lsh_buckets"))
      throw new graft.engine.EngineErrors.NotFoundError(
        s"lsh index for library ${ctx.libId}")
    ctx.part("lsh_buckets").groupBy(col("table_id"), col("signature"))
      .agg(count(lit(1)).as("m"))
      .select(col("table_id").as("grp"), col("m"))
  }
}
