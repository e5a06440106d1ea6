package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.functions.TextFunctions._

/** Property-style invariants (seeded, batched through one DataFrame pass
  * per property — the SURVEY §5 plan: top-k ⊆ scored set, cosine
  * range/symmetry, normalization idempotence, jaccard bounds).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def randomPairs(n: Int, dim: Int, seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i,
        Array.fill(dim)((rnd.nextGaussian() * 2).toFloat),
        Array.fill(dim)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("i", "a", "b")
  }

  test("cosine: range [-1,1], bitwise symmetry, self-similarity 1") {
    val df = randomPairs(500, 16, seed = 1)
      .select(
        cosineSim(col("a"), col("b")).as("ab"),
        cosineSim(col("b"), col("a")).as("ba"),
        cosineSim(col("a"), col("a")).as("aa"))
    val bad = df.filter(
      abs(col("ab")) > 1.0 + 1e-12 ||
      col("ab") =!= col("ba") ||
      abs(col("aa") - 1.0) > 1e-12).count()
    assert(bad == 0)
  }

  test("normalization: unit norm and idempotence") {
    val df = randomPairs(500, 16, seed = 2)
      .select(l2Normalize(col("a")).as("n1"))
      .select(col("n1"), l2Normalize(col("n1")).as("n2"))
      .select(
        sqrt(aggregate(zip_with(col("n1"), col("n1"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x)).as("norm1"),
        aggregate(zip_with(col("n1"), col("n2"),
          (x, y) => abs(x - y)), lit(0.0), (a, x) => greatest(a, x)).as("maxdiff"))
    val bad = df.filter(abs(col("norm1") - 1.0) > 1e-12 ||
      col("maxdiff") > 1e-12).count()
    assert(bad == 0)
  }

  test("l2Normalize is bit-identical to the per-element norm formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs: Seq[Option[Seq[Float]]] =
      (0 until 300).map(i => Some(Seq.fill(8 + i % 57)(
        (rnd.nextGaussian() * math.pow(10, i % 7 - 3)).toFloat))) ++
        Seq(Some(Seq.fill(64)(0f)), Some(Seq(-0f, 0f)), None)
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "a")
    // the reference: the norm re-folded inside every element's lambda
    val ref = when(l2Norm(col("a")) === 0.0, lit(null).cast("array<double>"))
      .otherwise(transform(vecAsDouble(col("a")), x => x / l2Norm(col("a"))))
    val rows = df.select(col("i"), l2Normalize(col("a")), ref).collect()
    assert(rows.length == vecs.length)
    def bits(r: org.apache.spark.sql.Row, c: Int): Option[Seq[Long]] =
      if (r.isNullAt(c)) None
      else Some(r.getSeq[Double](c).map(java.lang.Double.doubleToRawLongBits))
    rows.foreach { r =>
      assert(bits(r, 1) == bits(r, 2), s"vector ${r.getInt(0)}")
    }
    val nulls = rows.filter(_.isNullAt(1)).map(_.getInt(0)).toSet
    assert(nulls == Set(300, 301, 302))
  }

  test("euclidean similarity in (0,1]; distance triangle vs self") {
    val df = randomPairs(300, 8, seed = 3).select(
      euclideanSim(col("a"), col("b")).as("s"),
      euclideanDist(col("a"), col("a")).as("dself"))
    val bad = df.filter(col("s") <= 0.0 || col("s") > 1.0 ||
      col("dself") =!= 0.0).count()
    assert(bad == 0)
  }

  test("top-k is a subset of the scored set and sorted descending") {
    val hits = SparkEntry.queries("v_knn_cosine")(spark, "/root/testdata/sf0.001")
      .collect()
    val scores = hits.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
    val ids = hits.map(_.getLong(0)).toSet
    assert(ids.size == hits.length && !ids.contains(0L))
  }

  test("jaccard in [0,1], 1 for identical sets, 0 for disjoint or empty") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq.empty[String]),
      (Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(jaccard(col("x"), col("y")).as("j")).collect().map(_.getDouble(0))
    assert(df(0) == 1.0 && df(1) == 0.0 && df(2) == 0.0 && math.abs(df(3) - 0.5) < 1e-12)
  }

  test("TopKByScore equals the window formulation on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    // skewed keys: key 0 holds half the rows (the hot-key case the
    // partial aggregation exists for), scores with deliberate ties
    val rows = (0 until 2000).map { i =>
      val key = if (i % 2 == 0) 0L else (i % 37).toLong
      (key, i.toLong, (rnd.nextInt(50) / 7.0))
    }
    val df = rows.toDF("k", "id", "score")
    val viaAgg = df.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(graft.functions.TopKAggregator.topK(5).toColumn)
      .flatMap { case (k, tops) =>
        tops.zipWithIndex.map { case ((sc, id), i) => (k, i + 1, id, sc) } }
      .collect().toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
      .orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("k"), col("rn"), col("id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(viaAgg == viaWindow)
  }

  test("bucketed co-located join plans with no Exchange on either side") {
    graft.queries.SourceQueries.queries("q_bucketed_join")(
      spark, "/root/testdata/sf0.001").count() // writes the bucketed tables
    assert(graft.queries.SourceQueries.bucketedJoinIsExchangeFree(spark),
      "bucketBy(8, orderkey) on both sides must eliminate the join shuffle")
  }

  test("band join and PQ plan shapes: equi-join (no nested loop), map-only scan") {
    val d = "/root/testdata/sf0.001"
    val band = graft.SparkEntry.queries("e_band_join")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!band.contains("BroadcastNestedLoopJoin") &&
      !band.contains("CartesianProduct"),
      "bucket-blocked band join must never plan a nested loop")
    // the entry itself serves a checkpointed fixture (shared with
    // v_pq_recall); assert on the underlying build plan
    val pq = graft.queries.AnnQueries.annPqBuild(spark, d)
      .queryExecution.executedPlan.toString
    assert(!pq.contains("Exchange hashpartitioning"),
      "PQ encode+score must be map-only up to the top-k")
    assert(pq.contains("TakeOrderedAndProject"),
      "PQ top-k must be a TakeOrdered, not a global sort")
    // r11: same bar for the flat-SQ8 sibling, now on the one-cell
    // IvfSq8Kernels looping path instead of a 64-term unrolled tree
    val sq8 = graft.queries.AnnQueries.annSq8Build(spark, d)
      .queryExecution.executedPlan.toString
    assert(!sq8.contains("Exchange hashpartitioning"),
      "SQ8 encode+score must be map-only up to the top-k")
    assert(sq8.contains("TakeOrderedAndProject"),
      "SQ8 top-k must be a TakeOrdered, not a global sort")
    // r11: the winnow selection must stay JOIN-FREE — the r10 plan
    // resolved rightmost-min with a per-doc band self-join (quadratic
    // per doc); the struct-min window plan has no join of any kind
    val winnow = graft.queries.TextQueries.winnowSelectedBuild(spark, d)
      .queryExecution.executedPlan.toString
    assert(!winnow.contains("Join"),
      "winnow selection must be a pure window plan, never a self-join")
  }

  test("the Morton z-interleave is a bijection over the 32x32 grid") {
    // same structural guard as the Hilbert spec for the z-order layout:
    // every cell gets a unique z in [0, 1024) (no continuity claim —
    // Morton jumps at power-of-two boundaries by construction)
    val zExpr = (0 until 5).map { i =>
      s"((cb DIV ${1L << i}) % 2) * ${1L << (2 * i + 1)}" +
        s" + ((db DIV ${1L << i}) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")
    val zs = spark.range(1024)
      .selectExpr("id % 32 AS cb", "id DIV 32 AS db")
      .selectExpr(s"$zExpr AS z").collect().map(_.getLong(0)).toSet
    assert(zs == (0L until 1024L).toSet,
      "z-interleave must be a bijection onto [0, 1024)")
  }

  test("the order-5 Hilbert transform is a bijective unit-step curve") {
    // the two properties that make s_hilbert_prune's layout claim true:
    // every 32x32 cell gets a UNIQUE index in [0, 1024) (bijection), and
    // consecutive indices are ADJACENT cells (|dx| + |dy| = 1) — the
    // continuity z-order lacks, and the reason Hilbert-prefix files
    // have tighter bounding boxes
    val cells = spark.range(1024)
      .selectExpr("id % 32 AS cb", "id DIV 32 AS db")
    val got = graft.queries.SourceQueries.hilbertOf(cells)
      .selectExpr("cb", "db", "hd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._3).toSet == (0L until 1024L).toSet,
      "hilbert index must be a bijection onto [0, 1024)")
    val byD = got.sortBy(_._3)
    byD.sliding(2).foreach { case Array((x1, y1, _), (x2, y2, d2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumps between d=${d2 - 1} and d=$d2: ($x1,$y1)->($x2,$y2)")
    }
  }

  test("salted blocked pair join is row-equal to the broadcast plan (VERDICT r2 #5)") {
    val d = "/root/testdata/sf0.01"
    for ((name, f) <- Seq[
        (String, Option[Boolean] => org.apache.spark.sql.DataFrame)](
        ("simhash", fs => graft.queries.DedupQueries.simhashPairsImpl(spark, d, fs)),
        ("jaccard", fs => graft.queries.DedupQueries.jaccardPairsImpl(spark, d, fs)))) {
      val broadcastRows = f(Some(false)).collect().map(_.toSeq).toSeq
      val saltedRows = f(Some(true)).collect().map(_.toSeq).toSeq
      assert(saltedRows == broadcastRows,
        s"$name: salted pair plan must produce identical rows")
      assert(broadcastRows.nonEmpty, s"$name: fixture should produce pairs")
    }
  }

  test("d_dup_clusters: a valid connected-components labeling of the pair graph") {
    val d = "/root/testdata/sf0.01"
    val labels = SparkEntry.queries("d_dup_clusters")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = SparkEntry.queries("d_minhash_pairs")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should produce dup pairs")
    // fixpoint: no edge crosses clusters
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters") }
    // labels are canonical: every cluster id is the min member, and the
    // label is a member of its own cluster
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid label is not the min member")
    }
    // docs in no pair are singletons
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    labels.foreach { case (doc, cid) =>
      if (!paired.contains(doc)) assert(cid == doc, s"singleton $doc relabeled") }
  }

  test("asofJoin rejects non-long-backed key/time types (ADVICE r2)") {
    import spark.implicits._
    val l = Seq(("a", 1L), ("b", 2L)).toDF("k", "t")
    val r = Seq(("a", 1L)).toDF("rk", "rt")
    // string key: getLong on a string would be garbage — must fail loudly
    val e1 = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoinPlan.asofJoin(l, r, l("k"), r("rk"), l("t"), r("rt"))
    }
    assert(e1.getMessage.contains("leftKey"))
    // int time: ints are not long-backed in InternalRow either
    val li = Seq((1L, 5)).toDF("k", "ti")
    val ri = Seq((1L, 5)).toDF("rk", "rti")
    val e2 = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoinPlan.asofJoin(li, ri, li("k"), ri("rk"), li("ti"), ri("rti"))
    }
    assert(e2.getMessage.contains("leftTime"))
    // long key + timestamp time still works (e_asof_custom's shape)
    val lt = Seq((1L, new java.sql.Timestamp(1000L))).toDF("k", "ts")
    val rt2 = Seq((1L, new java.sql.Timestamp(500L))).toDF("rk", "rts")
    assert(graft.plans.AsOfJoinPlan.asofJoin(lt, rt2,
      lt("k"), rt2("rk"), lt("ts"), rt2("rts")).count() == 1)
  }

  test("custom AsOfJoinExec plans as the custom node and equals the window formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val right = (0 until 500).map(i =>
      ((i % 20).toLong, new java.sql.Timestamp(1000000L + rnd.nextInt(100000))))
      .toDF("c_user", "c_ts")
    val left = (0 until 200).map(i =>
      (i.toLong, (i % 23).toLong, new java.sql.Timestamp(1000000L + rnd.nextInt(100000))))
      .toDF("event_id", "user_id", "ts")
    val joined = graft.plans.AsOfJoinPlan.asofJoin(left, right,
      left("user_id"), right("c_user"), left("ts"), right("c_ts"))
    assert(joined.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val got = joined.select(col("event_id"), col("c_ts"))
      .collect().map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toMap
    // reference: per left row, max right ts <= left ts within the key
    val rightByKey = right.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).groupBy(_._1)
    left.collect().foreach { r =>
      val (id, k, t) = (r.getLong(0), r.getLong(1), r.getTimestamp(2))
      val expect = rightByKey.getOrElse(k, Array.empty)
        .map(_._2).filter(!_.after(t)).sortBy(_.getTime).lastOption
      assert(got(id) == expect, s"event $id key $k")
    }
  }

  test("simhash: identical token streams collide; hamming is symmetric") {
    import spark.implicits._
    val df = Seq(
      ("x", "the quick brown fox"),
      ("y", "the quick brown fox"),
      ("z", "completely different words here")).toDF("id", "text")
      .select(col("id"), simhash60(tokens(col("text"))).as("sh"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("x") == m("y"))
    assert(java.lang.Long.bitCount(m("x") ^ m("z")) ==
      java.lang.Long.bitCount(m("z") ^ m("x")))
  }
}
