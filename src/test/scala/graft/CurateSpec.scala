package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.VectorEngine

/** The engine curation verb vs the query-side capstone: `curateLibrary`
  * over a library ingested from the documents table must produce
  * BIT-IDENTICAL per-stage counts to `d_pipeline_e2e` on the same corpus
  * (both run the CurationCore stages), and the packed `curated_sequences`
  * derived table must be a valid concatenate-and-cut packing of the
  * survivors.
  */
class CurateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  test("curateLibrary matches d_pipeline_e2e counts and packs the survivors") {
    val root = graft.TempDirs.scratch("graft-curate-test").toString
    val eng = new VectorEngine(spark, root)
    val lib = eng.createLibrary("curated-corpus", 4)
    val doc = eng.createDocument(lib)
    // chunk id = zero-padded doc_id: the id order (packing / canonical-min
    // order) matches the capstone's numeric doc_id order
    eng.bulkIngest(lib, doc, graft.queries.Tables.documents(spark, sfDir)
      .select(format_string("d%05d", col("doc_id")).as("id"), col("text")))
    val benchIds = (0 until 20).map(i => f"d$i%05d")

    val stats = eng.curateLibrary(lib, benchIds).collect().head
    val expected = graft.queries.DedupQueries.queries("d_pipeline_e2e")(
      spark, sfDir).collect().head
    assert(stats.schema.fieldNames.toSeq == expected.schema.fieldNames.toSeq)
    assert(stats.toSeq == expected.toSeq,
      s"engine curation diverged from the query-side capstone: " +
        s"${stats.toSeq} vs ${expected.toSeq}")

    // the derived table: one row per survivor; contiguous offsets in
    // chunk-id order; sequence count consistent with the stats row
    val seqs = eng.curatedSequences(lib)
    val nSurv = stats.getAs[Long]("n_survivors")
    assert(seqs.count() == nSurv)
    val rows = seqs.orderBy(col("chunk_id").asc).collect()
    var off = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("start_off") == off,
        s"non-contiguous packing at ${r.getAs[String]("chunk_id")}")
      off += r.getAs[Long]("n_tokens")
    }
    assert(off == stats.getAs[Long]("n_tokens_kept"))
    val maxEndSeq = seqs.agg(max(col("end_seq"))).collect().head.getLong(0)
    assert(maxEndSeq + 1 == stats.getAs[Long]("n_sequences"))

    // re-running is a new VERSION of the derived table (snapshot store),
    // with the same content
    val stats2 = eng.curateLibrary(lib, benchIds).collect().head
    assert(stats2.toSeq == stats.toSeq)
    assert(eng.curatedSequences(lib).count() == nSurv)
    graft.Caches.releaseAll()
  }

  test("curateLibrary packing is invariant to the range count") {
    val root = graft.TempDirs.scratch("graft-curate-ranges").toString
    val eng = new VectorEngine(spark, root)
    val lib = eng.createLibrary("curated-ranges", 4)
    val doc = eng.createDocument(lib)
    eng.bulkIngest(lib, doc, graft.queries.Tables.documents(spark, sfDir)
      .select(format_string("d%05d", col("doc_id")).as("id"), col("text")))
    val store = new graft.engine.StateStore(spark, eng.storeRoot)
    val budget = 64 // small enough that some chunks straddle sequences
    // the range count follows the partitions of the curation flag frame:
    // with partition coalescing and broadcast joins off, the last join
    // gives it exactly `spark.sql.shuffle.partitions` partitions
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    // the packed rows in chunk-id order, and how many files hold them
    def packedWith(ranges: Int)
        : (Seq[(String, Long, Long, Long, Long, Boolean)], Long) =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", ranges.toString)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val sc = spark.sparkContext
        val tasks0 = org.apache.spark.sql.GraftJobBridge.tasksEnded(sc)
        eng.curateLibrary(lib, packBudget = budget).collect()
        // every pack range is one task in each of the survivors
        // checkpoint, the range totals and the packed write: the whole
        // verb stays under the cap only when the count follows the input
        val tasks = org.apache.spark.sql.GraftJobBridge.tasksEnded(sc) - tasks0
        assert(tasks < VectorEngine.PackRangeCount,
          s"curateLibrary ran $tasks tasks over $ranges partitions")
        val files = store.partitionFileCount("curated_sequences", lib)
        assert(files >= 1 && files <= ranges,
          s"$ranges ranges wrote $files packed files")
        (eng.curatedSequences(lib).orderBy(col("chunk_id").asc).collect()
          .map(r => (r.getAs[String]("chunk_id"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("start_off"), r.getAs[Long]("seq_id"),
            r.getAs[Long]("end_seq"), r.getAs[Boolean]("straddles"))).toSeq,
          eng.curatedSequences(lib).select(input_file_name()).distinct().count())
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    val (one, _) = packedWith(1)
    val (seven, sevenFiles) = packedWith(7)
    // the packing window hash-partitions the write by range id, so all
    // of a range's rows land in one file: rows in two or more files
    // prove the second run really packed over more than one range
    assert(sevenFiles > 1, s"7 partitions packed rows into $sevenFiles file(s)")
    // driver-side reference: the survivors' running sum in chunk-id order
    var off = 0L
    val reference = one.map { case (id, n, _, _, _, _) =>
      val start = off; off += n
      val seq = start / budget
      val end = (start + math.max(n, 1L) - 1) / budget
      (id, n, start, seq, end, seq != end)
    }
    assert(one.nonEmpty && reference.exists(_._6))
    assert(one == reference, "1-range packing diverged from the running sum")
    assert(seven == reference, "7-range packing diverged from the running sum")
    graft.Caches.releaseAll()
  }

  test("curateLibrary with mixture+DSIR matches the 7-stage d_pipeline_full") {
    val root = graft.TempDirs.scratch("graft-curate-full").toString
    val eng = new VectorEngine(spark, root)
    val lib = eng.createLibrary("curated-full", 4)
    val doc = eng.createDocument(lib)
    // source_uri carries the documents table's source so the mixture
    // policy and the DSIR target LM see the same per-source corpus;
    // membership hashes md5(text), so differing ids don't matter
    eng.bulkIngest(lib, doc, graft.queries.Tables.documents(spark, sfDir)
      .select(format_string("d%05d", col("doc_id")).as("id"), col("text"),
        col("source").as("source_uri")))
    val benchIds = (0 until 20).map(i => f"d$i%05d")

    val stats = eng.curateLibrary(lib, benchIds, mixture = true,
      dsirTarget = Some(graft.curation.CurationCore.DefaultDsirTarget))
      .collect().head
    val expected = graft.queries.DedupQueries.queries("d_pipeline_full")(
      spark, sfDir).collect().head
    assert(stats.schema.fieldNames.toSeq == expected.schema.fieldNames.toSeq)
    assert(stats.toSeq == expected.toSeq,
      s"7-stage engine curation diverged from d_pipeline_full: " +
        s"${stats.toSeq} vs ${expected.toSeq}")

    // the packed derived table reflects the 6-flag survivor set
    assert(eng.curatedSequences(lib).count() ==
      stats.getAs[Long]("n_survivors"))
    graft.Caches.releaseAll()
  }

  test("curateLibrary span-strip tier equals d_span_strip_multi (r13 #6)") {
    val root = graft.TempDirs.scratch("graft-curate-span").toString
    val eng = new VectorEngine(spark, root)
    val lib = eng.createLibrary("curated-span", 4)
    val doc = eng.createDocument(lib)
    eng.bulkIngest(lib, doc, graft.queries.Tables.documents(spark, sfDir)
      .select(format_string("d%05d", col("doc_id")).as("id"), col("text")))

    // the standalone entry on the same corpus: corpus-wide stripped total
    val standalone = graft.queries.DedupQueries.queries("d_span_strip_multi")(
      spark, sfDir).collect()
    val expStripped = standalone.map(r =>
      r.getAs[Int]("n_tokens").toLong - r.getAs[Int]("n_kept")).sum
    val expKept = standalone.map(_.getAs[Int]("n_kept").toLong).sum

    val stats = eng.curateLibrary(lib,
      stripSpanScales = Seq(8, 32, 64)).collect().head
    assert(stats.getAs[Long]("n_tokens_stripped") == expStripped,
      s"span tier stripped ${stats.getAs[Long]("n_tokens_stripped")} " +
        s"tokens, standalone entry says $expStripped")
    // with every filter stage trivially passing or not, the kept-token
    // ceiling is the stripped corpus: survivors' budgets never exceed it
    assert(stats.getAs[Long]("n_tokens_kept") <= expKept)

    // DISABLED tier: the stats schema and the packed table are unchanged
    // from the default pass (the default schema carries no strip column)
    val defStats = eng.curateLibrary(lib).collect().head
    assert(!defStats.schema.fieldNames.contains("n_tokens_stripped"))
    graft.Caches.releaseAll()
  }

  test("curateLibrary substring tier equals d_substring_strip per shard") {
    val root = graft.TempDirs.scratch("graft-curate-sub").toString
    val eng = new VectorEngine(spark, root)
    val lib = eng.createLibrary("curated-sub", 4)
    // shard-matched ingest: engine DOC = the entry's synthetic long-doc
    // shard (ldoc_id = doc_id % 8), chunk position = doc_id — so the
    // engine's per-document token streams are EXACTLY the entry's
    // per-shard streams and the strip arithmetic must agree
    val docIds = (0 until 8).map { g =>
      g -> eng.createDocument(lib, id = Some(s"$g"))
    }.toMap
    val docsDf = graft.queries.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
    docIds.foreach { case (g, engDoc) =>
      val rows = docsDf.filter(r => r.getLong(0) % 8 == g)
        .map(r => (f"d${r.getLong(0)}%05d", r.getString(1), r.getLong(0).toInt))
      import spark.implicits._
      eng.bulkIngest(lib, engDoc, rows.toSeq
        .toDF("id", "text", "position"))
    }
    val stats = eng.curateLibrary(lib, stripSubstrings = true).collect().head
    val standalone = graft.queries.DedupQueries.queries("d_substring_strip")(
      spark, sfDir).collect()
    val expStripped = standalone.map(_.getAs[Long]("n_stripped")).sum
    assert(stats.getAs[Long]("n_tokens_stripped") == expStripped,
      s"substring tier stripped ${stats.getAs[Long]("n_tokens_stripped")} " +
        s"tokens, standalone entry says $expStripped")
    // both tiers at once is rejected: transforms rewrite text, one per pass
    intercept[graft.engine.EngineErrors.ValidationError] {
      eng.curateLibrary(lib, stripSpanScales = Seq(8), stripSubstrings = true)
    }
    graft.Caches.releaseAll()
  }

  test("curatePasses: the strip ladder equals the manual two-call sequence") {
    import graft.engine.CuratePass
    def built(tag: String): (VectorEngine, String) = {
      val root = graft.TempDirs.scratch(s"graft-curate-passes-$tag").toString
      val eng = new VectorEngine(spark, root)
      val lib = eng.createLibrary("ladder", 4)
      val doc = eng.createDocument(lib)
      eng.bulkIngest(lib, doc, graft.queries.Tables.documents(spark, sfDir)
        .select(format_string("d%05d", col("doc_id")).as("id"), col("text")))
      (eng, lib)
    }
    val benchIds = (0 until 20).map(i => f"d$i%05d")
    // the MANUAL sequence: span-strip pass, then substring-strip pass
    val (engM, libM) = built("manual")
    val span = engM.curateLibrary(libM, benchIds,
      stripSpanScales = Seq(8, 32, 64)).collect().head
    val sub = engM.curateLibrary(libM, benchIds,
      stripSubstrings = true).collect().head
    // the composed driver over an identical fresh store
    val (engP, libP) = built("driver")
    val ladder = engP.curatePasses(libP, Seq(
      CuratePass(benchChunkIds = benchIds, stripSpanScales = Seq(8, 32, 64)),
      CuratePass(benchChunkIds = benchIds, stripSubstrings = true)))
      .collect()
    assert(ladder.length == 2)
    assert(ladder.map(_.getAs[Long]("pass_id")).toSeq == Seq(0L, 1L))
    // each pass writes its own curated_sequences snapshot version
    assert(ladder.map(_.getAs[Long]("sequences_version")).toSeq == Seq(1L, 2L))
    // per-pass stats rows are bit-equal to the manual calls'
    val statCols = span.schema.fieldNames.toSeq
    def statSeq(r: org.apache.spark.sql.Row): Seq[Any] =
      statCols.map(c => r.getAs[Any](c))
    assert(statSeq(ladder(0)) == span.toSeq,
      s"pass 0 diverged: ${statSeq(ladder(0))} vs ${span.toSeq}")
    assert(statSeq(ladder(1)) == sub.toSeq,
      s"pass 1 diverged: ${statSeq(ladder(1))} vs ${sub.toSeq}")
    // the final derived table equals the manual sequence's final state
    // (library_id dropped: each engine minted its own library UUID)
    val pRows = engP.curatedSequences(libP).drop("library_id")
      .orderBy(col("chunk_id")).collect()
    val mRows = engM.curatedSequences(libM).drop("library_id")
      .orderBy(col("chunk_id")).collect()
    assert(pRows.map(_.toSeq).toSeq == mRows.map(_.toSeq).toSeq)
    // an empty pass list is rejected
    intercept[graft.engine.EngineErrors.ValidationError] {
      engP.curatePasses(libP, Nil)
    }
    graft.Caches.releaseAll()
  }

  test("curateLibrary on an empty library reports zeros, not nulls") {
    val root = graft.TempDirs.scratch("graft-curate-empty").toString
    val eng = new VectorEngine(spark, root)
    val lib = eng.createLibrary("empty", 4)
    val stats = eng.curateLibrary(lib).collect().head
    assert(stats.toSeq == Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    assert(eng.curatedSequences(lib).count() == 0)
    graft.Caches.releaseAll()
  }

  test("connectedComponents equals a union-find oracle on seeded random graphs") {
    import spark.implicits._
    // driver-side union-find with path compression: the exact min-label
    // answer on any edge set — the oracle the distributed star
    // contraction must match
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min-id root: union always hangs the larger root under the smaller
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    val cases: Seq[(String, Int, Seq[(Long, Long)])] = Seq(
      // deep diameter: a single path — the case the old min-label
      // propagation paid one round per hop for (star contraction must
      // converge well inside maxRounds)
      ("path-200", 200, (0L until 199L).map(i => (i, i + 1))),
      // two cliques bridged by one edge + isolated nodes
      ("bridged", 50,
        (for (a <- 0L to 9L; b <- (a + 1) to 9L) yield (a, b)) ++
        (for (a <- 20L to 29L; b <- (a + 1) to 29L) yield (a, b)) :+ (9L, 20L)),
      ("empty", 10, Seq.empty)) ++
      Seq(7L, 8L, 9L).map { seed =>
        val rnd = new scala.util.Random(seed)
        val n = 300
        (s"gnp-$seed", n,
          Seq.fill(400)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
            .filter(p => p._1 != p._2))
      }
    cases.foreach { case (label, n, edges) =>
      val nodes = (0L until n.toLong).toDF("id")
      val pairs = edges.toDF("id_a", "id_b")
      // BOTH paths must match the oracle: the bounded driver-side finish
      // (default cap — these graphs are under it) and the distributed
      // star-contraction rounds (cap 0 disables the local finish)
      val want = unionFind(n, edges)
      Seq("local" -> (1L << 18), "distributed" -> 0L).foreach {
        case (path, cap) =>
          val got = graft.curation.CurationCore
            .connectedComponents(nodes, pairs, "id", localFinishCap = cap)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == want,
            s"$label ($path): cluster labels diverge from union-find")
      }
    }
    graft.Caches.releaseAll()
  }
}
