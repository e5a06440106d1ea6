package graft.curation

import org.apache.spark.sql.{DataFrame, GraftRddBridge}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** The corpus-curation primitives shared by the documents-table query
  * suite (`graft.queries.DedupQueries` / `TextQueries`) and the engine's
  * store-side curation verb (`VectorEngine.curateLibrary`): banded-minhash
  * candidate generation, iterative connected components, and the
  * Gopher-style repetition filter. Everything here is generic over an
  * (idCol, text) relation so band hashes / cluster membership / keep
  * predicates depend only on the TEXT — the property that lets the spec
  * assert the two surfaces agree row for row on the same corpus.
  */
object CurationCore {

  val MinhashK = 8   // minhash signatures
  val Bands = 4      // 2 sigs per band
  /** Canonical DSIR target domain: the `src0` source plays "the
    * high-quality target distribution" in every surface (RetrievalQueries
    * `d_dsir`, the full pipeline capstone, the engine curation verb).
    */
  val DefaultDsirTarget = "src0"

  private def toks = tokens(col("text"))

  /** Banded-minhash rows over any (idCol, text) relation: K=8 sigs over
    * word-3-gram shingles, md5-combined into 4 band keys — one row per
    * (id, band).
    */
  def bandRowsOf(df: DataFrame, idCol: String): DataFrame = {
    // numeric minhash: ONE md5 per shingle + K universal-hash variants in
    // one fold. The tokenizer is bound to an attribute ("tk") in its own
    // projection first: shingles() references its input 4x per element,
    // and inlining the O(tokens) tokenizer there would make shingle
    // construction O(tokens^2) per row (measured: it dominated the query).
    // CollapseProject keeps the binding (non-cheap alias, multiple refs).
    val withSigs = df
      .select(col(idCol), toks.as("tk"))
      .select(col(idCol),
        minhashSigsNum(shingles(col("tk"), 3), MinhashK).as("sigs"))
    def sigStr(i: Int) = element_at(col("sigs"), i + 1).cast("string")
    val bands = (0 until Bands).map { b =>
      struct(lit(b).as("band_id"),
        md5(concat(sigStr(2 * b), lit(":"), sigStr(2 * b + 1))).as("band_hash"))
    }
    withSigs
      .select(col(idCol), explode(array(bands: _*)).as("b"))
      .select(col(idCol), col("b.band_id"), col("b.band_hash"))
  }

  /** Candidate pairs from a band table: ids sharing any band bucket,
    * emitted once as (id_a < id_b).
    */
  def candidatePairsOf(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id_a"))
    val b = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id_b"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Content-defined chunking window / boundary modulus: boundaries cut
    * AFTER a position whose trailing [[CdcW]]-token gram hashes ≡ 0 mod
    * [[CdcMod]] (expected chunk ≈ CdcMod tokens) — the rsync/FastCDC
    * family rule; an insertion shifts only the chunk it lands in and
    * every later boundary re-synchronizes.
    */
  val CdcW = 4
  val CdcMod = 16

  /** CDC chunks of an (idCol, tk: array&lt;string&gt;) token frame — ONE
    * boundary/grouping implementation shared by the dedup query suite
    * (`d_cdc_dedup` / `e_stream_cdc_dedup`, over the analysis tokenizer)
    * and the engine's storage dedup (`VectorEngine.dedupStorage`, over a
    * RAW single-space split so reassembly is byte-identical). Output:
    * (idCol, chunk, n_tok, chash[, ctext when withText]) where ctext is
    * the chunk's tokens space-joined and chash = md5(ctext).
    *
    * 100 TB shape: one id-parallel token explode, one id-partitioned
    * running-sum window (doc-length bounded), one (id, chunk) agg — no
    * pairwise anything.
    */
  def cdcChunksOfTokens(tokFrame: DataFrame, idCol: String,
      withText: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = tokFrame.filter(size(col("tk")) > 0)
    val tp = tk.select(col(idCol), posexplode(col("tk")))
      .select(col(idCol), col("pos"), col("col").as("tok"))
    // cut AFTER position p (p >= CdcW-1) when the gram ENDING at p masks
    val cuts = tk.select(col(idCol),
        posexplode(transform(shingles(col("tk"), CdcW),
          g => when(pmod(hash60(g), lit(CdcMod.toLong)) === 0, 1).otherwise(0))))
      .select(col(idCol), (col("pos") + CdcW - 1).as("pos"),
        col("col").as("cut"))
    val wCum = Window.partitionBy(col(idCol)).orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val grouped = tp.join(cuts, Seq(idCol, "pos"), "left_outer")
      .withColumn("chunk",
        coalesce(sum(coalesce(col("cut"), lit(0))).over(wCum), lit(0L)))
      .groupBy(col(idCol), col("chunk"))
      .agg(count(lit(1)).as("n_tok"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("ctext"))
      .withColumn("chash", md5(col("ctext")))
    if (withText) grouped else grouped.drop("ctext")
  }

  /** Edge bound for a driver-side finish over a dup-candidate graph
    * (2^18 edges, a few MB on the driver): [[connectedComponents]]'
    * local union-find and `d_pagerank`'s local supersteps run only
    * under it, and larger graphs keep their distributed rounds.
    */
  private[graft] val LocalFinishCap: Long = 1L << 18

  /** CONNECTED COMPONENTS over pair edges by ALTERNATING STAR CONTRACTION
    * (large-star / small-star, Kiveris et al., "Connected Components in
    * MapReduce and Beyond") — shared by the text (minhash) and embedding
    * (cosine) near-dup families and the engine curation verb.
    *
    * Min-label PROPAGATION (this function's previous scheme) moves
    * information one edge-hop per global barrier, so a near-threshold ANN
    * graph with diameter ~18 (the sf0.1 semantic-dedup fixture) measured
    * 20 shuffle rounds; pointer-jumping over the label forest did NOT
    * reduce that (measured: identical round count), because the minimum
    * still has to WALK the graph — jumps compress the label forest, not
    * graph distance. Star contraction instead REWIRES the edge set each
    * round: large-star hangs every node's larger neighbors on its
    * neighborhood minimum, small-star hangs the smaller ones, and the
    * alternation provably converges to per-component stars (center = the
    * component-min id) in O(log n) rounds INDEPENDENT of diameter. The
    * number of global barriers a 100 TB dup graph pays is the thing to
    * minimize, and under this scheme it is an invariant of the algorithm,
    * not a property of the data. Edges stay canonical (u > v), every
    * round ends distinct'ed and localCheckpoint'ed (lineage truncation;
    * stats note below), and the canonical edge count never grows — each
    * round's shuffle is bounded by the DUP-GRAPH size, never the corpus.
    *
    * `nodes` rows absent from any pair rejoin as cluster-of-self at the
    * end. Returns (idCol, cluster_id); cluster_id = min id reachable —
    * the labeling the recursive-CTE oracles replay, and differentially
    * spec'd against a driver-side union-find on seeded random graphs.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      idCol: String, maxRounds: Int = 50,
      localFinishCap: Long = LocalFinishCap): DataFrame = {
    import GraftRddBridge.unpersistLocalCheckpoint
    // localCheckpoint materializes the DATA but copies the checkpointed
    // plan's ESTIMATED statistics onto the LogicalRDD — in an iterative
    // loop whose round plan folds the previous round's sizeInBytes into
    // itself, the estimate's BIT LENGTH compounds per round and the
    // driver ends up in BigInteger.multiply for tens of seconds (observed
    // under the old scheme: round 19 took 52s with every executor idle).
    // Rebuilding a fresh default-stats leaf over the same InternalRow RDD
    // resets the estimation per round with no row conversion.
    def freshPlan(ckpt: DataFrame): DataFrame =
      GraftRddBridge.freshDefaultStatsFrame(ckpt)
    val Seq(aCol, bCol) = pairs.columns.toSeq
    // canonical (u, v) with u > v; self-pairs drop
    var curCkpt = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var cur = freshPlan(curCkpt)
    var nCur = cur.count()

    // BOUNDED LOCAL FINISH (optimization r15, guide §1.2/§5): every
    // contraction round costs a fixed number of global barriers (4-6
    // exchanges + a checkpoint + a convergence action) whatever the edge
    // count — on a contracted (or small) dup graph those fixed costs ARE
    // the runtime. Once the canonical edge set fits a hard cap (2^18
    // edges ~ a few MB on the driver, the same bounded-driver-state
    // budget as the k-bounded collects elsewhere), finish with a
    // driver-side min-root union-find: identical labels (min reachable
    // id) by construction — CurateSpec differentially pins both paths
    // against the same oracle — and the distributed rounds still carry
    // all graphs above the cap, so the 100 TB shape is unchanged. The
    // cap is on EDGES AFTER distinct, i.e. the dup-graph size, never
    // the corpus. `localFinishCap = 0` forces the all-rounds path
    // (specs exercise both).
    def finishLocally(edgesDf: DataFrame): DataFrame = {
      val spark = nodes.sparkSession
      val dt = edgesDf.schema.fields(0).dataType
      val ord: Ordering[Any] = (dt match {
        case org.apache.spark.sql.types.LongType =>
          Ordering.by((x: Any) => x.asInstanceOf[Long])
        case org.apache.spark.sql.types.IntegerType =>
          Ordering.by((x: Any) => x.asInstanceOf[Int])
        case org.apache.spark.sql.types.ShortType =>
          Ordering.by((x: Any) => x.asInstanceOf[Short])
        case org.apache.spark.sql.types.StringType =>
          Ordering.by((x: Any) => x.asInstanceOf[String])
        case other => throw new IllegalArgumentException(
          s"connectedComponents local finish: unsupported id type $other")
      })
      val edges = edgesDf.collect()
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      val members = scala.collection.mutable.HashSet.empty[Any]
      edges.foreach { r =>
        val (a, b) = (r.get(0), r.get(1))
        members += a; members += b
        val (ra, rb) = (find(a), find(b))
        // min-id root: the union-find invariant that makes the local
        // labels bit-equal to the star-contraction fixpoint
        if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, dt, nullable = true),
        org.apache.spark.sql.types.StructField("label", dt, nullable = true)))
      val rows = members.toSeq.map(m =>
        org.apache.spark.sql.Row(m, find(m)))
      val labels = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      nodes.select(col(idCol))
        .join(broadcast(labels), Seq(idCol), "left_outer")
        .select(col(idCol),
          coalesce(col("label"), col(idCol)).as("cluster_id"))
    }
    if (localFinishCap > 0 && nCur <= localFinishCap) {
      val out = finishLocally(cur)
      unpersistLocalCheckpoint(curCkpt)
      return out
    }

    var changed = nCur > 0L
    var rounds = 0
    while (changed && rounds < maxRounds) {
      val tRound = System.nanoTime()
      // LARGE-STAR: per node u over the symmetrized adjacency, hang every
      // STRICTLY LARGER neighbor on m(u) = min(N(u) ∪ {u}). Each
      // canonical edge (big, small) is emitted exactly once — from its
      // small endpoint's group — as (big, m(small)); m(u) <= u < v keeps
      // the output canonical and no edge is lost.
      val sym = cur.unionAll(cur.select(col("v").as("u"), col("u").as("v")))
      val mLarge = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = sym.filter(col("v") > col("u"))
        .join(mLarge, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // SMALL-STAR: per node u over its SMALLER neighbors (exactly the
      // canonical group of u), hang u and every smaller neighbor on the
      // group minimum m (all v < u, so min(v) already includes the
      // ∪ {u} term). Emits (u, m) and (v, m) for v != m — canonical by
      // construction since m <= v < u.
      val mSmall = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = large.join(mSmall, Seq("u"))
        .select(explode(array(
          struct(col("u").as("a"), col("m").as("b")),
          struct(col("v").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      val fresh = freshPlan(next)
      // converged when the round was a no-op: same cardinality and
      // next ⊆ cur (both sides are distinct sets, so that means equal).
      // ONE action computes both counts (ADVICE r6): a left join of the
      // new edge set against the old, counting rows and non-matches in
      // the same agg — one shuffle + one job per round, not two.
      val convRow = fresh
        .join(cur.select(col("u"), col("v"), lit(1).as("_in")),
          Seq("u", "v"), "left_outer")
        .agg(count(lit(1)).as("n"),
          sum(when(col("_in").isNull, 1L).otherwise(0L)).as("new"))
        .collect().head
      val nNext = convRow.getLong(0)
      val nNew = if (convRow.isNullAt(1)) 0L else convRow.getLong(1)
      changed = !(nNext == nCur && nNew == 0L)
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] round $rounds edges=$nNext new=$nNew round_s=${(System.nanoTime() - tRound) / 1e9}%.2f")
      unpersistLocalCheckpoint(curCkpt)
      curCkpt = next
      cur = freshPlan(next)
      nCur = nNext
      rounds += 1
      // contraction brought the edge set under the bounded-driver cap:
      // skip the remaining rounds and finish locally (same labels)
      if (changed && localFinishCap > 0 && nCur <= localFinishCap) {
        val out = finishLocally(cur)
        unpersistLocalCheckpoint(curCkpt)
        return out
      }
    }
    // an unconverged edge set is WRONG (labels would not be component
    // minima) — failing loudly beats silently emitting bad cluster ids.
    // Star depth roughly halves per alternation, so the default covers
    // any realistic graph; hitting it indicates a bug, not deep data.
    if (changed) {
      unpersistLocalCheckpoint(curCkpt)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds; " +
          "star contraction needs O(log n) — raise maxRounds or investigate")
    }
    // fixpoint: every edge is (member, component-min); centers appear
    // only on the v side, so one min-agg row per non-center member
    val labels = cur.groupBy(col("u")).agg(min(col("v")).as("label"))
    // the final edge checkpoint backs the (lazy) result, so its lifetime
    // is the caller's — register it for end-of-suite release
    graft.Caches.track(curCkpt)
    nodes.select(col(idCol))
      .join(labels.withColumnRenamed("u", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
  }

  /** Temperature-scaled (T=2) MIXTURE keep set over any (idCol, text,
    * source) relation — the `d_mixture_sample` policy arithmetic with
    * CONTENT-ADDRESSED membership: the per-source keep threshold is the
    * exact ppm integer floor(min(1, w*B/n_tokens)*1e6) over
    * bit-deterministic doubles (B = half the corpus token total), and a
    * row is kept when hash60(md5(text)) mod 1e6 falls under its source's
    * threshold. Hashing the TEXT rather than the id makes the selection
    * identical across surfaces that assign different ids to the same
    * corpus (the engine's chunk ids vs the documents table's doc_ids) —
    * resample-stable under re-ingest. Scale shape: one |sources|-group
    * agg + two broadcast scalars; the policy broadcasts onto one scan.
    */
  def mixtureKeepOf(df: DataFrame, idCol: String): DataFrame = {
    import graft.functions.TextFunctions.hash60
    val bySrc = df.groupBy(col("source"))
      .agg(sum(size(toks)).cast("long").as("n_tokens"))
    val tot = bySrc.agg(sum(col("n_tokens")).as("tot"))
    val scaled = bySrc.crossJoin(broadcast(tot))
      .withColumn("p",
        col("n_tokens").cast("double") / col("tot").cast("double"))
      .withColumn("r9", floor(sqrt(col("p")) * lit(1.0e9)))
    val z = scaled.agg(sum(col("r9")).as("z9"))
    val policy = scaled.crossJoin(broadcast(z))
      .select(col("source"),
        floor(least(lit(1.0),
          col("r9").cast("double") / col("z9").cast("double") *
            shiftright(col("tot"), 1).cast("double") /
            col("n_tokens").cast("double")) * lit(1.0e6)).as("keep_ppm"))
    df.select(col(idCol), col("source"), col("text"))
      .join(broadcast(policy), Seq("source"))
      .filter(hash60(md5(col("text"))) % 1000000L < col("keep_ppm"))
      .select(col(idCol))
  }

  /** DSIR importance scores over any (idCol, text, source) relation —
    * the `d_dsir` arithmetic (Xie et al. 2023) shared by the
    * RetrievalQueries entry and the engine curation verb: per-row sum of
    * floored nano-nat log-ratios of the add-one target-LM (rows whose
    * source == target) to the corpus LM over the shared vocabulary.
    * Returns (idCol, n_tokens INT, s9 LONG); rows with zero tokens have
    * no row here (no tokens, no evidence — callers decide the default).
    * The keep selection is `s9 > 0`.
    */
  def dsirScoresOf(df: DataFrame, idCol: String, target: String): DataFrame = {
    val tk = df.select(col(idCol), col("source"), explode(toks).as("tok"))
    val cc = tk.groupBy(col("tok")).agg(count(lit(1)).as("cc"))
    val ct = tk.filter(col("source") === target)
      .groupBy(col("tok")).agg(count(lit(1)).as("ct"))
    val tot = cc.agg(sum(col("cc")).as("nc"), count(lit(1)).as("v"))
    val tt = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    def ln9(num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(log(num.cast("double") / den.cast("double")) * lit(1.0e9))
        .cast("long")
    val c9 = ln9(coalesce(col("ct"), lit(0L)) + lit(1), col("nt") + col("v")) -
      ln9(col("cc") + lit(1), col("nc") + col("v"))
    tk.join(cc, "tok")
      .join(ct, Seq("tok"), "left_outer")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(tt))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_tokens"), sum(c9).as("s9"))
  }

  /** Gopher-rules repetition stats over any (idCol, text) relation:
    * fraction of the doc taken by its most frequent token / 2-gram, and
    * the keep predicate (<= 0.2 / <= 0.18). Per-doc mode-finding as
    * (id, term) aggregation — never a per-doc sort or corpus window.
    * Unsorted; query entries add their presentation sort.
    */
  def repetitionStatsOf(df: DataFrame, idCol: String): DataFrame = {
    // the Det.rnd formulation (floor(x*1e6+0.5)/1e6) — pure IEEE double
    // arithmetic, bit-identical on any engine; `round()` is NOT (see
    // graft.queries.Det's doc)
    def rnd6(c: org.apache.spark.sql.Column) =
      floor(c * 1.0e6 + 0.5) / 1.0e6
    def modeStats(terms: DataFrame, nCol: String, maxCol: String): DataFrame =
      terms.groupBy(col(idCol), col("term"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col(idCol))
        .agg(sum(col("c")).cast("long").as(nCol),
          max(col("c")).cast("long").as(maxCol))
    val tokStats = modeStats(
      df.select(col(idCol), explode(toks).as("term")),
      "n_tokens", "max_tok")
    val bgStats = modeStats(
      df.select(col(idCol), toks.as("tk"))
        .select(col(idCol), explode(shingles(col("tk"), 2)).as("term")),
      "n_bigrams", "max_bg")
    df.select(col(idCol))
      .join(tokStats, Seq(idCol), "left_outer")
      .join(bgStats, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        rnd6(coalesce(col("max_tok").cast("double") / col("n_tokens"), lit(0.0)))
          .as("top_token_frac"),
        rnd6(coalesce(col("max_bg").cast("double") / col("n_bigrams"), lit(0.0)))
          .as("top_bigram_frac"))
      .withColumn("keep",
        col("top_token_frac") <= 0.2 && col("top_bigram_frac") <= 0.18)
  }

  /** MULTI-SCALE SPAN STRIP over any (idCol, text) relation — the
    * transform tier `d_span_strip_multi` measures, generalized so the
    * engine's curation verb runs the IDENTICAL arithmetic (one
    * implementation, the bandRowsOf sharing discipline): for each window
    * scale, windows whose exact text occurs in >= 2 distinct units are
    * hot; every token position covered by a hot window at ANY scale is
    * stripped. Returns (idCol, n_tokens, n_kept, strip_md5) per unit.
    *
    * 100 TB shape: per-scale gram explode + one hash-keyed hot-set group
    * + a position anti-join — no pairwise joins anywhere; work is
    * O(tokens x scales).
    */
  def spanStripCountsOf(df: DataFrame, idCol: String,
      scales: Seq[Int]): DataFrame = {
    val base = df.select(col(idCol), toks.as("tk"))
    val cov = scales.map { wlen =>
      val gt = base
        .select(col(idCol),
          posexplode(shingles(col("tk"), wlen)).as(Seq("p0", "g")))
        .select(col(idCol), (col("p0") + 1).as("p"), col("g"))
      val hot = gt.select(col("g"), col(idCol)).distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select(col("g"))
      gt.join(hot, "g")
        .select(col(idCol),
          explode(sequence(col("p"), col("p") + wlen - 1)).as("pos"))
    }.reduce(_ unionAll _).distinct()
    val tok = base
      .select(col(idCol), posexplode(col("tk")).as(Seq("i0", "tok")))
      .select(col(idCol), (col("i0") + 1).as("i"), col("tok"))
    val kept = tok.as("t").join(cov.as("c"),
      col(s"t.$idCol") === col(s"c.$idCol") && col("t.i") === col("c.pos"),
      "left_anti")
    val agg = kept.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("i"), col("tok")))),
            x => x.getField("tok"))).as("stripped"))
    base.select(col(idCol), size(col("tk")).as("n_tokens"))
      .join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        md5(coalesce(col("stripped"), lit(""))).as("strip_md5"))
  }

  /** FIRST-OCCURRENCE SUBSTRING STRIP over per-shard token streams —
    * the `d_substring_strip` transform (Lee et al.: keep each duplicated
    * substring's first occurrence, strip the rest) generalized to any
    * (shard, unit, order, text) relation so the engine tier streams a
    * DOCUMENT's chunks where the query entry streams synthetic long-doc
    * shards; CurateSpec pins the two surfaces equal on a shard-matched
    * corpus. Returns per-UNIT (unitCol, n_tokens, n_kept) — a shard's
    * totals are its units' sums, which is how the spec grades against
    * the per-shard entry.
    *
    * Pipeline (subRuns' chunk-parallel gram construction): global
    * positions from one per-shard running sum; duplicated subL-gram
    * starts from chunk-local shingles (chunks overlap subL-1 so no
    * boundary gram is lost); hot grams (>= 2 occurrences corpus-wide);
    * maximal runs by position-gap grouping; span extents rehydrated and
    * md5'd; spans ranked (shard asc, start asc) per passage md5 — every
    * NON-first span's positions strip.
    */
  def substringStripCountsOf(member: DataFrame, shardCol: String,
      unitCol: String, ordCols: Seq[org.apache.spark.sql.Column],
      subL: Int, subC: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = member.select(col(shardCol).as("sid"), col(unitCol).as("unit"),
        struct(ordCols: _*).as("ord"), toks.as("tk"))
      .withColumn("n", size(col("tk")))
    val wOff = Window.partitionBy(col("sid")).orderBy(col("ord").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tokStream = m
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("sid"), col("unit"), col("off"), posexplode(col("tk")))
      .select(col("sid"), col("unit"), (col("off") + col("pos")).as("gpos"),
        col("col").as("tok"))
    val ts = tokStream.withColumn("c0", expr(s"gpos DIV $subC"))
    val dup = ts.select(col("sid"), col("gpos"), col("tok"),
      explode(when(pmod(col("gpos"), lit(subC.toLong)) <= subL - 2 &&
          col("c0") > 0, array(col("c0"), col("c0") - 1))
        .otherwise(array(col("c0")))).as("chunk"))
    val grams = dup.groupBy(col("sid"), col("chunk"))
      .agg(sort_array(collect_list(struct(col("gpos"), col("tok")))).as("st"))
      .select(col("sid"), (col("chunk") * subC).as("cstart"),
        transform(col("st"), x => x.getField("tok")).as("ctk"))
      .select(col("sid"), col("cstart"),
        posexplode(transform(shingles(col("ctk"), subL), g => hash60(g))))
      .filter(col("pos") < subC)
      .select(col("sid"), (col("cstart") + col("pos")).as("pos"),
        col("col").as("h"))
    val hot = grams.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val mp = grams.join(hot.select("h"), Seq("h"), "left_semi")
      .select(col("sid"), col("pos")).distinct()
    val wRun = Window.partitionBy(col("sid")).orderBy(col("pos").asc)
    val runs = mp.withColumn("grp", col("pos") - row_number().over(wRun))
      .groupBy(col("sid"), col("grp"))
      .agg(min(col("pos")).as("start"), max(col("pos")).as("endp"))
      .select(col("sid"), col("start"), (col("endp") + lit(subL - 1)).as("xend"))
    val spans = tokStream.as("t")
      .join(broadcast(runs).as("r"),
        col("t.sid") === col("r.sid") &&
          col("t.gpos").between(col("r.start"), col("r.xend")))
      .groupBy(col("r.sid").as("sid"), col("r.start").as("start"),
        col("r.xend").as("xend"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("t.gpos"), col("t.tok")))),
        x => x.getField("tok")), " ")).as("span_md5"))
    val wFirst = Window.partitionBy(col("span_md5"))
      .orderBy(col("sid").asc, col("start").asc)
    val strip = spans
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") > 1)
      .select(col("sid"),
        explode(sequence(col("start"), col("xend"))).as("gpos"))
      .distinct()
    val kept = tokStream.join(strip, Seq("sid", "gpos"), "left_anti")
    m.groupBy(col("unit")).agg(sum(col("n")).cast("long").as("n_tokens"))
      .join(kept.groupBy(col("unit"))
          .agg(count(lit(1)).cast("long").as("n_kept")),
        Seq("unit"), "left_outer")
      .select(col("unit").as(unitCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
