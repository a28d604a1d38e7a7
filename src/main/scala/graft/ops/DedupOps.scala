package graft.ops

import graft.{Cols, Q, Tables}
import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard with prefix blocking, and
  * embedding-cosine near-dup via random-hyperplane LSH.
  *
  * The fixture corpus has no natural duplicates, so each query first
  * UNIONs in deterministic synthetic near/exact duplicates (truncated
  * texts, perturbed vectors) — the same augmentation is in the oracle
  * SQL, so both engines dedup the identical corpus.
  *
  * Scale design: every candidate-generation step is bucket-based (LSH
  * band keys, simhash bytes, token-prefix blocks) — the only shuffles
  * are hash-partitioned joins on those bucket keys, never an all-pairs
  * cross join. Signatures are per-row array expressions computed inside
  * the scan stage.
  */
object DedupOps {

  /** Runtime registration of the graft_shingles UDTF. Sessions built
    * by Sessions.local load GraftExtensions via spark.sql.extensions
    * (the real deployment path); this is the fallback for plain
    * library sessions and reuses the SAME builder so the paths cannot
    * drift. Shared by dedup_shingle_udtf and text_boilerplate.
    */
  private def ensureShingleUdtf(s: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val reg = s.sessionState.functionRegistry
    val fid = FunctionIdentifier("graft_shingles")
    if (!reg.functionExists(fid)) reg.registerFunction(
      fid,
      new ExpressionInfo(classOf[graft.functions.ShingleGenerator].getName,
        "graft_shingles"),
      args => graft.functions.GraftExtensions.shingleBuilder(args))
  }

  private val MinhashK = 12 // minhash permutations
  private val Bands = 6     // LSH bands (rows-per-band = 2)
  // universal-hash permutation family over the 60-bit shingle digest:
  // perm_j(h) = (A_j * (h % P) + B_j) % P. P prime ~1e9 keeps A*h well
  // inside int64 in both engines (no overflow, identical arithmetic).
  private val MinhashP = 1000000007L

  /** Base offset for synthetic (augmented) doc ids. Every planted
    * variant lives at id + k*AugBase (exact copies k=2, truncation
    * near-dups k=1, reversed survivors k=3), so `id < AugBase` is BY
    * CONSTRUCTION the corpus/incoming boundary that
    * `dedup_incremental`'s crossing-edge filter tests — one constant
    * derives both the offsets and the filter, so they cannot drift.
    * A fixture whose base ids reached AugBase would break the
    * invariant; the driver's corpora are ~4 orders of magnitude away.
    */
  private[graft] val AugBase = 10000000L
  private def MinhashA(j: Int): Long = 1000003L * j + 12345L
  private def MinhashB(j: Int): Long = 7919L * j + 271L
  // SimHash: 60-bit signature (fits positive in both engines' BIGINT),
  // banded into SimBands disjoint bit ranges. Capacity math: a band of
  // B bits has 2^B buckets, so unrelated docs collide on some band in
  // ~ SimBands * N^2 / 2^(B+1) candidate pairs — r1's 4 x 8-bit banding
  // had only 1,024 total buckets and degenerated to ~42% of all pairs
  // at sf0.1. Recall at Hamming <= 3 is EXACT for ANY band width: 3
  // differing bits cannot touch all 4 disjoint bands (pigeonhole), so
  // at least one band always matches verbatim. Hence band width is a
  // pure precision/cost knob — the query output is invariant to it —
  // and is chosen from the corpus count at runtime ([[simBandBits]]).
  // Ceiling: 60 bits / 4 bands caps B at 15 (2^15 buckets/band), so
  // candidate pairs grow O(N^2 / 2^15) beyond N ~ 2^16; a real 100 TB
  // corpus must widen the signature itself. That path is IMPLEMENTED
  // as `dedup_simhash_wide` ([[simhashPairsWide]]): two independently
  // salted 60-bit words bucketed on 4 PAIRED band keys of
  // 2*bandBits each — capacity 2^30 at max width. It changes the
  // dedup definition (Hamming over 120 bits), so it is a parallel
  // query, not a silent default swap.
  private val SimBits = 60
  private val SimBands = 4
  private val SimBandBitsMax = SimBits / SimBands // 15

  /** Band width from corpus size: ceil(log2 n), clamped to [8, 15].
    * Targets ~2^B >= N buckets per band so expected unrelated-doc
    * collisions stay ~O(N); the clamp floor keeps tiny corpora out of
    * degenerate 1-bit bands, the ceiling is the 60-bit signature limit.
    */
  private[graft] def simBandBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(SimBandBitsMax, math.max(8, ceilLog2))
  }

  /** The 60-bit family's capacity knee: at the 15-bit band maximum a
    * band has 2^15 buckets, so past N ~ 2^16 docs expected
    * unrelated-doc collisions exceed ~2N per band and keep growing
    * O(N^2) — the corpus has outgrown the signature, not the band
    * width. Above this count the engine auto-selects the 120-bit wide
    * family ([[simhashPairsAuto]]); at or below it, the 60-bit family.
    */
  private[graft] val SimWideKnee: Long = 1L << (SimBandBitsMax + 1) // 65,536

  private[graft] def useWideSimhash(n: Long): Boolean = n > SimWideKnee

  /** Corpus-adaptive SimHash near-dup pairs — THE deployment code
    * path. Picks the signature family from the corpus count: 60-bit
    * at or below [[SimWideKnee]], 120-bit wide above it (capacity
    * 2^30 band buckets at max width); band width within the family
    * comes from [[simBandBits]] as always. The two family-pinned
    * registry rows (`dedup_simhash`, `dedup_simhash_wide`) stay as
    * certification anchors — each family's oracle holds at every
    * corpus size — while `dedup_simhash_auto`'s oracle reproduces
    * THIS selection rule with the same count arithmetic, so the
    * crossing itself is certified, not just each side
    * (SimBandSpec pins the knee and both-side agreement).
    */
  private[graft] def simhashPairsAuto(
      s: SparkSession, dir: String, nEstimate: Long): DataFrame =
    if (useWideSimhash(nEstimate))
      simhashPairsWide(s, dir, simBandBits(nEstimate))
    else simhashPairs(s, dir, simBandBits(nEstimate))
  // sorted-neighborhood rank window for n-gram blocking
  private val NgramWindow = 10
  // inverted-index cosine join: shingles with document frequency above
  // this cap are dropped from pair GENERATION (a shingle in d docs
  // yields d^2 candidates — boilerplate shingles would dominate);
  // norms keep the full set, so pruned pairs score strictly lower.
  private[graft] val CosineDfCap = 100

  // ── shared corpus augmentation (Spark + SQL twins) ────────────────

  /** First-4/5-tokens truncation — THE planted near-duplicate
    * transform, defined once (with its SQL twin) and shared by
    * [[docsAug]] and TextOps.text_editdist, which characterizes the
    * distances of exactly these planted pairs.
    */
  private[graft] def truncatedText(text: Column): Column = {
    val toks = split(text, " ")
    val keep = greatest(lit(1), floor(size(toks) * 4 / lit(5.0)).cast(IntegerType))
    array_join(slice(toks, lit(1), keep), " ")
  }

  private[graft] val truncatedTextSql: String =
    """array_to_string(list_slice(string_split(text, ' '), 1,
      |      greatest(1, CAST(floor(len(string_split(text, ' ')) * 4 / 5.0) AS INTEGER))), ' ')""".stripMargin

  /** documents + EXACT copies of every 7th doc (id + 20,000,000) — the
    * planted exact-duplicate corpus, defined once (with [[dupAugSql]])
    * for dedup_exact, dedup_components and TextOps.corpus_curate.
    * `extraCols` = document columns to carry besides doc_id.
    */
  private[graft] def dupAug(
      s: SparkSession, dir: String, extraCols: Seq[String] = Seq("text")): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(("doc_id" +: extraCols).map(col): _*)
    d.union(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(2 * AugBase)).as("doc_id") +:
        extraCols.map(col): _*))
  }

  private[graft] def dupAugSql(extraCols: Seq[String] = Seq("text")): String = {
    val cs = ("doc_id" +: extraCols).mkString(", ")
    val shifted = (s"doc_id + ${2 * AugBase} AS doc_id" +: extraCols).mkString(", ")
    s"""SELECT $cs FROM documents
       |  UNION ALL
       |  SELECT $shifted FROM documents WHERE doc_id % 7 = 0""".stripMargin
  }

  /** documents + near-duplicate variants: every 10th doc re-appears
    * (id + 10,000,000) truncated to its first 4/5 tokens.
    */
  def docsAug(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    d.select(col("doc_id"), col("text")).union(
      d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + lit(AugBase)).as("doc_id"),
        truncatedText(col("text")).as("text")))
      // The fixture corpus is one small parquet file -> one input split;
      // without this the md5-heavy signature stages downstream run on a
      // single core (measured 13.5s for minhash at sf0.1). Spreading the
      // scan across the session's parallelism is exactly what a real
      // many-file 100 TB corpus gives for free.
      .repartition(s.sparkContext.defaultParallelism)
  }

  val docsAugSql: String =
    s"""SELECT doc_id, text FROM documents
       |UNION ALL
       |SELECT doc_id + $AugBase AS doc_id,
       |       $truncatedTextSql AS text
       |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** Incremental-dedup incoming batch: three planted arrival kinds —
    * exact copies (+20M), 4/5-truncation near-dups (+10M), and
    * token-reversed docs (+30M) whose word-3-gram shingle set shares
    * nothing with the source, so they must SURVIVE the dedup gate.
    */
  private[graft] def incrIncoming(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(2 * AugBase)).as("doc_id"), col("text"))
      .union(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(AugBase)).as("doc_id"),
          truncatedText(col("text")).as("text")))
      .union(d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(3 * AugBase)).as("doc_id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text")))
  }

  private[graft] val incrIncomingSql: String =
    s"""SELECT doc_id + ${2 * AugBase} AS doc_id, text FROM documents WHERE doc_id % 7 = 0
       |UNION ALL
       |SELECT doc_id + $AugBase AS doc_id, $truncatedTextSql AS text
       |FROM documents WHERE doc_id % 10 = 0
       |UNION ALL
       |SELECT doc_id + ${3 * AugBase} AS doc_id,
       |  array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
       |FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** Word 3-gram shingles (distinct), for docs with >= 3 tokens. */
  private[graft] def shingles3(tokens: Column): Column =
    array_distinct(transform(sequence(lit(1), size(tokens) - 2), i =>
      concat(element_at(tokens, i), lit(" "),
        element_at(tokens, i + 1), lit(" "),
        element_at(tokens, i + 2))))

  private[ops] val shingles3Sql =
    """list_distinct(list_transform(range(1, len(tokens) - 1),
      |  i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))""".stripMargin

  /** Exact set Jaccard between two distinct-element array columns. */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    inter / (size(a) + size(b) - size(array_intersect(a, b)))
  }

  private def jaccardSql(a: String, b: String): String =
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / (len($a) + len($b) - len(list_intersect($a, $b)))"

  /** Shared banding/join/filter core for both SimHash families. `sim`
    * carries doc_id plus one 60-bit signature column per WORD; a doc
    * lands in SimBands buckets, each keyed by the i-th band of EVERY
    * word concatenated (band key width = words * bandBits, capacity
    * 2^(words*bandBits) buckets per band — with two words, 2^30 at max
    * width, the beyond-2^16 capacity the wide family exists for).
    * Pairs pass at summed Hamming <= 3, and recall there is EXACT by
    * pigeonhole at ANY band width: a differing bit corrupts exactly
    * one of the SimBands paired keys, so 3 bits leave at least one of
    * the 4 keys matching verbatim (SimBandSpec asserts the invariance
    * for both families).
    */
  private def simhashPairsCore(
      sim: DataFrame, sigCols: Seq[String], bandBits: Int, tag: String): DataFrame = {
    require(bandBits >= 1 && bandBits <= SimBandBitsMax,
      s"bandBits must be in [1, $SimBandBitsMax], got $bandBits")
    val mask = (1L << bandBits) - 1
    val bandIdx = explode(array((0 until SimBands).map(i => lit(i)): _*)).as("band_i")
    val bandKey = sigCols
      .map(c => s"(shiftright($c, CAST(band_i * $bandBits AS INT)) & $mask)")
      .reduceLeft((acc, s) => s"(($acc) * ${1L << bandBits} + $s)")
    val bands = sim.select(col("doc_id") +: sigCols.map(col) :+ bandIdx: _*)
      .withColumn("band_v", expr(bandKey))
      .persist()
    // The Hamming cut runs INSIDE the join's projection (xor+popcount,
    // whole-stage codegen) BEFORE the cross-band distinct, so the raw
    // candidate set — 3.9M rows at sf0.1, ~60x the surviving pairs —
    // is never shuffled, persisted or distinct()ed; only survivors
    // are. That is the shape that holds at 100x: band saturation makes
    // candidates grow toward N^2, and the one structure that touches
    // them is a streaming codegen filter. Blocking degradation stays
    // VISIBLE without a dedicated counting job (an eager
    // sum-of-C(bucket,2) pass measured +0.35 s on every family query):
    // the count printed here is the SURVIVING pair count — if the
    // corpus outgrows the band capacity the signal is this join stage's
    // runtime against a flat survivor count, and the remedy is the same
    // (widen the signature / raise bandBits via simBandBits).
    val hammingSql = sigCols.map(c => s"bit_count(a.$c ^ b.$c)").mkString(" + ")
    val pairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band_i") === col("b.band_i") && col("a.band_v") === col("b.band_v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr(s"CAST($hammingSql AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .persist()
    // one eager action: materializes the (small) pair cache every
    // downstream consumer reuses, and surfaces the survivor count
    println(s"[$tag] bandBits=$bandBits pairs=" + pairs.count())
    pairs
  }

  /** |A ∩ B| of two ascending-sorted distinct long arrays as one
    * codegen merge scan ([[graft.functions.SortedIntersectCountExpr]])
    * — replaces `size(array_intersect(a, b))` in the pair-verification
    * hot paths, where the per-row OpenHashSet build plus the counted-
    * then-discarded result array were the stage cost at sf1. Callers
    * OWN the sort (contract of the expression).
    */
  private[graft] def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.SortedIntersectCountExpr(
        org.apache.spark.sql.GraftColumnShim.expression(a),
        org.apache.spark.sql.GraftColumnShim.expression(b)))

  /** The native-codegen 60-bit signature of a token-hash array column
    * (SimHashExpr — the per-bit HOF aggregate formulation cost SimBits
    * interpreted passes over the array per row).
    */
  private def sigOf(c: String): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.SimHashExpr(
        org.apache.spark.sql.GraftColumnShim.expression(col(c)), SimBits))

  /** 60-bit SimHash near-dup pairs at Hamming <= 3 over the augmented
    * corpus, banded at `bandBits` bits. Factored out of the query so
    * SimBandSpec can assert the output is band-width invariant (the
    * exact-recall pigeonhole argument in [[simhashPairsCore]]).
    */
  private[graft] def simhashPairs(s: SparkSession, dir: String, bandBits: Int): DataFrame = {
    val hs = docsAug(s, dir).select(col("doc_id"),
      transform(array_distinct(split(col("text"), " ")), t => Cols.hex60(t)).as("hh"))
    simhashPairsCore(
      hs.select(col("doc_id"), sigOf("hh").as("s1")),
      Seq("s1"), bandBits, "dedup_simhash")
  }

  /** WIDE SimHash near-dup pairs: the capacity remedy for corpora
    * beyond N ~ 2^16 — a 120-bit signature as TWO independently salted
    * 60-bit words, bucketed on PAIRED band keys (see
    * [[simhashPairsCore]]). Hamming distance spans both words.
    */
  private[graft] def simhashPairsWide(s: SparkSession, dir: String, bandBits: Int): DataFrame = {
    val toks = array_distinct(split(col("text"), " "))
    val hs = docsAug(s, dir).select(col("doc_id"),
      transform(toks, t => Cols.hex60(t)).as("hh1"),
      transform(toks, t => Cols.hex60(concat(lit("w2|"), t))).as("hh2"))
    simhashPairsCore(
      hs.select(col("doc_id"), sigOf("hh1").as("s1"), sigOf("hh2").as("s2")),
      Seq("s1", "s2"), bandBits, "dedup_simhash_wide")
  }

  /** DuckDB twin of the 60-bit SimHash signature over a token-hash
    * list column — shared by both family oracles.
    */
  private def simhashSqlExpr(c: String): String = (0 until SimBits)
    .map(b => s"(CASE WHEN list_sum(list_transform($c, h -> ((h >> $b) & 1)*2 - 1)) > 0 THEN ${1L << b} ELSE 0 END)")
    .mkString("CAST((", "\n      + ", ") AS BIGINT)")

  /** Release the materialized blocks behind a `localCheckpoint(true)`d
    * relation. `Dataset.unpersist` is a silent no-op here — checkpoint
    * blocks live on the underlying RDD, not in the cache manager — so
    * without this, every superseded generation of an iterative loop
    * lingers until the ContextCleaner GCs the RDD. Only call once the
    * relation is definitively dead: local checkpointing truncated its
    * lineage, so a post-drop read cannot recompute and fails.
    */
  private def dropLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Connected components over an undirectable edge list (cols a, b)
    * via iterative min-label propagation — the scalable formulation
    * (each iteration is one hash join + one aggregation; iterations =
    * graph diameter, tiny for dedup graphs). Returns (doc_id,
    * component) for every node that appears in an edge. Fails loudly
    * if propagation does not converge: unconverged labels are WRONG
    * labels and must not slip past the correctness gate.
    */
  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b"))).persist()
    // localCheckpoint, not persist: each round's plan references the
    // previous labels TWICE (join + union), so carrying logical lineage
    // across rounds doubles the plan tree per round — by the 20-round
    // cap that is a ~2^20-node plan, and Spark stringifies the plan on
    // every action (OOMs the driver long before any data-plane cost;
    // GraphPropertiesSpec caught exactly this on a diameter-17 path).
    // localCheckpoint materializes the round and cuts the plan to a
    // leaf, same as the star variant. (On a real cluster prefer
    // reliable checkpoint(): localCheckpoint pins blocks to executors.)
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    // Convergence probe: min-propagation only ever DECREASES labels, so
    // the label total is strictly monotone until the fixpoint — equal
    // totals <=> no label changed. One aggregate over the freshly
    // cached relation (no join, no extra shuffle); decimal(38,0)
    // accumulation so the invariant holds for 64-bit node ids at any
    // node count without overflow.
    def labelTotal(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast(DecimalType(38, 0))))
        .head().getDecimal(0)
    var total = labelTotal(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < 20) {
      val viaNeighbors = und
        .join(labels, und("b") === labels("node"))
        .select(und("a").as("node"), col("label"))
      // lazy checkpoint: the labelTotal aggregate below is the round's
      // first action — it materializes the checkpoint blocks and
      // computes the convergence total in ONE job (the eager variant
      // paid a second full pass per round; same fusion as
      // starFixpointEdges). The aggregate scans every partition, so
      // the blocks are fully cached before the next round reads them.
      val next = labels.select(col("node"), col("label"))
        .union(viaNeighbors)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint(false)
      val nextTotal = labelTotal(next)
      // the eager checkpoint above materialized `next` from the prior
      // generation's blocks — that generation is dead now; drop its
      // blocks instead of waiting for RDD GC (one bounded generation,
      // the returned one, survives the loop)
      dropLocalCheckpoint(labels)
      labels = next
      converged = nextTotal.compareTo(total) == 0
      total = nextTotal
      iter += 1
    }
    require(converged,
      s"component propagation did not converge within $iter iterations")
    und.unpersist(blocking = false)
    labels.select(col("node").as("doc_id"), col("label").as("component"))
  }

  /** Connected components via the alternating large-star / small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the O(log n)-round formulation.
    *
    * [[connectedComponents]] converges in O(diameter) rounds, which is
    * fine for dedup graphs (stars around a canonical doc) but
    * adversarial for long chains: a 10^6-node path would need 10^6
    * joins. The star algorithm contracts path length geometrically:
    *
    *  - large-star: every node u links its LARGER neighbors to
    *    m = min(N(u) ∪ {u});
    *  - small-star: every node u links its smaller-or-equal neighbors
    *    (and itself) to m.
    *
    * Each half-round is one groupBy(min) + one join on the edge list —
    * no per-node state, no driver data. At the fixpoint the edge list
    * IS the component map: disjoint stars centered at component minima.
    * Per-round cost is ~2 shuffles of the (shrinking) edge list, so
    * total work is O(E log n) — the formulation that survives a
    * 100 TB pair graph with billion-node chains.
    *
    * Same output contract as [[connectedComponents]]: (doc_id,
    * component) for every node appearing in an edge; verified against
    * the identical recursive-CTE oracle (dedup_components_star) and
    * against the propagation implementation property-wise
    * (DedupSpec).
    */
  private[graft] def connectedComponentsStar(edges: DataFrame): DataFrame =
    connectedComponentsStarWithRounds(edges)._1

  /** [[connectedComponentsStar]] plus the number of contraction rounds
    * it ran — the O(log n) round bound is the whole reason this
    * variant exists, so the count is surfaced for StarComponentsSpec
    * to pin against an adversarial chain graph (the contraction loop
    * is eager, so the count is final by the time this returns).
    */
  private[graft] def connectedComponentsStarWithRounds(
      edges: DataFrame): (DataFrame, Int) = {
    val allNodes = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node"))).distinct()
    val (e, iter) = starFixpointEdges(edges)
    // fixpoint edges are disjoint stars (node, min); roots + isolated
    // nodes label themselves
    val labeled = allNodes
      .join(e.select(col("u").as("node"), col("v").as("label")), Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("label"), col("node")).as("component"))
    (labeled, iter)
  }

  /** Star-contraction member→root map WITHOUT the self-rows for roots
    * and isolated nodes: exactly the checkpointed fixpoint edge set,
    * renamed to the (doc_id, component) contract. Consumers that
    * attach families via LEFT JOIN + COALESCE(component, doc_id) — the
    * whole curate_* family — get identical answers from this map (a
    * root's self-row is redundant there: its id IS its component), and
    * the plan they execute is a pure read of the checkpointed
    * fixpoint. [[connectedComponentsStar]]'s full contract needs the
    * self-rows, and building them re-derives the node universe from
    * the RAW edge plan — for the curate chain that meant re-executing
    * the entire minhash band join + verification at result time for
    * rows the join was about to coalesce away.
    */
  private[graft] def starMemberMap(edges: DataFrame,
      edgesDistinctCanonical: Boolean = false): DataFrame =
    starFixpointEdges(edges, edgesDistinctCanonical)._1
      .select(col("u").as("doc_id"), col("v").as("component"))

  /** Full (doc_id, component) labeling derived PURELY from the
    * checkpointed fixpoint: member rows straight from the star edges,
    * each distinct root labeling itself. Identical to
    * [[connectedComponentsStar]] whenever the input edge relation is
    * self-loop-free (every dedup pair graph is — doc_a < doc_b
    * strictly), because then every edge-node appears in some fixpoint
    * star. The generic labeling instead left-joins a node universe
    * derived from the RAW edge plan, which re-executes that plan
    * (band join + verification, for the LSH graphs) at result time;
    * this variant's result plan reads only checkpointed blocks.
    */
  private[graft] def starLabels(edges: DataFrame,
      edgesDistinctCanonical: Boolean = false): DataFrame = {
    val e = starFixpointEdges(edges, edgesDistinctCanonical)._1
    e.select(col("u").as("doc_id"), col("v").as("component"))
      .union(e.select(col("v").as("doc_id"), col("v").as("component")).distinct())
  }

  /** The alternating large/small-star contraction loop itself: returns
    * the CHECKPOINTED fixpoint edge set (disjoint stars, big→small
    * orientation) and the round count. Shared by the full-contract
    * labeling and [[starMemberMap]].
    */
  private[graft] def starFixpointEdges(edges: DataFrame,
      edgesDistinctCanonical: Boolean = false): (DataFrame, Int) = {
    // Lineage truncation per round: each round's plan references the
    // previous round's edge relation ~6 times (two neighbor unions, two
    // min-aggregations, two joins), so carrying logical lineage across
    // rounds grows the plan tree exponentially — a deep contraction
    // OOMs the driver just STRINGIFYING the plan. localCheckpoint
    // materializes the round's edges and cuts the plan back to a leaf.
    // (On a real cluster prefer reliable checkpoint(): localCheckpoint
    // pins blocks to executors and does not survive executor loss.)
    // canonical orientation (u > v): every edge points big -> small.
    // `edgesDistinctCanonical`: callers whose edge relation is already
    // a distinct set with one strict orientation (every verified-pair
    // graph: doc_a < doc_b strictly, pairs distinct by construction)
    // skip the init dedup exchange — the greatest/least swap of a
    // strictly-oriented distinct set stays distinct.
    val oriented = edges
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
    var e = (if (edgesDistinctCanonical) oriented else oriented.distinct())
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    // cap = safety valve only: alternating large/small-star halves the
    // component count per round w.h.p. (Kiveris et al.), so even a
    // billion-node instance converges in ~30 rounds; 64 leaves
    // adversarial headroom without masking a genuine non-convergence
    while (!converged && iter < 64) {
      // neighbor view from both endpoints, m = min(N(u) ∪ {u})
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val withM = nbrs.join(mins, "u")
      // large-star: (v, m) for v ∈ N(u), v > u. NOT checkpointed:
      // the small-star phase references this relation several times
      // (self-union + aggregation + join), but every reference shares
      // the same distinct-aggregate exchange and ReuseExchange computes
      // it once — so the whole round materializes in ONE job (next's
      // eager checkpoint) instead of two, and lineage growth across
      // rounds is still cut by that checkpoint.
      val afterLarge = withM.filter(col("v") > col("u"))
        .select(col("v").as("lu"), col("m").as("lv"))
        .filter(col("lu") =!= col("lv"))
        .select(col("lu").as("u"), col("lv").as("v")).distinct()
      val nbrs2 = afterLarge.select(col("u"), col("v"))
        .union(afterLarge.select(col("v").as("u"), col("u").as("v")))
      val mins2 = nbrs2.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val withM2 = nbrs2.join(mins2, "u")
      // small-star: (v, m) for v ∈ N(u) with v < u, plus (u, m) itself
      val small = withM2.filter(col("v") < col("u"))
        .select(col("v").as("su"), col("m").as("sv"))
        .union(mins2.select(col("u").as("su"), col("m").as("sv")))
      // LAZY checkpoint: the fixpoint probe below is the round's first
      // action, so it materializes the checkpoint blocks AND decides
      // convergence in ONE job — the eager variant paid a second full
      // pass over the round plan just to cache it (measured
      // ~0.15 s/round of pure re-scan at sf0.1). Lineage is still cut:
      // the returned Dataset's plan is already the checkpointed-RDD
      // leaf, and the probe aggregation computes every partition (its
      // shuffle reads all of `next`), so the blocks are fully cached
      // when anything reads them next.
      val next = small.filter(col("su") =!= col("sv"))
        .select(col("su").as("u"), col("sv").as("v")).distinct()
        .localCheckpoint(false)
      // Fixpoint probe: a distinct big→small edge set is a fixpoint of
      // the alternating contraction IFF it is a disjoint min-star set —
      // every u has out-degree exactly 1 and never itself appears as a
      // center (v). Proof both ways: on such a set, large-star maps
      // every member's only (larger-side) view to its center and
      // small-star reproduces each (member, center) edge while the
      // center's self-link is filtered, so the set maps to itself; and
      // the Kiveris et al. fixpoint is disjoint stars in exactly this
      // orientation. Checking the SHAPE of `next` directly replaces the
      // old compute-next-round-and-compare probe, which always paid ONE
      // EXTRA full contraction round just to observe an unchanged edge
      // set (the common 2-round dedup graph converges in half the
      // jobs). One bag-union + one hash agg, same cost as the old
      // symmetric-difference probe.
      val diff = next.select(col("u").as("node"),
          lit(1L).as("outd"), lit(0L).as("ctr"))
        .union(next.select(col("v").as("node"), lit(0L).as("outd"),
          lit(1L).as("ctr")))
        .groupBy("node")
        .agg(sum(col("outd")).as("outd"), max(col("ctr")).as("ctr"))
        .filter(col("outd") > 1 || (col("outd") > 0 && col("ctr") > 0))
        .limit(1).count()
      // Dataset.unpersist would be a no-op on this checkpointed
      // relation (see dropLocalCheckpoint) — drop the superseded
      // round's blocks explicitly. `next` and the diff count are both
      // materialized at this point, so `e` cannot be read again.
      dropLocalCheckpoint(e)
      e = next
      converged = diff == 0
      iter += 1
    }
    require(converged,
      s"star contraction did not converge within $iter iterations")
    (e, iter)
  }

  /** Recursive-CTE transitive closure — the oracle twin of
    * [[connectedComponents]]. `edgesCte` names an in-scope CTE with
    * columns (a, b); the caller splices this after its own WITH list.
    */
  private[graft] def componentsSql(edgesCte: String): String =
    s"""und AS (SELECT a, b FROM $edgesCte UNION SELECT b, a FROM $edgesCte),
       |reach AS (
       |  WITH RECURSIVE r(a, b) AS (
       |    SELECT a, b FROM und
       |    UNION
       |    SELECT r.a, u.b FROM r JOIN und u ON r.b = u.a WHERE u.b <> r.a)
       |  SELECT * FROM r)
       |SELECT a AS doc_id, least(a, min(b)) AS component
       |FROM reach GROUP BY a""".stripMargin

  /** MinHash+LSH near-dup pair oracle SQL — shared by
    * `dedup_minhash_lsh` (pairs are the output) and
    * `dedup_near_components` (pairs are the edge list).
    */
  private[graft] lazy val minhashPairsSql: String = minhashPairsSqlOver(docsAugSql)

  /** [[minhashPairsSql]] generalized over any (doc_id, text) corpus SQL
    * — the incremental-dedup query runs the identical signature/band/
    * verify machinery over base ∪ incoming instead of the augmented
    * fixture corpus.
    */
  private[graft] def minhashPairsSqlOver(corpusSql: String): String =
    s"""WITH ${minhashCoreCtes(corpusSql)}
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT p.doc_a, p.doc_b, ${jaccardSql("x.shingles", "y.shingles")} AS jaccard
       |  FROM pairs p JOIN sh x ON p.doc_a = x.doc_id JOIN sh y ON p.doc_b = y.doc_id) t
       |WHERE jaccard >= 0.5""".stripMargin

  /** The shared WITH-body of the minhash oracle chain — docs_aug →
    * tokens → shingle sets (`sh`) → signatures (`mh`) → band keys →
    * candidate `pairs` — factored out so queries that need the
    * INTERMEDIATE relations (dedup_minhash_est reads both `mh` and
    * `sh`) splice the identical CTEs instead of restating the
    * machinery (which could then drift from the production pair SQL).
    */
  private[graft] def minhashCoreCtes(corpusSql: String): String = {
    val sig = (0 until MinhashK)
      .map(j => s"list_min(list_transform(hh, h -> (${MinhashA(j)} * h + ${MinhashB(j)}) % $MinhashP))")
      .mkString("[", ",\n      ", "]")
    // 60-bit band keys (hex60 of the salted band digest), not the
    // 32-char md5 hex string: the banded self-join and its exchange
    // then carry 8-byte ints — same bucket semantics (both engines
    // compute the identical digest, so even a collision only merges
    // the same buckets on both sides and the exact-jaccard verify
    // keeps the output identical)
    val bandKeys = (0 until Bands)
      .map(b => graft.OracleSql.hex60(s"'$b~' || sig[${2 * b + 1}] || '|' || sig[${2 * b + 2}]"))
      .mkString("[", ",\n      ", "]")
    s"""docs_aug AS ($corpusSql),
       |tok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM docs_aug),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform($shingles3Sql,
       |    s -> ${graft.OracleSql.hex60("s")})) AS shingles
       |  FROM tok WHERE len(tokens) >= 3),
       |hs AS (
       |  SELECT doc_id,
       |    list_transform(shingles, h -> h % $MinhashP) AS hh
       |  FROM sh),
       |mh AS (SELECT doc_id, $sig AS sig FROM hs),
       |bands AS (SELECT doc_id, unnest($bandKeys) AS band_key FROM mh),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** MinHash+LSH near-dup pairs, Spark side (the twin of
    * [[minhashPairsSql]]).
    */
  private[graft] def minhashPairsDf(s: SparkSession, dir: String): DataFrame =
    minhashPairsOver(docsAug(s, dir))

  /** (doc_id, shingles) — the distinct word-3-gram set relation for
    * docs with >= 3 tokens, the shared scan under BOTH similarity-join
    * families, with each shingle 60-bit md5-HASHED to int64 at the
    * scan: every downstream consumer (minhash permutations, All-Pairs
    * prefixes, the exact-Jaccard verification joins) operates on
    * fixed-width ints, so the self-join shuffles carry ~8 bytes per
    * shingle instead of a ~20-char string and `array_intersect` runs
    * integer comparisons. Jaccard over hashes equals Jaccard over
    * strings absent 60-bit collisions, and BOTH engines hash
    * identically, so even a collision cannot desync the oracle (the
    * post-hash distinct keeps the element sets properly distinct in
    * both engines either way). Callers persist: one corpus scan can
    * then feed the minhash band machinery and the exact All-Pairs join
    * (dedup_lsh_recall runs both over the same sets).
    */
  private[graft] def shingleSets(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), hashedShingles(col("tokens"), 3).as("shingles"))

  /** array_distinct(transform(shingles3(tokens), hex60)) as ONE native
    * pass ([[graft.functions.HashedShingleSetExpr]]) — same array,
    * element for element, but the digest streams over token bytes
    * (no per-shingle concat string) and the projection stays inside
    * whole-stage codegen (the HOF form evicted it).
    */
  private[graft] def hashedShingles(tokens: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.HashedShingleSetExpr(
        org.apache.spark.sql.GraftColumnShim.expression(tokens), n))

  /** [[minhashPairsDf]] generalized over any (doc_id, text) corpus —
    * the twin of [[minhashPairsSqlOver]].
    */
  private[graft] def minhashPairsOver(corpus: DataFrame): DataFrame =
    // persist: shingle sets feed both the band join and (twice) the
    // exact-Jaccard verification join; signatures cost 12 md5 evals
    // per shingle and must not be recomputed per consumer
    minhashPairsOverSets(shingleSets(corpus).persist())

  /** [[minhashPairsOver]] over a prebuilt (doc_id, shingles) relation
    * (callers persist it — it is referenced three times here).
    */
  /** (doc_id, sig) over a (doc_id, shingles) relation. The signature is
    * ONE generated loop over the shingle array (MinHashSigExpr) rather
    * than MinhashK interpreted transform+array_min passes — the oracle
    * keeps the per-permutation list_min formulation (semantics proven
    * identical, see the expression's doc + MinHashSigSpec's
    * equivalence pin).
    */
  private[graft] def minhashSigs(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), minhashSigCol(col("shingles")).as("sig"))

  /** The signature column itself, usable inside ANY plan over a
    * `shingles` array — the streaming near-dup screen computes it
    * inside a streaming plan, where the DataFrame-in/DataFrame-out
    * [[minhashSigs]] shape doesn't compose.
    */
  private[graft] def minhashSigCol(shingles: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.MinHashSigExpr(
        org.apache.spark.sql.GraftColumnShim.expression(shingles),
        MinhashP,
        (0 until MinhashK).map(MinhashA),
        (0 until MinhashK).map(MinhashB)))

  /** The Bands-element 60-bit band-key array over a signature — ONE
    * definition shared by the batch candidate join and the streaming
    * screen, so the bucket layout cannot drift between them (the
    * minhashCoreCtes convention, Spark side).
    */
  private[graft] def bandKeysCol(sig: Column): Column =
    array((0 until Bands).map(b =>
      Cols.hex60(concat(lit(s"$b~"), element_at(sig, 2 * b + 1).cast("string"),
        lit("|"), element_at(sig, 2 * b + 2).cast("string")))): _*)

  /** The band-candidate pair set of the minhash family, BEFORE exact
    * verification — factored out so dedup_lsh_recall can intersect raw
    * candidates with the exact truth set instead of re-verifying them.
    */
  private[graft] def minhashCandPairsOverSets(sh: DataFrame): DataFrame = {
    val mh = minhashSigs(sh)
    // 60-bit band keys — see minhashCoreCtes: the banded join carries
    // 8-byte ints instead of 32-char md5 strings
    val bands = mh.select(col("doc_id"),
      explode(bandKeysCol(col("sig"))).as("band_key")).persist()
    // Candidate dedup via plain distinct(), NOT repartition(doc_a) +
    // dropDuplicates: partitioning on doc_a alone would let the pair
    // set flow into the doc_a verification join with no further
    // exchange, but an explicit repartition suppresses the MAP-SIDE
    // partial dedup, so the exchange would carry every band-duplicated
    // candidate (up to Bands copies of a true near-dup pair) — more
    // shuffled bytes than the exchange it saves, and it forces that
    // exchange even when AQE broadcasts the verification join (A/B
    // measured slower at sf0.1).
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private[graft] def minhashPairsOverSets(sh: DataFrame): DataFrame = {
    val pairs = minhashCandPairsOverSets(sh)
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Exact All-Pairs/PPJoin similarity self-join (Bayardo et al. WWW
    * 2007) at Jaccard >= p/q over any (doc_id, text) corpus SQL —
    * DuckDB side. All threshold math is integer (ceil(p·n/q) =
    * (p·n + q - 1) div q; J >= p/q <=> q·inter >= p·union) so nothing
    * drifts cross-engine. Shared by `dedup_allpairs` (documents, 3/5)
    * and `dedup_lsh_recall` (augmented corpus, 1/2 — the minhash
    * family's threshold).
    */
  private[graft] def allPairsSqlOver(corpusSql: String, p: Int, q: Int): String =
    s"""WITH corpus AS ($corpusSql),
       |t AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM corpus),
       |ss AS (SELECT doc_id, list_distinct(list_transform($shingles3Sql,
       |         s -> ${graft.OracleSql.hex60("s")})) AS st
       |       FROM t WHERE len(tokens) >= 3),
       |sh AS (SELECT doc_id, unnest(st) AS tok FROM ss),
       |df AS (SELECT tok, count(*) AS df FROM sh GROUP BY tok),
       |rk AS (SELECT tok, row_number() OVER (ORDER BY df, tok) AS r FROM df),
       |tr AS (SELECT sh.doc_id, sh.tok, rk.r FROM sh JOIN rk ON rk.tok = sh.tok),
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY doc_id),
       |ord AS (SELECT doc_id, tok, r,
       |          row_number() OVER (PARTITION BY doc_id ORDER BY r) AS pos
       |        FROM tr),
       |pre AS (SELECT o.doc_id, o.tok, o.pos, nn.n
       |        FROM ord o JOIN n nn ON nn.doc_id = o.doc_id
       |        WHERE o.pos <= nn.n - (($p * nn.n + ${q - 1}) // $q) + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.n AS n_a, b.n AS n_b
       |         FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |         WHERE $q * a.n >= $p * b.n AND $q * b.n >= $p * a.n
       |           AND 1 + least(a.n - a.pos, b.n - b.pos) >=
       |               ($p * (a.n + b.n) + ${p + q - 1}) // ${p + q}),
       |iv AS (SELECT c.doc_a, c.doc_b, c.n_a, c.n_b,
       |         CAST(len(list_intersect(x.st, y.st)) AS BIGINT) AS n_inter
       |       FROM cand c
       |       JOIN ss x ON x.doc_id = c.doc_a
       |       JOIN ss y ON y.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, n_a, n_b, n_inter,
       |  CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
       |FROM iv
       |WHERE $q * n_inter >= $p * (n_a + n_b - n_inter)""".stripMargin

  /** Spark twin of [[allPairsSqlOver]]. Scale shape: the global
    * rarest-first order is the (df, tok) pair itself — no global rank
    * materialization, no single-partition window over the vocabulary;
    * the per-doc prefix comes out of ONE doc_id-keyed hash aggregation
    * (collect + sort the bounded per-doc (df, token) array, slice the
    * head); the candidate join keys on the prefix token with the
    * PPJoin length AND positional filters applied pre-distinct;
    * verification is two hash joins against the compact per-doc set
    * arrays and a codegen array_intersect per pair.
    */
  private[graft] def allPairsOver(corpus: DataFrame, p: Int, q: Int,
      pairs: PairJoin = InPlan): DataFrame =
    allPairsOverSets(shingleSets(corpus).persist(), p, q, pairs)

  /** [[allPairsOver]] over a prebuilt (doc_id, shingles) relation
    * (callers persist it — the exploded token side and the two
    * verification joins all read it). `pairs` runs the candidate join;
    * a sliced run's slices key on the prefix token, and a pair that
    * several slices' tokens generate is distinct'd across them before
    * the one verification pass.
    */
  private[graft] def allPairsOverSets(ss: DataFrame, p: Int, q: Int,
      pairs: PairJoin = InPlan): DataFrame = {
    val sh = ss.select(col("doc_id"), explode(col("shingles")).as("tok"))
    // PPJoin consumes only each doc's tokens in the global rarest-first
    // ORDER — never the rank VALUES — and (df, tok) is unique per
    // token, so sorting by the (df, tok) pair IS the rank order. The
    // r7 formulation materialized dense global row numbers first (the
    // two-phase Ranks machinery: an extra vocab-wide range shuffle plus
    // its offsets action) and then sorted by them; sorting by the pair
    // directly removes that whole job at identical output (AllPairsSpec
    // re-proves exactness against brute force at every threshold).
    // df rides the SAME tok-keyed shuffle as the postings (the r7
    // separate df relation joined back onto the exploded token stream
    // shuffled that stream twice — df agg + join — where one pass
    // suffices), but as an unbounded-frame window count rather than a
    // collect_list postings array: a high-df (boilerplate) token's
    // whole group then streams through WindowExec's spillable row
    // buffer instead of concentrating into one in-memory array whose
    // size grows with max df — the skew/OOM hazard an aggregation
    // buffer has and a spill-backed window does not.
    val tr = sh.select(col("tok"), col("doc_id"),
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("tok")).as("df"))
    val ranked = tr.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("rt"))
      .withColumn("n", size(col("rt")).cast(LongType))
    // persist: the candidate join reads `pre` on BOTH sides, and AQE
    // does NOT reuse the exchange across them (verified on the executed
    // sf10 plan: two independent window+agg+explode chains, no
    // ReusedExchange node) — without the cache the whole prefix
    // pipeline, including the 50M-row token window, runs twice
    val pre = ranked
      .select(col("doc_id"), col("n"),
        posexplode(expr(s"slice(rt, 1, cast(n - ($p * n + ${q - 1}) div $q + 1 as int))"))
          .as(Seq("pi", "p")))
      .select(col("doc_id"), col("p.tok").as("tok"),
        (col("pi") + 1).cast(LongType).as("pos"), col("n"))
      .persist()
    val cand = pairs(pre, "tok")(r => r.select(col("doc_id").as("doc_a"), col("tok"),
        col("pos").as("pos_a"), col("n").as("n_a"))
      .join(r.select(col("doc_id").as("doc_b"), col("tok"),
        col("pos").as("pos_b"), col("n").as("n_b")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b") &&
        // PPJoin length filter: J >= p/q forces q*min(n) >= p*max(n)
        lit(q) * col("n_a") >= lit(p) * col("n_b") &&
        lit(q) * col("n_b") >= lit(p) * col("n_a") &&
        // PPJoin positional filter: a qualifying pair needs overlap
        // >= ceil(p*(n_a+n_b)/(p+q)), and its FIRST shared prefix
        // token bounds the remaining overlap by 1 + min(n - pos) —
        // keeping pairs where ANY generating token passes is a safe
        // prune (the first shared token always passes for true pairs)
        lit(1) + least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b")) >=
          expr(s"($p * (n_a + n_b) + ${p + q - 1}) div ${p + q}"))
      .select("doc_a", "doc_b", "n_a", "n_b")
      // plain distinct, for the same map-side-partial-dedup reason as
      // the band join's candidate set
      .distinct(),
      _.distinct())
    // shingle sets sorted in the per-DOC projection under the join
    // (once per document side, not once per candidate pair), so
    // n_inter is the codegen merge scan instead of a per-pair
    // hash-set array_intersect — the verification stage's cost at sf1
    val iv = cand
      .join(ss.select(col("doc_id").as("doc_a"),
        sort_array(col("shingles")).as("st_a")), Seq("doc_a"))
      .join(ss.select(col("doc_id").as("doc_b"),
        sort_array(col("shingles")).as("st_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        sortedIntersectCount(col("st_a"), col("st_b")).as("n_inter"))
    iv.filter(lit(q) * col("n_inter") >= lit(p) *
        (col("n_a") + col("n_b") - col("n_inter")))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_inter"),
        (col("n_inter").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** DuckDB twin of [[lshRecallOver]] over any (doc_id, text) corpus
    * SQL. It computes both sides independently, so a regression in the
    * Spark side's subset argument would hash-mismatch, not silently
    * pass.
    */
  private def lshRecallSqlOver(corpusSql: String): String =
    s"""WITH lsh AS (${minhashPairsSqlOver(corpusSql)}),
       |truth AS (${allPairsSqlOver(corpusSql, 1, 2)}),
       |m AS (
       |  SELECT CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_t,
       |         CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_l
       |  FROM truth t FULL OUTER JOIN lsh l
       |    ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b)
       |SELECT CAST(sum(in_t) AS BIGINT) AS n_truth,
       |  CAST(sum(in_l) AS BIGINT) AS n_lsh,
       |  CAST(sum(in_t * in_l) AS BIGINT) AS n_hit,
       |  CAST(sum(in_t * in_l) AS DOUBLE) / sum(in_t) AS recall
       |FROM m""".stripMargin

  /** [[Q dedup_lsh_recall]]'s body over any (doc_id, text) corpus
    * (`dedup_lsh_recall_sampled` runs it over a 1/8 doc sample): the
    * MinHash-band candidate generator's recall against the exact
    * All-Pairs truth at J >= 1/2. `pairs` runs the truth side's
    * candidate join; the band generator's shuffles are linear in docs +
    * candidates and never need the scratch bound.
    */
  private[graft] def lshRecallOver(corpus: DataFrame, pairs: PairJoin = InPlan): DataFrame = {
    // ONE persisted shingle-set scan feeds both sides: the banded
    // generator under test and the exact ground truth read the same
    // sets, so the corpus is tokenized/shingled once, not twice.
    val sets = shingleSets(corpus).persist()
    // A VERIFIED lsh pair (candidate with exact J >= 1/2) is BY
    // DEFINITION a member of the exact truth set (all pairs with
    // J >= 1/2 over the same shingle sets; the double >= 0.5 compare
    // and the integer 2*inter >= union cross-multiply agree exactly
    // for int operands < 2^53). So instead of re-running the exact
    // Jaccard verification joins on the lsh side, intersect the RAW
    // band candidates with the truth set: n_lsh = n_hit =
    // |candidates ∩ truth| — identical numbers, one full verification
    // pass instead of two (the lsh verification was ~40% of this
    // query's sf10 cost).
    val truth = allPairsOverSets(sets, 1, 2, pairs)
      .select(col("doc_a"), col("doc_b")).persist()
    val hits = minhashCandPairsOverSets(sets)
      .join(truth, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).cast(LongType).as("n_truth"))
      .crossJoin(hits.agg(count(lit(1)).cast(LongType).as("hit")))
      .select(col("n_truth"), col("hit").as("n_lsh"), col("hit").as("n_hit"),
        (col("hit").cast(DoubleType) / col("n_truth")).as("recall"))
  }

  // ── one pair-row body, two ways to run its self-join ──────────────
  //
  // dedup_shingle_cosine, dedup_allpairs and dedup_lsh_recall are the
  // registry's only rows whose ONE-SHOT shuffle scratch outgrows a
  // single host's free disk at sf100 (~45+ GB for the postings
  // self-join alone). Each has one body, which hands that self-join to
  // a [[PairJoin]]. The registry runs it [[InPlan]], the right shape on
  // a cluster, whose executors' disks share the shuffle.
  // graft.VerifySliced runs it [[Sliced]] to CERTIFY the same rows on a
  // one-disk host: the join keys on the shingle/prefix token, so
  // restricting both sides to one hash-slice of the key space
  // partitions the candidate work disjointly, and the row's merge
  // reduces the slices' union to the identical relation
  // (co-occurrence counts sum; candidate sets union-distinct).

  /** How a row runs its pair-generating self-join: `join` over `rel`,
    * whose pairs share a `key` value. `merge` reduces the union of
    * per-slice outputs to the one-shot relation; `keep` and `drop` are
    * the body's other cached relations (see [[sliced]]).
    */
  private[graft] sealed trait PairJoin {
    def apply(rel: DataFrame, key: String,
        keep: Seq[DataFrame] = Nil, drop: Seq[DataFrame] = Nil)(
        join: DataFrame => DataFrame, merge: DataFrame => DataFrame): DataFrame = this match {
      case InPlan => join(rel)
      case Sliced(slices, scratch) => merge(sliced(rel, key, slices, scratch, keep, drop)(join))
    }
  }

  /** The registry's shape: the join is part of the row's one plan. */
  private[graft] case object InPlan extends PairJoin

  /** The join runs once per slice, landing under `scratch`. */
  private[graft] final case class Sliced(slices: Int, scratch: String) extends PairJoin

  /** The sliced-execution loop: runs `perSlice` over each of `slices`
    * disjoint hash slices of `rel` (every `keyCol` value lands in
    * exactly one), lands each slice's output in the `scratch` parquet,
    * and reads the union back. Memory, not disk, backs the reuse:
    * before the first slice `rel` and `keep` (what the caller reads
    * after the loop) are cached and materialized, then `drop` (what
    * they were built from) is released, so every slice filters the
    * cache; `rel` is released after the last slice. The GC nudge after
    * each slice lets ContextCleaner drop the finished slice's shuffle
    * files — without it the slices' files accumulate and re-create the
    * very peak this loop exists to avoid.
    */
  private[graft] def sliced(rel: DataFrame, keyCol: String, slices: Int, scratch: String,
      keep: Seq[DataFrame] = Nil, drop: Seq[DataFrame] = Nil)(
      perSlice: DataFrame => DataFrame): DataFrame = {
    (rel +: keep).foreach { d =>
      if (d.storageLevel == StorageLevel.NONE) d.persist()
      d.count()
    }
    drop.foreach(_.unpersist())
    (0 until slices).foreach { i =>
      perSlice(rel.filter(pmod(xxhash64(col(keyCol)), lit(slices)) === lit(i)))
        .write.mode(if (i == 0) "overwrite" else "append").parquet(scratch)
      System.gc()
    }
    rel.unpersist()
    rel.sparkSession.read.parquet(scratch)
  }

  /** Per-document cross-corpus duplicated-span fraction over any
    * (doc_id, text) corpus — the Spark body of `dedup_span_frac`,
    * factored out so SpanHardNegSpec can property-test it against a
    * brute-force oracle on arbitrary synthetic corpora. Tokens are
    * materialized in their own projection (the 5-gram lambda
    * references the array five times per position — same discipline
    * as text_gopher_quality / shingleSets); grams are md5-hashed to
    * 60-bit ints at the scan so shuffles carry fixed-width keys.
    */
  private[graft] def spanFracOver(corpus: DataFrame): DataFrame = {
    // hashedShingles(n=5) fuses the distinct/5-gram-concat/hex60
    // lambda chain and returns the empty array below 5 tokens —
    // exactly the previous when(size >= 5, ...).otherwise(array())
    val spans = corpus
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .select(col("doc_id"), hashedShingles(col("tokens"), 5).as("grams"))
      .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
      .persist()
    val df = spans.filter(col("gram").isNotNull)
      .groupBy("gram").agg(count(lit(1)).as("df"))
    // spans stays cached while the result is consumed (it feeds both
    // the df agg and the rejoin) — released by the caller's
    // clearCache per the SparkEntry caching contract.
    spans.join(df, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(col("gram")).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast(LongType).as("n_dup"))
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          col("n_dup").cast(DoubleType) / col("n_grams"))
          .otherwise(lit(0.0)))
      .withColumn("verdict",
        when(col("n_grams") > 0 && col("dup_frac") >= 0.5, "flag")
          .otherwise("keep"))
  }

  /** [[Q dedup_shingle_cosine]]'s relation over any (doc_id, text)
    * corpus — factored out so ShingleCosinePrefixSpec can pin it
    * against an independently written reference formulation on
    * synthetic corpora (df cap binding, sub-3-token docs, duplicate
    * cliques, seeded random overlap).
    *
    * Round-16 negative result, kept as the count-aggregation shape ON
    * MEASUREMENT: a Bayardo prefix-filtered rewrite (rarity-ordered
    * per-doc prefixes + lossless length/positional bounds + merge-scan
    * verification, the allPairsOverSets shape) cuts the candidate
    * join's output 4.05x at sf1 (14.93M -> 3.69M rows, DuckDB-counted)
    * — but exact c = |capped(a) ∩ capped(b)| then needs BOTH value-
    * sorted capped arrays per surviving pair, and the second
    * verification join ships st_a (~400 B/doc) keyed by doc_b: ~14 GB
    * of array bytes through one exchange at sf10 where this count
    * formulation ships ~2.4 GB of narrow partial-agg rows. Measured:
    * 47.4 s (this shape, r15 sf10 stamp at calib 0.425) vs 148.9 s
    * (prefix rewrite, calib 0.585) — a ~2x calib-normalized REGRESSION;
    * the cosine-0.5 threshold is too low for prefix filtering to cut
    * candidates enough to pay for moving payloads per pair (guide §8:
    * every shuffle but the last should carry a lightweight proxy). A
    * pair-level length filter INSIDE this count join (4·min(nc)² >=
    * na·nb, the only bound that keeps c a join-match count) prunes 5.0%
    * of join output at sf1 — under the noise floor, not taken.
    */
  private[graft] def shingleCosineOver(corpus: DataFrame,
      pairs: PairJoin = InPlan): DataFrame = {
    val tok = corpus.select(col("doc_id"), split(col("text"), " ").as("tokens"))
    // persist: the exploded postings list feeds three consumers
    // (norms, df, the pair join)
    val sh = tok.filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), explode(shingles3(col("tokens"))).as("ss"))
      .select(col("doc_id"), Cols.hex60(col("ss")).as("s"))
      .persist()
    val nsq = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val shc = sh.join(dfq.filter(col("df") <= CosineDfCap).select("s"), "s")
    // a sliced run sums the per-slice counts (each shared shingle lives
    // in exactly one slice) and holds only shc and the norms across its
    // slices, releasing the postings both were built from
    val common = pairs(shc, "s", keep = Seq(nsq), drop = Seq(sh))(r => r.as("a")
      .join(r.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c")),
      _.groupBy("doc_a", "doc_b").agg(sum(col("c")).as("c")))
    common
      .join(nsq.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(nsq.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast(DoubleType) /
          sqrt((col("na") * col("nb")).cast(DoubleType))).as("cosine"))
      .filter(col("cosine") >= 0.5)
  }

  /** DuckDB twin of [[simhashPairs]] at the fixed 15-bit band maximum
    * (band width is output-invariant — SimBandSpec). Shared by
    * `dedup_simhash` and `dedup_triangles` (which analyzes this pair
    * graph).
    */
  private[graft] lazy val simhashPairsOracleSql: String =
    s"""WITH docs_aug AS ($docsAugSql),
       |hs AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(string_split(text, ' ')),
       |      t -> ${graft.OracleSql.hex60("t")}) AS hh
       |  FROM docs_aug),
       |sim AS (SELECT doc_id, ${simhashSqlExpr("hh")} AS simhash FROM hs),
       |bands AS (
       |  SELECT doc_id, simhash, band_i,
       |         (simhash >> (band_i * $SimBandBitsMax)) & ${(1 << SimBandBitsMax) - 1} AS band_v
       |  FROM sim CROSS JOIN (VALUES (0),(1),(2),(3)) t(band_i)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS sim_a, b.simhash AS sim_b
       |  FROM bands a JOIN bands b
       |    ON a.band_i = b.band_i AND a.band_v = b.band_v AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
       |  FROM pairs) t
       |WHERE hamming <= 3""".stripMargin

  /** DuckDB twin of [[simhashPairsWide]] at the fixed 15-bit band
    * maximum (band width is output-invariant — SimBandSpec). Shared by
    * `dedup_simhash_wide` and the wide branch of `dedup_simhash_auto`.
    */
  private[graft] lazy val simhashPairsWideOracleSql: String = {
    val bandVals = (0 until SimBands).map(i => s"($i)").mkString(",")
    val mask = (1 << SimBandBitsMax) - 1
    s"""WITH docs_aug AS ($docsAugSql),
       |hs AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(string_split(text, ' ')),
       |      t -> ${graft.OracleSql.hex60("t")}) AS hh1,
       |    list_transform(list_distinct(string_split(text, ' ')),
       |      t -> ${graft.OracleSql.hex60("'w2|' || t")}) AS hh2
       |  FROM docs_aug),
       |sim AS (SELECT doc_id, ${simhashSqlExpr("hh1")} AS s1, ${simhashSqlExpr("hh2")} AS s2 FROM hs),
       |bands AS (
       |  SELECT doc_id, s1, s2, band_i,
       |    ((s1 >> (band_i * $SimBandBitsMax)) & $mask) * ${mask + 1}
       |      + ((s2 >> (band_i * $SimBandBitsMax)) & $mask) AS band_v
       |  FROM sim CROSS JOIN (VALUES $bandVals) t(band_i)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.s1 AS s1a, a.s2 AS s2a, b.s1 AS s1b, b.s2 AS s2b
       |  FROM bands a JOIN bands b
       |    ON a.band_i = b.band_i AND a.band_v = b.band_v AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(bit_count(xor(s1a, s1b)) + bit_count(xor(s2a, s2b)) AS BIGINT) AS hamming
       |  FROM pairs) t
       |WHERE hamming <= 3""".stripMargin
  }

  /** DuckDB twin of [[simhashPairsAuto]] — the corpus-adaptive family
    * selection. Both family twins guarded by the SAME count arithmetic
    * the Spark side uses (count(documents) + count//10 + 1, the
    * docsAug upper bound), so the gate certifies the crossing rule at
    * whatever scale it runs: narrow at the fixture scales, wide past
    * the [[SimWideKnee]]. Shared by `dedup_simhash_auto` and every row
    * that analyzes the deployment pair graph (`dedup_triangles`).
    */
  private[graft] lazy val simhashPairsAutoOracleSql: String = {
    val est = "(SELECT count(*) + count(*) // 10 + 1 FROM documents)"
    s"""SELECT * FROM ($simhashPairsOracleSql) narrow
       |WHERE $est <= $SimWideKnee
       |UNION ALL
       |SELECT * FROM ($simhashPairsWideOracleSql) wide
       |WHERE $est > $SimWideKnee""".stripMargin
  }

  // ── queries ───────────────────────────────────────────────────────

  val queries: Seq[Q] = Seq(

    // Exact dedup: hash-groupBy on content digest; one shuffle on the
    // digest, representative = min id. Corpus: documents + exact copies
    // of every 7th doc.
    Q("dedup_exact",
      s"""WITH dup_aug AS (
         |  ${dupAugSql()}
         |)
         |SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM dup_aug GROUP BY md5(text)""".stripMargin) { (s, dir) =>
      dupAug(s, dir).groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // MinHash + banded LSH: each shingle is md5-hashed ONCE to a 60-bit
    // int, and the K permutations are universal linear hashes
    // (a_j*h + b_j) mod p over that int — 1 digest + K multiply-adds
    // per shingle instead of K digests (the r1 scheme cost 12 md5 evals
    // per shingle and dominated the query at 13.5s/sf0.1). h is reduced
    // mod p first so a_j*h stays well inside int64 in both engines.
    // Candidates share a band key over signature pairs; verified with
    // exact Jaccard.
    Q("dedup_minhash_lsh", minhashPairsSql)(minhashPairsDf),

    // MinHash ACCURACY evidence: for every verified near-dup pair, the
    // signature-agreement estimate of Jaccard (matching permutations
    // / K — the estimator banding theory is built on, E[est] = J) next
    // to the exact shingle-set Jaccard, plus the absolute error. The
    // vector indexes have their recall matrix (sim_ann_recall*) and
    // the band generator has dedup_lsh_recall; this measures the
    // remaining approximation in the family — how good the SIGNATURES
    // themselves are. Scale shape: the verified pair list is the
    // already-bucketed pipeline; signatures attach by two doc_id hash
    // joins; est is a K-length array comparison per pair. est and
    // abs_err are single IEEE divides/subtractions on integer-exact
    // operands — bit-identical cross-engine.
    Q("dedup_minhash_est",
      s"""WITH ${minhashCoreCtes(docsAugSql)},
         |verified AS (
         |  SELECT doc_a, doc_b, jaccard FROM (
         |    SELECT p.doc_a, p.doc_b,
         |      ${jaccardSql("x.shingles", "y.shingles")} AS jaccard
         |    FROM pairs p JOIN sh x ON p.doc_a = x.doc_id
         |                 JOIN sh y ON p.doc_b = y.doc_id) t
         |  WHERE jaccard >= 0.5)
         |SELECT doc_a, doc_b, jaccard, est, abs(est - jaccard) AS abs_err
         |FROM (
         |  SELECT v.doc_a, v.doc_b, v.jaccard,
         |    CAST(len(list_filter(range(1, ${MinhashK + 1}),
         |      i -> a.sig[i] = b.sig[i])) AS DOUBLE) / $MinhashK AS est
         |  FROM verified v JOIN mh a ON v.doc_a = a.doc_id
         |                  JOIN mh b ON v.doc_b = b.doc_id) z""".stripMargin) {
      (s, dir) =>
      val sets = shingleSets(docsAug(s, dir)).persist()
      val mh = minhashSigs(sets)
      val est = (size(filter(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => x === y), b => b)).cast(DoubleType) / MinhashK).as("est")
      minhashPairsOverSets(sets)
        .join(mh.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(mh.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("jaccard"), est)
        .withColumn("abs_err", abs(col("est") - col("jaccard")))
    },

    // Near-dup CLUSTERING: the MinHash pair list reduced to what
    // production dedup actually consumes — one canonical doc per group
    // of transitively-linked near-duplicates (a truncation chain links
    // A~B and B~C even when A!~C). Same component machinery as
    // dedup_components, fed by LSH edges instead of exact-digest edges.
    Q("dedup_near_components",
      s"""WITH pairs AS ($minhashPairsSql),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         |${componentsSql("edges")}""".stripMargin) { (s, dir) =>
      connectedComponents(minhashPairsDf(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    },

    // Same components, computed by the alternating large-star /
    // small-star contraction instead of min-label propagation — the
    // O(log n)-round algorithm for graphs whose diameter ISN'T tiny.
    // Shares dedup_near_components' edge list and oracle verbatim, so
    // the gate proves both implementations agree with the recursive-CTE
    // closure AND (transitively) with each other on a real LSH graph.
    Q("dedup_components_star",
      s"""WITH pairs AS ($minhashPairsSql),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         |${componentsSql("edges")}""".stripMargin) { (s, dir) =>
      // fixpoint-derived labeling (LSH edges are self-loop-free): the
      // result plan reads only the checkpointed star edges instead of
      // re-executing the band join for the node universe
      starLabels(minhashPairsDf(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b")),
        edgesDistinctCanonical = true)
    },

    // Near-dup graph diagnostics: the degree distribution of the
    // MinHash pair graph — the health check run before trusting any
    // LSH blocking config (a heavy-tailed distribution means a hot
    // shingle pattern is flooding one block). Two hash aggregations
    // over the pair list; pairs are distinct with doc_a < doc_b, so
    // the bag-union of both endpoints counts each neighbor once.
    Q("dedup_degree_dist",
      s"""WITH pairs AS ($minhashPairsSql),
         |und AS (SELECT doc_a AS node FROM pairs
         |        UNION ALL SELECT doc_b FROM pairs),
         |deg AS (SELECT node, count(*) AS degree FROM und GROUP BY node)
         |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree""".stripMargin) { (s, dir) =>
      val pairs = minhashPairsDf(s, dir)
      val und = pairs.select(col("doc_a").as("node"))
        .union(pairs.select(col("doc_b").as("node")))
      und.groupBy("node").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    },

    // The native table-generating function (ShingleGenerator, the UDTF
    // tier of the custom-extension ladder) driven END-TO-END through
    // the SQL surface: the session registers graft_shingles the way
    // GraftExtensions does and runs the LATERAL VIEW form; the oracle
    // replays the n-gram semantics in DuckDB, so the generator's
    // streamed rows — positions, joins, short-doc cutoff — are
    // hash-verified, not just spec-asserted.
    Q("dedup_shingle_udtf",
      """SELECT doc_id, i - 1 AS pos,
        |  tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS shingle
        |FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents) t,
        |     unnest(range(1, len(tokens) - 1)) u(i)
        |WHERE len(tokens) >= 3""".stripMargin) { (s, dir) =>
      ensureShingleUdtf(s)
      Tables.load(s, dir, "documents").createOrReplaceTempView("udtf_docs")
      s.sql(
        """SELECT doc_id, s.pos, s.shingle
          |FROM udtf_docs
          |LATERAL VIEW graft_shingles(split(text, ' '), 3) s AS pos, shingle""".stripMargin)
    },

    // ── All-Pairs / PPJoin prefix-filtered similarity join ──────────
    // The exact set-similarity join (Bayardo et al. WWW 2007) over
    // distinct shingle sets: order the universe by ascending document
    // frequency (rare first), and two sets can reach Jaccard >= 3/5
    // only if they share a token among their first n - ceil(3n/5) + 1
    // rarest — so only PREFIX tokens generate candidates, and prefixes
    // are built from the rarest tokens, exactly the ones with short
    // posting lists (here: 165 candidates from 124k possible pairs).
    // Complements the registered approximate pruners (MinHash bands,
    // SimHash, sorted neighborhood) with the exact-recall variant.
    // All threshold math is integer (ceil(3n/5) = (3n+4) div 5;
    // jaccard >= 3/5 <=> 5·inter >= 3·union) — nothing to drift
    // cross-engine. Scale shape: the rarest-first order is the
    // (df, tok) pair directly (no global rank materialization, no
    // single-partition window over the vocabulary), prefixes explode
    // from a bounded head of each set, the candidate join keys on the
    // prefix token, and verification is one hash agg over the
    // candidates' token intersections.
    Q("dedup_allpairs",
      allPairsSqlOver("SELECT doc_id, text FROM documents", 3, 5)) { (s, dir) =>
      allPairsOver(Tables.load(s, dir, "documents"), 3, 5)
    },

    // ── measured recall of the approximate dedup pipeline ───────────
    // The evidence query the recall matrix was missing on the TEXT
    // side: sim_ann_recall* measures the vector indexes against brute
    // force; this measures the production MinHash-band candidate
    // generator against the exact All-Pairs/PPJoin join at the SAME
    // threshold (J >= 1/2, the minhash family's verify cut) over the
    // SAME augmented corpus. Both relations exist in the registry —
    // here they meet in one full-outer join on the pair key and a
    // single-row summary aggregate: truth size, verified-LSH size, hit
    // count, recall. Banding theory promises high recall at J >= 0.5
    // for 6 bands x 2 rows (P[miss] = (1 - J^2)^6 <= 0.18% at J = 0.5
    // exactly); this query turns that promise into a measured number.
    // Scale shape: both sides are the already-bucketed pipelines; the
    // meet join keys on (doc_a, doc_b) and the summary is one hash agg
    // — no new all-pairs surface anywhere.
    Q("dedup_lsh_recall", lshRecallSqlOver(docsAugSql)) { (s, dir) =>
      lshRecallOver(docsAug(s, dir))
    },

    // ── sampled-truth recall: the AT-SCALE variant of dedup_lsh_recall
    // The full exact All-Pairs truth set is the one relation in the
    // registry whose cost is inherently super-linear in corpus size
    // (it IS the ground truth, not the scale path) — at sf100 its
    // shuffle scratch exceeds any single box. The standard at-scale
    // recall protocol instead measures the generator against the
    // exact truth of a deterministic corpus SAMPLE: band candidacy is
    // PAIR-LOCAL (two docs collide iff their own signatures share a
    // band — no other doc participates), so the generator's recall
    // restricted to sample pairs IS its recall on those pairs in the
    // full run, and the 1/8 sample (doc_id % 8 = 0, ~1/64 of the pair
    // volume) estimates full recall without the quadratic truth bill.
    // Both sides here run over the sampled corpus: the sampled band
    // generator produces EXACTLY the full generator's candidates
    // restricted to sampled pairs (pair-locality again), which is
    // what AllPairsSpec-style exactness plus this row's oracle pin.
    Q("dedup_lsh_recall_sampled", lshRecallSqlOver(
        s"SELECT doc_id, text FROM ($docsAugSql) da WHERE doc_id % 8 = 0")) { (s, dir) =>
      // the dedup_lsh_recall body over the sample; its subset argument
      // is unchanged by sampling
      lshRecallOver(docsAug(s, dir).filter(col("doc_id") % 8 === 0))
    },

    // ── cross-document boilerplate detection ────────────────────────
    // The repeated-n-gram sweep an LLM-data pipeline runs before
    // training: word-5-grams appearing in >= 3 DISTINCT documents are
    // boilerplate candidates (headers, disclaimers, templates), and
    // the top-20 by document reach is the removal worklist. Scale
    // shape: per-document DISTINCT shingles emit from the scan stage
    // (DistinctShinglesExpr — uniqueness guaranteed by a per-row
    // hash-set probe), so the document-reach count is a plain
    // map-side-combinable count(*) with ONE exchange of partial
    // counts — the count(DISTINCT doc_id) formulation expanded and
    // shuffled the full (shingle, doc) stream twice; the top-20 is a
    // distributed orderBy+limit (per-partition heads, 20-row driver
    // merge) and only the 20-row head is re-ranked — no global sort,
    // no unpartitioned window over the aggregate. (The UDTF streaming
    // surface this row previously exercised keeps its own oracle row,
    // dedup_shingle_udtf.)
    Q("text_boilerplate", {
      val cat = (0 until 5).map(j => s"tokens[i+$j]").mkString(" || ' ' || ")
      s"""WITH sh AS (
         |  SELECT doc_id, $cat AS shingle
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents) t,
         |       unnest(range(1, len(tokens) - 3)) u(i)
         |  WHERE len(tokens) >= 5),
         |agg AS (
         |  SELECT shingle, count(DISTINCT doc_id) AS n_docs
         |  FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 3)
         |SELECT shingle, n_docs, rk FROM (
         |  SELECT shingle, n_docs,
         |    row_number() OVER (ORDER BY n_docs DESC, shingle) AS rk
         |  FROM agg) r
         |WHERE rk <= 20""".stripMargin
    }) { (s, dir) =>
      val sh5 = org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.DistinctShinglesExpr(
          org.apache.spark.sql.GraftColumnShim.expression(
            split(col("text"), " ")), 5))
      val agg = Tables.load(s, dir, "documents")
        .select(explode(sh5).as("shingle"))
        .groupBy("shingle").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 3)
      val top = agg.orderBy(col("n_docs").desc, col("shingle")).limit(20)
      val wr = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_docs").desc, col("shingle"))
      top.withColumn("rk", row_number().over(wr).cast(LongType))
    },

    // Component SIZE distribution over the near-dup graph — the dedup
    // report's headline table ("how big are the duplicate families"),
    // and the sanity check before choosing a canonical-keeper policy
    // (one giant component means the LSH threshold, not the corpus, is
    // the story). Reuses the exact components machinery; two hash aggs
    // reduce it to a histogram whose width is bounded by the largest
    // family. Singleton documents (no near-dup edge) are by definition
    // absent — this is the distribution over FAMILIES.
    Q("dedup_component_sizes",
      s"""WITH pairs AS ($minhashPairsSql),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         |comp AS (WITH ${componentsSql("edges")}),
         |sz AS (SELECT component, count(*) AS comp_size FROM comp GROUP BY component)
         |SELECT comp_size, count(*) AS n_components
         |FROM sz GROUP BY comp_size""".stripMargin) { (s, dir) =>
      // star contraction (O(log n) rounds), same contract/oracle as the
      // propagation variant — the faster formulation, as in curate_neardup.
      // Sized from the member map alone: every family contributes its
      // root exactly once, so comp_size = member count + 1, and the
      // histogram plan reads only the checkpointed fixpoint edges.
      starMemberMap(minhashPairsDf(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b")),
        edgesDistinctCanonical = true)
        .groupBy("component").agg((count(lit(1)) + 1).as("comp_size"))
        .groupBy("comp_size").agg(count(lit(1)).as("n_components"))
    },

    // One PageRank iteration over the (undirected) near-dup graph from
    // uniform pr0 = 1: pr1(v) = 0.15 + 0.85 * sum_{u~v} 1/deg(u) —
    // the centrality signal that ranks which document sits at the hub
    // of a duplication cluster. Iterating = repeating this exact plan
    // (edge join + per-node hash agg) with pr fed back, the scalable
    // PageRank formulation. Cross-engine determinism: each neighbor
    // contribution is floor-quantized to 1e-12 units (one exact
    // integer division per edge), so the per-node sum is
    // order-independent BIGINT arithmetic and the final damping is two
    // IEEE ops — bit-identical (same policy as q_kmeans_step).
    Q("dedup_pagerank_step",
      s"""WITH pairs AS ($minhashPairsSql),
         |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT a, count(*) AS degree FROM und GROUP BY a),
         |contrib AS (
         |  SELECT u.b AS node, 1000000000000 // d.degree AS c
         |  FROM und u JOIN deg d ON u.a = d.a)
         |SELECT c.node, d.degree,
         |  0.15 + 0.85 * (CAST(sum(c.c) AS DOUBLE) / 1000000000000.0) AS pr1
         |FROM contrib c JOIN deg d ON c.node = d.a
         |GROUP BY c.node, d.degree""".stripMargin) { (s, dir) =>
      val pairs = minhashPairsDf(s, dir)
      val und = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .persist()
      val deg = und.groupBy("a").agg(count(lit(1)).as("degree"))
      val contrib = und.join(deg, "a")
        // SQL DIV: exact int64 division (Column./ would detour through
        // double), mirroring DuckDB's `//`
        .select(col("b").as("node"),
          expr("1000000000000 div degree").cast(LongType).as("c"))
      contrib.join(deg.select(col("a").as("node"), col("degree")), "node")
        .groupBy("node", "degree")
        // sum in DECIMAL(38,0): a hub of degree d accumulates up to
        // d*1e12, which wraps int64 past d ~ 9.2M — exactly the
        // boilerplate-duplication hubs this op targets. DuckDB's sum
        // promotes to HUGEINT; decimal(38,0) is the Spark twin, both
        // exact, so the final double conversion still agrees
        .agg((lit(0.15) + lit(0.85) *
          (sum(col("c").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast(DoubleType) / lit(1000000000000.0))).as("pr1"))
    },

    // PageRank run to THREE full power iterations — the iterative loop
    // the single step above feeds. Ranks stay quantized int64 (units of
    // 1e-12) across iterations: contribution = rank DIV degree, next
    // rank = 0.15e12 + (85 * Σ contrib) DIV 100 — floor division at
    // every step, so Spark and DuckDB agree bit-for-bit with no
    // accumulated float drift. Scale shape per iteration: one hash join
    // (edges × ranks, both partitioned by node) + one map-side-combined
    // sum — the classic distributed PageRank round; degree relation and
    // edge list are computed once and reused. Int64 headroom: total
    // mass ≈ N·1e12, so the 85× product stays in-range through
    // N ~ 10^5; past that, widen the quantum (the same dial as
    // SimHash's band bits — documented, not silent).
    Q("dedup_pagerank3", {
      def layer(k: Int): String =
        s"""c$k AS (
           |  SELECT u.b AS node, r.r // d.degree AS c
           |  FROM und u JOIN deg d ON u.a = d.a JOIN r${k - 1} r ON u.a = r.node),
           |r$k AS (
           |  SELECT node, 150000000000 + (85 * CAST(sum(c) AS BIGINT)) // 100 AS r
           |  FROM c$k GROUP BY node)""".stripMargin
      s"""WITH pairs AS ($minhashPairsSql),
         |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT a, count(*) AS degree FROM und GROUP BY a),
         |r0 AS (SELECT a AS node, CAST(1000000000000 AS BIGINT) AS r FROM deg),
         |${layer(1)},
         |${layer(2)},
         |${layer(3)}
         |SELECT r3.node, d.degree, r3.r AS rank_q,
         |  CAST(r3.r AS DOUBLE) / 1000000000000.0 AS pr3
         |FROM r3 JOIN deg d ON r3.node = d.a""".stripMargin
    }) { (s, dir) =>
      val pairs = minhashPairsDf(s, dir)
      val und = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .persist()
      val deg = und.groupBy("a").agg(count(lit(1)).as("degree")).persist()
      var ranks = deg.select(col("a").as("node"),
        lit(1000000000000L).as("r"))
      for (_ <- 1 to 3) {
        ranks = und.join(deg, "a")
          .join(ranks.withColumnRenamed("node", "a"), "a")
          .select(col("b").as("node"), expr("r div degree").as("c"))
          .groupBy("node")
          .agg((lit(150000000000L) +
            expr("(85 * CAST(sum(c) AS BIGINT)) div 100")).as("r"))
      }
      ranks.join(deg.select(col("a").as("node"), col("degree")), "node")
        .select(col("node"), col("degree"), col("r").as("rank_q"),
          (col("r").cast(DoubleType) / lit(1000000000000.0)).as("pr3"))
    },

    // SimHash near-dup: 60-bit signature from md5-derived token hashes;
    // candidates match on any of the 4 disjoint bands; pairs kept at
    // Hamming distance <= 3 — with 4 bands the pigeonhole principle
    // makes banded recall EXACT at that threshold (3 differing bits
    // cannot touch all 4 bands, so one band always matches verbatim).
    // Band width is therefore output-invariant: the Spark side sizes it
    // from the corpus count ([[simBandBits]]) while the oracle bands at
    // the fixed 15-bit maximum — same pairs either way (SimBandSpec).
    // The banded relation is persisted so the signature computation
    // runs once, not once per self-join side.
    Q("dedup_simhash", simhashPairsOracleSql) { (s, dir) =>
      // corpus size from parquet metadata (cheap count) + the 1-in-10
      // augmentation; an upper-bound estimate is fine — band width only
      // tunes candidate volume, never the result set
      val nDocs = Tables.load(s, dir, "documents").count()
      simhashPairs(s, dir, simBandBits(nDocs + nDocs / 10 + 1))
    },

    // WIDE SimHash (120-bit signature, 4 PAIRED 30-bit band keys) —
    // the deployment path past the 60-bit family's N ~ 2^16
    // band-capacity ceiling (capacity math at the constants above).
    // Distance is Hamming over both words; threshold 3 keeps
    // pigeonhole-exact recall (a bit corrupts exactly one paired key,
    // so 3 bits leave one of the 4 matching). The oracle bands at the
    // fixed 15-bit max while the Spark side sizes bands from the
    // corpus — same output either way (SimBandSpec).
    Q("dedup_simhash_wide", simhashPairsWideOracleSql) { (s, dir) =>
      val nDocs = Tables.load(s, dir, "documents").count()
      simhashPairsWide(s, dir, simBandBits(nDocs + nDocs / 10 + 1))
    },

    // Corpus-adaptive family selection ([[simhashPairsAuto]]): the
    // deployment path picks 60-bit vs 120-bit-wide from the corpus
    // count at the documented 2^16 capacity knee. The oracle encodes
    // the SAME selection rule — both family twins guarded by the same
    // count arithmetic the Spark side uses (count(documents) +
    // count//10 + 1, the docsAug upper bound) — so the gate certifies
    // the crossing behavior itself at whatever scale it runs, narrow
    // at the fixture scales, wide past the knee.
    Q("dedup_simhash_auto", simhashPairsAutoOracleSql) { (s, dir) =>
      val nDocs = Tables.load(s, dir, "documents").count()
      simhashPairsAuto(s, dir, nDocs + nDocs / 10 + 1)
    },

    // n-gram (word bigram) Jaccard with token-prefix blocking PLUS
    // sorted-neighborhood capping: within a first-3-token block, docs
    // are ranked by (text, doc_id) and only pairs within rank-window W
    // are compared. A hot block ("the ..." prefixes) therefore costs
    // O(n log n) for its in-block sort plus O(n*W) comparisons — never
    // the O(n^2) a raw block join degenerates to at scale. Near-dup
    // texts sort adjacently (a truncation is a prefix of its original),
    // so the planted duplicates stay within the window.
    Q("dedup_ngram_jaccard", {
      val bigrams =
        "list_distinct(list_transform(range(1, len(tokens)), i -> tokens[i] || ' ' || tokens[i+1]))"
      s"""WITH docs_aug AS ($docsAugSql),
         |tok AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS tokens FROM docs_aug
         |  WHERE len(string_split(text, ' ')) >= 3),
         |bi AS (
         |  SELECT doc_id, array_to_string(list_slice(tokens, 1, 3), ' ') AS blk,
         |         $bigrams AS bigrams,
         |         row_number() OVER (PARTITION BY array_to_string(list_slice(tokens, 1, 3), ' ')
         |                            ORDER BY text, doc_id) AS rn
         |  FROM tok),
         |pairs AS (
         |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         |         greatest(a.doc_id, b.doc_id) AS doc_b,
         |         ${jaccardSql("a.bigrams", "b.bigrams")} AS jaccard
         |  FROM bi a JOIN bi b
         |    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + $NgramWindow)
         |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.6""".stripMargin
    }) { (s, dir) =>
      val tok = docsAug(s, dir)
        .select(col("doc_id"), col("text"), split(col("text"), " ").as("tokens"))
        .filter(size(col("tokens")) >= 3)
      val bigrams = array_distinct(transform(sequence(lit(1), size(col("tokens")) - 1), i =>
        concat(element_at(col("tokens"), i), lit(" "), element_at(col("tokens"), i + 1))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("blk")).orderBy(col("text"), col("doc_id"))
      val bi = tok.select(col("doc_id"), col("text"),
        array_join(slice(col("tokens"), 1, 3), " ").as("blk"),
        bigrams.as("bigrams"))
        .withColumn("rn", row_number().over(w))
        .drop("text")
        .persist()
      bi.as("a")
        .join(bi.as("b"),
          col("a.blk") === col("b.blk") && col("b.rn") > col("a.rn") &&
            col("b.rn") <= col("a.rn") + NgramWindow)
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
          jaccard(col("a.bigrams"), col("b.bigrams")).as("jaccard"))
        .filter(col("jaccard") >= 0.6)
    },

    // Cross-document duplicated-SPAN fraction — the per-document signal
    // behind exact-substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better", restated set-wise
    // over word 5-grams instead of a suffix array): for each doc, the
    // fraction of its distinct 5-gram spans that also occur in at
    // least one OTHER document. A doc whose spans are mostly shared is
    // boilerplate/copy even when no single whole-doc pair crosses a
    // Jaccard threshold — this catches N-way partial overlap that
    // pairwise dedup misses. Scale shape: grams are md5-hashed to
    // 60-bit ints AT THE SCAN (same discipline as the minhash chain —
    // shuffles carry 8-byte ints, never gram strings); corpus-wide
    // doc-frequency is ONE map-side-combinable hash agg on the gram
    // key; spans rejoin their df by the same key; the per-doc rollup
    // is a second hash agg on doc_id. No all-pairs anywhere — cost is
    // O(total spans), the same asymptotics as the suffix-array pass.
    // dup_frac is one IEEE division of integer-exact operands —
    // bit-identical cross-engine. (The oracle counts df over gram
    // STRINGS while Spark counts over their 60-bit hashes, so ANY
    // 60-bit collision between different grams anywhere in the corpus
    // — within one document or across two — can flip a df>=2 gate and
    // break parity; negligible probability at fixture scale, and at
    // production scale an approximate dup-fraction tolerates it.)
    Q("dedup_span_frac", {
      // single line: a multi-line fragment would be re-margined by the
      // enclosing stripMargin and its leading '||' corrupted
      val grams5 =
        "list_distinct(list_transform(range(1, len(tokens) - 3), " +
          "i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]" +
          " || ' ' || tokens[i+3] || ' ' || tokens[i+4]))"
      s"""WITH docs_aug AS ($docsAugSql),
         |t AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM docs_aug),
         |g AS (
         |  SELECT doc_id, unnest($grams5) AS gram
         |  FROM t WHERE len(tokens) >= 5),
         |df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
         |pd AS (
         |  SELECT g.doc_id,
         |         count(*) AS n_grams,
         |         CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM g JOIN df ON g.gram = df.gram
         |  GROUP BY g.doc_id)
         |SELECT t.doc_id,
         |  COALESCE(pd.n_grams, 0) AS n_grams,
         |  COALESCE(pd.n_dup, 0) AS n_dup,
         |  CASE WHEN COALESCE(pd.n_grams, 0) > 0
         |       THEN CAST(pd.n_dup AS DOUBLE) / pd.n_grams
         |       ELSE CAST(0.0 AS DOUBLE) END AS dup_frac,
         |  CASE WHEN COALESCE(pd.n_grams, 0) > 0
         |        AND CAST(pd.n_dup AS DOUBLE) / pd.n_grams >= 0.5
         |       THEN 'flag' ELSE 'keep' END AS verdict
         |FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id""".stripMargin
    }) { (s, dir) => spanFracOver(docsAug(s, dir)) },

    // Dedup CLUSTERING: pair lists are not actionable — production
    // dedup keeps ONE canonical doc per group of transitively-linked
    // near-duplicates. Edges = the exact-dup digest groups (every doc
    // linked to its group's min id); components via iterative min-label
    // propagation, the scalable formulation (each iteration is one
    // hash join + one aggregation; iterations = graph diameter, which
    // for dedup graphs is tiny). The oracle computes the same
    // components with a recursive-CTE transitive closure.
    Q("dedup_components",
      s"""WITH dup_aug AS (
         |  ${dupAugSql()}
         |),
         |grp AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS root
         |  FROM dup_aug),
         |edges AS (SELECT doc_id AS a, root AS b FROM grp WHERE doc_id <> root),
         |${componentsSql("edges")}""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
      val grp = dupAug(s, dir)
        .select(col("doc_id"), min(col("doc_id")).over(w).as("root"))
      connectedComponents(grp.filter(col("doc_id") =!= col("root"))
        .select(col("doc_id").as("a"), col("root").as("b")))
    },

    // Embedding near-dup: random-hyperplane LSH buckets (16 md5-seeded
    // planes, weights inlined as identical literals in both engines),
    // exact cosine >= 0.99 within bucket.
    Q("dedup_embedding", {
      import VectorFns._
      s"""WITH emb_aug AS (
         |  SELECT vec_id, ${sqlToDouble("embedding")} AS emb FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $AugBase AS vec_id,
         |         list_transform(${sqlToDouble("embedding")},
         |           (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END) AS emb
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |v AS (SELECT vec_id, emb, ${sqlNormSq("emb")} AS nsq, ${sqlLshBucket("emb")} AS bucket
         |      FROM emb_aug)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${sqlCosine(sqlDot("a.emb", "b.emb"), "a.nsq", "b.nsq")} AS cos
         |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
         |WHERE cos >= 0.99""".stripMargin
    }) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val embD = VectorFns.toDouble(col("embedding"))
      val aug = e.select(col("vec_id"), embD.as("emb")).union(
        e.filter(col("vec_id") % 10 === 0).select(
          (col("vec_id") + lit(AugBase)).as("vec_id"),
          transform(embD, (x, i) => when(i === 0, x + lit(0.01)).otherwise(x)).as("emb")))
      // persist: the signature relation (widened emb + norm + 1,024-FLOP
      // LSH bucket) is computed once, not once per self-join side
      val v = aug.select(col("vec_id"), col("emb"),
        VectorFns.normSq(col("emb")).as("nsq"),
        VectorFns.lshBucket(col("emb")).as("bucket"))
        .persist()
      v.as("a")
        .join(v.as("b"), col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          VectorFns.cosine(VectorFns.dot(col("a.emb"), col("b.emb")),
            col("a.nsq"), col("b.nsq")).as("cos"))
        .filter(col("cos") >= 0.99)
    },

    // ── sparse set-similarity join via inverted index ───────────────
    // All-pairs document cosine over word-3-gram shingle SETS (binary
    // vectors, so cosine = |A∩B| / sqrt(|A|·|B|) — the Ochiai
    // coefficient), computed by the inverted-index pair-generation
    // pattern (Elsayed et al., "Pairwise Document Similarity in Large
    // Collections with MapReduce", ACL 2008): explode postings, join on
    // the shingle, count co-occurrences per pair. The hot-token
    // degeneracy (a shingle in d docs contributes d² candidate pairs)
    // is capped by dropping shingles with document frequency > DfCap
    // from pair GENERATION only — norms keep the full set, so a pruned
    // pair's score is a strict underestimate, the standard
    // prefix-filtering trade. Scale shape: two hash aggs (norms, df) +
    // one bounded self-equi-join on the shingle + one pair agg — every
    // shuffle is key-partitioned, candidate volume is Σ min(df,cap)²
    // by construction, never N² (a full Bayardo prefix-filter rewrite
    // was measured and REJECTED at sf10 — see [[shingleCosineOver]]).
    // Determinism: counts are integers and
    // the two IEEE ops (sqrt, divide) are correctly rounded in both
    // engines.
    // Shingles are md5'd to 60-bit ints AT THE SCAN (the minhash/
    // span_frac/bloom discipline): the postings self-join, the df cap
    // and the norm counts all key on 8-byte ints, never gram strings —
    // both engines hash identically, so parity is exact even under a
    // collision (it changes both sides the same way).
    Q("dedup_shingle_cosine",
      s"""WITH docs_aug AS ($docsAugSql),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM docs_aug),
         |sh0 AS (
         |  SELECT doc_id, unnest($shingles3Sql) AS ss
         |  FROM tok WHERE len(tokens) >= 3),
         |sh AS (SELECT doc_id, ${graft.OracleSql.hex60("ss")} AS s FROM sh0),
         |nsq AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
         |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfq ON sh.s = dfq.s
         |        WHERE dfq.df <= $CosineDfCap),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, cosine FROM (
         |  SELECT doc_a, doc_b,
         |    CAST(c AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE)) AS cosine
         |  FROM common
         |  JOIN nsq na ON common.doc_a = na.doc_id
         |  JOIN nsq nb ON common.doc_b = nb.doc_id) t
         |WHERE cosine >= 0.5""".stripMargin) { (s, dir) =>
      shingleCosineOver(docsAug(s, dir))
    },

    // ── incremental dedup: new batch vs the standing corpus ─────────
    // THE production arrival path: a batch of incoming docs is admitted
    // only if it duplicates nothing already ingested. Exact arrivals
    // are caught by a digest semi-join against the corpus; near-dup
    // arrivals by the SAME MinHash/band/Jaccard machinery as
    // dedup_minhash_lsh run over corpus ∪ batch, keeping only edges
    // that CROSS the boundary (an incoming doc matching another
    // incoming doc is not a reason to reject it here). Scale shape:
    // at 100 TB the corpus side is a precomputed signature relation —
    // the per-batch cost is signatures over the (small) batch plus
    // key-partitioned joins; nothing rescans corpus text except the
    // Jaccard verify on candidate pairs.
    Q("dedup_incremental",
      s"""WITH incoming AS ($incrIncomingSql),
         |base AS (SELECT doc_id, text FROM documents),
         |pairs AS (${minhashPairsSqlOver(
              "SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM incoming")}),
         |near AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
         |         WHERE doc_a < $AugBase AND doc_b >= $AugBase),
         |exact AS (SELECT DISTINCT i.doc_id FROM incoming i
         |          JOIN base b ON md5(i.text) = md5(b.text))
         |SELECT i.doc_id,
         |  e.doc_id IS NOT NULL AS is_exact,
         |  n.doc_id IS NOT NULL AS is_near,
         |  CASE WHEN e.doc_id IS NOT NULL OR n.doc_id IS NOT NULL
         |       THEN 'drop' ELSE 'keep' END AS decision
         |FROM incoming i
         |LEFT JOIN exact e ON i.doc_id = e.doc_id
         |LEFT JOIN near n ON i.doc_id = n.doc_id""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val incoming = incrIncoming(s, dir)
      // same single-input-split consideration as docsAug: spread the
      // md5-heavy signature stage across the session's parallelism
      val corpus = base.union(incoming)
        .repartition(s.sparkContext.defaultParallelism)
      val near = minhashPairsOver(corpus)
        .filter(col("doc_a") < lit(AugBase) && col("doc_b") >= lit(AugBase))
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("near_hit", lit(true))
      val exact = incoming.as("i")
        .join(base.select(md5(col("text")).as("h")).distinct(),
          md5(col("i.text")) === col("h"), "left_semi")
        .select(col("doc_id")).withColumn("exact_hit", lit(true))
      incoming.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("exact_hit"), lit(false)).as("is_exact"),
          coalesce(col("near_hit"), lit(false)).as("is_near"),
          when(coalesce(col("exact_hit"), lit(false)) ||
            coalesce(col("near_hit"), lit(false)), "drop")
            .otherwise("keep").as("decision"))
    },

    // ── streaming near-dup screen (MinHash bands, bounded state) ────
    // The streaming tier's missing near-dup face: exact streaming
    // dedup exists (q_stream_dedup), this adds the MinHash-band screen
    // a continuous ingest runs BEFORE admitting a document — cheap
    // (signature + band hash per doc, no pair join, no text rescan)
    // and one-sided (a shared band means "probable near-dup, reject /
    // divert to the expensive verify path"). The documents arrive as a
    // genuine file-source stream in doc_id-monotone event-time order
    // (ts = epoch + doc_id — the staging contract); the SAME
    // MinHashSigExpr signature and 60-bit band keys as the batch
    // family are computed INSIDE the streaming plan (codegen'd
    // expressions compose with micro-batch execution), exploded to
    // per-band arrivals, and folded by StatefulOps.bandFirstScreen —
    // state is two longs per band bucket, TTL-evicted when idle past
    // the horizon. A doc whose every band bucket names it the minimum
    // passes the screen; the bool-and reduction runs on the batch
    // READ-BACK (the verdicts are the stream's append output). With
    // monotone arrival and a TTL covering the run, the kept set
    // equals the batch rule the oracle replays: doc_id = min of every
    // band bucket it occupies. Recall relative to the verified batch
    // family: every dedup_minhash_lsh near-dup pair shares a band by
    // construction, so no true near-dup passes the screen — the
    // screen's false POSITIVES (band collisions without Jaccard>=0.5)
    // are the documented trade for never touching text twice.
    Q("q_stream_neardup",
      s"""WITH ${minhashCoreCtes("SELECT doc_id, text FROM documents")},
         |bmin AS (SELECT band_key, min(doc_id) AS m FROM bands GROUP BY band_key)
         |SELECT b.doc_id FROM bands b JOIN bmin ON b.band_key = bmin.band_key
         |GROUP BY b.doc_id
         |HAVING min(CASE WHEN b.doc_id = bmin.m THEN 1 ELSE 0 END) = 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      val root = s"${Staging.dir(dir)}/stream_neardup"
      val (tminMs, tmaxMs) = EventOps.timeBounds(docs)
      val src = EventOps.stageChunksOnePass(root, docs, 3, tminMs, tmaxMs,
        Nil, tminMs)
      // TTL covers the staged span plus the delay: no bucket is evicted
      // while the run is still arriving, so the oracle sees the full-
      // corpus screen; a production deployment sets its real horizon
      val delayMin = 10L
      val ttlMin = (tmaxMs - tminMs) / 60000L + delayMin + 10L

      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val arrivals = stream
        .select(col("doc_id"), col("ts"), split(col("text"), " ").as("tokens"))
        .filter(size(col("tokens")) >= 3)
        .select(col("doc_id"), col("ts"),
          explode(bandKeysCol(minhashSigCol(hashedShingles(col("tokens"), 3))))
            .as("band_key"))
        .as[graft.streaming.StatefulOps.BandArrival]
      val verdicts = graft.streaming.StatefulOps.bandFirstScreen(arrivals,
        watermarkDelay = Some(s"$delayMin minutes"),
        idleTtlMinutes = Some(ttlMin))
      EventOps.runStreamAppend(s, root, verdicts.toDF())
        .groupBy("doc_id")
        .agg(min(when(col("first_in_band"), 1L).otherwise(0L)).as("__all_first"))
        .filter(col("__all_first") === 1L)
        .select("doc_id")
    },

    // ── triangle count + clustering coefficient of the near-dup graph ─
    // The transitivity diagnostic: a high clustering coefficient means
    // near-dup pairs form dense cliques (template families) rather than
    // chains — which changes how aggressively a canonical-doc policy
    // collapses the corpus. Triangles are counted on DEGREE-ORDERED
    // oriented edges (each edge points from its lower-(degree, id)
    // endpoint to the higher): every node's out-degree is then O(√E) —
    // the standard trick that keeps hub nodes from exploding the count.
    // Formulation is the EDGE ITERATOR, not a wedge self-join: per
    // oriented edge (u,v), |N⁺(u) ∩ N⁺(v)| via array_intersect over
    // grouped out-adjacency lists. On this clique-heavy graph that is
    // decisive — sf0.1 measures 65k edges but 16.9M wedges, so the
    // wedge join materializes and shuffles a 250x blowup that the
    // per-edge intersection never creates (the intersections do the
    // same comparisons INSIDE one codegen stage, output one int per
    // edge). Each triangle is counted once, at its least-ranked vertex.
    // Scale shape: adjacency build is one hash agg on u (lists bounded
    // by the O(√E) orientation, so no group outgrows a task); the two
    // adjacency attaches are equi hash joins on node keys. Runs on the
    // Hamming <= 1 cut of the DEPLOYMENT SimHash pair graph
    // ([[simhashPairsAuto]] — 60-bit below the 2^16 capacity knee,
    // 120-bit wide above it, oracle mirroring the same selection):
    // past the knee the narrow family's bands saturate (sf10: 55M
    // mostly-spurious candidate pairs vs the wide family's 5.9M), so a
    // family-pinned narrow analysis would measure band saturation, not
    // graph structure — and pay ~10x for it. Hamming <= 1 keeps the
    // near-identical "template family" edges, where transitivity is
    // the question; the full <= 3 graph's looser edges inflate cliques
    // without changing the family structure. The 1-row stat attach is
    // an O(1) broadcast.
    Q("dedup_triangles",
      s"""WITH p AS ($simhashPairsAutoOracleSql),
         |e AS (SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
         |      FROM p WHERE hamming <= 1),
         |deg AS (SELECT node, count(*) AS d
         |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) t
         |        GROUP BY node),
         |o AS (
         |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
         |              THEN e.a ELSE e.b END AS u,
         |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
         |              THEN e.b ELSE e.a END AS v
         |  FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v <> o2.v
         |       JOIN o o3 ON o3.u = o1.v AND o3.v = o2.v),
         |stats AS (
         |  SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |         (SELECT count(*) FROM e) AS n_edges,
         |         (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
         |         (SELECT n_triangles FROM tri) AS n_triangles)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |       3.0 * n_triangles / NULLIF(n_wedges, 0) AS clustering
         |FROM stats""".stripMargin) { (s, dir) =>
      val nDocs = Tables.load(s, dir, "documents").count()
      val pairs = simhashPairsAuto(s, dir, nDocs + nDocs / 10 + 1)
      // simhashPairs already emits each pair ONCE with doc_a < doc_b
      // (the core's banded join orders the pair and dedups across
      // bands), so the oracle's DISTINCT least/greatest normalization
      // is an identity here — skipping it saves a full shuffle over
      // the edge list
      val e = pairs.filter(col("hamming") <= 1)
        .select(col("doc_a").as("a"), col("doc_b").as("b")).persist()
      val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d")).persist()
      val lowFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
      val o = e
        .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
        .select(when(lowFirst, col("a")).otherwise(col("b")).as("u"),
          when(lowFirst, col("b")).otherwise(col("a")).as("v"))
        // pin the partition count (REPARTITION_BY_NUM — AQE respects it
        // where it would coalesce a by-column repartition): the edge
        // list is tiny in BYTES (AQE's coalesce metric) but each edge
        // fans out to its endpoints' adjacency arrays in the intersect
        // pipeline below — ~2 orders of magnitude amplification that
        // must not land on one post-coalesce task. Keying by u also
        // pre-co-locates the first adjacency attach. (Measured at
        // sf0.1: the intersect stage drops 2.2 s -> 0.9 s.)
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("u"))
        .persist()
      // adjacency lists SORTED at the (one-per-node) aggregate so the
      // per-edge common-neighbor count below is a codegen merge scan
      // (sortedIntersectCount) instead of size(array_intersect)'s
      // per-row hash-set build — at sf1 (650k oriented edges over
      // clique-heavy families) the intersect stage was the query
      val adj = o.groupBy(col("u").as("node"))
        .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      // inner joins: an edge whose head has no out-neighbors closes no
      // triangle, so dropping it leaves the sum unchanged
      val tri = o
        .join(adj.select(col("node").as("u"), col("nbrs").as("nu")), "u")
        .join(adj.select(col("node").as("v"), col("nbrs").as("nv")), "v")
        .agg(coalesce(sum(sortedIntersectCount(col("nu"), col("nv"))), lit(0))
          .cast(LongType).as("n_triangles"))
      // n_edges = sum(d)/2 by the handshake identity — all three graph
      // stats come from ONE pass over the cached degree table, dropping
      // the separate edge-count aggregate and its 1-row attach. The
      // coalesce matches the oracle on an EMPTY graph: its n_edges is
      // count(*) (0), while sum over no rows is NULL — n_wedges stays
      // a bare sum because the oracle's n_wedges is also a sum (both
      // NULL on empty, and the clustering guard passes NULL through).
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        coalesce(expr("sum(d) div 2"), lit(0L)).as("n_edges"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      tri.crossJoin(stats)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          // wedge-free graph (perfect matching): 0/0 is Spark NULL but
          // DuckDB NaN — the NULLIF twin makes both engines emit NULL
          when(col("n_wedges") === 0, lit(null))
            .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges"))
            .as("clustering"))
    },
  )
}
