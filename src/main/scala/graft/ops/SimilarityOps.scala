package graft.ops

import graft.{Q, Tables}
import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Approximate-nearest-neighbor search over `embeddings.embedding`.
  *
  * Two paths:
  *  - `sim_topk_brute`: exact cosine top-k — the correctness baseline.
  *    The query side is tiny and broadcast; the corpus streams through
  *    one pass, so at scale this is a map + per-query top-k (no
  *    all-pairs shuffle, but still O(|queries| * N) work).
  *  - `sim_ann_lsh`: random-hyperplane LSH — queries only score
  *    candidates in their own bucket, the scale path (work drops to
  *    O(N / 2^planes) per query on uniform data; bucket join is the
  *    only shuffle).
  *
  * Cosine math follows VectorFns' bit-identical chain contract so ranks
  * match the DuckDB oracle exactly.
  */
object SimilarityOps {

  import VectorFns._

  private val NumQueries = 10
  // IVF coarse quantizer size: deterministically-sampled corpus vectors
  // stand in for trained k-means centroids (any coarse quantizer is a
  // valid IVF; training is orthogonal to the engine plumbing)
  private val NumCentroids = 8

  // Product-quantization geometry: M subspaces of Dim/M dims, K
  // codewords per subspace. Codewords are deterministically-sampled
  // corpus subvectors (same convention as the IVF coarse quantizer —
  // training a better codebook is orthogonal to the engine plumbing).
  private val PqM = 4
  private val PqSub = Dim / PqM
  private val PqK = 4

  // SemDeDup keep/drop cosine threshold (within-cluster near-dup cut)
  private val SemTau = 0.3
  // SemDeDup target cluster size: the within-cluster all-pairs cost is
  // Σ|cluster|² ≈ N·target when k = N/target clusters — LINEAR in the
  // corpus — where a fixed k would make it N²/k, quadratic (measured:
  // the fixed-k=8 formulation read 84x its sf1 time at 10x the data).
  // k is floored at NumCentroids so the gate-scale (sf0.01) corpus,
  // which sits below 8·target, keeps the original 8-cell layout.
  private val SemClusterTarget = 1024L

  private def vectors(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").select(
      col("vec_id"), toDouble(col("embedding")).as("emb"))

  private val vectorsSql =
    s"SELECT vec_id, ${sqlToDouble("embedding")} AS emb FROM embeddings"

  /** The corpus CTEs most oracles open with: `v` and `n`, its vectors
    * with their norms² (vec_id, emb, nsq).
    */
  private val corpusSql =
    s"""v AS ($vectorsSql),
       |n AS (SELECT vec_id, emb, ${sqlNormSq("emb")} AS nsq FROM v)""".stripMargin

  /** The shared ANN query workload: PERTURBED copies of the first
    * NumQueries corpus vectors (first element +0.01, ids offset by 10M)
    * — every query has a genuine near-neighbor in the corpus, so ANN
    * recall is actually exercised. Defined ONCE with its SQL twin;
    * both ANN queries (LSH and IVF) derive from it, so the
    * perturbation contract cannot drift between them.
    */
  private def perturbedQueries(s: SparkSession, dir: String): DataFrame = {
    val qEmb = transform(
      toDouble(col("embedding")), (x, i) => when(i === 0, x + lit(0.01)).otherwise(x))
    Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") < NumQueries)
      .select((col("vec_id") + lit(10000000L)).as("q_id"), qEmb.as("emb"))
      .withColumn("nsq", normSq(col("emb")))
  }

  private val perturbedQueriesSql =
    s"""SELECT vec_id + 10000000 AS q_id, qe AS emb, ${sqlNormSq("qe")} AS nsq
       |FROM (SELECT vec_id,
       |        list_transform(${sqlToDouble("embedding")},
       |          (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END) AS qe
       |      FROM embeddings WHERE vec_id < $NumQueries) t""".stripMargin

  /** One top-3 ranking per query in SQL, the mirror of [[recallAt3]]'s
    * `top3`: `from` supplies the `qId`, `vecId` and `score` columns;
    * ties go to the smaller vec_id.
    */
  private def top3Sql(qId: String, vecId: String, score: String, from: String): String =
    s"""SELECT q_id, vec_id FROM (
       |    SELECT $qId, $vecId,
       |      row_number() OVER (PARTITION BY $qId
       |        ORDER BY $score DESC, $vecId) AS rk
       |    FROM $from) t
       |  WHERE rk <= 3""".stripMargin

  /** The recall@3 oracle, the mirror of [[recallAt3]]. `prefix` holds
    * the row's CTEs, among them the corpus `n` (vec_id, emb, nsq) and
    * the queries `pq` (q_id, emb, nsq); `approx` selects the row's
    * approximate top-3 (q_id, vec_id) from them.
    */
  private def recallAt3Sql(prefix: String, approx: String): String = {
    val truth = top3Sql("p.q_id", "c.vec_id",
      sqlCosine(sqlDot("p.emb", "c.emb"), "p.nsq", "c.nsq"), "pq p CROSS JOIN n c")
    s"""WITH $prefix,
       |truth AS (
       |  $truth),
       |approx AS (
       |  $approx),
       |hits AS (
       |  SELECT t.q_id, count(*) AS n_hit
       |  FROM truth t JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
       |  GROUP BY t.q_id)
       |SELECT q.q_id, COALESCE(h.n_hit, 0) AS n_hit,
       |       COALESCE(h.n_hit, 0) / 3.0 AS recall
       |FROM (SELECT q_id FROM pq) q LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin
  }

  /** LSH recall@3 oracle. Probe set for a query's LSH lookup: its own
    * bucket, plus (multi-probe) the Planes buckets at Hamming distance
    * 1 — the standard recall/cost dial for a single hash table.
    */
  private def lshRecallSql(multiProbe: Boolean): String = {
    val qCte =
      if (!multiProbe)
        s"SELECT q_id, emb, nsq, ${sqlLshBucket("emb")} AS probe FROM pq"
      else {
        val probes = ("bucket" +: (0 until Planes).map(p => s"xor(bucket, ${1L << p})"))
          .mkString(", ")
        s"""SELECT q_id, emb, nsq, unnest([$probes]) AS probe
           |FROM (SELECT q_id, emb, nsq, ${sqlLshBucket("emb")} AS bucket FROM pq) b""".stripMargin
      }
    recallAt3Sql(
      s"""v AS ($vectorsSql),
         |n AS (SELECT vec_id, emb, ${sqlNormSq("emb")} AS nsq, ${sqlLshBucket("emb")} AS bucket FROM v),
         |pq AS ($perturbedQueriesSql),
         |q AS ($qCte)""".stripMargin,
      top3Sql("q.q_id", "c.vec_id", sqlCosine(sqlDot("q.emb", "c.emb"), "q.nsq", "c.nsq"),
        "q JOIN n c ON c.bucket = q.probe"))
  }

  /** Nearest-centroid assignment, shared by `sim_ann_ivf` and
    * `q_kmeans_step`: replicate the O(1)-bounded centroid table to
    * every row (a broadcast map-side replicate, never a data-dependent
    * blowup) and keep the cosine-argmax centroid, ties to the smaller
    * centroid id. At scale this is the per-row map stage of any
    * coarse-quantizer/IVF/k-means pipeline.
    */
  private def assignSql(rel: String, idCol: String, centsRel: String = "cents"): String =
    assignKSql(rel, idCol, 1, centsRel)

  /** Top-k nearest-centroid assignment (SQL mirror of [[assignK]]).
    * k=1 is the corpus-side inverted-file assignment; k>1 is the
    * query-side multi-probe dial (probe the k nearest cells).
    */
  private def assignKSql(rel: String, idCol: String, k: Int,
                         centsRel: String = "cents"): String =
    s"""SELECT $idCol, emb, nsq, c_id FROM (
       |  SELECT t.*, c.c_id,
       |         row_number() OVER (PARTITION BY t.$idCol
       |           ORDER BY ${sqlCosine(sqlDot("t.emb", "c.c_emb"), "t.nsq", "c.c_nsq")} DESC, c.c_id) AS crn
       |  FROM $rel t CROSS JOIN $centsRel c) z
       |WHERE crn <= $k""".stripMargin

  private def assign(rel: DataFrame, idCol: String, cents: DataFrame): DataFrame =
    assignK(rel, idCol, cents, 1)

  /** Assign each row to its k nearest centroids. The centroid table is
    * an O(NumCentroids) broadcast, so this is a map-side replicate per
    * row regardless of corpus size; each corpus vector still lives in
    * exactly ONE cell (k=1), so k>1 on the QUERY side probes disjoint
    * cells and never duplicates a candidate.
    */
  private def assignK(rel: DataFrame, idCol: String, cents: DataFrame,
                      k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(
      cosine(dot(col("emb"), col("c_emb")), col("nsq"), col("c_nsq")).desc,
      col("c_id").asc)
    rel.crossJoin(broadcast(cents))
      .withColumn("__crn", row_number().over(w))
      .filter(col("__crn") <= k)
      .select(col(idCol), col("emb"), col("nsq"), col("c_id"))
  }

  private val centsSql =
    s"SELECT vec_id AS c_id, emb AS c_emb, nsq AS c_nsq FROM n WHERE vec_id < $NumCentroids"

  // ── SemDeDup building blocks (shared with TextOps.curate_semantic,
  //    same convention as DedupOps.minhashPairsSql) ──────────────────

  /** Corpus with cluster assignment — callers persist (referenced more
    * than once in every consumer).
    */
  private[graft] def clusteredVectors(s: SparkSession, dir: String): DataFrame = {
    val n = vectors(s, dir).withColumn("nsq", normSq(col("emb")))
    assign(n, "vec_id", cents(n))
  }

  /** [[clusteredVectors]] with the corpus-adaptive SemDeDup centroid
    * count (see [[semCents]]) — used by the rows whose downstream is
    * the within-cluster all-pairs join (dedup_semantic,
    * curate_semantic), where cluster granularity IS the scale lever.
    * The count() is one bounded scalar anchor (the same pattern as
    * timeBounds); the centroid table stays an O(k) broadcast.
    *
    * `n` is persisted for the duration of the assignment: it feeds
    * the count anchor, the semCents filter, the assignSem scoring
    * cross join, and the join-back — four consumers that would each
    * rescan the embeddings parquet unpersisted. The returned
    * assignment is materialized (persist + count) BEFORE n is
    * unpersisted, so callers never re-trigger the embeddings scan;
    * callers' own `.persist()` on the result is an idempotent no-op
    * (same storage level).
    */
  private[graft] def semClusteredVectors(s: SparkSession, dir: String): DataFrame = {
    val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
    try {
      val total = n.count()
      val cl = assignSem(n, semCents(n, total)).persist()
      // totality invariant on the two-pass argmax: pass 2 keeps rows
      // via bitwise re-evaluation of the same codegen'd cosine — if a
      // future Spark change ever broke that exact equality, vectors
      // would VANISH through the inner joins rather than fail. The
      // materializing count we already pay doubles as the guard
      // (SimilaritySpec pins the same invariant on a duplicate-max
      // fixture).
      val assigned = cl.count()
      require(assigned == total,
        s"assignSem dropped ${total - assigned} of $total vectors — " +
          "pass-2 bitwise max-achiever filter no longer reproduces " +
          "pass-1 scores exactly (see assignSem doc)")
      cl
    } finally n.unpersist()
  }

  /** Vectors with a SMALLER-id near-twin (cosine > SemTau) in their own
    * cluster — the SemDeDup drop set. One cluster-key self-join.
    */
  private[graft] def semanticDropped(cl: DataFrame): DataFrame = {
    val a = cl.select(col("c_id"), col("vec_id").as("a_id"),
      col("emb").as("a_emb"), col("nsq").as("a_nsq"))
    val b = cl.select(col("c_id"), col("vec_id").as("b_id"),
      col("emb").as("b_emb"), col("nsq").as("b_nsq"))
    a.join(b, Seq("c_id"))
      .filter(col("a_id") < col("b_id") &&
        cosine(dot(col("a_emb"), col("b_emb")),
          col("a_nsq"), col("b_nsq")) > lit(SemTau))
      .select(col("b_id").as("vec_id")).distinct()
  }

  /** Standalone SQL twin of [[semanticDropped]]∘[[clusteredVectors]]
    * (self-contained WITH…SELECT, embeddable as a nested-WITH CTE).
    */
  private[graft] def semanticDroppedSql: String =
    s"""WITH $corpusSql,
       |cents AS ($semCentsSql),
       |cl AS ($assignSemSql)
       |SELECT DISTINCT b.vec_id
       |FROM cl a JOIN cl b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
       |WHERE ${sqlCosine(sqlDot("a.emb", "b.emb"), "a.nsq", "b.nsq")} > CAST($SemTau AS DOUBLE)""".stripMargin

  private def cents(n: DataFrame): DataFrame =
    n.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"), col("nsq").as("c_nsq"))

  /** CORPUS-ADAPTIVE centroid table for the SemDeDup family:
    * k = max(NumCentroids, N / SemClusterTarget) seed centroids (the
    * first k vectors, the same seeding convention as `cents`). Keeping
    * k proportional to N holds the within-cluster pair volume at
    * ~N·SemClusterTarget — the linear scale shape SemDeDup exists for
    * (Abbas et al. 2023 run k ≈ N/target on the real corpus; at
    * extreme scale the flat argmin assignment would itself move to a
    * hierarchical coarse quantizer, but its N·k cost is the standard
    * IVF/k-means assignment stage and stays far below the pair join).
    * SQL twin: [[semCentsSql]] — both engines derive k from the same
    * count, so the cut cannot drift.
    */
  private def semCents(n: DataFrame, count: Long): DataFrame =
    n.filter(col("vec_id") < math.max(NumCentroids.toLong, count / SemClusterTarget))
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"), col("nsq").as("c_nsq"))

  private val semCentsSql =
    s"""SELECT vec_id AS c_id, emb AS c_emb, nsq AS c_nsq FROM n
       |WHERE vec_id < (SELECT GREATEST($NumCentroids, count(*) // $SemClusterTarget) FROM n)""".stripMargin

  /** Memory-lean nearest-centroid assignment for the adaptive-k
    * SemDeDup path: the scored cross join is projected down to
    * (vec_id, c_id, cosv) SCALARS before the argmax, and the
    * embedding/norm ride back via one hash join on vec_id. The plain
    * [[assignK]]/[[assignKSql]] carry the full embedding array through
    * their row_number sort — fine at k=8 centroids, but ~20 GB of
    * window payload at k≈200 and 200k vectors (sf10), where DuckDB's
    * replay actually ran out of memory.
    *
    * The argmax itself is a TWO-PASS hash formulation (round 14): the
    * round-13 `max_by(c_id, struct(cosv, -c_id))` was written for its
    * map-side combine, but a struct-ordered max_by has a non-primitive
    * aggregation buffer, so Spark plans it as a partial
    * SORT-aggregate — which SORTS all N·k scored rows per task before
    * combining. At sf100 (2M vectors, adaptive k≈1953) that sort
    * spilled 44+ GB to disk and died; the per-vector reduction was
    * hiding a full materialization of the scored relation. Instead:
    * pass 1 hash-aggregates max(cosv) per vector (primitive buffer —
    * a genuine HashAggregate with map-side combine; only N rows reach
    * the exchange), the N-row max table rides back onto the vectors
    * via one hash join, and pass 2 RE-SCORES the same broadcast cross
    * join, keeps rows achieving the max bitwise (same codegen'd
    * expression over the same inputs — deterministic IEEE, exact
    * equality), and hash-aggregates min(c_id) — the identical
    * smaller-c_id tie-break as the row_number formulation. The N·k
    * dot products run twice; at every scale that trade beats sorting
    * N·k rows on disk (the assignment stays one codegen stage per
    * pass, nothing materializes).
    */
  private def assignSem(n: DataFrame, centsDf: DataFrame): DataFrame = {
    val score = cosine(dot(col("emb"), col("c_emb")), col("nsq"), col("c_nsq"))
    val best = n.crossJoin(broadcast(centsDf))
      .select(col("vec_id"), score.as("cosv"))
      .groupBy("vec_id").agg(max(col("cosv")).as("best_cos"))
    n.join(best, "vec_id")
      .crossJoin(broadcast(centsDf))
      .filter(score === col("best_cos"))
      .groupBy("vec_id").agg(min(col("c_id")).as("c_id"))
      .join(n, "vec_id")
      .select(col("vec_id"), col("emb"), col("nsq"), col("c_id"))
  }

  /** SQL twin of [[assignSem]] — the SAME two-pass hash argmax as the
    * Spark side since round 15 (it was a row_number window before):
    * pass 1 hash-aggregates max(cosv) per vector, pass 2 re-scores the
    * identical cross join, keeps bitwise max-achievers, min(c_id)
    * tie-break. Equivalent pick to the old window (highest cosv, ties
    * to the smaller c_id) — re-certified at the gate on the swap — but
    * the replay's working set drops from the N·k scored rows the
    * window had to materialize and sort (~100 GB at sf100: 2M vectors
    * × k≈1953 — the one oracle whose sf100 replay could outgrow the
    * certification host's disk) to two N-row aggregation tables; the
    * N·k cosines stream through twice instead, mirroring exactly the
    * sort-vs-recompute trade assignSem documents for Spark.
    */
  private def assignSemSql: String =
    s"""SELECT n2.vec_id, n2.emb, n2.nsq, z.c_id
       |FROM (
       |  SELECT s.vec_id, min(s.c_id) AS c_id
       |  FROM (
       |    SELECT t.vec_id, c.c_id,
       |      ${sqlCosine(sqlDot("t.emb", "c.c_emb"), "t.nsq", "c.c_nsq")} AS cosv
       |    FROM n t CROSS JOIN cents c) s
       |  JOIN (
       |    SELECT vec_id, max(cosv) AS best_cos FROM (
       |      SELECT t.vec_id,
       |        ${sqlCosine(sqlDot("t.emb", "c.c_emb"), "t.nsq", "c.c_nsq")} AS cosv
       |      FROM n t CROSS JOIN cents c) p
       |    GROUP BY vec_id) b
       |    ON b.vec_id = s.vec_id AND s.cosv = b.best_cos
       |  GROUP BY s.vec_id) z
       |JOIN n n2 ON n2.vec_id = z.vec_id""".stripMargin

  // ── hierarchical (two-level) SemDeDup assignment ──────────────────

  /** Two-level coarse→fine assignment — the "hierarchical coarse
    * quantizer" rung the [[semCents]] comment names as the next step
    * at extreme scale. The flat [[assignSem]] scores every vector
    * against all k = N/SemClusterTarget fine centroids: N·k dot
    * products, i.e. N²/target — the one super-linear term left in the
    * SemDeDup chain (measured 12-13x at 10x data in the sf10→sf100
    * bench). Routing through kc ≈ ceil(√k) coarse cells first cuts
    * scoring to ~N·(√k + k/√k) = 2N·√k — at sf100 (k≈1953, kc≈45)
    * that is ~22x less scoring work — at the cost of the standard IVF
    * approximation: a vector whose true nearest fine centroid lives
    * outside its coarse cell is assigned to the best fine centroid
    * WITHIN its cell instead (the trade every IVF index makes; cluster
    * assignment feeds a near-dup cut, not an exact-NN contract).
    *
    * Scale shape: all three argmax stages reuse the two-pass
    * primitive-buffer hash formulation of [[assignSem]] (nothing
    * sorts, nothing materializes N·k rows); the within-cell stage
    * joins the routed vectors to the O(k) fine-centroid table on the
    * coarse key as a BROADCAST hash join, so the whole assignment is
    * map-side — its only exchanges are the per-vector hash aggs with
    * map-side combine. `v2g` (two longs per vector) is persisted
    * because pass 2 of the within-cell argmax re-executes its input.
    *
    * Totality: every coarse centroid is also a fine centroid
    * (kc <= k, same seed convention), and with real-valued embeddings
    * it routes to itself (cosine exactly 1), so every routed-to cell
    * has a non-empty fine candidate list; the caller's count
    * invariant ([[semHierClusteredVectors]]) turns any violation of
    * that argument into a loud error rather than silently dropped
    * vectors.
    */
  private def assignSemHier(n: DataFrame, count: Long): DataFrame = {
    val k = math.max(NumCentroids.toLong, count / SemClusterTarget)
    val kc = math.max(NumCentroids.toLong, math.ceil(math.sqrt(k.toDouble)).toLong)
    val fc = n.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"), col("nsq").as("c_nsq"))
    val gc = n.filter(col("vec_id") < kc)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"), col("nsq").as("c_nsq"))
    // fine→coarse routing table: the k fine centroids viewed as
    // vectors, assigned to their nearest coarse centroid (k·kc dots)
    val f2g = assignSem(
        fc.select(col("c_id").as("vec_id"), col("c_emb").as("emb"),
          col("c_nsq").as("nsq")), gc)
      .select(col("vec_id").as("f_id"), col("c_id").as("g_id"))
    // vector→coarse routing (N·kc dots, the first broadcast pass)
    val v2g = assignSem(n, gc)
      .select(col("vec_id"), col("c_id").as("g_id")).persist()
    val fineWithG = fc.join(f2g, fc("c_id") === f2g("f_id"))
      .select(col("c_id"), col("c_emb"), col("c_nsq"), col("g_id"))
    val routed = n.join(v2g, "vec_id")
    def scored = routed.join(broadcast(fineWithG), "g_id")
    val score = cosine(dot(col("emb"), col("c_emb")), col("nsq"), col("c_nsq"))
    val best = scored.select(col("vec_id"), score.as("cosv"))
      .groupBy("vec_id").agg(max(col("cosv")).as("best_cos"))
    scored.join(best, "vec_id")
      .filter(score === col("best_cos"))
      .groupBy("vec_id").agg(min(col("c_id")).as("c_id"))
      .join(n, "vec_id")
      .select(col("vec_id"), col("emb"), col("nsq"), col("c_id"))
  }

  /** [[semClusteredVectors]]' hierarchical twin: same persist/count
    * anchoring, same totality invariant (which here also guards the
    * every-cell-non-empty routing argument of [[assignSemHier]]).
    */
  private[graft] def semHierClusteredVectors(s: SparkSession, dir: String): DataFrame = {
    val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
    try {
      val total = n.count()
      val cl = assignSemHier(n, total).persist()
      val assigned = cl.count()
      require(assigned == total,
        s"assignSemHier dropped ${total - assigned} of $total vectors — " +
          "either pass-2 bitwise equality broke (see assignSem doc) or " +
          "a coarse cell had no fine centroid (see assignSemHier doc)")
      cl
    } finally n.unpersist()
  }

  /** SQL twin of [[assignSemHier]] (three row_number argmaxes with the
    * same DESC-score, ASC-id tie-break as every flat twin). Expects
    * CTEs `n` (vectors+norms) and `kk` (the adaptive k) in scope;
    * yields a `cl`-shaped relation (vec_id, emb, nsq, c_id).
    */
  private def assignSemHierSql: String =
    s"""SELECT n2.vec_id, n2.emb, n2.nsq, z.c_id
       |FROM (
       |  SELECT vec_id, c_id FROM (
       |    SELECT t.vec_id, f.c_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${sqlCosine(sqlDot("t.emb", "f.c_emb"), "t.nsq", "f.c_nsq")} DESC, f.c_id) AS crn
       |    FROM (SELECT nn.*, vg.g_id
       |          FROM n nn JOIN v2g vg ON vg.vec_id = nn.vec_id) t
       |    JOIN (SELECT ff.*, fg.g_id
       |          FROM fc ff JOIN f2g fg ON fg.f_id = ff.c_id) f
       |      ON f.g_id = t.g_id) y
       |  WHERE crn = 1) z
       |JOIN n n2 ON n2.vec_id = z.vec_id""".stripMargin

  // ── product-quantization building blocks ──────────────────────────

  /** Explode a vector relation into (id, m, sub, snsq) subvector rows —
    * a per-row generator (M small arrays from one slice pass), no
    * shuffle. posexplode's 0-based pos is the subspace index.
    */
  private def pqSubs(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol), posexplode(array(
        (0 until PqM).map(m => slice(col("emb"), m * PqSub + 1, PqSub)): _*))
        .as(Seq("m", "sub")))
      .withColumn("snsq", dotN(col("sub"), col("sub"), PqSub))

  /** DuckDB twin of [[pqSubs]] (end-inclusive 1-based list slices). */
  private def pqSubsSql(rel: String, idCol: String): String =
    (0 until PqM).map { m =>
      val sub = s"emb[${m * PqSub + 1}:${(m + 1) * PqSub}]"
      s"""SELECT $idCol, $m AS m, $sub AS sub,
         |  ${sqlDotN(sub, sub, PqSub)} AS snsq FROM $rel""".stripMargin
    }.mkString(" UNION ALL ")

  /** Per-subspace codebook: the first PqK corpus vectors' subvectors,
    * O(M·K) rows — always broadcast.
    */
  private def pqCodebook(subs: DataFrame): DataFrame =
    subs.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("k"), col("sub").as("c_sub"),
        col("snsq").as("c_nsq"))

  /** PQ encode: per (vector, subspace) the cosine-argmax codeword (ties
    * to the lowest code id), plus the codeword's norm² floor-quantized
    * to int64 (`ccq`) so downstream reconstruction sums stay exact and
    * order-independent. One broadcast hash join on the subspace key +
    * one (vec_id, m)-partitioned argmax window — both partition-
    * parallel at any corpus size.
    */
  private def pqCodes(subs: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "m")
      .orderBy(col("score").desc, col("k").asc)
    subs.join(broadcast(cb), Seq("m"))
      .withColumn("score",
        cosine(dotN(col("sub"), col("c_sub"), PqSub), col("snsq"), col("c_nsq")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("k").as("code"),
        floor(col("c_nsq") * lit(1000000000.0)).cast(LongType).as("ccq"))
  }

  /** Shared CTE chain (`subs`→`ssub`→`cb`→`cand`→`codes`) mirroring
    * [[pqSubs]]+[[pqCodebook]]+[[pqCodes]]; expects a `v` CTE with
    * (vec_id, emb).
    */
  private def pqCodesSql: String =
    s"""ssub AS (${pqSubsSql("v", "vec_id")}),
       |cb AS (SELECT m, vec_id AS k, sub AS c_sub, snsq AS c_nsq
       |       FROM ssub WHERE vec_id < $PqK),
       |cand AS (
       |  SELECT s.vec_id, s.m, c.k,
       |    CAST(floor(c.c_nsq * 1000000000.0) AS BIGINT) AS ccq,
       |    row_number() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY ${sqlCosine(sqlDotN("s.sub", "c.c_sub", PqSub), "s.snsq", "c.c_nsq")} DESC, c.k) AS rn
       |  FROM ssub s JOIN cb c ON c.m = s.m),
       |codes AS (SELECT vec_id, m, k AS code, ccq FROM cand WHERE rn = 1)""".stripMargin

  /** The ADC lookup table CTEs (`qsubs`→`lut`): each query subvector's
    * int64-quantized dot with every codeword of its subspace. Expects
    * the `pq` queries and [[pqCodesSql]]'s `cb`.
    */
  private def pqLutSql: String =
    s"""qsubs AS (${pqSubsSql("pq", "q_id")}),
       |lut AS (
       |  SELECT qs.q_id, qs.m, c.k,
       |    CAST(floor(${sqlDotN("qs.sub", "c.c_sub", PqSub)} * 1000000000.0) AS BIGINT) AS ipq
       |  FROM qsubs qs JOIN cb c ON c.m = qs.m)""".stripMargin

  /** `pairs` scored by cosine: its (q_id, vec_id) with the score of
    * the query's `q_emb`/`q_nsq` against the corpus vector's `emb`/`nsq`.
    */
  private def cosineScored(pairs: DataFrame): DataFrame =
    pairs.select(col("q_id"), col("vec_id"),
      cosine(dot(col("q_emb"), col("emb")), col("q_nsq"), col("nsq")).as("score"))

  /** Each query's top-3 `scored` pairs with their rank `rk`, ties to the
    * smaller vec_id — the served result of the LSH and IVF rows.
    */
  private def rankTop3(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w).cast(LongType)).filter(col("rk") <= 3)
  }

  /** The IVF probe: each perturbed query paired with the `cells` rows
    * (c_id, vec_id, emb, nsq) of its `nprobe` nearest `centroids`,
    * scored by cosine — one cell-keyed hash join against the broadcast
    * query batch.
    */
  private def ivfScored(s: SparkSession, dir: String, cells: DataFrame,
      centroids: DataFrame, nprobe: Int): DataFrame = {
    val qcl = assignK(perturbedQueries(s, dir), "q_id", centroids, nprobe)
      .select(col("q_id"), col("emb").as("q_emb"),
        col("nsq").as("q_nsq"), col("c_id").as("q_cid"))
    cosineScored(cells.join(broadcast(qcl), col("c_id") === col("q_cid")))
  }

  /** PQ's asymmetric-distance cosine: the int64-quantized lut partials
    * `sip` and codeword norms² `srec`, each summed per (q_id, vec_id),
    * over the query's `q_nsq`.
    */
  private val adcScore: Column = (col("sip") / lit(1000000000.0)) /
    (sqrt(col("q_nsq")) * sqrt(col("srec") / lit(1000000000.0)))

  /** The recall@3 evaluation every ANN-recall row shares: per query,
    * `n_hit` of its exact top-3 neighbours that the approximate top-3
    * found, and `recall` = n_hit / 3. `n` is the corpus with norms
    * (vec_id, emb, nsq), `qBase` the queries (q_id, q_emb, q_nsq) and
    * `approxScored` the row's approximate candidates with a `score` per
    * (q_id, vec_id). Both rankings break ties to the smaller vec_id.
    * Truth is one broadcast pass of the Q=10 queries over the corpus.
    */
  private def recallAt3(n: DataFrame, qBase: DataFrame,
      approxScored: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    def top3(scored: DataFrame): DataFrame =
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3).select("q_id", "vec_id")
    val truth = top3(cosineScored(n.crossJoin(broadcast(qBase))))
    val hits = truth.join(top3(approxScored), Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    qBase.select("q_id").join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / lit(3.0)).as("recall"))
  }

  /** LSH recall@3: candidates share a probed bucket with the query. */
  private def lshRecallDf(s: SparkSession, dir: String, multiProbe: Boolean): DataFrame = {
    val n = vectors(s, dir)
      .withColumn("nsq", normSq(col("emb")))
      .withColumn("bucket", lshBucket(col("emb")))
      .persist()
    val qBase = perturbedQueries(s, dir)
      .select(col("q_id"), col("emb").as("q_emb"), col("nsq").as("q_nsq"))
      .withColumn("q_bucket", lshBucket(col("q_emb")))
    val q =
      if (!multiProbe) qBase.withColumn("probe", col("q_bucket"))
      else qBase.withColumn("probe", explode(array(
        col("q_bucket") +:
          (0 until Planes).map(p => expr(s"q_bucket ^ ${1L << p}")): _*)))
    recallAt3(n, qBase,
      cosineScored(n.join(broadcast(q), col("bucket") === col("probe"))))
  }

  /** IVF recall@3 oracle, parameterized on the query-side probe width
    * (nprobe nearest cells). Corpus-side assignment is always k=1.
    */
  private def ivfRecallSql(nprobe: Int): String =
    recallAt3Sql(
      s"""$corpusSql,
         |cents AS ($centsSql),
         |cl AS (${assignSql("n", "vec_id")}),
         |pq AS ($perturbedQueriesSql),
         |qcl AS (${assignKSql("pq", "q_id", nprobe)})""".stripMargin,
      top3Sql("q.q_id", "c.vec_id", sqlCosine(sqlDot("q.emb", "c.emb"), "q.nsq", "c.nsq"),
        "qcl q JOIN cl c ON c.c_id = q.c_id"))

  /** IVF recall@3: candidates share one of the query's nprobe cells. */
  private def ivfRecallDf(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
    val cs = cents(n)
    val clustered = assign(n, "vec_id", cs).persist()
    val qBase = perturbedQueries(s, dir)
      .select(col("q_id"), col("emb").as("q_emb"), col("nsq").as("q_nsq"))
    recallAt3(n, qBase, ivfScored(s, dir, clustered, cs, nprobe))
  }

  /** IVF+PQ recall@3 oracle, parameterized on the query-side probe
    * width exactly like [[ivfRecallSql]] — the composed index's two
    * dials (cells probed, codes per vector) stay independent.
    */
  private def ivfPqRecallSql(nprobe: Int): String =
    recallAt3Sql(
      s"""$corpusSql,
         |cents AS ($centsSql),
         |cl AS (${assignSql("n", "vec_id")}),
         |$pqCodesSql,
         |pq AS ($perturbedQueriesSql),
         |qcl AS (${assignKSql("pq", "q_id", nprobe)}),
         |$pqLutSql,
         |ivf_cand AS (
         |  SELECT q.q_id, c.vec_id, q.nsq AS q_nsq
         |  FROM qcl q JOIN cl c ON c.c_id = q.c_id),
         |adc AS (
         |  SELECT ca.q_id, ca.vec_id,
         |    CAST(sum(l.ipq) AS DOUBLE) AS sip,
         |    CAST(sum(cd.ccq) AS DOUBLE) AS srec,
         |    max(ca.q_nsq) AS q_nsq
         |  FROM ivf_cand ca
         |  JOIN codes cd ON cd.vec_id = ca.vec_id
         |  JOIN lut l ON l.q_id = ca.q_id AND l.m = cd.m AND l.k = cd.code
         |  GROUP BY ca.q_id, ca.vec_id)""".stripMargin,
      top3Sql("q_id", "vec_id",
        "(sip / 1000000000.0) / (sqrt(q_nsq) * sqrt(srec / 1000000000.0))", "adc"))

  /** IVF+PQ recall@3: the query's nprobe cells prune the candidates,
    * ADC scores them from their codes.
    */
  private def ivfPqRecallDf(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
    val cs = cents(n)
    val cl = assign(n, "vec_id", cs)
    val subs = pqSubs(n, "vec_id")
    val cb = pqCodebook(subs)
    val codes = pqCodes(subs, cb)
    val pqq = perturbedQueries(s, dir)
    val qcl = assignK(pqq, "q_id", cs, nprobe)
      .select(col("q_id"), col("nsq").as("q_nsq"), col("c_id").as("q_cid"))
    val lut = pqSubs(pqq, "q_id").join(broadcast(cb), Seq("m"))
      .select(col("q_id").as("l_qid"), col("m").as("lm"), col("k"),
        floor(dotN(col("sub"), col("c_sub"), PqSub) * lit(1000000000.0))
          .cast(LongType).as("ipq"))
    val cand = cl.join(broadcast(qcl), col("c_id") === col("q_cid"))
      .select(col("q_id"), col("vec_id"), col("q_nsq"))
    val adc = cand
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut),
        col("l_qid") === col("q_id") && col("lm") === col("m") &&
          col("k") === col("code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("ipq").cast(org.apache.spark.sql.types.DoubleType).as("sip"),
        sum("ccq").cast(org.apache.spark.sql.types.DoubleType).as("srec"),
        max("q_nsq").as("q_nsq"))
    val qBase = pqq.select(col("q_id"), col("emb").as("q_emb"), col("nsq").as("q_nsq"))
    recallAt3(n, qBase, adc.withColumn("score", adcScore))
  }

  // ── persisted IVF index lifecycle (build / upsert / serve) ────────

  /** The in-memory full-corpus IVF nprobe=1 top-3: `sim_ann_ivf`'s
    * oracle, and the serve-path oracle of `sim_index_roundtrip` and
    * `sim_index_upsert` — for the upsert row a hash match proves the
    * incrementally maintained index serves results BIT-IDENTICAL to a
    * from-scratch build over the full corpus.
    */
  private val ivfTop3Sql: String =
    s"""WITH $corpusSql,
       |cents AS ($centsSql),
       |cl AS (${assignSql("n", "vec_id")}),
       |qv AS ($perturbedQueriesSql),
       |qcl AS (${assignSql("qv", "q_id")}),
       |s AS (
       |  SELECT q.q_id, c.vec_id,
       |         ${sqlCosine(sqlDot("q.emb", "c.emb"), "q.nsq", "c.nsq")} AS score
       |  FROM qcl q JOIN cl c ON c.c_id = q.c_id)
       |SELECT q_id, vec_id, score, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk
       |  FROM s) t
       |WHERE rk <= 3""".stripMargin

  /** Build the persisted IVF index at `root` over the vectors matching
    * `pred`: the quantizer table plus CELL-PARTITIONED posting lists
    * (hive layout on c_id — at scale a probe reads exactly its cell's
    * directory, the file-level analog of the inverted file).
    */
  private[graft] def buildIvfIndex(s: SparkSession, dir: String, root: String,
      pred: Column): Unit = {
    val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).filter(pred)
    val cs = cents(n)
    cs.write.mode("overwrite").parquet(s"$root/centroids.parquet")
    assign(n, "vec_id", cs)
      .write.mode("overwrite").partitionBy("c_id")
      .parquet(s"$root/postings.parquet")
  }

  /** Absorb a delta batch (the vectors matching `pred`) into an
    * existing index at `root` WITHOUT a rebuild: the delta is assigned
    * with the SAVED quantizer (production indexes do not retrain per
    * batch), and only the delta's own cells are rewritten — a dynamic
    * partition overwrite of (existing rows of touched cells, minus any
    * prior version of the delta's keys) ∪ (delta), so an N-cell index
    * absorbs a k-cell delta in O(k cells) of write work and untouched
    * cell directories keep their files byte-for-byte (SimIndexSpec pins
    * this). The anti-join makes the upsert KEYED — a re-delivered batch
    * replaces its own rows instead of appending duplicates, so the
    * operation is idempotent (the at-least-once delivery contract every
    * production ingest needs, and what lets the bench re-run
    * upsert+serve against a staged base without re-building it). The
    * touched-cell read is lineage-broken with an eager localCheckpoint
    * before the overwrite targets the same path — the read-modify-write
    * staging step.
    */
  private[graft] def upsertIvfIndex(s: SparkSession, dir: String, root: String,
      pred: Column): Unit = {
    val delta = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).filter(pred)
    val rcs = s.read.parquet(s"$root/centroids.parquet")
    val dAssigned = assign(delta, "vec_id", rcs)
      .select(col("vec_id"), col("emb"), col("nsq"), col("c_id"))
      .localCheckpoint(true) // tiny; reused thrice (touched/anti/union)
    val touched = dAssigned.select("c_id").distinct()
    val existing = s.read.parquet(s"$root/postings.parquet")
      .join(broadcast(touched), Seq("c_id"))
      .join(broadcast(dAssigned.select("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("emb"), col("nsq"), col("c_id"))
      .localCheckpoint(true)
    existing.unionByName(dAssigned)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("c_id").parquet(s"$root/postings.parquet")
  }

  /** Build the base index at `root` only when it is absent or STALE —
    * the staged-setup half of the upsert lifecycle. Staleness is
    * decided by a fingerprint of the source table's physical files
    * (path, length, mtime — no data scan), written as a marker AFTER a
    * successful build: a regenerated fixture changes the fingerprint
    * and forces a rebuild, a crash between build and marker leaves no
    * marker and also rebuilds, and a matching marker lets repeat runs
    * (the bench's warm pair, the driver's verify) skip straight to the
    * upsert+serve path the row actually certifies.
    */
  private[graft] def ensureBaseIvfIndex(s: SparkSession, dir: String,
      root: String, pred: Column): Unit =
    Staging.ensureStaged(root, Staging.sourceFingerprint(dir, Seq("embeddings"))) {
      buildIvfIndex(s, dir, root, pred)
    }

  /** Serve a query batch from the persisted index at `root`: reload
    * quantizer + postings, assign queries, probe nprobe=1 — one
    * cell-keyed hash join against the broadcast query batch.
    */
  private def serveIvfIndex(s: SparkSession, dir: String, root: String): DataFrame = {
    val rcs = s.read.parquet(s"$root/centroids.parquet")
    val postings = s.read.parquet(s"$root/postings.parquet")
    rankTop3(ivfScored(s, dir, postings, rcs, nprobe = 1))
  }

  /** The upsert fixture's delta slice: a handful of vectors (vec_id %
    * 101 == 0), never overlapping the deterministic quantizer sample
    * (vec_id < NumCentroids) — so the base-built quantizer equals the
    * full-corpus one and from-scratch parity is exact, which is what
    * lets the full-corpus oracle grade the upserted index.
    */
  private[graft] val upsertDelta: Column =
    col("vec_id") >= NumCentroids && col("vec_id") % 101 === 0

  val queries: Seq[Q] = Seq(

    Q("sim_topk_brute",
      s"""WITH $corpusSql,
         |q AS (SELECT * FROM n WHERE vec_id < $NumQueries),
         |s AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |         ${sqlCosine(sqlDot("q.emb", "c.emb"), "q.nsq", "c.nsq")} AS score
         |  FROM q JOIN n c ON c.vec_id <> q.vec_id)
         |SELECT q_id, vec_id, score, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk
         |  FROM s) t
         |WHERE rk <= 5""".stripMargin) { (s, dir) =>
      val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
      val q = n.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nsq").as("q_nsq"))
      val scored = n.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(dot(col("q_emb"), col("emb")), col("q_nsq"), col("nsq")).as("score"))
      val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
      scored.withColumn("rk", row_number().over(w).cast(LongType)).filter(col("rk") <= 5)
    },

    // HARD-NEGATIVE MINING — the contrastive-training companion to
    // top-k retrieval (FaceNet / DPR style): for each anchor (the
    // first NumQueries corpus vectors, with their labels), the 3
    // OTHER-label vectors most cosine-similar to it — the negatives a
    // contrastive loss learns most from — plus the anchor's hardest
    // POSITIVE score (same-label max cosine) and the semi-hard flag
    // (neg score strictly below the hardest positive: the FaceNet
    // band that avoids collapsed training). Scale shape: the anchor
    // set is bounded and broadcast; the corpus streams through ONE
    // scan feeding both the negative ranking and the positive max
    // (per-anchor top-k / max, never an all-pairs shuffle). At
    // production scale the candidate stream would come from the IVF/
    // LSH index instead of the full scan — same downstream shape.
    // score, pos_score are the VectorFns bit-identical cosine chain;
    // the flag is an exact comparison of those reproducible doubles.
    // The per-anchor ranking is the TopKAgg aggregator, NOT a window:
    // a Window.partitionBy(q_id) over the scored stream funnels ~the
    // whole corpus into Q sort partitions, while the aggregator's
    // map-side combine reduces every task's slice to <= k candidates
    // per anchor, so the shuffle carries O(anchors * k) rows. The
    // k-list's labels rejoin via one corpus equi hash join against the
    // broadcast O(anchors * k) winner list. Ordering (score DESC,
    // vec_id) is TopKAgg's (-score, id) contract — same ties as the
    // oracle's window.
    Q("sim_hard_negatives",
      s"""WITH v AS (SELECT vec_id, ${sqlToDouble("embedding")} AS emb, label FROM embeddings),
         |n AS (SELECT vec_id, emb, label, ${sqlNormSq("emb")} AS nsq FROM v),
         |q AS (SELECT vec_id AS q_id, emb AS q_emb, label AS q_label, nsq AS q_nsq
         |      FROM n WHERE vec_id < $NumQueries),
         |pos AS (
         |  SELECT q.q_id, max(${sqlCosine(sqlDot("q.q_emb", "c.emb"), "q.q_nsq", "c.nsq")}) AS pos_score
         |  FROM q JOIN n c ON c.label = q.q_label AND c.vec_id <> q.q_id
         |  GROUP BY q.q_id),
         |neg AS (
         |  SELECT * FROM (
         |    SELECT q.q_id, q.q_label, c.vec_id, c.label AS neg_label,
         |           ${sqlCosine(sqlDot("q.q_emb", "c.emb"), "q.q_nsq", "c.nsq")} AS score
         |    FROM q JOIN n c ON c.label <> q.q_label) z
         |  WHERE score IS NOT NULL)
         |SELECT t.q_id, q_label, vec_id, neg_label, score, pos_score,
         |       CAST(CASE WHEN score < pos_score THEN 1 ELSE 0 END AS BIGINT) AS semi_hard,
         |       CAST(rk AS BIGINT) AS rk
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk
         |  FROM neg) t
         |JOIN pos ON pos.q_id = t.q_id
         |WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val n = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("emb"), col("label"))
        .withColumn("nsq", normSq(col("emb")))
      val q = n.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("label").as("q_label"), col("nsq").as("q_nsq"))
      val pos = n.join(broadcast(q),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
        .groupBy("q_id")
        .agg(max(cosine(dot(col("q_emb"), col("emb")),
          col("q_nsq"), col("nsq"))).as("pos_score"))
      // zero-norm degenerates give NULL cosine: excluded on BOTH sides
      // (they can never be a meaningful negative, and TopKAgg's Scored
      // encoder is non-nullable by contract)
      val neg = n.join(broadcast(q), col("label") =!= col("q_label"))
        .select(col("q_id"), col("q_label"), col("vec_id"),
          cosine(dot(col("q_emb"), col("emb")), col("q_nsq"), col("nsq")).as("score"))
        .filter(col("score").isNotNull)
      val topk = udaf(new graft.functions.TopKAgg(3))
      val negTop = neg.groupBy("q_id", "q_label")
        .agg(topk(col("score"), col("vec_id")).as("top"))
        .select(col("q_id"), col("q_label"), posexplode(col("top")).as(Seq("pos", "sc")))
        .select(col("q_id"), col("q_label"),
          col("sc.id").as("vec_id"), col("sc.score").as("score"),
          (col("pos") + 1).cast(LongType).as("rk"))
      n.select(col("vec_id"), col("label").as("neg_label"))
        .join(broadcast(negTop), Seq("vec_id"))
        .join(broadcast(pos), Seq("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id"), col("neg_label"),
          col("score"), col("pos_score"),
          when(col("score") < col("pos_score"), 1L).otherwise(0L).as("semi_hard"),
          col("rk"))
    },

    // INDEX-FED hard-negative mining — the production-scale variant of
    // sim_hard_negatives: candidates come from the anchor's nprobe=2
    // IVF cells instead of a full corpus scan, so candidate generation
    // is ONE cell-keyed hash join (work ~2N/NumCentroids per anchor)
    // and the brute-force broadcast pass disappears entirely. The
    // hardest positive is likewise mined within the probed cells — an
    // anchor whose probed cells hold no same-label vector emits a NULL
    // pos_score and semi_hard=0 (the miner reports what the index can
    // see; that trade IS the difference between this row and the
    // exhaustive one). Ranking is the same O(anchors*k) TopKAgg shape.
    Q("sim_hard_negatives_ivf",
      s"""WITH v AS (SELECT vec_id, ${sqlToDouble("embedding")} AS emb, label FROM embeddings),
         |n AS (SELECT vec_id, emb, label, ${sqlNormSq("emb")} AS nsq FROM v),
         |cents AS ($centsSql),
         |cl AS (${assignSql("n", "vec_id")}),
         |cln AS (
         |  SELECT cl.vec_id, cl.emb, cl.nsq, cl.c_id, n.label
         |  FROM cl JOIN n ON n.vec_id = cl.vec_id),
         |qv AS (SELECT vec_id AS q_id, emb, nsq FROM n WHERE vec_id < $NumQueries),
         |qcl AS (${assignKSql("qv", "q_id", 2)}),
         |qmeta AS (SELECT vec_id AS q_id, label AS q_label
         |          FROM n WHERE vec_id < $NumQueries),
         |neg AS (
         |  SELECT * FROM (
         |    SELECT q.q_id, m.q_label, c.vec_id, c.label AS neg_label,
         |           ${sqlCosine(sqlDot("q.emb", "c.emb"), "q.nsq", "c.nsq")} AS score
         |    FROM qcl q
         |    JOIN qmeta m ON m.q_id = q.q_id
         |    JOIN cln c ON c.c_id = q.c_id AND c.label <> m.q_label) z
         |  WHERE score IS NOT NULL),
         |pos AS (
         |  SELECT q.q_id,
         |         max(${sqlCosine(sqlDot("q.emb", "c.emb"), "q.nsq", "c.nsq")}) AS pos_score
         |  FROM qcl q
         |  JOIN qmeta m ON m.q_id = q.q_id
         |  JOIN cln c ON c.c_id = q.c_id AND c.label = m.q_label
         |                AND c.vec_id <> q.q_id
         |  GROUP BY q.q_id)
         |SELECT t.q_id, q_label, vec_id, neg_label, score, pos_score,
         |       CAST(CASE WHEN pos_score IS NOT NULL AND score < pos_score
         |                 THEN 1 ELSE 0 END AS BIGINT) AS semi_hard,
         |       CAST(rk AS BIGINT) AS rk
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk
         |  FROM neg) t
         |LEFT JOIN pos ON pos.q_id = t.q_id
         |WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val n = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("emb"), col("label"))
        .withColumn("nsq", normSq(col("emb")))
        .persist()
      val cs = cents(n)
      val cln = assign(n, "vec_id", cs)
        .join(n.select(col("vec_id"), col("label")), "vec_id")
      val qcl = assignK(n.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("emb"), col("nsq")), "q_id", cs, 2)
        .select(col("q_id"), col("emb").as("q_emb"),
          col("nsq").as("q_nsq"), col("c_id").as("q_cid"))
      val qmeta = n.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"))
      val cand = cln.join(broadcast(qcl), col("c_id") === col("q_cid"))
        .join(broadcast(qmeta), "q_id")
      val neg = cand.filter(col("label") =!= col("q_label"))
        .select(col("q_id"), col("q_label"), col("vec_id"),
          cosine(dot(col("q_emb"), col("emb")), col("q_nsq"), col("nsq")).as("score"))
        .filter(col("score").isNotNull) // zero-norm degenerates, see brute miner
      val pos = cand.filter(col("label") === col("q_label") &&
          col("vec_id") =!= col("q_id"))
        .groupBy("q_id")
        .agg(max(cosine(dot(col("q_emb"), col("emb")),
          col("q_nsq"), col("nsq"))).as("pos_score"))
      val topk = udaf(new graft.functions.TopKAgg(3))
      val negTop = neg.groupBy("q_id", "q_label")
        .agg(topk(col("score"), col("vec_id")).as("top"))
        .select(col("q_id"), col("q_label"), posexplode(col("top")).as(Seq("pos", "sc")))
        .select(col("q_id"), col("q_label"),
          col("sc.id").as("vec_id"), col("sc.score").as("score"),
          (col("pos") + 1).cast(LongType).as("rk"))
      n.select(col("vec_id"), col("label").as("neg_label"))
        .join(broadcast(negTop), Seq("vec_id"))
        .join(broadcast(pos), Seq("q_id"), "left")
        .select(col("q_id"), col("q_label"), col("vec_id"), col("neg_label"),
          col("score"), col("pos_score"),
          when(col("pos_score").isNotNull && col("score") < col("pos_score"), 1L)
            .otherwise(0L).as("semi_hard"),
          col("rk"))
    },

    // ANN: queries are PERTURBED copies of the first NumQueries corpus
    // vectors (first element +0.01) — each query therefore has a genuine
    // near-neighbor in the corpus, almost always sharing its LSH bucket,
    // so the result set is non-empty and actually proves bucket recall
    // (r1's version queried with exact corpus members filtered out of
    // their own bucket and returned 0 rows — vacuously green).
    Q("sim_ann_lsh",
      s"""WITH v AS ($vectorsSql),
         |n AS (SELECT vec_id, emb, ${sqlNormSq("emb")} AS nsq, ${sqlLshBucket("emb")} AS bucket FROM v),
         |pq AS ($perturbedQueriesSql),
         |q AS (SELECT q_id, emb, nsq, ${sqlLshBucket("emb")} AS bucket FROM pq),
         |s AS (
         |  SELECT q.q_id, c.vec_id AS vec_id,
         |         ${sqlCosine(sqlDot("q.emb", "c.emb"), "q.nsq", "c.nsq")} AS score
         |  FROM q JOIN n c ON c.bucket = q.bucket)
         |SELECT q_id, vec_id, score, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk
         |  FROM s) t
         |WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val n = vectors(s, dir)
        .withColumn("nsq", normSq(col("emb")))
        .withColumn("bucket", lshBucket(col("emb")))
        .persist()
      val q = perturbedQueries(s, dir)
        .select(col("q_id"), col("emb").as("q_emb"),
          col("nsq").as("q_nsq"), lshBucket(col("emb")).as("q_bucket"))
      rankTop3(cosineScored(n.join(broadcast(q), col("bucket") === col("q_bucket"))))
    },

    // ANN quality measurement: recall@3 of the LSH path against the
    // exact brute-force ground truth, per query — the evaluation
    // harness any ANN deployment needs before trusting its buckets.
    // Ground truth costs one broadcast pass over the corpus (Q=10
    // queries); the LSH side reuses the bucket join. recall = n_hit/3
    // is one exact-int division, identical in both engines. Two
    // registered variants measure the probe dial: single-probe (the
    // sim_ann_lsh plan) and MULTI-PROBE, where each query also probes
    // the 16 buckets at Hamming distance 1 — up to 17x the candidate
    // work, recall can only increase, still a key-bucketed hash join.
    // (On this sparse fixture — 2^16 buckets, ~500 vectors — the
    // Hamming-1 shells add few candidates and recall ties; on a dense
    // production corpus the dial is where single-table LSH recovers
    // recall without more tables.)
    Q("sim_ann_recall", lshRecallSql(multiProbe = false))(
      lshRecallDf(_, _, multiProbe = false)),

    Q("sim_ann_recall_mp", lshRecallSql(multiProbe = true))(
      lshRecallDf(_, _, multiProbe = true)),

    // ANN via IVF (inverted file): a coarse quantizer of NumCentroids
    // deterministically-sampled corpus vectors partitions the corpus by
    // nearest centroid; a query probes only its own centroid's cell.
    // At scale the cell assignment is a per-row map against a broadcast
    // centroid table (replicated via a constant-key BroadcastHashJoin,
    // never a nested-loop join) and the probe is one hash join on the
    // cell id — work per query drops to ~N/NumCentroids. Queries are
    // the same perturbed near-neighbors sim_ann_lsh plants, so recall
    // is actually exercised.
    Q("sim_ann_ivf", ivfTop3Sql) { (s, dir) =>
      val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
      val cs = cents(n)
      rankTop3(ivfScored(s, dir, assign(n, "vec_id", cs).persist(), cs, nprobe = 1))
    },

    // IVF index PERSISTENCE: build-once/serve-many is how an ANN index
    // actually deploys — the quantizer and postings are built in one
    // batch job, written out, and a separate serving job reloads them
    // for every query batch. This query certifies that lifecycle: the
    // centroid table and the CELL-PARTITIONED posting lists (hive
    // layout on c_id — at scale a probe reads exactly its cell's
    // directory, the file-level analog of the inverted file) are
    // written to parquet, reloaded, and served nprobe=1; the oracle is
    // the in-memory IVF formulation, so a hash match proves the
    // round-tripped index serves bit-identical results (nested
    // array<double> embeddings and norms survive the format exactly).
    Q("sim_index_roundtrip", ivfTop3Sql) { (s, dir) =>
      val root = s"${Staging.dir(dir)}/sim_index"
      buildIvfIndex(s, dir, root, lit(true))
      serveIvfIndex(s, dir, root)
    },

    // INCREMENTAL index maintenance: a production index absorbs new
    // vectors without a rebuild. The base index is built WITHOUT the
    // delta slice, the delta batch is then upserted — assigned with
    // the saved (not retrained) quantizer, and only its own cells'
    // directories rewritten via dynamic partition overwrite — and the
    // query batch is served from the upserted index. The oracle is the
    // FULL-corpus in-memory IVF formulation, so a hash match proves
    // incremental maintenance converged to exactly the from-scratch
    // index (recall parity is implied by bit-identical serving).
    // SimIndexSpec additionally pins the file-level contract: cells
    // the delta does not touch keep their files byte-for-byte, and a
    // re-delivered delta converges (keyed upsert, no duplicates).
    // The base build is STAGED setup (fingerprint-guarded, built once
    // per fixture): repeat executions — the bench's warm pair, the
    // driver's verify — time exactly the lifecycle slice this row
    // certifies, the upsert+serve path, not a from-scratch build.
    Q("sim_index_upsert", ivfTop3Sql) { (s, dir) =>
      val root = s"${Staging.dir(dir)}/sim_index_upsert"
      ensureBaseIvfIndex(s, dir, root, !upsertDelta)
      upsertIvfIndex(s, dir, root, upsertDelta)
      serveIvfIndex(s, dir, root)
    },

    // IVF recall@3 against the exact brute-force ground truth: the
    // recall harness pointed at the IVF probe path, completing the
    // recall matrix over both ANN indexes (an IVF deployment needs its
    // nprobe=1 recall measured exactly as an LSH one needs its bucket
    // recall). The IVF side reuses the cell-keyed hash join.
    Q("sim_ann_recall_ivf", ivfRecallSql(nprobe = 1))(
      ivfRecallDf(_, _, nprobe = 1)),

    // The nprobe dial: each query probes its 2 nearest cells (the
    // standard IVF recall/latency trade). Candidate work doubles to
    // ~2N/NumCentroids per query; recall can only be >= the nprobe=1
    // row (the probed cell set is a superset), and the probe is STILL
    // one cell-keyed hash join — the query side just carries two cell
    // rows per query into the same join.
    Q("sim_ann_recall_ivf_np2", ivfRecallSql(nprobe = 2))(
      ivfRecallDf(_, _, nprobe = 2)),

    // ── semantic dedup (SemDeDup-style) ─────────────────────────────
    // Cluster the corpus with the coarse quantizer, then drop any
    // vector with a SMALLER-id near-twin (cosine > SemTau) in its own
    // cluster — the SemDeDup recipe (Abbas et al. 2023): restricting
    // the near-dup search to within-cluster pairs turns an O(N²)
    // all-pairs problem into Σ|cluster|², controlled by cluster
    // granularity — which is why k MUST scale with the corpus:
    // k = max(8, N/SemClusterTarget) holds the pair volume at
    // ~N·target (linear), where round 12's fixed k=8 made it N²/8
    // (measured 84x time at 10x data in the first full sf10 bench).
    // Scale shape: one bounded count anchor, one broadcast assign map
    // stage, one hash-shuffle self-join on the cluster key, one
    // distinct, one left anti-style flag join — nothing global.
    // Output: every vector with its cluster and kept/dropped verdict
    // (kept = no smaller-id twin above SemTau).
    Q("dedup_semantic",
      s"""WITH $corpusSql,
         |cents AS ($semCentsSql),
         |cl AS ($assignSemSql),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM cl a JOIN cl b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
         |  WHERE ${sqlCosine(sqlDot("a.emb", "b.emb"), "a.nsq", "b.nsq")} > CAST($SemTau AS DOUBLE))
         |SELECT c.vec_id, c.c_id,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM cl c LEFT JOIN dropped d ON c.vec_id = d.vec_id""".stripMargin) {
      (s, dir) =>
      val cl = semClusteredVectors(s, dir).persist()
      val dropped = semanticDropped(cl)
      cl.join(dropped.withColumn("is_dropped", lit(1L)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("c_id"),
          when(col("is_dropped").isNull, 1L).otherwise(0L)
            .cast(LongType).as("kept"))
    },

    // ── hierarchical SemDeDup: the extreme-scale assignment rung ────
    // Same contract and output shape as dedup_semantic, with the flat
    // N·k nearest-centroid scoring replaced by the two-level
    // coarse→fine routing of assignSemHier (≈2N√k dots instead of
    // N·k). The within-cluster drop logic downstream is IDENTICAL —
    // this row certifies that the hierarchical assignment is exactly
    // reproducible cross-engine (three chained float argmaxes with
    // deterministic tie-breaks), not that it equals the flat
    // assignment (it is an approximation of it by design).
    Q("dedup_semantic_hier",
      s"""WITH $corpusSql,
         |kk AS (SELECT GREATEST($NumCentroids, count(*) // $SemClusterTarget) AS k FROM n),
         |fc AS (SELECT vec_id AS c_id, emb AS c_emb, nsq AS c_nsq FROM n
         |       WHERE vec_id < (SELECT k FROM kk)),
         |gc AS (SELECT vec_id AS g_id, emb AS g_emb, nsq AS g_nsq FROM n
         |       WHERE vec_id < (SELECT GREATEST($NumCentroids,
         |         CAST(ceil(sqrt(k)) AS BIGINT)) FROM kk)),
         |f2g AS (SELECT f_id, g_id FROM (
         |    SELECT f.c_id AS f_id, g.g_id,
         |      row_number() OVER (PARTITION BY f.c_id
         |        ORDER BY ${sqlCosine(sqlDot("f.c_emb", "g.g_emb"), "f.c_nsq", "g.g_nsq")} DESC, g.g_id) AS rn
         |    FROM fc f CROSS JOIN gc g) x WHERE rn = 1),
         |v2g AS (SELECT vec_id, g_id FROM (
         |    SELECT t.vec_id, g.g_id,
         |      row_number() OVER (PARTITION BY t.vec_id
         |        ORDER BY ${sqlCosine(sqlDot("t.emb", "g.g_emb"), "t.nsq", "g.g_nsq")} DESC, g.g_id) AS rn
         |    FROM n t CROSS JOIN gc g) x WHERE rn = 1),
         |cl AS ($assignSemHierSql),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM cl a JOIN cl b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
         |  WHERE ${sqlCosine(sqlDot("a.emb", "b.emb"), "a.nsq", "b.nsq")} > CAST($SemTau AS DOUBLE))
         |SELECT c.vec_id, c.c_id,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM cl c LEFT JOIN dropped d ON c.vec_id = d.vec_id""".stripMargin) {
      (s, dir) =>
      val cl = semHierClusteredVectors(s, dir).persist()
      val dropped = semanticDropped(cl)
      cl.join(dropped.withColumn("is_dropped", lit(1L)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("c_id"),
          when(col("is_dropped").isNull, 1L).otherwise(0L)
            .cast(LongType).as("kept"))
    },

    // ── cluster labeling: distinctive terms per semantic cluster ────
    // The step a curation pipeline runs right after clustering: "what
    // IS each cluster about" — the top-5 most distinctive tokens per
    // k-means cell, joining the embedding-space structure back to the
    // text it indexes (doc_id == vec_id, the curate_semantic
    // convention). Distinctiveness is the chi-square-flavored keyness
    // ratio c_df²/g_df (cluster doc-frequency squared over corpus
    // doc-frequency) — monotone in "frequent HERE, rare elsewhere" and
    // a ratio of exact integers, so it is bit-identical cross-engine
    // where a log-based PMI/TF-IDF score would drift. Scale shape: one
    // hash equi-join docs↔assignments on the doc key, a (c_id, tok)
    // hash agg, a tok-partitioned window sum for g_df (each doc is in
    // exactly one cluster, so g_df = Σ_c c_df — no second pass over
    // the exploded tokens), and a c_id-partitioned rank that
    // WindowGroupLimit
    // rewrites to per-partition top-5 heads — no global ordering, no
    // unpartitioned window.
    Q("sim_cluster_terms",
      s"""WITH $corpusSql,
         |cents AS ($centsSql),
         |cl AS (${assignSql("n", "vec_id")}),
         |j AS (
         |  SELECT cl.c_id, d.doc_id,
         |    unnest(list_distinct(string_split(d.text, ' '))) AS tok
         |  FROM cl JOIN documents d ON d.doc_id = cl.vec_id),
         |cdf AS (SELECT c_id, tok, count(*) AS c_df FROM j GROUP BY c_id, tok),
         |sc AS (
         |  SELECT c_id, tok, CAST(c_df AS BIGINT) AS c_df,
         |    CAST(sum(c_df) OVER (PARTITION BY tok) AS BIGINT) AS g_df,
         |    CAST(c_df * c_df AS DOUBLE) / sum(c_df) OVER (PARTITION BY tok) AS score
         |  FROM cdf)
         |SELECT c_id, tok, c_df, g_df, score, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY c_id ORDER BY score DESC, tok) AS rk
         |  FROM sc) t
         |WHERE rk <= 5""".stripMargin) { (s, dir) =>
      val cl = clusteredVectors(s, dir).select(col("vec_id"), col("c_id"))
      val j = Tables.load(s, dir, "documents")
        .join(cl, col("doc_id") === col("vec_id"))
        .select(col("c_id"), col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
      // each doc sits in exactly ONE cluster, so the corpus df is the
      // sum of the cluster dfs — a tok-partitioned window sum over the
      // (c_id, tok) aggregate, no second pass over the exploded tokens
      // and no join back
      val cdf = j.groupBy("c_id", "tok").agg(count(lit(1)).as("c_df"))
      val wT = Window.partitionBy("tok")
      val sc = cdf
        .withColumn("g_df", sum(col("c_df")).over(wT))
        .select(col("c_id"), col("tok"), col("c_df"), col("g_df"),
          ((col("c_df") * col("c_df")).cast(org.apache.spark.sql.types.DoubleType) /
            col("g_df")).as("score"))
      val w = Window.partitionBy("c_id").orderBy(col("score").desc, col("tok").asc)
      sc.withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 5)
        .select("c_id", "tok", "c_df", "g_df", "score", "rk")
    },

    // ── product-quantization encode ─────────────────────────────────
    // The PQ compression pass an ANN serving layer materializes: each
    // vector becomes M small codes (here 4×2 bits standing in for the
    // production 8-bit codebooks). Plan: subvector explode (per-row
    // generator), broadcast codebook join on the subspace key, and a
    // (vec_id, m)-partitioned argmax window — every stage partition-
    // parallel, no global ordering anywhere.
    Q("sim_pq_codes",
      s"""WITH v AS ($vectorsSql),
         |$pqCodesSql
         |SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code
         |FROM codes""".stripMargin) { (s, dir) =>
      val subs = pqSubs(vectors(s, dir), "vec_id")
      pqCodes(subs, pqCodebook(subs))
        .select(col("vec_id"), col("m").cast(LongType).as("m"),
          col("code").cast(LongType).as("code"))
    },

    // ── PQ asymmetric-distance recall@3 vs brute-force truth ────────
    // Completes the recall matrix's third row (LSH, IVF, PQ): score
    // every vector from its codes alone via the classic ADC lookup
    // table — lut(q, m, k) = dot(q_sub_m, codeword_{m,k}), and a
    // vector's approximate cosine is the code-gathered sum divided by
    // the reconstructed norm. Cross-engine determinism: lut partials
    // and codeword norms² are floor-quantized to int64 BEFORE the
    // per-vector sum (int sums are order-independent where a 4-double
    // sum would depend on association order), then ONE division +
    // sqrt. Scale shape: codes are M ints per vector (the point of
    // PQ), the lut is O(Q·M·K) broadcast, scoring is one hash agg on
    // (q_id, vec_id) — the full-scan ADC baseline an IVF list-pruning
    // layer would sit on top of.
    Q("sim_ann_recall_pq", recallAt3Sql(
      s"""$corpusSql,
         |$pqCodesSql,
         |pq AS ($perturbedQueriesSql),
         |$pqLutSql,
         |scored AS (
         |  SELECT l.q_id, cd.vec_id,
         |    CAST(sum(l.ipq) AS DOUBLE) AS sip,
         |    CAST(sum(cd.ccq) AS DOUBLE) AS srec
         |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.k = cd.code
         |  GROUP BY l.q_id, cd.vec_id)""".stripMargin,
      top3Sql("s.q_id", "s.vec_id",
        "(s.sip / 1000000000.0) / (sqrt(p.nsq) * sqrt(s.srec / 1000000000.0))",
        "scored s JOIN pq p ON p.q_id = s.q_id"))) { (s, dir) =>
      val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
      val subs = pqSubs(n, "vec_id")
      val cb = pqCodebook(subs)
      val codes = pqCodes(subs, cb)
      val pqq = perturbedQueries(s, dir)
      val lut = pqSubs(pqq, "q_id").join(broadcast(cb), Seq("m"))
        .select(col("q_id"), col("m").as("lm"), col("k"),
          floor(dotN(col("sub"), col("c_sub"), PqSub) * lit(1000000000.0))
            .cast(LongType).as("ipq"))
      val scored = codes
        .join(broadcast(lut), col("lm") === col("m") && col("k") === col("code"))
        .groupBy("q_id", "vec_id")
        .agg(sum("ipq").cast(org.apache.spark.sql.types.DoubleType).as("sip"),
          sum("ccq").cast(org.apache.spark.sql.types.DoubleType).as("srec"))
      val qn = pqq.select(col("q_id"), col("nsq").as("q_nsq"))
      val qBase = pqq.select(col("q_id"), col("emb").as("q_emb"), col("nsq").as("q_nsq"))
      recallAt3(n, qBase,
        scored.join(broadcast(qn), Seq("q_id")).withColumn("score", adcScore))
    },

    // ── IVF+PQ composition: cell-pruned ADC recall@3 ────────────────
    // The production ANN serving architecture (Jégou et al. 2011): the
    // IVF coarse quantizer prunes the candidate set to the query's
    // cell, and PQ asymmetric distance scores the survivors from
    // their M-int codes alone — the full vectors are touched by
    // NEITHER stage at query time. Composes the registered pieces
    // verbatim (same centroids as sim_ann_ivf, same codes/lut as
    // sim_ann_recall_pq), so the recall matrix's bottom row measures
    // exactly the deployed combination: candidate hash join on the
    // cell key, code join + broadcast lut, one (q_id, vec_id) agg of
    // int64-quantized partials. Recall vs brute truth quantifies both
    // losses (pruning + quantization) together.
    Q("sim_ann_recall_ivfpq", ivfPqRecallSql(nprobe = 1))(
      ivfPqRecallDf(_, _, nprobe = 1)),

    // The nprobe dial on the composed index: the query probes its 2
    // nearest cells and ADC scores the union of both cells' codes.
    // Same plan economics as nprobe=1 (cell-keyed hash join, broadcast
    // LUT). Unlike exact-scored IVF (where a superset candidate set
    // provably never loses a true hit), ADC scores are quantized, so a
    // widened candidate CAN in principle displace a true hit —
    // dominance over the single-probe row is pinned empirically on the
    // fixture (IvfProbeSpec), not claimed as a theorem.
    Q("sim_ann_recall_ivfpq_np2", ivfPqRecallSql(nprobe = 2))(
      ivfPqRecallDf(_, _, nprobe = 2)),

    // One Lloyd iteration of (spherical) k-means over the corpus:
    // cosine-argmax assignment against the current centroids (the
    // shared `assign` broadcast map stage), then per-cluster per-dim
    // means as the NEW centroids. Iterating = repeating this exact
    // plan with the output fed back as `cents` — each step is one
    // broadcast map + one (cluster, dim)-keyed hash agg, the scalable
    // k-means formulation (no driver-side state beyond k centroids).
    // Cross-engine determinism: per-dim values are floor-quantized to
    // 1e-9 BEFORE summing (floor on a double is exact and identical in
    // both engines; BIGINT sums are order-independent), so the mean is
    // one exact-integer sum and one double division — bit-identical,
    // where a naive double sum would drift with accumulation order.
    Q("q_kmeans_step",
      s"""WITH $corpusSql,
         |cents AS ($centsSql),
         |cl AS (${assignSql("n", "vec_id")}),
         |d AS (
         |  SELECT c_id, CAST(u.s.dim AS BIGINT) AS dim,
         |         CAST(floor(u.s.x * 1000000000.0) AS BIGINT) AS qx
         |  FROM cl, unnest(list_transform(emb,
         |         (x, i) -> struct_pack(dim := i, x := x))) u(s))
         |SELECT c_id, dim, count(*) AS n,
         |       CAST(sum(qx) AS DOUBLE) / (count(*) * 1000000000.0) AS c_val
         |FROM d GROUP BY c_id, dim""".stripMargin) { (s, dir) =>
      val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
      val clustered = assign(n, "vec_id", cents(n))
      clustered
        .select(col("c_id"), posexplode(col("emb")).as(Seq("pos", "x")))
        // DuckDB's list_transform index is 1-based; posexplode is
        // 0-based — align on the 1-based dim
        .select(col("c_id"), (col("pos") + 1).cast(LongType).as("dim"),
          floor(col("x") * lit(1000000000.0)).cast(LongType).as("qx"))
        .groupBy("c_id", "dim")
        .agg(count(lit(1)).as("n"),
          (sum("qx").cast(org.apache.spark.sql.types.DoubleType) /
            (count(lit(1)) * lit(1000000000.0))).as("c_val"))
    },

    // ── k-means run to THREE full Lloyd iterations ──────────────────
    // The loop q_kmeans_step is one round of: assign to nearest
    // centroid (broadcast map stage) -> per-cluster per-dim quantized
    // mean (two hash aggs) -> rebuild centroid vectors. Determinism
    // across engines holds through the loop because every mean is an
    // exact int64 sum of floor-quantized values divided once, rebuilt
    // arrays are dim-ordered, and the dot product is a fixed-order
    // fold — so iteration k's doubles are bit-identical inputs to
    // iteration k+1's argmin in both engines. Empty clusters drop out
    // (deterministically) rather than being re-seeded. Scale shape per
    // iteration: one broadcast of K vectors, one explode, two
    // map-side-combinable aggs — no shuffle grows with K.
    Q("q_kmeans3", {
      def layer(k: Int): String = {
        val prev = if (k == 1) "cents" else s"cents${k - 1}"
        s"""cl$k AS (${assignSql("n", "vec_id", prev)}),
           |d$k AS (
           |  SELECT c_id, CAST(u.s.dim AS BIGINT) AS dim,
           |         CAST(floor(u.s.x * 1000000000.0) AS BIGINT) AS qx
           |  FROM cl$k, unnest(list_transform(emb,
           |         (x, i) -> struct_pack(dim := i, x := x))) u(s)),
           |m$k AS (
           |  SELECT c_id, dim, count(*) AS n,
           |         CAST(sum(qx) AS DOUBLE) / (count(*) * 1000000000.0) AS c_val
           |  FROM d$k GROUP BY c_id, dim),
           |cents$k AS (
           |  SELECT c_id, c_emb, ${sqlNormSq("c_emb")} AS c_nsq FROM (
           |    SELECT c_id, list(c_val ORDER BY dim) AS c_emb
           |    FROM m$k GROUP BY c_id) t)""".stripMargin
      }
      s"""WITH $corpusSql,
         |cents AS ($centsSql),
         |${layer(1)},
         |${layer(2)},
         |${layer(3)}
         |SELECT c_id, dim, n, c_val FROM m3""".stripMargin
    }) { (s, dir) =>
      val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
      var cs = cents(n)
      var means: DataFrame = null
      for (_ <- 1 to 3) {
        means = assign(n, "vec_id", cs)
          .select(col("c_id"), posexplode(col("emb")).as(Seq("pos", "x")))
          .select(col("c_id"), (col("pos") + 1).cast(LongType).as("dim"),
            floor(col("x") * lit(1000000000.0)).cast(LongType).as("qx"))
          .groupBy("c_id", "dim")
          .agg(count(lit(1)).as("n"),
            (sum("qx").cast(org.apache.spark.sql.types.DoubleType) /
              (count(lit(1)) * lit(1000000000.0))).as("c_val"))
        // rebuild dim-ordered centroid vectors; collect_list order is
        // arbitrary, so sort the (dim, value) structs, then project
        cs = means
          .groupBy("c_id")
          .agg(array_sort(collect_list(struct(col("dim"), col("c_val"))))
            .as("sorted"))
          .select(col("c_id"),
            transform(col("sorted"), e => e.getField("c_val")).as("c_emb"))
          .withColumn("c_nsq", normSq(col("c_emb")))
      }
      means
    },

    // ── per-dimension embedding statistics (normalization profile) ──
    // Mean and population variance of every embedding dimension — the
    // stats a feature-normalization / whitening step consumes. The
    // q_kmeans_step quantization discipline extended to second
    // moments: values floor-quantize to int64 (qx = floor(x·1e9));
    // sum(qx) stays in BIGINT, while qx² is computed AND summed in
    // DECIMAL (qx² ~ 9e16 crosses int64's sum headroom within ~100
    // rows, and the product itself overflows int64 at |x| ≳ 3), and
    // each exact sum is cast to double ONCE — order-independent and
    // bit-identical cross-engine. Scale shape: one explode + one
    // map-side-combinable hash agg to a dim-sized relation.
    Q("sim_dim_stats",
      s"""WITH v AS ($vectorsSql),
         |d AS (
         |  SELECT CAST(u.s.dim AS BIGINT) AS dim,
         |         CAST(floor(u.s.x * 1000000000.0) AS BIGINT) AS qx
         |  FROM v, unnest(list_transform(emb,
         |         (x, i) -> struct_pack(dim := i, x := x))) u(s)),
         |m AS (
         |  SELECT dim, count(*) AS n,
         |    CAST(sum(qx) AS DOUBLE) AS sq,
         |    CAST(CAST(sum(CAST(qx AS DECIMAL(19,0)) * CAST(qx AS DECIMAL(19,0)))
         |         AS STRING) AS DOUBLE) AS ssq
         |  FROM d GROUP BY dim)
         |SELECT dim, n, sq / (n * 1000000000.0) AS mean,
         |  ssq / (n * 1.0e18)
         |    - (sq / (n * 1000000000.0)) * (sq / (n * 1000000000.0)) AS var_pop
         |FROM m""".stripMargin) { (s, dir) =>
      val m = vectors(s, dir)
        .select(posexplode(col("emb")).as(Seq("pos", "x")))
        .select((col("pos") + 1).cast(LongType).as("dim"),
          floor(col("x") * lit(1000000000.0)).cast(LongType).as("qx"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum("qx").cast(org.apache.spark.sql.types.DoubleType).as("sq"),
          // qx enters DECIMAL BEFORE the multiply: an int64 qx*qx
          // overflows for |x| >= ~3.04 (DuckDB would throw, Spark
          // would silently wrap); (19,0)x(19,0) -> (38,0) is exact
          // and legal in both engines
          sum(col("qx").cast(org.apache.spark.sql.types.DecimalType(19, 0)) *
            col("qx").cast(org.apache.spark.sql.types.DecimalType(19, 0)))
            .cast(org.apache.spark.sql.types.DoubleType).as("ssq"))
      val mean = col("sq") / (col("n") * lit(1000000000.0))
      m.select(col("dim"), col("n"), mean.as("mean"),
        (col("ssq") / (col("n") * lit(1.0e18)) - mean * mean).as("var_pop"))
    },

    // ── embedding drift between ingestion cohorts ───────────────────
    // The distribution-drift monitor an embedding index needs before
    // deciding to re-train centroids / rebuild codebooks: per
    // dimension, the mean under an "old" vs "new" ingestion cohort
    // (vec_id parity stands in for the snapshot key) and the shift
    // between them. Same int64 quantization as sim_dim_stats (floor
    // x·1e9) so the per-cohort sums are exact integers — the means and
    // the shift are then order-independent where raw double sums would
    // differ between Spark's parallel reduction and a serial engine.
    // Scale shape: one posexplode (per-row generator, no shuffle) and
    // ONE hash agg on the dimension key with conditional per-cohort
    // partials — a single pass however many snapshots the real key has.
    Q("sim_dim_drift",
      s"""WITH v AS ($vectorsSql),
         |d AS (
         |  SELECT CAST(u.s.dim AS BIGINT) AS dim, vec_id % 2 AS cohort,
         |         CAST(floor(u.s.x * 1000000000.0) AS BIGINT) AS qx
         |  FROM v, unnest(list_transform(emb,
         |         (x, i) -> struct_pack(dim := i, x := x))) u(s)),
         |m AS (
         |  SELECT dim,
         |    CAST(count(CASE WHEN cohort = 0 THEN 1 END) AS BIGINT) AS n_a,
         |    CAST(count(CASE WHEN cohort = 1 THEN 1 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN cohort = 0 THEN qx ELSE 0 END) AS DOUBLE) AS sqa,
         |    CAST(sum(CASE WHEN cohort = 1 THEN qx ELSE 0 END) AS DOUBLE) AS sqb
         |  FROM d GROUP BY dim)
         |SELECT dim, n_a, n_b,
         |  sqa / (n_a * 1000000000.0) AS mean_a,
         |  sqb / (n_b * 1000000000.0) AS mean_b,
         |  sqb / (n_b * 1000000000.0) - sqa / (n_a * 1000000000.0) AS shift
         |FROM m""".stripMargin) { (s, dir) =>
      val m = vectors(s, dir)
        .select(col("vec_id"), posexplode(col("emb")).as(Seq("pos", "x")))
        .select((col("pos") + 1).cast(LongType).as("dim"),
          (col("vec_id") % 2).as("cohort"),
          floor(col("x") * lit(1000000000.0)).cast(LongType).as("qx"))
        .groupBy("dim")
        .agg(
          count(when(col("cohort") === 0, 1)).as("n_a"),
          count(when(col("cohort") === 1, 1)).as("n_b"),
          sum(when(col("cohort") === 0, col("qx")).otherwise(0L))
            .cast(org.apache.spark.sql.types.DoubleType).as("sqa"),
          sum(when(col("cohort") === 1, col("qx")).otherwise(0L))
            .cast(org.apache.spark.sql.types.DoubleType).as("sqb"))
      val meanA = col("sqa") / (col("n_a") * lit(1000000000.0))
      val meanB = col("sqb") / (col("n_b") * lit(1000000000.0))
      m.select(col("dim"), col("n_a"), col("n_b"),
        meanA.as("mean_a"), meanB.as("mean_b"), (meanB - meanA).as("shift"))
    },

    // ── cosine histogram over LSH candidate pairs ───────────────────
    // The threshold-tuning diagnostic for every near-dup / ANN dial:
    // the distribution of cosine similarity across same-bucket
    // candidate pairs, binned to 0.1. Scale shape: the ONLY join is
    // the bucket-key self-join (hash join, O(Σ bucket²) candidates —
    // the LSH contract), then a map-side-combinable agg to a ≤21-row
    // relation. Cosine is the fixed-order VectorFns fold, so doubles
    // and therefore floor-bins match the oracle exactly.
    Q("sim_pair_hist",
      s"""WITH v AS ($vectorsSql),
         |n AS (SELECT vec_id, emb, ${sqlNormSq("emb")} AS nsq,
         |        ${sqlLshBucket("emb")} AS bucket FROM v),
         |p AS (
         |  SELECT ${sqlCosine(sqlDot("a.emb", "b.emb"), "a.nsq", "b.nsq")} AS cos
         |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT CAST(floor(cos * 10.0) AS BIGINT) AS bin, count(*) AS n_pairs
         |FROM p GROUP BY 1""".stripMargin) { (s, dir) =>
      val n = vectors(s, dir)
        .withColumn("nsq", normSq(col("emb")))
        .withColumn("bucket", lshBucket(col("emb")))
        .persist()
      val a = n.select(col("bucket"), col("vec_id").as("a_id"),
        col("emb").as("a_emb"), col("nsq").as("a_nsq"))
      val b = n.select(col("bucket"), col("vec_id").as("b_id"),
        col("emb").as("b_emb"), col("nsq").as("b_nsq"))
      a.join(b, "bucket")
        .filter(col("a_id") < col("b_id"))
        .select(cosine(dot(col("a_emb"), col("b_emb")),
          col("a_nsq"), col("b_nsq")).as("cos"))
        .groupBy(floor(col("cos") * 10.0).cast(LongType).as("bin"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    // ── hybrid retrieval: BM25 x dense cosine, RRF-fused ────────────
    // The standard modern retrieval stack (and the retrieval half of
    // RAG data pipelines): for each query document, a SPARSE ranking
    // (BM25 over the query doc's tokens — "more-like-this") and a
    // DENSE ranking (embedding cosine, doc_id == vec_id by fixture
    // contract) are fused by reciprocal-rank fusion
    // rrf = Σ 1/(60 + rank). Design notes for scale + exactness:
    //  - per query doc, only its 10 RAREST tokens (df asc) participate
    //    — Lucene more-like-this term selection: bounds the token-keyed
    //    candidate join against stopword blowup on ANY corpus df shape
    //    (an absolute df cut is vacuous when the whole vocabulary is
    //    common, as this fixture's is) — the sparse side stays a hash
    //    join on token;
    //  - each (query, doc, token) BM25 contribution is quantized to
    //    int64 (floor(x * 1e6)) BEFORE summation, so the per-pair
    //    score is an exact integer sum — double addition order can
    //    never drift between engines (same trick as the PQ ADC path);
    //  - both rankers keep their top-20 per query; RRF reads the rank
    //    INTEGERS, so the fused score is one fixed double expression;
    //  - the dense side is corpus x broadcast(5 query rows) and the
    //    corpus-stats attach is a 1-row broadcast — the two documented
    //    O(1)-bounded nested-loop replicates (PlanSpec budget).
    Q("q_hybrid_rrf", {
      val idf = "(CAST(f.n_docs - f.df + 0.5 AS DOUBLE) / (f.df + 0.5))"
      val sat = "((CAST(t.tf AS DOUBLE) * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * (CAST(s.dl AS DOUBLE) / f.avgdl))))"
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |st AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM d),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(len(tokens)) AS DOUBLE) / count(*) AS avgdl FROM d),
         |tok AS (SELECT doc_id, unnest(tokens) AS token FROM d),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY doc_id, token),
         |dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |qt AS (SELECT doc_id AS q_id, token FROM tf WHERE doc_id < 5),
         |qsel AS (
         |  SELECT q_id, token, df, n_docs, avgdl FROM (
         |    SELECT q.q_id, q.token, f.df, g.n_docs, g.avgdl,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY f.df ASC, q.token) AS tr
         |    FROM qt q JOIN dfr f ON f.token = q.token, g) z
         |  WHERE tr <= 10),
         |sp AS (
         |  SELECT f.q_id, t.doc_id,
         |    sum(CAST(floor(($idf * $sat) * 1000000.0) AS BIGINT)) AS qscore
         |  FROM qsel f
         |  JOIN tf t ON t.token = f.token AND t.doc_id <> f.q_id
         |  JOIN st s ON s.doc_id = t.doc_id
         |  GROUP BY f.q_id, t.doc_id),
         |s20 AS (
         |  SELECT q_id, doc_id, rs FROM (
         |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY qscore DESC, doc_id) AS rs FROM sp) z
         |  WHERE rs <= 20),
         |$corpusSql,
         |qv AS (SELECT vec_id AS q_id, emb, nsq FROM n WHERE vec_id < 5),
         |de AS (
         |  SELECT q.q_id, c.vec_id AS doc_id,
         |    ${sqlCosine(sqlDot("q.emb", "c.emb"), "q.nsq", "c.nsq")} AS cos
         |  FROM qv q JOIN n c ON c.vec_id <> q.q_id),
         |d20 AS (
         |  SELECT q_id, doc_id, rd FROM (
         |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, doc_id) AS rd FROM de) z
         |  WHERE rd <= 20),
         |fused AS (
         |  SELECT COALESCE(s.q_id, dd.q_id) AS q_id,
         |         COALESCE(s.doc_id, dd.doc_id) AS doc_id,
         |         s.rs AS rs, dd.rd AS rd,
         |         COALESCE(CAST(1 AS DOUBLE) / (60 + s.rs), 0.0) +
         |         COALESCE(CAST(1 AS DOUBLE) / (60 + dd.rd), 0.0) AS rrf
         |  FROM s20 s FULL OUTER JOIN d20 dd
         |    ON s.q_id = dd.q_id AND s.doc_id = dd.doc_id)
         |SELECT q_id, doc_id, rs, rd, rrf, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf DESC, doc_id) AS rk FROM fused) t
         |WHERE rk <= 10""".stripMargin
    }) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tokens")).persist()
      val st = d.select(col("doc_id"), size(col("tokens")).cast(LongType).as("dl"))
      val g = d.agg(count(lit(1)).cast(LongType).as("n_docs"),
        (sum(size(col("tokens"))).cast(org.apache.spark.sql.types.DoubleType) /
          count(lit(1))).as("avgdl"))
      val tf = d.select(col("doc_id"), explode(col("tokens")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")).persist()
      val dfr = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val qt = tf.filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"), col("token"))
      val idf = (col("n_docs") - col("df") + 0.5)
        .cast(org.apache.spark.sql.types.DoubleType) / (col("df") + 0.5)
      val sat = (col("tf").cast(org.apache.spark.sql.types.DoubleType) * 2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast(org.apache.spark.sql.types.DoubleType) / col("avgdl"))))
      // query-term selection BEFORE candidate generation: each query
      // doc contributes only its 10 rarest tokens, so the token-keyed
      // candidate join is bounded per query on any corpus df shape
      // (the per-query rank is a window over ~doc-length rows)
      val wT = Window.partitionBy("q_id").orderBy(col("df").asc, col("token"))
      val qsel = qt.join(dfr, "token").crossJoin(broadcast(g))
        .withColumn("tr", row_number().over(wT))
        .filter(col("tr") <= 10)
        .select("q_id", "token", "df", "n_docs", "avgdl")
      val sp = qsel
        .join(tf.select(col("token"), col("doc_id"), col("tf")), "token")
        .filter(col("doc_id") =!= col("q_id"))
        .join(st, "doc_id")
        .groupBy("q_id", "doc_id")
        .agg(sum(floor((idf * sat) * lit(1000000.0)).cast(LongType)).as("qscore"))
      val wS = Window.partitionBy("q_id").orderBy(col("qscore").desc, col("doc_id"))
      val s20 = sp.withColumn("rs", row_number().over(wS).cast(LongType))
        .filter(col("rs") <= 20).select("q_id", "doc_id", "rs")
      val n = vectors(s, dir).withColumn("nsq", normSq(col("emb"))).persist()
      val qv = n.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("nsq").as("q_nsq"))
      val de = n.join(broadcast(qv), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("doc_id"),
          cosine(dot(col("q_emb"), col("emb")), col("q_nsq"), col("nsq")).as("cos"))
      val wD = Window.partitionBy("q_id").orderBy(col("cos").desc, col("doc_id"))
      val d20 = de.withColumn("rd", row_number().over(wD).cast(LongType))
        .filter(col("rd") <= 20).select("q_id", "doc_id", "rd")
      val fused = s20.join(d20, Seq("q_id", "doc_id"), "full_outer")
        .select(col("q_id"), col("doc_id"), col("rs"), col("rd"),
          (coalesce(lit(1).cast(org.apache.spark.sql.types.DoubleType) /
            (lit(60) + col("rs")), lit(0.0)) +
            coalesce(lit(1).cast(org.apache.spark.sql.types.DoubleType) /
              (lit(60) + col("rd")), lit(0.0))).as("rrf"))
      val wF = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id"))
      fused.withColumn("rk", row_number().over(wF).cast(LongType))
        .filter(col("rk") <= 10)
        .select("q_id", "doc_id", "rs", "rd", "rrf", "rk")
    },
  )
}
