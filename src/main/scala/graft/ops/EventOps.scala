package graft.ops

import graft.{OracleSql => O, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

/** Event-stream operators over the `events` fixture table, all runnable
  * in batch. The tumbling/sliding/session transforms are defined once in
  * [[graft.streaming.EventWindows]] and shared verbatim with the
  * Structured Streaming path; StreamingEquivalenceSpec asserts the
  * streaming output equals these batch queries. The reference has no
  * streaming surface (SURVEY.md §2.2) — these are the extended
  * north-star operators, specified from public Spark semantics:
  * epoch-aligned tumbling/sliding windows (`window()`), gap-based
  * sessions (`session_window()`), and a distributed as-of join.
  */
object EventOps {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  // ── staged micro-batch stream fixtures ────────────────────────────
  // Shared by every row that drives a REAL file-source stream
  // (q_asof_stream_wm, q_stream_join, q_stream_dedup): the fixture is
  // cut into contiguous time ranges, one parquet file per range, with
  // an explicit mtime ladder so the file source processes them in
  // time-monotone order (maxFilesPerTrigger=1 → one range per
  // micro-batch, nothing ever late). The whole root is wiped per run —
  // staged (non-rewritten) stream sources measurably degrade
  // run-over-run (see the round-11 q_asof_stream_wm note in README).

  /** (min ts ms, max ts ms) of `df`'s `ts` column — one bounded
    * aggregate row, the scalar-anchor shape.
    *
    * `sentinelKeys`: rows whose exclusion-on-read-back relies on the
    * negative-id sentinel convention (q_stream_join_outer,
    * q_stream_session) pass their key columns here, and the SAME
    * anchor row asserts min(key) >= 0 over the real fixture — so a
    * future fixture that legitimately uses negative ids fails loudly
    * at staging time instead of surfacing as an opaque oracle
    * row-count mismatch after the read-back filter silently drops
    * real rows.
    */
  private[graft] def timeBounds(df: DataFrame,
      sentinelKeys: Seq[String] = Nil): (Long, Long) = {
    val aggs = Seq(min(col("ts")), max(col("ts"))) ++
      sentinelKeys.map(k => min(col(k).cast("long")))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    require(!b.isNullAt(0) && !b.isNullAt(1),
      "timeBounds: source has no non-null `ts` rows — cannot stage an empty stream")
    // key cast to long in the aggregate above, so this guard is
    // type-agnostic: an IntegerType key fixture still hits the
    // intended diagnostic, not a ClassCastException from getLong
    sentinelKeys.zipWithIndex.foreach { case (k, i) =>
      require(b.isNullAt(2 + i) || b.getLong(2 + i) >= 0L,
        s"timeBounds: fixture has negative `$k` (min=${b.getLong(2 + i)}) — " +
          "collides with the negative-id sentinel convention; the " +
          "read-back sentinel filter would drop real rows")
    }
    (b.getTimestamp(0).getTime, b.getTimestamp(1).getTime)
  }

  /** Cut `df` into `n` contiguous half-open time ranges over
    * [tminMs, tmaxMs] (last range closed above by construction).
    */
  private[graft] def timeChunks(df: DataFrame, n: Int, tminMs: Long, tmaxMs: Long)
      : Seq[(String, DataFrame)] = {
    val cuts = (0 to n).map(i => tminMs + i * ((tmaxMs - tminMs) / n + 1))
    (0 until n).map { i =>
      s"b${i + 1}" -> df.filter(
        col("ts") >= new java.sql.Timestamp(cuts(i)) &&
          col("ts") < new java.sql.Timestamp(cuts(i + 1)))
    }
  }

  /** Write each chunk as ONE parquet file under `root/src` with an
    * mtime ladder starting at `mtime0`; returns the source directory.
    * Wipes `root` first — fresh staging every run. A filesystem that
    * refuses setLastModified would silently fall back to move-time
    * mtimes (coarse-granularity ties) — fail instead.
    */
  private[graft] def stageChunks(root: String, chunks: Seq[(String, DataFrame)],
      mtime0: Long): String = {
    val srcDir = new java.io.File(s"$root/src")
    def rmTree(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree)
      f.delete(); ()
    }
    rmTree(new java.io.File(root))
    srcDir.mkdirs()
    chunks.zipWithIndex.foreach { case ((name, df), i) =>
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dst = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      if (!dst.setLastModified(mtime0 + i * 10000L))
        sys.error(s"setLastModified failed for $dst; " +
          "cannot guarantee time-monotone stream arrival order")
    }
    srcDir.getAbsolutePath
  }

  /** One-pass staging: tag each row with its contiguous time-range
    * index — the SAME uniform cuts as [[timeChunks]] (chunk i covers
    * [tmin + i*step, tmin + (i+1)*step) with step = (tmax-tmin)/n + 1,
    * so `(unix_millis(ts) - tmin) div step` reproduces the filter
    * ranges exactly) — and write ALL chunks in a single
    * partitionBy job: one scan of the source and one write commit
    * instead of n sequential filter-scan-write jobs (guide §2.4/§6:
    * the n-pass staging re-read the fixture once per chunk; measured
    * 0.6-1.0 s of the 5 s q_stream_join_outer wall at sf0.1).
    * `extra` DataFrames (sentinel chunks) append as trailing chunks.
    * File naming (`b1.parquet`..) and the mtime ladder are identical
    * to [[stageChunks]], so the file source replays the same
    * micro-batch sequence. Hash-repartitioning by the chunk tag lands
    * every chunk in exactly one task, so each partition directory
    * holds exactly one part file; an empty chunk (possible only on a
    * degenerate fixture) falls back to the single-file empty write.
    */
  private[graft] def stageChunksOnePass(root: String, df: DataFrame, n: Int,
      tminMs: Long, tmaxMs: Long, extra: Seq[DataFrame], mtime0: Long): String = {
    val srcDir = new java.io.File(s"$root/src")
    def rmTree(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree)
      f.delete(); ()
    }
    rmTree(new java.io.File(root))
    srcDir.mkdirs()
    val step = (tmaxMs - tminMs) / n + 1
    val tagged = df.withColumn("__chunk",
      ((unix_millis(col("ts")) - lit(tminMs)) / lit(step)).cast(IntegerType))
    val all = extra.zipWithIndex.foldLeft(tagged) { case (acc, (ex, i)) =>
      acc.unionByName(ex.withColumn("__chunk", lit(n + i)))
    }
    val total = n + extra.size
    val tmp = s"$root/tmp_all"
    all.repartition(total, col("__chunk"))
      .write.mode("overwrite").partitionBy("__chunk").parquet(tmp)
    (0 until total).foreach { i =>
      val dst = new java.io.File(srcDir, s"b${i + 1}.parquet")
      val part = Option(new java.io.File(s"$tmp/__chunk=$i").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      part match {
        case Some(p) => java.nio.file.Files.move(p.toPath, dst.toPath)
        case None =>
          // empty chunk: no directory was written; stage an empty
          // single file with the source schema (the old per-chunk path)
          val etmp = s"$root/tmp_empty_$i"
          df.filter(lit(false)).coalesce(1).write.mode("overwrite").parquet(etmp)
          val ep = new java.io.File(etmp).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file under $etmp"))
          java.nio.file.Files.move(ep.toPath, dst.toPath)
      }
      if (!dst.setLastModified(mtime0 + i * 10000L))
        sys.error(s"setLastModified failed for $dst; " +
          "cannot guarantee time-monotone stream arrival order")
    }
    srcDir.getAbsolutePath
  }

  /** Run `streamed` to completion against `root/ckpt`, appending each
    * micro-batch to `root/out` as parquet (distributed writes, nothing
    * driver-side), and return the read-back with the stream's own
    * schema (a zero-row result must be an empty DataFrame, not a
    * schema-inference error). Sizes the stateful shuffle to the stream
    * (8 partitions): state-store instances scale as partitions x
    * micro-batches and the checkpoint pins the count at first start —
    * the per-stream sizing a production stateful job sets.
    */
  private[graft] def runStreamAppend(s: SparkSession, root: String,
      streamed: DataFrame): DataFrame = {
    val out = s"$root/out"
    val outSchema = streamed.schema
    // getOption/unset (not get/set): get() resolves the session default
    // when the key was never set, and restoring THAT would pin the
    // default explicitly — same restore pattern as the q_skew_join dials.
    val savedParts = s.conf.getOption("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = streamed.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .start()
      try { q.processAllAvailable() } finally { q.stop() }
    } finally savedParts match {
      case Some(v) => s.conf.set("spark.sql.shuffle.partitions", v)
      case None    => s.conf.unset("spark.sql.shuffle.partitions")
    }
    s.read.schema(outSchema).parquet(out)
  }

  /** Number of hash-bucket partitions of the q_stream_upsert keyed
    * table — sized for the fixture; a production table sizes buckets
    * so one bucket ≈ one comfortable rewrite unit.
    */
  private[graft] val UpsertBuckets = 16

  /** One last-write-wins MERGE of `batch` (event rows: event_id, ts,
    * user_id, value) into the keyed parquet table at `table`
    * (user_id, last_ts, last_event_id, last_value, partitioned by
    * bucket = user_id % UpsertBuckets) — the foreachBatch body of
    * q_stream_upsert, factored so StreamingUpsertSpec can drive the
    * EXACT production merge with a replayed batch.
    *
    * Scale shape: the current state is read PARTITION-PRUNED to the
    * buckets the batch touches, merged with the batch's per-key
    * winners (max_by (ts, event_id) — a hash agg with map-side
    * combine), and written back with DYNAMIC partition overwrite, so
    * a batch touching k of the table's buckets rewrites k partitions
    * and never opens the rest. Idempotent by construction: max_by
    * over (ts, event_id) is order-independent and duplicate-stable,
    * so at-least-once re-delivery (a replayed micro-batch after
    * restart) re-derives identical partition content.
    *
    * The struct-keyed max_by here plans as a partial SORT-aggregate
    * (non-primitive buffer) — the same shape the round-14 SemDeDup
    * fix removed from assignSem. It is acceptable HERE because the
    * aggregate's input is bounded by construction: one micro-batch
    * plus the state of the buckets it touches, and the bucket count
    * is sized so one bucket ≈ one comfortable rewrite unit (see
    * UpsertBuckets above) — the sort never sees more than k rewrite
    * units of rows, regardless of total table size. If that sizing
    * invariant is ever relaxed (unbounded per-bucket state), apply
    * the assignSem two-pass primitive-buffer argmax (max(ts) per key,
    * join back, break ties on max(event_id)) instead.
    *
    * The existing slice is localCheckpoint'ed (materialized, lineage
    * cut) before the overwrite — Spark refuses a write whose plan
    * still reads the destination path. A real deployment gets this
    * read-your-own-table atomicity from a table format's snapshot
    * isolation (Delta/Iceberg MERGE); the layout machinery this
    * certifies — bucket pruning, touched-partition-only rewrite — is
    * the same there.
    */
  private[graft] def upsertEventsBatch(table: String, batch: DataFrame): Unit = {
    if (batch.isEmpty) return
    val s = batch.sparkSession
    val bucketOf = (c: Column) => c % UpsertBuckets
    val asEvents = (df: DataFrame) => df.select(
      col("user_id"), col("last_ts").as("ts"),
      col("last_event_id").as("event_id"), col("last_value").as("value"))
    // existence probe through the Hadoop FileSystem of the table's
    // OWN scheme (file:, hdfs:, s3a:, ...) — a java.io.File probe is
    // always false off the local FS and would silently drop existing
    // state on the first batch of a restarted job
    val tablePath = new org.apache.hadoop.fs.Path(table)
    val tableFs = tablePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val existing =
      if (tableFs.exists(tablePath)) {
        val touched = batch.select(bucketOf(col("user_id")).as("b"))
          .distinct().collect().map(_.getLong(0)) // bounded: <= UpsertBuckets
        Some(asEvents(s.read.parquet(table)
          .filter(col("bucket").isin(touched.toSeq: _*)))
          .localCheckpoint(true))
      } else None
    val all = existing.map(_.unionByName(
        batch.select("user_id", "ts", "event_id", "value")))
      .getOrElse(batch.select("user_id", "ts", "event_id", "value"))
    all.groupBy("user_id")
      .agg(max_by(struct(col("ts"), col("event_id"), col("value")),
        struct(col("ts"), col("event_id"))).as("w"))
      .select(col("user_id"), col("w.ts").as("last_ts"),
        col("w.event_id").as("last_event_id"), col("w.value").as("last_value"),
        bucketOf(col("user_id")).as("bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(table)
  }

  /** The symmetric stateful view->click join of q_stream_join, factored
    * so StreamStreamJoinSpec's checkpoint-restart case drives the EXACT
    * production operator (same watermarks, same time-range condition).
    * Input: a streaming DataFrame of (event_id, ts, user_id, event_type).
    * `joinType` is "inner" (q_stream_join: matches emit on arrival) or
    * "leftOuter" (q_stream_join_outer: unmatched views additionally
    * null-emit, gated on the click watermark passing their join window).
    */
  private[graft] def viewClickStreamJoin(stream: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val views = stream.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    views.join(clicks, expr(
      """user_id = click_user AND
        |click_ts >= view_ts AND
        |click_ts <= view_ts + interval 60 minutes""".stripMargin), joinType)
      .select(col("view_id"), col("click_id"), col("user_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Sweep-line peak concurrency over half-open activity intervals
    * [ts, ts + gap) — factored out of `q_interval_overlap` so the
    * property spec can drive it with adversarial timestamp collisions
    * (equal starts, an end landing exactly on another start). Input
    * needs (event_type, ts); output is one row per type with the peak
    * simultaneous-interval count and the first instant it is reached.
    */
  private[graft] def intervalOverlap(ev: DataFrame, gap: String): DataFrame = {
    // SEGMENTED sweep (round 16): the single running-sum window keyed
    // by event_type alone caps the whole query at |types| tasks — five
    // single-task sorts of every endpoint row, a genuine scale ceiling
    // (~80M rows per task at sf100). A prefix sum is associative, so
    // the sweep decomposes exactly: bucket endpoints into hour
    // segments (monotone in t, so tied (t, delta) rows land together
    // and earlier segments hold strictly earlier rows), run the SAME
    // RANGE-frame running sum within each (type, segment) group, and
    // lift it by the total delta of that type's earlier segments. The
    // offset relation is one map-side-combined hash agg plus a window
    // over segment COUNTS (tiny), broadcast back onto the endpoints;
    // the per-row conc values — and hence peak and first-peak instant
    // — are bit-identical (SweepSampleSpec brute-forces collisions and
    // cross-segment intervals). The hour width is a property of the
    // data's time axis, not of the local core count: segment count
    // grows with the span while each segment's sort stays local.
    val pts = ev.select(col("event_type"), col("ts").as("t"), lit(1L).as("delta"))
      .union(ev.select(col("event_type"),
        (col("ts") + expr(s"INTERVAL $gap")).as("t"), lit(-1L).as("delta")))
      .withColumn("b", expr("floor(unix_millis(t) / 3600000)").cast(LongType))
    val wOff = Window.partitionBy("event_type").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = pts.groupBy("event_type", "b").agg(sum("delta").as("tb"))
      .withColumn("off", coalesce(sum("tb").over(wOff), lit(0L)))
      .select(col("event_type"), col("b"), col("off"))
    // default RANGE frame (ties are peers) — must NOT be rowsBetween
    val sweep = Window.partitionBy("event_type", "b").orderBy(col("t"), col("delta"))
    val run = pts.join(broadcast(off), Seq("event_type", "b"))
      .withColumn("conc", col("off") + sum("delta").over(sweep))
    // segment-local peaks share the sweep's exchange; the global peak
    // and its first instant reduce over the per-segment relation
    val wSeg = Window.partitionBy("event_type", "b")
    // persist: one row per (type, segment) — the global-peak reduction
    // and the first-instant join both read it, and without the cache
    // the whole endpoint window chain runs twice
    val segPeaks = run.withColumn("speak", max("conc").over(wSeg))
      .filter(col("conc") === col("speak"))
      .groupBy(col("event_type"), col("b"), col("speak"))
      .agg(min(col("t")).as("bt"))
      .persist()
    val mx = segPeaks.groupBy("event_type").agg(max("speak").as("peak"))
      .withColumnRenamed("event_type", "et")
    segPeaks.join(broadcast(mx),
        col("event_type") === col("et") && col("speak") === col("peak"))
      .groupBy("event_type", "peak")
      .agg(min(col("bt")).as("first_peak_at"))
      .select(col("event_type"), col("peak").as("peak_conc"), col("first_peak_at"))
  }

  /** Gaps-and-islands sessionization oracle (lag + running flag sum) —
    * shared by the declarative `session_window` query and the
    * custom-state `flatMapGroupsWithState` one: both must reduce to the
    * same SQL-expressible semantics.
    */
  private val sessionSql =
    s"""WITH e AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |),
       |g AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
       |                             ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM e
       |)
       |SELECT user_id, min(ts) AS session_start,
       |       max(ts) + INTERVAL '30 minutes' AS session_end,
       |       count(*) AS n_events, ${O.dsum("value")} AS total
       |FROM g GROUP BY user_id, sid""".stripMargin

  // ── as-of join family ─────────────────────────────────────────────
  // Nine rows certify one query — each click with its as-of purchase —
  // through different operators and dials. They share the two sides,
  // the oracle's relations and (for the six operator rows) one body.

  /** The as-of oracle's relations: `p`, purchases deduped per
    * (user_id, ts) to their max event_id, and `c`, the clicks.
    */
  private val asofSqlPrefix =
    """WITH p AS (
      |  SELECT user_id, ts, max(event_id) AS purchase_id
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
      |),
      |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')""".stripMargin

  /** DuckDB's native as-of join of the clicks to `p` under `cond`. */
  private def asofFromSql(cond: String): String =
    s"FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND $cond"

  /** Each click with the purchase DuckDB's ASOF LEFT JOIN picks under
    * `cond` (`p.ts <= c.ts` backward, `<` strict, `>=` forward).
    */
  private def asofSql(cond: String): String =
    s"""$asofSqlPrefix
       |SELECT c.event_id, c.user_id, c.ts, p.purchase_id, p.ts AS purchase_ts
       |${asofFromSql(cond)}""".stripMargin

  private val asofBackwardSql = asofSql("p.ts <= c.ts")

  /** The Spark side of [[asofSqlPrefix]] over one events scan:
    * (purchases deduped per (user_id, ts) to their max event_id, so a
    * tie is one deterministic row; the click events). Each row projects
    * them to its operator's shape.
    */
  private def asofSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = events(s, dir)
    (ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("event_id").as("purchase_id")),
      ev.filter(col("event_type") === "click"))
  }

  /** The six operator rows' body: clicks as-of joined to purchases by
    * [[graft.plans.AsOfJoinOps.asof]] under the row's dials (the
    * defaults are `asof`'s own), projected to the oracle's columns.
    */
  private def asofOperator(s: SparkSession, dir: String,
      direction: String = "backward",
      tolerance: Option[Long] = None,
      allowExactMatches: Boolean = true,
      broadcast: Option[Boolean] = None): DataFrame = {
    val (purchases, clicks) = asofSides(s, dir)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("purchase_id"))
    val c = clicks.select(col("event_id"), col("user_id"), col("ts"))
    graft.plans.AsOfJoinOps.asof(c, p, "user_id", "p_user", "ts", "p_ts",
        direction, tolerance, allowExactMatches, broadcast)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("purchase_id"), col("p_ts").as("purchase_ts"))
  }

  /** The two stream rows' input: purchases (`is_right`) and clicks as
    * one tagged union, each carrying 0 for the other side's id.
    */
  private def asofRecs(s: SparkSession, dir: String)
      : Dataset[graft.streaming.StatefulOps.AsOfRec] = {
    import s.implicits._
    val (purchases, clicks) = asofSides(s, dir)
    val p = purchases.select(col("user_id"), col("ts"), lit(true).as("is_right"),
      lit(0L).as("event_id"), col("purchase_id"))
    val c = clicks.select(col("user_id"), col("ts"), lit(false).as("is_right"),
      col("event_id"), lit(0L).as("purchase_id"))
    p.unionByName(c).as[graft.streaming.StatefulOps.AsOfRec]
  }

  val queries: Seq[Q] = Seq(

    // ── tumbling window aggregation ─────────────────────────────────
    // Spark `window(ts, '1 hour')` starts are epoch-aligned, identical
    // to date_trunc('hour', ts).
    Q("q_events_tumbling",
      s"""SELECT date_trunc('hour', ts) AS w_start, event_type,
         |  count(*) AS n, ${O.dsum("value")} AS total
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.EventWindows.tumbling(events(s, dir))
    },

    // ── sliding window aggregation (1h window, 15m slide) ───────────
    // Each event lands in exactly 4 windows whose starts are the four
    // 15-minute-aligned instants in (ts-1h, ts]. DuckDB mirror:
    // time_bucket(15min) shifted by k*15min, k=0..3 (both engines align
    // sub-day buckets to a whole-hour origin).
    Q("q_events_sliding",
      s"""SELECT time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL '15 minutes') AS w_start,
         |  event_type, count(*) AS n, ${O.dsum("value")} AS total
         |FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) offs(k)
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.EventWindows.sliding(events(s, dir))
    },

    // ── session windows (30-minute gap) per user ────────────────────
    // Spark session_window: a session extends while consecutive events
    // are < gap apart; session end = last ts + gap (half-open). DuckDB
    // mirror: classic gaps-and-islands with lag + running flag sum.
    Q("q_events_session", sessionSql) { (s, dir) =>
      graft.streaming.EventWindows.session(events(s, dir))
    },

    // ── custom-state sessionization, batch-run against the oracle ───
    // The SAME flatMapGroupsWithState operator the streaming tier uses
    // (StatefulOps.sessionize), executed in batch with end-of-group
    // flush — proving the custom-state path against DuckDB's
    // gaps-and-islands SQL, not merely against Spark's session_window.
    Q("q_session_stateful", sessionSql) { (s, dir) =>
      import s.implicits._
      val ds = events(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
        .as[graft.streaming.StatefulOps.Ev]
      graft.streaming.StatefulOps.sessionize(ds, flushOpen = true).toDF()
        .select("user_id", "session_start", "session_end", "n_events", "total")
    },

    // ── as-of join: latest purchase at-or-before each click ─────────
    // Distributed single-shuffle plan (no range-join blowup): tag both
    // sides, union, and carry the last purchase forward with
    // last_value(ignoreNulls) over (user, ts, tag).
    Q("q_asof_join", asofBackwardSql) { (s, dir) =>
      val (p, c) = asofSides(s, dir)
      val purchases = p.select(col("user_id"), col("ts"), col("purchase_id"),
        col("ts").as("purchase_ts"), lit(null).cast(LongType).as("event_id"), lit(0).as("tag"))
      val clicks = c.select(col("user_id"), col("ts"), lit(null).cast(LongType).as("purchase_id"),
        lit(null).cast("timestamp").as("purchase_ts"), col("event_id"), lit(1).as("tag"))
      // At equal ts the purchase (tag 0) sorts before the click, so a
      // same-instant purchase is visible to the click (p.ts <= c.ts).
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      purchases.unionByName(clicks)
        .withColumn("asof_pid", last(col("purchase_id"), ignoreNulls = true).over(w))
        .withColumn("asof_pts", last(col("purchase_ts"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_pid").as("purchase_id"), col("asof_pts").as("purchase_ts"))
    },

    // ── as-of join, NATIVE operator path ────────────────────────────
    // The engine's own whole-operator extension (graft.plans.AsOfJoinPlan
    // -> AsOfJoinExec via the injected strategy): per-side hash shuffle
    // on the key, per-partition (key, time) sorts that SPILL, and a
    // streaming merge holding O(1) right rows. The composed window
    // formulation above certifies the SEMANTICS, this row certifies the
    // OPERATOR.
    Q("q_asof_native", asofBackwardSql)(
      // pin the shuffled sort-merge exec
      asofOperator(_, _, broadcast = Some(false))),

    // ── as-of join, BROADCAST operator path ─────────────────────────
    // Forced onto the OTHER physical path: AsOfBroadcastExec — the
    // right side broadcasts (zero shuffles, probe-side partitioning
    // passes through), each task probes a bounded index built from the
    // broadcast rows. With q_asof_native pinned to the shuffled
    // sort-merge exec, the two rows certify BOTH planner outputs
    // row-for-row against DuckDB; the strict/forward/tolerance/nearest
    // rows leave the hint unset so the stats-based strategy decision
    // itself stays exercised per scale.
    Q("q_asof_broadcast", asofBackwardSql)(
      asofOperator(_, _, broadcast = Some(true))),

    // ── as-of join, STREAMING state machine ─────────────────────────
    // The streaming twin (StatefulOps.asofStream): both sides ride one
    // tagged union into a flatMapGroupsWithState keyed by user, whose
    // state holds watermark-compacted right postings and
    // watermark-deferred left events. Run here in batch flush mode.
    // StreamingAsOfSpec proves the
    // SAME operator incrementally: out-of-order micro-batches under a
    // real watermark converge to this exact output.
    Q("q_asof_stream", asofBackwardSql) { (s, dir) =>
      graft.streaming.StatefulOps.asofStream(asofRecs(s, dir), flush = true)
        .toDF()
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_id"), col("purchase_ts"))
    },

    // ── as-of join, streaming PRODUCTION path (watermark + TTL) ─────
    // The watermarked incremental path — the dial combination a real
    // deployment runs — against the same DuckDB ASOF oracle: the
    // fixture is staged into three time-ranged parquet files plus a
    // far-future sentinel, then READ AS A STREAM (file source,
    // maxFilesPerTrigger=1), so asofStream processes genuine
    // micro-batches under a real 10-minute watermark with idle-TTL
    // eviction armed. Lefts wait in state until the watermark passes
    // them, event-time timeouts flush stragglers, the sentinel drives
    // the final watermark advance, and TTL eviction then clears every
    // key — the full production state lifecycle, hash-checked
    // row-for-row against DuckDB. (Time-ranged staging keeps every
    // record on time; cross-batch DISORDER convergence is
    // StreamingAsOfSpec's job.) Output rides foreachBatch parquet
    // appends — distributed writes, nothing driver-side.
    Q("q_asof_stream_wm", asofBackwardSql) { (s, dir) =>
      import s.implicits._
      val recs = asofRecs(s, dir)

      val root = s"${Staging.dir(dir)}/asof_stream_wm"
      val (tminMs, tmaxMs) = timeBounds(recs.toDF())
      val delayMin = 10L
      // TTL covers the fixture span plus the delay, so no key is
      // evicted while a live probe can still arrive; the sentinel then
      // pushes the watermark past every deadline and eviction runs for
      // every key at end of stream
      val ttlMin = (tmaxMs - tminMs) / 60000L + delayMin + 10L
      val sentinelMs = tmaxMs + (delayMin + ttlMin + 60L) * 60000L
      val src = stageChunksOnePass(root, recs.toDF(), 3, tminMs, tmaxMs,
        Seq(Seq(graft.streaming.StatefulOps.AsOfRec(
          -1L, new java.sql.Timestamp(sentinelMs), is_right = true, 0L, 0L))
          .toDF()),
        tminMs)

      val stream = s.readStream.schema(recs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .as[graft.streaming.StatefulOps.AsOfRec]
      runStreamAppend(s, root, graft.streaming.StatefulOps
        .asofStream(stream, flush = false,
          watermarkDelay = Some(s"$delayMin minutes"),
          idleTtlMinutes = Some(ttlMin)).toDF())
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_id"), col("purchase_ts"))
    },

    // ── stream-stream join (watermarked, time-range condition) ──────
    // The canonical two-stream correlation a production pipeline runs:
    // views joined to clicks by the SAME user within the next 60
    // minutes, both sides genuine file-source streams (one time-ranged
    // chunk per micro-batch, same staging contract as q_asof_stream_wm)
    // under 10-minute watermarks. This exercises Spark's symmetric
    // stateful join exec — each side buffers in the state store and
    // probes the other's state, and the time-range condition plus BOTH
    // watermarks bound that state: a view is evicted once the click
    // watermark passes view_ts + 60min, so state holds one join-window
    // of data per side regardless of stream length — the property that
    // makes the operator runnable forever at 100 TB/day. Inner join, so
    // matches emit the moment the partner arrives (append mode, no
    // watermark wait on EMISSION); time-monotone chunk arrival means an
    // evicted row can no longer have an on-time partner, so the
    // streamed result is row-identical to the batch join — which is
    // exactly what the DuckDB oracle replays.
    Q("q_stream_join",
      """SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
        |       v.ts AS view_ts, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 60 MINUTE""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).filter(col("event_type").isin("view", "click"))
        .select("event_id", "ts", "user_id", "event_type")
      val root = s"${Staging.dir(dir)}/stream_join"
      val (tminMs, tmaxMs) = timeBounds(ev)
      val src = stageChunksOnePass(root, ev, 3, tminMs, tmaxMs, Nil, tminMs)

      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      runStreamAppend(s, root, viewClickStreamJoin(stream))
    },

    // ── stream-stream LEFT OUTER join (eviction-driven null emission) ─
    // The outer face of q_stream_join: a view with NO click in its
    // 60-minute window must still emit, null-padded — but only once it
    // provably cannot match, i.e. when the click-side watermark passes
    // view_ts + 60min and the state store evicts it. That emission is
    // eviction-DRIVEN, so results inside the final watermark horizon
    // would stay buffered forever at end-of-stream; a sentinel chunk
    // (one far-future view + click on their own negative user ids,
    // matching nothing) advances BOTH watermarks past every real
    // view's window, forcing the terminal eviction sweep. The sentinel
    // rows are excluded from the READ-BACK, not the streaming plan: a
    // filter inside the plan is pushed below the watermark operators
    // by Catalyst (user_id is not the event-time column), which would
    // drop the sentinels before they can advance the watermark and
    // silently suppress every null emission. (The sentinel view never
    // evicts anyway — the watermark stops 10min short of its own ts —
    // and an unmatched click emits nothing under a LEFT join.)
    // Time-monotone chunk arrival makes the emitted set exactly the
    // batch LEFT JOIN: once a view is evicted, every future click is
    // past its window.
    Q("q_stream_join_outer",
      """SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
        |       v.ts AS view_ts, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 60 MINUTE""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).filter(col("event_type").isin("view", "click"))
        .select("event_id", "ts", "user_id", "event_type")
      val root = s"${Staging.dir(dir)}/stream_join_outer"
      val (tminMs, tmaxMs) = timeBounds(ev, sentinelKeys = Seq("user_id"))
      val sentinelMs = tmaxMs + 3L * 3600 * 1000
      val sentinel = Seq(
        (-1L, new java.sql.Timestamp(sentinelMs), -1L, "view"),
        (-2L, new java.sql.Timestamp(sentinelMs), -2L, "click"))
        .toDF("event_id", "ts", "user_id", "event_type")
      val src = stageChunksOnePass(root, ev, 3, tminMs, tmaxMs,
        Seq(sentinel), tminMs)

      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      runStreamAppend(s, root, viewClickStreamJoin(stream, joinType = "leftOuter"))
        .filter(col("user_id") >= 0)
    },

    // ── streaming exact dedup (bounded state) ───────────────────────
    // The streaming face of dedup_exact: first occurrence per
    // (user_id, event_type, day) emits, duplicates within the
    // watermark horizon are dropped, and key state older than the
    // horizon is EVICTED (dropDuplicatesWithinWatermark) — at
    // 100 TB/day state holds one entry per key seen within the
    // horizon, not per key ever seen. The 25-hour delay covers the
    // widest time span a single day-key can occupy, so with
    // time-monotone chunk arrival no key is ever evicted while a
    // duplicate can still arrive on time and the emitted set is
    // EXACTLY the batch distinct — the DuckDB oracle. Only the key
    // columns are projected: which physical row survives per key is
    // arrival-order-dependent and must not leak into the result.
    Q("q_stream_dedup",
      """SELECT DISTINCT user_id, event_type,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
        |FROM events""".stripMargin) { (s, dir) =>
      val ev = events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val root = s"${Staging.dir(dir)}/stream_dedup"
      val (tminMs, tmaxMs) = timeBounds(ev)
      val src = stageChunksOnePass(root, ev, 3, tminMs, tmaxMs, Nil, tminMs)

      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("d", date_trunc("day", col("ts")))
      val deduped = graft.streaming.StatefulOps
        .dedupWithinWatermark(stream, Seq("user_id", "event_type", "d"),
          "ts", "25 hours")
        .select("user_id", "event_type", "d")
      runStreamAppend(s, root, deduped)
    },

    // ── streaming windowed aggregation (append mode, bounded state) ──
    // The production face of q_events_tumbling: the SAME EventWindows
    // transform run as a watermarked stream in APPEND mode — a window
    // emits exactly once, when the watermark passes its end, and its
    // state is then EVICTED, so the state store holds roughly one
    // watermark horizon of open windows instead of the stream's whole
    // history (the runnable-forever shape at 100 TB/day; the
    // StreamingEquivalenceSpec complete-mode memory sink, by contrast,
    // keeps every window ever seen resident). A far-future sentinel
    // row closes every real window at end-of-stream; the sentinel's
    // OWN window can never close — any event's window ends after the
    // event, and the watermark (max ts minus delay) always stops short
    // of that — and is additionally excluded by a w_start bound on the
    // READ-BACK (not inside the streaming plan, where Catalyst could
    // rewrite it onto ts and push it below the watermark, dropping the
    // sentinel before it advances anything — the q_stream_join_outer
    // pushdown trap). Time-monotone chunks mean nothing is ever late,
    // so the emitted set is exactly the batch aggregation the DuckDB
    // oracle replays.
    Q("q_stream_window",
      s"""SELECT date_trunc('hour', ts) AS w_start, event_type,
         |  count(*) AS n, ${O.dsum("value")} AS total
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).select("ts", "event_type", "value")
      val root = s"${Staging.dir(dir)}/stream_window"
      val (tminMs, tmaxMs) = timeBounds(ev)
      val sentinelMs = tmaxMs + 3L * 3600 * 1000
      val sentinel = Seq((new java.sql.Timestamp(sentinelMs), "sentinel", 0.0))
        .toDF("ts", "event_type", "value")
      val src = stageChunksOnePass(root, ev, 3, tminMs, tmaxMs,
        Seq(sentinel), tminMs)

      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withWatermark("ts", "10 minutes")
      runStreamAppend(s, root, graft.streaming.EventWindows.tumbling(stream))
        .filter(col("w_start") <= new java.sql.Timestamp(tmaxMs))
    },

    // ── streaming session windows (append mode, bounded state) ──────
    // The production face of q_events_session: the SAME
    // EventWindows.session transform run as a watermarked stream in
    // APPEND mode. session_window is the stateful-merge operator —
    // events extend or MERGE open sessions in the state store — and in
    // append mode a session emits exactly once, when the watermark
    // passes its end (last ts + 30min gap), and its state is then
    // EVICTED: the store holds roughly one watermark horizon of OPEN
    // sessions, i.e. concurrent users, not history (the
    // runnable-forever shape; the batch q_events_session by contrast
    // holds the whole corpus in one shuffle). Time-monotone chunk
    // arrival guarantees no emitted session could still be extended:
    // extension needs an event within 30min of the session's last
    // event, but emission required the watermark (chunk max - 10min)
    // to pass last+30min, and every later chunk's events are >= that
    // max — 40min past the last event. A far-future sentinel on a
    // NEGATIVE user id closes every real session at end-of-stream; its
    // own session never emits (the watermark stops 10min short of its
    // ts), and it is additionally excluded on the batch READ-BACK —
    // never inside the streaming plan, where Catalyst would push the
    // user_id filter below the watermark operator and drop the
    // sentinel before it advances anything (the q_stream_join_outer
    // pushdown trap). timeBounds asserts min(user_id) >= 0 over the
    // real fixture, so the negative-id sentinel convention fails
    // loudly if the fixture ever changes.
    Q("q_stream_session", sessionSql) { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).select("user_id", "ts", "value")
      val root = s"${Staging.dir(dir)}/stream_session"
      val (tminMs, tmaxMs) = timeBounds(ev, sentinelKeys = Seq("user_id"))
      val sentinelMs = tmaxMs + 3L * 3600 * 1000
      val sentinel = Seq((-1L, new java.sql.Timestamp(sentinelMs), 0.0))
        .toDF("user_id", "ts", "value")
      val src = stageChunksOnePass(root, ev, 3, tminMs, tmaxMs,
        Seq(sentinel), tminMs)

      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withWatermark("ts", "10 minutes")
      runStreamAppend(s, root, graft.streaming.EventWindows.session(stream))
        .filter(col("user_id") >= 0)
    },

    // ── stream-static enrichment join (feature-store lookup) ────────
    // The online/offline split every feature pipeline runs: a static
    // per-user profile is computed in BATCH (exact decimal lifetime
    // spend + event count), then the live purchase stream joins it
    // per-event — Spark plans a stream-batch join, which is STATELESS
    // (no watermark, no state store): each micro-batch hash-joins
    // against the static side, and at scale the profile is the
    // broadcast/bucketed dimension while the stream stays in motion.
    // Left join: a first-ever-purchase user has no profile yet and
    // must flow through with nulls, not vanish. Oracle = the same
    // join run fully in batch.
    Q("q_stream_enrich",
      s"""WITH prof AS (
         |  SELECT user_id, count(*) AS n_events, ${O.dsum("value")} AS spend
         |  FROM events GROUP BY user_id)
         |SELECT e.event_id, e.user_id, e.ts, e.value,
         |       prof.n_events, prof.spend
         |FROM (SELECT * FROM events WHERE event_type = 'purchase') e
         |LEFT JOIN prof ON prof.user_id = e.user_id""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      // persist + materialize the profile BEFORE the stream starts: a
      // static side is re-evaluated per micro-batch, so an unpinned
      // aggregate would be recomputed on every trigger — and, worse,
      // would let the "static" features drift mid-stream if the
      // underlying table changed. Pinning the snapshot is both the
      // performance fix and the feature-store consistency contract.
      val profile = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), graft.Cols.dsum(col("value")).as("spend"))
        .persist()
      profile.count()
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val root = s"${Staging.dir(dir)}/stream_enrich"
      val (tminMs, tmaxMs) = timeBounds(purchases)
      val src = stageChunksOnePass(root, purchases, 3, tminMs, tmaxMs, Nil, tminMs)

      val stream = s.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val enriched = stream.join(profile, Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("n_events"), col("spend"))
      try runStreamAppend(s, root, enriched)
      finally profile.unpersist()
    },

    // ── streaming CDC upsert (keyed MERGE-shaped sink) ──────────────
    // The production face of q_agg_delta_merge's maintenance story: a
    // keyed table (latest event per user) continuously upserted from
    // the stream, one last-write-wins MERGE per micro-batch via
    // foreachBatch — the sink shape every CDC/feature-store pipeline
    // runs. The table is laid out in 16 hash-bucket partitions and
    // each batch rewrites ONLY the buckets its keys touch (partition-
    // pruned read of the current state + dynamic partition overwrite)
    // — at 100 TB the untouched partitions are never opened, which is
    // what makes per-batch maintenance batch-cost, not table-cost.
    // The merge is idempotent by construction: the winner per key is
    // max_by (ts, event_id), so a REPLAYED batch (foreachBatch's
    // at-least-once contract after a restart) re-derives the identical
    // partition content — StreamingUpsertSpec applies the same batch
    // twice and pins table equality. Oracle = the batch last-write-
    // wins query over the same events.
    Q("q_stream_upsert",
      """SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |       value AS last_value
        |FROM (SELECT user_id, ts, event_id, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1""".stripMargin) { (s, dir) =>
      val ev = events(s, dir).select("event_id", "ts", "user_id", "value")
      val root = s"${Staging.dir(dir)}/stream_upsert"
      val (tminMs, tmaxMs) = timeBounds(ev)
      val src = stageChunksOnePass(root, ev, 3, tminMs, tmaxMs, Nil, tminMs)

      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val table = s"$root/table"
      val q = stream.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          upsertEventsBatch(table, batch); ()
        }
        .start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.read.parquet(table)
        .select(col("user_id"), col("last_ts"), col("last_event_id"),
          col("last_value"))
    },

    // ── as-of join, STRICT dial ─────────────────────────────────────
    // merge_asof's allow_exact_matches=false: the latest purchase
    // STRICTLY before each click (self-exclusion shape — "state as of
    // just before this event"). DuckDB's ASOF JOIN takes the strict
    // inequality natively.
    Q("q_asof_strict", asofSql("p.ts < c.ts"))(
      asofOperator(_, _, allowExactMatches = false)),

    // ── as-of join, FORWARD direction ───────────────────────────────
    // The other merge_asof direction: the EARLIEST purchase at-or-
    // after each click (time-to-conversion shape). Same native
    // operator, binary search flipped to smallest-time >= t; DuckDB's
    // ASOF JOIN takes the reversed inequality natively.
    Q("q_asof_forward", asofSql("p.ts >= c.ts"))(
      asofOperator(_, _, direction = "forward")),

    // ── as-of join with a TOLERANCE band ────────────────────────────
    // merge_asof's third dial: the latest purchase at-or-before each
    // click only counts if it happened within the last hour —
    // attribution windows in one operator instead of a range join +
    // re-rank. The oracle gates DuckDB's ASOF match with the same
    // band: a match outside tolerance degrades to NULL (the row stays;
    // contrast q_range_join, which counts all in-window purchases).
    Q("q_asof_tolerance",
      s"""$asofSqlPrefix
         |SELECT c.event_id, c.user_id, c.ts,
         |  CASE WHEN p.ts >= c.ts - INTERVAL '1 hour' THEN p.purchase_id END AS purchase_id,
         |  CASE WHEN p.ts >= c.ts - INTERVAL '1 hour' THEN p.ts END AS purchase_ts
         |${asofFromSql("p.ts <= c.ts")}""".stripMargin)(
      // 1 hour in timestamp micros
      asofOperator(_, _, tolerance = Some(3600L * 1000000L))),

    // ── as-of join, NEAREST direction ───────────────────────────────
    // merge_asof's last direction: the purchase closest in time to
    // each click, either side, ties to the at-or-before one (the
    // operator's pinned contract). DuckDB has no native nearest ASOF,
    // so the oracle composes it from the two directed ASOF joins and
    // picks the smaller absolute gap with the same tie rule — which
    // also documents exactly why the single-operator form earns its
    // place.
    Q("q_asof_nearest",
      s"""$asofSqlPrefix,
         |b AS (SELECT c.event_id, c.user_id, c.ts, p.purchase_id AS b_id, p.ts AS b_ts
         |      ${asofFromSql("p.ts <= c.ts")}),
         |f AS (SELECT c.event_id, p.purchase_id AS f_id, p.ts AS f_ts
         |      ${asofFromSql("p.ts > c.ts")})
         |SELECT b.event_id, b.user_id, b.ts,
         |  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR (b.ts - b_ts) <= (f_ts - b.ts))
         |       THEN b_id ELSE f_id END AS purchase_id,
         |  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR (b.ts - b_ts) <= (f_ts - b.ts))
         |       THEN b_ts ELSE f_ts END AS purchase_ts
         |FROM b JOIN f ON b.event_id = f.event_id""".stripMargin)(
      asofOperator(_, _, direction = "nearest")),

    // ── JSON column extraction + aggregation ────────────────────────
    Q("q_events_json",
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("k_sum"), max("k").as("k_max"))
    },

    // ── banded range join ───────────────────────────────────────────
    // "purchases by the same user in the hour before each click" is an
    // interval join; expressed naively (join on user + ts BETWEEN) Spark
    // plans a per-user nested loop. The scale-safe decomposition: band
    // both sides into 1-hour epoch buckets, probe each click's two
    // candidate buckets through an EQUI join on (user, bucket), then
    // apply the exact range filter — O(matches) work, hash-partitioned
    // shuffles only. (DuckDB's oracle uses its native range join.)
    Q("q_range_join",
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts, CAST(count(p.ts) AS BIGINT) AS n_purchases
        |FROM c LEFT JOIN p
        |  ON p.user_id = c.user_id
        | AND p.ts >= c.ts - INTERVAL '1 hour' AND p.ts <= c.ts
        |GROUP BY c.event_id, c.user_id, c.ts""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val hb = (c: Column) => floor(unix_timestamp(c) / 3600).cast(LongType)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), hb(col("ts")).as("p_hb"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), hb(col("ts")).as("c_hb"))
      val probes = c.withColumn("probe_hb",
        explode(array(col("c_hb") - 1, col("c_hb"))))
      val counts = probes.join(p,
        col("p_user") === col("user_id") && col("p_hb") === col("probe_hb") &&
          col("p_ts") >= col("ts") - expr("INTERVAL 1 HOUR") && col("p_ts") <= col("ts"))
        .groupBy("event_id").agg(count(lit(1)).as("__n"))
      c.join(counts, Seq("event_id"), "left_outer")
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("__n"), lit(0L)).as("n_purchases"))
    },

    // ── KMV distinct-count sketch ───────────────────────────────────
    // A k-minimum-values sketch per event type: keep the k smallest
    // 60-bit hashes of the member set; estimate distinct count as
    // (k-1) / fraction-of-hash-space the kth minimum covers. Unlike
    // HLL (whose register layout is engine-specific), KMV is exact
    // arithmetic over md5 — the oracle reproduces the estimate
    // bit-for-bit. At scale: one shuffle to dedup members, one to rank
    // per group; sketch size k per group.
    Q("q_sketch_kmv", {
      val k = 64
      s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
         |h AS (SELECT event_type, user_id,
         |        ${O.hex60("CAST(user_id AS VARCHAR)")} AS hv
         |      FROM du),
         |r AS (SELECT event_type, hv,
         |        row_number() OVER (PARTITION BY event_type ORDER BY hv, user_id) AS rn
         |      FROM h),
         |agg AS (SELECT event_type,
         |          CAST(count(*) AS BIGINT) AS n_k, max(hv) AS kth
         |        FROM r WHERE rn <= $k GROUP BY event_type),
         |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM du GROUP BY event_type)
         |SELECT ex.event_type, ex.n_exact,
         |  CASE WHEN agg.n_k < $k THEN CAST(agg.n_k AS DOUBLE)
         |       ELSE ${k - 1}.0 * 1152921504606846976.0 / agg.kth END AS kmv_est
         |FROM ex JOIN agg ON ex.event_type = agg.event_type""".stripMargin
    }) { (s, dir) =>
      val k = 64
      val du = events(s, dir).select(col("event_type"), col("user_id")).distinct()
      val h = du.withColumn("hv", graft.Cols.hex60(col("user_id").cast("string")))
      val w = Window.partitionBy("event_type").orderBy(col("hv").asc, col("user_id").asc)
      val agg = h.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy("event_type").agg(count(lit(1)).as("n_k"), max("hv").as("kth"))
      val exact = du.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      exact.join(agg, "event_type")
        .select(col("event_type"), col("n_exact"),
          when(col("n_k") < k, col("n_k").cast(DoubleType))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18) / col("kth"))
            .as("kmv_est"))
    },

    // ── KMV set operations: union/intersection across sketches ─────
    // The reason a mergeable sketch earns its place in a pipeline:
    // audience-overlap questions ("how many distinct users did types
    // A and B share?") answered from two k-sized sketches instead of
    // a full distinct-join. Standard KMV combine (Beyer et al. 2007):
    // the pair's union sketch is the k smallest hashes of S_a ∪ S_b;
    // est_union from its kth minimum; est_intersection = (fraction of
    // those k present in BOTH sketches) × est_union. A non-full union
    // sketch IS the union set, so both estimates collapse to exact
    // counts. Deterministic: md5-derived hashes, full-order
    // tie-breaks, the same (k-1)·M/kth arithmetic q_sketch_kmv pins.
    // Exact counts ride along as the evaluation column. Scale shape:
    // sketches are k rows per type, the pair fan-out is
    // O(|types|²·k) broadcast-sized, and only the exact-evaluation
    // side touches the full member sets (drop `ex` in production and
    // nothing scans past the per-type dedup).
    Q("q_sketch_kmv_ops", {
      val k = 64
      s"""WITH du AS (
         |  SELECT DISTINCT event_type,
         |    user_id * 100 + date_part('day', ts) AS member
         |  FROM events),
         |h AS (SELECT event_type AS et, member,
         |        ${O.hex60("CAST(member AS VARCHAR)")} AS hv
         |      FROM du),
         |sk AS (SELECT et, member, hv FROM (
         |    SELECT et, member, hv,
         |      row_number() OVER (PARTITION BY et ORDER BY hv, member) AS rn
         |    FROM h) z
         |  WHERE rn <= $k),
         |ty AS (SELECT DISTINCT event_type FROM events),
         |pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
         |          FROM ty a JOIN ty b ON a.event_type < b.event_type),
         |fm AS (
         |  SELECT ta, tb, member,
         |    max(CASE WHEN et = ta THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN et = tb THEN 1 ELSE 0 END) AS in_b
         |  FROM (
         |    SELECT p.ta, p.tb, s.et, s.member FROM pairs p JOIN h s ON s.et = p.ta
         |    UNION ALL
         |    SELECT p.ta, p.tb, s.et, s.member FROM pairs p JOIN h s ON s.et = p.tb) u
         |  GROUP BY ta, tb, member),
         |ex AS (
         |  SELECT ta, tb, CAST(count(*) AS BIGINT) AS exact_union,
         |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
         |  FROM fm GROUP BY ta, tb),
         |sm AS (
         |  SELECT ta, tb, member, hv,
         |    max(CASE WHEN et = ta THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN et = tb THEN 1 ELSE 0 END) AS in_b
         |  FROM (
         |    SELECT p.ta, p.tb, s.et, s.member, s.hv FROM pairs p JOIN sk s ON s.et = p.ta
         |    UNION ALL
         |    SELECT p.ta, p.tb, s.et, s.member, s.hv FROM pairs p JOIN sk s ON s.et = p.tb) u
         |  GROUP BY ta, tb, member, hv),
         |t AS (
         |  SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_u, max(hv) AS kth,
         |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
         |  FROM (SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY hv, member) AS rn
         |        FROM sm) z
         |  WHERE rn <= $k GROUP BY ta, tb)
         |SELECT t.ta, t.tb, ex.exact_union, ex.exact_inter,
         |  CASE WHEN t.n_u < $k THEN CAST(t.n_u AS DOUBLE)
         |       ELSE ${k - 1}.0 * 1152921504606846976.0 / t.kth END AS est_union,
         |  CASE WHEN t.n_u < $k THEN CAST(t.n_both AS DOUBLE)
         |       ELSE (CAST(t.n_both AS DOUBLE) / $k.0) *
         |            (${k - 1}.0 * 1152921504606846976.0 / t.kth) END AS est_inter
         |FROM ex JOIN t ON ex.ta = t.ta AND ex.tb = t.tb""".stripMargin
    }) { (s, dir) =>
      val k = 64
      val du = events(s, dir)
        .select(col("event_type"),
          (col("user_id") * 100 + dayofmonth(col("ts"))).as("member"))
        .distinct().persist()
      val h = du.select(col("event_type").as("et"), col("member"),
        graft.Cols.hex60(col("member").cast("string")).as("hv")).persist()
      val wT = Window.partitionBy("et").orderBy(col("hv").asc, col("member").asc)
      val sk = h.withColumn("rn", row_number().over(wT)).filter(col("rn") <= k)
        .select("et", "member", "hv").persist()
      val ty = du.select("event_type").distinct()
      // O(|event_types|²) pair dimension — the one bounded non-equi join
      val pairs = ty.select(col("event_type").as("ta"))
        .join(ty.select(col("event_type").as("tb")), col("ta") < col("tb"))
        .persist()
      def membership(rel: DataFrame, withHv: Boolean): DataFrame = {
        val tagged = pairs.join(rel, col("et") === col("ta"))
          .unionByName(pairs.join(rel, col("et") === col("tb")))
        val keys = if (withHv) Seq("ta", "tb", "member", "hv")
                   else Seq("ta", "tb", "member")
        tagged.groupBy(keys.map(col): _*)
          .agg(max(when(col("et") === col("ta"), 1).otherwise(0)).as("in_a"),
            max(when(col("et") === col("tb"), 1).otherwise(0)).as("in_b"))
      }
      val ex = membership(h.select("et", "member"), withHv = false)
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
            .as("exact_inter"))
      val wP = Window.partitionBy("ta", "tb").orderBy(col("hv").asc, col("member").asc)
      val t = membership(sk, withHv = true)
        .withColumn("rn", row_number().over(wP)).filter(col("rn") <= k)
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("n_u"), max("hv").as("kth"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
            .as("n_both"))
      val estU = lit((k - 1).toDouble) * lit(1.152921504606846976e18) / col("kth")
      ex.join(t, Seq("ta", "tb"))
        .select(col("ta"), col("tb"), col("exact_union"), col("exact_inter"),
          when(col("n_u") < k, col("n_u").cast(DoubleType))
            .otherwise(estU).as("est_union"),
          when(col("n_u") < k, col("n_both").cast(DoubleType))
            .otherwise((col("n_both").cast(DoubleType) / lit(k.toDouble)) * estU)
            .as("est_inter"))
    },

    // ── funnel analysis: view → click → purchase, strictly ordered ──
    // Each stage requires an event strictly AFTER the user's entry into
    // the previous stage — the product-analytics conversion funnel.
    // Scale shape: three hash aggregations keyed on user_id with a
    // per-stage semi-join; no windows over the raw event stream, no
    // per-user event buffering.
    Q("q_events_funnel",
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |  GROUP BY e.user_id)
        |SELECT stage, n_users FROM (
        |  SELECT 'view' AS stage, count(*) AS n_users FROM v
        |  UNION ALL SELECT 'click', count(*) FROM c
        |  UNION ALL SELECT 'purchase', count(*) FROM p) t""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.agg(count(lit(1)).as("n_users")).select(lit("view").as("stage"), col("n_users"))
        .unionAll(c.agg(count(lit(1)).as("n_users"))
          .select(lit("click").as("stage"), col("n_users")))
        .unionAll(p.agg(count(lit(1)).as("n_users"))
          .select(lit("purchase").as("stage"), col("n_users")))
    },

    // ── cohort retention: first-day cohort × day offset ─────────────
    // Day arithmetic stays on day-truncated epoch seconds (exact
    // multiples of 86400 in both engines) — never interval/datediff,
    // whose edge semantics differ across engines. Two shuffles total:
    // the first-seen agg and the (cohort, offset) count-distinct.
    Q("q_events_retention",
      """WITH f AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS cohort
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT e.user_id, f.cohort,
        |    CAST((epoch(date_trunc('day', e.ts)) - epoch(f.cohort)) / 86400 AS BIGINT) AS day_off
        |  FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT CAST(cohort AS TIMESTAMP) AS cohort, day_off,
        |       count(DISTINCT user_id) AS n_users
        |FROM d GROUP BY cohort, day_off""".stripMargin) { (s, dir) =>
      val f = events(s, dir).groupBy("user_id")
        .agg(date_trunc("day", min("ts")).as("cohort"))
      events(s, dir).join(f, "user_id")
        .select(col("cohort"),
          ((unix_timestamp(date_trunc("day", col("ts"))) -
            unix_timestamp(col("cohort"))) / lit(86400L)).cast(LongType).as("day_off"),
          col("user_id"))
        .groupBy("cohort", "day_off")
        .agg(countDistinct("user_id").as("n_users"))
    },

    // ── rolling 7-day active users (WAU per day) ────────────────────
    // count(DISTINCT) over a sliding window has no efficient windowed
    // form — per-window distinct state explodes. The scalable shape:
    // dedup to (user, day) once, expand each activity day into the 7
    // window-end days it feeds (BOUNDED 7x, like q_events_sliding's
    // 4x), keep only days that exist in the data (hash join against
    // the tiny day list), then one count-distinct agg per window day.
    Q("q_events_wau",
      """WITH du AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
        |x AS (
        |  SELECT user_id, d + (k * INTERVAL '1 day') AS w_day
        |  FROM du CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6)) t(k)),
        |days AS (SELECT DISTINCT d AS w_day FROM du)
        |SELECT CAST(x.w_day AS TIMESTAMP) AS w_day,
        |       count(DISTINCT user_id) AS wau
        |FROM x JOIN days ON x.w_day = days.w_day
        |GROUP BY x.w_day""".stripMargin) { (s, dir) =>
      val du = events(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .distinct()
        .persist()
      val x = du
        .select(col("user_id"), col("d"),
          explode(array((0 to 6).map(lit): _*)).as("k"))
        .select(col("user_id"), expr("d + k * INTERVAL '1' DAY").as("w_day"))
      val days = du.select(col("d").as("w_day")).distinct()
      x.join(broadcast(days), "w_day")
        .groupBy("w_day").agg(countDistinct("user_id").as("wau"))
    },

    // ── skew-salted aggregation (two-phase, provably exact) ─────────
    // The hot-key pattern for 100 TB: events skew heavily onto 5
    // event_types, so a direct groupBy puts each type's whole volume
    // on one reducer. Salting by a DETERMINISTIC hash of event_id
    // (reproducible, unlike rand()) splits each type across 16
    // sub-keys for the partial agg; the final agg re-combines 16 tiny
    // rows per type. Decimal partials re-sum exactly, so the result is
    // bit-identical to the oracle's direct GROUP BY — the equivalence
    // is the point: salting is a physical rewrite, never a semantic one.
    Q("q_skew_salted_agg",
      s"""SELECT event_type, count(*) AS n, ${O.dsum("value")} AS total
         |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      val salted = events(s, dir)
        .withColumn("salt", pmod(hash(col("event_id")), lit(16)))
      salted.groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast(DecimalType(18, 2))).as("pv"))
        .groupBy("event_type")
        .agg(sum("pn").as("n"), sum("pv").cast(DoubleType).as("total"))
    },

    // ── time-bucketed rates: events-per-day stats per type ──────────
    Q("q_events_daily",
      s"""SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         |  count(*) AS n, count(DISTINCT user_id) AS users,
         |  ${O.dsum("value")} AS total
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"),
          graft.Cols.dsum(col("value")).as("total"))
    },

    // ── per-user daily anomaly detection (z-score outliers) ─────────
    // Days whose spend deviates >= 2 sigma from the user's own
    // day-total distribution — the metric-drift alarm of an event
    // pipeline. Determinism discipline: day totals and both moments
    // accumulate in DECIMAL (order-independent, the q_stats_cov
    // pattern); mean/variance/z are then a FIXED sequence of IEEE ops
    // (sqrt is correctly rounded), so both engines produce the
    // identical doubles. Scale shape: two hash aggs (user-day, then
    // user) + one join back — no windows over the raw stream.
    Q("q_events_anomaly", {
      val decTot = "CAST(day_total AS DECIMAL(18,2))"
      s"""WITH dt AS (
         |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         |         ${O.dsum("value")} AS day_total
         |  FROM events GROUP BY 1, 2),
         |m AS (
         |  SELECT user_id, n_days, mean, ssq / n_days - mean * mean AS var_pop FROM (
         |    SELECT user_id, count(*) AS n_days,
         |      CAST(CAST(sum($decTot) AS STRING) AS DOUBLE) / count(*) AS mean,
         |      CAST(CAST(sum($decTot * $decTot) AS STRING) AS DOUBLE) AS ssq
         |    FROM dt GROUP BY user_id) t)
         |SELECT user_id, d, day_total, z FROM (
         |  SELECT dt.user_id, d, day_total,
         |    (day_total - mean) / sqrt(var_pop) AS z
         |  FROM dt JOIN m ON dt.user_id = m.user_id
         |  WHERE n_days >= 5 AND var_pop > 0) t
         |WHERE abs(z) >= 2.0""".stripMargin
    }) { (s, dir) =>
      val dec = (c: Column) => c.cast(DecimalType(18, 2))
      val dt = events(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(graft.Cols.dsum(col("value")).as("day_total"))
        .persist()
      val n = count(lit(1))
      val m = dt.groupBy("user_id")
        .agg(n.as("n_days"),
          (sum(dec(col("day_total"))).cast(DoubleType) / n).as("mean"),
          sum(dec(col("day_total")) * dec(col("day_total"))).cast(DoubleType).as("ssq"))
        .select(col("user_id"), col("n_days"), col("mean"),
          (col("ssq") / col("n_days") - col("mean") * col("mean")).as("var_pop"))
      val z = (col("day_total") - col("mean")) / sqrt(col("var_pop"))
      dt.join(m, "user_id")
        .filter(col("n_days") >= 5 && col("var_pop") > 0)
        .select(col("user_id"), col("d"), col("day_total"), z.as("z"))
        .filter(abs(col("z")) >= 2.0)
    },

    // ── calendar gap filling (date-spine densification) ─────────────
    // Every user gets a COMPLETE daily series across their active
    // span, with missing days filled as zero and flagged — the date
    // spine every reporting/training-feature pipeline builds before
    // windowed features (a moving average over a gappy series is
    // silently wrong). Scale shape: the spine explodes one row per
    // user-day (bounded by span, not events) and joins back on the
    // (user, day) key; every 25th user keeps gate output review-sized.
    Q("q_events_gap_fill",
      s"""WITH dt AS (
         |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         |         ${O.dsum("value")} AS day_total
         |  FROM events WHERE user_id % 25 = 0 GROUP BY 1, 2),
         |span AS (SELECT user_id, min(d) AS lo, max(d) AS hi FROM dt GROUP BY user_id),
         |spine AS (
         |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
         |  FROM span)
         |SELECT s.user_id, s.d,
         |  COALESCE(day_total, 0.0) AS day_total,
         |  (day_total IS NULL) AS filled
         |FROM spine s LEFT JOIN dt ON s.user_id = dt.user_id AND s.d = dt.d""".stripMargin) { (s, dir) =>
      val dt = events(s, dir)
        .filter(col("user_id") % 25 === 0)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(graft.Cols.dsum(col("value")).as("day_total"))
        .persist()
      val spine = dt.groupBy("user_id").agg(min("d").as("lo"), max("d").as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY"))).as("d"))
      spine.join(dt, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          coalesce(col("day_total"), lit(0.0)).as("day_total"),
          col("day_total").isNull.as("filled"))
    },

    // ── moving median (order statistics over a sliding frame) ───────
    // Per-user 3-day moving median of daily spend — the robust
    // smoothing counterpart of a moving average (one outlier day
    // cannot drag it). The frame's values are collected, sorted, and
    // the lower median picked — exact order statistics, not an
    // approximate percentile (whose sketches differ across engines).
    // Frame size is a CONSTANT 3, so the per-row list never grows with
    // data volume; day totals are decimal-exact first (dsum), making
    // the sort and pick bit-identical cross-engine.
    Q("q_window_median",
      s"""WITH dt AS (
         |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         |         ${O.dsum("value")} AS day_total
         |  FROM events GROUP BY 1, 2)
         |SELECT user_id, d, day_total,
         |  l[CAST(ceil(len(l) / 2.0) AS INT)] AS med3
         |FROM (
         |  SELECT user_id, d, day_total,
         |    list_sort(list(day_total) OVER (PARTITION BY user_id ORDER BY d
         |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS l
         |  FROM dt) t""".stripMargin) { (s, dir) =>
      val dt = events(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(graft.Cols.dsum(col("value")).as("day_total"))
      val w = Window.partitionBy("user_id").orderBy("d").rowsBetween(-2, 0)
      dt.withColumn("l", array_sort(collect_list("day_total").over(w)))
        .select(col("user_id"), col("d"), col("day_total"),
          element_at(col("l"),
            ceil(size(col("l")) / lit(2.0)).cast("int")).as("med3"))
    },

    // ── windowed trending top-k ─────────────────────────────────────
    // Top-3 event types per day by volume — the "what's trending this
    // window" leaderboard. Scale shape: one hash agg to (window, type)
    // counts — a tiny relation at any event volume — then a window-
    // partitioned rank over it; the corpus-sized stream is touched once.
    Q("q_events_trending",
      """SELECT w_start, event_type, n, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start, event_type, count(*) AS n,
        |         row_number() OVER (PARTITION BY CAST(date_trunc('day', ts) AS TIMESTAMP)
        |                            ORDER BY count(*) DESC, event_type) AS rk
        |  FROM events GROUP BY 1, 2) t
        |WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val agg = events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("w_start"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("w_start").orderBy(col("n").desc, col("event_type"))
      agg.withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
    },

    // ── interval-overlap peak concurrency (sweep line) ──────────────
    // Each event opens a half-open activity interval [ts, ts+10min);
    // per event type, find the peak number of simultaneously open
    // intervals and the first instant it is reached — the "max
    // concurrent sessions" / capacity-planning operator. Sweep-line as
    // a window: +1/-1 endpoint deltas, running sum ordered by
    // (t, delta). The default RANGE frame makes tied endpoints peers
    // that share one cumulative value in BOTH engines, so ordering
    // within ties can't flake the compare; delta sorts -1 before +1,
    // which is exactly half-open semantics (an interval ending at t
    // frees its slot before one starting at t takes it). Scale shape:
    // endpoints = 2 rows/event in the scan stage, ONE endpoint-scale
    // shuffle keyed by (event_type, hour segment) — the running sum is
    // SEGMENTED so no single task ever sorts a whole type's timeline
    // (see intervalOverlap) — then tiny aggs; no join against
    // materialized interval pairs (contrast q_range_join, which pays
    // candidate pairs; a sweep is the right tool when only aggregate
    // occupancy is asked for).
    Q("q_interval_overlap",
      """WITH pts AS (
        |  SELECT event_type, ts AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT event_type, ts + INTERVAL '10 minutes', -1 FROM events),
        |run AS (
        |  SELECT event_type, t,
        |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta) AS conc
        |  FROM pts),
        |mx AS (SELECT event_type, max(conc) AS peak FROM run GROUP BY event_type)
        |SELECT r.event_type, CAST(m.peak AS BIGINT) AS peak_conc,
        |       min(r.t) AS first_peak_at
        |FROM run r JOIN mx m ON r.event_type = m.event_type AND r.conc = m.peak
        |GROUP BY r.event_type, m.peak""".stripMargin) { (s, dir) =>
      intervalOverlap(events(s, dir), "10 minutes")
    },

    // ── event-type transition matrix (first-order Markov counts) ────
    // For each user's time-ordered event stream, count (event_type ->
    // next event_type) transitions and each transition's probability
    // given the source type — the session-flow model behind funnel
    // diagnosis and next-event prediction. Ordering ties break on
    // event_id so the lead() is deterministic on both engines. Scale
    // shape: ONE shuffle on user_id for the lead window, then a hash
    // agg to a |types|²-sized relation; the probability attaches via a
    // window over that tiny relation.
    Q("q_events_markov",
      """WITH nx AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (
        |  SELECT event_type, next_type, count(*) AS n FROM nx
        |  WHERE next_type IS NOT NULL GROUP BY event_type, next_type)
        |SELECT event_type, next_type, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS p
        |FROM c""".stripMargin) { (s, dir) =>
      val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wt = Window.partitionBy("event_type")
      events(s, dir)
        .select(col("event_type"),
          lead(col("event_type"), 1).over(wu).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast(DoubleType) / sum("n").over(wt))
    },

    // ── time-decayed engagement score (half-life weighting) ─────────
    // Per-user spend where each event's value is halved for every 7
    // days of age relative to the corpus's newest event, zero beyond 9
    // half-lives — recency weighting for ranking/retention features.
    // Determinism discipline: age buckets to an INTEGER week count, the
    // weight is an exact power-of-two DECIMAL looked up by bucket, and
    // value×weight accumulates in decimal (order-independent) before
    // one cast to double — no pow()/exp() (not correctly rounded, and
    // engines would disagree in the last ulp). Scale shape: the anchor
    // is a 1-row broadcast; then one hash agg over the scan.
    Q("q_events_decay", {
      val wk = "CAST(floor(date_diff('day', CAST(ts AS DATE), CAST(anchor AS DATE)) / 7.0) AS BIGINT)"
      s"""WITH a AS (SELECT max(ts) AS anchor FROM events),
         |w AS (
         |  SELECT user_id, value,
         |    CASE $wk
         |      WHEN 0 THEN CAST(1.0 AS DECIMAL(10,8))
         |      WHEN 1 THEN CAST(0.5 AS DECIMAL(10,8))
         |      WHEN 2 THEN CAST(0.25 AS DECIMAL(10,8))
         |      WHEN 3 THEN CAST(0.125 AS DECIMAL(10,8))
         |      WHEN 4 THEN CAST(0.0625 AS DECIMAL(10,8))
         |      WHEN 5 THEN CAST(0.03125 AS DECIMAL(10,8))
         |      WHEN 6 THEN CAST(0.015625 AS DECIMAL(10,8))
         |      WHEN 7 THEN CAST(0.0078125 AS DECIMAL(10,8))
         |      WHEN 8 THEN CAST(0.00390625 AS DECIMAL(10,8))
         |      ELSE CAST(0 AS DECIMAL(10,8)) END AS wt
         |  FROM events, a)
         |SELECT user_id, count(*) AS n_events,
         |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2)) * wt) AS STRING) AS DOUBLE)
         |    AS decayed
         |FROM w GROUP BY user_id""".stripMargin
    }) { (s, dir) =>
      val anchor = events(s, dir).agg(max(col("ts")).as("anchor"))
      val wkCol = floor(
        datediff(to_date(col("anchor")), to_date(col("ts"))) / lit(7.0))
        .cast(LongType)
      val decW = (v: String) => lit(v).cast(DecimalType(10, 8))
      val wt = when(col("wk") === 0, decW("1.0"))
        .when(col("wk") === 1, decW("0.5"))
        .when(col("wk") === 2, decW("0.25"))
        .when(col("wk") === 3, decW("0.125"))
        .when(col("wk") === 4, decW("0.0625"))
        .when(col("wk") === 5, decW("0.03125"))
        .when(col("wk") === 6, decW("0.015625"))
        .when(col("wk") === 7, decW("0.0078125"))
        .when(col("wk") === 8, decW("0.00390625"))
        .otherwise(decW("0"))
      events(s, dir).crossJoin(broadcast(anchor))
        .withColumn("wk", wkCol)
        .select(col("user_id"),
          (col("value").cast(DecimalType(18, 2)) * wt).as("wv"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("wv")).cast(DoubleType).as("decayed"))
    },

    // ── DAU/MAU stickiness ──────────────────────────────────────────
    // Per calendar month: average daily active users over the month's
    // ACTIVE days, monthly actives, and their ratio — the engagement
    // stickiness metric. Exact integer distinct-counts at two grains +
    // a fixed double-division sequence. Scale shape: two hash aggs
    // (user-day dedup, then day counts) — the month relation is tiny.
    Q("q_events_stickiness",
      """WITH ud AS (
        |  SELECT DISTINCT CAST(date_trunc('month', ts) AS TIMESTAMP) AS m,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, user_id
        |  FROM events),
        |pd AS (SELECT m, d, count(*) AS dau FROM ud GROUP BY m, d),
        |pm AS (SELECT m, count(DISTINCT user_id) AS mau FROM ud GROUP BY m)
        |SELECT pd.m, count(*) AS n_days,
        |  CAST(sum(dau) AS BIGINT) AS dau_sum, any_value(mau) AS mau,
        |  CAST(sum(dau) AS BIGINT) / CAST(count(*) AS DOUBLE)
        |    / any_value(mau) AS stickiness
        |FROM pd JOIN pm ON pd.m = pm.m
        |GROUP BY pd.m""".stripMargin) { (s, dir) =>
      val ud = events(s, dir)
        .select(date_trunc("month", col("ts")).as("m"),
          date_trunc("day", col("ts")).as("d"), col("user_id"))
        .distinct()
      val dau = ud.groupBy("m", "d").agg(count(lit(1)).as("dau"))
      val mau = ud.groupBy("m").agg(countDistinct("user_id").as("mau"))
      dau.join(mau, "m")
        .groupBy("m")
        .agg(count(lit(1)).as("n_days"), sum("dau").as("dau_sum"),
          first("mau").as("mau"))
        .select(col("m"), col("n_days"), col("dau_sum"), col("mau"),
          (col("dau_sum") / col("n_days").cast(DoubleType) / col("mau"))
            .as("stickiness"))
    },

    // ── conversion attribution (first purchase + leading clicks) ────
    // Per converting user: their FIRST purchase (ties on ts break by
    // event_id via row_number — arg_min tie order is engine-defined,
    // so neither side uses it), the clicks strictly before it, and the
    // first-click-to-conversion latency in whole seconds (epoch-micro
    // difference div 1e6 — exact integer arithmetic, no interval
    // rounding ambiguity). The attribution query of a funnel pipeline.
    // Scale shape: one user-partitioned window over purchases + one
    // (user)-keyed join/agg over clicks — no windows over the full
    // stream, no driver state.
    Q("q_events_conversion",
      """WITH fp AS (
        |  SELECT user_id, ts AS first_purchase_ts FROM (
        |    SELECT user_id, ts,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events WHERE event_type = 'purchase') t
        |  WHERE rn = 1),
        |ck AS (
        |  SELECT fp.user_id, fp.first_purchase_ts, c.ts AS click_ts
        |  FROM fp LEFT JOIN events c
        |    ON c.user_id = fp.user_id AND c.event_type = 'click'
        |   AND c.ts < fp.first_purchase_ts)
        |SELECT user_id, first_purchase_ts,
        |  count(click_ts) AS n_clicks_before,
        |  CASE WHEN count(click_ts) = 0 THEN NULL
        |       ELSE (epoch_us(first_purchase_ts) - epoch_us(min(click_ts))) // 1000000
        |  END AS secs_to_convert
        |FROM ck GROUP BY user_id, first_purchase_ts""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val fp = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("first_purchase_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      val us = (c: Column) => unix_micros(c)
      fp.join(clicks,
          col("c_user") === col("user_id") &&
            col("click_ts") < col("first_purchase_ts"), "left")
        .groupBy("user_id", "first_purchase_ts")
        .agg(count(col("click_ts")).as("n_clicks_before"),
          min(col("click_ts")).as("first_click_ts"))
        .select(col("user_id"), col("first_purchase_ts"),
          col("n_clicks_before"),
          when(col("n_clicks_before") === 0, lit(null).cast(LongType))
            .otherwise(((us(col("first_purchase_ts")) - us(col("first_click_ts")))
              / lit(1000000L)).cast(LongType)).as("secs_to_convert"))
    },

    // ── position-based multi-touch attribution ──────────────────────
    // The credit-assignment twin of q_events_conversion: every
    // pre-first-purchase touch gets a share of the conversion under the
    // standard U-shaped model — 40% to the first touch, 40% to the
    // last, the middle 20% split evenly (degenerating to 100% for a
    // single touch and 50/50 for two) — rolled up per channel
    // (event_type). Credits are INTEGER parts-per-million, not
    // doubles: middle shares use integer division, so per-channel sums
    // are exact and order-independent — a double-credit sum would be
    // bit-sensitive to Spark's partition reduction order where the
    // oracle sums serially. Scale shape: the first-purchase anchor is
    // a user-partitioned top-1 window, touches attach via one hash
    // equi-join on user_id, position/count are user-partitioned
    // windows, and the rollup is a hash agg to a |channels|-sized
    // relation. Nothing global, nothing floating-point.
    Q("q_events_attribution",
      """WITH fp AS (
        |  SELECT user_id, ts AS first_purchase_ts FROM (
        |    SELECT user_id, ts,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events WHERE event_type = 'purchase') t
        |  WHERE rn = 1),
        |touch AS (
        |  SELECT e.user_id, e.event_id, e.event_type, e.ts
        |  FROM events e JOIN fp ON fp.user_id = e.user_id
        |  WHERE e.ts < fp.first_purchase_ts AND e.event_type <> 'purchase'),
        |pos AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM touch),
        |cr AS (
        |  SELECT event_type,
        |    CASE WHEN n = 1 THEN 1000000
        |         WHEN n = 2 THEN 500000
        |         WHEN pos = 1 OR pos = n THEN 400000
        |         ELSE 200000 // (n - 2) END AS credit_ppm
        |  FROM pos)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total
        |FROM cr GROUP BY event_type""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val wU = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val fp = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(wU))
        .filter(col("rn") === 1)
        .select(col("user_id").as("p_user"), col("ts").as("first_purchase_ts"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .join(fp, col("user_id") === col("p_user") &&
          col("ts") < col("first_purchase_ts"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      val pos = touch
        .withColumn("pos", row_number().over(wU).cast(LongType))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      pos.select(col("event_type"),
          when(col("n") === 1, 1000000L)
            .when(col("n") === 2, 500000L)
            .when(col("pos") === 1 || col("pos") === col("n"), 400000L)
            .otherwise(expr("200000L div (n - 2)")).as("credit_ppm"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_ppm")).cast(LongType).as("credit_ppm_total"))
    },

    // ── common event paths (second-order sequence mining) ───────────
    // The top-10 most frequent 3-step event-type paths across user
    // streams — q_events_markov's chain extended one step, the "what
    // do users actually do" path report. Same deterministic
    // (ts, event_id) ordering; one user-partitioned window computes
    // both leads, then a hash agg to a |types|³-bounded relation and a
    // top-k over it. The top-k is distributed orderBy+limit
    // (TakeOrderedAndProject: per-partition top-10, 10-row driver
    // merge), then rank re-attaches over the 10-row head — never a
    // single-partition window over the triple counts, which at a
    // high-cardinality event-type schema would funnel |types|³ rows
    // through one task (the q_basket_lift pattern).
    Q("q_events_paths",
      """WITH nx AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT e1, e2, e3, count(*) AS n FROM nx
        |  WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY e1, e2, e3)
        |SELECT e1, e2, e3, n, rk FROM (
        |  SELECT e1, e2, e3, n,
        |    row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS rk
        |  FROM c) t
        |WHERE rk <= 10""".stripMargin) { (s, dir) =>
      val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val c = events(s, dir)
        .select(col("event_type").as("e1"),
          lead(col("event_type"), 1).over(wu).as("e2"),
          lead(col("event_type"), 2).over(wu).as("e3"))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
      val top = c.orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(10)
      val wr = Window.orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      top.withColumn("rk", row_number().over(wr).cast(LongType))
    },

    // ── seasonal-naive forecast error (time-series eval baseline) ───
    // MAE of the "same day last week" predictor over per-type daily
    // spend — the baseline every real forecast must beat, and the
    // shape of a backtest evaluation job. The predictor joins each day
    // to the day EXACTLY 7 calendar days earlier (a row-offset lag
    // would silently misalign the weekday whenever a type skips a
    // day); days with no week-ago anchor score nothing. Determinism
    // discipline: day totals are decimal-exact; the error
    // |today - pred| re-enters DECIMAL before summing (the true
    // difference is ON the cent grid, so rounding the double
    // subtraction back to cents is exact on both engines); one double
    // division at the end. Scale shape: one hash agg to type×day, one
    // equi-join on (type, day) over that tiny relation.
    Q("q_events_seasonal_mae",
      s"""WITH dt AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         |         ${O.dsum("value")} AS day_total
         |  FROM events GROUP BY 1, 2),
         |p AS (
         |  SELECT t.event_type, t.day_total, a.day_total AS pred
         |  FROM dt t JOIN dt a
         |    ON a.event_type = t.event_type
         |   AND a.d = t.d - INTERVAL '7 days')
         |SELECT event_type, count(*) AS n_scored,
         |  CAST(CAST(sum(CAST(abs(day_total - pred) AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
         |    / count(*) AS mae
         |FROM p GROUP BY event_type""".stripMargin) { (s, dir) =>
      val dt = events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(graft.Cols.dsum(col("value")).as("day_total"))
        .persist()
      val anchor = dt.select(col("event_type").as("a_type"),
        col("d").as("a_d"), col("day_total").as("pred"))
      dt.join(anchor,
          col("a_type") === col("event_type") &&
            col("a_d") === col("d") - expr("INTERVAL 7 DAYS"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"),
          (sum(abs(col("day_total") - col("pred")).cast(DecimalType(18, 2)))
            .cast(DoubleType) / count(lit(1))).as("mae"))
    },

    // ── incremental aggregate maintenance (partial merge) ───────────
    // The materialized-view refresh pattern: per-type counts and
    // decimal-exact spend are computed as PARTIAL aggregates over the
    // standing corpus and the arriving batch (every 50th event as the
    // stand-in) and MERGED — counts add, decimal sums add, one double
    // cast after the merge. Because both stats are mergeable, a real
    // deployment refreshes the view from stored partials at batch
    // cost, never rescanning the corpus; the oracle replays the merge
    // itself, proving merged == direct over any partitioning (decimal
    // addition is associative — the same property that makes the
    // per-type totals safe under Spark's partial/final agg split).
    Q("q_agg_delta_merge",
      """WITH p AS (
        |  SELECT event_type, event_id % 50 = 0 AS is_delta,
        |         count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS t
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
        |  CAST(CAST(sum(t) AS STRING) AS DOUBLE) AS total,
        |  CAST(COALESCE(sum(n) FILTER (WHERE is_delta), 0) AS BIGINT) AS n_delta
        |FROM p GROUP BY event_type""".stripMargin) { (s, dir) =>
      val partials = events(s, dir)
        .groupBy(col("event_type"), (col("event_id") % 50 === 0).as("is_delta"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).as("t"))
      partials.groupBy("event_type")
        .agg(sum("n").as("n"),
          sum("t").cast(DoubleType).as("total"),
          sum(when(col("is_delta"), col("n")).otherwise(0L)).as("n_delta"))
    },

    // ── HyperLogLog distinct-count sketch (deterministic registers) ─
    // Per-event-type distinct users via a REAL m=256-register HLL,
    // built so both engines produce bit-identical estimates: the
    // 60-bit hex60 hash splits into bucket (low 8 bits) and a 52-bit
    // remainder whose leading-zero rank comes from length(bin(x)) —
    // identical minimal-binary semantics in Spark and DuckDB — and the
    // harmonic-mean denominator Σ 2^(-Mj) is computed EXACTLY as
    // Σ 2^(60-Mj) in DECIMAL(38,0) (every term a shifted integer;
    // empty registers contribute 2^60), cast to double once. The raw
    // estimate is reported without the small-range linear-counting
    // correction (it needs ln(), which engines round differently);
    // n_empty makes the regime visible. max() registers are shuffle-
    // order independent — the sketch is mergeable, which is the whole
    // 100 TB story: registers combine across any partitioning.
    Q("q_sketch_hll", {
      val alpha = 0.7213 / (1.0 + 1.079 / 256.0)
      val h = graft.OracleSql.hex60("CAST(user_id AS VARCHAR)")
      s"""WITH b AS (
         |  SELECT event_type, user_id, $h % 256 AS bucket,
         |    CASE WHEN ($h >> 8) = 0 THEN 53
         |         ELSE 53 - length(bin($h >> 8)) END AS rho
         |  FROM events),
         |m AS (
         |  SELECT event_type, bucket, max(rho) AS mj
         |  FROM b GROUP BY event_type, bucket),
         |s AS (
         |  SELECT event_type, count(*) AS n_used,
         |    CAST(CAST(sum(CAST((1::BIGINT << (60 - mj)) AS DECIMAL(38,0)))
         |           + CAST(256 - count(*) AS DECIMAL(38,0))
         |             * CAST(1152921504606846976 AS DECIMAL(38,0))
         |         AS STRING) AS DOUBLE) AS sigma
         |  FROM m GROUP BY event_type),
         |x AS (
         |  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events
         |  GROUP BY event_type)
         |SELECT s.event_type, n_exact, 256 - n_used AS n_empty,
         |  CAST($alpha AS DOUBLE) * 65536.0 * 1.152921504606846976e18 / sigma AS hll_est,
         |  abs(CAST($alpha AS DOUBLE) * 65536.0 * 1.152921504606846976e18 / sigma - n_exact)
         |    / n_exact AS rel_err
         |FROM s JOIN x ON s.event_type = x.event_type""".stripMargin
    }) { (s, dir) =>
      val alpha = 0.7213 / (1.0 + 1.079 / 256.0)
      val h = graft.Cols.hex60(col("user_id").cast("string"))
      val rem = shiftright(h, 8)
      val b = events(s, dir).select(col("event_type"), col("user_id"),
        (h % 256).as("bucket"),
        when(rem === 0, lit(53)).otherwise(lit(53) - length(bin(rem))).as("rho"))
      val m = b.groupBy("event_type", "bucket").agg(max("rho").as("mj"))
      val two60 = lit("1152921504606846976").cast(DecimalType(38, 0))
      val sk = m.groupBy("event_type")
        .agg(count(lit(1)).as("n_used"),
          sum(expr("shiftleft(1L, cast(60 - mj as int))")
            .cast(DecimalType(38, 0))).as("sum_used"))
        .select(col("event_type"), col("n_used"),
          (col("sum_used") +
            (lit(256L) - col("n_used")).cast(DecimalType(38, 0)) * two60)
            .cast(DoubleType).as("sigma"))
      val exact = events(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      val est = lit(alpha) * lit(65536.0) * lit(1.152921504606846976e18) / col("sigma")
      sk.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (lit(256L) - col("n_used")).as("n_empty"),
          est.as("hll_est"),
          (abs(est - col("n_exact")) / col("n_exact")).as("rel_err"))
    },
  )
}
