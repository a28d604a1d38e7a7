package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.math.RoundingMode
import java.sql.Timestamp

/** Custom streaming state operators (`KeyValueGroupedDataset
  * .flatMapGroupsWithState`) — the API tier for session logic the
  * declarative `session_window()` cannot express (per-session custom
  * fields, early emission, business rules on close).
  *
  * State scale: one [[StatefulOps.OpenSession]] (4 numeric fields) per
  * ACTIVE key — closed sessions are emitted and dropped, so state size
  * tracks concurrent users, not history. The shuffle partitions by the
  * group key, the same hashing the equivalent batch aggregation uses.
  */
object StatefulOps extends Serializable {

  /** One event of the sessionization input. */
  final case class Ev(user_id: Long, ts: Timestamp, value: Double)

  /** Open-session state: timestamps in epoch micros; the value total in
    * cents (decimal(18,2) semantics, matching Cols.dsum's
    * order-independent exact accumulation).
    */
  final case class OpenSession(
      startMicros: Long, lastMicros: Long, n: Long, totalCents: Long)

  /** A closed session, shaped exactly like EventWindows.session's
    * output rows.
    */
  final case class SessionOut(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total: Double)

  private def micros(ts: Timestamp): Long =
    // floorDiv, not truncating /: getNanos is always NON-negative, so
    // for a pre-1970 instant the truncated millis-to-seconds division
    // would round toward zero and misplace the event by a full second
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  private def fromMicros(m: Long): Timestamp = {
    val t = new Timestamp(m / 1000000L * 1000L)
    t.setNanos((m % 1000000L).toInt * 1000)
    t
  }

  /** value -> cents with decimal(18,2) HALF_UP rounding — the identical
    * per-element rounding `cast(value AS DECIMAL(18,2))` applies, so
    * totals match Cols.dsum bit-for-bit after the final /100.
    */
  private def toCents(v: Double): Long =
    java.math.BigDecimal.valueOf(v).setScale(2, RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Gap-based sessionization with explicit state: events extend the
    * open session while they arrive < gap after its last event;
    * otherwise the open session closes (end = last ts + gap, the
    * `session_window` convention) and a new one opens. Closed sessions
    * are emitted; the open session stays in state for the next batch.
    *
    * In-batch event-time disorder is handled by sorting each group's
    * batch slice, which buffers that key's slice of the CURRENT
    * micro-batch in executor memory — bounded by rows-per-key-per-
    * trigger, not by history (the checkpointed STATE is one
    * OpenSession per active key). A pathologically hot key in a huge
    * batch is the limit of this approach; shorten the trigger interval
    * or pre-bucket such keys. Cross-batch disorder is subject to the
    * stream's watermark discipline, as with any event-time stateful
    * operator.
    *
    * `flushOpen`: in BATCH execution there is no later trigger, so an
    * open session left in state would simply be dropped — pass true to
    * emit it as closed at end-of-group (the gaps-and-islands batch
    * semantics, oracle-checked by `q_session_stateful`). Leave false in
    * streaming, where the open session must survive in state.
    *
    * `watermarkDelay`: in a LONG-RUNNING stream, pass the watermark
    * delay (e.g. "10 minutes") — the input gets `withWatermark` and
    * the operator uses an event-time TIMEOUT: when the watermark
    * passes an idle session's gap deadline, the session is emitted as
    * closed and its state row is EVICTED. Without it (None), an idle
    * user's open session is never emitted and never evicted — state
    * then grows with every user ever seen, which is only acceptable
    * for bounded test streams and batch runs.
    */
  def sessionize(
      events: Dataset[Ev],
      gapMinutes: Int = 30,
      flushOpen: Boolean = false,
      watermarkDelay: Option[String] = None): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L

    def close(user: Long, s: OpenSession): SessionOut =
      SessionOut(user, fromMicros(s.startMicros),
        fromMicros(s.lastMicros + gapMicros), s.n, s.totalCents / 100.0)

    val src = watermarkDelay
      .map(d => events.withWatermark("ts", d).as[Ev])
      .getOrElse(events)
    val timeoutConf =
      if (watermarkDelay.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout

    src.groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Append(), timeoutConf) {
      (user: Long, it: Iterator[Ev], state: GroupState[OpenSession]) =>
        if (state.hasTimedOut) {
          // watermark passed lastMicros + gap: the session can no longer
          // be extended by any non-late event — close it and DROP the
          // state row (this eviction is what keeps state ~ active keys)
          val out = state.getOption.map(close(user, _)).iterator
          state.remove()
          out
        } else {
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var cur = state.getOption
          it.toIndexedSeq.sortBy(e => micros(e.ts)).foreach { e =>
            val m = micros(e.ts)
            val cents = toCents(e.value)
            cur match {
              case Some(s) if m - s.lastMicros < gapMicros =>
                cur = Some(s.copy(
                  lastMicros = math.max(m, s.lastMicros),
                  n = s.n + 1,
                  totalCents = s.totalCents + cents))
              case Some(s) =>
                out += close(user, s)
                cur = Some(OpenSession(m, m, 1L, cents))
              case None =>
                cur = Some(OpenSession(m, m, 1L, cents))
            }
          }
          if (flushOpen) cur.foreach(s => out += close(user, s))
          else cur.foreach { s =>
            state.update(s)
            if (watermarkDelay.isDefined)
              // round the micro deadline UP to millis: truncation could
              // fire the timeout up to 1 ms early, closing a session an
              // in-gap event would still have extended
              state.setTimeoutTimestamp((s.lastMicros + gapMicros + 999L) / 1000L)
          }
          out.iterator
        }
    }
  }

  /** One record of the unioned as-of enrichment stream: a left (probe)
    * event or a right (state) update, tagged by `is_right`. The union
    * envelope is the standard two-streams-one-operator shape — a
    * stateful operator keys ONE input, so both sides ride the same
    * type and split inside the state function. Field names match the
    * q_asof_native fixture (clicks enriched with purchases).
    */
  final case class AsOfRec(user_id: Long, ts: Timestamp, is_right: Boolean,
      event_id: Long, purchase_id: Long)

  /** One enriched left event: the latest right row at-or-before its
    * time (backward-inclusive as-of), or None.
    */
  final case class AsOfMatch(event_id: Long, user_id: Long, ts: Timestamp,
      purchase_id: Option[Long], purchase_ts: Option[Timestamp])

  /** Per-key as-of state: right postings (micros -> id, time-sorted),
    * left events still inside the watermark window, and the key's last
    * event-time activity (for idle-TTL eviction). The lists are
    * BOUNDED by the watermark discipline, not by history: lefts drain
    * as the watermark passes them, and rights older than the watermark
    * are compacted to the single latest one (the only backward
    * candidate any future left can need).
    */
  final case class AsOfBuf(rights: List[(Long, Long)], lefts: List[(Long, Long)],
      lastSeenMicros: Long)

  /** STREAMING AS-OF JOIN — the streaming twin of the native batch
    * operator (`graft.plans.AsOfJoinPlan`): enrich an event stream
    * with the latest at-or-before state update per key, the
    * "attach the config/price/model version that was live when this
    * event happened" shape every training-data ingest needs.
    *
    * Correctness under disorder: a left event at time t is matched
    * only once the watermark has passed t — no on-time right row at
    * or before t can still arrive (later arrivals below the watermark
    * are late-beyond-watermark by contract). Until then the left row
    * WAITS IN STATE; an event-time timeout at the earliest waiting
    * left's instant guarantees emission even if the key receives no
    * further records. Output is therefore append-mode exact over
    * non-late data.
    *
    * State scale: per key, the compacted right postings (everything
    * newer than the watermark plus ONE latest-at-watermark row) and
    * the waiting lefts (a watermark-delay-wide window) — both bounded
    * by stream rate x delay, never by history.
    *
    * `flush`: batch-mode dial (same convention as [[sessionize]]'s
    * `flushOpen`): treat the watermark as +infinity and emit every
    * left — the gate `q_asof_stream` runs this against the SAME
    * DuckDB ASOF oracle as the three batch implementations (composed
    * window, sort-merge exec, broadcast exec), making the streaming
    * state machine the FOURTH independently-certified formulation.
    *
    * Surface: backward-inclusive only, deliberately — the streaming
    * enrichment shape. Forward/nearest need FUTURE state (the match
    * is unknown until the watermark passes t + tolerance), turning
    * the operator into a delay line; batch callers who need those
    * dials have the native operator's full surface.
    *
    * `idleTtlMinutes`: without it, a key that stops receiving records
    * holds its one compacted posting FOREVER — at production key
    * cardinality that is state growth by distinct-keys-ever. With it,
    * a key idle (no records, event time) past the TTL is EVICTED on
    * the watermark clock; a later probe of an evicted key degrades to
    * no-match, the documented trade of bounding state by ACTIVE keys.
    */
  def asofStream(recs: Dataset[AsOfRec], flush: Boolean = false,
      watermarkDelay: Option[String] = None,
      idleTtlMinutes: Option[Long] = None): Dataset[AsOfMatch] = {
    // flush=false with no watermark would never emit: the watermark
    // stays 0 so every left waits forever under NoTimeout and state
    // grows without bound — reject the combination at entry instead
    // of producing a silently-empty stream
    require(flush || watermarkDelay.isDefined,
      "asofStream with flush=false requires a watermarkDelay (without " +
        "one the watermark never advances, no left ever emits, and " +
        "state grows unboundedly)")
    import recs.sparkSession.implicits._
    val src = watermarkDelay
      .map(d => recs.withWatermark("ts", d).as[AsOfRec])
      .getOrElse(recs)
    val timeoutConf =
      if (watermarkDelay.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout

    src.groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Append(), timeoutConf) {
      (user: Long, it: Iterator[AsOfRec], state: GroupState[AsOfBuf]) =>
        val wm =
          if (flush) Long.MaxValue
          else state.getCurrentWatermarkMs() * 1000L // millis -> micros
        val prior = state.getOption.getOrElse(AsOfBuf(Nil, Nil, 0L))
        val batch = it.toIndexedSeq
        val (rIn, lIn) = batch.partition(_.is_right)
        // postings stay time-sorted; ties keep the larger id (the
        // fixture dedups per (key, time), so ties only appear if the
        // caller skipped that — make the choice deterministic anyway)
        val rights = (prior.rights ++ rIn.map(r => (micros(r.ts), r.purchase_id)))
          .groupBy(_._1).map { case (t, vs) => (t, vs.map(_._2).max) }
          .toArray.sortBy(_._1)
        val lefts = prior.lefts ++ lIn.map(l => (micros(l.ts), l.event_id))
        val (ready, waiting) = lefts.partition(_._1 <= wm)
        val times = rights.map(_._1)
        val out = ready.sortBy(l => (l._1, l._2)).map { case (t, eid) =>
          // binary search: greatest right time <= t (backward inclusive)
          var lo = 0; var hi = times.length - 1; var ans = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (times(mid) <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
          }
          if (ans >= 0)
            AsOfMatch(eid, user, fromMicros(t),
              Some(rights(ans)._2), Some(fromMicros(rights(ans)._1)))
          else AsOfMatch(eid, user, fromMicros(t), None, None)
        }
        if (flush) {
          // batch semantics: nothing survives the single invocation
          state.remove()
        } else {
          val lastSeen = (prior.lastSeenMicros +: batch.map(r => micros(r.ts))).max
          val idleDeadline = idleTtlMinutes.map(m => lastSeen + m * 60L * 1000000L)
          if (waiting.isEmpty && idleDeadline.exists(_ <= wm)) {
            // idle past the TTL on the event-time clock and nothing
            // pending: evict — state stays bounded by ACTIVE keys
            state.remove()
          } else {
            // compact rights: keep everything a FUTURE left (t > wm)
            // can still need — all postings after the watermark plus
            // the single latest at-or-before it
            val cut = {
              var lo = 0; var hi = times.length - 1; var ans = -1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                if (times(mid) <= wm) { ans = mid; lo = mid + 1 } else hi = mid - 1
              }
              math.max(ans, 0)
            }
            val kept = rights.drop(cut).toList
            state.update(AsOfBuf(kept, waiting, lastSeen))
            // arm the event-time timeout (only meaningful — and only
            // LEGAL — under EventTimeTimeout, i.e. with a watermark):
            // the earlier of "flush the earliest waiting left" and
            // "idle-TTL eviction", rounded UP to millis so neither can
            // fire a micro early, and always strictly past the current
            // watermark as the API requires
            if (watermarkDelay.isDefined) {
              val flushAt = waiting.map(_._1).minOption
              val deadline = (flushAt.toSeq ++ idleDeadline.toSeq)
                .map(m => (m + 999L) / 1000L).minOption
              deadline.foreach(d =>
                state.setTimeoutTimestamp(math.max(d, state.getCurrentWatermarkMs() + 1L)))
            }
          }
        }
        out.iterator
    }
  }

  /** One LSH band arrival of the streaming near-dup screen: a document
    * observed under one of its minhash band keys.
    */
  final case class BandArrival(band_key: Long, doc_id: Long, ts: Timestamp)

  /** One per-band verdict: whether the document is the first (lowest
    * doc_id) its band bucket has seen.
    */
  final case class BandVerdict(doc_id: Long, band_key: Long, first_in_band: Boolean)

  /** Streaming MinHash-band near-dup screen — the ingestion-time face
    * of the batch minhash/LSH family (`dedup_minhash_lsh`): each
    * arriving document is checked, per band bucket, against the
    * bucket's remembered minimum doc_id; a document whose EVERY band
    * says "first" has no earlier near-dup candidate and passes the
    * screen (the caller reduces the per-band verdicts with bool-and by
    * doc). This is the screen semantics — a shared band is treated as
    * a near-dup hit without the exact-Jaccard verify, the standard
    * cheap first line an ingest pipeline runs before admitting a
    * document to the expensive path.
    *
    * State per band bucket is TWO longs (min doc_id, last event-time
    * seen). Verdicts emit on ARRIVAL (append mode, no watermark wait);
    * the watermark exists to bound state: with `idleTtlMinutes`, a
    * bucket idle past the TTL on the event-time clock is EVICTED, so
    * state tracks buckets touched within the horizon, not buckets ever
    * seen — a document arriving after its bucket's eviction re-admits
    * as "first", the same within-horizon trade dedupWithinWatermark
    * documents. Determinism: each trigger slice is sorted on doc_id
    * (the group iterator's order within a trigger is unspecified), and
    * the verdict is `doc_id == min-after-folding` — idempotent under
    * replay (a re-delivered document re-derives its own verdict rather
    * than demoting itself), so at-least-once delivery cannot corrupt
    * the kept set. With time-monotone (doc_id-ordered) arrival and no
    * eviction mid-run, the kept set equals the batch rule "doc is the
    * minimum of every band bucket it occupies" — the DuckDB oracle of
    * q_stream_neardup.
    */
  def bandFirstScreen(bands: Dataset[BandArrival],
      watermarkDelay: Option[String] = None,
      idleTtlMinutes: Option[Long] = None): Dataset[BandVerdict] = {
    import bands.sparkSession.implicits._
    val src = watermarkDelay
      .map(d => bands.withWatermark("ts", d).as[BandArrival])
      .getOrElse(bands)
    val timeoutConf =
      if (watermarkDelay.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src.groupByKey(_.band_key).flatMapGroupsWithState(
      OutputMode.Append(), timeoutConf) {
      (band: Long, it: Iterator[BandArrival], state: GroupState[(Long, Long)]) =>
        if (state.hasTimedOut) {
          // idle past the TTL: evict — state stays bounded by buckets
          // ACTIVE within the horizon
          state.remove()
          Iterator.empty
        } else {
          var (m, lastSeen) = state.getOption.getOrElse((Long.MaxValue, 0L))
          val out = it.toIndexedSeq.sortBy(_.doc_id).map { a =>
            if (a.doc_id < m) m = a.doc_id
            lastSeen = math.max(lastSeen, micros(a.ts))
            BandVerdict(a.doc_id, band, a.doc_id == m)
          }
          state.update((m, lastSeen))
          if (watermarkDelay.isDefined) idleTtlMinutes.foreach { ttl =>
            // rounded UP to millis; always strictly past the current
            // watermark as the API requires (the asofStream convention)
            val deadline = (lastSeen + ttl * 60L * 1000000L + 999L) / 1000L
            state.setTimeoutTimestamp(
              math.max(deadline, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
        }
    }
  }

  /** Streaming exact dedup with BOUNDED state: first occurrence per key
    * combination is emitted; duplicate arrivals within the watermark
    * horizon are dropped, and key state older than the watermark is
    * evicted (`dropDuplicatesWithinWatermark`). This is the streaming
    * face of the batch exact-dedup operator: at 100 TB/day the state
    * holds one digest per key seen within the horizon, not per key
    * ever seen.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
}
