package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful per-key operators (engine capability beyond the reference's
  * stateless DStream ingest — SURVEY.md §2.9 "engine gains them free"):
  * `KeyValueGroupedDataset.mapGroupsWithState` for incremental per-user
  * aggregates across micro-batches, and a typed sessionizer.
  */
object StatefulOps {

  case class Ev(user_id: Long, ts_us: Long, value: Double)
  case class UserAgg(user_id: Long, n: Long, total: Double)
  case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Int)

  /** Incremental per-user running aggregate, updated every micro-batch
    * (Update output mode). State per key: (count, sum) — O(keys) memory.
    */
  def runningUserAgg(spark: SparkSession, ds: Dataset[Ev]): Dataset[UserAgg] = {
    import spark.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(user, 0L, 0.0))
          val next = evs.foldLeft(prev) { (a, e) =>
            UserAgg(user, a.n + 1, a.total + e.value)
          }
          state.update(next)
          next
      }
  }

  val DefaultGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min

  /** The Append-mode per-key fold behind every `*Stream` twin without
    * an idle flush: group by `key`, hand each key's micro-batch events
    * and stored state to `advance`, store the state it returns and emit
    * its rows. No timeout is registered, so the engine only invokes a
    * key that has data this batch (the `advance*` functions' "events or
    * prior state" invariant) and idle streams run no state-scan
    * micro-batches.
    */
  private def appendFold[E, K: Encoder, S: Encoder, O: Encoder](
      ds: Dataset[E])(key: E => K)(
      advance: (K, IndexedSeq[E], Option[S]) => (Seq[O], S)): Dataset[O] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: K, evs: Iterator[E], state: GroupState[S]) =>
          val (rows, st) = advance(k, evs.toIndexedSeq, state.getOption)
          state.update(st)
          rows.iterator
      }

  /** The event-time idle flush behind [[sessionPathsStream]] and
    * [[conversationStatsStream]]: `ts_us` becomes the watermarked
    * `event_time` column, each key's micro-batch folds through
    * `advance` like [[appendFold]], and the key's timeout re-arms at
    * `endUs(state) + gapUs`. Once the watermark passes it, `flush` emits
    * the key's last row and the state is removed.
    *
    * EventTimeTimeout, not ProcessingTimeTimeout, deliberately: with a
    * default (0-interval) trigger, any registered processing-time
    * timeout makes the engine run a state-scan micro-batch EVERY
    * trigger — a busy loop burning a stage per trigger on idle streams
    * (measured: thousands of stages in minutes; `processAllAvailable`
    * never quiesces). Event-time timeouts only arm on watermark
    * movement, which only happens on data.
    */
  private def idleFlushFold[W: Encoder, K: Encoder, S: Encoder, O: Encoder](
      ds: Dataset[_], watermarkDelay: String, gapUs: Long,
      key: W => K, endUs: S => Long, flush: (K, S) => O)(
      advance: (K, IndexedSeq[W], Option[S]) => (Seq[O], S)): Dataset[O] =
    ds.withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermarkDelay)
      .as[W]
      .groupByKey(key)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, evs: Iterator[W], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(flush(k, s))
          } else {
            val (rows, cur) = advance(k, evs.toIndexedSeq, state.getOption)
            state.update(cur)
            // the timeout must stay strictly above the current watermark
            // or the engine rejects it
            state.setTimeoutTimestamp(math.max((endUs(cur) + gapUs) / 1000,
              state.getCurrentWatermarkMs() + 1))
            rows.iterator
          }
      }

  /** Batch sessionizer: split each user's event stream on silences longer
    * than `gapUs`. Same semantics as the `w4_sessionize` SQL query;
    * typed formulation for reuse inside `flatMapGroupsWithState`.
    */
  def sessionsBatch(
      spark: SparkSession, ds: Dataset[Ev],
      gapUs: Long = DefaultGapUs): Dataset[Session] = {
    import spark.implicits._
    ds.groupByKey(_.user_id).flatMapGroups { (user: Long, evs: Iterator[Ev]) =>
      val sorted = evs.toIndexedSeq.sortBy(_.ts_us)
      if (sorted.isEmpty) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[Session]
        var start = sorted.head.ts_us
        var last = start
        var n = 0
        for (e <- sorted) {
          if (e.ts_us - last > gapUs) {
            out += Session(user, start, last, n)
            start = e.ts_us
            n = 0
          }
          last = e.ts_us
          n += 1
        }
        out += Session(user, start, last, n)
        out.iterator
      }
    }
  }

  /** One micro-batch of session state advancement for a single key —
    * the pure fold [[sessionsStream]] runs inside
    * `flatMapGroupsWithState`, extracted so its semantics (gap close,
    * late-event monotonicity) are unit-testable without driving the
    * streaming engine. Returns (sessions closed by this batch, the
    * still-open state to store).
    */
  private[streaming] def advanceSessions(
      user: Long, events: Seq[Ev], prior: Option[Session],
      gapUs: Long): (Seq[Session], Session) = {
    val sorted = events.sortBy(_.ts_us)
    var cur = prior.getOrElse(
      Session(user, sorted.head.ts_us, sorted.head.ts_us, 0))
    val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
    for (e <- sorted) {
      if (e.ts_us - cur.end_us > gapUs && cur.n_events > 0) {
        closed += cur
        cur = Session(user, e.ts_us, e.ts_us, 0)
      }
      // max, not assignment: events are sorted only WITHIN a
      // micro-batch, so a cross-batch late event (ts below the
      // stored end) must not regress the session end — that
      // produced end < start sessions and spuriously split the
      // next on-time event
      cur = cur.copy(end_us = math.max(cur.end_us, e.ts_us),
        n_events = cur.n_events + 1)
    }
    (closed.toSeq, cur)
  }

  case class TypedEv(user_id: Long, ts: Long, event_type: String)
  case class FunnelCursor(depth: Int, last_ts: Long)
  case class StepHit(user_id: Long, step_idx: Int, ts: Long)

  /** One micro-batch of funnel-cursor advancement for a single user —
    * the pure fold [[funnelStream]] runs inside `flatMapGroupsWithState`
    * (same extraction discipline as [[advanceSessions]]). Greedy cursor:
    * an event advances the cursor iff its type is the next step AND its
    * ts is strictly after the last matched ts — identical to
    * [[graft.operators.EventAnalytics.funnelSteps]]'s fold, so with
    * per-user in-order delivery across batches the stream's emitted
    * step hits aggregate to exactly the batch funnel counts. A
    * cross-batch late event below the stored cursor is skipped (depth
    * never regresses); late events can therefore only UNDER-count a
    * conversion the batch recomputation would see — the standard
    * streaming-funnel contract, reconciled by the batch twin.
    * Returns (newly reached steps, the cursor to store).
    */
  private[streaming] def advanceFunnel(
      steps: IndexedSeq[String], events: Seq[TypedEv],
      prior: Option[FunnelCursor]): (Seq[StepHit], FunnelCursor) = {
    var cur = prior.getOrElse(FunnelCursor(0, Long.MinValue))
    val hits = scala.collection.mutable.ArrayBuffer.empty[StepHit]
    for (e <- events.sortBy(_.ts)) {
      if (cur.depth < steps.size && e.event_type == steps(cur.depth) &&
          e.ts > cur.last_ts) {
        cur = FunnelCursor(cur.depth + 1, e.ts)
        hits += StepHit(e.user_id, cur.depth, e.ts)
      }
    }
    (hits.toSeq, cur)
  }

  /** Streaming ordered funnel: emits a [[StepHit]] the micro-batch a
    * user first reaches each step (Append mode — each (user, step_idx)
    * at most once per state lifetime, so `count(*) GROUP BY step_idx`
    * over the sink is the live funnel). State per key: an 12-byte
    * cursor — O(users), not O(events).
    */
  def funnelStream(
      spark: SparkSession, ds: Dataset[TypedEv], steps: Seq[String])
      : Dataset[StepHit] = {
    import spark.implicits._
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "funnel steps must be non-empty and distinct")
    val stepsIdx = steps.toIndexedSeq
    appendFold(ds)(_.user_id) { (_, evs, prior: Option[FunnelCursor]) =>
      advanceFunnel(stepsIdx, evs, prior)
    }
  }

  case class PathEv(user_id: Long, ts_us: Long, eid: Long, et: String)
  case class PathSession(
      user_id: Long, start_us: Long, end_us: Long, n_events: Long,
      path: String)

  /** One micro-batch of session-PATH state advancement — the streaming
    * twin of [[graft.operators.EventAnalytics.sessionPaths]]'s
    * per-session path building. Within a micro-batch events order by
    * (ts, eid) exactly like the batch operator. A cross-batch late
    * event that still REACHES the fold (i.e. within the stream's
    * watermark delay) appends at the path tail rather than splicing
    * into position — state stores only the capped prefix string, same
    * monotonicity convention as [[advanceSessions]]' end_us; an event
    * later than the watermark never reaches the fold at all (the
    * engine's standard late-row drop — size `watermarkDelay` for the
    * disorder the source actually produces). The path caps at
    * `maxSteps` steps, so per-key state is one fixed-size row however
    * long the session.
    */
  private[streaming] def advancePaths(
      user: Long, events: Seq[PathEv], prior: Option[PathSession],
      gapUs: Long, maxSteps: Int): (Seq[PathSession], PathSession) = {
    val sorted = events.sortBy(e => (e.ts_us, e.eid))
    var cur = prior.getOrElse(
      PathSession(user, sorted.head.ts_us, sorted.head.ts_us, 0, ""))
    val closed = scala.collection.mutable.ArrayBuffer.empty[PathSession]
    for (e <- sorted) {
      if (e.ts_us - cur.end_us > gapUs && cur.n_events > 0) {
        closed += cur
        cur = PathSession(user, e.ts_us, e.ts_us, 0, "")
      }
      val path =
        if (cur.n_events >= maxSteps) cur.path
        else if (cur.n_events == 0) e.et
        else cur.path + ">" + e.et
      cur = cur.copy(end_us = math.max(cur.end_us, e.ts_us),
        n_events = cur.n_events + 1, path = path)
    }
    (closed.toSeq, cur)
  }

  /** Streaming session paths: emits each session's (user, bounds,
    * event count, capped type path) when the gap closes it — the
    * maintained form of the w10 top-paths report (downstream a
    * `groupBy(path).count` over the emitted rows IS w10, incrementally).
    *
    * Idle flush is EVENT-TIME: the state times out once the watermark
    * passes session end + gap, so a user who stops sending events still
    * emits their last session when the stream's clock moves past it
    * ([[idleFlushFold]]).
    */
  def sessionPathsStream(
      spark: SparkSession, ds: Dataset[PathEv],
      gapUs: Long = DefaultGapUs, maxSteps: Int = 8,
      watermarkDelay: String = "0 seconds"): Dataset[PathSession] = {
    require(gapUs > 0, "session gap must be positive") // batch-twin guard
    require(maxSteps >= 1, "paths need at least one step")
    import spark.implicits._
    idleFlushFold[PathEvW, Long, PathSession, PathSession](
        ds, watermarkDelay, gapUs, _.user_id, _.end_us, (_, s) => s) {
      (user, evs, prior) => advancePaths(user,
        evs.map(e => PathEv(e.user_id, e.ts_us, e.eid, e.et)), prior,
        gapUs, maxSteps)
    }
  }

  private[streaming] case class PathEvW(
      user_id: Long, ts_us: Long, eid: Long, et: String,
      event_time: java.sql.Timestamp)

  case class LastEv(ts_us: Long, eid: Long, et: String)
  case class Transition(user_id: Long, cur: String, next: String)

  /** One micro-batch of transition-state advancement — the streaming
    * twin of [[graft.operators.EventAnalytics.transitionMatrix]]'s lead
    * window. State per user is ONE (ts, eid, type) row; each event
    * beyond the first emits the (previous type → this type) pair.
    * Within a micro-batch events order by (ts, eid) exactly like the
    * batch operator, so with per-user in-order delivery across batches
    * the emitted pairs aggregate to exactly the batch matrix. A
    * cross-batch late event appends in arrival order at the state's
    * tail (the [[advancePaths]] monotonicity convention) rather than
    * splicing into position — reconciled by the batch twin.
    */
  private[streaming] def advanceTransitions(
      user: Long, events: Seq[PathEv], prior: Option[LastEv])
      : (Seq[Transition], LastEv) = {
    val sorted = events.sortBy(e => (e.ts_us, e.eid))
    val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
    var last = prior
    for (e <- sorted) {
      last.foreach(l => out += Transition(user, l.et, e.et))
      last = Some(LastEv(e.ts_us, e.eid, e.et))
    }
    (out.toSeq, last.get)
  }

  /** Streaming transition pairs: emits each (user, cur → next) pair the
    * micro-batch its second event arrives (Append mode) — downstream a
    * `groupBy(cur, next).count` over the sink IS the w11 transition
    * matrix, maintained incrementally. State per key: one fixed-size
    * last-event row — O(users), never O(events); no timeout is
    * registered, so no state-scan micro-batches run on idle streams
    * (the [[sessionsStream]] busy-loop caveat cannot apply).
    */
  def transitionsStream(
      spark: SparkSession, ds: Dataset[PathEv]): Dataset[Transition] = {
    import spark.implicits._
    appendFold(ds)(_.user_id) { (user, evs, prior: Option[LastEv]) =>
      advanceTransitions(user, evs, prior)
    }
  }

  case class GapEv(user_id: Long, ts_ns: Long, eid: Long)
  case class LastGap(ts_ns: Long, eid: Long)
  case class GapRow(user_id: Long, gap_s: Long)

  /** One micro-batch of inter-arrival gap emission — the streaming twin
    * of [[graft.operators.EventAnalytics.botRegularity]]'s user-keyed
    * lag window. State per user is ONE (ts, eid) row; each event beyond
    * the first emits its gap to the previous one, floor-bucketed to
    * whole seconds with the batch operator's sign-correct floorDiv
    * (pmod-subtract) idiom. Within a micro-batch events order by
    * (ts, eid) exactly like the batch window, so with per-user in-order
    * delivery the emitted gaps aggregate to exactly the batch gap
    * table. A cross-batch late event appends in arrival order at the
    * state's tail (the [[advanceTransitions]] monotonicity convention —
    * its gap may be negative, never a crash) and is reconciled by the
    * batch twin.
    */
  private[streaming] def advanceGaps(
      user: Long, events: Seq[GapEv], prior: Option[LastGap])
      : (Seq[GapRow], LastGap) = {
    // NoTimeout invariant: flatMapGroupsWithState only invokes a group
    // that has data this batch, so events ++ prior is never empty. A
    // future timeout registration would break that — fail with the
    // invariant named rather than an anonymous last.get NoSuchElement.
    require(events.nonEmpty || prior.nonEmpty,
      "advanceGaps invoked with no events and no prior state — the " +
        "NoTimeout invariant no longer holds (was a state timeout added?)")
    val sorted = events.sortBy(e => (e.ts_ns, e.eid))
    val out = scala.collection.mutable.ArrayBuffer.empty[GapRow]
    var last = prior
    for (e <- sorted) {
      last.foreach(l => out +=
        GapRow(user, Math.floorDiv(e.ts_ns - l.ts_ns, 1000000000L)))
      last = Some(LastGap(e.ts_ns, e.eid))
    }
    (out.toSeq, last.get)
  }

  /** Streaming inter-arrival gaps: emits each (user, gap_s) row the
    * micro-batch its closing event arrives (Append mode) — downstream,
    * [[graft.operators.EventAnalytics.botRegularityFromGaps]] over the
    * sink IS the w17 bot-regularity report, maintained incrementally
    * (delegation, not a re-authored twin). State per key: one
    * fixed-size last-event row — O(users), never O(events); no timeout
    * registered, so idle streams run no state-scan micro-batches.
    */
  def gapsStream(
      spark: SparkSession, ds: Dataset[GapEv]): Dataset[GapRow] = {
    import spark.implicits._
    appendFold(ds)(_.user_id)(advanceGaps)
  }

  case class PairEv(k1: String, k2: String)
  case class PairCount(k1: String, k2: String, n_docs: Long)

  /** Streaming (k1, k2)-pair count upserts — the [[bucketCountsStream]]
    * shape with a two-string composite key (e.g. (source, license)
    * cells for the c20 twin). Running totals are monotone, so
    * max(n_docs) per pair in the Append sink is the latest; state per
    * key: one long.
    */
  def pairCountsStream(
      spark: SparkSession, ds: Dataset[PairEv]): Dataset[PairCount] = {
    import spark.implicits._
    appendFold(ds)(e => (e.k1, e.k2)) { (k, evs, prior: Option[CountState]) =>
      val (rows, st) = advanceCount(k._1, evs.size.toLong, prior)
      (rows.map(r => PairCount(k._1, k._2, r.c)), st)
    }
  }

  case class TypedGapEv(user_id: Long, event_type: String, ts_ns: Long)
  case class LastTypedGap(ts_ns: Long)
  case class TypedGapRow(event_type: String, gap_s: Long)

  /** One micro-batch of (user, type)-keyed inter-arrival gaps — the
    * [[advanceGaps]] shape with the event type in the key. Within a
    * batch events sort by timestamp (ties are gap-multiset-safe, the
    * batch operator's own argument); a late cross-batch event yields a
    * negative gap by the [[advanceTransitions]] monotonicity
    * convention — never a crash — and is reconciled by the batch twin.
    */
  private[streaming] def advanceTypedGaps(
      eventType: String, events: Seq[TypedGapEv],
      prior: Option[LastTypedGap]): (Seq[TypedGapRow], LastTypedGap) = {
    require(events.nonEmpty || prior.nonEmpty,
      "advanceTypedGaps invoked with no events and no prior state — " +
        "the NoTimeout invariant no longer holds")
    val sorted = events.sortBy(_.ts_ns)
    val out = scala.collection.mutable.ArrayBuffer.empty[TypedGapRow]
    var last = prior
    for (e <- sorted) {
      last.foreach(l => out += TypedGapRow(eventType,
        Math.floorDiv(e.ts_ns - l.ts_ns, 1000000000L)))
      last = Some(LastTypedGap(e.ts_ns))
    }
    (out.toSeq, last.get)
  }

  /** Streaming per-(user, type) inter-arrival gaps: each closing event
    * emits its (event_type, gap_s) row the micro-batch it arrives
    * (Append mode) — downstream,
    * [[graft.operators.EventAnalytics.interArrivalFromGaps]] over the
    * sink IS the w24 cadence report, maintained incrementally
    * (delegation, not a re-authored twin). State per key: ONE
    * fixed-size last-timestamp row — O(users·types), never O(events);
    * no timeout, so idle streams run no state-scan micro-batches.
    */
  def typedGapsStream(
      spark: SparkSession, ds: Dataset[TypedGapEv])
      : Dataset[TypedGapRow] = {
    import spark.implicits._
    appendFold(ds)(e => (e.user_id, e.event_type)) {
      (k, evs, prior: Option[LastTypedGap]) =>
        advanceTypedGaps(k._2, evs, prior)
    }
  }

  case class SpanEv(user_id: Long, day: Long)
  case class UserSpan(f: Long, l: Long)
  case class SpanRow(u: Long, f: Long, l: Long)

  /** One micro-batch of per-user activity-span maintenance: the state
    * is the (first, last) active-day pair, and a row is emitted ONLY
    * when the span changes — an upsert stream whose latest row per
    * user (batch read: min(f), max(l) — both monotone) IS the
    * survivalCurve head's per-user aggregate.
    */
  private[streaming] def advanceSpans(
      user: Long, days: Seq[Long], prior: Option[UserSpan])
      : (Seq[SpanRow], UserSpan) = {
    val lo = days.min; val hi = days.max
    val next = prior match {
      case None => UserSpan(lo, hi)
      case Some(p) => UserSpan(math.min(p.f, lo), math.max(p.l, hi))
    }
    val changed = !prior.contains(next)
    (if (changed) Seq(SpanRow(user, next.f, next.l)) else Nil, next)
  }

  /** Streaming per-user activity spans (Append mode, change-only
    * upserts) — downstream, `min(f)/max(l)` per user over the sink fed
    * to [[graft.operators.EventAnalytics.survivalFromSpans]] IS the
    * w27 Kaplan–Meier table, maintained incrementally (delegation).
    * State per user: one (first, last) pair — O(users), never
    * O(events); no timeout, so idle streams run no state-scan
    * micro-batches.
    */
  def userSpanStream(
      spark: SparkSession, ds: Dataset[SpanEv]): Dataset[SpanRow] = {
    import spark.implicits._
    appendFold(ds)(_.user_id) { (u, evs, prior: Option[UserSpan]) =>
      advanceSpans(u, evs.map(_.day), prior)
    }
  }

  case class TransEv(
    user_id: Long, ts_ns: Long, event_id: Long, event_type: String)
  case class LastTrans(ts_ns: Long, event_id: Long, event_type: String)
  case class TransPair(cur: String, next: String)

  /** One micro-batch of per-user journey transitions: each event after
    * the user's first emits ONE (cur → next) pair against the carried
    * last event — exactly the lead-window pairs of
    * [[graft.operators.EventAnalytics.entropyRate]]'s batch head under
    * in-order per-user delivery. In-batch events sort by (ts, eid)
    * like the batch window's ORDER BY.
    */
  private[streaming] def advanceTransitions(
      events: Seq[TransEv], prior: Option[LastTrans])
      : (Seq[TransPair], LastTrans) = {
    val sorted = events.sortBy(e => (e.ts_ns, e.event_id))
    // The in-order contract is ENFORCED at the cross-batch boundary,
    // not just documented: a late event older than (or a redelivered
    // duplicate of) the carried last event would both emit a reversed
    // (cur, next) pair and regress the state, silently corrupting
    // every subsequent pair vs the batch entropyRate head. Raise
    // loudly instead (the repo discipline); an at-least-once source
    // needs an upstream dedup/ordering stage before this operator.
    for (p <- prior; e <- sorted.headOption)
      if (e.ts_ns < p.ts_ns ||
          (e.ts_ns == p.ts_ns && e.event_id <= p.event_id))
        throw new IllegalStateException(
          "transitionPairsStream: out-of-order delivery — event (ts=" +
            s"${e.ts_ns}, id=${e.event_id}) is not later than the " +
            s"carried state (ts=${p.ts_ns}, id=${p.event_id}); " +
            "dedup/order upstream")
    val out = scala.collection.mutable.ArrayBuffer.empty[TransPair]
    var last = prior
    for (e <- sorted) {
      last.foreach(l => out += TransPair(l.event_type, e.event_type))
      last = Some(LastTrans(e.ts_ns, e.event_id, e.event_type))
    }
    (out.toSeq, last.get)
  }

  /** Streaming per-user journey-transition pairs (Append mode) —
    * downstream, a (cur, next) count of the sink fed to
    * [[graft.operators.EventAnalytics.entropyRateFromPairs]] IS the
    * w26 entropy-rate report, maintained incrementally (delegation,
    * not a re-authored twin; the same pair counts also feed w11's
    * transition matrix). State per user: ONE fixed-size last-event
    * row — O(users), never O(events); no timeout, so idle streams run
    * no state-scan micro-batches.
    */
  def transitionPairsStream(
      spark: SparkSession, ds: Dataset[TransEv]): Dataset[TransPair] = {
    import spark.implicits._
    appendFold(ds)(_.user_id) { (_, evs, prior: Option[LastTrans]) =>
      advanceTransitions(evs, prior)
    }
  }

  case class FanoEv(ts_ns: Long, event_type: String)
  case class TypeBucket(event_type: String, bucket: Long)

  /** Streaming (event_type, bucket) grid-cell emission — the w28 Fano
    * head. STATELESS by the operator's algebra: each event contributes
    * exactly one increment to one (type, bucket) cell, so the twin
    * carries no state and is exact under ANY delivery order (a late
    * event folds into its own cell — contrast w26's transition pairs,
    * where order is semantic and violation raises). Downstream, the
    * sink's count per (event_type, bucket) fed to
    * [[graft.operators.EventAnalytics.fanoFromBucketCounts]] IS the
    * batch w28 report — delegation, zero re-authored math. Null
    * timestamps can't reach this head (the case class is primitive),
    * matching the batch head's loud-raise contract.
    */
  def typeBucketStream(
      spark: SparkSession, ds: Dataset[FanoEv],
      bucketUs: Long = 3600L * 1000 * 1000): Dataset[TypeBucket] = {
    import spark.implicits._
    require(bucketUs > 0, s"bucketUs must be positive (got $bucketUs)")
    val bucketNs = bucketUs * 1000L
    ds.map(e => TypeBucket(e.event_type, Math.floorDiv(e.ts_ns, bucketNs)))
  }

  case class DayEv(user_id: Long, day: Long)
  case class DaySet(days: Seq[Long])

  /** One micro-batch of first-seen (user, day) emission — the streaming
    * twin of [[graft.operators.EventAnalytics.stickiness]]'s activity
    * distinct. State per user is its active-day set CLIPPED to the
    * trailing `windowDays` horizon behind the newest day seen (the
    * [[advanceRate]] watermark analogue): a day re-delivered inside the
    * horizon dedupes, a day older than the horizon drops as late —
    * which also bounds state at `windowDays` longs per user. Days at or
    * inside the horizon emit exactly once, so the emitted rows ARE the
    * batch dayUser table under in-order delivery.
    */
  private[streaming] def advanceDays(
      user: Long, days: Seq[Long], prior: Option[DaySet],
      windowDays: Int): (Seq[DayEv], DaySet) = {
    var seen = prior.map(_.days.toSet).getOrElse(Set.empty)
    var maxDay = if (seen.isEmpty) Long.MinValue else seen.max
    val out = scala.collection.mutable.ArrayBuffer.empty[DayEv]
    for (d <- days.sorted) {
      if (maxDay == Long.MinValue || d >= maxDay - (windowDays - 1)) {
        if (!seen.contains(d)) { out += DayEv(user, d); seen += d }
        if (d > maxDay) maxDay = d
      } // else: late beyond the horizon — drop
    }
    val clipped = seen.filter(_ >= maxDay - (windowDays - 1))
    (out.toSeq, DaySet(clipped.toSeq.sorted))
  }

  /** Streaming (user, activity-day) first-seen rows (Append mode) —
    * downstream,
    * [[graft.operators.EventAnalytics.stickinessOverDayUsers]] over the
    * sink IS the w19 DAU/MAU report, maintained incrementally
    * (delegation, not a re-authored twin). State per key: ≤ windowDays
    * longs — O(users), never O(events); no timeout registered, so idle
    * streams run no state-scan micro-batches.
    */
  def userDayStream(
      spark: SparkSession, ds: Dataset[DayEv],
      windowDays: Int = 28): Dataset[DayEv] = {
    require(windowDays >= 1 && windowDays <= 366,
      s"windowDays must be in [1, 366] (got $windowDays)")
    import spark.implicits._
    appendFold(ds)(_.user_id) { (user, evs, prior: Option[DaySet]) =>
      advanceDays(user, evs.map(_.day), prior, windowDays)
    }
  }

  case class BucketEv(event_type: String, bucket: Long)
  case class BucketCount(bucket: Long, n: Long)
  case class RateState(
      ring: Seq[BucketCount], open_bucket: Long, open_count: Long)
  case class RateRow(
      event_type: String, bucket: Long, n_events: Long,
      n_baseline: Long, is_spike: Boolean)

  /** Pure fold of one micro-batch's bucket hits into the per-type rate
    * state: buckets older than the open one are late beyond the horizon
    * and drop (the watermark analogue); when a newer bucket appears,
    * every older open bucket FINALIZES in ascending order — scored
    * against the trailing ring with w12's exact integer test
    * (c·n − S)² > z²·(n·Q − S²) — and joins the ring (capped at
    * `baseline` rows, so state per key is fixed-size).
    */
  private[streaming] def advanceRate(
      etype: String, hits: Seq[Long], prior: Option[RateState],
      baseline: Int = 24, minBaseline: Int = 12, z: Int = 3)
      : (Seq[RateRow], RateState) = {
    // open_bucket == Long.MinValue is the "nothing open yet" sentinel
    // (an empty invocation under NoTimeout shouldn't occur, but a
    // sentinel that seeded a phantom zero-count bucket would corrupt
    // the ring if it ever did)
    val floorB = prior.map(_.open_bucket).getOrElse(Long.MinValue)
    val merged = scala.collection.mutable.Map.empty[Long, Long]
    prior.filter(_.open_bucket != Long.MinValue)
      .foreach(p => merged(p.open_bucket) = p.open_count)
    hits.foreach { b =>
      if (b >= floorB) merged(b) = merged.getOrElse(b, 0L) + 1L
    }
    if (merged.isEmpty)
      return (Nil,
        prior.getOrElse(RateState(Nil, Long.MinValue, 0L)))
    val maxB = merged.keys.max
    var ring = prior.map(_.ring.toVector).getOrElse(Vector.empty)
    val out = scala.collection.mutable.ArrayBuffer.empty[RateRow]
    for (b <- merged.keys.toSeq.sorted if b < maxB) {
      val c = merged(b)
      val n = ring.size.toLong
      val s = ring.iterator.map(_.n).sum
      val q = ring.iterator.map(bc => bc.n * bc.n).sum
      val dev = c * n - s
      val spike = n >= minBaseline && dev * dev > z.toLong * z * (n * q - s * s)
      out += RateRow(etype, b, c, n, spike)
      ring = (ring :+ BucketCount(b, c)).takeRight(baseline)
    }
    (out.toSeq, RateState(ring, maxB, merged(maxB)))
  }

  /** Streaming twin of `EventAnalytics.rateAnomaly` (w12): emits each
    * bucket's verdict the micro-batch a NEWER bucket first appears for
    * its type (a time window can't close until later data proves it
    * over — the standard streaming finalization contract; the open
    * bucket stays pending). Fed buckets in event order, the emitted
    * rows equal the batch operator's output minus each type's still-
    * open max bucket — pinned by the stream≡batch spec. State per key:
    * ≤ baseline+1 fixed-size rows — O(types), never O(events); no
    * timeout registered, so idle streams run no state-scan batches.
    */
  def rateAnomalyStream(
      spark: SparkSession, ds: Dataset[BucketEv],
      baseline: Int = 24, minBaseline: Int = 12, z: Int = 3)
      : Dataset[RateRow] = {
    import spark.implicits._
    appendFold(ds)(_.event_type) { (et, evs, prior: Option[RateState]) =>
      advanceRate(et, evs.map(_.bucket), prior, baseline, minBaseline, z)
    }
  }

  case class CusumState(s: Long, open_bucket: Long, open_count: Long)
  case class CusumRow(
      event_type: String, bucket: Long, n_events: Long, cusum: Long,
      alarm: Boolean)

  /** One micro-batch of CUSUM advancement — the streaming twin of
    * [[graft.operators.EventAnalytics.cusumChangepoints]]. Where the
    * batch operator computes Page's recurrence as running-sum −
    * running-min over all buckets, the stream IS the recurrence:
    * state per type is ONE (S, open bucket, open count) row, and each
    * bucket finalizes with S ← max(0, S + x − k) the moment a newer
    * bucket appears ([[advanceRate]]'s finalization contract — buckets
    * older than the open one are late beyond the horizon and drop, the
    * open bucket stays pending).
    */
  private[streaming] def advanceCusum(
      etype: String, hits: Seq[Long], prior: Option[CusumState],
      k: Long, h: Long): (Seq[CusumRow], CusumState) = {
    val floorB = prior.map(_.open_bucket).getOrElse(Long.MinValue)
    val merged = scala.collection.mutable.Map.empty[Long, Long]
    prior.filter(_.open_bucket != Long.MinValue)
      .foreach(p => merged(p.open_bucket) = p.open_count)
    hits.foreach { b =>
      if (b >= floorB) merged(b) = merged.getOrElse(b, 0L) + 1L
    }
    if (merged.isEmpty)
      return (Nil, prior.getOrElse(CusumState(0L, Long.MinValue, 0L)))
    val maxB = merged.keys.max
    var s = prior.map(_.s).getOrElse(0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[CusumRow]
    for (b <- merged.keys.toSeq.sorted if b < maxB) {
      val c = merged(b)
      s = math.max(0L, s + c - k)
      out += CusumRow(etype, b, c, s, s > h)
    }
    (out.toSeq, CusumState(s, maxB, merged(maxB)))
  }

  /** Streaming CUSUM changepoints (Append mode): emits each bucket's
    * cumulative-drift verdict the micro-batch a NEWER bucket first
    * appears for its type; fed buckets in event order, the emitted rows
    * equal the batch w20 operator minus each type's still-open max
    * bucket — pinned by the stream≡batch spec. State per key: ONE
    * fixed-size row — O(types), never O(events); no timeout registered,
    * so idle streams run no state-scan micro-batches.
    */
  def cusumStream(
      spark: SparkSession, ds: Dataset[BucketEv],
      k: Long, h: Long): Dataset[CusumRow] = {
    require(k >= 0 && h > 0, "need k >= 0 and h > 0")
    import spark.implicits._
    appendFold(ds)(_.event_type) { (et, evs, prior: Option[CusumState]) =>
      advanceCusum(et, evs.map(_.bucket), prior, k, h)
    }
  }

  case class SeasonEv(event_type: String, hour_of_week: Long)
  case class SeasonCount(
      event_type: String, hour_of_week: Long, n_events: Long)
  case class SeasonState(counts: Seq[Long])

  /** One micro-batch of hour-of-week profile advancement — the
    * streaming twin of
    * [[graft.operators.EventAnalytics.seasonalityProfile]]'s count
    * table. State per type is the CALENDAR-bounded 168-long count
    * vector (fixed-size by construction — the hour index wraps, so no
    * horizon/watermark is even needed: every arrival, however late,
    * lands in its hour bucket exactly like the batch groupBy). Each
    * batch emits one upsert row per (type, hour) touched, carrying the
    * new cumulative count — counts are monotone, so the sink's
    * max(n_events) per key IS the latest value.
    */
  private[streaming] def advanceSeason(
      etype: String, hours: Seq[Long], prior: Option[SeasonState])
      : (Seq[SeasonCount], SeasonState) = {
    val counts = prior.map(_.counts.toArray).getOrElse(Array.fill(168)(0L))
    require(counts.length == 168,
      s"advanceSeason: corrupt state (${counts.length} buckets)")
    val touched = scala.collection.mutable.SortedSet.empty[Int]
    hours.foreach { h =>
      require(h >= 0 && h < 168,
        s"advanceSeason: hour_of_week out of [0, 168) (got $h)")
      counts(h.toInt) += 1L
      touched += h.toInt
    }
    (touched.toSeq.map(h => SeasonCount(etype, h.toLong, counts(h))),
      SeasonState(counts.toSeq))
  }

  /** Streaming hour-of-week seasonality counts (Append mode): upsert
    * rows per (type, hour) — downstream, max(n_events) per key +
    * [[graft.operators.EventAnalytics.seasonalityFromCounts]] over the
    * sink IS the w16 profile, maintained incrementally (delegation, not
    * a re-authored twin). Feed it
    * [[graft.operators.EventAnalytics.seasonHours]] rows so the
    * bucketing is the batch operator's by construction. State per key:
    * 168 longs — O(types), never O(events); no timeout registered, so
    * idle streams run no state-scan micro-batches.
    */
  def seasonalityStream(
      spark: SparkSession, ds: Dataset[SeasonEv]): Dataset[SeasonCount] = {
    import spark.implicits._
    appendFold(ds)(_.event_type) { (et, evs, prior: Option[SeasonState]) =>
      advanceSeason(et, evs.map(_.hour_of_week), prior)
    }
  }

  case class AbEv(user_id: Long, variant: String, event_type: String)
  case class AbConv(v: String, event_type: String)
  case class AbState(exposed: Seq[String], conv: Seq[AbConv])
  case class AbFirst(u: Long, v: String, kind: String, event_type: String)

  /** One micro-batch of A/B first-seen emission — the streaming twin of
    * [[graft.operators.EventAnalytics.abSignificance]]'s two distincts.
    * State per user: the exposed-variant set (≤ 2) plus the converted
    * (variant, type) set (≤ 2·|types| fixed-size rows — types are a
    * bounded taxonomy, the [[advanceRate]] per-key contract). A user's
    * FIRST event under a variant emits a kind = 'exposure' row; the
    * first of each (variant, type) emits a kind = 'conversion' row —
    * so the emitted rows ARE the batch distincts, order-independent
    * (dedup is idempotent; there is no horizon to be late past). The
    * row kind is an explicit column, NOT a null event_type marker: the
    * batch operator accepts a null type as its own conversion group,
    * and a marker would make that group indistinguishable from
    * exposures in the sink. A variant outside a|b fails loudly, the
    * batch raise_error twin.
    */
  private[streaming] def advanceAb(
      user: Long, evs: Seq[(String, String)], prior: Option[AbState])
      : (Seq[AbFirst], AbState) = {
    var exposed = prior.map(_.exposed.toSet).getOrElse(Set.empty[String])
    var conv = prior.map(_.conv.toSet).getOrElse(Set.empty[AbConv])
    val out = scala.collection.mutable.ArrayBuffer.empty[AbFirst]
    evs.foreach { case (v, et) =>
      require(v == "a" || v == "b",
        s"abFirstsStream: variant must be a|b, got $v")
      if (!exposed.contains(v)) {
        out += AbFirst(user, v, "exposure", null); exposed += v
      }
      val c = AbConv(v, et)
      if (!conv.contains(c)) {
        out += AbFirst(user, v, "conversion", et); conv += c
      }
    }
    // null-safe state order (a null event_type is a legal conversion
    // group batch-side; Ordering[String] would NPE on it)
    (out.toSeq,
      AbState(exposed.toSeq.sorted,
        conv.toSeq.sortBy(c =>
          (c.v, c.event_type == null, Option(c.event_type).getOrElse("")))))
  }

  /** Streaming A/B first-seen rows (Append mode): kind-tagged exposure
    * and conversion rows — downstream,
    * [[graft.operators.EventAnalytics.abReport]] over the sink's two
    * slices IS the w18 significance report, maintained incrementally
    * (delegation, not a re-authored twin; the exact div/mod z² ladder
    * runs only in the shared finisher). State per key: ≤ 2 + 2·|types|
    * fixed-size rows — O(users), never O(events); no timeout
    * registered, so idle streams run no state-scan micro-batches.
    */
  def abFirstsStream(
      spark: SparkSession, ds: Dataset[AbEv]): Dataset[AbFirst] = {
    import spark.implicits._
    appendFold(ds)(_.user_id) { (user, evs, prior: Option[AbState]) =>
      advanceAb(user, evs.map(e => (e.variant, e.event_type)), prior)
    }
  }

  case class KeyEv(k: String)
  case class KeyCount(k: String, c: Long)
  case class CountState(c: Long)

  /** One micro-batch of per-key running-count advancement — the
    * streaming twin of any count-per-key batch aggregate (w21's Gini
    * input is the consumer here). State per key: ONE long. Each batch a
    * touched key emits its new cumulative count — monotone, so the
    * sink's max(c) per key IS the latest value, and
    * [[graft.operators.EventAnalytics.giniFromCounts]] over that upsert
    * view is the w21 report, maintained incrementally (delegation, not
    * a re-authored twin). There is no horizon: every arrival counts,
    * exactly like the batch groupBy.
    */
  private[streaming] def advanceCount(
      k: String, hits: Long, prior: Option[CountState])
      : (Seq[KeyCount], CountState) = {
    val c = prior.map(_.c).getOrElse(0L) + hits
    (if (hits > 0) Seq(KeyCount(k, c)) else Nil, CountState(c))
  }

  /** Streaming per-key running counts (Append mode, upsert semantics
    * downstream via max-per-key). State per key: one long — O(keys),
    * never O(events); no timeout registered, so idle streams run no
    * state-scan micro-batches.
    */
  def keyCountsStream(
      spark: SparkSession, ds: Dataset[KeyEv]): Dataset[KeyCount] = {
    import spark.implicits._
    appendFold(ds)(_.k) { (k, evs, prior: Option[CountState]) =>
      advanceCount(k, evs.size.toLong, prior)
    }
  }

  case class TypedBucketCount(event_type: String, bucket: Long, x: Long)

  /** Streaming per-(type, bucket) running counts (Append mode, upsert
    * semantics downstream via max-per-key) — the w22 twin's input
    * maintenance: [[graft.operators.EventAnalytics.autocorrelationFromCounts]]
    * over the sink's max(x) view IS the autocorrelation report,
    * maintained incrementally (delegation, not a re-authored twin).
    * State per key: one long; keys are CALENDAR-bounded (8,760 hourly
    * buckets/year × |types| — the [[advanceSeason]] envelope argument,
    * unbounded only in wall-clock years). There is no horizon: a late
    * event bumps its bucket exactly like the batch groupBy.
    */
  def bucketCountsStream(
      spark: SparkSession, ds: Dataset[BucketEv])
      : Dataset[TypedBucketCount] = {
    import spark.implicits._
    appendFold(ds)(e => (e.event_type, e.bucket)) {
      (k, evs, prior: Option[CountState]) =>
        val (rows, st) = advanceCount(k._1, evs.size.toLong, prior)
        (rows.map(r => TypedBucketCount(k._1, k._2, r.c)), st)
    }
  }

  /** Streaming sessionizer: closes a session when the processing-time
    * timeout fires after `gapUs` of silence for the key.
    *
    * CAVEAT (measured on Spark 4.1): ProcessingTimeTimeout makes the
    * engine run a state-scan micro-batch every trigger; under the
    * default 0-interval trigger that is a busy loop (a stage per
    * trigger, `processAllAvailable` never quiesces). Deploy this form
    * only with an explicit trigger interval
    * (`.trigger(Trigger.ProcessingTime(...))`); for the
    * data-driven/event-time form see [[sessionPathsStream]].
    */
  def sessionsStream(
      spark: SparkSession, ds: Dataset[Ev],
      gapUs: Long = DefaultGapUs): Dataset[Session] = {
    import spark.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(s)
          } else {
            val (closed, cur) =
              advanceSessions(user, evs.toIndexedSeq, state.getOption, gapUs)
            state.update(cur)
            state.setTimeoutDuration(math.max(1L, gapUs / 1000))
            closed.iterator
          }
      }
  }

  case class ChatTurn(
    conv_id: Long, ord: Long, role: String, n_chars: Long, ts_us: Long)
  case class ConvStats(
    conv_id: Long, n_turns: Long, n_user: Long, n_assistant: Long,
    n_other: Long, starts_user: Boolean, ends_assistant: Boolean,
    alternates: Boolean, total_chars: Long, valid: Boolean)
  private[streaming] case class ChatTurnW(
    conv_id: Long, ord: Long, role: String, n_chars: Long, ts_us: Long,
    event_time: java.sql.Timestamp)
  private[streaming] case class ConvState(
    turns: Seq[(Long, String, Long)], end_us: Long, overflow: Boolean)

  /** The [[graft.operators.ChatData.conversationStats]] verdict as a
    * pure fold over (ord, role, n_chars) turns — shared by the stream
    * below so batch and stream verdicts cannot diverge. Divergence
    * point, by contract: a duplicate ordinal RAISES batch-side (corrupt
    * input fails the job) but poisons the single conversation
    * stream-side (valid = false with alternates = false) — a streaming
    * ingest must not die because one conversation double-sent a turn.
    */
  private[streaming] def foldConv(
      convId: Long, turns: Seq[(Long, String, Long)],
      poisoned: Boolean): ConvStats = {
    val sorted = turns.sortBy(_._1)
    val dup = sorted.sliding(2).exists {
      case Seq(a, b) => a._1 == b._1
      case _ => false
    }
    val roles = sorted.map(_._2)
    val nOther = roles.count(r => r != "user" && r != "assistant").toLong
    val alternates = !dup && !poisoned &&
      roles.sliding(2).forall {
        case Seq(a, b) => a != b
        case _ => true
      }
    val valid = !dup && !poisoned && roles.headOption.contains("user") &&
      roles.lastOption.contains("assistant") && alternates &&
      nOther == 0L && sorted.size >= 2
    ConvStats(convId, sorted.size.toLong,
      roles.count(_ == "user").toLong,
      roles.count(_ == "assistant").toLong, nOther,
      roles.headOption.contains("user"),
      roles.lastOption.contains("assistant"),
      alternates, sorted.map(_._3).sum, valid)
  }

  /** Streaming chat-format validation — the
    * [[graft.operators.ChatData.conversationStats]] twin for continuous
    * SFT ingest: turns accumulate per conversation (state holds the
    * (ord, role, n_chars) rows — template-bounded, capped at `maxTurns`
    * with overflow poisoning so a runaway key cannot grow state), and
    * the verdict emits ONCE when the event-time watermark passes the
    * conversation's last turn + the idle gap (EventTimeTimeout — no
    * state-scan busy loop, the [[sessionsStream]] caveat). Because the
    * whole conversation folds at flush, cross-batch arrival order and
    * out-of-order ordinals cannot change the verdict — stream ≡ batch
    * by construction, not by delivery luck.
    */
  def conversationStatsStream(
      spark: SparkSession, ds: Dataset[ChatTurn],
      gapUs: Long = DefaultGapUs, maxTurns: Int = 256,
      watermarkDelay: String = "0 seconds"): Dataset[ConvStats] = {
    require(gapUs > 0, "conversation idle gap must be positive")
    require(maxTurns >= 2, s"maxTurns must be >= 2 (got $maxTurns)")
    import spark.implicits._
    idleFlushFold[ChatTurnW, Long, ConvState, ConvStats](
        ds, watermarkDelay, gapUs, _.conv_id, _.end_us,
        (conv, s) => foldConv(conv, s.turns, s.overflow)) {
      (_, evs, prior) =>
        val prev =
          prior.getOrElse(ConvState(Seq.empty, 0L, overflow = false))
        val merged = prev.turns ++ evs.map(e => (e.ord, e.role, e.n_chars))
        val over = prev.overflow || merged.size > maxTurns
        (Nil, ConvState(merged.take(maxTurns),
          math.max(prev.end_us, evs.map(_.ts_us).max), over))
    }
  }
}
