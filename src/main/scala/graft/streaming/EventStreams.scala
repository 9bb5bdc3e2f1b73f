package graft.streaming

import graft.io.LocalFs

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` schema. Batch and
  * stream share plan shapes: `windowedTypeCounts` runs unchanged on a
  * static DataFrame or a `readStream` source (watermark applied only when
  * streaming), and `sessionize` is the streaming counterpart of the
  * `e2_sessionize` batch query (same 30-minute-gap semantics, expressed as
  * `flatMapGroupsWithState` because an unbounded stream can't use a global
  * window sort).
  *
  * Scale: state is per-user and O(1) per key (one open session), the
  * watermark bounds state retention, and the shuffle key is `user_id` —
  * the same partitioning a 1000-executor cluster would use. No collect,
  * no driver state.
  *
  * Every entry point registers [[graft.io.LocalFs]] on its input's
  * session, so a stream started from its result writes its offset,
  * commit and state-store files without a process fork per file.
  */
object EventStreams {

  case class Event(
      event_id: Long,
      ts: java.sql.Timestamp,
      user_id: Long,
      event_type: String,
      value: Double)

  case class Session(
      user_id: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Long,
      sum_value: Double)

  /** One buffered event in [[sessionize]] keyed state. Public: Spark's
    * generated state encoder calls accessors from compiled bytecode, which
    * a Scala-private class hides from Janino.
    */
  case class BufferedEvent(tsMs: Long, eventId: Long, value: Double)

  /** Keyed state for [[sessionize]]: events not yet sealed by the
    * watermark. Bounded — the flush emits and discards everything more
    * than one gap behind the watermark.
    */
  case class SessionBuffer(events: Seq[BufferedEvent])

  /** Tumbling 1-hour counts and sums per event type. On a streaming input
    * the watermark lets Spark finalize windows and bound state; on a batch
    * input the identical plan runs without it.
    */
  def windowedTypeCounts(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    LocalFs.register(events.sparkSession)
    val src = if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Streaming exact dedup: drop events whose `event_id` was already seen,
    * with state bounded by the watermark (an id older than the watermark
    * can no longer collide with an on-time arrival, so its state entry is
    * dropped). The streaming counterpart of `Dedup.exact` — at-least-once
    * sources become effectively-once sinks.
    */
  def dedupStream(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame = {
    LocalFs.register(events.sparkSession)
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** Streaming sessionization: a session closes after `gapSeconds` of
    * user inactivity. Events are BUFFERED in keyed state until the
    * watermark seals them — a session is only emitted once the watermark
    * has passed its end + gap, at which point no admissible (on-time)
    * event can extend or split it. This keeps streaming output identical
    * to the batch `e2_sessionize` window SQL even for out-of-order arrival
    * across micro-batches; state per user is bounded by the watermark
    * horizon. Emits closed sessions only (Append mode).
    *
    * The input must already carry a watermark on `ts`.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[Session] = {
    LocalFs.register(events.sparkSession)
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuffer, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user, batch, state) => updateUser(user, batch, state, gapSeconds * 1000L))
  }

  /** One buffered step event in [[funnelStream]] keyed state. Event time
    * is carried in exact MICROseconds: the batch operator and the e7
    * oracle compare `unix_micros`, and a millisecond truncation here
    * would flip strict-after and gap decisions for same-millisecond
    * events, silently breaking the advertised batch parity.
    */
  case class StepEvent(tsUs: Long, step: Int)

  /** Keyed state for [[funnelStream]]: step events not yet sealed, plus
    * the emitted tombstone (batch funnel semantics are one earliest chain
    * per user — `done` stops a second funnel from ever re-emitting).
    */
  case class FunnelBuffer(events: Seq[StepEvent], done: Boolean)

  /** A user's funnel outcome: how many steps of the chain completed, the
    * chain's start, and the conversion time when all steps completed.
    */
  case class FunnelOutcome(
      user_id: Long,
      steps_completed: Int,
      ts_start: java.sql.Timestamp,
      ts_converted: Option[java.sql.Timestamp])

  /** Streaming counterpart of [[graft.operators.Funnel.funnel]]: the
    * earliest strictly-ordered `steps` chain per user, each hop within
    * `gapSeconds`. Events are BUFFERED until the watermark passes the
    * chain's last possible deadline (`first-step ts + (n-1)·gap`) — only
    * then is the outcome emitted, so out-of-order arrival across
    * micro-batches cannot change an emitted chain (any event that could
    * have altered it is, by construction, late). The gap budget is what
    * makes every funnel finalizable: an open-ended funnel never seals.
    *
    * State bounds: while no first-step event exists, buffered later-step
    * events older than the watermark are pruned (an on-time first step
    * must arrive after the watermark, and later steps must follow it);
    * once sealed, state collapses to a tombstone so each user emits at
    * most one outcome (the batch semantics) — one flag per converted
    * user, the inherent floor for a per-user lifetime metric.
    *
    * The input must already carry a watermark on `ts`. Note Catalyst
    * pushes the step-type filter BELOW the watermark node, so only
    * step-typed events advance the watermark here — on a stream of mostly
    * other event types this delays sealing (a latency effect only; the
    * watermark is a lower bound, so emitted outcomes are still final).
    */
  def funnelStream(
      events: Dataset[Event],
      steps: Seq[String],
      gapSeconds: Long): Dataset[FunnelOutcome] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, s"steps must be distinct, got $steps")
    LocalFs.register(events.sparkSession)
    import events.sparkSession.implicits._
    val n = steps.size
    val gapUs = gapSeconds * 1000000L
    // column ops (not a typed flatMap): an object transform would strip
    // the event-time watermark metadata off `ts`, which the event-time
    // timeout below requires
    val stepExpr = steps.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col("event_type") === s, lit(i)).otherwise(acc)
      }
    events.toDF()
      .withColumn("_step", stepExpr)
      .filter(col("_step") >= 0)
      .select(col("user_id"), col("ts"), col("_step"))
      .as[(Long, java.sql.Timestamp, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelBuffer, FunnelOutcome](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user, batch, state) => updateFunnel(user, batch, state, n, gapUs))
  }

  /** One buffered row in [[asOfStream]] keyed state: a pending left-side
    * event awaiting seal, or a candidate right-side row.
    */
  case class AsOfEvent(tsUs: Long, eventId: Long, value: Double, isLeft: Boolean)

  /** Keyed state for [[asOfStream]]: unsealed events of both sides plus
    * the single compacted best sealed right-side row (older sealed rows
    * can never beat it for any future left event, so they are dropped —
    * this is what keeps state O(open window) instead of O(history)).
    */
  case class AsOfBuffer(pending: Seq[AsOfEvent], sealedRight: Option[AsOfEvent])

  /** The streaming point-in-time enrichment emitted by [[asOfStream]]. */
  case class AsOfRow(
      event_id: Long,
      user_id: Long,
      view_id: Option[Long],
      view_value: Option[Double])

  /** Streaming counterpart of [[graft.operators.AsOfJoin]] (the `e5`
    * batch query): each left-side event (`leftType`) picks up the most
    * recent right-side event (`rightType`) of the same user with
    * `right.ts <= left.ts`, ties on the greater event id. A left event is
    * emitted only once the watermark passes its timestamp — any
    * right-side row that could still change its answer would have
    * `ts <= left.ts <= watermark`, i.e. be late — so out-of-order arrival
    * across micro-batches cannot produce a different enrichment than the
    * batch operator.
    *
    * State per user: the not-yet-sealed events of both sides (bounded by
    * the watermark horizon) plus ONE compacted sealed right-side row —
    * every sealed right row is `<=` the watermark, so only the maximal
    * one can ever win for a future (necessarily `> watermark`) left
    * event. This is the feature-store serve pattern ("latest feature
    * value as of event time") with exact event-time semantics.
    *
    * The input must already carry a watermark on `ts`; only rows of the
    * two named types advance it here (same pushdown note as
    * [[funnelStream]]).
    */
  def asOfStream(
      events: Dataset[Event],
      leftType: String,
      rightType: String): Dataset[AsOfRow] = {
    require(leftType != rightType, "left and right event types must differ")
    LocalFs.register(events.sparkSession)
    import events.sparkSession.implicits._
    events.toDF()
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        (col("event_type") === leftType).as("is_left"))
      .as[(Long, java.sql.Timestamp, Long, Double, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsOfBuffer, AsOfRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(updateAsOf)
  }

  /** Streaming counterpart of [[graft.operators.IntervalJoin]] (the `e9`
    * batch query): every point-type event joined to each interval-type
    * event whose `[ts, ts + window)` contains it, on Spark's native
    * stream-stream join machinery. Spark REQUIRES an equality predicate
    * for stream-stream joins (a pure range join is rejected at analysis),
    * so the batch operator's bucket decomposition is load-bearing here,
    * not just an optimization: intervals explode to their ≤ 2 covered
    * bucket ids, points map to one, and the join is bucket-equality plus
    * the exact event-time range residual. The range constraint between
    * the two watermarked time columns is also what lets Spark bound and
    * evict join state; results append as soon as both rows have arrived —
    * an inner-join emission is final regardless of later input, so no
    * sealing wait is needed (unlike [[asOfStream]]).
    *
    * The two sides are branches of the SAME input stream (a supported
    * stream self-join); each carries its own watermark.
    *
    * @return (interval_id, point_id, start_ts, point_ts)
    */
  def intervalStream(
      events: Dataset[Event],
      intervalType: String,
      pointType: String,
      windowSeconds: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(intervalType != pointType, "interval and point types must differ")
    LocalFs.register(events.sparkSession)
    val w = windowSeconds * 1000000L // bucket width = window length, µs
    def bucket(c: org.apache.spark.sql.Column) =
      graft.operators.IntervalJoin.bucketOf(unix_micros(c), w)
    val intervals = events.toDF()
      .filter(col("event_type") === intervalType)
      .select(col("event_id").as("interval_id"), col("ts").as("start_ts"))
      .withWatermark("start_ts", watermarkDelay)
      .withColumn("_gb", explode(sequence(
        bucket(col("start_ts")),
        graft.operators.IntervalJoin.bucketOf(unix_micros(col("start_ts")) + w - 1, w),
        lit(w))))
    val points = events.toDF()
      .filter(col("event_type") === pointType)
      .select(col("event_id").as("point_id"), col("ts").as("point_ts"))
      .withWatermark("point_ts", watermarkDelay)
      .withColumn("_gb", bucket(col("point_ts")))
    points.join(intervals,
      points("_gb") === intervals("_gb") &&
        col("point_ts") >= col("start_ts") &&
        col("point_ts") < col("start_ts") + expr(s"INTERVAL $windowSeconds SECOND"))
      .drop("_gb")
  }

  /** Two-stream attribution join on (user, time range) — the native
    * watermarked stream-stream join over two DISTINCT input streams
    * (intervalStream joins branches of one stream; this is the
    * clicks-topic ⋈ purchases-topic shape). A purchase attributes to
    * every click by the same user in the `windowSeconds` before it.
    *
    * The time-range conjunct is what bounds the buffered state: with
    * only the user-key equality Spark would retain both sides forever;
    * the range plus both watermarks lets it evict rows the watermark
    * has passed. `left_outer` additionally emits unmatched clicks with
    * null purchase columns — but only once the watermark proves no
    * matching purchase can still arrive, so outer results trail the
    * inner ones by the watermark delay (batch runs of the same function
    * emit them immediately; the ROWS agree, not the timing).
    *
    * @return (click_id, user_id, click_ts, purchase_id, purchase_ts)
    */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      windowSeconds: Long,
      watermarkDelay: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"stream-stream attribution supports inner/left_outer, got $joinType")
    require(windowSeconds > 0,
      s"attribution window must be positive seconds, got $windowSeconds " +
        "(a non-positive window makes the join predicate unsatisfiable)")
    LocalFs.register(clicks.sparkSession)
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermarkDelay)
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") +
          expr(s"INTERVAL $windowSeconds SECOND"),
      joinType)
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"))
  }

  private def updateAsOf(
      user: Long,
      batch: Iterator[(Long, java.sql.Timestamp, Long, Double, Boolean)],
      state: GroupState[AsOfBuffer]): Iterator[AsOfRow] = {
    val prev = state.getOption.getOrElse(AsOfBuffer(Seq.empty, None))
    val all = prev.pending ++ batch.map { case (_, ts, id, v, isL) =>
      AsOfEvent(micros(ts), id, v, isL)
    }
    // STRICT inequality: an event with ts == watermark can still arrive
    // on time, so only ts < wm rows are final
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val (closed, open) = all.partition(_.tsUs < wmUs)
    // order within the sealed prefix is total — (ts, event_id) — so the
    // best candidate for each sealed left event is well-defined
    val rightOrd = Ordering.by[AsOfEvent, (Long, Long)](e => (e.tsUs, e.eventId))
    val sealedRights = closed.filter(!_.isLeft) ++ prev.sealedRight
    val out = closed.filter(_.isLeft).map { l =>
      // most recent right row at or before the left event; ties on the
      // greater event id (max over the (ts, id) order) — e5's exact rule
      val best = sealedRights.filter(_.tsUs <= l.tsUs).reduceOption(rightOrd.max(_, _))
      AsOfRow(l.eventId, user, best.map(_.eventId), best.map(_.value))
    }
    val compacted = sealedRights.reduceOption(rightOrd.max(_, _))
    if (open.isEmpty && compacted.isEmpty) state.remove()
    else {
      state.update(AsOfBuffer(open, compacted))
      // wake when the earliest open event becomes sealable; a state of
      // only the compacted right row needs no wakeup (left events drive
      // emission)
      if (open.nonEmpty)
        state.setTimeoutTimestamp(
          math.max(open.map(_.tsUs).min / 1000L + 1, state.getCurrentWatermarkMs() + 1))
    }
    out.iterator
  }

  /** `java.sql.Timestamp` → exact epoch microseconds (the nanos field
    * carries the sub-millisecond part).
    */
  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L

  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  private def updateFunnel(
      user: Long,
      batch: Iterator[(Long, java.sql.Timestamp, Int)],
      state: GroupState[FunnelBuffer],
      n: Int,
      gapUs: Long): Iterator[FunnelOutcome] = {
    val prev = state.getOption.getOrElse(FunnelBuffer(Seq.empty, done = false))
    if (prev.done) { batch.foreach(_ => ()); return Iterator.empty }
    val all = prev.events ++ batch.map { case (_, ts, i) => StepEvent(micros(ts), i) }
    // the watermark API is milliseconds; comparing in µs after a floor
    // conversion only DELAYS sealing/pruning by < 1 ms (never unsound)
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val firsts = all.filter(_.step == 0)
    if (firsts.isEmpty) {
      // no chain can start before the watermark anymore — prune dead events
      // (an on-time first step must arrive with ts > wm, and every later
      // hop strictly follows it), and wake again when the survivors age out
      val live = all.filter(_.tsUs > wmUs)
      if (live.isEmpty) state.remove()
      else {
        state.update(FunnelBuffer(live, done = false))
        state.setTimeoutTimestamp(
          math.max(live.map(_.tsUs).max / 1000L + 1, state.getCurrentWatermarkMs() + 1))
      }
      return Iterator.empty
    }
    val t0 = firsts.map(_.tsUs).min
    val sealUs = t0 + (n - 1).toLong * gapUs
    if (wmUs > sealUs) {
      // outcome is final: any event that could extend/lower the chain has
      // ts <= sealUs < watermark, i.e. would be late
      var prevTs = t0
      var completed = 1
      var i = 1
      while (i < n) {
        val cand = all.collect {
          case e if e.step == i && e.tsUs > prevTs && e.tsUs - prevTs <= gapUs => e.tsUs
        }
        if (cand.isEmpty) i = n
        else { prevTs = cand.min; completed += 1; i += 1 }
      }
      state.update(FunnelBuffer(Seq.empty, done = true))
      Iterator.single(FunnelOutcome(user, completed, fromMicros(t0),
        if (completed == n) Some(fromMicros(prevTs)) else None))
    } else {
      state.update(FunnelBuffer(all, done = false))
      state.setTimeoutTimestamp(
        math.max(sealUs / 1000L + 1, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
  }

  private def updateUser(
      user: Long,
      batch: Iterator[Event],
      state: GroupState[SessionBuffer],
      gapMs: Long): Iterator[Session] = {
    val buffered = state.getOption.map(_.events).getOrElse(Seq.empty)
    val incoming = batch.map(e => BufferedEvent(e.ts.getTime, e.event_id, e.value)).toVector
    val all = (buffered ++ incoming).sortBy(e => (e.tsMs, e.eventId))
    if (all.isEmpty) { state.remove(); return Iterator.empty }

    // group into gap-delimited sessions over the full (sorted) buffer
    val sessions = all.foldLeft(Vector.empty[Vector[BufferedEvent]]) { (acc, e) =>
      if (acc.nonEmpty && e.tsMs - acc.last.last.tsMs <= gapMs)
        acc.init :+ (acc.last :+ e)
      else acc :+ Vector(e)
    }
    val wm = state.getCurrentWatermarkMs()
    // sessions are time-ordered and disjoint by > gap, so the sealed ones
    // (watermark beyond end + gap: nothing on-time can extend them) form a
    // prefix
    val (closed, open) = sessions.partition(s => wm > s.last.tsMs + gapMs)
    if (open.isEmpty) state.remove()
    else {
      state.update(SessionBuffer(open.flatten))
      // wake when the earliest open session becomes sealable
      state.setTimeoutTimestamp(math.max(open.head.last.tsMs + gapMs + 1, wm + 1))
    }
    closed.iterator.map { s =>
      Session(user, new java.sql.Timestamp(s.head.tsMs), new java.sql.Timestamp(s.last.tsMs),
        s.size.toLong, s.map(_.value).sum)
    }
  }

  /** Continuous-ingestion dedup: each micro-batch of `(doc_id, text)` docs
    * is deduped against the persisted MinHash signature store at
    * `storePath` ([[graft.operators.Dedup.minhashStore]]-format parquet,
    * bootstrapped empty if absent), decisions are handed to `onDecisions`
    * as `(doc_id, dup_of)` with NULL = admit, and the admitted survivors'
    * signatures are appended to the store — so the store a batch job
    * builds and the store this stream grows are the same artifact.
    *
    * `foreachBatch` (not a stateful operator) is the right Spark shape
    * here: the store must outlive the query, be shared with batch
    * pipelines, and stay readable mid-stream — external transactional
    * state, not keyed in-query state. Replays (foreachBatch is
    * at-least-once) are safe end-to-end: decisions are deterministic, a
    * replayed survivor never matches its own admitted signature (the
    * store probe excludes equal ids), and double-appended signature rows
    * only duplicate candidate pairs, which the verify step's distinct +
    * min(partner) collapse to the same decision.
    *
    * Scale shape is [[graft.operators.Dedup.incrementalDedup]]'s: per
    * batch, one pass over the store index and signature work proportional
    * to the increment. The store append is survivors-only.
    */
  def ingestDedupStream(
      docs: DataFrame,
      storePath: String,
      onDecisions: (DataFrame, Long) => Unit,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minAgree: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    LocalFs.register(docs.sparkSession)
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val path = new org.apache.hadoop.fs.Path(storePath)
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        val store =
          if (fs.exists(path)) spark.read.parquet(storePath)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("sig",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.LongType)))))
        val decisions = Dedup.incrementalDedup(batch, store,
          col("doc_id"), col("text"), n, numHashes, bands, minAgree)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          onDecisions(decisions, batchId)
          val kept = batch.join(
            decisions.filter(col("dup_of").isNull).select("doc_id"), Seq("doc_id"))
          Dedup.minhashStore(kept, col("doc_id"), col("text"), n, numHashes)
            .write.mode("append").parquet(storePath)
        } finally {
          decisions.unpersist()
          Dedup.unpersistIntermediates()
        }
      }
      .start()
  }

  /** Continuous LM quality scoring: each micro-batch of `(doc_id, text)`
    * docs is scored against the persisted bigram model at `modelPath`
    * ([[graft.operators.NgramLm.bigramModel]]-format parquet — train once
    * with a batch job, score forever), and the `(doc_id, n_pairs,
    * lm_ppm)` rows are handed to `onScores`.
    *
    * `foreachBatch` is the right shape for the same reason as
    * [[ingestDedupStream]]: the model is external shared state (built and
    * possibly refreshed by batch jobs), not keyed in-query state.
    * Scoring is deterministic, so at-least-once replays re-emit identical
    * rows. Per-batch cost is the batch's pair count probing a
    * corpus-bounded model — nothing grows with stream history.
    */
  def lmScoreStream(
      docs: DataFrame,
      modelPath: String,
      onScores: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    LocalFs.register(docs.sparkSession)
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val model = batch.sparkSession.read.parquet(modelPath)
        try onScores(graft.operators.NgramLm.scoreWith(
          model, batch, col("doc_id"), col("text")), batchId)
        finally
          // scoreWith caches the unigram table when the model is big
          // (r18 OPT 5's size gate); release it per batch — the same
          // handler-then-release discipline as ingestDedupStream — so a
          // long-running stream never accumulates per-batch caches
          graft.operators.Corpus.unpersistIntermediates()
      }
      .start()
  }
}
