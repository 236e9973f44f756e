package graft.streaming

import graft.etl.AuditOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming variants of the engine's operators (SURVEY.md
  * §7.5 — the one place streaming state enters; the reference itself is
  * strictly batch full-refresh).
  *
  * All functions are plan builders: callers attach readStream sources and
  * writeStream sinks. Everything composes with watermarks so state is
  * bounded at scale.
  */
object StreamingOps {

  /** Streaming change feed: a stream of incoming rows joined against the
    * published snapshot (stream-static inner join — no state beyond the
    * broadcast/static side) producing audit-log rows as they arrive.
    * Streaming twin of AuditOps.authlog.
    */
  def changeFeed(updates: DataFrame, published: DataFrame, idCol: String,
      targetCols: Seq[String], fuenteLog: String, runId: String): DataFrame = {
    val pubRen = published.toDF(published.columns.map(_ + AuditOps.Suffix).toIndexedSeq: _*)
    val joined = updates.join(pubRen,
      updates(idCol) === pubRen(idCol + AuditOps.Suffix), "inner")
    val swapped = targetCols // stream side is the "new" value ⇒ modeled side is previous
    joined
      .filter(AuditOps.changePredicate(swapped))
      .select(
        Seq(lit(runId).as("id_log"), col(idCol).cast("string").as("entity_id"),
          lit("Modificado").as("tipo_cambio"), lit(fuenteLog).as("fuente_log")) ++
          targetCols.flatMap(c => Seq(col(c), col(c + AuditOps.Suffix))): _*)
  }

  /** Watermarked sliding-window event rates (count + sum per event type). */
  def eventRates(events: DataFrame, tsCol: String, typeCol: String,
      valueCol: String, windowDur: String, slideDur: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur, slideDur), col(typeCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(typeCol),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup: watermarked dropDuplicates on the id — the
    * streaming twin of Dedup.exact (state bounded by the watermark).
    */
  def streamingDedup(stream: DataFrame, tsCol: String, idCols: Seq[String],
      watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Stream-stream interval join: match each left event to right events
    * for the same key within [0, maxDelay] after it. Both sides carry
    * watermarks and the join condition bounds the event-time range in
    * both directions, so state eviction is provable on BOTH sides —
    * the requirement for unbounded-input stream-stream joins at scale.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, maxDelay: String, watermark: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("l_key"), col(tsCol).as("l_ts"))
    val r = right.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("r_key"), col(tsCol).as("r_ts"))
    // leftOuter emits the null-padded row only once the watermark passes
    // the join window's close (l_ts + maxDelay) — bounded state AND a
    // guaranteed emission for every left event, matched or not.
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $maxDelay"),
      joinType)
  }

  final case class ProfileIn(user_id: Long, value: Double)
  final case class ProfileOut(user_id: Long, n_events: Long, total_value: Double)

  /** Running per-user profile via `transformWithState` (Spark 4's
    * successor to flatMapGroupsWithState): typed ValueState per key,
    * one updated row emitted per key per micro-batch. Requires the
    * RocksDB state store provider — state lives off-heap and scales past
    * executor memory, which is the point of the new API at 100 TB.
    */
  class ProfileProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, ProfileIn, ProfileOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("profile",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ProfileIn],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ProfileOut] = {
      val (n0, v0) = if (state.exists()) state.get() else (0L, 0.0)
      var n = n0; var v = v0
      rows.foreach { r => n += 1; v += r.value }
      state.update((n, v))
      Iterator.single(ProfileOut(key, n, v))
    }
  }

  /** Wires ProfileProcessor over a (user_id, value) stream. */
  def runningProfile(stream: org.apache.spark.sql.Dataset[ProfileIn])
      : org.apache.spark.sql.Dataset[ProfileOut] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int)

  /** Custom stateful sessionization via flatMapGroupsWithState: per-user
    * state carries the open session; a session is emitted when a later
    * event arrives past the gap. State is bounded by the number of live
    * keys (at scale, add an event-time timeout + watermark to reap
    * abandoned sessions). The batch twin is the q8_sessionize
    * gap-detection window; this variant emits sessions incrementally.
    */
  def sessionizeStateful(events: org.apache.spark.sql.Dataset[Event],
      gapMs: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def fn(user: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      var closed = List.empty[SessionOut]
      var cur = state.getOption
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
          case Some(s) =>
            closed ::= SessionOut(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n)
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach(state.update)
      closed.reverseIterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Incremental merge sink — the streaming face of the batch merge
    * pipeline (MergeOps.tableUpdated): each micro-batch is treated as an
    * incoming snapshot and merged against the LATEST published version,
    * writing an immutable new version directory `v<batchId>` (no
    * in-place overwrite: readers of v(n-1) are never disturbed, and a
    * failed batch simply re-runs — foreachBatch gives at-least-once, and
    * re-writing the same version directory is idempotent). This is the
    * checkpointed upsert-into-table architecture on plain parquet, the
    * pattern table formats package as MERGE INTO.
    */
  def mergeSink(stream: DataFrame, published0: DataFrame, idCol: String,
      auditCols: Seq[String], outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // FS derived from the sink path's OWN scheme — FileSystem.get
        // of the default FS would resolve an s3a:// sink against
        // hdfs:// (or vice versa), silently see an empty namespace,
        // and re-merge every batch from published0.
        val root = new org.apache.hadoop.fs.Path(outDir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // Merge base = latest version STRICTLY BELOW this batch: on a
        // crash-retry of batch N a partially-written vN may exist, and
        // merging against it would drop rows present in v(N-1). Only
        // fully-committed directories (Spark's _SUCCESS marker) count.
        val versions =
          if (!fs.exists(root)) Seq.empty
          else fs.listStatus(root).toSeq.map(_.getPath.getName)
            .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
            .filter(v => v < batchId &&
              fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/v$v/_SUCCESS")))
        val published =
          if (versions.isEmpty) published0
          else spark.read.parquet(s"$outDir/v${versions.max}")
        graft.etl.MergeOps.tableUpdated(published, batch, idCol, auditCols)
          .write.mode("overwrite").parquet(s"$outDir/v$batchId")
      }
      .start()
  }

  /** Streaming CDC apply sink — the streaming face of the u11 changelog
    * fold (latest op per key wins; `D` is a tombstone, `U` carries the
    * replacement payload). Each micro-batch of (idCol, seq, op,
    * payload...) rows first compacts internally (max-seq row per key),
    * then folds into the LATEST published version with the same
    * untouched-anti-join ∪ updates shape as the batch operator, writing
    * an immutable `v<batchId>` directory (the [[mergeSink]] versioning
    * discipline: crash-retries re-merge against the last _SUCCESS-
    * committed version, so a partially written vN never feeds itself).
    *
    * Cross-batch ordering is the CDC contract: stream order IS seq
    * order between batches, so a later batch's op for a key replaces
    * the earlier outcome — a U after a D resurrects the key, a D after
    * a U kills it, exactly the two cases the batch fixture pins.
    *
    * `payloadCols` are the base table's non-key columns, in base
    * column order; U rows must carry them all.
    */
  def cdcSink(stream: DataFrame, base0: DataFrame, idCol: String,
      payloadCols: Seq[String], outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // Path-scheme-derived FS, as in [[mergeSink]]: the version
        // listing and _SUCCESS checks must run against the namespace
        // the sink actually writes to.
        val root = new org.apache.hadoop.fs.Path(outDir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val versions =
          if (!fs.exists(root)) Seq.empty
          else fs.listStatus(root).toSeq.map(_.getPath.getName)
            .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
            .filter(v => v < batchId &&
              fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/v$v/_SUCCESS")))
        val published =
          if (versions.isEmpty) base0
          else spark.read.parquet(s"$outDir/v${versions.max}")
        val wLatest = org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("seq").desc)
        val latest = batch
          .withColumn("__rn", row_number().over(wLatest))
          .filter(col("__rn") === 1)
        val untouched = published
          .join(latest.select(col(idCol)), Seq(idCol), "left_anti")
        val updated = latest.filter(col("op") === "U")
          .select(col(idCol) +: payloadCols.map(col): _*)
        untouched.unionByName(updated)
          .write.mode("overwrite").parquet(s"$outDir/v$batchId")
      }
      .start()
  }

  /** One tagged row of either as-of input: `side` is "l" (probe) or "r"
    * (reference). `v` carries the reference payload (ignored on lefts).
    */
  final case class AsOfIn(k: Long, ts: java.sql.Timestamp, side: String, v: Double)
  final case class AsOfOut(k: Long, l_ts: java.sql.Timestamp,
      r_ts: Option[java.sql.Timestamp], r_v: Option[Double])

  /** Streaming backward as-of join — the incremental twin of the batch
    * `plans.AsOfJoinExec` operator: each left row is matched with the
    * latest right row of the same key with `r_ts <= l_ts` (left outer:
    * unmatched lefts emit null rights).
    *
    * Correctness under out-of-order arrival comes from event-time
    * timers: a left row is BUFFERED on arrival and only finalized when
    * the watermark passes its timestamp — at that point no right row
    * with a smaller timestamp can still arrive (the union's global
    * watermark is the min over both inputs), so "latest prior right" is
    * decided. This is the same watermark-finalization contract the
    * built-in stream-stream interval join uses, applied to a semantics
    * Spark has no native streaming operator for.
    *
    * State per key is bounded: pending lefts drain at watermark, and of
    * the rights at or below the watermark only the LATEST one is kept
    * (every future left has `l_ts > wm`, so earlier rights can never be
    * the match again). RocksDB-backed, so state scales past executor
    * memory on a real cluster.
    */
  class StreamingAsOfProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, AsOfIn, AsOfOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
      TTLConfig, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders

    @transient private var rights: ListState[(Long, Double)] = _
    @transient private var lefts: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      rights = getHandle.getListState[(Long, Double)]("rights",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
      lefts = getHandle.getListState[Long]("lefts", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[AsOfIn],
        timerValues: TimerValues): Iterator[AsOfOut] = {
      rows.foreach { e =>
        val t = e.ts.getTime
        if (e.side == "r") rights.appendValue((t, e.v))
        else { lefts.appendValue(t); getHandle.registerTimer(t) }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[AsOfOut] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val ls = lefts.get().toArray
      if (ls.isEmpty) return Iterator.empty
      val (due, pending) = ls.partition(_ <= wm)
      if (due.isEmpty) return Iterator.empty
      val rs = rights.get().toArray.sortBy(_._1)
      def latestAtOrBefore(t: Long): Option[(Long, Double)] = {
        // binary search: greatest index with rs(i)._1 <= t
        var lo = 0; var hi = rs.length - 1; var ans = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (rs(mid)._1 <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
        }
        if (ans >= 0) Some(rs(ans)) else None
      }
      val out = due.sorted.iterator.map { lt =>
        latestAtOrBefore(lt) match {
          case Some((rt, rv)) => AsOfOut(key, new java.sql.Timestamp(lt),
            Some(new java.sql.Timestamp(rt)), Some(rv))
          case None => AsOfOut(key, new java.sql.Timestamp(lt), None, None)
        }
      }.toVector
      // Evict: keep only the latest right at/below the watermark (the
      // only one a future left can still match) plus all rights above it.
      val cut = latestAtOrBefore(wm).map(_._1).getOrElse(Long.MinValue)
      val keptRights = rs.filter(_._1 >= cut)
      rights.clear()
      if (keptRights.nonEmpty) rights.put(keptRights)
      lefts.clear()
      if (pending.nonEmpty) lefts.put(pending)
      out.iterator
    }
  }

  /** Wires StreamingAsOfProcessor over two watermarked streams of
    * `(k, ts[, v])`. Both inputs are tagged and unioned so one keyed
    * stateful operator sees the merged event-time order per key.
    */
  def streamingAsOf(left: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)],
      right: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, Double)],
      delay: String): org.apache.spark.sql.Dataset[AsOfOut] = {
    import left.sparkSession.implicits._
    val l = left.toDF("k", "ts").withColumn("side", lit("l"))
      .withColumn("v", lit(0.0)).withWatermark("ts", delay)
    val r = right.toDF("k", "ts", "v").withColumn("side", lit("r"))
      .select(col("k"), col("ts"), col("side"), col("v")).withWatermark("ts", delay)
    l.unionByName(r).as[AsOfIn]
      .groupByKey(_.k)
      .transformWithState(new StreamingAsOfProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** One (minhash band, doc) arrival for the streaming near-dup op. */
  final case class BandIn(band: String, doc_id: Long)
  final case class DupPair(doc_a: Long, doc_b: Long)

  /** Per-band-bucket state for streaming near-dup detection: the bucket
    * keeps its canonical (minimum) doc id; every later arrival in the
    * same bucket emits a candidate pair against it. State is one long
    * per bucket regardless of bucket population — the unbounded part
    * (the pair set) leaves the operator immediately.
    */
  class NearDupProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, BandIn, DupPair] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var canonical: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      canonical = getHandle.getValueState[Long]("canon", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[BandIn],
        timerValues: TimerValues): Iterator[DupPair] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[DupPair]
      rows.foreach { r =>
        if (!canonical.exists()) canonical.update(r.doc_id)
        else {
          val c = canonical.get()
          if (c != r.doc_id) {
            out += DupPair(math.min(c, r.doc_id), math.max(c, r.doc_id))
            if (r.doc_id < c) canonical.update(r.doc_id)
          }
        }
      }
      out.iterator
    }
  }

  /** Streaming near-duplicate detection — the incremental face of the
    * batch `Dedup.minhashCandidatePairs` pipeline: each arriving doc is
    * shingled and minhashed scan-side (the same fused kernels as batch),
    * exploded to its LSH band keys, and each band bucket statefully
    * proposes a pair against the bucket's canonical doc. Pairs are
    * CANDIDATES exactly as in batch LSH — the confirm stage (exact
    * similarity) stays downstream, and a doc colliding in several bands
    * emits one pair per band (dedup with a batch `distinct` on the
    * sink, where it's cheap). RocksDB-backed value state: one long per
    * band bucket, so corpus-scale state fits an executor's store.
    */
  def streamingNearDedup(stream: DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.Dataset[DupPair] = {
    val spark = stream.sparkSession
    import spark.implicits._
    graft.ext.Dedup.minhashBands(stream, idCol, textCol)
      .select(col("band"), col(idCol).as("doc_id")).as[BandIn]
      .groupByKey(_.band)
      .transformWithState(new NearDupProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** One attribution event arrival ([[attributionStateful]]). */
  final case class AttribIn(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String, value: Double)

  /** A purchase attributed to its most recent preceding touch. */
  final case class AttribOut(event_id: Long, user_id: Long, touch: String,
      value: Double)

  /** Streaming last-touch attribution — the incremental twin of the
    * q61 batch window: per-user state carries the most recent
    * click/view; each purchase is emitted the moment it arrives,
    * attributed to that state ('direct' when none). Within a
    * micro-batch rows process in (ts, event_id) order, so a touch
    * attributes a later purchase of the same batch; across batches the
    * state row carries over — the same strictly-preceding frame as the
    * batch window, evaluated incrementally. State is ONE tiny row per
    * live user.
    *
    * `dormantTtlMs` bounds that state for a long-running deployment:
    * when set (and the input carries a watermark), a user whose last
    * touch is older than the watermark by more than the TTL has their
    * state reaped via an EVENT-TIME timeout — a purchase arriving after
    * the reap attributes as 'direct', exactly what an expired
    * attribution window means. Without it (`None`, the test-friendly
    * default for unwatermarked inputs) state grows with the live-user
    * population and never shrinks — fine for a bounded replay, not for
    * an always-on service.
    */
  def attributionStateful(events: org.apache.spark.sql.Dataset[AttribIn],
      touchTypes: Set[String] = Set("click", "view"),
      dormantTtlMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[AttribOut] = {
    // ttl <= 0 would make maxTs+ttl <= the watermark at runtime and
    // setTimeoutTimestamp throw mid-stream — fail loudly at construction
    require(dormantTtlMs.forall(_ > 0),
      s"dormantTtlMs must be positive when set, got $dormantTtlMs")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def fn(user: Long, rows: Iterator[AttribIn],
        state: GroupState[String]): Iterator[AttribOut] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var out = List.empty[AttribOut]
      var touch = state.getOption
      var maxTs = Long.MinValue
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        maxTs = math.max(maxTs, e.ts.getTime)
        if (e.event_type == "purchase")
          out ::= AttribOut(e.event_id, user, touch.getOrElse("direct"), e.value)
        else if (touchTypes.contains(e.event_type))
          touch = Some(e.event_type)
      }
      touch.foreach(state.update)
      // timeout fires when the WATERMARK passes lastActivity+ttl, so
      // late-but-in-watermark touches still land before any reap
      dormantTtlMs.foreach { ttl =>
        if (state.exists && maxTs != Long.MinValue)
          state.setTimeoutTimestamp(maxTs + ttl)
      }
      out.reverseIterator
    }
    val timeout =
      if (dormantTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(fn)
  }

  /** One funnel event arrival: `stage` is the 0-based index in the
    * funnel definition (mapped scan-side, so the processor is
    * definition-agnostic); `user_id` is the funnel entity.
    */
  final case class FunnelIn(user_id: Long, ts: java.sql.Timestamp, stage: Int)

  /** A completed funnel stage: `stage` is 1-based funnel position. */
  final case class FunnelOut(user_id: Long, stage: Int,
      completed_at: java.sql.Timestamp)

  /** Incremental twin of the batch `EventOps.funnel`: a per-user stage
    * machine driven by EVENT-TIME TIMERS. Arrivals buffer until the
    * watermark passes their timestamp (then no earlier event can still
    * arrive), drain in timestamp order, and advance the machine under
    * the same strictly-after greedy-earliest rule as batch — so
    * out-of-order delivery cannot corrupt the funnel. State per user is
    * the pending buffer (drains at watermark) plus two scalars; the
    * consumed history is never stored. RocksDB-backed.
    */
  class StreamingFunnelProcessor(nStages: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, FunnelIn, FunnelOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
      TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var doneStage: ValueState[Int] = _ // stages completed (1-based count)
    @transient private var doneTs: ValueState[Long] = _   // completion time of the last one
    @transient private var pending: ListState[(Long, Int)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      doneStage = getHandle.getValueState[Int]("done", Encoders.scalaInt, TTLConfig.NONE)
      doneTs = getHandle.getValueState[Long]("doneTs", Encoders.scalaLong, TTLConfig.NONE)
      pending = getHandle.getListState[(Long, Int)]("pending",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt), TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[FunnelIn],
        timerValues: TimerValues): Iterator[FunnelOut] = {
      rows.foreach { e =>
        if (e.stage >= 0 && e.stage < nStages) {
          val t = e.ts.getTime
          pending.appendValue((t, e.stage))
          getHandle.registerTimer(t)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelOut] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val all = pending.get().toArray
      if (all.isEmpty) return Iterator.empty
      val (due, rest) = all.partition(_._1 <= wm)
      if (due.isEmpty) return Iterator.empty
      var d = if (doneStage.exists()) doneStage.get() else 0
      var dts = if (doneTs.exists()) doneTs.get() else Long.MinValue
      val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
      // ts order; at equal ts the lower stage first, so a same-instant
      // next-stage event cannot ride a completion it isn't strictly after
      due.sortBy(e => (e._1, e._2)).foreach { case (t, st) =>
        if (st == d && t > dts) {
          d += 1; dts = t
          out += FunnelOut(key, d, new java.sql.Timestamp(t))
        }
      }
      doneStage.update(d)
      doneTs.update(dts)
      pending.clear()
      if (rest.nonEmpty) pending.put(rest)
      out.iterator
    }
  }

  /** Wires StreamingFunnelProcessor over a watermarked event stream:
    * stage names map to indexes scan-side, non-funnel events drop at
    * the scan, and the keyed machine emits (user, stage, completed_at)
    * increments. Aggregating completions per stage is a downstream
    * `groupBy` — kept out of the operator so the completion stream
    * stays reusable.
    */
  def streamingFunnel(events: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, stages: Seq[String], delay: String)
      : org.apache.spark.sql.Dataset[FunnelOut] = {
    require(stages.nonEmpty)
    val spark = events.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (s, i)) => when(col(typeCol) === s, lit(i)).otherwise(acc)
    }
    events.select(col(entityCol).cast("long").as("user_id"),
        col(tsCol).as("ts"), stageIdx.cast("int").as("stage"))
      .filter(col("stage") >= 0)
      .withWatermark("ts", delay)
      .as[FunnelIn]
      .groupByKey(_.user_id)
      .transformWithState(new StreamingFunnelProcessor(stages.size),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Streaming gap-sessionization: the built-in `session_window` keyed
    * on the entity merges events whose gap is at most `gap` (inclusive
    * end) — the same rule as the batch `EventOps.sessionize`, so a finalized
    * session here is byte-identical to the batch row (started_at =
    * window start = min ts; ended_at = max ts; the window's `end` is
    * max ts + gap by definition and is dropped). Append mode: a session
    * emits exactly once, when the watermark passes its close — the
    * streaming state per key is the set of OPEN windows only, so state
    * size is bounded by concurrent-session count, not stream length.
    */
  def streamingSessionize(events: DataFrame, entityCol: String, tsCol: String,
      gap: String, delay: String): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(col(entityCol), session_window(col(tsCol), gap))
      .agg(
        min(col(tsCol)).as("started_at"),
        max(col(tsCol)).as("ended_at"),
        count(lit(1)).as("n_events"))
      .select(col(entityCol), col("started_at"), col("ended_at"), col("n_events"))

  /** One arriving (re-)crawled document version; `seq` is the source's
    * monotone version number for the doc (crawl timestamp, offset…).
    */
  final case class DocIn(doc_id: Long, seq: Long, text: String)

  /** One posting of a doc version, tagged with its `seq` so a sink
    * upsert keeps each doc's latest version. Every ACCEPTED version
    * additionally emits one `term=""`/`tf=0` marker row: the sink then
    * knows the doc's latest seq even when that version tokenizes to
    * zero words — which is how a re-crawl-to-empty DELETES a doc's
    * postings (the batch twin `TextOps.mergeInvertedIndex` has the
    * same deletion rule).
    */
  final case class PostingOut(term: String, doc_id: Long, tf: Long, dl: Long,
      seq: Long)

  /** Per-doc state for the streaming postings maintainer: one long (the
    * latest accepted seq). The postings themselves leave the operator
    * immediately — state stays O(1) per doc no matter how often it is
    * re-crawled.
    */
  class PostingsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, DocIn, PostingOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var latest: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DocIn],
        timerValues: TimerValues): Iterator[PostingOut] = {
      // only the newest arrival in the batch can win; older versions
      // (and out-of-order replays of already-accepted seqs) are ignored
      val newest = rows.maxBy(_.seq)
      if (latest.exists() && newest.seq <= latest.get()) Iterator.empty
      else {
        latest.update(newest.seq)
        // Scala-side replica of TextOps.words (Dedup.normText + split,
        // empty tokens dropped) — pinned equal to the batch build in
        // Round9Spec
        val toks = newest.text.toLowerCase.trim.replaceAll("\\s+", " ")
          .split(" ").filter(_.nonEmpty)
        val marker = PostingOut("", newest.doc_id, 0L, toks.length.toLong, newest.seq)
        val counts = toks.groupBy(identity).toSeq.sortBy(_._1)
        Iterator(marker) ++ counts.iterator.map { case (t, g) =>
          PostingOut(t, newest.doc_id, g.length.toLong, toks.length.toLong, newest.seq)
        }
      }
    }
  }

  /** Streaming inverted-index maintenance — the incremental face of the
    * batch [[graft.ext.TextOps.mergeInvertedIndex]]: document versions
    * arrive on a stream, each doc's LATEST version emits its postings
    * (plus a seq marker), and a downstream upsert sink keeps max-seq
    * rows per doc — so the served index converges to exactly the batch
    * build over each doc's final text (Round9Spec pins the
    * equivalence, re-crawls and deletions included). State is one long
    * per doc; tokenization happens once per accepted version, never
    * for the already-indexed corpus.
    */
  def streamingPostings(stream: DataFrame): org.apache.spark.sql.Dataset[PostingOut] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("doc_id").cast("long").as("doc_id"),
        col("seq").cast("long").as("seq"), col("text")).as[DocIn]
      .groupByKey(_.doc_id)
      .transformWithState(new PostingsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  final case class CapIn(group: String, id: Long, score: Double)
  final case class CapItem(negScore: Double, tie: String, id: Long, score: Double)
  final case class CapState(version: Long, items: Seq[CapItem])
  final case class CapOut(group: String, id: Long, score: Double, version: Long)

  /** Per-group streaming top-k cap — the incremental face of the batch
    * [[graft.etl.SampleOps.topKPerGroup]]: candidates arrive on a
    * stream, each group's state holds ONLY its current k best (score
    * desc, md5(id) tiebreak — the exact batch ordering), and whenever a
    * batch changes a group's cap set the whole set re-emits under a
    * bumped per-group version. The serving rule is the engine-wide
    * versioned-upsert discipline (streamingPostings, mergeSink): keep
    * each group's max-version rows — which therefore equal the batch
    * cap over everything streamed so far (Round10Spec pins the
    * equivalence). State is k rows per group, the minimal sufficient
    * statistic of the cap: a domain's arrival volume never grows it.
    */
  class TopKProcessor(k: Int) extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, CapIn, CapOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[CapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CapState]("topk",
        Encoders.product[CapState], TTLConfig.NONE)

    private def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    override def handleInputRows(key: String, rows: Iterator[CapIn],
        timerValues: TimerValues): Iterator[CapOut] = {
      val cur = if (state.exists()) state.get() else CapState(0L, Nil)
      val merged = (cur.items ++ rows.map(r =>
          CapItem(-r.score, md5hex(r.id.toString), r.id, r.score)))
        .sortBy(i => (i.negScore, i.tie)).take(k)
      if (merged == cur.items) Iterator.empty
      else {
        val next = CapState(cur.version + 1, merged)
        state.update(next)
        merged.iterator.map(i => CapOut(key, i.id, i.score, next.version))
      }
    }
  }

  def streamingTopKPerGroup(stream: DataFrame, k: Int): org.apache.spark.sql.Dataset[CapOut] = {
    require(k >= 1, s"k must be positive, got $k")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("group").cast("string").as("group"),
        col("id").cast("long").as("id"), col("score").cast("double").as("score"))
      .as[CapIn]
      .groupByKey(_.group)
      .transformWithState(new TopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  final case class KmvIn(group: String, h: Long)
  final case class KmvState(version: Long, hashes: Seq[Long])
  final case class KmvOut(group: String, h: Long, rk: Long, version: Long)

  /** Per-group streaming KMV maintenance — the incremental face of the
    * batch [[graft.ext.SketchOps.kmvSketches]]: hashed keys arrive on a
    * stream, each group's state holds ONLY its k smallest DISTINCT
    * hashes (the KMV sketch is itself the minimal mergeable state —
    * merging is "k smallest of the union", which is exactly what each
    * micro-batch applies), and whenever a batch changes a group's
    * sketch the whole sketch re-emits under a bumped per-group version.
    * Serving rule is the engine-wide versioned-upsert discipline (keep
    * max-version rows per group), so the served sketch equals the batch
    * build over everything streamed so far in ANY arrival order —
    * Round13Spec pins the equivalence, and the downstream
    * [[graft.ext.SketchOps.kmvIntersectEstimates]] consumes either side
    * unchanged. State is ≤ k longs per group regardless of stream
    * volume.
    */
  class KmvProcessor(k: Int) extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, KmvIn, KmvOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[KmvState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KmvState]("kmv",
        Encoders.product[KmvState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[KmvIn],
        timerValues: TimerValues): Iterator[KmvOut] = {
      val cur = if (state.exists()) state.get() else KmvState(0L, Nil)
      val merged = (cur.hashes ++ rows.map(_.h)).distinct.sorted.take(k)
      if (merged == cur.hashes) Iterator.empty
      else {
        val next = KmvState(cur.version + 1, merged)
        state.update(next)
        merged.iterator.zipWithIndex.map { case (h, i) =>
          KmvOut(key, h, i + 1L, next.version)
        }
      }
    }
  }

  def streamingKmv(stream: DataFrame, k: Int): org.apache.spark.sql.Dataset[KmvOut] = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("group").cast("string").as("group"),
        col("h").cast("long").as("h"))
      .as[KmvIn]
      .groupByKey(_.group)
      .transformWithState(new KmvProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  final case class CusumIn(series: String, day: Long, x: Double)
  final case class CusumState(lastDay: Long, pp: Long, mp: Long,
      pn: Long, mn: Long)
  final case class CusumOut(series: String, day: Long, cusumPos: Double,
      cusumNeg: Double, changepoint: Long)

  /** Streaming twin of [[graft.etl.StatOps.cusumChangepoints]] — the
    * monitoring detector as it actually deploys: reference moments
    * (μ, σ) come from a TRAINED baseline (the batch op's output
    * carries them), and the per-series state is four scaled longs —
    * the two drift prefix sums and their running minimums, i.e. the
    * closed form P_t − min_{j≤t} P_j held incrementally. Arithmetic is
    * the batch op's 9-dp grid exactly: drift terms round HALF_UP at
    * 9 dp into 10⁻⁹-scaled longs (the decimal column's own unscaled
    * representation), so streamed and batch statistics are
    * bit-identical, flag included — Round13bSpec pins it. Days must
    * arrive in strictly increasing event-time order per series (the
    * running min is order-DEPENDENT, unlike the band/prefix marches'
    * order-free states) — out-of-order arrival fails loudly rather
    * than silently corrupting the minimum.
    */
  class CusumProcessor(mu: Double, sd: Double, k: Double, h: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, CusumIn, CusumOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[CusumState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CusumState]("cusum",
        Encoders.product[CusumState], TTLConfig.NONE)

    // HALF_UP at scale 9, then the decimal's unscaled long — the exact
    // integer Spark's round(col, 9)::DECIMAL(27,9) carries
    private def scaled9(v: Double): Long =
      BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.unscaledValue().longValueExact()

    override def handleInputRows(key: String, rows: Iterator[CusumIn],
        timerValues: TimerValues): Iterator[CusumOut] = {
      val cur = if (state.exists()) state.get()
        else CusumState(Long.MinValue, 0L, 0L, 0L, 0L)
      var st = cur
      val out = rows.toVector.sortBy(_.day).map { r =>
        require(r.day > st.lastDay,
          s"streamingCusum: series $key day ${r.day} arrived at or before " +
            s"state day ${st.lastDay} — the running min needs in-order days")
        val pp = st.pp + scaled9(r.x - mu - k * sd)
        val pn = st.pn + scaled9(mu - r.x - k * sd)
        val mp = math.min(st.mp, pp)
        val mn = math.min(st.mn, pn)
        st = CusumState(r.day, pp, mp, pn, mn)
        val cp = (pp - mp).toDouble / 1e9
        val cn = (pn - mn).toDouble / 1e9
        CusumOut(key, r.day, cp, cn,
          if (cp > h * sd || cn > h * sd) 1L else 0L)
      }
      state.update(st)
      out.iterator
    }
  }

  def streamingCusum(stream: DataFrame, mu: Double, sd: Double,
      k: Double = 0.5, h: Double = 4.0): org.apache.spark.sql.Dataset[CusumOut] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("series").cast("string").as("series"),
        col("day").cast("long").as("day"), col("x").cast("double").as("x"))
      .as[CusumIn]
      .groupByKey(_.series)
      .transformWithState(new CusumProcessor(mu, sd, k, h),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }
}
