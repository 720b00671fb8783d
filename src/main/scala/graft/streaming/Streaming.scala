package graft.streaming

import graft.functions.Portable.dsumIf
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import java.sql.Timestamp

/** Structured-Streaming ingest for the events stream: watermarked windowed
  * aggregation and stateful sessionization.
  *
  * The reference is a batch ETL (per-shard map/reduce over files); graft
  * extends the same operators to unbounded input: the shard map IS the
  * micro-batch, the cross-shard reduce IS the stateful aggregation, and
  * the watermark bounds state exactly where the reference's shard
  * boundaries bound memory. All state is keyed (event-time window or
  * patient), so it scales horizontally with the shuffle.
  */
object Streaming {

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp, n_events: Long)
  final case class SessionAcc(start: Long, last: Long, n: Long)

  /** Tumbling-window per-code counts/sums with an event-time watermark.
    * Works identically on a batch frame (windows close immediately) and a
    * stream (late data beyond `watermarkDelay` is dropped, state evicted).
    */
  def windowedEventCounts(
      events: DataFrame,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming sample-ratio-mismatch guardrail: per event-time window,
    * the observed arm split vs the design ratio as a χ²₁ — the
    * ALWAYS-ON version of [[graft.operators.Stats
    * .sampleRatioMismatch]]: a broken experiment split (lost exposures,
    * one-arm bot filtering) should page within a window of happening,
    * not at readout time a week later. One watermarked windowed
    * aggregation (two conditional counts — mergeable, so state is one
    * row per window); the χ² is a stateless projection on top. Emit in
    * append mode; alert on chi2 > 3.84.
    */
  def windowedSrm(
      events: DataFrame,
      armB: Column,
      expectedB: Double = 0.5,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "10 minutes"
  ): DataFrame = {
    require(expectedB > 0 && expectedB < 1, s"expectedB must be in (0,1), got $expectedB")
    val isB = coalesce(armB, lit(false))
    val agg = events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration).as("w"))
      .agg(
        count(when(!isB, lit(1))).as("n_a"),
        count(when(isB, lit(1))).as("n_b"))
    val nD = (col("n_a") + col("n_b")).cast("double")
    val eB = nD * expectedB
    val eA = nD * (1.0 - expectedB)
    val nbD = col("n_b").cast("double")
    val naD = col("n_a").cast("double")
    agg.select(
      col("w.start").as("window_start"), col("n_a"), col("n_b"),
      when(nD > 0.0, nbD / nD).as("frac_b"),
      when(nD > 0.0,
        (nbD - eB) * (nbD - eB) / eB + (naD - eA) * (naD - eA) / eA).as("chi2"))
  }

  /** Stream-static enrichment: the unbounded stream LEFT-joins a
    * bounded dimension frame on `keys` — the most common production
    * streaming join (events × user profile, measurements × code
    * metadata). The static side is re-read per micro-batch by Structured
    * Streaming's planner (so a dimension refreshed between triggers is
    * picked up) and explicitly broadcast, so the stream side never
    * shuffles and carries no join state — unlike a stream-stream join
    * there is nothing to watermark. Unmatched stream rows pass through
    * with NULL attributes: an enrichment join must never drop facts.
    *
    * `dim` must be genuinely dimension-sized — it is force-broadcast
    * (no size guard) and re-broadcast EVERY micro-batch, so budget it
    * like `spark.sql.autoBroadcastJoinThreshold` (tens of MiB, not
    * fact-sized): a large frame here OOMs the driver on the first
    * trigger. Fact-sized enrichment belongs in a batch join or a
    * stream-stream interval join, not this helper.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Streaming form of the flagship code-metadata aggregation
    * ([[graft.operators.CodeMetadata]]): per (event-time window, code)
    * distribution stats over an unbounded MEDS-shaped stream. The same
    * nine-aggregation algebra — all sums/counts/min/max are
    * partial-aggregatable, so state per open window is one row per code,
    * and the watermark evicts closed windows. countDistinct is not
    * streamable (unbounded state); the patient-count aggregations use the
    * approx_count_distinct sketch, the standard streaming trade.
    */
  def streamingCodeMetadata(
      meds: DataFrame,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "10 minutes"
  ): DataFrame = {
    val v = col("numeric_value")
    val present = v.isNotNull && !isnan(v)
    meds
      .withWatermark("time", watermarkDelay)
      .groupBy(window(col("time"), windowDuration).as("w"), col("code"))
      .agg(
        approx_count_distinct("patient_id").as("code/n_patients~"),
        count(lit(1)).as("code/n_occurrences"),
        count(when(present, lit(1))).as("values/n_occurrences"),
        dsumIf(present, v).as("values/sum"),
        dsumIf(present, v * v).as("values/sum_sqd"),
        min(when(present, v)).as("values/min"),
        max(when(present, v)).as("values/max")
      )
      .select(col("w.start").as("window_start") +: (Seq("code", "code/n_patients~",
        "code/n_occurrences", "values/n_occurrences", "values/sum", "values/sum_sqd",
        "values/min", "values/max").map(col)): _*)
  }

  /** Unbounded file source: every parquet file that appears under `dir`
    * becomes (part of) a micro-batch — the no-broker stand-in for a Kafka
    * topic with the same contract (new data keeps arriving, the query
    * never finishes). `maxFilesPerTrigger` bounds per-batch input the way
    * `maxOffsetsPerTrigger` would on Kafka; the source tracks processed
    * files in the checkpoint, so restarts resume exactly where they left
    * off. Pair with [[parquetAppendSink]] for an end-to-end exactly-once
    * file-to-file pipeline.
    */
  def parquetFileStream(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 1
  ): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Exactly-once parquet file sink for an append-mode stream (sessionize
    * output, watermarked windowed aggregates past their close). The file
    * sink's transaction log + the checkpoint give end-to-end exactly-once:
    * a restarted query resumes from the checkpoint and never double-writes
    * a batch. This is the streaming analog of the reference's per-shard
    * mapper output files.
    */
  def parquetAppendSink(
      df: DataFrame,
      path: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)
  ): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .start()

  /** Complete-mode snapshot sink: after each trigger, atomically replaces
    * `path` with the CURRENT full aggregation state (overwrite via
    * foreachBatch — the file sink itself is append-only). This is the
    * streaming analog of the reference's reducer output file: downstream
    * batch stages (normalization, outlier occlusion) read the latest
    * snapshot of code metadata while the stream keeps folding new shards
    * in. State stays bounded by the aggregation keys, not the stream.
    */
  def snapshotSink(
      aggregated: DataFrame,
      path: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)
  ): StreamingQuery =
    aggregated.writeStream
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").parquet(path)
      }
      .start()

  /** Streaming exact dedup: keep the first document per content
    * fingerprint, drop later copies. `dropDuplicatesWithinWatermark`
    * bounds the fingerprint state by event time — a copy arriving within
    * the watermark horizon of the original is dropped, state for expired
    * fingerprints is evicted (infinite-retention dedup over an unbounded
    * stream is unbounded state; the horizon is the correct streaming
    * trade, and the batch [[graft.dedup.Dedup.exact]] owns full-history
    * dedup).
    */
  def streamingExactDedup(
      docs: DataFrame,
      watermarkDelay: String,
      tsCol: String = "ts",
      textCol: String = "text"
  ): DataFrame =
    docs
      .withColumn("__fp", graft.text.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming log compaction: maintain the latest row per key over an
    * unbounded CDC/upsert stream — the incremental twin of
    * [[graft.operators.Compact.latestPerKey]], same max-struct
    * aggregate, run in update/complete mode (pair with [[snapshotSink]]
    * to materialize the current state table each trigger). State is one
    * struct per key — the compacted table itself, the minimum any
    * upsert view must hold. Ties and null order values resolve exactly
    * as in the batch operator, so a backfill and the live stream agree.
    */
  def streamingLatestPerKey(
      log: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String]
  ): DataFrame =
    // delegate to the batch compactor — ONE implementation is the parity
    // guarantee (the same plan runs incrementally under a streaming
    // source, like sessionWindowSummaries)
    graft.operators.Compact.latestPerKey(log, keyCols, orderCols)

  /** Watermarked STREAM-STREAM interval join: enrich each left event
    * with the right-stream events of the same key whose time falls in
    * `[leftTs - lookBack, leftTs + lookAhead]` — the unbounded twin of
    * [[graft.operators.RangeJoin]] (clicks joined to the purchases
    * around them, measurements to nearby device readings, ...).
    *
    * Both sides carry watermarks and the join condition is an explicit
    * event-time range, which is exactly what lets Spark bound the join
    * state: each side buffers only rows inside watermark + range window,
    * evicting as the watermark advances — the canonical stream-stream
    * join recipe. State is keyed by the join key, so it scales
    * horizontally with the shuffle like every other stateful op here.
    *
    * Column names must be disjoint across the sides except the key
    * (enforced), because the joined row carries both. `joinType`
    * "inner" or "leftOuter" (outer emits unmatched left rows once the
    * watermark proves no match can arrive).
    */
  def streamStreamIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      on: String,
      leftTs: String,
      rightTs: String,
      lookBack: String = "30 minutes",
      lookAhead: String = "0 seconds",
      watermarkDelay: String = "10 minutes",
      joinType: String = "inner"
  ): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet) - on
    require(overlap.isEmpty, s"non-key columns appear on both sides: $overlap — rename before joining")
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay).withColumnRenamed(on, "__rk")
    l.join(
      r,
      col(on) === col("__rk") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookBack") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $lookAhead"),
      joinType
    ).drop("__rk")
  }

  /** Streaming MINHASH dedup: suppress documents whose full minhash
    * signature matches one already seen inside the watermark horizon.
    *
    * The signature is computed per-row with
    * [[graft.dedup.Dedup.withMinhashSig]] — a stateless projection, no
    * shuffle — so the only stateful operator is the signature-keyed
    * `dropDuplicatesWithinWatermark`, whose state is one row per distinct
    * signature inside the horizon. Signature-identical means
    * near-identical content (Jaccard ≈ 1); this is the sketch-level
    * dedup. Band-level (lower-similarity) candidates are
    * [[streamingLshCandidates]]'s job, and full-history dedup belongs to
    * the batch [[graft.dedup.Dedup]] pipelines.
    *
    * Docs with no shingles (shorter than the shingle size) fall back to
    * an exact-text key: byte-identical short docs inside the horizon DO
    * dedupe, distinct short docs are all kept (near-duplicate detection
    * below the shingle size is undefined, exact-duplicate still isn't).
    * Null-text docs bypass the dedup entirely (all kept): they carry no
    * comparable content, and a NULL key would collapse them into one.
    */
  def streamingMinhashDedup(
      docs: DataFrame,
      watermarkDelay: String,
      numHashes: Int = 8,
      n: Int = 5,
      tsCol: String = "ts",
      textCol: String = "text"
  ): DataFrame = {
    // explicit null branch: concat_ws maps a NULL array to "" (not null),
    // which would fold every shingle-less doc into one dedup key
    val sigKey = when(col("__sig").isNotNull,
      md5(concat_ws(",", transform(col("__sig"), _.cast("string")))))
      .otherwise(concat(lit("nosig:"), md5(col(textCol))))
    val withSig =
      graft.dedup.Dedup.withMinhashSig(docs, col(textCol), "__sig", numHashes, n)
    // null-text rows carry no comparable content: md5(NULL) would hand
    // them all ONE (null) dedup key and keep only the first. Route them
    // around the stateful operator entirely — every null-text row passes
    // through; dedup applies to rows that have text.
    val deduped = withSig
      .filter(col(textCol).isNotNull)
      .withColumn("__sigkey", sigKey)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__sigkey")
      .drop("__sigkey", "__sig")
    deduped.unionByName(withSig.filter(col(textCol).isNull).drop("__sig"))
  }

  final case class BandHit(id: Long, band: Int, sig: String, tsMs: Long)
  final case class BucketAcc(canonicalId: Long, lastMs: Long)
  final case class CandidatePair(id_a: Long, id_b: Long, band: Int)

  /** Streaming LSH candidate pairs: documents sharing any minhash band
    * bucket with an earlier-seen document are emitted as (canonical,
    * newcomer) pairs — the streaming twin of
    * [[graft.dedup.Dedup.minhashCandidatePairs]].
    *
    * Bands explode per-row (numBands rows per doc, still stateless);
    * the single stateful operator is `flatMapGroupsWithState` keyed by
    * (band, band-signature), holding ONE (canonicalId, lastSeen) per
    * active bucket — not the member list — so state is bucket-count
    * sized and each newcomer pairs only against the bucket's canonical
    * doc (the batch operator's min-id-survivor policy, not all-pairs).
    * Buckets idle past the watermark horizon time out and evict.
    * The same pair can surface from several bands; downstream distinct
    * is the consumer's choice (exactly as in batch).
    */
  def streamingLshCandidates(
      docs: DataFrame,
      watermarkDelay: String,
      numHashes: Int = 8,
      numBands: Int = 4,
      n: Int = 5,
      idCol: String = "doc_id",
      tsCol: String = "ts",
      textCol: String = "text"
  ): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val hits = graft.dedup.Dedup
      .withMinhashSig(docs, col(textCol), "__sig", numHashes, n)
      .filter(col("__sig").isNotNull)
      .withColumn("__b", explode(graft.dedup.Dedup.bandKeysColumn(col("__sig"), numHashes, numBands)))
      .select(
        col(idCol).cast("long").as("id"),
        col("__b.band").as("band"),
        col("__b.sig").as("sig"),
        unix_millis(col(tsCol)).as("tsMs"),
        col(tsCol).as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[BandHit]

    def fn(key: (Int, String), rows: Iterator[BandHit], state: GroupState[BucketAcc]): Iterator[CandidatePair] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val batch = rows.toSeq.sortBy(h => (h.tsMs, h.id))
        var acc = state.getOption
        val out = Seq.newBuilder[CandidatePair]
        for (h <- batch) {
          acc match {
            case None => acc = Some(BucketAcc(h.id, h.tsMs))
            case Some(a) =>
              if (h.id != a.canonicalId) out += CandidatePair(a.canonicalId, h.id, key._1)
              acc = Some(a.copy(lastMs = math.max(a.lastMs, h.tsMs)))
          }
        }
        acc.foreach { a =>
          state.update(a)
          // evict once the watermark passes the bucket's last activity;
          // clamp above the current watermark (a late-but-accepted hit can
          // carry lastMs already behind it, and timeouts must be ahead)
          state.setTimeoutTimestamp(math.max(a.lastMs, state.getCurrentWatermarkMs()) + 1)
        }
        out.result().iterator
      }
    }

    hits
      .groupByKey(h => (h.band, h.sig))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Event-time sessionization: consecutive events of a user belong to one
    * session while gaps stay under `gapMinutes`. Sessions are emitted when
    * the watermark passes their close (append mode, exactly-once).
    *
    * State is one [[SessionAcc]] per open (user) session —
    * `flatMapGroupsWithState` with event-time timeout, the canonical
    * bounded-state pattern.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(userId: Long, rows: Iterator[Event], state: GroupState[SessionAcc]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n))
      } else {
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[Session]
        var acc = state.getOption
        for (e <- sorted) {
          val t = e.ts.getTime
          acc = acc match {
            case Some(a) if t - a.last <= gapMs => Some(SessionAcc(a.start, math.max(a.last, t), a.n + 1))
            case Some(a) =>
              closed ::= Session(userId, new Timestamp(a.start), new Timestamp(a.last), a.n)
              Some(SessionAcc(t, t, 1))
            case None => Some(SessionAcc(t, t, 1))
          }
        }
        acc.foreach { a =>
          state.update(a)
          state.setTimeoutTimestamp(a.last + gapMs)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  final case class FunnelHit(user_id: Long, reached: Int, ts: Timestamp)

  /** Streaming funnel: the incremental twin of
    * [[graft.operators.Funnel.funnel]] — emit a [[FunnelHit]] each time
    * a key advances one step (greedy earliest-first, strictly-after
    * matching, identical to the batch fold on in-order arrival). State
    * is the matched-times array (≤ steps.length longs per live key, the
    * funnel's own definition of minimal state); completed keys keep
    * their state until the idle timeout so re-occurring step types
    * don't restart a second funnel instance, then evict by event-time
    * timeout — eviction trades memory for the ability to resume a
    * dormant key's funnel, the same horizon trade the LSH bucket state
    * documents.
    */
  def streamingFunnel(
      events: Dataset[Event],
      steps: Seq[String],
      watermarkDelay: String,
      idleTimeoutMs: Long = 24L * 3600 * 1000
  ): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty && steps.distinct.size == steps.size, s"bad step list $steps")

    def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L

    def fn(key: Long, rows: Iterator[Event], state: GroupState[Seq[Long]]): Iterator[FunnelHit] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var matched = state.getOption.getOrElse(Seq.empty)
        val sorted = rows.filter(e => steps.contains(e.event_type)).toSeq.sortBy(e => micros(e.ts))
        val hits = Seq.newBuilder[FunnelHit]
        for (e <- sorted) {
          val t = micros(e.ts)
          if (matched.size < steps.size && e.event_type == steps(matched.size) &&
              (matched.isEmpty || t > matched.last)) {
            matched = matched :+ t
            hits += FunnelHit(key, matched.size, e.ts)
          }
        }
        if (matched.nonEmpty) {
          state.update(matched)
          state.setTimeoutTimestamp(
            math.max(matched.last / 1000L + idleTimeoutMs, state.getCurrentWatermarkMs()) + 1L)
        }
        hits.result().iterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Streaming debounce: the incremental twin of
    * [[graft.operators.Debounce.debounce]] — emit an event iff it is at
    * least `gapUs` after the key's previous event. State is ONE long
    * (the last seen event time) per live key, evicted by event-time
    * timeout once a key has been quiet past the watermark plus gap —
    * the minimum any debouncer must remember.
    *
    * Parity contract: within a trigger, events sort by event time (tie:
    * value order doesn't matter — identical times debounce to one), and
    * ACROSS triggers the batch lag semantics are reproduced only for
    * in-order arrival (an event older than the last seen one is judged
    * against that newer time — late data was already "shadowed" by the
    * event that beat it in). Same contract the minhash dedup documents.
    */
  def streamingDebounce(
      events: Dataset[Event],
      gapUs: Long,
      watermarkDelay: String
  ): Dataset[Event] = {
    import events.sparkSession.implicits._
    require(gapUs >= 0, s"gapUs must be >= 0, got $gapUs")

    // Full microsecond precision: Timestamp.getTime truncates to millis,
    // which would collapse sub-millisecond gaps the batch twin (unix_micros)
    // resolves — breaking the parity contract for small gapUs.
    def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L

    def fn(key: (Long, String), rows: Iterator[Event], state: GroupState[Long]): Iterator[Event] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.value))
        var last = state.getOption
        val kept = sorted.filter { e =>
          val t = micros(e.ts)
          val keep = last.forall(p => t - p > gapUs)
          last = Some(last.fold(t)(math.max(_, t)))
          keep
        }
        last.foreach { l =>
          state.update(l)
          // timeouts must be ahead of the CURRENT watermark: a late-but-
          // accepted event (filtered with the previous batch's watermark,
          // validated against this one) would otherwise crash the query
          state.setTimeoutTimestamp(
            math.max(l / 1000L + gapUs / 1000L, state.getCurrentWatermarkMs()) + 1L)
        }
        kept.iterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }
}
