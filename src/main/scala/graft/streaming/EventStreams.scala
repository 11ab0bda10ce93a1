package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.Det

/** Structured Streaming over the `events` stream (SURVEY §2.12 notes
  * the reference has no streaming — this is engine capability the
  * testdata's `events` table is shaped for).
  *
  * Batch/stream symmetry: [[hourlyCounts]] is the streaming twin of
  * batch query q22 — same plan shape (window + grouped agg), plus a
  * watermark so state for closed windows is dropped instead of growing
  * forever. At 100 TB/day the watermark IS the memory bound: state per
  * (window, event_type) only lives until the watermark passes the
  * window end.
  */
object EventStreams {

  /** Hourly (window, event_type) counts/sums with a watermark for
    * state eviction. Works on both streaming and batch frames (the
    * watermark is a no-op on batch), so the same code path serves
    * the lambda-architecture backfill.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.sumRounded(col("value"), 2).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Hourly p95 latency-style rollup from DDSketch histograms — the
    * streaming face of the q133/q134 quantile-sketch family. The
    * typed Aggregator participates in streaming partial aggregation
    * like any builtin: per-trigger partials merge into windowed state
    * (one 16 KB histogram per open window, evicted by the watermark),
    * and the finalized row carries BOTH the scalar estimate and the
    * mergeable sketch bytes so downstream daily/weekly rollups never
    * re-read events. Batch frames take the same code path.
    */
  def hourlyP95(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    src.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.DdSketch.sketchAgg(col("value")).as("sk"))
      .select(col("w.start").as("hour_start"),
        graft.functions.DdSketch.quantile(col("sk"), 0.95).as("p95"),
        graft.functions.DdSketch.total(col("sk")).as("n"),
        col("sk"))
  }

  /** Streaming exactly-once dedup on event id: state is bounded by the
    * watermark (`dropDuplicatesWithinWatermark` evicts seen-ids once
    * the watermark passes them — the unbounded-state hazard of plain
    * `dropDuplicates` on an infinite stream). Batch frames skip the
    * watermark and dedup exactly. This is the streaming face of the
    * L1 exact-dedup family: at-least-once sources (Kafka replays,
    * file redelivery) become effectively-once downstream.
    */
  def dedupEvents(events: DataFrame, idCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)
    else events.dropDuplicates(idCols)

  /** Stream-static enrichment: attach a dimension table to a stream.
    * Stateless (no watermark); the static side is broadcast-hinted —
    * dimensions are small by definition, and Spark re-resolves the
    * batch side each micro-batch, so dimension updates between
    * batches are picked up. The streaming face of the J2/J4 equi-join
    * family.
    */
  def enrich(stream: DataFrame, dim: DataFrame,
             keys: Seq[String], joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Stream-stream interval join: each left event pairs with right
    * events of the same key whose time falls in
    * `[left.ts − lookback, left.ts]` — the online face of the as-of /
    * range-join family (attribute a purchase stream to the click
    * stream that preceded it). Both sides carry watermarks and the
    * join condition bounds event-time distance, which is exactly what
    * lets Spark evict buffered rows: state per side is
    * watermark + lookback, not the whole stream. Time columns must be
    * pre-renamed to distinct names (`lTs` / `rTs`).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   lTs: String, rTs: String, lookback: String,
                   watermark: String = "1 hour"): DataFrame = {
    val l = if (left.isStreaming) left.withWatermark(lTs, watermark) else left
    val r = if (right.isStreaming) right.withWatermark(rTs, watermark) else right
    l.join(r,
      l(key) === r(key) &&
        col(rTs) <= col(lTs) &&
        col(rTs) >= col(lTs) - expr(s"INTERVAL $lookback"))
      .drop(r(key))
  }

  /** Streaming upsert sink — the streaming-lakehouse pattern: each
    * micro-batch MERGES into a keyed parquet target with latest-wins
    * semantics ([[graft.operators.Upsert.latestWins]]) instead of
    * appending, so the target is always the current state, not a log.
    * Restart-safe via the checkpoint: a replayed batch re-merges the
    * same keys idempotently (latest-wins is idempotent by
    * construction).
    *
    * Plain parquet has no transaction log, so the rewrite here is
    * read → merge → localCheckpoint (materialize BEFORE overwriting
    * the files being read) → overwrite. Readers racing the swap can
    * see a partial directory — production targets a table format with
    * atomic commits (the merge logic is identical); this sink is the
    * pattern demonstrator over raw files.
    */
  def upsertSink(stream: DataFrame, path: String, checkpoint: String,
                 keys: Seq[String], versionCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val existing =
          try Some(spark.read.parquet(path))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        val merged = existing.map(_.unionByName(batch)).getOrElse(batch)
        val out = graft.operators.Upsert.latestWins(merged, keys, versionCol)
          .localCheckpoint()
        out.write.mode("overwrite").parquet(path)
      }
      .start()

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String, value: Double)

  final case class Session(user_id: Long, start_ts: java.sql.Timestamp,
                           end_ts: java.sql.Timestamp, n_events: Long,
                           sum_value: Double)

  final case class SessionState(startMs: Long, lastMs: Long,
                                n: Long, total: Double)

  /** Event-time sessionization with a gap timeout — the custom-state
    * shape (`flatMapGroupsWithState`) the built-in windows can't
    * express. A session closes when no event arrives for `gapMinutes`
    * of EVENT time (watermark-driven timeout, so state is bounded and
    * late data within the watermark still extends its session).
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int,
                 watermark: String = "10 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, batch: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      def emit(s: SessionState) = Session(userId,
        new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs),
        s.n, s.total)
      if (state.hasTimedOut) {
        val out = state.getOption.map(emit).iterator
        state.remove()
        out
      } else {
        val events = batch.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[Session]
        var cur = state.getOption
        events.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.lastMs <= gapMs =>
              cur = Some(SessionState(s.startMs, math.max(s.lastMs, t),
                s.n + 1, s.total + e.value))
            case Some(s) =>
              closed ::= emit(s)
              cur = Some(SessionState(t, t, 1L, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1L, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastMs + gapMs)
        }
        closed.reverseIterator
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }
}
