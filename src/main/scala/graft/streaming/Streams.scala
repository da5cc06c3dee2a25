package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators beyond the reference's stateless
  * file-stream (SURVEY §2.9): event-time windowed aggregation with
  * watermarks, watermark-bounded key dedup, and custom sessionization
  * state via flatMapGroupsWithState — the state primitives a
  * training-data ingest pipeline needs (late-data tolerance, re-delivery
  * dedup, per-key session cutting). Model follows Armbrust et al.,
  * "Structured Streaming: A Declarative API for Real-Time Applications
  * in Apache Spark", SIGMOD 2018.
  *
  * All transforms are `DataFrame => DataFrame` so they run identically on
  * a MemoryStream in tests, a file stream, or any other source.
  */
object Streams {

  /** Tumbling event-time window counts + exact revenue per event_type,
    * tolerating `lateness` of out-of-order data. State is bounded: the
    * watermark lets Spark drop windows older than (max event time −
    * lateness) — mandatory for an unbounded 100 TB/day stream. */
  def windowedEventCounts(events: DataFrame, windowLen: String = "1 hour",
                          lateness: String = "30 minutes"): DataFrame =
    (if (events.isStreaming) events.withWatermark("ts", lateness) else events)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("revenue"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("revenue").cast("double").as("revenue"))

  /** Stateful cross-batch dedup for an ingest stream: exactly one event
    * per key survives; re-deliveries and duplicates arriving within the
    * watermark horizon are dropped. Which duplicate's payload survives is
    * the first PROCESSED row — arbitrary under out-of-order arrival — so
    * this guarantees idempotency (one row per key), not event-time
    * ordering; payload-canonical selection belongs to the keyed upsert.
    * State is bounded by the watermark — Spark evicts keys older than
    * (max event time − `lateness`), so an unbounded stream holds only the
    * recent-key set, not history. Exact dedup over all history belongs to
    * the batch path (Dedup.exactDedup) or to idempotent keyed upserts. */
  def streamingDedup(events: DataFrame, keys: Seq[String],
                     eventTimeCol: String = "ts",
                     lateness: String = "30 minutes"): DataFrame = {
    require(keys.nonEmpty, "streamingDedup requires at least one key column")
    events.withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark(keys)
  }

  /** Stream-static dimension enrichment: the canonical streaming lookup —
    * each micro-batch left-joins a BATCH dimension table, broadcast so
    * stream rows never shuffle (the stream side at 100 TB/day must stay a
    * pure per-row pipeline; an exchange per micro-batch is the difference
    * between keeping up and falling behind). Identical plan in batch, so
    * a batch twin verifies results row-for-row.
    *
    * Dim refresh caveat: a plain file-backed `dim` pins its file listing
    * when the DataFrame is created — overwriting the directory mid-query
    * yields stale rows or FileNotFoundException, NOT a refresh. To follow
    * a slowly-changing dim, rebuild the join inside `foreachBatch` (a new
    * `spark.read` per batch) or back the dim with an upsert table
    * ([[graft.operators.Upsert.read]]) whose atomic root manifest gives
    * each read a consistent version. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream event-time interval join: each left row pairs with
    * right rows of the same `key` whose event time lies in
    * [leftTs − before, leftTs + after]. Both sides are watermarked, which
    * is what BOUNDS the join state — Spark retains each side only until
    * the other side's watermark passes the interval edge, so an unbounded
    * stream holds a sliding window of rows, not history (the condition
    * must time-bound both directions or state grows forever; this is the
    * canonical funnel/attribution join). Same plan works in batch — the
    * oracle twin q52 replays it on the events table. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String = "ts", rightTs: String = "ts",
                   before: String = "0 minutes", after: String = "10 minutes",
                   lateness: String = "30 minutes"): DataFrame = {
    val l = (if (left.isStreaming) left.withWatermark(leftTs, lateness) else left)
      .alias("l")
    val r = (if (right.isStreaming) right.withWatermark(rightTs, lateness) else right)
      .alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $before") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $after"))
  }

  case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, value: Double)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                     n_events: Int, total_value: Double)

  /** Gap-based sessionization: a session closes after `gapMs` of user
    * inactivity — proven either by a later event from the same user, or by
    * a processing-time timeout (`withTimeout=true`, the production setting;
    * note Spark then fires continuous empty micro-batches to evaluate
    * timeouts, so tests that drain with processAllAvailable should pass
    * `withTimeout=false`). One state object per active user — the
    * KeyValueGroupedDataset partitioning shards state across executors, so
    * state size scales with *active* users, not corpus size. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapMs: Long = 30 * 60 * 1000L,
                 withTimeout: Boolean = true): Dataset[Session] = {
    import spark.implicits._
    val timeoutConf =
      if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeoutConf)(
        sessionStateFn(gapMs,
          (state, _) => if (withTimeout) state.setTimeoutDuration(gapMs)))
  }

  /** The per-group gap-session state machine shared by both streaming
    * variants: fold the batch's events into the open session, emit gap-
    * closed sessions, arm the variant's timeout on whatever stays open. */
  private def sessionStateFn(gapMs: Long,
      arm: (GroupState[SessionState], SessionState) => Unit):
      (Long, Iterator[Event], GroupState[SessionState]) => Iterator[Session] =
    (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(Session(userId, new Timestamp(s.start),
          new Timestamp(s.last), s.n, s.value))
      } else {
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var cur = state.getOption
        val closed = Seq.newBuilder[Session]
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapMs =>
              cur = Some(SessionState(s.start, t, s.n + 1, s.value + e.value))
            case Some(s) =>
              closed += Session(userId, new Timestamp(s.start),
                new Timestamp(s.last), s.n, s.value)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          arm(state, s)
        }
        closed.result().iterator
      }


  /** Event-time-timeout sessionization — the production-correct variant:
    * a session closes when the WATERMARK passes (last event + gap), so
    * closure is a deterministic function of the data, not of wall-clock
    * processing speed (ProcessingTimeTimeout closes sessions earlier or
    * later depending on executor lag, and fires empty micro-batches to
    * poll). Requires a watermark: late events beyond `lateness` are
    * dropped by the engine before they can resurrect a closed session —
    * that bound is what lets state stay finite.
    *
    * Streaming input only: in batch execution EventTimeTimeout never
    * fires, so every user's final open session would be silently dropped
    * — batch callers must use [[sessionizeBatch]]. */
  def sessionizeEventTime(spark: SparkSession, events: Dataset[Event],
                          gapMs: Long = 30 * 60 * 1000L,
                          lateness: String = "30 minutes"): Dataset[Session] = {
    import spark.implicits._
    require(events.isStreaming,
      "sessionizeEventTime requires a streaming Dataset (batch timeouts " +
        "never fire and would drop each user's final session) — use " +
        "sessionizeBatch for batch input")
    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        sessionStateFn(gapMs,
          // close when the event-time clock, not the wall clock, proves
          // the gap elapsed
          (state, s) => state.setTimeoutTimestamp(s.last + gapMs)))
  }

  /** Batch replay of the same sessionization semantics (gap-cut sessions)
    * using window functions — for backfills and for oracle-checking the
    * streaming path: session boundary = event gap > gapMs. */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMs * 1000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"),
        // decimal sum → double: exact and order-independent across partitionings
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .drop("session_id")
  }

  /** Streaming maintenance of the per-bucket KMV sketch table behind
    * q123-style sliding count-distinct: each micro-batch sketches only
    * its OWN events, then `kmvUnion`-folds them into the stored buckets.
    * The union is an associative set merge of distinct hashes, so
    * at-least-once redelivery is absorbed (re-folding the same events is
    * a no-op) and the sliding window report rebuilds from BUCKET rows at
    * any time without revisiting history — the streaming twin of the
    * linear-sketch maintenance CountMin already does. */
  def slidingKmvStream(spark: SparkSession, events: DataFrame, path: String,
                       checkpoint: String, k: Int,
                       availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.Sketches
    import graft.operators.Upsert
    val writer = events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val incoming = batch
            .select(
              graft.Queries.floorDiv(unix_micros(col("ts")), 3600000000L)
                .as("bucket"),
              col("user_id"))
            .groupBy("bucket")
            .agg(Sketches.kmvSketch(
              Sketches.hash63(col("user_id").cast("string")), k).as("sk"))
          val next = Upsert.readOption(spark, path) match {
            case Some(cur) =>
              cur.select(col("bucket"), col("sk").as("sk_old"))
                .join(incoming.select(col("bucket"), col("sk").as("sk_new")),
                  Seq("bucket"), "full_outer")
                .select(col("bucket"),
                  when(col("sk_old").isNull, col("sk_new"))
                    .when(col("sk_new").isNull, col("sk_old"))
                    .otherwise(Sketches.kmvUnion(col("sk_old"), col("sk_new"), k))
                    .as("sk"))
            case None => incoming
          }
          Upsert.replace(spark, path, next)
        }
      }
      .option("checkpointLocation", checkpoint)
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming quality-tier scoring with a FROZEN bigram model — the
    * production shape of q156: the model trains offline on a reference
    * corpus, and newly ingested documents are scored and tiered as they
    * arrive. A document is wholly contained in one row, so per-micro-batch
    * scoring with the batch kernel ([[graft.text.TextAnalysis
    * .bigramLmScore]]) is exact: no cross-batch state, no watermark, and
    * the output is a pure append. The model join moves (pair, counts)
    * longs only; at scale the frozen model is a stored table the stream
    * side joins against, exactly as here. Each micro-batch owns its
    * `batch=<id>` subdirectory, REPLACED by staged rename
    * ([[graft.sources.FsUtils.writeDirAtomic]], the
    * [[graft.dedup.Dedup.nearDupStream]] sink pattern) — a retry after a
    * crash between the data write and the checkpoint offset commit
    * rewrites the same subdir instead of appending a duplicate, so the
    * tier table is exactly-once per document on redelivery, not merely
    * at-least-once; and because the rewrite is a rename swap, a racing
    * reader sees the batch dir complete or (for the instant of the swap)
    * not at all — never half-written. Readers see `batch` as a partition
    * column and can ignore it. */
  def perplexityTiersStream(spark: SparkSession, docs: DataFrame,
                            model: DataFrame, path: String, checkpoint: String,
                            keep: Long = graft.Queries.PerplexityKeep,
                            review: Long = graft.Queries.PerplexityReview,
                            availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          graft.sources.FsUtils.writeDirAtomic(spark,
            graft.text.TextAnalysis.bigramLmScore(batch, "doc_id", "text", model)
              .select(col("id").as("doc_id"), col("n_bigrams"), col("lm_score"),
                when(col("lm_score") >= keep, lit("keep"))
                  .when(col("lm_score") >= review, lit("review"))
                  .otherwise(lit("drop")).as("tier")),
            s"$path/batch=$bid")
        }
      }
      .option("checkpointLocation", checkpoint)
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** Streaming READ of a manifested table's change feed (the
    * [[ChangelogSource]] front door): a streaming DataFrame of
    * table columns + `change_type` + `_commit_version`, offsets =
    * MAIN-published root versions, O(touched partitions) per
    * micro-batch. Compose with [[manifestedAppendStream]] for an
    * exactly-once table-to-table incremental pipeline. */
  def changelogStream(spark: SparkSession, table: String,
                      startingVersion: Option[Long] = None,
                      branch: Option[String] = None,
                      initialSnapshot: Boolean = false): DataFrame = {
    val r0 = spark.readStream.format("graft-changelog").option("path", table)
    val r1 = startingVersion.fold(r0)(v =>
      r0.option("startingVersion", v.toString))
    val r2 = if (initialSnapshot)
      r1.option("startingMode", "initial-snapshot") else r1
    branch.fold(r2)(n => r2.option("branch", n)).load()
  }

  /** Streaming ingest into a MANIFESTED partitioned table via fast
    * appends — the 100 TB log-ingest shape: each micro-batch commits in
    * O(its own rows) ([[graft.operators.Upsert.append]] — new version
    * parts, no existing file read or rewritten, one root delta), so
    * commit cost is independent of how large the table has grown.
    * EXACTLY-ONCE, not at-least-once: every commit is stamped with the
    * micro-batch id as an idempotent transaction
    * (`txn = (appId, batchId)`, Delta's txnAppId/txnVersion pattern),
    * and a foreachBatch redelivery after a crash — which re-runs the
    * SAME batch id over the same checkpointed offsets — is skipped
    * under the writer lease because that version already committed.
    * `appId` defaults to a digest of the checkpoint path: a restart on
    * the same checkpoint resumes the same transaction stream, while a
    * FRESH checkpoint is (per Structured Streaming's own contract) a
    * new query that reprocesses the source — and correspondingly a new
    * transaction id that appends anew. Readers on the table see each
    * batch atomically (root-pointer swap) and concurrent equality
    * deletes never suppress later batches (per-part delete refs). */
  /** Each micro-batch commits through [[graft.operators.Upsert
    * .appendOptimistic]] (bounded lease wait, `maxWaitMs`), NOT the
    * fail-fast append: a streaming ingest must coexist with batch
    * maintenance on the same table — a nightly compaction or a keyed
    * MERGE holds the lease for seconds, and fast-append parts compose
    * with whatever those commits produce, so the right behavior is to
    * wait out the winner and fold onto its head, never to kill the
    * query. Exactly-once still holds across the wait: the txn probe
    * runs UNDER the acquired lease. */
  def manifestedAppendStream(spark: SparkSession, rows: DataFrame,
                             path: String, partitionCols: Seq[String],
                             checkpoint: String,
                             appId: Option[String] = None,
                             availableNow: Boolean = false,
                             maxWaitMs: Long = 120000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Upsert
    val app = appId.getOrElse(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString)
    val writer = rows.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        Upsert.appendOptimistic(spark, path, batch, partitionCols,
          maxWaitMs = maxWaitMs, txn = Some((app, bid)))
      }
      .option("checkpointLocation", checkpoint)
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }
}
