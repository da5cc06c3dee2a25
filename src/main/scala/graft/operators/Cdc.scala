package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Change-data-capture application: collapse an ordered changelog of
  * insert/update/delete operations into the table's final state — the
  * "APPLY CHANGES" step that turns a CDC feed (Debezium-style op + seq
  * rows) into a queryable snapshot. Extends the reference's MERGE-based
  * upsert (reference: spark_jobs/gcs_bronze_to_silver.py:469-490), which
  * has no delete lane, into full I/U/D semantics.
  *
  * One hash exchange on the key; latest-wins is a row_number over
  * (key, seq desc) and the delete filter drops tombstoned keys AFTER the
  * latest-version pick, so a delete followed by a re-insert (higher seq)
  * correctly resurrects the key. At 100 TB this is the same plan as any
  * keyed dedup — no joins, no per-op passes.
  */
object Cdc {

  /** Final state of `changes`: one row per key whose LATEST operation (by
    * `seqCol`) is not a delete. Output drops the bookkeeping columns,
    * keeping key + payload.
    *
    * Tie handling: a real CDC log position is unique per key, but the
    * window no longer *relies* on that comment-level contract — ordering
    * is (seq desc, tieBreak…, op desc), so equal-seq rows resolve
    * deterministically: caller-supplied `tieBreak` columns first, then the
    * op code descending (for the default I/U/D codes a delete at the same
    * seq loses to the concurrent upsert — the conservative, data-keeping
    * choice). Rows identical in seq + tieBreak + op are interchangeable
    * only if their payloads are too; pass a payload column in `tieBreak`
    * when they are not. */
  def applyChanges(changes: DataFrame, keys: Seq[String], seqCol: String,
                   opCol: String, deleteOp: String = "D",
                   tieBreak: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "applyChanges: keys must be non-empty")
    val ordering = (col(seqCol).desc +: tieBreak.map(col(_).desc)) :+
      col(opCol).desc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    changes
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col(opCol) =!= deleteOp)
      .drop("__rn", seqCol, opCol)
  }

  /** Apply a changelog on top of an existing `target` snapshot: current
    * rows participate as baseline inserts BELOW every real change
    * (sequence −∞ via a null seq sorted last), then [[applyChanges]]
    * semantics decide each key. Same single-exchange shape. */
  def applyChangesTo(target: DataFrame, changes: DataFrame, keys: Seq[String],
                     seqCol: String, opCol: String,
                     deleteOp: String = "D",
                     tieBreak: Seq[String] = Nil): DataFrame = {
    val seqType = changes.schema(seqCol).dataType
    val baseline = target
      .withColumn(seqCol, lit(null).cast(seqType)) // nulls sort LAST on desc
      .withColumn(opCol, lit("I"))
    applyChanges(baseline.unionByName(changes), keys, seqCol, opCol, deleteOp,
      tieBreak)
  }

  /** Maintain a queryable snapshot table at `path` from a STREAMING
    * changelog: every micro-batch folds its I/U/D rows into the current
    * snapshot ([[applyChangesTo]]) and atomically replaces the table
    * ([[graft.operators.Upsert.replace]] — one root manifest swap,
    * single-writer lease, crash recovery). Checkpoint + the keyed latest-wins fold make
    * redelivered batches idempotent — the same exactly-once contract as
    * the bronze→silver stream, extended with a delete lane. Per batch the
    * cost is one key exchange over (snapshot ∪ batch); at 100 TB the
    * batch is tiny and AQE broadcasts it. `availableNow` drains the
    * backlog and stops (deterministic for tests and catch-up runs). */
  def applyChangesStream(spark: SparkSession, changes: DataFrame, path: String,
                         keys: Seq[String], seqCol: String, opCol: String,
                         checkpoint: String, deleteOp: String = "D",
                         availableNow: Boolean = false): StreamingQuery = {
    val writer = changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val next = Upsert.readOption(spark, path) match {
            case Some(cur) =>
              applyChangesTo(cur, batch, keys, seqCol, opCol, deleteOp)
            case None => applyChanges(batch, keys, seqCol, opCol, deleteOp)
          }
          Upsert.replace(spark, path, next)
        }
      }
      .option("checkpointLocation", checkpoint)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
