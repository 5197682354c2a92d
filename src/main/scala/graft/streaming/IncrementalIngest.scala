package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** §2.10 — the reference has no streaming (daily cron batch with
  * idempotent upserts); this is the faithful Structured Streaming
  * extension SURVEY.md §2.10 sketches: a file source over the raw zone
  * with `Trigger.AvailableNow`, `dropDuplicates` on the upsert key as
  * the stateful op, and `foreachBatch` running the same §2.8 merge —
  * zero new semantics, same operators, incremental execution.
  *
  * Scale: AvailableNow drains the backlog in rate-limited increments
  * (maxFilesPerTrigger) with exactly-once sink semantics via the
  * checkpoint; the merge inside foreachBatch shuffles only each
  * micro-batch, not the target history.
  */
object IncrementalIngest {

  /** Stream the raw JSON zone into a parquet target with keyed merge
    * semantics per micro-batch.
    *
    * Dedup placement matters: DO-UPDATE (latest lands wins) dedups
    * WITHIN each micro-batch only — a revised record in a later batch
    * must reach the merge. DO-NOTHING (first wins forever) uses
    * Spark's stateful streaming `dropDuplicates`, whose checkpointed
    * key state spans batches and restarts — the streaming-native form
    * of the reference's ON CONFLICT DO NOTHING. */
  def run(spark: SparkSession, rawPath: String, schema: StructType,
          targetPath: String, checkpoint: String, keys: Seq[String],
          doUpdate: Boolean = true): StreamingQuery = {
    val base = spark.readStream.schema(schema).json(rawPath)
    val stream = if (doUpdate) base else base.dropDuplicates(keys)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.mergeInto(
          batch.dropDuplicates(keys), targetPath, keys, doUpdate)
      }
      .start()
  }
}
