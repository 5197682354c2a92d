package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming vector ingest — the IVF counterpart of
  * [[StreamingDedup]]'s near-dup ingest service, completing the parity
  * between the two persisted index families: an unbounded embedding
  * stream (vec_id, embedding) is drained micro-batch by micro-batch
  * into a persisted IVF ANN index ([[Similarity.buildIvfIndex]]), so
  * probes ([[Similarity.ivfTopKIndexed]]) always see the corpus as of
  * the last committed batch without any rebuild.
  *
  * Replay safety (foreachBatch is at-least-once — a crashed batch
  * re-runs): the vector sink partitions by `ingest_batch` with DYNAMIC
  * partition overwrite, so a replay overwrites its own partition; the
  * index append anti-joins already-indexed vec_ids
  * ([[Similarity.appendToIvfIndex]]), so the replayed append is a
  * no-op. Within-batch duplicate vec_ids collapse to one row before
  * either write. vec_ids must be globally unique across the stream's
  * lifetime — the index keys on them.
  *
  * Operational contract at scale: appends assign to FROZEN centroids,
  * so a drifting ingest distribution unbalances the cells —
  * [[Similarity.ivfCellStats]] is the rebuild trigger an operator
  * watches, and [[Similarity.rebuildIvfIndex]] is the rebuild: it
  * re-clusters the indexed vectors into a new version behind the
  * index's atomic `CURRENT` pointer.
  */
object StreamingVectors {

  /** One micro-batch: land the (deduplicated) vectors in the
    * batch-partitioned sink, then append them to the IVF index — and,
    * when given, to the PQ codes and the composed IVFPQ index too, so
    * every ANN tier (partition-pruned IVF probe, compressed ADC/rerank
    * probe, cells×residual-codes IVFPQ probe) sees the corpus as of
    * the last committed batch. Sink first — a
    * crash between the writes then leaves the vector durable and the
    * retry heals the indexes, never the reverse (an indexed vector
    * missing from the sink would survive no rebuild). Within-batch
    * duplicate ids collapse to a DETERMINISTIC max-fingerprint
    * survivor, so the sink and both index appends persist the same
    * row on every replay.
    *
    * Batch schema contract: batches are (vec_id, embedding) ONLY —
    * the survivor groupBy projects exactly those two columns, so any
    * extra column a caller smuggles in is dropped from the durable
    * sink by design (the index appends never consume more, and a
    * payload column would belong in a document/metadata sink keyed by
    * vec_id, not in the vector store). */
  def ingestVectorBatch(batch: DataFrame, batchId: Long, indexPath: String,
                        vectorsPath: String,
                        pqIndexPath: Option[String] = None,
                        ivfPqIndexPath: Option[String] = None): Unit = {
    val b = batch
      .groupBy(col("vec_id"))
      .agg(max_by(col("embedding"),
        xxhash64(col("vec_id"), col("embedding"))).as("embedding"))
      .localCheckpoint()
    b.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(vectorsPath)
    Similarity.appendToIvfIndex(b, indexPath)
    pqIndexPath.foreach(Similarity.appendToPqIndex(b, _))
    ivfPqIndexPath.foreach(Similarity.appendToIvfPqIndex(b, _))
  }

  /** The ingest service as a streaming query: drain the embedding
    * stream with AvailableNow, run [[ingestVectorBatch]] per
    * micro-batch. The index at `indexPath` must exist
    * ([[Similarity.buildIvfIndex]] over a seed corpus — centroids
    * need at least nCells vectors to train; likewise
    * [[Similarity.buildPqIndex]] / [[Similarity.buildIvfPqIndex]]
    * when their paths are given). */
  def vectorIngest(vecs: DataFrame, indexPath: String, vectorsPath: String,
                   checkpoint: String,
                   pqIndexPath: Option[String] = None,
                   ivfPqIndexPath: Option[String] = None): StreamingQuery =
    vecs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestVectorBatch(batch, id, indexPath, vectorsPath, pqIndexPath, ivfPqIndexPath)
      }
      .start()
}
