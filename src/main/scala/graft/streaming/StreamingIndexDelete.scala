package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{AnnIndex, Retrieval}

/** Streaming DELETE maintenance for the stored indexes — the
  * tombstone twin of [[StreamingIndexAppend]] / [[StreamingAnnAppend]]:
  * a stream of revocation ids (GDPR erasure, licensing takedowns,
  * moderation pulls — the delete traffic a 100 TB corpus actually
  * sees) lands in the stored index as one small tombstone file per
  * micro-batch, with serving masked immediately and the physical
  * rewrite deferred to the compaction valve
  * ([[graft.operators.Retrieval.purgeIndexDeletes]] /
  * [[graft.operators.AnnIndex.purgeIvfqDeletes]]).
  *
  * Parity contract (the `graft.streaming` twin invariant): after ANY
  * micro-batch arrival pattern of the same delete ids, serving is
  * identical to a single batch [[Retrieval.deleteIndex]] /
  * [[AnnIndex.deleteVectors]] call — and therefore to a rebuild over
  * the surviving corpus ([[IndexDeleteSpec]]'s batch contracts) —
  * because tombstones are a SET: the serving anti-join unions all
  * tombstone files and dedups, so splitting the set across batches
  * cannot change the mask. `StreamingIndexDeleteSpec` proves it.
  *
  * Per-batch work, both families: one membership probe of the batch
  * ids against the stored rows (BM25: the (doc_id, dl) postings
  * columns plus the emptydocs sidecar, for the stats decrement; ANN:
  * the `vec_id` column of `vectors`, or of the graph's `nodes`
  * sidecar, for the manifest), minus the ids already tombstoned
  * (`graft.operators.StoredShards.tombstone`). Nothing existing is
  * listed or rewritten on either path. */
object StreamingIndexDelete {

  /** Attach the BM25 tombstone sink to a streaming frame of deleted
    * `doc_id`s. Each micro-batch appends one tombstone file and
    * decrements the stored stats. Replays are harmless:
    * [[graft.operators.Retrieval.deleteIndex]] filters
    * already-tombstoned ids before the decrement, so the sink is
    * idempotent without checkpoint coordination. */
  def bm25Sink(ids: DataFrame, dir: String): DataStreamWriter[Row] =
    ids.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      Retrieval.deleteIndex(batch, dir)
    }

  /** Attach the ANN tombstone sink to a streaming frame of deleted
    * `vec_id`s — tombstones are idempotent here (serving dedups the
    * set), so replays are harmless. */
  def annSink(ids: DataFrame, dir: String): DataStreamWriter[Row] =
    ids.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      AnnIndex.deleteVectors(batch, dir)
    }
}
