package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{AnnIndex, StoredShards}

/** Streaming ingest WITH the maintenance valves in the loop — the
  * closing piece of the stored-ANN lifecycle under continuous
  * arrival. [[StreamingAnnAppend]] appends forever and leaves
  * compaction and refit to an operator's cron; this sink runs them
  * BETWEEN micro-batches, where a deployment actually wants them:
  *
  *  - every micro-batch lands in the corpus store (plain parquet
  *    append — the full-precision rows a refit or an exact re-rank
  *    needs) and in the stored index ([[AnnIndex.appendIvfq]],
  *    O(batch));
  *  - after each append the FILE valve polls
  *    ([[AnnIndex.compactIvfq]] — a driver-side dir listing, free)
  *    and folds oversized cells back to the layout contract;
  *  - the DRIFT valve polls [[AnnIndex.needsRefit]] (1-row
  *    arithmetic) and, when the appended+deleted fraction passes
  *    `maxDrift`, refits the centroids on the current corpus store
  *    and commits the rebuilt index as ONE atomic version rename
  *    ([[AnnIndex.refitIvfq]]) — queries served concurrently resolve
  *    either the old or the new version, never mixed parts, so the
  *    stream never pauses for the cutover.
  *
  * Serving parity across an in-stream refit is exact, not
  * approximate: the refit IS [[AnnIndex.buildIvfqIndex]] on the
  * corpus store, so post-cutover serving equals a fresh build on
  * everything ingested so far (`StreamingMaintenanceSpec`).
  *
  * Deletes compose with the valve: the corpus store physically
  * retains rows that [[AnnIndex.deleteVectors]] tombstoned on the
  * index (tombstones mask serving, and deletes themselves RAISE the
  * drift fraction, so deleting is precisely what fires the refit) —
  * a refit fed the raw store would therefore resurrect deleted
  * vectors into serving, and dropping the tombstone ledger at the
  * cutover would make the resurrection permanent. So the refit leg
  * first FOLDS the tombstones into the row store (live rows staged
  * to a sibling dir, two renames; a crash between them leaves the
  * store absent but BOTH complete copies on disk, and the next
  * maintain run restores one before touching anything — both are
  * correct to serve because the index-side mask is still active
  * until the refit commits) and then
  * refits on the folded store, so post-cutover serving equals a
  * fresh build on exactly the live corpus
  * (`StreamingMaintenanceSpec`'s delete-triggered-refit case).
  * Exactly-once: both writes key off the micro-batch, so use a
  * checkpointLocation; replays re-append — upstream admission
  * (`StreamingAdmission`) is the dedup layer, as everywhere in this
  * pipeline. */
object StreamingAnnMaintain {

  /** Attach ingest + maintenance to a streaming embeddings frame
    * (`vec_id`, `embedding`). `indexDir` must hold a built index;
    * `corpusDir` is the full-precision row store the refit refits
    * on (bootstrapped here if absent — seed it with the build
    * corpus for drift fractions to mean what the manifest says). */
  def sink(vecs: DataFrame, indexDir: String, corpusDir: String,
           nlist: Int, maxDrift: Double = 0.25,
           maxFilesPerCell: Int = 8, filesPerShard: Int = 2,
           seed: Long = 42L, initMode: String = "k-means||",
           sampleMod: Int = 1): DataStreamWriter[Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      batch.write.mode("append").parquet(corpusDir)
      AnnIndex.appendIvfq(batch, indexDir, filesPerShard)
      maintain(spark, indexDir, corpusDir, nlist, maxDrift,
        maxFilesPerCell, filesPerShard, seed, initMode, sampleMod)
      ()
    }

  /** One valve poll — split out so a spec (or an operator cron) can
    * run the same maintenance decision outside a stream. Returns
    * true iff a refit committed. */
  def maintain(spark: SparkSession, indexDir: String, corpusDir: String,
               nlist: Int, maxDrift: Double = 0.25,
               maxFilesPerCell: Int = 8, filesPerShard: Int = 2,
               seed: Long = 42L, initMode: String = "k-means||",
               sampleMod: Int = 1): Boolean =
    if (AnnIndex.needsRefit(spark, indexDir, maxDrift)) {
      // Fold index-side tombstones into the row store BEFORE the
      // refit reads it — refitIvfq drops the tombstone ledger at the
      // cutover, so any deleted row still physically present here
      // would resurrect into serving (this refit or the next one).
      // Stage-and-rename: old → ._old, staged live → corpusDir; the
      // mask stays active until the refit commits, so every crash
      // window serves correctly.
      if (AnnIndex.hasDeletes(spark, indexDir)) {
        val stage = s"$corpusDir._live_tmp"
        val old = s"$corpusDir._old"
        // RECOVER before deleting anything: a crash between the two
        // renames below leaves corpusDir ABSENT with the only
        // complete copies in stage (the folded store — rename 1 only
        // fires after its write finished) and old (the pre-fold
        // store). Blindly clearing "leftovers" here would destroy
        // both and with them the corpus. Prefer stage — it is the
        // post-fold state; fall back to the pre-fold store (the
        // tombstone ledger is still live, so serving stays correct
        // and the fold below simply redoes the work).
        if (!StoredShards.exists(spark, corpusDir)) {
          val survivor =
            if (StoredShards.exists(spark, stage)) stage
            else if (StoredShards.exists(spark, old)) old
            else throw new java.io.IOException(
              s"corpus store $corpusDir missing with no fold leftovers")
          StoredShards.rename(spark, survivor, corpusDir)
        }
        // corpusDir exists now — leftovers really are leftovers
        StoredShards.delete(spark, stage)
        StoredShards.delete(spark, old)
        AnnIndex.liveRows(spark.read.parquet(corpusDir), indexDir)
          .write.mode("overwrite").parquet(stage)
        StoredShards.rename(spark, corpusDir, old)
        StoredShards.rename(spark, stage, corpusDir)
        StoredShards.delete(spark, old)
      }
      AnnIndex.refitIvfq(spark.read.parquet(corpusDir), indexDir, nlist,
        seed, initMode, sampleMod, filesPerShard = filesPerShard)
      true
    } else {
      AnnIndex.compactIvfq(spark, indexDir, filesPerShard, maxFilesPerCell)
      false
    }
}
