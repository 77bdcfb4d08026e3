package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

import graft.operators.Dedup
import graft.operators.Dedup.NearDupVerdict

/** FUZZY live-ingest admission: a stream of new documents classified
  * against the static curated corpus through its MinHash band-key
  * index, with the exact-Jaccard verify run only on LSH candidates.
  *
  * This is [[Dedup.incrementalNearDup]]'s plan over a streaming
  * `docs` — one plan for batch and stream, not a twin. The plan is
  * streaming-legal as it stands: per-row kernel steps, stream-static
  * left joins, and the state-free [[Dedup.foldVerdicts]] group fold
  * in append mode, so state rows stay zero.
  *
  * Deployment caveat as in [[StreamingAdmission]]: admitted docs are
  * folded into the stored index periodically (restart against the
  * enlarged index); within-stream pairs are not compared.
  */
object StreamingNearDupAdmission {

  /** Fuzzy admission verdicts of `docs` (doc_id, text), streaming or
    * batch, against the static corpus `index` (same columns). */
  def admission(docs: DataFrame, index: DataFrame,
                minJaccard: Double = 0.5,
                numBands: Int = 16, rowsPerBand: Int = 2,
                maxBucketSize: Int = 1000): Dataset[NearDupVerdict] =
    Dedup.incrementalNearDup(docs, index, minJaccard, numBands, rowsPerBand,
      maxBucketSize).as(Encoders.product[NearDupVerdict])
}
