package graft.tools

import graft.Tables
import graft.operators.Tokenizer

/** Realistic-merge-count BPE training pin: train `rounds` merges on
  * the documents table (one corpus scan into the vocab, then the
  * batched induction loop) and print wall, merge count, and job-round
  * efficiency. This is the measurement behind the BASELINE.md
  * 1k-merge pin — the pre-round-14 sequential loop was 1 Spark job
  * round per merge over an ever-deepening lineage and could not reach
  * production merge counts.
  *
  * The fixture documents' word inventory is deliberately small (a
  * few hundred distinct words — it exhausts after ~90 merges), so
  * the realistic-merge-count pin uses `hex` mode: every word is
  * replaced by its md5 hex digest (32 chars over a 16-symbol
  * alphabet), giving a corpus-sized vocabulary with thousands of
  * learnable merges — the trainer's scaling is what's measured, and
  * the expansion is one deterministic projection on the scan.
  *
  * `SPARK_GRAFT_CPUS=32 runMain graft.tools.TrainBpe <sfDir> [rounds] [maxBatch] [hex]`
  */
object TrainBpe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TrainBpe <sfDir> [rounds] [maxBatch] [hex]")
    val sfDir = args(0)
    val rounds = if (args.length >= 2) args(1).toInt else 1000
    val maxBatch = if (args.length >= 3) args(2).toInt else 32
    val hexMode = args.length >= 4 && args(3) == "hex"
    graft.Session.run() { spark =>
      import org.apache.spark.sql.functions._
      val raw = Tables.documents(spark, sfDir)
      val docs = if (!hexMode) raw
        else raw.withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "),
            w => md5(concat(w, pmod(col("doc_id"), lit(64)).cast("string"))))))
      val t0 = System.nanoTime()
      val base = Tokenizer.wordFreq(docs)
      val merges = graft.Materialize.withCached(base)(
        Tokenizer.learnMerges(base, rounds, maxBatch))
      val wall = (System.nanoTime() - t0) / 1e9
      val last = merges.takeRight(3).map(m => s"${m._2}+${m._3}@${m._4}")
      println(f"""{"tool":"train_bpe","sf":"$sfDir","rounds":$rounds,""" +
        f""""max_batch":$maxBatch,"hex":$hexMode,""" +
        f""""merges_learned":${merges.length},""" +
        f""""wall_s":$wall%.1f,"tail_merges":"${last.mkString(" ")}"}""")
    }
  }
}
