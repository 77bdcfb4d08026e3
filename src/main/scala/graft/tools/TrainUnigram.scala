package graft.tools

import graft.Tables
import graft.operators.Unigram

/** Realistic-vocab unigram-LM training pin (the [[TrainBpe]] role for
  * the SentencePiece-style trainer): train a `vocabSize` unigram
  * model on the documents table and print wall, phase count, final
  * vocab, and loss trail endpoints. `hex` mode replaces every word
  * by its salted md5 digest (the TrainBpe rule) so the candidate
  * space is corpus-sized instead of the fixture's few hundred words —
  * the trainer's scaling is what's measured.
  *
  * `SPARK_GRAFT_CPUS=32 runMain graft.tools.TrainUnigram <sfDir> [vocabSize] [seedSize] [hex]`
  */
object TrainUnigram {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TrainUnigram <sfDir> [vocabSize] [seedSize] [hex]")
    val sfDir = args(0)
    val vocabSize = if (args.length >= 2) args(1).toInt else 512
    val seedSize = if (args.length >= 3) args(2).toInt else 4 * vocabSize
    val hexMode = args.length >= 4 && args(3) == "hex"
    graft.Session.run() { spark =>
      import org.apache.spark.sql.functions._
      val raw = Tables.documents(spark, sfDir)
      val docs = if (!hexMode) raw
        else raw.withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "),
            w => md5(concat(w, pmod(col("doc_id"), lit(64)).cast("string"))))))
      val t0 = System.nanoTime()
      val model = Unigram.learnUnigram(docs, vocabSize, seedSize)
      val wall = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val encoded = Unigram.unigramEncode(docs, model)
        .agg(sum(col("n_pieces")), min(col("roundtrip_ok"))).head()
      val encWall = (System.nanoTime() - t1) / 1e9
      println(f"[unigram] sf=$sfDir vocab=${model.pieces.length} " +
        f"(target $vocabSize, seed $seedSize, hex=$hexMode) " +
        f"em_iters=${model.lossTrail.length} train_wall=$wall%.1f s " +
        f"loss ${model.lossTrail.head}%.3e -> ${model.lossTrail.last}%.3e " +
        f"encode_wall=$encWall%.1f s pieces=${encoded.getLong(0)} " +
        f"roundtrip=${encoded.getBoolean(1)}")
    }
  }
}
