package graft.tools

import java.io.{FileWriter, PrintWriter}

import org.apache.spark.sql.functions._

import graft.ml.{SketchLinearRegression, Splits}
import graft.sources.LibSvm

/** CLI experiment harness — the Spark re-expression of the
  * reference's entry point (`/root/reference/.../Test.scala:19-119`):
  * read LibSVM text, infer the dimension, 75/25 split, train
  * (sketch-compressed or plain), evaluate MAE, append a CSV metrics
  * line. Differences by design: the split is deterministic
  * ([[Splits.byKey]] on a line hash — the reference's unseeded
  * `Splitter` made runs unreproducible), and `--sketchOrFlink` maps
  * to the gradient codec (both solvers share one Spark kernel;
  * "Flink" selects the uncompressed baseline path, mirroring
  * `FlinkGradientDescent`).
  *
  * Args (reference CLI surface, `README.md:15-20` + `Test.scala:21-41`):
  *   --inputTrain <path> --parallelism <n> --iterations <n>
  *   --stepSize <d> --compressionType Sketch|None --threshold <d>
  *   --sketchOrFlink Sketch|Flink --maxDim <n> --output <logfile>
  */
object Experiment {

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val input = a("inputTrain")
    val parallelism = a.getOrElse("parallelism", "4").toInt
    val iterations = a.getOrElse("iterations", "10").toInt
    val stepSize = a.getOrElse("stepSize", "0.1").toDouble
    val threshold = a.get("threshold").map(_.toDouble)
    val maxDim = a.getOrElse("maxDim", Int.MaxValue.toString).toInt
    val sketchOrFlink = a.getOrElse("sketchOrFlink", "Sketch")
    val compression =
      if (sketchOrFlink == "Flink") "None" else a.getOrElse("compressionType", "Sketch")
    val logPath = a.getOrElse("output", "GraftExperimentLogs.txt")

    // a caller-owned session (e.g. under test) is joined, not stopped
    graft.Session.run(parallelism) { spark =>
      import spark.implicits._
      val t0 = System.currentTimeMillis()
      val parsed = LibSvm.read(spark, input, maxDim)
      val dim = LibSvm.inferDim(parsed)
      // deterministic 75/25 split on a full-row hash (vs the
      // reference's unseeded Splitter)
      val (trainDf, testDf) = Splits.byKey(parsed.toDF(),
        xxhash64(col("label"), col("indices"), col("values")))
      val train = LibSvm.toLabeledVectors(trainDf.as[LibSvm.Parsed], dim)

      val model = new SketchLinearRegression()
        .setIterations(iterations).setStepsize(stepSize)
        .setCompressionType(compression)
        .pipe(m => threshold.fold(m)(m.setConvergenceThreshold))
        .fit(train)

      // evaluate: (truth, prediction) → Σ|t−p|, MAE (Test.scala:52-62)
      val eval = LibSvm.toLabeledVectors(testDf.as[LibSvm.Parsed], dim)
        .map(lv => (lv.label, model.predict(lv.features)))
        .toDF("truth", "prediction")
        .agg(coalesce(sum(abs(col("truth") - col("prediction"))), lit(0.0)).as("absSum"),
          count(lit(1)).as("n")).head()
      val absoluteError = eval.getDouble(0)
      val nTest = eval.getLong(1)
      // an empty test split (tiny input, every row hashed to train)
      // would otherwise make sum() null → NPE, and 0/0 → NaN
      val avgError = if (nTest == 0) 0.0 else absoluteError / nTest
      val totalTime = System.currentTimeMillis() - t0

      // CSV schema parity with Test.scala:71-77:
      // method,par,iter,step,compression,input,dim,totalMs,msPerEpoch,absErr,avgErr
      val csv = Seq(sketchOrFlink, parallelism, iterations, stepSize, compression,
        input, dim, totalTime, totalTime / math.max(iterations, 1),
        f"$absoluteError%.6f", f"$avgError%.6f").mkString(",")
      val out = new PrintWriter(new FileWriter(logPath, true))
      try {
        out.println(s"CSV_Line: $csv")
      } finally out.close()
      println(s"CSV_Line: $csv")
    }
  }

  private implicit class Pipe[A](private val a: A) extends AnyVal {
    def pipe[B](f: A => B): B = f(a)
  }
}
