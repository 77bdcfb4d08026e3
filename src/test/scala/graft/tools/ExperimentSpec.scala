package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ml.Splits
import graft.sources.LibSvm

/** End-to-end CLI harness run on a planted LibSVM file: both solver
  * paths produce finite errors and append reference-schema CSV lines
  * (Test.scala:71-77 parity). */
class ExperimentSpec extends SparkTestBase {

  test("experiment main runs sketch and baseline paths, logs CSV") {
    spark // ensure shared session exists before main() getOrCreate()
    val dir = java.nio.file.Paths.get(suiteDir("graft-exp"))
    val libsvm = dir.resolve("train.libsvm")
    val rnd = new scala.util.Random(42)
    val w = Array(1.5, -2.0, 0.5)
    val lines = (1 to 800).map { _ =>
      val x = Array.fill(3)(rnd.nextGaussian())
      val y = x.zip(w).map { case (a, b) => a * b }.sum + 0.3 + rnd.nextGaussian() * 0.01
      f"$y%.6f 1:${x(0)}%.6f 2:${x(1)}%.6f 3:${x(2)}%.6f"
    }
    Files.write(libsvm, lines.mkString("\n").getBytes)
    val log = dir.resolve("log.txt").toString

    for (method <- Seq("Sketch", "Flink")) {
      Experiment.main(Array(
        "--inputTrain", libsvm.toString, "--parallelism", "4",
        "--iterations", "30", "--stepSize", "0.3",
        "--sketchOrFlink", method, "--output", log))
    }
    val csv = scala.io.Source.fromFile(log).getLines().toSeq
    assert(csv.length == 2)
    csv.foreach { line =>
      assert(line.startsWith("CSV_Line: "))
      val cols = line.stripPrefix("CSV_Line: ").split(",")
      assert(cols.length == 11, s"bad csv: $line")
      val avgErr = cols(10).toDouble
      assert(avgErr.isFinite && avgErr < 1.0, s"avgError $avgErr in $line")
    }
  }

  test("empty test split logs zero error instead of NPE") {
    spark
    val dir = java.nio.file.Paths.get(suiteDir("graft-exp-empty"))
    // find candidate lines whose split-hash lands in the TRAIN bucket,
    // so the written input yields an empty 25% test split
    val candidates = (1 to 40).map(i => s"$i.0 1:${i * 0.5}")
    val all = dir.resolve("all.libsvm")
    Files.write(all, candidates.mkString("\n").getBytes)
    val parsed = LibSvm.read(spark, all.toString, Int.MaxValue)
    val (_, te) = Splits.byKey(parsed.toDF(),
      xxhash64(col("label"), col("indices"), col("values")))
    val testLabels = te.select("label").collect().map(_.getDouble(0)).toSet
    val trainOnly = candidates.zipWithIndex.collect {
      case (l, i) if !testLabels((i + 1).toDouble) => l
    }
    assert(trainOnly.nonEmpty, "need at least one train-bucket line")
    val trainFile = dir.resolve("train.libsvm")
    Files.write(trainFile, trainOnly.mkString("\n").getBytes)
    val log = dir.resolve("log.txt").toString
    Experiment.main(Array(
      "--inputTrain", trainFile.toString, "--parallelism", "2",
      "--iterations", "3", "--output", log))
    val cols = scala.io.Source.fromFile(log).getLines().next()
      .stripPrefix("CSV_Line: ").split(",")
    assert(cols(9).toDouble == 0.0 && cols(10).toDouble == 0.0,
      s"empty split should log 0 absErr/avgErr: ${cols.toSeq}")
  }
}
