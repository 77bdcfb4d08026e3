package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ml.{SketchLinearRegression, Splits}
import graft.operators.Dedup
import graft.sketch.SketchCodec
import graft.sources.LibSvm
import graft.streaming.StreamingNearDupAdmission

/** What every workload shares: the session, the run's seed, the tracer,
  * the engine listener and the correctness gate. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path,
                     tracer: Tracer, engine: EngineListener, checks: Checks) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def drain(): Unit = engine.drain(spark.sparkContext)
}

/** Pass/fail tally of the correctness gate; every failure is printed. */
final class Checks {
  var attempted = 0
  var failed = 0
  def apply(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] CHECK FAILED: $name $detail") }
  }
}

/** One benchmark workload. [[generate]] writes the inputs for the run's
  * seed, [[open]] readies them, and [[unit]] runs one unit of work — the
  * thing `pass_ms` times — and returns that unit's values:
  *  - always `wall_s`, the unit's wall time;
  *  - untraced: `throughput_per_s`, and `moved_mb` and `quality` where
  *    the unit defines them;
  *  - traced: this workload's per-layer values, by metric name. */
trait Workload {
  def warmupUnits: Int
  def minUnits: Int
  def generate(dir: Path): Unit
  def open(dir: Path): Unit
  def unit(traced: Boolean): Map[String, Double]
  /** Per-layer values measured once per traced run. */
  def probe(): Map[String, Double] = Map.empty
  /** Checks over the whole run; returns end-to-end values that only the
    * whole run defines. */
  def close(): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "sgd_sketch"   => new SgdWorkload(ctx)
    case "admit_stream" => new AdmitStream(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Median of a non-empty sample. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def seconds(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  /** (doc_id, text) schema of the generated tab-separated doc files. */
  def readDocs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("doc_id LONG, text STRING").option("sep", "\t").csv(path)

  /** F1 of the flagged doc ids against the planted copies. */
  def f1(flagged: Set[Long], planted: Set[Long]): Double = {
    val tp = (flagged & planted).size.toDouble
    val recall = if (planted.isEmpty) 1.0 else tp / planted.size
    val precision = if (flagged.isEmpty) 1.0 else tp / flagged.size
    if (recall + precision == 0) 0.0 else 2 * recall * precision / (recall + precision)
  }
}

import Workload.{f1, readDocs, seconds}

/** sgd_sketch: the reference experiment on the Sketch codec —
  * LibSvm.read → inferDim → Splits.byKey 75/25 → toLabeledVectors →
  * SketchLinearRegression (10 iterations, step 0.5) → test MAE. */
final class SgdWorkload(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  val Iterations = 10
  val StepSize = 0.5
  val warmupUnits = 2
  val minUnits = 5

  private var truth: Gen.SgdTruth = _
  private var dir: String = _
  private var trainRows = 0L
  private var meanLabelMae = 0.0
  private var firstFit: Array[Double] = _
  private var wireMb = 0.0

  def generate(d: Path): Unit = truth = Gen.libsvm(d, seed)

  private def split(parsed: Dataset[LibSvm.Parsed]) =
    Splits.byKey(parsed.toDF(), xxhash64(col("label"), col("indices"), col("values")))

  /** Train size and the mean-label predictor's test MAE, on the same split. */
  def open(d: Path): Unit = {
    dir = d.toString
    val (tr, te) = split(LibSvm.read(spark, dir))
    val stats = tr.agg(avg(col("label")), count(lit(1))).head()
    trainRows = stats.getLong(1)
    meanLabelMae = te.agg(avg(abs(col("label") - lit(stats.getDouble(0))))).head().getDouble(0)
  }

  private def fit(train: Dataset[LibSvm.LabeledVec], compression: String, name: String) =
    span(name) {
      new SketchLinearRegression().setIterations(Iterations).setStepsize(StepSize)
        .setCompressionType(compression).fit(train)
    }

  /** The fit runs one job for its first() and then one aggregation job
    * per iteration: the last `n` jobs of the fit window. */
  private def iterationJobs(from: Long, to: Long, n: Int) = {
    drain()
    engine.jobsIn(from, to).takeRight(n)
  }

  /** Task-result MB per iteration: the gradient partials on the wire. */
  private def wirePerIteration(jobs: Seq[engine.Job]) =
    engine.tasksOf(jobs).map(_.resultBytes).sum / 1e6 / jobs.size

  def unit(traced: Boolean): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val p0 = System.nanoTime()
    val parsed = LibSvm.read(spark, dir)
    if (traced) {
      val rows = span("sources.read")(parsed.count())
      out("sources.rows") = rows.toDouble
      out("sources.input_mb") = truth.bytes / 1e6
      out("sources.parse_mb_per_s") = truth.bytes / 1e6 / seconds(p0)
    }
    val d0 = System.nanoTime()
    val dim = span("sources.infer_dim")(LibSvm.inferDim(parsed))
    val inferS = seconds(d0)
    val (trainDf, testDf) = split(parsed)
    val train = LibSvm.toLabeledVectors(trainDf.as[LibSvm.Parsed], dim)

    val fitFrom = System.currentTimeMillis()
    val f0 = System.nanoTime()
    val model = fit(train, "Sketch", "ml.fit")
    val fitS = seconds(f0)
    val fitTo = System.currentTimeMillis()

    val e0 = System.nanoTime()
    val mae = span("ml.eval") {
      LibSvm.toLabeledVectors(testDf.as[LibSvm.Parsed], dim)
        .map(lv => math.abs(lv.label - model.predict(lv.features)))
        .agg(avg(col("value"))).head().getDouble(0)
    }
    val evalS = seconds(e0)
    out("wall_s") = seconds(p0)

    val losses = model.lossHistory
    val iterJobs = iterationJobs(fitFrom, fitTo, losses.length)
    wireMb = wirePerIteration(iterJobs)

    checks("sgd.infer_dim", dim == truth.dim, s"$dim != ${truth.dim}")
    checks("sgd.loss_finite", losses.nonEmpty && losses.forall(java.lang.Double.isFinite),
      losses.mkString(","))
    checks("sgd.loss_non_increasing", losses.sliding(2).forall(p => p.length < 2 || p(1) <= p(0)),
      losses.mkString(","))
    checks("sgd.beats_mean_predictor", mae < meanLabelMae, s"mae $mae >= $meanLabelMae")
    checks("sgd.iteration_jobs", iterJobs.size == Iterations, s"${iterJobs.size} jobs")
    // The driver merges the task partials in arrival order, so repeated
    // fits agree to rounding, not bit for bit (GradientAccumulator
    // documents this): the weights must repeat within 1e-9 of the
    // largest first-fit weight.
    val weights = model.intercept +: model.weights
    if (firstFit == null) firstFit = weights
    else {
      val scale = math.max(1.0, firstFit.map(math.abs).max)
      val diff = firstFit.indices.map(i => math.abs(firstFit(i) - weights(i))).max
      checks("sgd.weights_repeat", diff <= 1e-9 * scale, s"max |dw| $diff")
    }

    if (traced) {
      out("sources.infer_dim_s") = inferS
      out("ml.fit_s") = fitS
      out("ml.eval_s") = evalS
      out("ml.loss_final") = losses.last
      // iteration i runs from its job's start to the next job's start
      // (the last one to the fit's return); its driver share is that
      // minus the job
      val starts = iterJobs.map(_.start.toDouble) :+ fitTo.toDouble
      val iterS = starts.sliding(2).map(p => (p(1) - p(0)) / 1e3).toSeq
      val jobS = iterJobs.map(j => (j.end - j.start) / 1e3)
      out("ml.iter_s_p50") = Workload.median(iterS)
      out("ml.iter_job_s_p50") = Workload.median(jobS)
      out("ml.iter_driver_s_p50") = Workload.median(iterS.zip(jobS).map { case (i, j) => i - j })
    } else {
      out("throughput_per_s") = trainRows * Iterations / fitS
      out("moved_mb") = wireMb
      out("quality") = meanLabelMae / mae
    }
    out.toMap
  }

  /** The codec probe, and the same fit with the codec bypassed
    * (IdentityCodec, the reference's uncompressed baseline) for the
    * wire bytes the Sketch codec saves. */
  override def probe(): Map[String, Double] = {
    val train = LibSvm.toLabeledVectors(split(LibSvm.read(spark, dir))._1.as[LibSvm.Parsed], truth.dim)
    val from = System.currentTimeMillis()
    val plain = fit(train, "None", "ml.fit_plain")
    val plainMb = wirePerIteration(
      iterationJobs(from, System.currentTimeMillis(), plain.lossHistory.length))
    CodecProbe.run(ctx, new SketchCodec(), truth.grad0) ++ Map(
      "sketch.fit_wire_mb" -> wireMb,
      "sketch.fit_wire_mb_plain" -> plainMb,
      "sketch.fit_wire_ratio" -> wireMb / plainMb)
  }
}

/** Batch near-dup curation of a generated corpus, for the operators.*
  * metrics of admit_stream's traced run — Dedup.exact, then minhash →
  * minhashCandidates → minhashEstimate (≥ 0.5) on the exact survivors,
  * and resolveDuplicates over the exact and near-dup pairs, ending in the
  * collected verdicts. Each lazily built operator output is persisted and
  * counted, so its span holds only that operator's own work. */
final class DedupPass(ctx: Ctx) {
  import ctx._

  val Docs = 800
  val MinJaccard = 0.5

  private var docs: Vector[Gen.Doc] = _
  private var path: String = _

  def generate(d: Path): Unit = {
    docs = Gen.corpus(seed, Docs)
    Gen.writeDocs(d.resolve("docs.tsv"), docs)
  }
  def open(d: Path): Unit = path = d.resolve("docs.tsv").toString

  def run(): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def op(name: String)(df: => DataFrame): (DataFrame, Long) = {
      val s0 = System.nanoTime()
      val res = span(name) {
        val p = df.persist()
        cached += p
        (p, p.count())
      }
      out(name + "_s") = seconds(s0)
      res
    }

    val all = readDocs(spark, path)
    val (exact, _) = op("operators.exact")(Dedup.exact(all))
    val survivors = all.join(exact.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val (mh, _) = op("operators.minhash")(Dedup.minhash(survivors))
    val (cand, nCand) = op("operators.candidates")(Dedup.minhashCandidates(mh))
    val (near, nNear) = op("operators.estimate")(
      Dedup.minhashEstimate(mh, cand).filter(col("est_jaccard") >= MinJaccard).select("a", "b"))
    val exactPairs = all.select(col("doc_id"), sha2(col("text"), 256).as("fp"))
      .join(exact, "fp").filter(col("doc_id") =!= col("keep_id"))
      .select(col("keep_id").as("a"), col("doc_id").as("b"))
    val pairs = exactPairs.unionByName(near)
    val c0 = System.nanoTime()
    val cc = span("operators.cc") {
      val r = Dedup.connectedComponentsStats(pairs)
      r.labels.count()
      r
    }
    out("operators.cc_s") = seconds(c0)
    out("operators.cc_rounds") = cc.rounds
    out("operators.candidate_pairs") = nCand.toDouble
    out("operators.verified_pairs") = nNear.toDouble
    out("operators.pair_yield") = if (nCand == 0) 0.0 else nNear.toDouble / nCand
    val r0 = System.nanoTime()
    val verdicts = span("operators.resolve") {
      Dedup.resolveDuplicates(all, pairs).select("doc_id", "component", "keep").collect()
    }.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    out("operators.resolve_s") = seconds(r0)
    cached.foreach(_.unpersist(blocking = false))

    checks("dedup.one_verdict_per_doc",
      verdicts.length == docs.size && verdicts.map(_._1).distinct.length == docs.size,
      s"${verdicts.length} verdicts for ${docs.size} docs")
    checks("dedup.one_keeper_per_component",
      verdicts.groupBy(_._2).forall(_._2.count(_._3) == 1))
    val kept = verdicts.map(v => v._1 -> v._3).toMap
    checks("dedup.exact_copies_dropped", docs.filter(_.exact).forall(d => !kept(d.id)))
    out.toMap
  }
}

/** admit_stream: streaming near-dup admission. One client feeds
  * micro-batches of new docs into a MemoryStream in a closed loop (the
  * next batch is added only after processAllAvailable returned for the
  * previous one) through StreamingNearDupAdmission.admission against a
  * stored corpus, into a memory sink. One unit is one micro-batch, timed
  * from addData to the return of processAllAvailable. The traced run
  * also runs a batch curation pass ([[DedupPass]]) for the operators.*
  * metrics. */
final class AdmitStream(ctx: Ctx) extends Workload {
  import ctx._

  val CorpusDocs = 500
  val BatchDocs = 50
  // the batch latency keeps falling for about twelve batches while the
  // JIT compiles the per-batch path; warm-up runs past that
  val warmupUnits = 16
  val minUnits = 12
  /** Batches every run feeds; a run that feeds more generates the rest
    * the same way. */
  val HashedBatches = warmupUnits + minUnits

  private var vocab: Gen.Vocab = _
  private var stored: Vector[Gen.Doc] = _
  private var stream: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private val sink = s"admit_${System.nanoTime()}"
  private var batches = 0
  private var lastBatchId = -1L
  private var stateRows = 0L
  private val fed = mutable.ArrayBuffer.empty[Gen.Doc]
  private val dedup = new DedupPass(ctx)

  private def batch(b: Int) =
    Gen.admitBatch(seed, vocab, stored, b, BatchDocs, 1000000L + b.toLong * BatchDocs)

  /** The stored corpus, the first `HashedBatches` batches and the
    * curation corpus are written out, so the input hash covers what the
    * run reads. */
  def generate(d: Path): Unit = {
    vocab = new Gen.Vocab(seed)
    stored = Gen.storedCorpus(seed, vocab, CorpusDocs)
    Gen.writeDocs(d.resolve("corpus.tsv"), stored)
    for (b <- 0 until HashedBatches) Gen.writeDocs(d.resolve(f"batches/b$b%03d.tsv"), batch(b))
    dedup.generate(d.resolve("curation"))
  }

  def open(d: Path): Unit = {
    dedup.open(d.resolve("curation"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val corpus = readDocs(spark, d.resolve("corpus.tsv").toString)
    stream = MemoryStream[(Long, String)]
    query = StreamingNearDupAdmission.admission(stream.toDS().toDF("doc_id", "text"), corpus)
      .writeStream.outputMode("append").format("memory").queryName(sink)
      .option("checkpointLocation", work.resolve(s"checkpoint-$sink").toString)
      .start()
  }

  def unit(traced: Boolean): Map[String, Double] = {
    val docs = batch(batches)
    batches += 1
    val rows = docs.map(d => (d.id, d.text))
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    span("streaming.batch") {
      stream.addData(rows)
      query.processAllAvailable()
    }
    val wall = seconds(t0)
    val to = System.currentTimeMillis()
    fed ++= docs
    val progress = query.recentProgress.filter(_.batchId > lastBatchId)
    progress.lastOption.foreach(p => lastBatchId = p.batchId)
    val state = progress.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)
    stateRows = math.max(stateRows, state)
    if (traced) {
      drain()
      val w = engine.window(from, to, 1)
      def dur(key: String) =
        progress.map(p => Option(p.durationMs.get(key)).fold(0.0)(_.doubleValue)).sum
      Map("wall_s" -> wall,
        "streaming.add_batch_ms_p50" -> dur("addBatch"),
        "streaming.planning_ms_p50" -> dur("queryPlanning"),
        "streaming.commit_ms_p50" -> dur("commitOffsets"),
        "streaming.shuffle_mb_per_batch" -> w.shuffleWriteMb,
        "streaming.jobs_per_batch" -> w.jobs.toDouble,
        "streaming.state_rows" -> state.toDouble)
    } else Map("wall_s" -> wall, "throughput_per_s" -> BatchDocs / wall)
  }

  /** Two curation passes: the first warms the batch operators, the
    * second gives the operators.* values and the layer's self time. */
  override def probe(): Map[String, Double] = {
    dedup.run()
    val before = tracer.selfSeconds.getOrElse("operators", 0.0)
    val values = dedup.run()
    values + ("operators.self_s" -> (tracer.selfSeconds.getOrElse("operators", 0.0) - before))
  }

  /** Verdict checks over everything the sink received, and the run's F1. */
  override def close(): Map[String, Double] = {
    query.stop()
    val verdicts = spark.table(sink).select("doc_id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDoc = verdicts.groupBy(_._1)
    checks("admit.one_verdict_per_doc",
      byDoc.size == fed.size && byDoc.forall(_._2.length == 1) && fed.forall(d => byDoc.contains(d.id)),
      s"${verdicts.length} verdicts for ${fed.size} docs")
    checks("admit.state_rows_zero", stateRows == 0L, s"$stateRows")
    val flagged = verdicts.collect { case (id, Dedup.NearDup) => id }.toSet
    checks("admit.exact_copies_flagged", fed.filter(_.exact).forall(d => flagged(d.id)))
    Map("quality" -> f1(flagged, fed.filter(_.copyOf >= 0).map(_.id).toSet))
  }
}
