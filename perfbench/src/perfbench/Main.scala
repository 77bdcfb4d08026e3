package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Workload.{median, seconds}

/** Runs one workload for one seed and writes the result object.
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics; traced
  * (`--trace 1`) it alternates untraced and traced units and reports the
  * per-layer metrics, each layer's self time and the tracing overhead.
  * The engine listener is attached in both modes: it is how `moved_mb`
  * is measured. Every metric of the other mode's list is left out, and
  * every metric of this mode's list is present (0 for a layer the
  * workload does not run). */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_ms" -> "ms",
    "throughput_per_s" -> "1/s", "moved_mb" -> "MB", "quality" -> "ratio",
    "peak_rss_mb" -> "MB")

  /** Layers whose self time is reported per unit; the probes' spans are
    * not part of a unit and are left out of it (a probe reports the self
    * time of a layer it alone runs). */
  val Layers: Seq[String] = Seq("bench", "sources", "ml", "operators", "streaming")

  val PerLayer: Seq[(String, String)] =
    EngineWindow(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).metrics.map(m => m._1 -> m._3) ++ Seq(
      "sources.infer_dim_s" -> "s", "sources.rows" -> "count", "sources.input_mb" -> "MB",
      "sources.parse_mb_per_s" -> "MB/s",
      "ml.fit_s" -> "s", "ml.iter_s_p50" -> "s", "ml.iter_job_s_p50" -> "s",
      "ml.iter_driver_s_p50" -> "s", "ml.eval_s" -> "s", "ml.loss_final" -> "loss",
      "sketch.encode_ms" -> "ms", "sketch.decode_ms" -> "ms", "sketch.encode_sparse_ms" -> "ms",
      "sketch.decode_sparse_ms" -> "ms", "sketch.encoded_kb" -> "KB", "sketch.identity_kb" -> "KB",
      "sketch.ratio_vs_identity" -> "ratio", "sketch.max_abs_err" -> "abs",
      "sketch.rel_l2_err" -> "ratio", "sketch.fit_wire_mb" -> "MB",
      "sketch.fit_wire_mb_plain" -> "MB", "sketch.fit_wire_ratio" -> "ratio",
      "operators.exact_s" -> "s", "operators.minhash_s" -> "s", "operators.candidates_s" -> "s",
      "operators.estimate_s" -> "s", "operators.candidate_pairs" -> "count",
      "operators.verified_pairs" -> "count", "operators.pair_yield" -> "ratio",
      "operators.cc_s" -> "s", "operators.cc_rounds" -> "count", "operators.resolve_s" -> "s",
      "streaming.add_batch_ms_p50" -> "ms", "streaming.planning_ms_p50" -> "ms",
      "streaming.commit_ms_p50" -> "ms", "streaming.shuffle_mb_per_batch" -> "MB",
      "streaming.jobs_per_batch" -> "count", "streaming.state_rows" -> "count") ++
      Layers.map(l => s"$l.self_s" -> "s") ++
      Seq("trace.overhead_pct" -> "%", "trace.spans" -> "count")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val budget = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))

    // setup: session start, input generation, opening the inputs, warm-up
    val s0 = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val sessionS = seconds(s0)

    val tracer = new Tracer
    val checks = new Checks
    val wl = Workload(name, Ctx(spark, seed, work, tracer, engine, checks))

    // inputs are generated three times; the median is the set-up share,
    // and the three must hash the same
    val gens = (0 until 3).map { i =>
      val dir = work.resolve(s"inputs-$i")
      val g0 = System.nanoTime()
      wl.generate(dir)
      (dir, seconds(g0), Gen.sha256(dir))
    }
    checks("inputs.byte_identical", gens.map(_._3).distinct.size == 1, gens.map(_._3).mkString(" "))
    val o0 = System.nanoTime()
    wl.open(gens.head._1)
    (1 to wl.warmupUnits).foreach(_ => wl.unit(traced = false))
    val setupS = sessionS + median(gens.map(_._2)) + seconds(o0)
    println(f"[perfbench] setup: session $sessionS%.2f s, generation ${gens.map(_._2).map(g => f"$g%.2f").mkString("/")} s, " +
      f"open and warm-up ${seconds(o0)}%.2f s")

    // measurement: units until the budget is spent and the minimum count
    // is reached; a traced run alternates untraced and traced units
    val untraced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedUnits = mutable.ArrayBuffer.empty[Map[String, Double]]
    var unitFailures = 0
    val m0 = System.nanoTime()
    var i = 0
    while ((i < wl.minUnits || seconds(m0) < budget) && unitFailures < 3) {
      val t = traced && i % 2 == 1
      val from = System.currentTimeMillis()
      tracer.on = t
      try {
        val r = tracer.span("bench.unit")(wl.unit(t))
        val to = System.currentTimeMillis()
        engine.drain(spark.sparkContext)
        val w = engine.window(from, to, cores)
        if (t) tracedUnits += r ++ w.metrics.map(m => m._1 -> m._2)
        else untraced += Map("moved_mb" -> w.movedMb) ++ r
      } catch {
        case e: Exception =>
          unitFailures += 1
          System.err.println(s"[perfbench] unit $i failed: $e")
          e.printStackTrace()
      }
      tracer.on = false
      i += 1
    }
    val self = tracer.selfSeconds
    tracer.on = traced
    val probe = if (traced) wl.probe() else Map.empty[String, Double]
    tracer.on = false
    val closing = wl.close()
    spark.stop()

    def med(rs: Seq[Map[String, Double]], k: String): Double = median(rs.flatMap(_.get(k)))
    val walls = untraced.map(_("wall_s")).toSeq
    val metrics: Map[String, Double] =
      if (!traced) {
        Map(
          "setup_s" -> setupS,
          "pass_ms" -> median(walls) * 1e3,
          "throughput_per_s" -> med(untraced.toSeq, "throughput_per_s"),
          "moved_mb" -> med(untraced.toSeq, "moved_mb"),
          "quality" -> closing.getOrElse("quality", med(untraced.toSeq, "quality")),
          "peak_rss_mb" -> peakRssMb())
      } else {
        val n = tracedUnits.size.toDouble
        val layerValues = PerLayer.map(_._1).filter(k => tracedUnits.exists(_.contains(k)))
          .map(k => k -> med(tracedUnits.toSeq, k)).toMap
        val selfPerUnit = self.map { case (l, s) => s"$l.self_s" -> s / n }
        val overhead = (med(tracedUnits.toSeq, "wall_s") / median(walls) - 1.0) * 100
        tracer.write(Paths.get(a("spans")))
        layerValues ++ selfPerUnit ++ probe ++
          Map("trace.overhead_pct" -> overhead, "trace.spans" -> tracer.spans.size.toDouble)
      }

    val listed = if (traced) PerLayer else EndToEnd
    val values = listed.map { case (k, u) => (k, metrics.getOrElse(k, 0.0), u) }
    checks("metrics.finite", values.forall(v => java.lang.Double.isFinite(v._2)),
      values.filterNot(v => java.lang.Double.isFinite(v._2)).map(_._1).mkString(","))
    val attempted = i + checks.attempted
    val failed = unitFailures + checks.failed

    val samples = s"untraced units=${untraced.size} traced units=${tracedUnits.size}"
    println(s"[perfbench] workload=$name seed=$seed inputs_sha256=${gens.head._3} $samples")
    println(s"[perfbench] untraced unit walls (s): ${walls.map(w => f"$w%.3f").mkString(" ")}")
    values.foreach { case (k, v, u) => println(f"[perfbench] $k%-32s $v%16.6f $u") }
    println(f"[perfbench] ${"error_rate"}%-32s ${failed.toDouble / attempted}%16.6f ratio ($failed/$attempted)")

    val json = values.map { case (k, v, u) =>
      s""""$k": {"value": ${if (java.lang.Double.isFinite(v)) v.toString else "null"}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    Files.write(out, (s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $json}""").getBytes(StandardCharsets.UTF_8))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1e3
  }
}
