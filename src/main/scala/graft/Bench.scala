package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Single-thread CPU canary (xorshift64* spin): this VM has
    * documented host-level CPU-starvation windows where any query can
    * look 10-100× slower. Healthy is ~1,500-1,900 mops (BASELINE.md);
    * starved windows measure orders of magnitude lower. A canary runs
    * BETWEEN every pair of query timings, so a starvation window that
    * opens mid-run is detected at the query it landed on — endpoint
    * canaries provably miss mid-run windows (BENCH_r02-r04). */
  private[graft] def canaryMops(spinNanos: Long = 200000000L): Double = {
    var x = 0x9e3779b97f4a7c15L
    var ops = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < spinNanos) {
      var i = 0
      while (i < 1000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      ops += 3000000 // 3 ALU ops per iteration
    }
    if (x == 42) System.err.println("") // defeat dead-code elimination
    math.round(ops / ((System.nanoTime() - t0) / 1e3) * 10.0) / 10.0
  }

  /** Parallel CPU canary: aggregate mops over `threads` concurrent
    * spinners. The single-thread canary has a blind spot — the host
    * also opens windows that cut the number of EFFECTIVE cores while
    * each remaining core runs at full speed (observed r5: single
    * canary 1,767 mops "healthy" while a 32-thread run crawled at
    * ~2 cores' throughput and every query read 2-4× slow). Aggregate
    * throughput catches both modes: slow cores divide it, missing
    * cores divide it. Healthy: ~threads × single (~12k mops at 8
    * threads); reduced-core windows: ~1-3k. */
  private[graft] def parallelCanaryMops(threads: Int = 8,
                                        spinNanos: Long = 150000000L): Double = {
    val ops = new java.util.concurrent.atomic.AtomicLong(0L)
    val deadline = System.nanoTime() + spinNanos
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + i
        var local = 0L
        while (System.nanoTime() < deadline) {
          var j = 0
          while (j < 1000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
          local += 3000000
        }
        if (x == 42) System.err.println("")
        ops.addAndGet(local)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    math.round(ops.get() / ((System.nanoTime() - t0) / 1e3) * 10.0) / 10.0
  }

  /** Warmup outside the timers: JVM, codegen, parquet-footer and OS
    * page-cache costs would otherwise all land on whichever query runs
    * first. hash(struct(*)) references every column so the scan reads
    * real data pages (a bare count() is answered from footer metadata);
    * events needs the nanos conf that Tables.events would set. */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .selectExpr("max(hash(struct(*)))").collect()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $t failed: ${e.getMessage}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    // Below this the surrounding window is treated as starved and the
    // measurement is retried (healthy floor ~1,500 mops with generous
    // margin for scheduler jitter; starved windows are ~10-100× lower).
    val canaryFloor = sys.env.getOrElse("SPARK_GRAFT_CANARY_FLOOR", "600").toDouble
    // Parallel canary runs at the SAME width as the Spark session:
    // a local[32] timing is only comparable to the pin if ~32 cores
    // were genuinely schedulable around it. Floor = width × 750
    // aggregate mops — half the healthy ~1,500 per-thread rate
    // (BASELINE.md; r5 observed a window where the single canary
    // read 1,767 "healthy" while 32-thread throughput was ~2 cores'
    // worth and every query measured 2-4× slow).
    val parWidth = math.max(2, cpus)
    val parFloor = sys.env.getOrElse("SPARK_GRAFT_PAR_FLOOR",
      (parWidth * 750).toString).toDouble
    Session.run(cpus) { spark =>
      warmup(spark, sfDir)
      // Warm both canary paths before the first certified reading: the
      // first parallel-canary invocation is JIT-cold (r5 observed
      // par_mops_pre 852 vs 55k warmed), which certified attempt 1 of
      // the alphabetically-first query as unhealthy every run.
      canaryMops(100000000L)
      parallelCanaryMops(parWidth, 100000000L)
      val mopsPre = canaryMops(500000000L)
      val parPre = parallelCanaryMops(parWidth)
      // Self-healing measurement protocol (BASELINE.md, mechanized):
      // each query is timed up to `maxAttempts` times; an attempt is
      // "healthy" when the canaries on BOTH sides of it cleared BOTH
      // floors — single-thread mops (slow-core starvation) AND
      // session-width aggregate mops (reduced-core starvation, which
      // the single canary provably misses) — the canary pair after attempt N
      // doubles as the pair before attempt N+1 / the next query. Stop
      // once 2 healthy attempts exist; report the per-query MIN over
      // healthy attempts (all attempts if none were healthy — min still
      // favors unstarved runs). Queries that never got 2 healthy
      // windows are listed in "starved" so a reader knows which numbers
      // to distrust.
      val maxAttempts = 4
      // Cross-RUN min-merge: one full pass's per-query min-of-healthy
      // still inherits whatever noise window the whole pass sat in
      // (BENCH_r06 measured 34.5 s while the same-day clean pin was
      // 28.2 s — pure window variance). N full passes over the sorted
      // surface land each query in N well-separated windows; the
      // per-query MIN across passes is the graded number.
      val runs = math.max(1, scala.util.Try(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").trim.toInt).getOrElse {
          System.err.println("[bench] bad SPARK_GRAFT_BENCH_RUNS, using 2")
          2
        })
      var lastCanary = mopsPre
      var lastPar = parPre
      def measurePass(): (Seq[(String, Double)], Set[String], Set[String]) = {
        val starved = scala.collection.mutable.ListBuffer[String]()
        val failed = scala.collection.mutable.ListBuffer[String]()
        val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          val samples = scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()
          var healthy = 0
          var attempts = 0
          while (healthy < 2 && attempts < maxAttempts) {
            val pre = lastCanary
            val preP = lastPar
            val t0 = System.nanoTime()
            // A thrown query fails fast, and its near-zero elapsed time
            // must NOT enter the min-merge as a "measurement" — mark the
            // sample unhealthy and surface the query in "failed".
            var threw = false
            try { fn(spark, sfDir).count() } catch { case e: Throwable =>
              threw = true
              System.err.println(s"[bench] $name attempt ${attempts + 1} threw: " +
                s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            }
            val sec = (System.nanoTime() - t0) / 1e9
            Session.cleanup(spark)
            lastCanary = canaryMops()
            lastPar = parallelCanaryMops(parWidth)
            val ok = !threw && math.min(pre, lastCanary) >= canaryFloor &&
              math.min(preP, lastPar) >= parFloor
            if (ok) healthy += 1
            if (threw) failed += name
            samples += ((sec, ok))
            attempts += 1
          }
          if (healthy < 2) starved += name
          val good = samples.collect { case (sec, true) => sec }
          val sec = (if (good.nonEmpty) good.min else samples.map(_._1).min)
          name -> sec
        }
        (results, starved.toSet, failed.toSet)
      }
      val passes = (1 to runs).map { i =>
        val p = measurePass()
        System.err.println(f"[bench] pass $i/$runs total ${p._1.map(_._2).sum}%.3f s, " +
          s"starved ${p._2.size}")
        p
      }
      val names = passes.head._1.map(_._1)
      // a query is starved only if NO pass got it 2 healthy windows;
      // min across passes favors whichever window was clean
      val starved = names.filter(n => passes.forall(_._2.contains(n)))
      // any query that threw in ANY pass is reported — its timing (if no
      // healthy sample exists anywhere) is a fail-fast artifact, not a
      // measurement
      val failed = names.filter(n => passes.exists(_._3.contains(n)))
      val results = names.map(n => n -> passes.map(_._1.toMap.apply(n)).min)
      val mopsPost = canaryMops(500000000L)
      val parPost = parallelCanaryMops(parWidth)
      val summary = Summary(results, runs, canaryFloor, parFloor,
        mopsPre, mopsPost, parPre, parPost, starved, failed, sfDir)
      // Robust emission: the full JSON goes to a file, and stdout ends
      // with the compact line on its own line (BENCH_r04 recorded
      // "parsed": null because sbt's LoggedOutput glued the line to log
      // noise — build.sbt now also forces StdoutOutput for forked runs).
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
      try java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (summary.full + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $out: ${e.getMessage}")
      }
      System.out.flush()
      println()
      println(summary.compact)
      System.out.flush()
    }
  }

  /** What one bench run reports: per-key seconds (min over passes),
    * the canaries around the whole run and the keys to distrust. */
  private[graft] final case class Summary(
      results: Seq[(String, Double)], runs: Int, canaryFloor: Double, parFloor: Double,
      mopsPre: Double, mopsPost: Double, parPre: Double, parPost: Double,
      starved: Seq[String], failed: Seq[String], sfDir: String) {

    private def ms(sec: Double) = math.round(sec * 1000.0) / 1000.0
    private def strs(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    private def head = s"""{"metric":"total","value":${ms(results.map(r => ms(r._2)).sum)},"unit":"sec""""
    private def canaries = s""""canary_mops_pre":$mopsPre,"canary_mops_post":$mopsPost,""" +
      s""""par_mops_pre":$parPre,"par_mops_post":$parPost"""
    private def tail = s""""starved":${strs(starved)},"failed":${strs(failed)},"sf":"$sfDir"}"""

    /** The line for the bench file: `{key: sec}` for every key, the
      * canaries, the protocol and the floors. */
    def full: String = {
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
        .mkString("{", ",", "}")
      s"""$head,"queries":$qs,$canaries,""" +
        s""""protocol":"min_merge_of_${runs}_passes_min_of_2_healthy_attempts",""" +
        s""""runs":$runs,"canary_floor":$canaryFloor,"par_floor":$parFloor,$tail"""
    }

    /** The last stdout line: the full line without the per-key map,
      * protocol and floors. A run's result is read from a bounded tail
      * of stdout, about 2,000 characters (BENCH_r04/r05 "parsed": null
      * when a per-key line came last), and 137 named keys alone take
      * about 3.5 kB, so per-key seconds live only in the bench file. */
    def compact: String =
      s"""$head,"queries":{},"n_queries":${results.size},""" +
        s""""compact":true,"runs":$runs,$canaries,$tail"""
  }
}
