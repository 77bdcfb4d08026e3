package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** Interleaved-maintenance fuzz: every lifecycle op is spec-proven in
  * isolation and inside the two streaming valves — this spec drives
  * SEEDED RANDOM SCHEDULES of all of them against one index and
  * checks the serving contract after EVERY step, so an ordering bug
  * between any two ops (the class the one-op specs cannot see) has
  * ~dozens of interleavings per run to surface in.
  *
  *  - IVF×int8: after each op, the tombstone-masked stored rows must
  *    equal quantize+assign of the tracked live corpus under the
  *    index's CURRENT centroids — row-identity, which IS serve
  *    parity ([[Similarity.ivfqRerank]] is a deterministic function
  *    of stored rows + exact corpus; the per-op specs pin that).
  *    Each schedule ends with one full serve-vs-rebuild check.
  *  - graph: append/purge are approximation-preserving rather than
  *    row-exact, so the per-step oracle is the structural contract:
  *    the nodes sidecar tracks the live set exactly, per-src degree
  *    stays ≤ g, no edge touches a purged id, and end-of-schedule
  *    serving returns live ids only with deleted ids masked.
  */
class MaintenanceFuzzSpec extends SparkTestBase {

  private val dim = 16

  private def vec(rnd: scala.util.Random, centers: Array[Array[Double]]) = {
    val c = centers(rnd.nextInt(centers.length))
    c.map(v => (v + rnd.nextGaussian()).toFloat).toSeq
  }

  private def toDf(s: SparkSession, m: Map[Long, Seq[Float]]): DataFrame = {
    import s.implicits._
    m.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
  }

  private def expectedRows(live: DataFrame, centroids: Array[Array[Double]]) =
    Similarity.quantizedCorpus(live)
      .withColumn("qcv", transform(col("qv"), q => q.cast("double")))
      .withColumn("cs", graft.functions.CentroidCosines.of(col("qcv"), centroids))
      .withColumn("cid", expr("array_position(cs, array_max(cs))").cast("int"))
      .select(col("vec_id"), col("qv"), col("scale"), col("cid"))

  private def rowSet(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getSeq[Byte](1).toList, r.getDouble(2),
      r.getInt(3))).toSet

  test("ivfq: 20 seeded interleavings of append/delete/purge/compact/refit/upsert hold row parity each step") {
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian() * 5))
      var live: Map[Long, Seq[Float]] =
        (0L until 80L).map(i => i -> vec(rnd, centers)).toMap
      var nextId = 1000L
      Materialize.withTempDir(s"fuzz_ivfq_$seed") { dir =>
        AnnIndex.buildIvfqIndex(toDf(spark, live), dir, nlist = 4,
          seed = 11L)
        val opNames = Seq("append", "delete", "purge", "compact", "refit",
          "upsert")
        val steps = 4 + rnd.nextInt(2)
        for (_ <- 1 to steps) {
          val op = opNames(rnd.nextInt(opNames.length))
          op match {
            case "append" =>
              val batch = (0 until 10).map { _ =>
                val id = nextId; nextId += 1; id -> vec(rnd, centers)
              }.toMap
              AnnIndex.appendIvfq(toDf(spark, batch), dir)
              live ++= batch
            case "delete" =>
              val ids = rnd.shuffle(live.keys.toSeq).take(8) :+ 999999L
              import spark.implicits._
              AnnIndex.deleteVectors(ids.toDF("vec_id"), dir)
              live --= ids
            case "purge" =>
              AnnIndex.purgeIvfqDeletes(spark, dir)
            case "compact" =>
              AnnIndex.compactIvfq(spark, dir, maxFilesPerCell = 2)
            case "refit" =>
              AnnIndex.refitIvfq(toDf(spark, live), dir, nlist = 4,
                seed = 11L + rnd.nextInt(5))
            case "upsert" =>
              val replaced = rnd.shuffle(live.keys.toSeq).take(6)
                .map(id => id -> live(id).reverse).toMap
              val fresh = (0 until 4).map { _ =>
                val id = nextId; nextId += 1; id -> vec(rnd, centers)
              }.toMap
              AnnIndex.upsertIvfq(toDf(spark, replaced ++ fresh), dir)
              live = live ++ replaced ++ fresh
          }
          // row parity after EVERY step: masked stored rows ==
          // quantize+assign of the live corpus under current centroids
          val root = AnnIndex.resolveRoot(spark, dir)
          val stored = AnnIndex.liveRows(
            spark.read.parquet(s"$root/vectors"), dir)
            .select(col("vec_id"), col("qv"), col("scale"),
              col("cid").cast("int").as("cid"))
          val expected = expectedRows(toDf(spark, live),
            AnnIndex.readCentroids(spark, dir))
          assert(rowSet(stored) == rowSet(expected),
            s"seed=$seed after '$op': stored index diverged from live corpus")
        }
        // end of schedule: full serve parity vs in-session rebuild
        val liveDf = toDf(spark, live)
        val queries = toDf(spark,
          rnd.shuffle(live.toSeq).take(4).toMap)
        val centroids = AnnIndex.readCentroids(spark, dir)
        import graft.functions.VectorOps
        val exact = liveDf.select(col("vec_id"),
            VectorOps.asDoubleArray(col("embedding")).as("cv"))
          .withColumn("cn", VectorOps.l2Norm(col("cv")))
        def rs(df: DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .sortBy(t => (t._1, t._2)).toList
        val served = rs(AnnIndex.ivfqTopKFromPath(spark, dir, liveDf,
          queries, k = 3, nProbe = 2, rerank = 4))
        val rebuilt = rs(Similarity.ivfqRerank(
          Similarity.quantizedCorpus(liveDf), exact, queries, centroids,
          k = 3, nProbe = 2, rerank = 4))
        assert(served == rebuilt,
          s"seed=$seed: end-of-schedule serving diverged from rebuild")
      }
    }
  }

  test("graph: 20 seeded interleavings of append/delete/purge/upsert hold the structural contract each step") {
    for (seed <- 101 to 120) {
      val rnd = new scala.util.Random(seed)
      val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian() * 5))
      var live: Map[Long, Seq[Float]] =
        (0L until 60L).map(i => i -> vec(rnd, centers)).toMap
      var tombstoned = Set.empty[Long]
      var nextId = 1000L
      val g = 4
      Materialize.withTempDir(s"fuzz_graph_$seed") { dir =>
        AnnIndex.buildGraphIndex(toDf(spark, live), dir, g = g, nlist = 4,
          seed = 11L, nBuckets = 8)
        val opNames = Seq("append", "delete", "purge", "upsert")
        val steps = 3 + rnd.nextInt(2)
        for (_ <- 1 to steps) {
          val op = opNames(rnd.nextInt(opNames.length))
          op match {
            case "append" =>
              val batch = (0 until 6).map { _ =>
                val id = nextId; nextId += 1; id -> vec(rnd, centers)
              }.toMap
              AnnIndex.appendGraph(toDf(spark, batch), toDf(spark, live),
                dir, g = g, beam = 12, hops = 2, nBuckets = 8)
              live ++= batch
            case "delete" =>
              val ids = rnd.shuffle(live.keys.toSeq).take(5)
              import spark.implicits._
              AnnIndex.deleteVectors(ids.toDF("vec_id"), dir)
              live --= ids
              tombstoned ++= ids
            case "purge" =>
              AnnIndex.purgeGraphDeletes(spark, dir, toDf(spark, live),
                g = g, nBuckets = 8)
              tombstoned = Set.empty
            case "upsert" =>
              val replaced = rnd.shuffle(live.keys.toSeq).take(4)
                .map(id => id -> live(id).reverse).toMap
              val fresh = (0 until 3).map { _ =>
                val id = nextId; nextId += 1; id -> vec(rnd, centers)
              }.toMap
              AnnIndex.upsertGraph(toDf(spark, replaced ++ fresh),
                toDf(spark, live), dir, g = g, beam = 12, hops = 2,
                nBuckets = 8)
              live = live ++ replaced ++ fresh
              // upsert's internal purge drains the WHOLE sidecar, not
              // just the batch's tombstones
              tombstoned = Set.empty
          }
          val root = AnnIndex.resolveRoot(spark, dir)
          // nodes sidecar == live ∪ still-tombstoned (tombstones leave
          // nodes only at purge time; serving masks them meanwhile)
          val nodes = spark.read.parquet(s"$root/nodes")
            .select(col("vec_id")).collect().map(_.getLong(0)).toSet
          assert(nodes == live.keySet ++ tombstoned,
            s"seed=$seed after '$op': nodes sidecar diverged")
          // per-src degree cap
          val overG = spark.read.parquet(s"$root/edges")
            .groupBy(col("src")).agg(count(lit(1)).as("n"))
            .filter(col("n") > g).count()
          assert(overG == 0, s"seed=$seed after '$op': degree cap broken")
          // no edge touches an id that is neither live nor tombstoned
          val ghost = spark.read.parquet(s"$root/edges")
            .select(explode(array(col("src"), col("dst"))).as("id"))
            .distinct().collect().map(_.getLong(0)).toSet
            .diff(live.keySet ++ tombstoned)
          assert(ghost.isEmpty,
            s"seed=$seed after '$op': edges reference purged ids $ghost")
        }
        // end of schedule: serving returns only live ids
        val queries = toDf(spark, rnd.shuffle(live.toSeq).take(3).toMap)
          .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
        val served = AnnIndex.graphTopKFromPath(spark, dir,
          toDf(spark, live ++ tombstoned.map(id => id -> live.headOption
            .map(_._2).getOrElse(Seq.fill(dim)(0f))).toMap), queries,
          k = 3, beam = 12, hops = 2).collect()
        assert(served.nonEmpty, s"seed=$seed: no served results")
        assert(served.forall(r => live.contains(r.getLong(2))),
          s"seed=$seed: serving returned a non-live id")
      }
    }
  }
}
