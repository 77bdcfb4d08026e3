package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.VectorOps

/** Approximate-nearest-neighbor operators over an embedding column
  * (`array<float>` in parquet, cast to `array<double>` for math).
  *
  * - [[bruteForceTopK]] is the exact baseline: broadcast the (small)
  *   query set against the full corpus — one scan, no shuffle except
  *   the final per-query top-k window.
  * - [[lshTopK]] is the scale path: seeded random-hyperplane buckets
  *   prune the corpus to same-bucket candidates before scoring, so
  *   the scored pair count drops from |Q|·|C| to |Q|·|C|/2^bits on
  *   average — the shape that survives a 100 TB corpus (bucket join
  *   instead of broadcast cross product).
  */
object Similarity {

  /** Exact cosine top-k for each query vector (queries must be small
    * enough to broadcast; corpus side streams). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"),
        VectorOps.asDoubleArray(col("embedding")).as("qv"))
      .withColumn("qn", VectorOps.l2Norm(col("qv"))))
    val c = corpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    c.join(q, col("qid") =!= col("vec_id"))
      .withColumn("score",
        when(col("qn") * col("cn") > 0,
          VectorOps.dotArr(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 6).as("score"))
  }

  /** Constrained (filtered) vector search: exact cosine top-k where a
    * neighbor must MATCH THE QUERY on every column in
    * `constraintCols` — label-scoped / tenant-scoped / lang-scoped
    * ANN, the metadata-filtered search every vector store pairs with
    * similarity. The constraint is part of the JOIN KEY, not a
    * post-filter on scored pairs: post-filtering an oversampled top-k'
    * silently degrades recall when the filter is selective (the true
    * k may not survive the oversample), while pre-constraining both
    * prunes the scored pair count by the constraint's selectivity and
    * keeps top-k exact within the slice. The query side is
    * broadcast-hinted, so like [[bruteForceTopK]] the probe set must
    * be small enough to broadcast; for a probe set that isn't, drop
    * the hint and the same equality keys become a shuffle hash join
    * colocated on the constraint columns — a co-location that
    * unconstrained cosine search has no key to express. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   constraintCols: Seq[String]): DataFrame = {
    require(constraintCols.nonEmpty, "use bruteForceTopK when unconstrained")
    val qcols = col("vec_id").as("qid") +:
      VectorOps.asDoubleArray(col("embedding")).as("qv") +:
      constraintCols.map(c => col(c).as(s"q_$c"))
    val q = broadcast(queries.select(qcols: _*)
      .withColumn("qn", VectorOps.l2Norm(col("qv"))))
    val c = corpus.select(col("vec_id") +:
        VectorOps.asDoubleArray(col("embedding")).as("cv") +:
        constraintCols.map(col): _*)
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    val cond = constraintCols.map(cc => col(s"q_$cc") === col(cc))
      .reduce(_ && _) && col("qid") =!= col("vec_id")
    c.join(q, cond)
      .withColumn("score",
        when(col("qn") * col("cn") > 0,
          VectorOps.dotArr(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 6).as("score"))
  }

  /** Deterministic random hyperplanes: `bits` planes × `dim`, seeded. */
  def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bucket id from the hyperplane dots (columnar). */
  def lshBucket(vecCol: org.apache.spark.sql.Column,
                planes: Array[Array[Double]]): org.apache.spark.sql.Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(VectorOps.dotArr(vecCol, lit(p)) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Per-row LSH buckets of `v` in `numTables` tables of `bits` planes
    * each (table t uses planes t·bits until (t+1)·bits) — bit-identical
    * to [[lshBucket]] per table: bit i is set when the sequential-fold
    * dot of `v` with the plane is ≥ 0, over the shorter of the two. */
  def bucketsOf(v: Array[Double], planes: Array[Array[Double]],
                bits: Int, numTables: Int): Array[Long] =
    Array.tabulate(numTables) { t =>
      var bucket = 0L
      var i = 0
      while (i < bits) {
        val p = planes(t * bits + i)
        var s = 0.0
        var j = 0
        val n = math.min(v.length, p.length)
        while (j < n) { s += v(j) * p(j); j += 1 }
        if (s >= 0) bucket |= (1L << i)
        i += 1
      }
      bucket
    }

  /** Seeded k-means coarse centroids for [[ivfTopK]]. The fit sample
    * is a deterministic hash filter — keep rows whose embedding
    * xxhash64 is ≡ 0 (mod `sampleMod`) — so there is NO pre-count
    * pass over the corpus (a count-then-sample design costs one full
    * extra scan at 100 TB; here the sampling decision is per-row
    * arithmetic on the scan). The sample is cached before the k-means
    * loop, so the corpus is read exactly ONCE regardless of
    * `maxIter`; a 100 TB deployment sets `sampleMod` ≈ rows / 100k.
    * Zero-norm vectors are excluded (cosine k-means is undefined on
    * them). Cosine distance matches the probe metric, so cells are
    * angular regions like the search. */
  def kmeansCentroids(corpus: DataFrame, nlist: Int, seed: Long = 42L,
                      maxIter: Int = 10, sampleMod: Int = 1,
                      initMode: String = "k-means||"): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val vecs = corpus.select(VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .filter(VectorOps.l2Norm(col("cv")) > 0)
    val sampled = if (sampleMod == 1) vecs
      else vecs.filter(pmod(xxhash64(col("cv")), lit(sampleMod.toLong)) === 0)
    val fit = sampled.select(array_to_vector(col("cv")).as("features"))
    Materialize.withCached(fit) {
      // count() materializes the cache (the single corpus scan) and
      // bounds k — KMeans needs k <= n and the sample could be tiny
      val n = fit.count()
      val k = math.min(nlist.toLong, math.max(n, 1L)).toInt
      // initMode "random" is the large-k escape hatch: k-means||'s
      // final step runs a DRIVER-LOCAL k-means over ~2·rounds·k
      // candidate points, which dominates wall-clock once k reaches
      // the hundreds; random init (seeded, deterministic) costs
      // nothing and cell QUALITY is secondary when the cells are
      // space partitions rather than query answers (semantic dedup).
      new KMeans()
        .setK(k).setSeed(seed).setMaxIter(maxIter)
        .setInitMode(initMode)
        .setDistanceMeasure("cosine")
        .setFeaturesCol("features")
        .fit(fit)
        .clusterCenters.map(_.toArray)
    }
  }

  /** Corpus rows with their coarse IVF cell id appended (`cid`,
    * 1-based argmax-cosine centroid, one [[graft.functions.CentroidCosines]]
    * codegen pass). This is the column a bucketed disk layout
    * partitions by: written through
    * [[graft.sources.CorpusSink.writeParquet]] with `shardCol = "cid"`,
    * a probe that reads `nProbe` cells prunes every other cell's
    * FILES at the directory level — the scan never opens them
    * (proved in `IvfLayoutSpec`). */
  def assignCells(corpus: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    corpus
      .withColumn("__cs", graft.functions.CentroidCosines.of(
        VectorOps.asDoubleArray(col("embedding")), centroids))
      .withColumn("cid", expr("array_position(__cs, array_max(__cs))").cast("int"))
      .drop("__cs")

  /** (vec_id, cid, crank) rows for each vector's `nCells` NEAREST
    * cells — the SPILLED assignment the k-NN-graph build candidates
    * use ([[knnGraph]]): with argmax-only cells the graph is
    * CELL-DISCONNECTED on clustered data (within-cell pairs never
    * cross a boundary, and a uniform-random partner's ~0 cosine loses
    * to every within-cell neighbor, so no random edge survives the
    * top-g cut — measured at sf1: beam search recall stuck at ~0.3
    * regardless of degree or NN-Descent depth, because no number of
    * hops can LEAVE the seed cells). Spilling each vector into its
    * top-2 cells creates candidate pairs across every adjacent-cell
    * boundary — exactly the edges the walk needs — at ~4× the
    * within-cell pair cost, which the nlist scaling rule absorbs.
    *
    * NOT an explode+window (n·nlist shuffled rows) and NOT nested
    * HOFs over the score array (the projection-collapse trap would
    * re-derive the full centroid scoring per element) — a codegen'd
    * [[graft.functions.ArgTopK]] register scan inside the projection.
    * Zero-norm vectors assign to no cell — same as their null argmax
    * in [[assignCells]], and the pair scan filters them anyway. */
  def assignTopCells(corpus: DataFrame, centroids: Array[Array[Double]],
                     nCells: Int = 2): DataFrame = {
    // crank 1 IS the argmax assignment (same first-max tie rule as
    // [[assignCells]]), so ONE scoring pass serves both the spilled
    // build candidates and the argmax side — n·nlist·dim flops saved
    // per caller that needs both (graphTopK, buildGraphIndex).
    // Whole-stage codegen end to end: CentroidCosines scores, the
    // [[graft.functions.ArgTopK]] register scan picks the top cells
    // (the earlier DataFrame.rdd round-trip deserialized every score
    // array to boxed rows — a measured ~⅓ of the sf10 graph build),
    // and posexplode drops zero-norm rows via ArgTopK's empty array.
    corpus.select(col("vec_id"),
        graft.functions.ArgTopK.of(graft.functions.CentroidCosines.of(
          VectorOps.asDoubleArray(col("embedding")), centroids), nCells).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "cid")))
      .select(col("vec_id"), col("cid"),
        (col("pos") + 1).cast("int").as("crank"))
  }

  /** Deterministic LOCAL spherical k-means (argmax-cosine Lloyd) for
    * the per-coarse-cell fine fits of [[hierCentroids]] — runs
    * INSIDE a `mapGroups` task over one coarse cell's fit sample
    * (~16·k rows), never on the driver and never over corpus-sized
    * data. Vectors are unit-normalized up front (cosine k-means);
    * init is every ⌈n/k⌉-th vector of the lexicographically sorted
    * sample (seed-free determinism — the sample itself is already
    * seed-selected); an emptied cluster keeps its previous center.
    * Returns ≤ k distinct unit centroids. */
  private[operators] def localSphericalKmeans(vecs: Array[Array[Double]],
                                              k: Int,
                                              iters: Int = 5): Array[Array[Double]] = {
    val unit = vecs.flatMap { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) None else Some(v.map(_ / n))
    }
    if (unit.isEmpty) return Array.empty
    val ord = math.Ordering.Implicits.seqOrdering[Seq, Double]
    val sorted = unit.sortBy(_.toSeq)(ord)
    val kk = math.min(k, sorted.length)
    val step = sorted.length.toDouble / kk
    var centers = Array.tabulate(kk)(i => sorted((i * step).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](sorted(0).length))
      val cnts = new Array[Int](kk)
      sorted.foreach { v =>
        var best = 0; var bestS = Double.NegativeInfinity
        var j = 0
        while (j < kk) {
          val c = centers(j)
          var acc = 0.0; var t = 0
          while (t < v.length) { acc += v(t) * c(t); t += 1 }
          if (acc > bestS) { bestS = acc; best = j }
          j += 1
        }
        val s = sums(best)
        var t = 0
        while (t < v.length) { s(t) += v(t); t += 1 }
        cnts(best) += 1
      }
      centers = Array.tabulate(kk) { j =>
        if (cnts(j) == 0) centers(j)
        else {
          val s = sums(j)
          val n = math.sqrt(s.map(x => x * x).sum)
          if (n == 0.0) centers(j) else s.map(_ / n)
        }
      }
      it += 1
    }
    centers
  }

  /** Two-level centroid hierarchy for CORPUS-SCALED `nlist` — the
    * sub-quadratic replacement for a flat [[kmeansCentroids]] fit +
    * [[assignCells]] when nlist ∝ n (SemDeDup-style cell sizing). The
    * flat path is O(n·nlist) to assign and O(sample·nlist) per fit
    * iteration — both O(n²/cellSize) once nlist grows with the
    * corpus. Here:
    *
    *  1. `k1 = ⌈√nlist⌉` COARSE centroids fit on the same hash
    *     sample (MLlib cosine k-means — O(sample·√nlist) per iter);
    *  2. the sample assigns to its coarse argmax (one
    *     [[graft.functions.CentroidCosines]] pass over √nlist) and
    *     each coarse cell's sub-sample fits `k2 = ⌈nlist/k1⌉` FINE
    *     centroids with a task-local Lloyd ([[localSphericalKmeans]]
    *     inside `mapGroups` — one small shuffle of the SAMPLE, never
    *     the corpus, and no per-cell driver round-trips);
    *  3. a coarse cell whose sub-sample came back empty keeps the
    *     coarse centroid itself as its only fine centroid, so every
    *     corpus row still lands in a well-defined cell.
    *
    * Assignment against the result ([[assignCellsHier]]) scores
    * k1 + k2 ≈ 2√nlist centroids per row instead of nlist. The
    * driver holds only the centroid sidecar (nlist·dim doubles) —
    * the same object the flat path already carried. */
  def hierCentroids(corpus: DataFrame, nlist: Int, seed: Long = 42L,
                    maxIter: Int = 4, sampleMod: Int = 1,
                    fineIters: Int = 5)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val k1 = math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(nlist.toDouble / k1).toInt)
    val vecs = corpus.select(VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .filter(VectorOps.l2Norm(col("cv")) > 0)
    val sample = if (sampleMod == 1) vecs
      else vecs.filter(pmod(xxhash64(col("cv")), lit(sampleMod.toLong)) === 0)
    Materialize.withCached(sample) {
      // coarse fit reads the cached sample — random init for the
      // same reason as the flat corpus-scaled path (k-means||'s
      // driver-local finish dominates at large k; cells are space
      // partitions, not query answers)
      val coarse = kmeansCentroids(
        sample.select(col("cv").as("embedding")), k1, seed,
        maxIter = maxIter, sampleMod = 1, initMode = "random")
      val fineFit = sample
        .select(graft.functions.CentroidCosines.of(col("cv"), coarse).as("__cs"),
          col("cv"))
        .withColumn("__cc", expr("array_position(__cs, array_max(__cs))").cast("int"))
        .filter(col("__cc").isNotNull)
        .select(col("__cc"), col("cv"))
        .as[(Int, Array[Double])]
        .groupByKey(_._1)
        .mapGroups { (cc, it) =>
          val vs = it.map(_._2).toArray
          (cc, localSphericalKmeans(vs, k2, fineIters).map(_.toSeq).toSeq)
        }
        .collect().toMap
      val fine = Array.tabulate(coarse.length) { i =>
        fineFit.get(i + 1).filter(_.nonEmpty)
          .map(_.map(_.toArray).toArray)
          .getOrElse(Array(coarse(i).clone()))
      }
      (coarse, fine)
    }
  }

  /** Corpus rows with the two-level cell id appended — the hier twin
    * of [[assignCells]]: one [[graft.functions.HierCellId]] codegen
    * pass, O(√nlist) per row. `cid` is 1-based and dense over the
    * ragged fine blocks; zero-norm vectors get a null cid (never
    * joined), exactly like the flat path. */
  def assignCellsHier(corpus: DataFrame, coarse: Array[Array[Double]],
                      fine: Array[Array[Array[Double]]]): DataFrame =
    corpus.withColumn("cid", graft.functions.HierCellId.of(
      VectorOps.asDoubleArray(col("embedding")), coarse, fine))

  /** IVF-style ANN: the corpus is coarse-partitioned by nearest of
    * `nlist` k-means centroids ([[kmeansCentroids]], seeded); each
    * query probes its `nProbe` nearest centroids' inverted lists
    * only. The scored candidate count drops from |Q|·|C| to
    * ~|Q|·|C|·nProbe/nlist, and the candidate join is a hash join on
    * centroid id — the partition-pruned shape that survives a 100 TB
    * corpus (a real deployment would bucket the corpus BY cid on
    * disk so probes prune file groups). Centroid scoring is one
    * [[graft.functions.CentroidCosines]] pass — constant codegen
    * size, so nlist can grow to thousands of cells. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              initMode: String = "k-means||", sampleMod: Int = 1): DataFrame = {
    val c = corpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    val centroids = kmeansCentroids(corpus, nlist, seed, initMode = initMode,
      sampleMod = sampleMod)
    def centroidScores(vecCol: org.apache.spark.sql.Column) =
      graft.functions.CentroidCosines.of(vecCol, centroids)
    // corpus side: assign to argmax-cosine centroid
    val assigned = c.withColumn("cs", centroidScores(col("cv")))
      .withColumn("cid", expr("array_position(cs, array_max(cs))").cast("int"))
      .drop("cs")
    // query side: nProbe nearest centroids each — the ArgTopK
    // register scan (same (score desc, index asc) tie rule the old
    // explode+window had), so probe selection is one codegen pass
    // with no window sort even on a large probe panel
    val q = broadcast(queries.select(col("vec_id").as("qid"),
        VectorOps.asDoubleArray(col("embedding")).as("qv"))
      .withColumn("qn", VectorOps.l2Norm(col("qv")))
      .select(col("qid"), col("qv"), col("qn"),
        explode(graft.functions.ArgTopK.of(centroidScores(col("qv")), nProbe))
          .as("cid")))
    assigned.join(q, Seq("cid")).filter(col("qid") =!= col("vec_id"))
      .withColumn("score",
        when(col("qn") * col("cn") > 0,
          VectorOps.dotArr(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 6).as("score"))
  }

  /** The per-row quantization rule, shared verbatim by
    * [[quantizedCorpus]] (the stored index's build) and
    * [[Dedup.incrementalSemanticAdmission]]'s kernel, so the index and
    * its admissions can never drift on rounding: symmetric int8, scale
    * = max|x|/127, rounding matches Spark's `round` (HALF_UP, away from
    * zero). */
  private[graft] def quantizeRow(x: Array[Double]): (Double, Array[Byte]) = {
    var mx = 0.0
    var i = 0
    while (i < x.length) {
      val a = math.abs(x(i)); if (a > mx) mx = a; i += 1
    }
    val scale = mx / 127.0
    val qv = new Array[Byte](x.length)
    if (scale > 0) {
      i = 0
      while (i < x.length) {
        val v = x(i) / scale
        qv(i) = (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toByte
        i += 1
      }
    }
    (scale, qv)
  }

  /** Bulk symmetric-int8 quantization of the corpus: (vec_id, qv
    * array<tinyint>, scale double). A ZERO-shuffle typed
    * per-partition map: Spark SQL's higher-order functions have no
    * let-binding, so a `transform` whose lambda references a
    * separately-projected scale column gets its projection COLLAPSED
    * back into the lambda by Catalyst and re-derives array_max per
    * ELEMENT (the nested-HOF trap [[EmbeddingQuant.quantReport]]
    * documents — measured 2.3× the whole semantic-dedup query at
    * sf1), while the earlier explode+window+collect_list shape paid
    * ~25 s of pure n·dim-row shuffle at sf10. A plain per-row loop
    * is the honest shape for this genuinely element-imperative step:
    * one pass for max|x|, one for the rounded ratios, no shuffle, no
    * interpreted lambdas. Rounding matches Spark's `round`
    * (HALF_UP, away from zero). A 100 TB deployment runs this ONCE
    * at ingest and stores (qv, scale, cid) as the ANN index's disk
    * layout — see `IvfqLayoutSpec` for the stored form and its
    * pruned scan. */
  def quantizedCorpus(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, xs) =>
        val x = if (xs == null) Array.empty[Double] else xs
        val (scale, qv) = quantizeRow(x)
        // Seq[Byte], not Array[Byte]: the encoder maps Array[Byte]
        // to BINARY; Seq[Byte] keeps the array<tinyint> schema the
        // stored index and dot_product_int8 expect
        (id, scale, qv.toSeq)
      })
      .toDF("vec_id", "scale", "qv")
  }

  /** IVF + int8 two-stage ANN: stage 1 scans ONLY the quantized
    * corpus — cell assignment and candidate scoring both run on the
    * int8 vectors (cosine is scale-invariant, so the per-vector
    * `scale` never even enters the ranking math) and keep the top
    * `rerank·k` candidates per query by approximate score; stage 2
    * re-ranks exactly by joining just those candidates back to the
    * full-precision vectors BY KEY. At 100 TB the bulk scan touches
    * the 4× smaller int8 index (pre-materialized, cid-bucketed —
    * [[quantizedCorpus]]), and full-precision vectors are read only
    * for |Q|·rerank·k point lookups — the memory-bounded IVF+PQ-style
    * shape of a production vector store. Recall is bounded below by
    * plain [[ivfTopK]] minus int8 ranking distortion (<1%,
    * [[EmbeddingQuant.quantReport]]'s checked contract). */
  def ivfTopKQuantized(corpus: DataFrame, queries: DataFrame, k: Int,
                       nlist: Int = 16, nProbe: Int = 4, rerank: Int = 4,
                       seed: Long = 42L): DataFrame = {
    val centroids = kmeansCentroids(corpus, nlist, seed)
    val quant = quantizedCorpus(corpus)
    val exact = corpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    ivfqRerank(quant, exact, queries, centroids, k, nProbe, rerank)
  }

  /** The two stages over an ALREADY-QUANTIZED corpus (the stored
    * index form: vec_id, qv, scale, and optionally a precomputed
    * cid). Split out so a spec can feed a parquet-backed quantized
    * index and assert the stage-1 scan reads qv — never the float
    * embedding column. */
  def ivfqRerank(quant: DataFrame, exact: DataFrame, queries: DataFrame,
                 centroids: Array[Array[Double]], k: Int, nProbe: Int,
                 rerank: Int): DataFrame = {
    def centroidScores(vecCol: org.apache.spark.sql.Column) =
      graft.functions.CentroidCosines.of(vecCol, centroids)
    // stage 1: quantized-only. int8 → double is a cast, not a lookup;
    // cid from argmax cosine against the same centroids as the probe.
    val qd = quant.withColumn("qcv",
      transform(col("qv"), q => q.cast("double")))
    val assigned = (if (quant.columns.contains("cid")) qd
      else qd.withColumn("cs", centroidScores(col("qcv")))
        .withColumn("cid", expr("array_position(cs, array_max(cs))").cast("int"))
        .drop("cs"))
      .withColumn("qcn", VectorOps.l2Norm(col("qcv")))
      .select(col("vec_id"), col("cid"), col("qcv"), col("qcn"))
    val q = broadcast(queries.select(col("vec_id").as("qid"),
        VectorOps.asDoubleArray(col("embedding")).as("qv2"))
      .withColumn("qn", VectorOps.l2Norm(col("qv2")))
      .select(col("qid"), col("qv2"), col("qn"),
        explode(graft.functions.ArgTopK.of(centroidScores(col("qv2")), nProbe))
          .as("cid")))
    val candidates = assigned.join(q, Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("approx",
        when(col("qn") * col("qcn") > 0,
          VectorOps.dotArr(col("qv2"), col("qcv")) / (col("qn") * col("qcn"))))
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("approx"), col("vec_id"))))
      .filter(col("arank") <= rerank.toLong * k)
      .select(col("qid"), col("vec_id"))
    // stage 2: exact re-rank of the bounded candidate set only — a
    // keyed join against the full-precision store, never a scan-scale
    // shuffle of float vectors.
    candidates.join(exact, Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").as("qid"),
          VectorOps.asDoubleArray(col("embedding")).as("qfull"))
        .withColumn("qfn", VectorOps.l2Norm(col("qfull")))), Seq("qid"))
      .withColumn("score",
        when(col("qfn") * col("cn") > 0,
          VectorOps.dotArr(col("qfull"), col("cv")) / (col("qfn") * col("cn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 6).as("score"))
  }

  /** The JL ANN's stored index: (vec_id, cid, p0_e6..p{outDim-1}_e6)
    * — IVF cell id plus the [[EmbeddingOps.projectSigned]] integer
    * projection, built in ONE corpus pass (the cell id rides through
    * the projection aggregation as a carry key). Materialized
    * cid-bucketed via [[graft.sources.CorpusSink.writeParquet]] this
    * is the disk form [[projRerank]] serves from: `outDim` longs + an
    * int per vector, no floats (`ProjLayoutSpec` proves the serving
    * scan never reads the embedding column). */
  def projIndex(corpus: DataFrame, centroids: Array[Array[Double]],
                outDim: Int): DataFrame =
    EmbeddingOps.projectSigned(assignCells(corpus, centroids), outDim,
      carryCols = Seq("cid"))

  /** The two JL stages over an ALREADY-BUILT index ([[projIndex]] —
    * possibly parquet-backed): stage 1 joins the (tiny, broadcast)
    * probed-cell query table against the index ON THE CELL ID and
    * ranks the probed cells' candidates by cosine in the integer
    * projection space — pure codegen'd scalar arithmetic over
    * `outDim` longs, no floats, no array HOFs; stage 2 exact-reranks
    * only the kept candidates per query via a keyed join back to the
    * full-precision store (`exact`: vec_id, cv, cn) — the same
    * never-scan-floats-in-stage-1 layout as [[ivfqRerank]].
    *
    * `keep` is a driver-resolved LITERAL budget: a column-valued rank
    * bound would defeat WindowGroupLimit's map-side top-keep
    * pruning. */
  def projRerank(index: DataFrame, exact: DataFrame, queries: DataFrame,
                 centroids: Array[Array[Double]], k: Int, outDim: Int,
                 nProbe: Int, keep: Long): DataFrame = {
    val qproj = EmbeddingOps.projectSigned(queries, outDim)
      .select(col("vec_id").as("qid") +:
        (0 until outDim).map(j => col(s"p${j}_e6").as(s"q$j")): _*)
    val qcells = queries.select(col("vec_id").as("qid"),
        VectorOps.asDoubleArray(col("embedding")).as("qv"))
      .select(col("qid"),
        explode(graft.functions.ArgTopK.of(
          graft.functions.CentroidCosines.of(col("qv"), centroids), nProbe))
          .as("cid"))
    val q = broadcast(qcells.join(qproj, Seq("qid")))
    val pc = index.select(col("vec_id") +: col("cid") +:
      (0 until outDim).map(j => col(s"p${j}_e6").as(s"c$j")): _*)
    def dot2(a: String, b: String) = (0 until outDim).map(j =>
      col(s"$a$j").cast("double") * col(s"$b$j").cast("double")).reduce(_ + _)
    val qn = sqrt(dot2("q", "q"))
    val cn = sqrt(dot2("c", "c"))
    val coarse = pc.join(q, Seq("cid")).filter(col("qid") =!= col("vec_id"))
      .withColumn("approx",
        when(qn * cn > 0, dot2("q", "c") / (qn * cn)).otherwise(lit(-2.0)))
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("approx"), col("vec_id"))))
      .filter(col("arank") <= keep)
      .select(col("qid"), col("vec_id"))
    coarse.join(exact, Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").as("qid"),
          VectorOps.asDoubleArray(col("embedding")).as("qfull"))
        .withColumn("qfn", VectorOps.l2Norm(col("qfull")))), Seq("qid"))
      .withColumn("score",
        when(col("qfn") * col("cn") > 0,
          VectorOps.dotArr(col("qfull"), col("cv")) / (col("qfn") * col("cn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 6).as("score"))
  }

  /** JL-within-IVF two-stage top-k: the corpus is coarse-partitioned
    * into `nlist` k-means cells ([[kmeansCentroids]]) and stage 1
    * ranks ONLY the `nProbe` probed cells' candidates by cosine in
    * the [[EmbeddingOps.projectSigned]] integer space; stage 2
    * exact-reranks the kept candidates per query by a keyed join back
    * to the full-precision store ([[projRerank]]).
    *
    * The candidate budget is `max(rerank·k, ⌈probed/keepDenom⌉)`
    * where `probed ≈ n·nProbe/nlist` — a fraction of the PROBED
    * CELLS, not of the corpus: on unstructured (near-random)
    * embeddings the number of distractors inside the JL error margin
    * of the true top-k grows with the candidate count, so a constant
    * budget's recall decays with scale, while a probed-fraction one
    * is scale-stable AND o(n) under the standard IVF deployment rule
    * (nlist grows with the corpus to hold |cell| roughly constant) —
    * the earlier global-fraction form re-ranked ⌈n/2⌉ vectors per
    * query, a compressed linear scan rather than an index. Distance
    * fidelity of stage 1 is the JL lemma for ±1 signs (Achlioptas
    * 2003); the end-to-end recall contract is gated in
    * `q_similarity_proj` (measured 0.8 at the sf0.01 gate with these
    * defaults — probe half the cells, keep half the probed — for a
    * per-query budget of n/4; the pre-round-10 affine-mod sign hash
    * had to exact-rerank n/2 GLOBAL candidates to reach 0.72, and
    * outDim=16 at 64-dim keeps the index 2× smaller than the floats,
    * which outDim=32 would forfeit). */
  def projTopK(corpus: DataFrame, queries: DataFrame, k: Int,
               outDim: Int = 16, rerank: Int = 8, keepDenom: Int = 2,
               nlist: Int = 16, nProbe: Int = 8, seed: Long = 42L,
               initMode: String = "k-means||", sampleMod: Int = 1): DataFrame = {
    val centroids = kmeansCentroids(corpus, nlist, seed, initMode = initMode,
      sampleMod = sampleMod)
    val index = projIndex(corpus, centroids, outDim)
    // one column-pruned count job (the ivf-fit pattern of a bounded
    // driver probe) sizes the literal budget
    val n = corpus.count()
    val probed = n * math.min(nProbe, centroids.length) /
      math.max(centroids.length, 1)
    val keep = math.max(rerank.toLong * k, (probed + keepDenom - 1) / keepDenom)
    val exact = corpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    projRerank(index, exact, queries, centroids, k, outDim, nProbe, keep)
  }

  /** Mean recall@k of an ANN result against the exact result: for
    * each query, the fraction of exact top-k neighbors the ANN run
    * found, averaged over queries (queries the ANN missed entirely
    * count as 0). One row: (n_queries, recall). This is how LSH/IVF
    * recall becomes a *checked contract* rather than a rows-only
    * smoke test — the caller bounds `recall` and the bound is
    * oracle-comparable as a boolean. */
  def meanRecall(ann: DataFrame, exact: DataFrame): DataFrame = {
    val hits = exact.select(col("qid"), col("neighbor_id"))
      .join(ann.select(col("qid"), col("neighbor_id")), Seq("qid", "neighbor_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .agg(count(lit(1)).as("n_queries"),
        avg(col("n_hit").cast("double") / col("n_exact")).as("recall"))
  }

  /** Approximate k-NN GRAPH over the corpus — the index half of the
    * graph-ANN family (NN-Descent, Dong et al. WWW'11; the flat
    * single-layer analogue of HNSW's bottom layer). Output: directed
    * edges (src, dst, score), top `g` per src by exact cosine.
    *
    * Build = one bounded candidate generation + `refineRounds`
    * NN-Descent rounds, every step an equi-join:
    *  - init candidates are within-cell pairs (cid-keyed self-join,
    *    Σ|cell|² bounded like [[graft.operators.Dedup.semanticDedup]])
    *    UNION deterministic random cross-partner pairs (xxhash64
    *    bucket join, ~`randPerVec` partners each) — the random edges
    *    are what lets refinement escape cell boundaries; a
    *    within-cell-only graph could never grow a cross-cell edge.
    *  - each refinement round joins the graph to itself through the
    *    shared endpoint (neighbor-of-neighbor candidates, ≤ n·(2g)²
    *    pairs), scores the fresh pairs exactly, and re-ranks to top
    *    g per src — the NN-Descent "neighbors of neighbors are
    *    likely neighbors" step.
    * At 100 TB: nlist grows with n to hold |cell| constant, so every
    * stage is O(n·poly(g)) rows through hash joins — no stage is
    * quadratic in the corpus.
    *
    * The returned edge table is a [[graft.Materialize.pin]] the caller
    * releases (see [[withGraph]]'s eager-per-round rationale). */
  def knnGraph(corpus: DataFrame, g: Int = 8, nlist: Int = 16,
               refineRounds: Int = 1, randPerVec: Int = 4,
               seed: Long = 42L, initMode: String = "k-means||",
               spillCells: Int = 2): DataFrame = {
    val centroids = kmeansCentroids(corpus, nlist, seed, initMode = initMode)
    withGraph(corpus, centroids, corpus.count(), spillCells, g, refineRounds,
      randPerVec, seed)((_, graph) => graph)
  }

  /** The one graph build of [[knnGraph]], [[graphTopK]] and
    * `AnnIndex.buildGraphIndex` over a corpus of `n` rows (a
    * column-pruned parquet-footer count at the caller). ONE
    * centroid-scoring pass feeds the spilled build candidates AND the
    * argmax assignment (crank 1 of the spill; a second pass measured
    * ~¼ of the sf10 build). Both are cached for the build's several
    * join sides and filled BEFORE it fans out: stages racing a cold
    * cache each recompute the scoring — measured 2× the sf10 build.
    *
    * EAGER per round (the searchOverEdges discipline): each round's
    * n·g edge table is pinned before the next refines it — the
    * refinement references its predecessor from THREE join sides, so
    * the lazy shape re-executed the Σ|cell|² init scoring up to 3×
    * per round (and re-planned an ever-deepening tree per action
    * downstream). `use(assigned, graph)` runs while the build caches
    * are held and owns the last round's pinned `graph`. */
  private[operators] def withGraph[A](corpus: DataFrame,
                                      centroids: Array[Array[Double]], n: Long,
                                      spillCells: Int, g: Int, refineRounds: Int,
                                      randPerVec: Int, seed: Long)
                                     (use: (DataFrame, DataFrame) => A): A = {
    val spill = assignTopCells(corpus, centroids, spillCells)
    val assigned = corpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
      .join(spill.filter(col("crank") === 1).select(col("vec_id"), col("cid")),
        Seq("vec_id"))
    val c = assigned.select(col("vec_id"), col("cv"), col("cn"))
    // top-k per src through the BOUNDED-BUFFER aggregate, not a
    // row_number window: a window must shuffle AND sort every scored
    // pair row per src before cutting (the bulk-pair shuffle was the
    // measured build bottleneck — an int8 variant that kept the
    // windows measured SLOWER, sf1 23.3 → 35.5 s, because the
    // shuffles, not the dots, were the wall), while TopEdges is a
    // commutative monoid over bounded buffers, so the partial
    // ObjectHashAggregate map-side-combines each task's pairs to ≤k
    // per local src and the Exchange ships O(n·k) edges, never
    // O(pairs) rows. The aggregate also dedupes on dst (duplicate
    // candidates carry identical scores by construction), which
    // removes the dropDuplicates pre-shuffles the window shape needed.
    def topG(scored: DataFrame): DataFrame =
      scored.groupBy(col("src"))
        .agg(graft.functions.TopEdges.topEdges(col("dst"), col("score"), g).as("es"))
        .select(col("src"), explode(col("es")).as("e"))
        .select(col("src"), col("e.dst").as("dst"), col("e.score").as("score"))
    // Shuffle-shape invariant (the semanticDedup rule): vectors ride
    // the O(n·g)-row JOIN SIDES, never the pair-level rows — every
    // scored pair exists only inside a join's output projection
    // (dot + filter + top-g agg), so no shuffle in the build ever
    // carries pair-count × vector-width bytes. The dots stay EXACT
    // doubles: a quantize-first variant (int8 stage-1, top-2g, exact
    // rescore) measured flat at sf10 and 2× SLOWER at sf1 — with the
    // window shuffles gone, the dot arithmetic is not the wall, and
    // the extra quantize/rescore stages are pure overhead.
    def scoreJoin(l: DataFrame, r: DataFrame, key: String): DataFrame =
      l.join(r, Seq(key))
        .filter(col("src") =!= col("dst") && col("xn") * col("yn") > 0)
        .withColumn("score",
          VectorOps.dotArr(col("xv"), col("yv")) / (col("xn") * col("yn")))
        .select(col("src"), col("dst"), col("score"))
    def asSrc(d: DataFrame, key: String) = d.select(col(key),
      col("vec_id").as("src"), col("cv").as("xv"), col("cn").as("xn"))
    def asDst(d: DataFrame, key: String) = d.select(col(key),
      col("vec_id").as("dst"), col("cv").as("yv"), col("cn").as("yn"))
    // init candidates: SPILLED-cell pairs (cid-keyed self-join over
    // each vector's top-2 cells — Σ|cell|² bounded with |cell| ≈ 2×
    // the argmax occupancy, and every adjacent-cell boundary
    // contributes pairs, which is what keeps the graph connected
    // across cells) + random cross-partner pairs — the buckets hold
    // ~randPerVec+1 vectors each (hash-uniform), contributing
    // ~n·randPerVec pairs and far-range shortcut seeds.
    val spillSide = spill.join(c, Seq("vec_id"))
    val cellScored = scoreJoin(asSrc(spillSide, "cid"), asDst(spillSide, "cid"), "cid")
    val nBuckets = math.max(1L, n / (randPerVec + 1))
    val bucketed = assigned
      .withColumn("b", pmod(xxhash64(col("vec_id"), lit(seed)), lit(nBuckets)))
    val randScored = scoreJoin(asSrc(bucketed, "b"), asDst(bucketed, "b"), "b")
    Materialize.withCached(spill, assigned) {
      spill.count(); assigned.count()
      val first = Materialize.pin(topG(cellScored.unionByName(randScored)))
      // NN-Descent rounds: neighbor-of-neighbor candidates through the
      // shared endpoint, in both edge directions. Endpoint vectors are
      // pre-attached to the n·g-row edge tables BEFORE the mid-join,
      // keeping the invariant; duplicate candidates cost a redundant
      // (codegen'd) dot each and collapse inside the top-g buffers.
      Materialize.handOff(Materialize.iterate(first, refineRounds) { graph =>
        val left = graph.select(col("src"), col("dst").as("mid"))
          .join(c.select(col("vec_id").as("src"), col("cv").as("xv"),
            col("cn").as("xn")), Seq("src"))
        val right = graph.select(col("src").as("mid"), col("dst"))
          .unionByName(graph.select(col("dst").as("mid"), col("src").as("dst")))
          .join(c.select(col("vec_id").as("dst"), col("cv").as("yv"),
            col("cn").as("yn")), Seq("dst"))
        val nonScored = left.join(right, Seq("mid"))
          .filter(col("src") =!= col("dst") && col("xn") * col("yn") > 0)
          .withColumn("score",
            VectorOps.dotArr(col("xv"), col("yv")) / (col("xn") * col("yn")))
          .select(col("src"), col("dst"), col("score"))
        Materialize.pin(topG(nonScored.unionByName(graph)))
      })(use(assigned, _))
    }
  }

  /** Graph-traversal ANN (the DiskANN/HNSW-search shape, batched
    * over all queries at once): seed each query with the scored
    * members of its `seedProbe` nearest IVF cells, then expand
    * `hops` rounds of best-first beam search over the [[knnGraph]]
    * edges — every hop is (frontier ⋈ edges) on the candidate id
    * followed by a per-query beam re-rank, so a hop costs
    * |Q|·beam·2g scored rows regardless of corpus size. Recall
    * comes from the graph's shortcut edges, not from widening the
    * seed cells (the IVF answer is the hop-0 special case).
    * Output schema matches [[ivfTopK]]: (qid, rank, neighbor_id,
    * score). */
  def graphTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                g: Int = 8, beam: Int = 24, hops: Int = 2,
                nlist: Int = 16, seedProbe: Int = 2,
                seed: Long = 42L, initMode: String = "k-means||",
                sampleMod: Int = 1, refineRounds: Int = 1,
                randPerVec: Int = 4, spillCells: Int = 2): DataFrame = {
    val centroids = kmeansCentroids(corpus, nlist, seed, initMode = initMode,
      sampleMod = sampleMod)
    // the traversal is eager: nothing reads the graph after it
    withGraph(corpus, centroids, corpus.count(), spillCells, g, refineRounds,
        randPerVec, seed) { (assigned, graph) =>
      try searchOverEdges(assigned, graph.select(col("src"), col("dst")),
        queries, k, centroids, beam, hops, seedProbe)
      finally Materialize.release(graph)
    }
  }

  /** Graph search over an ALREADY-BUILT edge table — the stored-index
    * serving path (the [[ivfqRerank]] analogue for the graph family):
    * a deployment persists [[knnGraph]]'s (src, dst, score) edges
    * once and answers queries against the stored table. The
    * traversal needs ONLY (src, dst) — `GraphLayoutSpec` proves the
    * stored-edge scan's read schema carries no score column — and
    * returns answers identical to the in-session [[graphTopK]] for
    * the same parameters. `centroids` are the seed cells' fit
    * (persisted next to the index in a deployment, like the IVF
    * family's). */
  def graphTopKFromIndex(edges: DataFrame, corpus: DataFrame,
                         queries: DataFrame, k: Int,
                         centroids: Array[Array[Double]],
                         beam: Int = 24, hops: Int = 2,
                         seedProbe: Int = 2): DataFrame = {
    val assigned = assignCells(corpus, centroids)
      .select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"), col("cid"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    Materialize.withCached(assigned) {
      searchOverEdges(assigned, edges.select(col("src"), col("dst")),
        queries, k, centroids, beam, hops, seedProbe)
    }
  }

  /** The traversal half shared by [[graphTopK]] and
    * [[graphTopKFromIndex]]: seed from the `seedProbe` nearest cells,
    * then `hops` rounds of best-first beam expansion over the
    * (symmetrized, cached) edge table.
    *
    * EAGER per hop: each hop's frontier is a [[graft.Materialize.barrier]]
    * before the next hop expands it, so the frontier STAYS DISTRIBUTED
    * (an earlier collect-per-hop shape funneled |Q|·beam rows through
    * the driver each hop) while keeping both measured wins of eager
    * truncation: (1) the lazy iterated shape re-optimizes an
    * ever-deepening union-of-joins tree on EVERY downstream action,
    * ~2 s/action of driver planning by hop 3 at sf0.1; (2) the edge
    * cache is released before returning with zero recompute risk, since
    * the returned plan reads only the final frontier, which the caller
    * owns and may [[graft.Materialize.release]]. */
  private def searchOverEdges(assigned: DataFrame, directed: DataFrame,
                              queries: DataFrame, k: Int,
                              centroids: Array[Array[Double]],
                              beam: Int, hops: Int,
                              seedProbe: Int): DataFrame = {
    // both directions (an in-edge is as good a shortcut as an
    // out-edge); cached because every hop joins it
    val edges = directed.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(directed.select(col("dst").as("u"), col("src").as("v")))
      .dropDuplicates("u", "v")
    val c = assigned.select(col("vec_id"), col("cv"), col("cn"))
    def centroidScores(vecCol: org.apache.spark.sql.Column) =
      graft.functions.CentroidCosines.of(vecCol, centroids)
    val q = broadcast(queries.select(col("vec_id").as("qid"),
        VectorOps.asDoubleArray(col("embedding")).as("qv"))
      .withColumn("qn", VectorOps.l2Norm(col("qv"))))
    def scoreCands(cands: DataFrame): DataFrame = cands
      .join(c, Seq("vec_id"))
      .join(q, Seq("qid"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("score",
        when(col("qn") * col("cn") > 0,
          VectorOps.dotArr(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .select(col("qid"), col("vec_id"), col("score"))
    def topBeam(scored: DataFrame, b: Int): DataFrame =
      scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))))
        .filter(col("rank") <= b)
        .select(col("qid"), col("vec_id"), col("score"))
    // seeds: members of each query's seedProbe nearest cells
    val qCells = broadcast(q
      .select(col("qid"),
        explode(graft.functions.ArgTopK.of(centroidScores(col("qv")), seedProbe))
          .as("cid")))
    val seeds = assigned.select(col("cid"), col("vec_id"))
      .join(qCells, Seq("cid"))
      .select(col("qid"), col("vec_id"))
    // each hop's |Q|·beam frontier becomes a flat LogicalRDD: the hop
    // query (a distributed join against the cached edges/vectors)
    // runs once eagerly, and hop h+1 plans against an ExistingRDD
    // scan instead of the whole hops-0..h lineage — never a
    // LocalTableScan, so no frontier row visits the driver
    val cand = Materialize.withCached(edges) {
      // query-sized: |Q|·beam rows per frontier
      Materialize.iterate(Materialize.barrier(topBeam(scoreCands(seeds), beam)), hops) { cand =>
        val expanded = cand.select(col("qid"), col("vec_id").as("u"))
          .join(edges, Seq("u"))
          .select(col("qid"), col("v").as("vec_id"))
          .dropDuplicates("qid", "vec_id")
        // query-sized: |Q|·beam rows
        Materialize.barrier(topBeam(scoreCands(expanded)
          .unionByName(cand).dropDuplicates("qid", "vec_id"), beam))
      }
    }
    cand.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 6).as("score"))
  }

  /** Candidate (qid, vec_id) pairs from multi-table hyperplane LSH:
    * `numTables` independent `bits`-plane sign buckets; a candidate is
    * any corpus vector sharing ≥1 (table, bucket) cell with the query
    * (self-pairs excluded, each pair emitted once). Both sides are
    * exploded ×numTables and shuffled on (table, bucket) — a bucket
    * equi-join, never a cross product. This is the shared pruning
    * front-end for [[lshTopK]] and ANN-candidate near-dup
    * ([[Dedup.embeddingNearDupLsh]]).
    *
    * `dim` is the embedding dimensionality (pipeline config), required
    * so that building the frame runs no job. */
  def lshCandidates(corpus: DataFrame, queries: DataFrame,
                    bits: Int = 8, seed: Long = 42L, numTables: Int = 8,
                    dim: Int): DataFrame = {
    require(dim > 0, s"lsh: dim must be the positive embedding dimension, got $dim")
    val planes = hyperplanes(dim, bits * numTables, seed)
    def tableBuckets(vecCol: org.apache.spark.sql.Column) =
      array((0 until numTables).map(t =>
        lshBucket(vecCol, planes.slice(t * bits, (t + 1) * bits))): _*)
    val cCells = corpus.select(col("vec_id"),
      posexplode(tableBuckets(VectorOps.asDoubleArray(col("embedding"))))
        .as(Seq("tbl", "bucket")))
    val qCells = queries.select(col("vec_id").as("qid"),
      posexplode(tableBuckets(VectorOps.asDoubleArray(col("embedding"))))
        .as(Seq("tbl", "bucket")))
    cCells.join(qCells, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id")).distinct()
  }

  /** ANN top-k over multi-table hyperplane LSH candidates
    * ([[lshCandidates]]). Single-table sign-LSH recall decays fast
    * (one 4-bit table measured ~0.2 on the 64-dim test embeddings);
    * L independent tables lift it to 1−(1−p^bits)^L while the
    * per-table candidate fraction stays ~1/2^bits. Candidate *pairs*
    * are deduped before scoring so a pair colliding in several tables
    * is scored once. `dim` as in [[lshCandidates]]. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 8, seed: Long = 42L, numTables: Int = 8,
              dim: Int): DataFrame = {
    val c = corpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    val q = queries.select(col("vec_id").as("qid"),
        VectorOps.asDoubleArray(col("embedding")).as("qv"))
      .withColumn("qn", VectorOps.l2Norm(col("qv")))
    val candPairs = lshCandidates(corpus, queries, bits, seed, numTables, dim)
    candPairs.join(c, "vec_id").join(broadcast(q), "qid")
      .withColumn("score",
        when(col("qn") * col("cn") > 0,
          VectorOps.dotArr(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 6).as("score"))
  }
}
