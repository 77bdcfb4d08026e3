package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, EmbeddingOps, EmbeddingQuant}
import QuerySpec._

/** Embedding operators over `embeddings` (SURVEY.md §2.5):
  * centroids, quantization, projection, and embedding/semantic
  * near-dup dedup, batch and incremental. */
object VectorQueries {

  val specs: Seq[QuerySpec] = Seq(
    // per-label embedding centroids (class prototypes / k-means
    // update step) — exact per-position means, oracle-checked in the
    // flat (label, pos, v) shape so every cell is scalar
    QuerySpec("q_embed_centroid",
      Sql("WITH ex AS (SELECT label, unnest(embedding) AS x, " +
        "CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos FROM embeddings) " +
        "SELECT label, pos, " +
        "round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS v, " +
        "count(*) AS n_vecs FROM ex GROUP BY label, pos ORDER BY label, pos",
        Some("WITH ex AS (SELECT label, pos, x FROM embeddings " +
          "LATERAL VIEW posexplode(CAST(embedding AS ARRAY<DOUBLE>)) e AS pos, x) " +
          "SELECT label, CAST(pos AS BIGINT) AS pos, " +
          "round(CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS v, count(*) AS n_vecs " +
          "FROM ex GROUP BY label, pos ORDER BY label, pos")),
      Plan("posexplode → per-(label, pos) mean with map-side partial " +
        "aggregation: the corpus is read once and the one shuffle " +
        "carries groups x dim ALREADY-AGGREGATED rows (sum, count), " +
        "not exploded elements.")) { (s, d) =>
      EmbeddingOps.centroidComponents(Tables.embeddings(s, d))
        .orderBy(col("label"), col("pos"))
    },

    // embedding-cosine near-dup on a keyed probe subset, routed
    // through LSH candidates (the scale path: bucket equi-joins, no
    // probe broadcast — the probe set is a fixed fraction of the
    // corpus, so the exact broadcast form would outgrow executor
    // memory at 100×). Checked contract, like q_similarity_lsh: the
    // exact all-pairs stats are computed ONLY as the verification
    // baseline (bounded probes at verification SF); the ANN route
    // must be sound (never over-counts) and recover >= 80% of the
    // exact near pairs (measured 96-97% at sf0.01/sf0.1 with
    // bits = 2, 8 tables).
    QuerySpec("q_dedup_embedding",
      Sql("SELECT count(*) AS n_probes, TRUE AS sound, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id % 50 = 0"),
      Plan("The near-dup route is (table, bucket) equi-joins from " +
        "multi-table LSH + id hash joins — the probe set is never " +
        "broadcast against the corpus, so the shape survives probes " +
        "defined as a fixed fraction of a 100 TB corpus. The single " +
        "BroadcastNestedLoopJoin in the plan is the EXACT verification " +
        "baseline the contract grades recall against (bounded probes " +
        "at verification SF), not the operator.")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val exact = Dedup.embeddingNearDup(probes, emb, threshold = 0.2)
        .select(col("qid"), col("n_near").as("n_exact"))
      val ann = Dedup.embeddingNearDupLsh(emb, probes, threshold = 0.2,
          bits = 2, numTables = 8, dim = 64)
        .select(col("qid"), col("n_near").as("n_ann"))
      exact.join(ann, Seq("qid"), "left")
        .na.fill(0L, Seq("n_ann"))
        .agg(count(lit(1)).as("n_probes"),
          (sum(when(col("n_ann") > col("n_exact"), 1L).otherwise(0L)) === 0)
            .as("sound"),
          (sum(col("n_exact")) === 0 ||
            sum(col("n_ann")).cast("double")
              / greatest(sum(col("n_exact")), lit(1L)) >= 0.8).as("recall_ok"))
    },

    // SemDeDup-style cluster-scoped semantic dedup as a checked
    // contract: 5% planted near-duplicate vectors (deterministic
    // per-dim perturbation, cos ≈ 0.999 to their source) must be
    // found by WITHIN-CLUSTER pair search only. sound = every drop
    // re-verified against the exact global definition (broadcast of
    // the small drop set, never all pairs); recall_ok = ≥80% of the
    // planted dups dropped
    QuerySpec("q_dedup_semantic",
      Sql("SELECT (SELECT count(*) FROM embeddings) " +
        "+ (SELECT count(*) FROM embeddings WHERE vec_id % 20 = 0) AS n_corpus, " +
        "(SELECT count(*) FROM embeddings WHERE vec_id % 20 = 0) AS n_planted, " +
        "TRUE AS sound, TRUE AS recall_ok"),
      Plan("Cluster-scoped pair search: centroids fit on a hash sample " +
        "(one cached scan), assignment is a codegen'd CentroidCosines " +
        "pass, and the near-dup join is a cid-keyed self equi-join — " +
        "pair cost bounded by Σ|cell|² with nlist grown to hold |cell| " +
        "constant, never corpus². The exact-definition soundness " +
        "re-check broadcasts only the small DROP set against the " +
        "corpus, so the contract's truth branch stays bounded at any " +
        "verification SF.")) { (s, d) =>
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("embedding"))
      val planted = emb.filter(pmod(col("vec_id"), lit(20)) === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"), (v, i) =>
            v + (pmod(col("vec_id") * 7 + i, lit(5)) - lit(2)).cast("double")
              * lit(0.004)).as("embedding"))
      val corpus = emb.unionByName(planted)
      // the paper's configuration: nlist grows with the corpus so
      // |cell| (and the Σ|cell|² pair cost) stays bounded; the count
      // is parquet-footer metadata, not a data scan. The centroid
      // fit runs on a hash sample capped at ~16·nlist rows so fit
      // cost is O(nlist²) regardless of corpus size.
      val n = corpus.count()
      val nlist = math.max(8L, n / 256L).toInt
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      // res is pinned (3 narrow columns) and feeds BOTH contract
      // branches, so the cid-keyed pair join runs once
      val res = Dedup.semanticDedup(corpus, nlist, threshold = 0.9,
        sampleMod = sampleMod)
      // soundness truth branch: re-verify a deterministic SCALE-CAPPED
      // panel of the drop set against the exact global definition —
      // mod-7 thinning (planted ids are ≡ 0 mod 20: a mod-20 sampler
      // would select exactly the planted drops and verify nothing
      // else), then ordered-by-id and capped at 256, so the branch
      // costs ≤ 256·|corpus| exact cosines at ANY scale. This is the
      // q_similarity probe-panel rule applied to the truth side: the
      // UNCAPPED |drops|/7 × |corpus| branch was 47.8 s of the key's
      // 61.3 s at sf10 — quadratic by construction, since |drops| ∝ n
      // while the OPERATOR itself is 10.5 s there (hier cells).
      val panel = res.filter(!col("keep")
          && pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("yid"))
        .orderBy(col("yid")).limit(256)
      val droppedVec = broadcast(panel
        .join(corpus.select(col("vec_id").as("yid"), col("embedding").as("yv")),
          Seq("yid")))
      val confirmed = droppedVec
        .join(corpus.select(col("vec_id").as("xid"), col("embedding").as("xv")),
          col("xid") < col("yid"))
        .filter(VectorOps.cosineSim(col("xv"), col("yv")) > 0.9)
        .select(col("yid")).distinct()
        .agg(count(lit(1)).as("n_confirmed"))
      val nPanel = panel.agg(count(lit(1)).as("n_dropped_sampled"))
      res.agg(
          count(lit(1)).as("n_corpus"),
          sum(when(col("vec_id") >= 1000000L, 1L).otherwise(0L)).as("n_planted"),
          sum(when(!col("keep") && col("vec_id") >= 1000000L, 1L).otherwise(0L))
            .as("n_planted_dropped"))
        .crossJoin(broadcast(nPanel))
        .crossJoin(broadcast(confirmed))
        .select(col("n_corpus"), col("n_planted"),
          (col("n_dropped_sampled") === col("n_confirmed")).as("sound"),
          (col("n_planted_dropped").cast("double")
            >= col("n_planted") * 0.8).as("recall_ok"))
    },

    // vector-space incremental admission as a checked contract (the
    // embedding sibling of q_dedup_incr_near): a pinned batch of
    // planted near-copies (cos≈0.9999, must be flagged) and far
    // variants (cos«0.9) is admitted against the full corpus through
    // the LSH bucket index + exact-cosine verify on candidates only.
    // flagged ⊆ exact bipartite truth (soundness; truth = broadcast
    // of the ≤200-row pinned batch against the corpus, linear) and
    // recall ≥0.8 of the truth — contract booleans must come out TRUE
    QuerySpec("q_dedup_incr_embed",
      Sql("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 2000"),
      Plan("Vector-space incremental admission: the pinned planted batch " +
        "left-joins the corpus's LSH bucket table on (tbl, bucket) — " +
        "candidates only, never O(corpus) — and the exact cosine " +
        "runs on candidates alone. The truth branch broadcasts the " +
        "<=200-row batch against the corpus (linear, bounded panel). " +
        "Both sides get their per-table buckets from one per-row " +
        "kernel (no shuffle); the stored vectors join by index id and " +
        "one exact-cosine vote folds to a verdict per vector, no " +
        "groupBy and no join back to the batch. The same plan runs on " +
        "a streaming batch, with zero state rows; at 100 TB the bucket " +
        "table is the persisted index.")) { (s, d) =>
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("embedding"))
      val stratum = emb.filter(pmod(col("vec_id"), lit(20)) === 0
        && col("vec_id") < 2000)
      def planted(offset: Long, eps: Double) = stratum
        .select((col("vec_id") + lit(offset)).as("vec_id"),
          transform(col("embedding"), (v, i) =>
            v + (pmod(col("vec_id") * 7 + i, lit(5)) - lit(2)).cast("double")
              * lit(eps)).as("embedding"))
      val batch = planted(1000000L, 0.004).unionByName(planted(2000000L, 0.8))
      val res = Dedup.incrementalEmbeddingAdmission(batch, emb,
        threshold = 0.9, dim = 64)
      val flagged = res.filter(col("status") === "near_dup")
        .select(col("vec_id"), lit(1).as("f"))
      val truth = Dedup.embeddingNearDup(batch, emb, threshold = 0.9)
        .filter(col("n_near") > 0)
        .select(col("qid").as("vec_id"), lit(1).as("t"))
      batch.select(col("vec_id"))
        .join(flagged, Seq("vec_id"), "left")
        .join(truth, Seq("vec_id"), "left")
        .agg(
          count(lit(1)).as("n_batch"),
          coalesce(max(when(col("f") === 1 && col("t").isNull, 1).otherwise(0)),
            lit(0)).as("unsound"),
          coalesce(sum(coalesce(col("t"), lit(0))), lit(0)).cast("double").as("n_exact"),
          coalesce(sum(when(col("f") === 1 && col("t") === 1, 1).otherwise(0)),
            lit(0)).cast("double").as("n_hit"))
        .select(col("n_batch"), (col("unsound") === 0).as("sound"),
          (col("n_hit") >= col("n_exact") * 0.8).as("recall_ok"))
    },

    // incremental SEMANTIC admission against a STORED index (the
    // round-13 gap: semantic dedup re-paid its centroid fit +
    // quantize + assignment every run while every other family had a
    // stored lifecycle): the cid-bucketed int8 assignment + two-level
    // centroid sidecar persist through IndexCatalog (params include
    // the corpus vintage), the pinned batch of planted near-copies
    // (cos≈0.9999, must flag) and far variants (must pass) is
    // admitted against the STORED cells with int8 prefilter + exact
    // float verify on candidates only. sound/recall vs the exact
    // bipartite truth (broadcast ≤200-row batch); reuse_ok = the
    // second catalog open resolves the same index from its manifest
    // alone — the build closure THROWS if invoked again
    QuerySpec("q_dedup_incr_semantic",
      Sql("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok, TRUE AS reuse_ok " +
        "FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 2000"),
      Plan("Admission against the STORED semantic index: one per-row " +
        "kernel quantizes each batch vector and the HierCellId codegen " +
        "pass hier-assigns it, O(batch·√nlist); candidates come from " +
        "a cid left join into the stored int8 vectors, the int8 " +
        "pre-filter bounds the float verify to margin survivors, and " +
        "one exact-cosine vote joins the float corpus by id and folds " +
        "to a verdict per vector — per ingest the corpus is never " +
        "re-fit or re-quantized. The same plan runs on a streaming " +
        "batch with zero state rows. The stored vectors are read " +
        "whole: no cell's files are pruned (ROADMAP item 13). The " +
        "catalog reopen is a manifest read: zero rows.")) { (s, d) =>
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("embedding"))
      val stratum = emb.filter(pmod(col("vec_id"), lit(20)) === 0
        && col("vec_id") < 2000)
      def planted(offset: Long, eps: Double) = stratum
        .select((col("vec_id") + lit(offset)).as("vec_id"),
          transform(col("embedding"), (v, i) =>
            v + (pmod(col("vec_id") * 7 + i, lit(5)) - lit(2)).cast("double")
              * lit(eps)).as("embedding"))
      val batch = planted(1000000L, 0.004).unionByName(planted(2000000L, 0.8))
      val n = emb.count()
      val nlist = math.max(8L, n / 256L).toInt
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      val params = Map("family" -> "semdedup", "sf" -> d,
        "nlist" -> nlist.toString, "seed" -> "42",
        "mod" -> sampleMod.toString, "n" -> n.toString)
      val (dir1, _) = graft.IndexCatalog.openOrBuild(s,
        graft.IndexMemo.catalogRoot, "semdedup_incr", params)(stg =>
        Dedup.buildSemanticIndex(emb, nlist, stg, sampleMod = sampleMod))
      val (dir2, reused2) = graft.IndexCatalog.openOrBuild(s,
        graft.IndexMemo.catalogRoot, "semdedup_incr", params)(_ =>
        throw new IllegalStateException(
          "catalog reopen must not rebuild a vintage-matched index"))
      val reuseOk = reused2 && dir1 == dir2
      val res = Dedup.incrementalSemanticAdmission(batch, emb, dir2,
        threshold = 0.9)
      val flagged = res.filter(col("status") === "near_dup")
        .select(col("vec_id"), lit(1).as("f"))
      val truth = Dedup.embeddingNearDup(batch, emb, threshold = 0.9)
        .filter(col("n_near") > 0)
        .select(col("qid").as("vec_id"), lit(1).as("t"))
      batch.select(col("vec_id"))
        .join(flagged, Seq("vec_id"), "left")
        .join(truth, Seq("vec_id"), "left")
        .agg(
          count(lit(1)).as("n_batch"),
          coalesce(max(when(col("f") === 1 && col("t").isNull, 1).otherwise(0)),
            lit(0)).as("unsound"),
          coalesce(sum(coalesce(col("t"), lit(0))), lit(0)).cast("double").as("n_exact"),
          coalesce(sum(when(col("f") === 1 && col("t") === 1, 1).otherwise(0)),
            lit(0)).cast("double").as("n_hit"))
        .select(col("n_batch"), (col("unsound") === 0).as("sound"),
          (col("n_hit") >= col("n_exact") * 0.8).as("recall_ok"),
          lit(reuseOk).as("reuse_ok"))
    },

    // int8 embedding quantization with per-vector distortion check:
    // every vector must reconstruct with cosine ≥ 0.995
    QuerySpec("q_embed_quant",
      Sql("SELECT TRUE AS quant_ok, count(*) AS n_vecs FROM embeddings"),
      Plan("Explode → window-max → single hash aggregate: every " +
        "per-element step is codegen'd scalar math (no interpreted HOF " +
        "lambdas — the nested-transform form re-derived the scale per " +
        "element, O(dim²) per vector); window and aggregate both key " +
        "on vec_id, so the exploded rows shuffle once.")) { (s, d) =>
      EmbeddingQuant.quantReport(Tables.embeddings(s, d))
        .groupBy(col("quant_ok"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("quant_ok"))
    },

    // Johnson-Lindenstrauss signed random projection 64 -> 8 dims:
    // implicit LCG sign matrix (nothing broadcast), per-element e6
    // quantization before exact integer sums — the wide-vector
    // shrink step before ANN / clustering shuffles
    QuerySpec("q_embed_project",
      // JL signed projection: the implicit xorshift-multiply sign
      // matrix recomputed in SQL (exact 64-bit integer math, every
      // intermediate < 2^52 so DuckDB's strict BIGINT never overflows);
      // unnest + generate_subscripts MUST share one SELECT (either
      // alone in a subquery re-expands per row)
      Sql("WITH ux AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos, " +
        "unnest(embedding) AS x FROM embeddings), " +
        "ex AS (SELECT vec_id, pos, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS q " +
        "FROM ux), " +
        "hj AS (SELECT vec_id, q, j, (pos*131 + j)*2654435761 + 12345 AS h1 " +
        "FROM ex CROSS JOIN (SELECT unnest(range(8)) AS j) t), " +
        "h2t AS (SELECT vec_id, q, j, " +
        "(xor(h1, h1 >> 13) % 1048573)*2654435761 + 999983 AS h2 FROM hj), " +
        "sg AS (SELECT vec_id, j, " +
        "CASE WHEN xor(h2, h2 >> 17) % 2 = 0 THEN q ELSE -q END AS sq FROM h2t) " +
        "SELECT vec_id, " +
        (0 until 8).map(j =>
          s"CAST(sum(CASE WHEN j = $j THEN sq END) AS BIGINT) AS p${j}_e6").mkString(", ") +
        " FROM sg GROUP BY vec_id ORDER BY vec_id",
        Some("WITH ux AS (SELECT vec_id, pos, x FROM embeddings " +
          "LATERAL VIEW posexplode(CAST(embedding AS ARRAY<DOUBLE>)) e AS pos, x), " +
          "ex AS (SELECT vec_id, CAST(pos AS BIGINT) AS pos, " +
          "CAST(floor(x * 1000000.0D) AS BIGINT) AS q FROM ux), " +
          "hj AS (SELECT vec_id, q, j, (pos*131 + j)*2654435761 + 12345 AS h1 " +
          "FROM ex LATERAL VIEW explode(sequence(0, 7)) t AS j), " +
          "h2t AS (SELECT vec_id, q, j, " +
          "((h1 ^ shiftright(h1, 13)) % 1048573)*2654435761 + 999983 AS h2 FROM hj), " +
          "sg AS (SELECT vec_id, j, " +
          "CASE WHEN (h2 ^ shiftright(h2, 17)) % 2 = 0 THEN q ELSE -q END AS sq FROM h2t) " +
          "SELECT vec_id, " +
          (0 until 8).map(j =>
            s"sum(CASE WHEN j = $j THEN sq END) AS p${j}_e6").mkString(", ") +
          " FROM sg GROUP BY vec_id ORDER BY vec_id")),
      Plan("The sign matrix is IMPLICIT (LCG hash of the index pair): " +
        "nothing is broadcast or joined. posexplode feeds 8 " +
        "conditional integer sums in one partial+final HashAggregate " +
        "keyed by vec_id — map-side combine collapses each vector " +
        "inside its input partition, so the exchange moves 8 longs " +
        "per vector instead of the 64-float embedding: the projection " +
        "SHRINKS shuffle volume 4x before any downstream ANN/cluster " +
        "step.")) { (s, d) =>
      EmbeddingOps.projectSigned(Tables.embeddings(s, d), outDim = 8)
        .orderBy(col("vec_id"))
    }
  )
}
