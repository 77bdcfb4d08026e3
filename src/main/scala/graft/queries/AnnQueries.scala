package graft.queries

import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators.{AnnIndex, Similarity}
import QuerySpec._
import Common._

/** Similarity search over `embeddings` (SURVEY.md §2.5): exact and
  * filtered top-k, LSH, IVF, IVF-PQ, projection and graph ANN with
  * checked recall contracts, and the stored-index append, delete and
  * upsert lifecycles. */
object AnnQueries {

  private def graphBaseKey(d: String, nlist: Int, sampleMod: Int,
                           init: String) =
    s"graph_base|$d|g=24|spill=3|refine=0|rand=4|nlist=$nlist" +
      s"|mod=$sampleMod|init=$init|seed=42|nBuckets=16"

  val specs: Seq[QuerySpec] = Seq(
    // brute-force cosine top-5 for keyed probe queries (exact ANN
    // baseline). All six similarity queries pin the probe set to
    // vec_id % 100 == 0 AND vec_id < 2000: a no-op at sf<=0.1 (every
    // vec_id qualifies), a CONSTANT <=20-probe panel beyond — the
    // probe panel is pipeline config, and an unbounded one makes the
    // deliberate |Q|x|C| exact-truth branches (not the ANN paths)
    // dominate large-sf benches
    QuerySpec("q_similarity_topk",
      Sql(s"WITH scored AS (SELECT a.vec_id AS qid, b.vec_id AS neighbor_id, " +
        s"${cosSql("a", "b")} AS score " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id % 100 = 0 AND a.vec_id < 2000 AND a.vec_id <> b.vec_id), " +
        "ranked AS (SELECT qid, neighbor_id, score, " +
        "row_number() OVER (PARTITION BY qid ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
        "SELECT qid, rank, neighbor_id, round(score,6) AS score FROM ranked " +
        "WHERE rank <= 5 ORDER BY qid, rank",
        Some(s"WITH scored AS (SELECT a.vec_id AS qid, b.vec_id AS neighbor_id, ${cosTwin("a", "b")} AS score " +
          "FROM embeddings a JOIN embeddings b ON a.vec_id % 100 = 0 AND a.vec_id < 2000 " +
          "AND a.vec_id <> b.vec_id), " +
          "ranked AS (SELECT qid, neighbor_id, score, " +
          "row_number() OVER (PARTITION BY qid ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
          "SELECT qid, rank, neighbor_id, round(score,6) AS score FROM ranked " +
          "WHERE rank <= 5 ORDER BY qid, rank")),
      Plan("Exact baseline, so the BroadcastNestedLoopJoin is deliberate: " +
        "the (small) query side is broadcast and the corpus streams " +
        "through one codegen'd dot-product scan (native DotProduct " +
        "expression), then per-query top-k via WindowGroupLimit. The " +
        "scale paths that avoid the cross product are q_similarity_lsh " +
        "(bucket join) and q_similarity_ivf (centroid-pruned join).")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Similarity.bruteForceTopK(emb, queries, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // metadata-constrained vector search: top-5 within the query's
    // own label slice — the filter rides the JOIN KEY (hash join on
    // label), never a post-filter of oversampled neighbors
    QuerySpec("q_similarity_filtered",
      Sql(s"WITH scored AS (SELECT a.vec_id AS qid, b.vec_id AS neighbor_id, " +
        s"${cosSql("a", "b")} AS score " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id % 100 = 0 AND a.vec_id < 2000 " +
        "AND a.label = b.label AND a.vec_id <> b.vec_id), " +
        "ranked AS (SELECT qid, neighbor_id, score, " +
        "row_number() OVER (PARTITION BY qid ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
        "SELECT qid, rank, neighbor_id, round(score,6) AS score FROM ranked " +
        "WHERE rank <= 5 ORDER BY qid, rank",
        Some(s"WITH scored AS (SELECT a.vec_id AS qid, b.vec_id AS neighbor_id, ${cosTwin("a", "b")} AS score " +
          "FROM embeddings a JOIN embeddings b ON a.vec_id % 100 = 0 AND a.vec_id < 2000 " +
          "AND a.label = b.label AND a.vec_id <> b.vec_id), " +
          "ranked AS (SELECT qid, neighbor_id, score, " +
          "row_number() OVER (PARTITION BY qid ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
          "SELECT qid, rank, neighbor_id, round(score,6) AS score FROM ranked " +
          "WHERE rank <= 5 ORDER BY qid, rank")),
      Plan("The metadata constraint rides the JOIN KEY: Catalyst extracts " +
        "the label equality into a BroadcastHashJoin (probe side " +
        "broadcast) with the qid≠vec_id residual, so the scored pair " +
        "count shrinks by the filter's selectivity and top-k stays " +
        "exact within the slice — no recall-losing post-filter, no " +
        "nested-loop cross product.")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Similarity.filteredTopK(emb, queries, k = 5, constraintCols = Seq("label"))
        .orderBy(col("qid"), col("rank"))
    },

    // LSH-bucketed ANN (the scale path) as a CHECKED recall contract:
    // multi-table LSH top-5 must recover ≥50% of the exact top-5
    // (measured 0.6-0.92 across SFs; the bound is the contract, the
    // oracle checks the boolean + the probe count)
    QuerySpec("q_similarity_lsh",
      Sql("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      val ann = Similarity.lshTopK(emb, queries, k = 5, bits = 4, numTables = 8,
        dim = 64)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      Similarity.meanRecall(ann, exact)
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    },

    // IVF-partitioned ANN (seeded-kmeans centroid-pruned candidate
    // join), same checked recall contract (measured 0.59-0.92)
    QuerySpec("q_similarity_ivf",
      Sql("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000"),
      Plan("Centroids fit on a deterministic hash-sample CACHED before " +
        "the k-means loop — no pre-count pass, the corpus is read " +
        "once. Probing is a hash join on cid (candidates ~ " +
        "|Q|·|C|·nProbe/nlist); centroid scoring is one codegen'd " +
        "CentroidCosines pass, constant code size at any nlist. On " +
        "disk the same cid bucketing prunes unprobed cells' FILES " +
        "(IvfLayoutSpec).")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      val ann = Similarity.ivfTopK(emb, queries, k = 5, nlist = 16, nProbe = 4)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      Similarity.meanRecall(ann, exact)
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    },

    // IVF × int8 two-stage ANN (quantized candidate scan + exact
    // re-rank of the top rerank·k only — the memory-bounded IVF+PQ
    // shape of a production vector store), same checked recall
    // contract against the exact top-5
    QuerySpec("q_similarity_ivfq",
      Sql("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000"),
      Plan("IVF × int8 two-stage: stage 1 assigns cells AND scores " +
        "candidates on the quantized vectors only (cosine is " +
        "scale-invariant, so `scale` never enters the ranking), " +
        "keeping top rerank·k per query; stage 2 re-ranks exactly " +
        "via a KEYED join of just those candidates to the float " +
        "vectors. At 100 TB the bulk scan reads the 4× smaller " +
        "stored int8 index (cid-bucketed — IvfqLayoutSpec proves " +
        "the stage-1 scan never reads the float column) and full " +
        "precision is |Q|·rerank·k point lookups.")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      val ann = Similarity.ivfTopKQuantized(emb, queries, k = 5,
        nlist = 16, nProbe = 4, rerank = 4)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      Similarity.meanRecall(ann, exact)
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    },

    // JL-within-IVF two-stage ANN: coarse rank over the 16-long
    // integer projection of the nProbe probed CELLS only (narrow
    // cid-keyed scan, no floats in stage 1), exact re-rank of a
    // probed-fraction candidate budget — same checked recall
    // contract (measured ~0.84-0.96 after the round-10 sign-hash fix)
    QuerySpec("q_similarity_proj",
      Sql("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000"),
      Plan("Stage 1 never touches a float vector: the (vec_id, cid, " +
        "16-long projection) index — pre-materializable cid-bucketed, " +
        "ProjLayoutSpec proves the stored form scans float-free — is " +
        "hash-joined on the CELL ID against the broadcast probed-cell " +
        "query table, so only the nProbe/nlist probed fraction of the " +
        "corpus is coarse-scored (codegen'd scalar arithmetic), and " +
        "WindowGroupLimit prunes each partition to the LITERAL " +
        "candidate budget — max(rerank*k, probed/keepDenom), a " +
        "fraction of the PROBED cells that is o(n) under the IVF rule " +
        "of growing nlist with the corpus — before the qid exchange. " +
        "Stage 2 re-reads full vectors for the kept candidates only, " +
        "via a keyed join — the IVF+PQ two-tier storage layout " +
        "expressed with a JL index.")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      val ann = Similarity.projTopK(emb, queries, k = 5)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      Similarity.meanRecall(ann, exact)
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    },

    // sf-SCALED probe panel (round-9 advice): every other ANN key
    // pins its probe set for bench comparability, so this key alone
    // retains QUERY-COUNT scaling coverage — probes are the UNCAPPED
    // 1% vec_id stratum, answered by IVF with corpus-scaled nlist
    // (|cell| ≈ 256 constant). The contract is coverage (≥95% of
    // probes fill their top-k) rather than recall, because an
    // exact-truth branch over a probe set that grows with the corpus
    // is quadratic at scale — precisely what the pinned-panel keys'
    // recall contracts exist to avoid
    QuerySpec("q_similarity_scaled",
      Sql("SELECT count(*) AS n_queries, TRUE AS coverage_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0"),
      Plan("The one ANN key whose probe set GROWS with the corpus (the " +
        "uncapped 1% vec_id stratum): IVF with corpus-scaled nlist " +
        "holds |cell| ~ 256 constant, so the candidate join costs " +
        "|Q| * nProbe * 256 scored rows — linear in |Q|, never " +
        "|Q| * n. The contract is top-k coverage, not recall: an " +
        "exact-truth branch over a growing probe set would be the " +
        "quadratic scan the pinned-panel keys' contracts exist to " +
        "avoid.")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      val n = emb.count()
      val nlist = math.max(16L, n / 256L).toInt
      val initMode = if (nlist > 64) "random" else "k-means||"
      // centroid fit on a ~16·nlist hash sample (the semanticDedup
      // rule): without it the KMeans fit alone scans the full corpus
      // × maxIter at large nlist (~30 s of the sf10 bench)
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      val ann = Similarity.ivfTopK(emb, queries, k = 5, nlist = nlist,
        nProbe = 4, initMode = initMode, sampleMod = sampleMod)
      val perQ = ann.groupBy(col("qid")).agg(count(lit(1)).as("n_found"))
      queries.select(col("vec_id").as("qid"))
        .join(perQ, Seq("qid"), "left").na.fill(0L, Seq("n_found"))
        .agg(count(lit(1)).as("n_queries"),
          (sum(when(col("n_found") >= 5, 1L).otherwise(0L)).cast("double")
            / count(lit(1)) >= 0.95).as("coverage_ok"))
    },

    // graph-traversal ANN (the NN-Descent index + DiskANN-style
    // seed-and-walk search — the remaining major ANN family next to
    // LSH/IVF/JL): k-NN graph from within-cell + random-partner
    // candidates refined one NN-Descent round, queries seeded from
    // their 2 nearest cells and expanded 2 beam-search hops over the
    // cached edge table; same checked recall contract (measured
    // 0.80-0.84 vs exact top-5)
    QuerySpec("q_similarity_graph",
      Sql("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000"),
      Plan("Graph-ANN (NN-Descent index + seed-and-walk search), every " +
        "stage an equi-join: the k-NN graph builds from SPILLED-cell " +
        "pairs — each vector joins candidates in its top-2 cells " +
        "(cid-keyed, sum-of-cell-squared bounded; argmax-only cells " +
        "leave the graph cell-DISCONNECTED on clustered data, recall " +
        "stuck at seed coverage) — plus hash-bucket random partners, " +
        "refined one neighbor-of-neighbor round (<= n*(2g)^2 pairs) " +
        "with each round's n*g edge table materialized eagerly (the " +
        "refinement reads its predecessor from three join sides); " +
        "queries seed from their max(2, nlist/32) nearest cells and " +
        "each beam-search hop is frontier-join-edges on the " +
        "candidate id + a per-query beam re-rank, so a hop costs " +
        "|Q|*beam*2g scored rows REGARDLESS of corpus size; each " +
        "hop's |Q|*beam frontier is re-planted as a local relation " +
        "(lineage truncation — the lazy iterated tree re-paid ~2s of " +
        "driver planning per action by hop 3). Production stores the " +
        "edge table + centroid sidecar (AnnIndex.buildGraphIndex) " +
        "and appends incrementally (insert-as-search, touched-bucket " +
        "overwrite). No stage is quadratic in the corpus; nlist " +
        "grows with n to hold cells constant.")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      // nlist grows with the corpus to hold |cell| (and the graph
      // build's within-cell pair cost) constant — the semanticDedup
      // scaling rule; random init once cells reach the hundreds
      // (k-means||'s driver-local final step dominates there)
      val n = emb.count()
      // |cell| ≈ 128 (denom halved from the IVF keys' 256): with the
      // top-3 spill the init pair cost is cells·(3·|cell|)² =
      // 9·n·|cell|, so halving |cell| pays for the spill — measured
      // sf10 build wall lands at the old spill-2 level while recall
      // climbs (see matrix below)
      val nlist = math.max(16L, n / 128L).toInt
      val initMode = if (nlist > 64) "random" else "k-means||"
      // fit on a ~16·nlist hash sample — see q_similarity_scaled
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      // seed width scales WITH the cell count (a fixed 2-cell seed
      // covers a vanishing corpus fraction as nlist grows — the
      // round-10 sf1 oracle re-check caught recall decaying 0.80 →
      // 0.26 under fixed seeding). Search cost stays o(n): seeds are
      // |seedProbe|·~128 rows and each hop is |Q|·beam·2g.
      // Round 13 widened the SERVE side only (build untouched): the
      // residual recall gap was measured serve-limited at sf1
      // (beam 48→96: 0.88→0.96, identical build) and seed-limited at
      // sf10 (beam alone 0.86→0.88; nlist/32→nlist/16 seeding with
      // beam 96: →0.93) — while the build-side levers were measured
      // NOT worth their wall (g=32: 0.89; NN-Descent refine at g=32
      // spilled its 820M-pair round at sf10)
      val seedProbe = math.max(2, nlist / 16)
      // round-11 sf1 re-measure: recall was STILL ~0.3 at sf1 —
      // the graph was CELL-DISCONNECTED (see
      // Similarity.assignTopCells) and the spilled build assignment
      // fixed the topology. Round 12 tuned the build on a measured
      // (spill, |cell|, g) matrix at three decades: top-3 spill at
      // the old |cell|=256 lifted sf1 0.79 → 0.88 but SANK sf10 to
      // 0.75 at 4× wall (2.25× candidates make the top-g cut
      // over-local, crowding out the long-range edges the walk
      // needs); halving |cell| to 128 restores the pair budget and
      // g=24 keeps the long-range edges — recall 0.98 / 0.88 / 0.86
      // at sf0.1 / sf1 / sf10 with sf10 build wall at the old
      // spill-2 level. NN-Descent refinement stays off (measured
      // marginal at every decade: sf0.1 +0.02 for +10 s, sf10 +0.00
      // for +47 s) and remains a [[Similarity.knnGraph]] knob for
      // deployments whose degree budget can't cover the topology.
      //
      // Round 12 also made this the STORED-index path: the build
      // persists edges + centroid sidecar once per session
      // (graft.IndexMemo, shared with q_similarity_graph_scaled) and
      // the key serves entirely from disk — the deployment shape,
      // with serving parity to the in-session build proved by
      // GraphLayoutSpec.
      val idxDir = graft.IndexMemo.dir(
        graphBaseKey(d, nlist, sampleMod, initMode))(base =>
        AnnIndex.buildGraphIndex(emb, base, g = 24, nlist = nlist,
          refineRounds = 0, randPerVec = 4, initMode = initMode,
          sampleMod = sampleMod, spillCells = 3))
      // the stored-graph traversal (eager per-hop checkpoints) and
      // the brute-force truth are independent pipelines — concurrent
      // job groups (the q_curate_media overlap rule)
      val fAnn = bgJob(AnnIndex.graphTopKFromPath(s, idxDir, emb, queries,
        k = 5, beam = 96, hops = 3, seedProbe = seedProbe))
      // query-sized: k rows per query, computed WHILE fAnn traverses
      val exact = Materialize.barrier(Similarity.bruteForceTopK(emb, queries, k = 5))
      // bound raised 0.65 → 0.75 (r12) → 0.85 (r13, after the serve
      // retune measured 0.98 / 0.96 / 0.93 at sf0.1 / sf1 / sf10):
      // the contract enforces the scale margin itself
      Similarity.meanRecall(await(fAnn), exact)
        .select(col("n_queries"), (col("recall") >= 0.85).as("recall_ok"))
    },

    // the graph twin of q_similarity_scaled (round-11 advice: the
    // IVF and JL families carry corpus-scaled probe contracts, the
    // graph family only a pinned panel): probes are the UNCAPPED 1%
    // vec_id stratum, served from the SAME stored graph index as
    // q_similarity_graph (built once per session), traversed with
    // the now-distributed frontier — each hop is a barrier, so
    // no frontier row visits the driver and the probe set can scale
    // with the corpus. Contract: ≥95% of probes fill their top-k
    // (the q_similarity_scaled coverage rule — an exact-truth branch
    // over a growing probe set would be quadratic, which is what the
    // pinned panel's recall contract exists to avoid)
    QuerySpec("q_similarity_graph_scaled",
      Sql("SELECT count(*) AS n_queries, TRUE AS coverage_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      val n = emb.count()
      val nlist = math.max(16L, n / 128L).toInt
      val initMode = if (nlist > 64) "random" else "k-means||"
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      // serve params deliberately NOT the panel key's recall-tuned
      // ones (beam 96, nlist/16 seeding): this key's contract is
      // top-k COVERAGE over a probe set that grows with the corpus,
      // and its job is proving the distributed frontier at that
      // scale — the narrower beam keeps the |Q|·beam hop joins at
      // the pinned cost while the panel key carries the recall bar
      val seedProbe = math.max(2, nlist / 32)
      val idxDir = graft.IndexMemo.dir(
        graphBaseKey(d, nlist, sampleMod, initMode))(base =>
        AnnIndex.buildGraphIndex(emb, base, g = 24, nlist = nlist,
          refineRounds = 0, randPerVec = 4, initMode = initMode,
          sampleMod = sampleMod, spillCells = 3))
      val ann = AnnIndex.graphTopKFromPath(s, idxDir, emb, queries,
        k = 5, beam = 48, hops = 3, seedProbe = seedProbe)
      val perQ = ann.groupBy(col("qid")).agg(count(lit(1)).as("n_found"))
      queries.select(col("vec_id").as("qid"))
        .join(perQ, Seq("qid"), "left").na.fill(0L, Seq("n_found"))
        .agg(count(lit(1)).as("n_queries"),
          (sum(when(col("n_found") >= 5, 1L).otherwise(0L)).cast("double")
            / count(lit(1)) >= 0.95).as("coverage_ok"))
    },

    // JL ANN at DEPLOYMENT configuration (the round-10 advice gap:
    // q_similarity_proj pins nlist=16 for bench comparability, so its
    // o(n) budget claim rested on the docstring's scaling rule rather
    // than a measured key): corpus-scaled nlist (|cell| ≈ 256), fit
    // on a ~16·nlist hash sample, uncapped 1% probe stratum — the
    // q_similarity_scaled coverage contract over the JL path. The
    // per-query budget is probed/2 ≈ 256·nProbe/2 rows — CONSTANT
    // under this scaling, making the o(n) claim a measured fact
    QuerySpec("q_similarity_proj_scaled",
      Sql("SELECT count(*) AS n_queries, TRUE AS coverage_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      val n = emb.count()
      val nlist = math.max(16L, n / 256L).toInt
      val initMode = if (nlist > 64) "random" else "k-means||"
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      val ann = Similarity.projTopK(emb, queries, k = 5, nlist = nlist,
        nProbe = 8, initMode = initMode, sampleMod = sampleMod)
      val perQ = ann.groupBy(col("qid")).agg(count(lit(1)).as("n_found"))
      queries.select(col("vec_id").as("qid"))
        .join(perQ, Seq("qid"), "left").na.fill(0L, Seq("n_found"))
        .agg(count(lit(1)).as("n_queries"),
          (sum(when(col("n_found") >= 5, 1L).otherwise(0L)).cast("double")
            / count(lit(1)) >= 0.95).as("coverage_ok"))
    },

    // stored-ANN-index incremental maintenance as a checked contract
    // (the admission-style key for AnnIndex.appendIvfq): build the
    // cid-partitioned int8 index + centroid sidecar on the corpus
    // MINUS a pinned batch, append the batch under the frozen stored
    // centroids, serve the pinned probe panel entirely from disk.
    // parity_ok = served results are IDENTICAL to an in-session
    // rebuild over the full corpus with the same centroids (append
    // and rebuild share one assignment function, so this is exact,
    // not approximate); recall_ok = the served answers clear the same
    // ≥0.5 recall contract every ANN family is gated on. Eager by
    // necessity: the index lives in a temp dir deleted before return
    QuerySpec("q_ann_append",
      Sql("SELECT count(*) AS n_queries, TRUE AS recall_ok, TRUE AS parity_ok " +
        "FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000")) { (s, d) =>
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d)
      // pinned ≤100-row batch (pipeline config, the q_dedup_incr_*
      // convention), disjoint from the %100 probe panel
      val batch = emb.filter(pmod(col("vec_id"), lit(20)) === 13
        && col("vec_id") < 2000)
      val old = emb.join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Materialize.withTempDir("graft_ann_append") { dir =>
        // the BASE index (corpus-minus-batch, frozen params) is a pure
        // function of the fixture, so it is built ONCE per session and
        // file-cloned here — q_ann_delete mutates the same base, which
        // is exactly how a deployment amortizes its stored index
        // (graft.IndexMemo; the mutation+serve contract runs on the
        // private clone, untouched)
        graft.IndexMemo.cloneDir(ivfqBaseKey(d), dir)(base =>
          AnnIndex.buildIvfqIndex(old, base, nlist = 16))
        val centroids = AnnIndex.readCentroids(s, dir)
        AnnIndex.appendIvfq(batch, dir)
        // |Q|·k result sets are contract-sized: collect each pipeline
        // ONCE and run parity + recall driver-side (sameResults is
        // exceptAll-both-ways; recallOf is meanRecall) — one job per
        // pipeline instead of a job per check. The three pipelines
        // (stored serve, in-session rebuild twin, brute-force truth)
        // are INDEPENDENT reads once the append landed — run them as
        // concurrent job groups (the q_curate_media overlap rule)
        val fServed = bgJob(AnnIndex.ivfqTopKFromPath(s, dir, emb, queries,
          k = 5, nProbe = 4, rerank = 4).collect())
        // in-session rebuild twin: same centroids, full corpus —
        // ivfqRerank's cid fallback is the same assignment expression
        // the stored build uses
        val exact = emb.select(col("vec_id"),
            VectorOps.asDoubleArray(col("embedding")).as("cv"))
          .withColumn("cn", VectorOps.l2Norm(col("cv")))
        val fRebuilt = bgJob(Similarity.ivfqRerank(
          Similarity.quantizedCorpus(emb),
          exact, queries, centroids, k = 5, nProbe = 4, rerank = 4).collect())
        val fExactTopK = bgJob(
          Similarity.bruteForceTopK(emb, queries, k = 5).collect())
        val served = await(fServed)
        val parityOk = sameResults(served, await(fRebuilt))
        val (nQueries, recall) = recallOf(served, await(fExactTopK))
        import s.implicits._
        Seq((nQueries, recall >= 0.5, parityOk))
          .toDF("n_queries", "recall_ok", "parity_ok")
      }
    },

    // tombstone DELETE on the stored IVF×int8 index (the lifecycle
    // twin of q_ann_append): build on the FULL corpus, deleteVectors
    // a pinned subset (one tombstone file, no index file touched),
    // serve the probe panel from disk. no_deleted_ok = no tombstoned
    // vector is ever returned; parity_ok = masked serving is
    // IDENTICAL to an in-session rebuild over the survivors under
    // the same centroids (same assignment function — exact, not
    // approximate); purge_ok = results are unchanged across the
    // physical purge AND the purge drains the tombstone file
    QuerySpec("q_ann_delete",
      Sql("SELECT count(*) AS n_queries, TRUE AS no_deleted_ok, " +
        "TRUE AS parity_ok, TRUE AS purge_ok " +
        "FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000")) { (s, d) =>
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d)
      val deleted = emb.filter(pmod(col("vec_id"), lit(20)) === 13
        && col("vec_id") < 2000)
      val survivors = emb.join(deleted.select("vec_id"), Seq("vec_id"),
        "left_anti")
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Materialize.withTempDir("graft_ann_delete") { dir =>
        // clone of the session-shared FULL-corpus index (the memoized
        // base + the pinned batch appended under the frozen fit —
        // row-identical to a fresh build with these centroids, since
        // append and rebuild share one assignment function); the
        // delete contract mutates the private clone, the k-means fit
        // and the append are paid once per session across the three
        // full-corpus consumers
        graft.IndexMemo.copyTree(ivfqFullDir(s, d), dir)
        val centroids = AnnIndex.readCentroids(s, dir)
        AnnIndex.deleteVectors(deleted.select("vec_id"), dir)
        // collect-once + driver-side checks (the q_ann_append shape);
        // the masked serve, the survivor rebuild twin, and the
        // deleted-id list are independent pipelines — concurrent job
        // groups, with the physical purge sequenced strictly AFTER the
        // masked serve it is compared against
        val fServed = bgJob(AnnIndex.ivfqTopKFromPath(s, dir, emb, queries,
          k = 5, nProbe = 4, rerank = 4).collect())
        val exact = survivors.select(col("vec_id"),
            VectorOps.asDoubleArray(col("embedding")).as("cv"))
          .withColumn("cn", VectorOps.l2Norm(col("cv")))
        val fRebuilt = bgJob(Similarity.ivfqRerank(
          Similarity.quantizedCorpus(survivors), exact, queries, centroids,
          k = 5, nProbe = 4, rerank = 4).collect())
        val fDelIds = bgJob(deleted.select(col("vec_id")).collect()
          .map(_.getLong(0)).toSet)
        val served = await(fServed)
        // fDelIds is awaited BEFORE the purge rewrites $dir/vectors;
        // fRebuilt reads only emb-derived frames and driver-side
        // centroids and MUST NEVER read `dir` — any future edit that
        // makes it read the index directory must also await it here
        // (ADVICE r16: silent file race otherwise)
        val delIds = await(fDelIds)
        AnnIndex.purgeIvfqDeletes(s, dir)
        val after = AnnIndex.ivfqTopKFromPath(s, dir, emb, queries,
          k = 5, nProbe = 4, rerank = 4).collect()
        val noDeleted =
          !served.exists(r => delIds(r.getAs[Long]("neighbor_id")))
        val parityOk = sameResults(served, await(fRebuilt))
        val purgeOk = sameResults(after, served) &&
          !AnnIndex.hasDeletes(s, dir)
        import s.implicits._
        Seq((queries.count(), noDeleted, parityOk, purgeOk))
          .toDF("n_queries", "no_deleted_ok", "parity_ok", "purge_ok")
      }
    },

    // UPSERT on the stored IVF×int8 index — replace-or-insert, the
    // read-modify-write every re-embedding pipeline runs (lifecycle
    // closure over q_ann_append + q_ann_delete): a pinned stratum's
    // embeddings are REPLACED (reversed vectors) and a disjoint id
    // range INSERTED, via delete→purge→append under the frozen
    // centroids. parity_ok = serving from the upserted index is
    // IDENTICAL to an in-session rebuild over the upserted corpus
    // under the same centroids; replace_ok = the replaced rows were
    // physically rewritten (the purge touched their cells);
    // replay_ok = re-upserting the same batch leaves served results
    // bit-identical (idempotent replays, the streaming-sink
    // contract). No internal frame in PLANS.md: this is a write
    // lifecycle (tombstone → purge → append) whose serve path is
    // q_similarity_ivfq's pinned plan.
    QuerySpec("q_ann_upsert",
      Sql("SELECT count(*) AS n_queries, TRUE AS parity_ok, " +
        "TRUE AS replace_ok, TRUE AS replay_ok " +
        "FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000"),
      Plan("Replace-or-insert composed from the lifecycle ops in the one " +
        "exact order (tombstone -> physical purge -> append; the " +
        "purge is REQUIRED between, else the tombstone would mask " +
        "the replacement row too): membership probe and tombstone " +
        "write are O(batch), the purge rewrites ONLY the cells that " +
        "held replaced rows, and the append assigns the batch under " +
        "the frozen stored centroids — serving equals a rebuild over " +
        "the upserted corpus without any O(corpus) step, and a " +
        "replayed batch is idempotent (the streaming-sink " +
        "contract).")) { (s, d) =>
      import graft.functions.VectorOps
      // project label away up front: the upserted corpus is a union
      // of original and re-embedded rows, and only (vec_id,
      // embedding) participates in the index lifecycle
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val stratum = emb.filter(pmod(col("vec_id"), lit(20)) === 7
        && col("vec_id") < 2000)
      val replaced = stratum.select(col("vec_id"),
        reverse(col("embedding")).as("embedding"))
      val inserted = stratum.select(
        (col("vec_id") + 10000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      val batch = replaced.unionByName(inserted)
      val upserted = emb
        .join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(batch)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Materialize.withTempDir("graft_ann_upsert") { dir =>
        graft.IndexMemo.copyTree(ivfqFullDir(s, d), dir)
        val centroids = AnnIndex.readCentroids(s, dir)
        val purged = AnnIndex.upsertIvfq(batch, dir)
        // collect-once + driver-side checks (the q_ann_append shape);
        // the upserted corpus is read by three serve/rebuild
        // pipelines — cache it for the key's lifetime
        Materialize.withCached(upserted) {
          // eager cache fill: the two concurrent consumers below would
          // otherwise both compute the cold union (the cold-cache herd)
          upserted.count()
          // serve-from-disk and the rebuild twin are independent once
          // the upsert landed — concurrent job groups (the
          // q_ann_append overlap rule); the replay is sequenced after
          // the serve it is compared against
          val fServed = bgJob(AnnIndex.ivfqTopKFromPath(s, dir, upserted,
            queries, k = 5, nProbe = 4, rerank = 4).collect())
          val exact = upserted.select(col("vec_id"),
              VectorOps.asDoubleArray(col("embedding")).as("cv"))
            .withColumn("cn", VectorOps.l2Norm(col("cv")))
          val fRebuilt = bgJob(Similarity.ivfqRerank(
            Similarity.quantizedCorpus(upserted), exact, queries, centroids,
            k = 5, nProbe = 4, rerank = 4).collect())
          val served = await(fServed)
          val parityOk = sameResults(served, await(fRebuilt))
          AnnIndex.upsertIvfq(batch, dir) // replay the whole upsert
          val after = AnnIndex.ivfqTopKFromPath(s, dir, upserted, queries,
            k = 5, nProbe = 4, rerank = 4).collect()
          import s.implicits._
          Seq((queries.count(), parityOk, purged.nonEmpty,
              sameResults(after, served)))
            .toDF("n_queries", "parity_ok", "replace_ok", "replay_ok")
        }
      }
    }
  )
}
