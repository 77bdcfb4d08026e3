package graft.tools

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession

/** Dumps `explain("formatted")` for the headline queries into
  * PLANS.md, with the scale rationale per query. Regenerate after
  * plan-affecting changes: `runMain graft.tools.Plans <sfDir>`.
  */
object Plans {

  /** Exchange operators in a physical-plan string; a ReusedExchange
    * re-reads an exchange already counted. */
  def exchangeCount(plan: String): Int =
    plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))

  // query -> why this physical plan is the one we want at 100 TB
  private val rationale: Seq[(String, String)] = Seq(
    "q_scan_filter" ->
      ("Both predicates reach the parquet reader (`PushedFilters: " +
        "GreaterThan(l_quantity,30.0), LessThan(l_discount,0.05)`) and " +
        "`ReadSchema` carries only the 5 projected columns — at 100 TB " +
        "row groups failing min/max stats are never read."),
    "q_join_agg" ->
      ("customer/nation/region are broadcast (3 BroadcastHashJoins, no " +
        "shuffle of the fact side); the rollup is partial+final " +
        "HashAggregate, so the only full shuffle carries pre-aggregated " +
        "(r_name, n_name) groups — constant-size regardless of fact rows."),
    "q_window_topk" ->
      ("Spark 4 `WindowGroupLimit` prunes each partition to its top 3 " +
        "BEFORE the shuffle — the exchange carries ≤ 3·partitions rows " +
        "per segment, not the whole join output."),
    "q_join_skew" ->
      ("The salted join runs as ShuffledHashJoin on (suppkey, _salt): " +
        "a hot supplier's rows land on 8 reducers instead of 1. " +
        "Identical results to the plain join (oracle-verified)."),
    "q_asof_join" ->
      ("Union + single window pass: ONE exchange on user_id and one " +
        "sort replace an inequality join that would materialize every " +
        "(event, earlier-order) pair — the difference between |L|+|R| " +
        "and |L|·|R| per key."),
    "q_range_join" ->
      ("The band predicate runs as a hash join on the time bucket " +
        "(right side exploded onto 3 candidate buckets) + an exact " +
        "|Δt| refine — no BroadcastNestedLoopJoin anywhere in the " +
        "plan, linear shuffle volume."),
    "q_dedup_minhash" ->
      ("Shingling is explode + codegen'd projections; signatures are " +
        "32 min() aggregates with map-side partial aggregation — the " +
        "shuffle carries one 32-long signature per (doc, shingle-hash) " +
        "group, never raw text."),
    "q_rollup" ->
      ("Catalyst expands the ROLLUP into one Expand node (3 grouping " +
        "sets) feeding a partial+final HashAggregate — all three " +
        "subtotal levels ride a single shuffle of pre-aggregated " +
        "groups; the dimension tables broadcast exactly as in " +
        "q_join_agg."),
    "q_pivot" ->
      ("Enumerated pivot values compile to two cascaded partial+final " +
        "aggregations over a SINGLE scan — no distinct-value discovery " +
        "job; both shuffles carry pre-aggregated (priority[, status]) " +
        "groups, constant-size regardless of fact rows."),
    "q_sample_stratified" ->
      ("The LCG bucket predicate is codegen'd scalar arithmetic fused " +
        "into the scan stage — no shuffle, no state, ReadSchema pruned " +
        "to (doc_id, lang); the sample is one streaming pass at any " +
        "scale and membership is auditable from the id alone."),
    "q_embed_quant" ->
      ("Explode → window-max → single hash aggregate: every " +
        "per-element step is codegen'd scalar math (no interpreted HOF " +
        "lambdas — the nested-transform form re-derived the scale per " +
        "element, O(dim²) per vector); window and aggregate both key " +
        "on vec_id, so the exploded rows shuffle once."),
    "q_dedup_groups" ->
      ("Connected components by min-label propagation with pointer " +
        "jumping: every round shuffles (id, label) pairs keyed by " +
        "id/label — a giant duplicate cluster costs its edge count, " +
        "never its square — and rounds grow as O(log diameter). Each " +
        "round re-enters SQL through a cached LogicalRDD so the plan " +
        "stays flat instead of nesting exponentially."),
    "q_dedup_quality" ->
      ("Same component graph as q_dedup_groups, but the keeper is " +
        "chosen by ONE max_by hash aggregation on component (a single " +
        "candidate struct per key per partition, map-side combined) " +
        "plus a component-keyed hash join back — a 10M-copy component " +
        "costs its row count, never a per-component sort."),
    "q_dedup_incremental" ->
      ("The re-crawl admission path: the batch LEFT-joins the stored " +
        "fingerprint index keyed by fp (the index side is fp-only — " +
        "the curated corpus text is never re-read) and the novel-vs-" +
        "dup_in_batch verdict is a min window over the BATCH alone, " +
        "so repeated ingests cost O(batch + index join), not " +
        "O(corpus)."),
    "q_retention" ->
      ("Cohort retention without a window: first-seen is a min " +
        "partial+final aggregate on user_id, activity days are a " +
        "distinct on (user, day), and the matrix is a user-keyed " +
        "hash join + one more partial agg on (cohort, offset) — " +
        "every exchange carries per-user or per-cell rows, never " +
        "the event log, and nothing sorts inside user partitions."),
    "q_json_extract" ->
      ("Semi-structured extraction stays on the scan: " +
        "get_json_object parses each props string ONCE and only the " +
        "extracted long enters the partial+final aggregate — the " +
        "exchange carries 5 event-type groups, never JSON text. At " +
        "100 TB the upgrade path is from_json into a struct column " +
        "at ingest; the aggregate shape is already the right one."),
    "q_logistic_train" ->
      ("Classification on the shared sketch-SGD loop: one persisted " +
        "pass + 10 treeAggregate jobs whose partial buffers cross " +
        "the exchange through the gradient codec (identical wire " +
        "shape to q_sgd_train — only the pointwise loss differs), " +
        "then ONE codegen'd accuracy aggregate (no UDF, no collect " +
        "of predictions)."),
    "q_vocab_coverage" ->
      ("Vocabulary fit + held-out coverage in two scans: the train " +
        "scan aggregates term frequencies partial+final and the " +
        "top-20 cutoff is TakeOrderedAndProject (per-partition " +
        "heaps); the tiny vocab then BROADCASTS into the held-out " +
        "scan, so coverage is a map-side join + one global agg — " +
        "the held-out tokens never shuffle."),
    "q_grouping_sets" ->
      ("Three chosen aggregation levels compile to ONE Expand node " +
        "feeding partial+final HashAggregate over a single scan — " +
        "the same single-pass shape as q_rollup/q_cube but with an " +
        "arbitrary (non-lattice) set list, via the Dataset " +
        "groupingSets API (identical Expand plan to the SQL text, " +
        "no catalog views touched)."),
    "q_ship_priority" ->
      ("The TPC-H Q3 composite: both date predicates live in " +
        "PushedFilters (row groups outside the cutoff are never " +
        "read), the segment-filtered customer side broadcasts, " +
        "revenue aggregates partial+final in HashAggregate, and the " +
        "top-10 is TakeOrderedAndProject — per-partition heaps, no " +
        "global sort of the aggregate output. Revenue rides " +
        "DECIMAL(18,2) so the ranking is bit-stable cross-engine."),
    "q_dup_sources" ->
      ("Corpus-governance mirror detection: one (fp, source) " +
        "partial+final aggregate, then an fp-keyed self-join whose " +
        "fan-out is bounded by sources-per-fingerprint (≤ #sources, " +
        "not #copies), then a tiny source-pair aggregate — the " +
        "matrix costs one corpus scan regardless of how hot any " +
        "duplicate group is."),
    "q_dedup_incr_near" ->
      ("Fuzzy admission against the corpus' MinHash band-key index: " +
        "candidates come from a (band, band-hash) equi-join (hot " +
        "buckets capped deterministically), and ONLY candidate " +
        "corpus docs are re-shingled for the exact-Jaccard verify — " +
        "a left-semi join prunes the corpus before any shingle work, " +
        "so an ingest costs O(batch + candidates), never O(corpus). " +
        "The contract query's exact-truth branch is the expensive " +
        "full bipartite join — deliberately, to prove the LSH route " +
        "sound and ≥0.8-recall against it."),
    "q_similarity_filtered" ->
      ("The metadata constraint rides the JOIN KEY: Catalyst extracts " +
        "the label equality into a BroadcastHashJoin (probe side " +
        "broadcast) with the qid≠vec_id residual, so the scored pair " +
        "count shrinks by the filter's selectivity and top-k stays " +
        "exact within the slice — no recall-losing post-filter, no " +
        "nested-loop cross product."),
    "q_similarity_topk" ->
      ("Exact baseline, so the BroadcastNestedLoopJoin is deliberate: " +
        "the (small) query side is broadcast and the corpus streams " +
        "through one codegen'd dot-product scan (native DotProduct " +
        "expression), then per-query top-k via WindowGroupLimit. The " +
        "scale paths that avoid the cross product are q_similarity_lsh " +
        "(bucket join) and q_similarity_ivf (centroid-pruned join)."),
    "q_cube" ->
      ("The full grouping-set lattice (4 sets) compiles to ONE Expand " +
        "node feeding a partial+final HashAggregate — the fact table " +
        "is scanned once and the only shuffle carries pre-aggregated " +
        "groups, vs. 4 separate scan+agg jobs."),
    "q_running_total" ->
      ("The o_custkey <= 100 predicate is in PushedFilters, then one " +
        "hash Exchange on o_custkey + one in-partition sort; the " +
        "cumulative sum is a streaming ROWS frame evaluated in a " +
        "single forward pass — no per-row frame re-scan."),
    "q_percentiles" ->
      ("Exact percentiles accumulate a per-group value-frequency " +
        "buffer (ObjectHashAggregate) partially per partition before " +
        "one group shuffle — the honest cost of EXACT quantiles is " +
        "that buffer being distinct-values-sized; the bounded-memory " +
        "twin at 100 TB is q_sketch_quantiles (approx_percentile), " +
        "same pattern as exact top-k vs ANN."),
    "q_semi_anti" ->
      ("Both cohorts run as BroadcastHashJoin LeftSemi/LeftAnti with " +
        "the high-value custkey side broadcast: the probe stream is " +
        "never duplicated on multi-matches and carries no payload " +
        "from the build side — vs. inner join + distinct, which " +
        "explodes then dedups."),
    "q_event_gaps" ->
      ("One hash Exchange on user_id serves BOTH the lag window and " +
        "the final per-user aggregate (the aggregate reuses the " +
        "window's partitioning — no second exchange); the lag is a " +
        "single sorted forward pass per partition."),
    "q_pack_chunks" ->
      ("Per-shard running token offsets: one hash Exchange on the " +
        "shard key + one in-partition sort, then the offset is a " +
        "streaming ROWS frame and every chunk bound is codegen'd " +
        "integer arithmetic — packing a 100 TB corpus is one shuffle " +
        "of (id, shard, n_tok) triples, never text."),
    "q_pack_segments" ->
      ("The chunk→segment explode rides the SAME per-shard window " +
        "output as q_pack_chunks: `explode(sequence(first_chunk, " +
        "last_chunk))` generates docs + boundary-crossings rows of " +
        "pure 64-bit integer arithmetic — materializing the training " +
        "loader's layout adds NO shuffle beyond the packing window."),
    "q_curate_e2e" ->
      ("Seven stages, three corpus-sized exchanges: the gates are " +
        "per-row expressions on the scan; eval exclusion and the " +
        "contaminated-id drop are broadcast anti-joins; rebalance is " +
        "a broadcast-rates filter. Only the dedup window (norm_key), " +
        "the shingle window (doc_id), and the packing window " +
        "(source) shuffle corpus-sized data — each keyed, none " +
        "all-pairs, so the composition scales exactly as its worst " +
        "single stage."),
    "q_sample_group" ->
      ("Per-group rank filter runs with WindowGroupLimit: each map " +
        "task pre-prunes to its local top k before the exchange, so " +
        "the shuffle carries ≤ k·partitions rows per group — the " +
        "fixed-count per-source cut costs one bounded exchange, " +
        "never a full group sort."),
    "q_sketch_heavy" ->
      ("The heavy_hitters aggregate runs as ObjectHashAggregate " +
        "partial+final: every partial buffer is ≤ 2k counters " +
        "regardless of input size, so the exchange ships " +
        "constant-size summaries — per-group approximate top-k at " +
        "100 TB where an exact (group, term) histogram would not " +
        "fit. The exact side of the plan exists only as the " +
        "contract baseline."),
    "q_chunk_overlap" ->
      ("Sliding-window chunking is ZERO-shuffle: one " +
        "`explode(sequence(0, n_win-1))` per doc on the scan, window " +
        "bounds from codegen'd 64-bit `div` arithmetic — each " +
        "partition chunks independently, so the RAG index layout " +
        "scales with no exchange at any corpus size."),
    "q_sketch_intersect" ->
      ("Three HLL register sketches (A, B, A∪B) build in ONE " +
        "conditional pass as ObjectHashAggregate partials — the " +
        "exchange carries three ~kB register arrays regardless of " +
        "input size; inclusion-exclusion then estimates the " +
        "intersection without ever shuffling keys. The exact side " +
        "exists only as the contract baseline."),
    "q_funnel" ->
      ("Each funnel stage is one filtered scan → user-keyed hash " +
        "aggregate joined to the previous stage's (user_id, t) " +
        "frontier — every exchange carries at most ONE row per user " +
        "(the frontier), never event-level cross products; " +
        "first-touch semantics via min() keep the frontier the " +
        "smallest state a funnel fundamentally needs."),
    "q_fill_forward" ->
      ("Forward-fill repair is ONE analytic window: a single hash " +
        "exchange on user_id + in-partition sort, then " +
        "`last(_, ignoreNulls)` over a running ROWS frame evaluated " +
        "streaming — O(events) after the one shuffle any per-user " +
        "ordering needs; values ride through with no arithmetic."),
    "q_latest_state" ->
      ("Event-log compaction as ONE max_by/count/sum aggregation on " +
        "user_id (partial+final SortAggregate — max_by's struct " +
        "buffer isn't hash-mutable): the map side combines to a " +
        "single champion struct per user BEFORE the exchange, so the " +
        "shuffle carries one compacted row per user per partition — " +
        "compare a row_number window, which shuffles EVERY event of " +
        "a 100 TB log and then sorts it inside user partitions."),
    "q_outliers" ->
      ("Three grouped aggregates (median, MAD, verdict counts), each " +
        "a hash partial+final on event_type; the tiny per-group " +
        "statistics come BACK as broadcast joins, so the event stream " +
        "never shuffles. A `percentile() OVER (PARTITION BY group)` " +
        "window would pin each group on one task — a skew bomb when " +
        "one group holds half of 100 TB."),
    "q_contamination" ->
      ("The eval shingle set (benchmark suites are MBs at any corpus " +
        "scale) builds once and broadcasts; the train side is ONE scan " +
        "→ shingle window keyed by doc_id → BroadcastHashJoin → one " +
        "doc_id-keyed aggregate. The 100 TB corpus is never shuffled " +
        "on shingle text; `broadcastEval=false` degrades the same " +
        "plan to a shuffled hash join when the eval side is genuinely " +
        "large."),
    "q_outer_join" ->
      ("FULL OUTER joins cannot broadcast-prune (both sides must " +
        "preserve unmatched rows), so the plan is ONE hash exchange " +
        "per side on the join key into a single SortMergeJoin/" +
        "ShuffledHashJoin — exactly the shape this query would keep " +
        "at 100 TB; the conditional distinct aggregation rides the " +
        "same keyed partitioning."),
    "q_cooccur" ->
      ("The vocab cap bounds the pair fan-out at C(50,2) per doc; " +
        "vocab (50 rows) and n_docs (1 row) broadcast, so the corpus " +
        "shuffles once on doc_id for the self-join and once as " +
        "(a, b) aggregate partials — co-occurrence volume is governed " +
        "by the cap, not corpus size; lift is codegen'd integer " +
        "arithmetic."),
    "q_decontam_fuzzy" ->
      ("The bipartite inverted index materializes ONLY co-shingled " +
        "(train, eval) pairs — any pair with Jaccard ≥ ε shares a " +
        "shingle, so candidate generation is EXACT with no LSH " +
        "recall caveat and no cross product; joins shuffle on " +
        "shingle then doc ids, and the best-match argmax is one " +
        "struct-max aggregate."),
    "q_quality_repetition" ->
      ("Bigram explode feeds a partial+final HashAggregate on " +
        "(doc_id, gram) — map-side combine absorbs the repetition the " +
        "operator exists to measure — then the top-gram window and " +
        "final per-doc aggregate reuse the SAME doc_id hash " +
        "partitioning (no second exchange). All fractions are " +
        "codegen'd integer div, bit-stable across engines."),
    "q_dedup_semantic" ->
      ("Cluster-scoped pair search: centroids fit on a hash sample " +
        "(one cached scan), assignment is a codegen'd CentroidCosines " +
        "pass, and the near-dup join is a cid-keyed self equi-join — " +
        "pair cost bounded by Σ|cell|² with nlist grown to hold |cell| " +
        "constant, never corpus². The exact-definition soundness " +
        "re-check broadcasts only the small DROP set against the " +
        "corpus, so the contract's truth branch stays bounded at any " +
        "verification SF."),
    "q_dedup_incr_semantic" ->
      ("Admission against the STORED semantic index: one per-row " +
        "kernel quantizes each batch vector and the HierCellId codegen " +
        "pass hier-assigns it, O(batch·√nlist); candidates come from " +
        "a cid left join into the stored int8 vectors, the int8 " +
        "pre-filter bounds the float verify to margin survivors, and " +
        "one exact-cosine vote joins the float corpus by id and folds " +
        "to a verdict per vector — per ingest the corpus is never " +
        "re-fit or re-quantized. The same plan runs on a streaming " +
        "batch with zero state rows. The stored vectors are read " +
        "whole: no cell's files are pruned (ROADMAP item 13). The " +
        "catalog reopen is a manifest read: zero rows."),
    "q_url_canon" ->
      ("Canonicalization is a per-row regexp projection inside the " +
        "scan's codegen stage — no UDF, no shuffle; the host report " +
        "is ONE hash aggregation keyed by host with map-side partial " +
        "counts, so the exchange carries |hosts| rows per partition, " +
        "never URLs. At 100 TB this is scan-bound by construction."),
    "q_dedup_image" ->
      ("Decode→thumbnail→dHash is one zero-shuffle typed pass over " +
        "the media scan; candidates are the pairs within each " +
        "(band, value, color-cell) bucket, one shuffle grouping each " +
        "bucket's sorted ids under a deterministic hot-bucket cap " +
        "(blank-image mega-buckets bound the pair count instead of " +
        "squaring it), and the typed verify (channel-sum gate, then the " +
        "exact per-channel distance) joins the 216-int frames BY ID for " +
        "candidates only — the semanticDedup two-stage discipline " +
        "applied to pixels."),
    "q_quality_lm" ->
      ("The bigram LM trains and scores in one pipeline: document " +
        "bigrams are built under a single doc_id exchange (posexplode " +
        "+ lead, the shingle shape); the (w0,w1) and (w0) count " +
        "tables shuffle only map-side-combined vocabulary-sized " +
        "partials, and the score join keys corpus bigrams against " +
        "that sublinear model (auto-broadcast here; gram-keyed " +
        "shuffle + AQE skew handling past the broadcast threshold). " +
        "Every log-prob is e9-quantized BEFORE the per-doc sum, so " +
        "aggregation is pure integer math — partition-order-" +
        "independent and bit-portable."),
    "q_select_dsir" ->
      ("ONE token explode serves both distribution fits and the " +
        "scoring: the hashed model is a conditional aggregate " +
        "(count + count-if-target) over the same rows, collapsing to " +
        "exactly `buckets` rows that broadcast back with the two " +
        "smoothing totals. The corpus-sized movement is a single " +
        "map-side-combined groupBy(doc_id) of integer partial sums, " +
        "and top-k is TakeOrdered (per-partition heap), never a " +
        "global sort of a 100 TB corpus."),
    "q_train_order" ->
      ("The order key and shard are per-row LCG arithmetic on the " +
        "scan (auditable from the id alone); the only exchange is the " +
        "hash partition on shard + in-partition sort for the position " +
        "window — a 100 TB global shuffle becomes nShards independent " +
        "sorts, never a single-partition global ordering."),
    "q_dedup_embedding" ->
      ("The near-dup route is (table, bucket) equi-joins from " +
        "multi-table LSH + id hash joins — the probe set is never " +
        "broadcast against the corpus, so the shape survives probes " +
        "defined as a fixed fraction of a 100 TB corpus. The single " +
        "BroadcastNestedLoopJoin in the plan is the EXACT verification " +
        "baseline the contract grades recall against (bounded probes " +
        "at verification SF), not the operator."),
    "q_similarity_ivf" ->
      ("Centroids fit on a deterministic hash-sample CACHED before " +
        "the k-means loop — no pre-count pass, the corpus is read " +
        "once. Probing is a hash join on cid (candidates ~ " +
        "|Q|·|C|·nProbe/nlist); centroid scoring is one codegen'd " +
        "CentroidCosines pass, constant code size at any nlist. On " +
        "disk the same cid bucketing prunes unprobed cells' FILES " +
        "(IvfLayoutSpec)."),
    "q_mixture_budget" ->
      ("One aggregate pass builds the strata-sized token table, " +
        "which broadcasts back as integer permille rates; the keep " +
        "decision is then a codegen'd LCG filter ON THE SCAN — the " +
        "corpus is never shuffled, and the achieved mixture (rates, " +
        "counts, token sums) is bit-reproducible on any engine from " +
        "(id, stratum, tokens) alone."),
    "q_dedup_substring" ->
      ("Exact-substring span dedup in three bounded exchanges: " +
        "tokenize once (posexplode + 7 codegen'd leads — no HOF " +
        "re-evaluation), gram df as a grouped count keyed by the " +
        "gram STRING (collision-free oracle parity; a 100 TB run " +
        "keys on xxhash64 and accepts ~2^-64 collisions), duplicated " +
        "starts via one gram-keyed join, and the maximal-span merge " +
        "is a single per-doc gaps-and-islands window pass. Nothing " +
        "ever shuffles document PAIRS — cost is O(tokens), not " +
        "O(docs^2)."),
    "q_dedup_incr_bloom" ->
      ("The stored index is folded ONCE into a Bloom filter " +
        "(treeAggregate partials, ~1.2 MB/M keys at 1% fpp) that " +
        "broadcasts to the ingest scan: admission is a shuffle-free " +
        "per-row probe plus the same one-window in-batch claim as " +
        "the exact operator. No false negatives by construction; " +
        "the fpp novel-loss is the explicit, checked trade for " +
        "never re-shuffling a trillion-row index per ingest."),
    "q_similarity_ivfq" ->
      ("IVF × int8 two-stage: stage 1 assigns cells AND scores " +
        "candidates on the quantized vectors only (cosine is " +
        "scale-invariant, so `scale` never enters the ranking), " +
        "keeping top rerank·k per query; stage 2 re-ranks exactly " +
        "via a KEYED join of just those candidates to the float " +
        "vectors. At 100 TB the bulk scan reads the 4× smaller " +
        "stored int8 index (cid-bucketed — IvfqLayoutSpec proves " +
        "the stage-1 scan never reads the float column) and full " +
        "precision is |Q|·rerank·k point lookups."),
    "q_multimodal_decode" ->
      ("mapPartitions-batched decode, zero shuffle: each partition " +
        "streams (doc_id, media) batches through the dependency-free " +
        "full-pixel codecs — PNG via chunk walk + CRC32 + zlib " +
        "inflate + 5-filter unfilter, JPEG via the baseline-" +
        "sequential pipeline (Huffman decode, DC prediction, " +
        "dequant, IDCT, 4:2:0 upsample, exact-integer JFIF " +
        "YCbCr-to-RGB). Per-row CPU, partition-parallel, no driver " +
        "involvement — the multimodal plumbing shape with both " +
        "payload featurizers real."),
    "q_embed_centroid" ->
      ("posexplode → per-(label, pos) mean with map-side partial " +
        "aggregation: the corpus is read once and the one shuffle " +
        "carries groups x dim ALREADY-AGGREGATED rows (sum, count), " +
        "not exploded elements."),
    "q_minhash_est" ->
      ("The exact side reuses the q_ngram_jaccard inverted-index " +
        "join (only co-shingled pairs materialize); the estimate side " +
        "is 32 grouped min() aggregates joined back on the bounded " +
        "candidate-pair set — error checking adds joins on PAIRS " +
        "(bounded), never a second corpus pass."),
    "q_text_normalize" ->
      ("Three nested codegen'd string expressions fused into the " +
        "scan stage projection: per-row map, no shuffle, no UDF — " +
        "normalization throughput is scan throughput."),
    "q_pii_redact" ->
      ("Planting + both redaction passes + both audit counts are one " +
        "codegen'd projection over the scan (regexp_replace/" +
        "regexp_extract_all are native expressions) — zero shuffles; " +
        "a 100 TB scrub is embarrassingly parallel."),
    "q_top_terms" ->
      ("The corpus shuffles once as map-side-combined (doc, term, tf) " +
        "partials — never raw text; df and the doc count are " +
        "vocab-sized/scalar and BROADCAST back; the per-doc top-3 is " +
        "WindowGroupLimit-pruned to k rows per doc before the final " +
        "window sort."),
    "q_corpus_select" ->
      ("All per-row gates (quality, lang, normalize, md5) are one " +
        "codegen'd scan projection; only SURVIVING rows shuffle — " +
        "first on norm_key for the keep-min window (WindowGroupLimit " +
        "prunes losers map-side), then as per-source partial " +
        "aggregates. Raw text crosses the wire at most once, post-" +
        "filter."),
    "q_rolling_range" ->
      ("The RANGE frame evaluates with a sliding lower bound in one " +
        "sorted forward pass per user partition — one hash Exchange " +
        "on user_id + one Sort, same shape as any per-key analytic; " +
        "the time-offset bound never re-scans the frame per row."),
    "q_profile" ->
      ("All five columns profile in ONE parquet scan: the " +
        "count(distinct) set compiles to a single Expand (gid 0 " +
        "carries the plain aggregates, one grouping set per distinct " +
        "column) feeding partial+final HashAggregates — shuffle " +
        "volume is per-column partial states, input is read once."),
    "q_bm25_topk" ->
      ("The inverted-index build is explode + partial-aggregated " +
        "(doc,term) tf counts; the 3-row query-term table and the " +
        "1-row corpus stats BROADCAST, so postings of non-queried " +
        "terms never shuffle. Scoring is codegen'd double arithmetic " +
        "e6-floored per (doc,term) before the integer per-doc sum, " +
        "and the top-10 is TakeOrderedAndProject (per-partition heap " +
        "+ k-row driver merge) — no global sort at any scale."),
    "q_embed_project" ->
      ("The sign matrix is IMPLICIT (LCG hash of the index pair): " +
        "nothing is broadcast or joined. posexplode feeds 8 " +
        "conditional integer sums in one partial+final HashAggregate " +
        "keyed by vec_id — map-side combine collapses each vector " +
        "inside its input partition, so the exchange moves 8 longs " +
        "per vector instead of the 64-float embedding: the projection " +
        "SHRINKS shuffle volume 4x before any downstream ANN/cluster " +
        "step."),
    "q_bpe_merges" ->
      ("BPE never iterates the corpus: one scan builds the " +
        "word-frequency table (map-side combined partials, one " +
        "term-keyed exchange), and each merge round is an explode of " +
        "per-row adjacent-symbol zips (no window) over the VOCAB-sized " +
        "table with a 1-row argmax driver probe " +
        "(the SGD-loop pattern). At 100 TB rounds cost vocab-table " +
        "jobs, not corpus scans — the subword-nmt/SentencePiece " +
        "scaling shape."),
    "q_bpe_encode" ->
      ("The apply half of the tokenizer keeps the train half's " +
        "corpus discipline: merge replay and symbol-id ranking run " +
        "over the VOCAB (chained replace projections + one " +
        "vocab-sized ranking window), and the corpus is touched by " +
        "exactly one scan — posexplode to per-word positions, a " +
        "word-keyed join against the id table (broadcast while it " +
        "fits, hash join past that; vocabulary grows with the " +
        "corpus, so forcing broadcast would be a 100 TB trap), and " +
        "ONE doc-keyed exchange to reassemble ordered id sequences. " +
        "No per-round corpus pass, no window over exploded corpus " +
        "tokens."),
    "q_pack_bpe" ->
      ("q_pack_chunks's per-shard running-offset layout fed by the " +
        "TRAINED tokenizer's counts instead of the bytes/4 estimate: " +
        "the encode plan above collapses to (doc_id, n_tokens) " +
        "before the packing window, so the analytic sort carries one " +
        "long per document and the chunk arithmetic stays pure " +
        "64-bit integer (div, never double) — bit-reproducible at " +
        "any shard size."),
    "q_html_extract" ->
      ("Crawl-ingestion front door: block drops, tag strip, entity " +
        "decode, and whitespace collapse are ONE chained " +
        "regexp_replace projection per row — whole-stage codegen, " +
        "zero shuffle, embarrassingly parallel at any corpus size; " +
        "the markup stats (tags/links/entities/content ratio) ride " +
        "the same scan. The planted single-line pages avoid dotall " +
        "so the identical patterns run under Java regex and the " +
        "oracle's RE2."),
    "q_ann_upsert" ->
      ("Replace-or-insert composed from the lifecycle ops in the one " +
        "exact order (tombstone -> physical purge -> append; the " +
        "purge is REQUIRED between, else the tombstone would mask " +
        "the replacement row too): membership probe and tombstone " +
        "write are O(batch), the purge rewrites ONLY the cells that " +
        "held replaced rows, and the append assigns the batch under " +
        "the frozen stored centroids — serving equals a rebuild over " +
        "the upserted corpus without any O(corpus) step, and a " +
        "replayed batch is idempotent (the streaming-sink " +
        "contract)."),
    "q_multimodal_video" ->
      ("Video ingest end-to-end with zero shuffle: the RIFF/AVI " +
        "container walk, the every-2nd-frame temporal subsample, and " +
        "the per-frame baseline-JPEG decode are ONE typed flatMap " +
        "over the binary-column scan — each row expands to its " +
        "sampled frames' feature rows in place, so the stage is " +
        "embarrassingly parallel and the only exchange is the gate's " +
        "output sort. At 100 TB the same shape holds: frame decode " +
        "cost rides the scan tasks, and the sampled-frame rows (a " +
        "few dozen bytes each) are all that survives into downstream " +
        "shuffles."),
    "q_dedup_incr_embed" ->
      ("Vector-space incremental admission: the pinned planted batch " +
        "left-joins the corpus's LSH bucket table on (tbl, bucket) — " +
        "candidates only, never O(corpus) — and the exact cosine " +
        "runs on candidates alone. The truth branch broadcasts the " +
        "<=200-row batch against the corpus (linear, bounded panel). " +
        "Both sides get their per-table buckets from one per-row " +
        "kernel (no shuffle); the stored vectors join by index id and " +
        "one exact-cosine vote folds to a verdict per vector, no " +
        "groupBy and no join back to the batch. The same plan runs on " +
        "a streaming batch, with zero state rows; at 100 TB the bucket " +
        "table is the persisted index."),
    "q_similarity_scaled" ->
      ("The one ANN key whose probe set GROWS with the corpus (the " +
        "uncapped 1% vec_id stratum): IVF with corpus-scaled nlist " +
        "holds |cell| ~ 256 constant, so the candidate join costs " +
        "|Q| * nProbe * 256 scored rows — linear in |Q|, never " +
        "|Q| * n. The contract is top-k coverage, not recall: an " +
        "exact-truth branch over a growing probe set would be the " +
        "quadratic scan the pinned-panel keys' contracts exist to " +
        "avoid."),
    "q_similarity_graph" ->
      ("Graph-ANN (NN-Descent index + seed-and-walk search), every " +
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
        "grows with n to hold cells constant."),
    "q_similarity_proj" ->
      ("Stage 1 never touches a float vector: the (vec_id, cid, " +
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
        "expressed with a JL index."),
    "q_curate_hosts" ->
      ("The host gate costs one per-row codegen'd canonicalization " +
        "projection + one |hosts|-row hash aggregation, folded back " +
        "as a BROADCAST anti-join on the doc's host — the curate " +
        "chain behind it keeps q_curate_e2e's single-shuffle-per-" +
        "stage skeleton with exactly one extra BroadcastHashJoin, " +
        "so at 100 TB host governance is free relative to the " +
        "tokenize passes it gates."))

  /** Contract keys whose PUBLIC result is a 1-row verdict (a
    * LocalTableScan / checkpointed row in the section above): the
    * designated INTERNAL dataflow frame per key, so the real
    * candidate-join / verify plan is pinned too (the
    * `GraphLayoutSpec` precedent, generalized). `q_ann_upsert` has
    * no single internal frame — it is a write LIFECYCLE (tombstone →
    * purge → append) whose serve path is exactly
    * `q_similarity_ivfq`'s pinned plan. */
  private val internals: Seq[(String, String,
      (SparkSession, String, String) => org.apache.spark.sql.DataFrame)] = Seq(
    ("q_dedup_image", "internal: the near-dup PAIR frame the verdict " +
      "folds (graft.operators.MediaDedup, the image modality) — the " +
      "capped (band, value, color-cell) bucket groups (one shuffle, " +
      "a typed pass emits each group's pairs), each pair joined BY ID to both sides' channel sums and 216-int frames, " +
      "and one typed mapPartitions verify — sum gate, then the exact " +
      "per-channel distance (SerializeFromObject above MapPartitions " +
      "in the plan — the optimizer barrier that keeps the per-element " +
      "loops out of every join condition).",
      (s, d, _) => {
        val m = graft.operators.ImageDedup
        m.nearDupPairs(m.prints(m.withPlantedTwins(graft.Tables.documents(s, d))))
      }),
    ("q_dedup_audio", "internal: the audio near-dup PAIR frame — the " +
      "same engine plan over the audio kernel (one 65-int envelope " +
      "frame, sign-delta bands, mean-level grids).",
      (s, d, _) => {
        val m = graft.operators.AudioDedup
        m.nearDupPairs(m.prints(m.withPlantedTwins(graft.Tables.documents(s, d))))
      }),
    ("q_dedup_incr_image", "internal: the ADMISSION plan against a " +
      "freshly built stored index — one lazy plan for a batch or a " +
      "stream: the per-row kernel, the batch keys left-join the " +
      "stored buckets and then the stored rep prints (static sides, " +
      "full scans, broadcast while the index is under the broadcast " +
      "threshold), a typed sum-gate + exact-verify vote per " +
      "candidate, and the per-doc verdict fold " +
      "(FlatMapGroupsWithState, no state kept).",
      (s, d, dir) => {
        val m = graft.operators.ImageDedup
        val docs = graft.Tables.documents(s, d)
        m.buildIndex(m.withPlantedImages(docs), dir)
        m.admission(m.plantedRecrawlBatch(docs), dir).toDF()
      }),
    ("q_dedup_incr_audio", "internal: the audio ADMISSION plan — the " +
      "q_dedup_incr_image plan over the audio kernel.",
      (s, d, dir) => {
        val m = graft.operators.AudioDedup
        val docs = graft.Tables.documents(s, d)
        m.buildIndex(m.withPlantedClips(docs), dir)
        m.admission(m.plantedRecrawlBatch(docs), dir).toDF()
      }),
    ("q_quality_classifier", "internal: the featurize frame every " +
      "training iteration and the scoring pass share — one tokenize " +
      "explode + ONE hash aggregation with 64 codegen'd conditional " +
      "sums (no pivot shuffle, no UDF); training itself exchanges " +
      "only 64-dim gradients through treeAggregate, invisible to SQL " +
      "by design.",
      (s, d, _) => graft.operators.ModelSelection.hashedFeatures(
        graft.Tables.documents(s, d))),
    ("q_bpe_merges", "internal: the per-round PAIR-COUNT frame the " +
      "driver argmax-probes — an explode of adjacent-symbol zips " +
      "over the VOCAB-sized word-frequency table with map-side " +
      "partial aggregation; rounds cost vocab-table jobs, never " +
      "corpus scans.",
      (s, d, _) => graft.operators.Tokenizer.pairCounts(
        graft.operators.Tokenizer.wordFreq(graft.Tables.documents(s, d)))),
    ("q_unigram_encode", "internal: the unigram-LM encode frame — " +
      "Viterbi runs once per DISTINCT word (a typed MapPartitions " +
      "over the vocab-sized word table under the broadcast score " +
      "map), then ONE word-keyed join and ONE doc-keyed aggregation " +
      "reassemble documents; EM training itself exchanges only " +
      "piece-count sidecars, invisible to SQL by design.",
      (s, d, _) => {
        val docs = graft.Tables.documents(s, d)
        val model = graft.operators.Unigram.learnUnigramMemo(docs, d,
          vocabSize = 256, seedSize = 2048)
        graft.operators.Unigram.unigramEncode(docs, model)
      }))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    graft.Session.run(8) { spark =>
      val out = new StringBuilder
      out ++= "# PLANS — physical plans of the headline queries\n\n"
      out ++= s"Generated by `graft.tools.Plans` against `$sfDir`.\n"
      out ++= "For each query: why this is the plan we want at 100 TB, then\n"
      out ++= "the `explain(\"formatted\")` output (AQE initial plan).\n"

      rationale.foreach { case (name, why) =>
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        out ++= s"\n## $name\n\n$why\n\n```\n$plan```\n"
      }

      out ++= "\n# Internal dataflow plans of contract keys\n\n"
      out ++= "Keys whose public result is a 1-row contract verdict\n"
      out ++= "(LocalTableScan above): the designated internal frame per\n"
      out ++= "key, so the real candidate-join/verify plan is pinned too.\n"
      out ++= "`q_ann_upsert` is a write lifecycle (tombstone → purge →\n"
      out ++= "append); its serve path is `q_similarity_ivfq`'s plan.\n"
      internals.foreach { case (name, why, mk) =>
        val plan = graft.Materialize.withTempDir("plans_scratch")(scratch =>
          mk(spark, sfDir, scratch).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        out ++= s"\n## $name — internal\n\n$why\n\n```\n$plan```\n"
      }

      val pw = new PrintWriter("PLANS.md", "UTF-8")
      try pw.write(out.toString) finally pw.close()
      println(s"[plans] wrote PLANS.md (${rationale.size} queries + " +
        s"${internals.size} internal)")
    }
  }
}
