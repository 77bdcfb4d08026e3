package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup
import QuerySpec._
import Common._

/** Text deduplication over `documents` (SURVEY.md §2.5): exact,
  * MinHash, SimHash, substring and n-gram Jaccard, incremental
  * admission against a stored index, and duplicate governance reports.
  *
  * The oracled near-dup queries run on keyed `% k` probe subsets so
  * the DuckDB oracle stays tractable; the operators themselves
  * (graft.operators.*) take arbitrary frames and use bucket joins,
  * not cross products. */
object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dedup_exact",
      Sql("SELECT min(doc_id) AS keep_id, count(*) AS n_copies, sha256(text) AS fp " +
        "FROM documents GROUP BY sha256(text) ORDER BY keep_id",
        Some("SELECT min(doc_id) AS keep_id, count(*) AS n_copies, sha2(text, 256) AS fp " +
          "FROM documents GROUP BY sha2(text, 256) ORDER BY keep_id"))) { (s, d) =>
      Dedup.exact(Tables.documents(s, d))
        .select(col("keep_id"), col("n_copies"), col("fp"))
        .orderBy(col("keep_id"))
    },

    // n-gram Jaccard near-dup on a keyed subset (inverted-index join)
    QuerySpec("q_ngram_jaccard",
      Sql(s"WITH sub AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id % 20 = 0), " +
        "ex AS (SELECT doc_id, unnest(sh) AS s FROM sub), " +
        "sizes AS (SELECT doc_id, len(sh) AS n FROM sub), " +
        "pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter " +
        "FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT a, b, round(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter),6) AS jaccard " +
        "FROM pairs JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b " +
        "WHERE inter >= 1 ORDER BY a, b",
        Some(s"WITH sub AS (SELECT doc_id, $shingles AS sh FROM documents WHERE doc_id % 20 = 0), " +
          "ex AS (SELECT doc_id, s FROM sub LATERAL VIEW explode(sh) e AS s), " +
          "sizes AS (SELECT doc_id, size(sh) AS n FROM sub), " +
          "pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter " +
          "FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
          "SELECT a, b, round(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter),6) AS jaccard " +
          "FROM pairs JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b " +
          "WHERE inter >= 1 ORDER BY a, b"))) { (s, d) =>
      val sub = Tables.documents(s, d).filter(pmod(col("doc_id"), lit(20)) === 0)
      Dedup.ngramJaccardPairs(sub, minJaccard = 0.0)
        .filter(col("inter") >= 1)
        .select(col("a"), col("b"), col("jaccard"))
        .orderBy(col("a"), col("b"))
    },

    // MinHash accuracy as a CHECKED contract (the sketch-family
    // pattern): on the keyed subset where exact n-gram Jaccard is
    // oracle-able, every pair's 32-permutation MinHash estimate must
    // sit within ±0.35 of the exact Jaccard (4σ for 32 perms;
    // measured max |err| ≈ 0.22 across SFs). The oracle recomputes
    // the pair count and checks the boolean.
    QuerySpec("q_minhash_est",
      Sql(s"WITH sub AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id % 20 = 0), " +
        "ex AS (SELECT doc_id, unnest(sh) AS s FROM sub), " +
        "pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter " +
        "FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT count(*) AS n_pairs, TRUE AS viol_rate_ok, TRUE AS mean_err_ok " +
        "FROM pairs WHERE inter >= 1",
        Some(s"WITH sub AS (SELECT doc_id, $shingles AS sh FROM documents WHERE doc_id % 20 = 0), " +
          "ex AS (SELECT doc_id, s FROM sub LATERAL VIEW explode(sh) e AS s), " +
          "pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter " +
          "FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
          "SELECT count(*) AS n_pairs, TRUE AS viol_rate_ok, TRUE AS mean_err_ok " +
          "FROM pairs WHERE inter >= 1")),
      Plan("The exact side reuses the q_ngram_jaccard inverted-index " +
        "join (only co-shingled pairs materialize); the estimate side " +
        "is 32 grouped min() aggregates joined back on the bounded " +
        "candidate-pair set — error checking adds joins on PAIRS " +
        "(bounded), never a second corpus pass.")) { (s, d) =>
      val sub = Tables.documents(s, d).filter(pmod(col("doc_id"), lit(20)) === 0)
      val exact = Dedup.ngramJaccardPairs(sub, minJaccard = 0.0)
        .filter(col("inter") >= 1)
      val est = Dedup.minhashEstimate(Dedup.minhash(sub),
        exact.select(col("a"), col("b")))
      // scale-stable accuracy contract: a per-pair max bound is a 4σ
      // event for 32 perms and MUST eventually fail as pair count
      // grows (first observed at a 325k-pair sf1 fixture — ~3
      // expected tail events). Contract instead: ≤0.1% of pairs
      // outside the 4σ (0.35) bound, and mean |err| ≤ 0.1 — both as
      // exact integer arithmetic (|err| e6-floored before the sums).
      val errE6 = floor(abs(col("est_jaccard") - col("jaccard")) * 1e6)
        .cast("long")
      exact.join(est, Seq("a", "b"))
        .agg(count(lit(1)).as("n_pairs"),
          (sum(when(errE6 > 350000L, 1L).otherwise(0L)) * 1000
            <= count(lit(1))).as("viol_rate_ok"),
          (sum(errE6) * 10 <= count(lit(1)) * 1000000L).as("mean_err_ok"))
    },

    // MinHash + LSH banding over the full table
    QuerySpec("q_dedup_minhash",
      Lossy("engine-hash semantics: the MinHash permutations are the " +
        "engine's own hashes, not DuckDB-expressible cheaply"),
      Plan("Shingling is explode + codegen'd projections; signatures are " +
        "32 min() aggregates with map-side partial aggregation — the " +
        "shuffle carries one 32-long signature per (doc, shingle-hash) " +
        "group, never raw text.")) { (s, d) =>
      val mh = Dedup.minhash(Tables.documents(s, d))
      val cand = Dedup.minhashCandidates(mh)
      val nCand = cand.select(col("a").as("doc_id"))
        .unionAll(cand.select(col("b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      mh.select(col("doc_id"), element_at(col("sig"), 1).as("sig0"))
        .join(nCand, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_candidates"))
        .orderBy(col("doc_id"))
    },

    // pairs → connected components → keep/drop resolution. Duplicate
    // pairs come from a 40-char-prefix fingerprint, CHAINED (each doc
    // paired only with its predecessor in the group) so a 3-doc group
    // is a path, not a clique — the oracle (windowed min over the
    // fingerprint) only agrees if label propagation actually walks
    // the graph.
    QuerySpec("q_dedup_groups",
      Sql("SELECT doc_id, min(doc_id) OVER (PARTITION BY substr(text,1,40)) AS component, " +
        "doc_id = min(doc_id) OVER (PARTITION BY substr(text,1,40)) AS keep " +
        "FROM documents ORDER BY doc_id"),
      Plan("Connected components by min-label propagation with pointer " +
        "jumping: every round shuffles (id, label) pairs keyed by " +
        "id/label — a giant duplicate cluster costs its edge count, " +
        "never its square — and rounds grow as O(log diameter). Each " +
        "round re-enters SQL through a cached LogicalRDD so the plan " +
        "stays flat instead of nesting exponentially.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val fp = docs.select(col("doc_id"), substring(col("text"), 1, 40).as("fp"))
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val pairs = fp.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("a"), col("doc_id").as("b"))
      Dedup.resolveDuplicates(docs, pairs).orderBy(col("doc_id"))
    },

    // quality-aware dedup resolution: same component graph as
    // q_dedup_groups, but the keeper is the LONGEST doc of each
    // component (doc_id tie-break) — the "keep the cleanest copy"
    // policy, while component identity stays the min doc_id
    QuerySpec("q_dedup_quality",
      Sql("SELECT doc_id, min(doc_id) OVER (PARTITION BY substr(text,1,40)) AS component, " +
        "row_number() OVER (PARTITION BY substr(text,1,40) " +
        "ORDER BY length(text) DESC, doc_id) = 1 AS keep " +
        "FROM documents ORDER BY doc_id"),
      Plan("Same component graph as q_dedup_groups, but the keeper is " +
        "chosen by ONE max_by hash aggregation on component (a single " +
        "candidate struct per key per partition, map-side combined) " +
        "plus a component-keyed hash join back — a 10M-copy component " +
        "costs its row count, never a per-component sort.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val fp = docs.select(col("doc_id"), substring(col("text"), 1, 40).as("fp"))
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val pairs = fp.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("a"), col("doc_id").as("b"))
      Dedup.resolveDuplicatesBy(docs, pairs, length(col("text")).cast("long"))
        .orderBy(col("doc_id"))
    },

    // incremental dedup: docs with doc_id % 3 == 0 arrive as a NEW
    // batch and are admitted against the fingerprint index of the
    // already-curated rest — the re-crawl path (corpus text is never
    // re-read; only its fp column joins). Prefix-40 fingerprints
    // (same as q_dedup_groups) exercise all three verdicts.
    QuerySpec("q_dedup_incremental",
      Sql("WITH b AS (SELECT doc_id, substr(text,1,40) AS fp FROM documents WHERE doc_id % 3 = 0), " +
        "idx AS (SELECT DISTINCT substr(text,1,40) AS fp FROM documents WHERE doc_id % 3 <> 0), " +
        "cls AS (SELECT doc_id, fp, " +
        "CASE WHEN fp IN (SELECT fp FROM idx) THEN 'dup_of_index' " +
        "WHEN doc_id = min(doc_id) OVER (PARTITION BY fp) THEN 'novel' " +
        "ELSE 'dup_in_batch' END AS status FROM b) " +
        "SELECT doc_id, fp, status, status = 'novel' AS keep FROM cls ORDER BY doc_id"),
      Plan("The re-crawl admission path: the batch LEFT-joins the stored " +
        "fingerprint index keyed by fp (the index side is fp-only — " +
        "the curated corpus text is never re-read) and the novel-vs-" +
        "dup_in_batch verdict is a min window over the BATCH alone, " +
        "so repeated ingests cost O(batch + index join), not " +
        "O(corpus).")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val fp40 = substring(col("text"), 1, 40)
      val index = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(fp40.as("fp"))
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      Dedup.incremental(batch, index, fp40).orderBy(col("doc_id"))
    },

    // bounded-memory incremental admission: the stored index folded
    // into a broadcast Bloom filter instead of joined — soundness
    // (no false negatives: every true dup still caught) plus a
    // bounded novel-loss rate vs the exact operator, as a checked
    // contract
    QuerySpec("q_dedup_incr_bloom",
      Sql("SELECT count(*) AS n_batch, TRUE AS sound, TRUE AS loss_ok " +
        "FROM documents WHERE doc_id % 3 = 0"),
      Plan("The stored index is folded ONCE into a Bloom filter " +
        "(treeAggregate partials, ~1.2 MB/M keys at 1% fpp) that " +
        "broadcasts to the ingest scan: admission is a shuffle-free " +
        "per-row probe plus the same one-window in-batch claim as " +
        "the exact operator. No false negatives by construction; " +
        "the fpp novel-loss is the explicit, checked trade for " +
        "never re-shuffling a trillion-row index per ingest.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val fp40 = substring(col("text"), 1, 40)
      val index = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(fp40.as("fp"))
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val exact = Dedup.incremental(batch, index, fp40)
        .select(col("doc_id"), col("status").as("exact_status"))
      val bloom = Dedup.incrementalBloom(batch, index, fp40,
          expectedItems = 100000L, fpp = 0.01)
        .select(col("doc_id"), col("status").as("bloom_status"))
      exact.join(bloom, Seq("doc_id"))
        .agg(count(lit(1)).as("n_batch"),
          (sum(when(col("exact_status") === Dedup.DupOfIndex &&
            col("bloom_status") =!= Dedup.DupOfIndex, 1L).otherwise(0L)) === 0)
            .as("sound"),
          coalesce(
            sum(when(col("exact_status") === Dedup.Novel &&
              col("bloom_status") === Dedup.DupOfIndex, 1L).otherwise(0L))
              .cast("double") /
              sum(when(col("exact_status") === Dedup.Novel, 1L).otherwise(0L))
              <= 0.05, lit(true)).as("loss_ok"))
    },

    // duplicate-cluster size histogram (governance): how many dup
    // groups exist at each multiplicity — two cascaded partial aggs,
    // the second over at most #distinct-sizes keys
    QuerySpec("q_dup_sizes",
      Sql("WITH g AS (SELECT substr(text,1,40) AS fp, count(*) AS n_copies " +
        "FROM documents GROUP BY 1) " +
        "SELECT n_copies, count(*) AS n_groups FROM g " +
        "WHERE n_copies >= 2 GROUP BY 1 ORDER BY 1")) { (s, d) =>
      Tables.documents(s, d)
        .select(substring(col("text"), 1, 40).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("n_copies"))
        .filter(col("n_copies") >= 2)
        .groupBy("n_copies").agg(count(lit(1)).as("n_groups"))
        .orderBy("n_copies")
    },

    // cross-source duplication matrix (corpus governance): for every
    // unordered source pair, how many duplicate fingerprints they
    // share — diagonal entries count intra-source dup groups (≥2
    // copies within the source). One (fp, source) partial agg, an
    // fp-keyed self-join bounded by sources-per-fp (≤ #sources), and
    // a tiny source-pair agg — the mirror-detection report that
    // tells a 100 TB curation which feeds re-crawl each other.
    QuerySpec("q_dup_sources",
      Sql("WITH f AS (SELECT substr(text,1,40) AS fp, source, count(*) AS n " +
        "FROM documents GROUP BY 1, 2) " +
        "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_fps " +
        "FROM f a JOIN f b ON a.fp = b.fp " +
        "WHERE a.source < b.source OR (a.source = b.source AND a.n >= 2) " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
      Plan("Corpus-governance mirror detection: one (fp, source) " +
        "partial+final aggregate, then an fp-keyed self-join whose " +
        "fan-out is bounded by sources-per-fingerprint (≤ #sources, " +
        "not #copies), then a tiny source-pair aggregate — the " +
        "matrix costs one corpus scan regardless of how hot any " +
        "duplicate group is.")) { (s, d) =>
      val f = Tables.documents(s, d)
        .select(substring(col("text"), 1, 40).as("fp"), col("source"))
        .groupBy("fp", "source").agg(count(lit(1)).as("n"))
      val a = f.select(col("fp"), col("source").as("source_a"), col("n").as("na"))
      val b = f.select(col("fp"), col("source").as("source_b"), col("n").as("nb"))
      a.join(b, Seq("fp"))
        .filter(col("source_a") < col("source_b") ||
          (col("source_a") === col("source_b") && col("na") >= 2))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_shared_fps"))
        .orderBy("source_a", "source_b")
    },

    // fuzzy incremental admission as a checked contract: the engine
    // flags batch docs near-duplicating the corpus through the
    // band-key index + exact verify; flagged must be ⊆ the exact
    // bipartite truth (soundness) and recover ≥80% of it (recall —
    // 16×2 bands catch J≥0.5 pairs w.p. ≥0.99). n_batch/n_exact are
    // oracle-recomputed exactly; the booleans must come out TRUE.
    QuerySpec("q_dedup_incr_near",
      Sql(s"WITH b AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id % 3 = 0), " +
        s"i AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id % 3 <> 0), " +
        "bx AS (SELECT doc_id, unnest(sh) AS s FROM b), " +
        "ix AS (SELECT doc_id, unnest(sh) AS s FROM i), " +
        "bn AS (SELECT doc_id, len(sh) AS n FROM b), " +
        "inz AS (SELECT doc_id, len(sh) AS n FROM i), " +
        "p AS (SELECT bx.doc_id AS a, ix.doc_id AS bd, count(*) AS inter " +
        "FROM bx JOIN ix ON bx.s = ix.s GROUP BY 1, 2), " +
        "e AS (SELECT DISTINCT a FROM p JOIN bn ON bn.doc_id = p.a " +
        "JOIN inz ON inz.doc_id = p.bd " +
        "WHERE CAST(inter AS DOUBLE)/(bn.n + inz.n - inter) >= 0.5) " +
        "SELECT (SELECT count(*) FROM b) AS n_batch, " +
        "(SELECT count(*) FROM e) AS n_exact, " +
        "TRUE AS sound, TRUE AS recall_ok",
        Some(s"WITH b AS (SELECT doc_id, $shingles AS sh FROM documents WHERE doc_id % 3 = 0), " +
          s"i AS (SELECT doc_id, $shingles AS sh FROM documents WHERE doc_id % 3 <> 0), " +
          "bx AS (SELECT doc_id, s FROM b LATERAL VIEW explode(sh) ex AS s), " +
          "ix AS (SELECT doc_id, s FROM i LATERAL VIEW explode(sh) ex AS s), " +
          "bn AS (SELECT doc_id, size(sh) AS n FROM b), " +
          "inz AS (SELECT doc_id, size(sh) AS n FROM i), " +
          "p AS (SELECT bx.doc_id AS a, ix.doc_id AS bd, count(*) AS inter FROM bx JOIN ix ON bx.s = ix.s GROUP BY 1, 2), " +
          "e AS (SELECT DISTINCT a FROM p JOIN bn ON bn.doc_id = p.a JOIN inz ON inz.doc_id = p.bd " +
          "WHERE CAST(inter AS DOUBLE)/(bn.n + inz.n - inter) >= 0.5) " +
          "SELECT (SELECT count(*) FROM b) AS n_batch, (SELECT count(*) FROM e) AS n_exact, " +
          "TRUE AS sound, TRUE AS recall_ok")),
      Plan("Fuzzy admission against the corpus' MinHash band-key index: " +
        "candidates come from a (band, band-hash) equi-join (hot " +
        "buckets capped deterministically), and ONLY candidate " +
        "corpus docs are re-shingled for the exact-Jaccard verify — " +
        "a left-semi join prunes the corpus before any shingle work, " +
        "so an ingest costs O(batch + candidates), never O(corpus). " +
        "The contract query's exact-truth branch is the expensive " +
        "full bipartite join — deliberately, to prove the LSH route " +
        "sound and ≥0.8-recall against it.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val index = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val flagged = Dedup.incrementalNearDup(batch, index, minJaccard = 0.5)
        .filter(col("status") === "near_dup")
        .select(col("doc_id"), lit(1).as("f"))
      // exact bipartite truth: full inverted-index join, no LSH
      val bsh = Dedup.shingleRows(batch).select(col("doc_id").as("a"), col("s"))
      val ish = Dedup.shingleRows(index).select(col("doc_id").as("b"), col("s"))
      val na = bsh.groupBy("a").agg(count(lit(1)).as("na"))
      val nb = ish.groupBy("b").agg(count(lit(1)).as("nb"))
      val truth = bsh.join(ish, "s").groupBy("a", "b").agg(count(lit(1)).as("inter"))
        .join(na, "a").join(nb, "b")
        .filter(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")) >= 0.5)
        .select(col("a").as("doc_id")).distinct()
        .withColumn("t", lit(1))
      batch.select(col("doc_id"))
        .join(flagged, Seq("doc_id"), "left")
        .join(truth, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_batch"),
          // coalesce each aggregate: an EMPTY batch must report
          // (0, 0, TRUE, TRUE) like the oracle's literals, not NULLs
          coalesce(sum(coalesce(col("t"), lit(0))), lit(0)).cast("long").as("n_exact"),
          coalesce(max(when(col("f") === 1 && col("t").isNull, 1).otherwise(0)),
            lit(0)).as("unsound"),
          coalesce(sum(when(col("f") === 1 && col("t") === 1, 1).otherwise(0)),
            lit(0)).as("n_hit"))
        .select(col("n_batch"), col("n_exact"),
          (col("unsound") === 0).as("sound"),
          (col("n_exact") === 0 ||
            col("n_hit") / col("n_exact") >= 0.8).as("recall_ok"))
    },

    // SimHash near-dup bands
    QuerySpec("q_dedup_simhash",
      Lossy("engine-hash semantics: the SimHash fingerprints are the " +
        "engine's own hashes, not DuckDB-expressible cheaply")) { (s, d) =>
      Dedup.simhash(Tables.documents(s, d))
        .select(col("doc_id"), col("simhash"),
          element_at(col("bands"), 1).as("band0"))
        .orderBy(col("doc_id"))
    },

    // cross-doc duplicated-substring spans (Lee et al. exact-substring
    // dedup, span granularity): per-doc count of maximal duplicated
    // 8-gram spans + duplicated/kept token totals — the trim-don't-drop
    // remedy for boilerplate that whole-doc dedup cannot excise
    QuerySpec("q_dedup_substring",
      Sql("WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "gr AS (SELECT doc_id, u.i - 1 AS pos, " +
        "concat_ws(' ', toks[u.i], toks[u.i+1], toks[u.i+2], toks[u.i+3], " +
        "toks[u.i+4], toks[u.i+5], toks[u.i+6], toks[u.i+7]) AS g " +
        "FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) u), " +
        "dup AS (SELECT g FROM gr GROUP BY g HAVING count(DISTINCT doc_id) >= 2), " +
        "s AS (SELECT doc_id, pos FROM gr JOIN dup USING (g)), " +
        "isl AS (SELECT doc_id, pos, CASE WHEN " +
        "max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL " +
        "OR pos > max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
        "THEN 1 ELSE 0 END AS ni FROM s), " +
        "isl2 AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl), " +
        "spans AS (SELECT doc_id, island, min(pos) AS st, max(pos) + 8 AS en FROM isl2 GROUP BY 1, 2), " +
        "summ AS (SELECT doc_id, count(*) AS n_spans, sum(en - st) AS dup_tokens FROM spans GROUP BY 1) " +
        "SELECT summ.doc_id, CAST(n_spans AS BIGINT) AS n_spans, " +
        "CAST(dup_tokens AS BIGINT) AS dup_tokens, " +
        "CAST(len(string_split(text,' ')) - dup_tokens AS BIGINT) AS kept_tokens " +
        "FROM summ JOIN documents ON summ.doc_id = documents.doc_id ORDER BY 1",
        Some(s"WITH t AS (SELECT doc_id, $toks AS toks FROM documents), " +
          "gr AS (SELECT doc_id, i - 1 AS pos, " +
          "concat_ws(' ', element_at(toks, i), element_at(toks, i+1), element_at(toks, i+2), element_at(toks, i+3), " +
          "element_at(toks, i+4), element_at(toks, i+5), element_at(toks, i+6), element_at(toks, i+7)) AS g " +
          "FROM (SELECT * FROM t WHERE size(toks) >= 8) tt LATERAL VIEW explode(sequence(1, size(toks) - 7)) u AS i), " +
          "dup AS (SELECT g FROM gr GROUP BY g HAVING count(DISTINCT doc_id) >= 2), " +
          "s AS (SELECT doc_id, pos FROM gr JOIN dup USING (g)), " +
          "isl AS (SELECT doc_id, pos, CASE WHEN " +
          "max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL " +
          "OR pos > max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
          "THEN 1 ELSE 0 END AS ni FROM s), " +
          "isl2 AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl), " +
          "spans AS (SELECT doc_id, island, min(pos) AS st, max(pos) + 8 AS en FROM isl2 GROUP BY 1, 2), " +
          "summ AS (SELECT doc_id, count(*) AS n_spans, sum(en - st) AS dup_tokens FROM spans GROUP BY 1) " +
          "SELECT summ.doc_id, CAST(n_spans AS BIGINT) AS n_spans, CAST(dup_tokens AS BIGINT) AS dup_tokens, " +
          s"CAST(size($toks) - dup_tokens AS BIGINT) AS kept_tokens " +
          "FROM summ JOIN documents ON summ.doc_id = documents.doc_id ORDER BY 1")),
      Plan("Exact-substring span dedup in three bounded exchanges: " +
        "tokenize once (posexplode + 7 codegen'd leads — no HOF " +
        "re-evaluation), gram df as a grouped count keyed by the " +
        "gram STRING (collision-free oracle parity; a 100 TB run " +
        "keys on xxhash64 and accepts ~2^-64 collisions), duplicated " +
        "starts via one gram-keyed join, and the maximal-span merge " +
        "is a single per-doc gaps-and-islands window pass. Nothing " +
        "ever shuffles document PAIRS — cost is O(tokens), not " +
        "O(docs^2).")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val spans = Dedup.duplicatedSpans(docs, k = 8, minDocs = 2)
      val sizes = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_end") - col("span_start")).as("dup_tokens"))
        .join(sizes, Seq("doc_id"))
        .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
          (col("n_tokens") - col("dup_tokens")).as("kept_tokens"))
        .orderBy(col("doc_id"))
    }
  )
}
