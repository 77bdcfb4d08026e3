package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Contamination, ModelSelection, Sampling, TextOps, UrlOps}
import QuerySpec._
import Common._

/** Text analysis over `documents` (SURVEY.md §2.5): statistics,
  * normalization, language and quality signals, PII and URL cleanup,
  * term statistics and benchmark contamination. */
object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_text_stats",
      Sql(s"SELECT doc_id, n_chars, CAST(len($toksSql) AS BIGINT) AS n_tokens, " +
        s"CAST(floor(CAST(n_chars AS DOUBLE)/len($toksSql)*1000000) AS BIGINT) AS chars_per_token_e6, " +
        s"CAST(floor(CAST($stopSql AS DOUBLE)/len($toksSql)*1000000) AS BIGINT) AS stopword_ratio_e6 " +
        "FROM documents ORDER BY doc_id",
        Some(s"SELECT doc_id, n_chars, CAST(size($toks) AS BIGINT) AS n_tokens, " +
          s"CAST(floor(CAST(n_chars AS DOUBLE)/size($toks)*1000000) AS BIGINT) AS chars_per_token_e6, " +
          s"CAST(floor(CAST($stop AS DOUBLE)/size($toks)*1000000) AS BIGINT) AS stopword_ratio_e6 " +
          "FROM documents ORDER BY doc_id"))) { (s, d) =>
      TextOps.textStats(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    QuerySpec("q_token_count",
      Sql("SELECT doc_id, CAST(len(regexp_extract_all(text,'[a-z0-9]+')) AS BIGINT) AS n_word_tokens, " +
        "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_bpe_est " +
        "FROM documents ORDER BY doc_id",
        Some("SELECT doc_id, CAST(size(regexp_extract_all(text,'[a-z0-9]+', 0)) AS BIGINT) AS n_word_tokens, " +
          "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_bpe_est " +
          "FROM documents ORDER BY doc_id"))) { (s, d) =>
      TextOps.tokenCounts(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    QuerySpec("q_lang_id",
      Sql(s"SELECT doc_id, lang AS lang_true, " +
        s"CASE WHEN CAST($stopSql AS DOUBLE)/len($toksSql) >= 0.05 THEN 'en' ELSE 'unk' END AS lang_pred, " +
        s"CAST(floor(CAST($stopSql AS DOUBLE)/len($toksSql)*1000000) AS BIGINT) AS en_score_e6 " +
        "FROM documents ORDER BY doc_id",
        Some(s"SELECT doc_id, lang AS lang_true, $langPred AS lang_pred, " +
          s"CAST(floor(CAST($stop AS DOUBLE)/size($toks)*1000000) AS BIGINT) AS en_score_e6 " +
          "FROM documents ORDER BY doc_id"))) { (s, d) =>
      TextOps.langId(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    QuerySpec("q_quality_score",
      Sql(s"SELECT doc_id, CAST(floor((least(len($toksSql)/100.0, 1.0)*0.3 " +
        s"+ (CAST($stopSql AS DOUBLE)/len($toksSql))*0.4 " +
        s"+ least((CAST(n_chars AS DOUBLE)/len($toksSql))/8.0, 1.0)*0.3)*1000000) AS BIGINT) AS quality_e6 " +
        "FROM documents ORDER BY doc_id",
        Some(s"SELECT doc_id, $quality AS quality_e6 FROM documents ORDER BY doc_id"))) { (s, d) =>
      TextOps.qualityScore(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    QuerySpec("q_fingerprint",
      Sql("SELECT doc_id, md5(text) AS fp_md5, substr(md5(text),1,16) AS fp64 " +
        "FROM documents ORDER BY doc_id")) { (s, d) =>
      TextOps.fingerprints(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // canonical normalization (lowercase/strip/collapse) — the
    // portable dedup-key view
    QuerySpec("q_text_normalize",
      Sql("SELECT doc_id, " +
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
        "'  +', ' ', 'g')) AS norm_text, " +
        "length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
        "'  +', ' ', 'g'))) AS n_norm_chars " +
        "FROM documents ORDER BY doc_id",
        Some(s"SELECT doc_id, $norm AS norm_text, length($norm) AS n_norm_chars " +
          "FROM documents ORDER BY doc_id")),
      Plan("Three nested codegen'd string expressions fused into the " +
        "scan stage projection: per-row map, no shuffle, no UDF — " +
        "normalization throughput is scan throughput.")) { (s, d) =>
      TextOps.normalized(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // source-rebalanced mixture sampling: every source capped at 15
    // expected docs via integer-arithmetic data-derived rates; the
    // report is per-source kept counts
    QuerySpec("q_source_mix",
      Sql("WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1), " +
        "r AS (SELECT source, least(1000, 15000 // n) AS rate FROM c) " +
        "SELECT d.source, count(*) AS n_kept FROM documents d JOIN r USING (source) " +
        "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate " +
        "GROUP BY d.source ORDER BY d.source",
        Some("WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1), " +
          "r AS (SELECT source, least(1000, 15000 div n) AS rate FROM c) " +
          "SELECT d.source, count(*) AS n_kept FROM documents d JOIN r USING (source) " +
          "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate " +
          "GROUP BY d.source ORDER BY d.source"))) { (s, d) =>
      Sampling.rebalanced(Tables.documents(s, d), idCol = "doc_id",
          strataCol = "source", targetPerStratum = 15)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    },

    // PII scrub with per-class audit counts. The documents fixture is
    // PII-free, so a contact line is PLANTED deterministically from
    // (doc_id, source) — the oracle then actually exercises matching
    // redaction in both engines, not just pass-through.
    QuerySpec("q_pii_redact",
      Sql("WITH p AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) " +
        "|| '@' || source || '.net tel 555-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS t " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "regexp_replace(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'), " +
        "'[0-9]{3}-[0-9]{4,6}', '<NUM>', 'g') AS red_text, " +
        "CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{4,6}')) AS BIGINT) AS n_phones " +
        "FROM p ORDER BY doc_id",
        Some("WITH p AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS STRING) || '@' || source || " +
          "'.net tel 555-' || lpad(CAST(doc_id AS STRING), 6, '0') AS t FROM documents) " +
          "SELECT doc_id, regexp_replace(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>'), " +
          "'[0-9]{3}-[0-9]{4,6}', '<NUM>') AS red_text, " +
          "CAST(size(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+', 0)) AS BIGINT) AS n_emails, " +
          "CAST(size(regexp_extract_all(t, '[0-9]{3}-[0-9]{4,6}', 0)) AS BIGINT) AS n_phones " +
          "FROM p ORDER BY doc_id")),
      Plan("Planting + both redaction passes + both audit counts are one " +
        "codegen'd projection over the scan (regexp_replace/" +
        "regexp_extract_all are native expressions) — zero shuffles; " +
        "a 100 TB scrub is embarrassingly parallel.")) { (s, d) =>
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@"), col("source"), lit(".net tel 555-"),
        lpad(col("doc_id").cast("string"), 6, "0"))
      TextOps.piiRedacted(Tables.documents(s, d), planted)
        .orderBy(col("doc_id"))
    },

    // URL/host-level governance: canonicalize PLANTED raw URLs
    // (scheme/host case, www., default ports, tracking params,
    // fragments, trailing slashes — the fixture exercises every
    // rule including MULTIPLE tracking params in one query string)
    // and aggregate dup pressure per canonical host. Exactly oracled:
    // the oracle replays both the plant and the rule sequence with
    // the same backslash-free regexes
    QuerySpec("q_url_canon",
      // plant + canonicalization replayed rule for rule; the tracking
      // strip needs the 'g' flag here (DuckDB regexp_replace is
      // first-match by default, Spark's is global), so the Spark-SQL
      // twin below uses the 3-arg form
      Sql("WITH u AS (SELECT doc_id, " +
        "(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http' " +
        "WHEN 2 THEN 'HTTPS' ELSE 'https' END) || '://' || " +
        "(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.' " +
        "ELSE '' END) || " +
        "(CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) || '.Example.COM' || " +
        "(CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN ':80' WHEN 1 THEN ':443' " +
        "WHEN 2 THEN ':8080' ELSE '' END) || " +
        "'/art/' || CAST(doc_id % 40 AS VARCHAR) || " +
        "(CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) || " +
        "(CASE CAST(doc_id % 3 AS INT) " +
        "WHEN 0 THEN '?utm_source=feed&utm_medium=rss&id=' || CAST(doc_id % 7 AS VARCHAR) " +
        "WHEN 1 THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x' " +
        "ELSE '?id=' || CAST(doc_id % 7 AS VARCHAR) END) || " +
        "(CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url FROM documents), " +
        "c AS (SELECT doc_id, " +
        "lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme, " +
        "lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport, " +
        "regexp_replace(url, '^[A-Za-z]+://[^/?#]*', '') AS rest FROM u), " +
        "c2 AS (SELECT doc_id, scheme, " +
        "CASE WHEN scheme = 'http' THEN " +
        "regexp_replace(regexp_replace(hostport, '^www[.]', ''), ':80$', '') " +
        "WHEN scheme = 'https' THEN " +
        "regexp_replace(regexp_replace(hostport, '^www[.]', ''), ':443$', '') " +
        "ELSE regexp_replace(hostport, '^www[.]', '') END AS host, " +
        "regexp_replace(rest, '#.*$', '') AS nofrag FROM c), " +
        "c3 AS (SELECT doc_id, scheme, host, " +
        "regexp_replace(regexp_extract(nofrag, '^([^?]*)', 1), '/+$', '') AS path2, " +
        "regexp_replace(regexp_replace('&' || regexp_extract(nofrag, '[?](.*)$', 1), " +
        "'&(utm_[a-z0-9_]+|fbclid|gclid)=[^&]*', '', 'g'), '^&+', '') AS q2 FROM c2), " +
        "canon AS (SELECT host, scheme || '://' || host || path2 || " +
        "CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS canon_url FROM c3) " +
        "SELECT host, count(*) AS n_urls, count(DISTINCT canon_url) AS n_canon, " +
        "count(*) - count(DISTINCT canon_url) AS n_dup, " +
        "min(canon_url) AS sample_canon FROM canon GROUP BY host ORDER BY host",
        // the oracle needs DuckDB's 'g' flag on the tracking-param strip
        // (first-match by default there); Spark's 3-arg regexp_replace is
        // global already, so the twin is the same text minus the flags.
        // CAST(x AS VARCHAR)→CAST(x AS STRING) is the only other mapping.
        Some("WITH u AS (SELECT doc_id, " +
          "(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http' " +
          "WHEN 2 THEN 'HTTPS' ELSE 'https' END) || '://' || " +
          "(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.' " +
          "ELSE '' END) || " +
          "(CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) || '.Example.COM' || " +
          "(CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN ':80' WHEN 1 THEN ':443' " +
          "WHEN 2 THEN ':8080' ELSE '' END) || " +
          "'/art/' || CAST(doc_id % 40 AS STRING) || " +
          "(CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) || " +
          "(CASE CAST(doc_id % 3 AS INT) " +
          "WHEN 0 THEN '?utm_source=feed&utm_medium=rss&id=' || CAST(doc_id % 7 AS STRING) " +
          "WHEN 1 THEN '?id=' || CAST(doc_id % 7 AS STRING) || '&utm_campaign=x' " +
          "ELSE '?id=' || CAST(doc_id % 7 AS STRING) END) || " +
          "(CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url FROM documents), " +
          "c AS (SELECT doc_id, " +
          "lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme, " +
          "lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport, " +
          "regexp_replace(url, '^[A-Za-z]+://[^/?#]*', '') AS rest FROM u), " +
          "c2 AS (SELECT doc_id, scheme, " +
          "CASE WHEN scheme = 'http' THEN " +
          "regexp_replace(regexp_replace(hostport, '^www[.]', ''), ':80$', '') " +
          "WHEN scheme = 'https' THEN " +
          "regexp_replace(regexp_replace(hostport, '^www[.]', ''), ':443$', '') " +
          "ELSE regexp_replace(hostport, '^www[.]', '') END AS host, " +
          "regexp_replace(rest, '#.*$', '') AS nofrag FROM c), " +
          "c3 AS (SELECT doc_id, scheme, host, " +
          "regexp_replace(regexp_extract(nofrag, '^([^?]*)', 1), '/+$', '') AS path2, " +
          "regexp_replace(regexp_replace('&' || regexp_extract(nofrag, '[?](.*)$', 1), " +
          "'&(utm_[a-z0-9_]+|fbclid|gclid)=[^&]*', ''), '^&+', '') AS q2 FROM c2), " +
          "canon AS (SELECT host, scheme || '://' || host || path2 || " +
          "CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS canon_url FROM c3) " +
          "SELECT host, count(*) AS n_urls, count(DISTINCT canon_url) AS n_canon, " +
          "count(*) - count(DISTINCT canon_url) AS n_dup, " +
          "min(canon_url) AS sample_canon FROM canon GROUP BY host ORDER BY host")),
      Plan("Canonicalization is a per-row regexp projection inside the " +
        "scan's codegen stage — no UDF, no shuffle; the host report " +
        "is ONE hash aggregation keyed by host with map-side partial " +
        "counts, so the exchange carries |hosts| rows per partition, " +
        "never URLs. At 100 TB this is scan-bound by construction.")) { (s, d) =>
      val id = col("doc_id")
      val m = pmod(id, lit(7)).cast("string")
      val schemeRaw = element_at(
        array(lit("HTTP"), lit("http"), lit("HTTPS"), lit("https")),
        pmod(id, lit(4)).cast("int") + 1)
      val www = element_at(array(lit("WWW."), lit("www."), lit("")),
        pmod(id, lit(3)).cast("int") + 1)
      val hostRaw = concat(
        when(pmod(id, lit(2)) === 0, upper(col("source")))
          .otherwise(col("source")), lit(".Example.COM"))
      val port = element_at(
        array(lit(":80"), lit(":443"), lit(":8080"), lit(""), lit("")),
        pmod(id, lit(5)).cast("int") + 1)
      val path = concat(lit("/art/"), pmod(id, lit(40)).cast("string"),
        when(pmod(id, lit(6)) === 0, lit("/")).otherwise(lit("")))
      val query = element_at(array(
        concat(lit("?utm_source=feed&utm_medium=rss&id="), m),
        concat(lit("?id="), m, lit("&utm_campaign=x")),
        concat(lit("?id="), m)), pmod(id, lit(3)).cast("int") + 1)
      val frag = when(pmod(id, lit(7)) === 0, lit("#sec")).otherwise(lit(""))
      val url = concat(schemeRaw, lit("://"), www, hostRaw, port, path,
        query, frag)
      UrlOps.hostReport(UrlOps.withCanonical(
        Tables.documents(s, d).select(col("doc_id"), url.as("url"))))
    },

    // per-doc top-3 informative terms (integer tf-idf ranking)
    QuerySpec("q_top_terms",
      Sql("WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term " +
        "FROM documents) GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, " +
        "tf.tf * (n.n_docs // df.df) AS score FROM tf JOIN df USING (term), n " +
        "WHERE tf.term NOT IN ('the','a','of','and','in')), " +
        "r AS (SELECT sc.*, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, tf DESC, term) AS rk FROM sc) " +
        "SELECT doc_id, rk, term, tf, df, score FROM r WHERE rk <= 3 " +
        "ORDER BY doc_id, rk",
        Some("WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, term FROM documents " +
          "LATERAL VIEW explode(regexp_extract_all(text, '[a-z0-9]+', 0)) e AS term) GROUP BY 1, 2), " +
          "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
          "n AS (SELECT count(*) AS n_docs FROM documents), " +
          "sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, tf.tf * (n.n_docs div df.df) AS score " +
          "FROM tf JOIN df USING (term) CROSS JOIN n WHERE tf.term NOT IN ('the','a','of','and','in')), " +
          "r AS (SELECT sc.*, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tf DESC, term) AS rk FROM sc) " +
          "SELECT doc_id, rk, term, tf, df, score FROM r WHERE rk <= 3 ORDER BY doc_id, rk")),
      Plan("The corpus shuffles once as map-side-combined (doc, term, tf) " +
        "partials — never raw text; df and the doc count are " +
        "vocab-sized/scalar and BROADCAST back; the per-doc top-3 is " +
        "WindowGroupLimit-pruned to k rows per doc before the final " +
        "window sort.")) { (s, d) =>
      TextOps.topTerms(Tables.documents(s, d), k = 3)
        .orderBy(col("doc_id"), col("rk"))
    },

    // train/eval decontamination: docs with doc_id % 10 == 0 stand in
    // for the held-out eval suite; every other doc is train. Per
    // train doc: distinct word-3-shingles, how many also occur in
    // eval, overlap fraction, and the >= 10% contaminated flag — all
    // integer arithmetic, eval shingle set broadcast
    QuerySpec("q_contamination",
      Sql(s"WITH tr AS (SELECT doc_id, unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 <> 0), " +
        s"ev AS (SELECT DISTINCT unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "c AS (SELECT tr.doc_id, count(*) AS n_shingles, count(ev.s) AS n_overlap " +
        "FROM tr LEFT JOIN ev ON tr.s = ev.s GROUP BY 1) " +
        "SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, " +
        "CAST(n_overlap AS BIGINT) AS n_overlap, " +
        "n_overlap * 1000000 // n_shingles AS contam_e6, " +
        "n_overlap * 1000000 >= 100000 * n_shingles AS contaminated " +
        "FROM c ORDER BY doc_id",
        Some(s"WITH tr AS (SELECT doc_id, s FROM documents LATERAL VIEW explode($shingles) ex AS s WHERE doc_id % 10 <> 0), " +
          s"ev AS (SELECT DISTINCT s FROM documents LATERAL VIEW explode($shingles) ex AS s WHERE doc_id % 10 = 0), " +
          "c AS (SELECT tr.doc_id, count(*) AS n_shingles, count(ev.s) AS n_overlap " +
          "FROM tr LEFT JOIN ev ON tr.s = ev.s GROUP BY 1) " +
          "SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, CAST(n_overlap AS BIGINT) AS n_overlap, " +
          "n_overlap * 1000000 div n_shingles AS contam_e6, " +
          "n_overlap * 1000000 >= 100000 * n_shingles AS contaminated FROM c ORDER BY doc_id")),
      Plan("The eval shingle set (benchmark suites are MBs at any corpus " +
        "scale) builds once and broadcasts; the train side is ONE scan " +
        "→ shingle window keyed by doc_id → BroadcastHashJoin → one " +
        "doc_id-keyed aggregate. The 100 TB corpus is never shuffled " +
        "on shingle text; `broadcastEval=false` degrades the same " +
        "plan to a shuffled hash join when the eval side is genuinely " +
        "large.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Contamination.overlapReport(
          train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          eval = docs.filter(pmod(col("doc_id"), lit(10)) === 0))
        .orderBy(col("doc_id"))
    },

    // term co-occurrence with integer lift scores (the PMI signal
    // without the float log): strongest 100 pairs among the top-50
    // informative terms
    QuerySpec("q_cooccur",
      Sql("WITH dt AS (SELECT DISTINCT doc_id, " +
        "unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term FROM documents), " +
        "ft AS (SELECT * FROM dt WHERE term NOT IN ('the','a','of','and','in')), " +
        "df AS (SELECT term, count(*) AS df FROM ft GROUP BY 1), " +
        "v AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 50), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "vt AS (SELECT ft.doc_id, ft.term, v.df FROM ft JOIN v USING (term)), " +
        "p AS (SELECT x.term AS a, y.term AS b, x.df AS df_a, y.df AS df_b, " +
        "count(*) AS n_ab FROM vt x JOIN vt y ON x.doc_id = y.doc_id " +
        "AND x.term < y.term GROUP BY 1, 2, 3, 4) " +
        "SELECT a, b, df_a, df_b, n_ab, " +
        "n_ab * n_docs * 1000000 // (df_a * df_b) AS lift_e6 " +
        "FROM p, n ORDER BY lift_e6 DESC, a, b LIMIT 100",
        Some("WITH dt AS (SELECT DISTINCT doc_id, term FROM documents " +
          "LATERAL VIEW explode(regexp_extract_all(text, '[a-z0-9]+', 0)) ex AS term), " +
          "ft AS (SELECT * FROM dt WHERE term NOT IN ('the','a','of','and','in')), " +
          "df AS (SELECT term, count(*) AS df FROM ft GROUP BY 1), " +
          "v AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 50), " +
          "n AS (SELECT count(*) AS n_docs FROM documents), " +
          "vt AS (SELECT ft.doc_id, ft.term, v.df FROM ft JOIN v USING (term)), " +
          "p AS (SELECT x.term AS a, y.term AS b, x.df AS df_a, y.df AS df_b, count(*) AS n_ab " +
          "FROM vt x JOIN vt y ON x.doc_id = y.doc_id AND x.term < y.term GROUP BY 1, 2, 3, 4) " +
          "SELECT a, b, df_a, df_b, n_ab, n_ab * n_docs * 1000000 div (df_a * df_b) AS lift_e6 " +
          "FROM p CROSS JOIN n ORDER BY lift_e6 DESC, a, b LIMIT 100")),
      Plan("The vocab cap bounds the pair fan-out at C(50,2) per doc; " +
        "vocab (50 rows) and n_docs (1 row) broadcast, so the corpus " +
        "shuffles once on doc_id for the self-join and once as " +
        "(a, b) aggregate partials — co-occurrence volume is governed " +
        "by the cap, not corpus size; lift is codegen'd integer " +
        "arithmetic.")) { (s, d) =>
      TextOps.cooccurLift(Tables.documents(s, d), vocab = 50, topPairs = 100)
    },

    // fuzzy pairwise decontamination: flag a train doc when its
    // 3-gram Jaccard vs SOME single eval doc reaches 50% — catches
    // the near-copy leaks the pooled-shingle fraction dilutes (the
    // fixture plants template twins at ≥96% vs a ~2% background)
    QuerySpec("q_decontam_fuzzy",
      Sql(s"WITH tr AS (SELECT doc_id, unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 <> 0), " +
        s"ev AS (SELECT doc_id AS eval_id, unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "tn AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY 1), " +
        "en AS (SELECT eval_id, count(*) AS n_ev FROM ev GROUP BY 1), " +
        "pj AS (SELECT tr.doc_id, ev.eval_id, count(*) AS inter " +
        "FROM tr JOIN ev USING (s) GROUP BY 1, 2), " +
        "j AS (SELECT pj.doc_id, pj.eval_id, " +
        "(inter * 1000000) // (n_sh + n_ev - inter) AS jac " +
        "FROM pj JOIN tn USING (doc_id) JOIN en USING (eval_id)), " +
        "b AS (SELECT doc_id, jac, eval_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY jac DESC, eval_id ASC) AS rn FROM j) " +
        "WHERE rn = 1) " +
        "SELECT tn.doc_id, CAST(tn.n_sh AS BIGINT) AS n_sh, " +
        "CAST(coalesce(b.jac, 0) AS BIGINT) AS best_jaccard_e6, " +
        "b.eval_id AS best_eval_id, " +
        "coalesce(b.jac, 0) >= 500000 AS contaminated " +
        "FROM tn LEFT JOIN b USING (doc_id) ORDER BY doc_id",
        Some(s"WITH tr AS (SELECT doc_id, s FROM documents LATERAL VIEW explode($shingles) ex AS s WHERE doc_id % 10 <> 0), " +
          s"ev AS (SELECT doc_id AS eval_id, s FROM documents LATERAL VIEW explode($shingles) ex AS s WHERE doc_id % 10 = 0), " +
          "tn AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY 1), " +
          "en AS (SELECT eval_id, count(*) AS n_ev FROM ev GROUP BY 1), " +
          "pj AS (SELECT tr.doc_id, ev.eval_id, count(*) AS inter FROM tr JOIN ev USING (s) GROUP BY 1, 2), " +
          "j AS (SELECT pj.doc_id, pj.eval_id, (inter * 1000000) div (n_sh + n_ev - inter) AS jac " +
          "FROM pj JOIN tn USING (doc_id) JOIN en USING (eval_id)), " +
          "b AS (SELECT doc_id, jac, eval_id FROM (SELECT *, row_number() OVER " +
          "(PARTITION BY doc_id ORDER BY jac DESC, eval_id ASC) AS rn FROM j) WHERE rn = 1) " +
          "SELECT tn.doc_id, CAST(tn.n_sh AS BIGINT) AS n_sh, CAST(coalesce(b.jac, 0) AS BIGINT) AS best_jaccard_e6, " +
          "b.eval_id AS best_eval_id, coalesce(b.jac, 0) >= 500000 AS contaminated " +
          "FROM tn LEFT JOIN b USING (doc_id) ORDER BY doc_id")),
      Plan("The bipartite inverted index materializes ONLY co-shingled " +
        "(train, eval) pairs — any pair with Jaccard ≥ ε shares a " +
        "shingle, so candidate generation is EXACT with no LSH " +
        "recall caveat and no cross product; joins shuffle on " +
        "shingle then doc ids, and the best-match argmax is one " +
        "struct-max aggregate.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Contamination.fuzzyReport(
          train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          eval = docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          minJaccardE6 = 500000L)
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition quality signals: per doc, the char
    // fraction covered by the most frequent word-bigram and the
    // repeated-bigram fraction — the "drop templated/looping text"
    // gates, as floor-divided e6 integers
    QuerySpec("q_quality_repetition",
      Sql("WITH w AS (SELECT doc_id, n_chars, string_split(text,' ') AS t FROM documents), " +
        "g AS (SELECT doc_id, n_chars, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gm " +
        "FROM w WHERE len(t) >= 2), " +
        "c AS (SELECT doc_id, n_chars, gm, count(*) AS cnt FROM g GROUP BY 1, 2, 3), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY cnt DESC, gm) AS rn FROM c), " +
        "a AS (SELECT doc_id, n_chars, sum(cnt) AS n_grams, count(*) AS n_distinct, " +
        "max(CASE WHEN rn = 1 THEN gm END) AS top_gram, " +
        "max(CASE WHEN rn = 1 THEN cnt END) AS top_cnt FROM r GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, " +
        "CAST(n_distinct AS BIGINT) AS n_distinct, top_gram, " +
        "CAST(top_cnt AS BIGINT) AS top_cnt, " +
        "top_cnt * length(top_gram) * 1000000 // n_chars AS top_frac_e6, " +
        "CAST((n_grams - n_distinct) * 1000000 // n_grams AS BIGINT) AS dup_frac_e6 " +
        "FROM a ORDER BY doc_id",
        Some(s"WITH w AS (SELECT doc_id, n_chars, $toks AS t FROM documents), " +
          "g AS (SELECT doc_id, n_chars, gm FROM (SELECT * FROM w WHERE size(t) >= 2) ww " +
          "LATERAL VIEW explode(transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i+1)))) u AS gm), " +
          "c AS (SELECT doc_id, n_chars, gm, count(*) AS cnt FROM g GROUP BY 1, 2, 3), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gm) AS rn FROM c), " +
          "a AS (SELECT doc_id, n_chars, sum(cnt) AS n_grams, count(*) AS n_distinct, " +
          "max(CASE WHEN rn = 1 THEN gm END) AS top_gram, max(CASE WHEN rn = 1 THEN cnt END) AS top_cnt " +
          "FROM r GROUP BY 1, 2) " +
          "SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(n_distinct AS BIGINT) AS n_distinct, " +
          "top_gram, CAST(top_cnt AS BIGINT) AS top_cnt, " +
          "top_cnt * length(top_gram) * 1000000 div n_chars AS top_frac_e6, " +
          "CAST((n_grams - n_distinct) * 1000000 div n_grams AS BIGINT) AS dup_frac_e6 " +
          "FROM a ORDER BY doc_id")),
      Plan("Bigram explode feeds a partial+final HashAggregate on " +
        "(doc_id, gram) — map-side combine absorbs the repetition the " +
        "operator exists to measure — then the top-gram window and " +
        "final per-doc aggregate reuse the SAME doc_id hash " +
        "partitioning (no second exchange). All fractions are " +
        "codegen'd integer div, bit-stable across engines.")) { (s, d) =>
      TextOps.repetitionStats(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // CCNet-style bigram-LM scoring: train the corpus's own bigram
    // table, score each doc by avg negative log-likelihood (e6
    // integer; lower = more in-distribution) — the learned quality
    // tier after the rule-based gates
    QuerySpec("q_quality_lm",
      Sql("WITH w AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "bg AS (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i])) AS w0, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w1 " +
        "FROM w WHERE len(t) >= 2), " +
        "c2 AS (SELECT w0, w1, count(*) AS c2 FROM bg GROUP BY 1, 2), " +
        "c1 AS (SELECT w0, sum(c2) AS c1 FROM c2 GROUP BY 1), " +
        "v AS (SELECT count(DISTINCT w1) AS v FROM c2), " +
        "sc AS (SELECT bg.doc_id, " +
        "CAST(floor(ln((c2.c2 + 1.0) / (c1.c1 + v.v)) * 1e9) AS BIGINT) AS lp " +
        "FROM bg JOIN c2 USING (w0, w1) JOIN c1 USING (w0) CROSS JOIN v) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST((-sum(lp)) // (count(*) * 1000) AS BIGINT) AS nll_e6 " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id",
        Some(s"WITH w AS (SELECT doc_id, $toks AS t FROM documents), " +
          "bg AS (SELECT doc_id, element_at(t, i) AS w0, element_at(t, i + 1) AS w1 " +
          "FROM (SELECT * FROM w WHERE size(t) >= 2) ww " +
          "LATERAL VIEW explode(sequence(1, size(t) - 1)) u AS i), " +
          "c2 AS (SELECT w0, w1, count(*) AS c2 FROM bg GROUP BY 1, 2), " +
          "c1 AS (SELECT w0, sum(c2) AS c1 FROM c2 GROUP BY 1), " +
          "v AS (SELECT count(DISTINCT w1) AS v FROM c2), " +
          "sc AS (SELECT bg.doc_id, " +
          "CAST(floor(ln((c2.c2 + 1.0D) / (c1.c1 + v.v)) * 1e9) AS BIGINT) AS lp " +
          "FROM bg JOIN c2 USING (w0, w1) JOIN c1 USING (w0) CROSS JOIN v) " +
          "SELECT doc_id, count(*) AS n_bigrams, " +
          "(-sum(lp)) div (count(*) * 1000) AS nll_e6 " +
          "FROM sc GROUP BY doc_id ORDER BY doc_id")),
      Plan("The bigram LM trains and scores in one pipeline: document " +
        "bigrams are built under a single doc_id exchange (posexplode " +
        "+ lead, the shingle shape); the (w0,w1) and (w0) count " +
        "tables shuffle only map-side-combined vocabulary-sized " +
        "partials, and the score join keys corpus bigrams against " +
        "that sublinear model (auto-broadcast here; gram-keyed " +
        "shuffle + AQE skew handling past the broadcast threshold). " +
        "Every log-prob is e9-quantized BEFORE the per-doc sum, so " +
        "aggregation is pure integer math — partition-order-" +
        "independent and bit-portable.")) { (s, d) =>
      ModelSelection.lmScore(Tables.documents(s, d))
    },

    // the same scoring under Kneser-Ney-lite smoothing (absolute
    // discount + continuation-probability backoff — the CCNet
    // standard configuration); same e9-quantized integer sums
    QuerySpec("q_quality_lm_kn",
      // Kneser-Ney-lite: absolute discount 0.75 + continuation backoff;
      // the float expression parenthesization matches the Spark side
      // verbatim (then e9-floored before any sum)
      Sql("WITH w AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "bg AS (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i])) AS w0, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w1 " +
        "FROM w WHERE len(t) >= 2), " +
        "c2 AS (SELECT w0, w1, count(*) AS c2 FROM bg GROUP BY 1, 2), " +
        "c1 AS (SELECT w0, sum(c2) AS c1, count(*) AS nf FROM c2 GROUP BY 1), " +
        "np AS (SELECT w1, count(*) AS np FROM c2 GROUP BY 1), " +
        "nbt AS (SELECT count(*) AS nbt FROM c2), " +
        "sc AS (SELECT bg.doc_id, " +
        "CAST(floor(ln(((c2.c2 - 0.75) + 0.75 * c1.nf * " +
        "(CAST(np.np AS DOUBLE) / nbt.nbt)) / c1.c1) * 1e9) AS BIGINT) AS lp " +
        "FROM bg JOIN c2 USING (w0, w1) JOIN c1 USING (w0) " +
        "JOIN np USING (w1) CROSS JOIN nbt) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST((-sum(lp)) // (count(*) * 1000) AS BIGINT) AS nll_e6 " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id",
        Some(s"WITH w AS (SELECT doc_id, $toks AS t FROM documents), " +
          "bg AS (SELECT doc_id, element_at(t, i) AS w0, element_at(t, i + 1) AS w1 " +
          "FROM (SELECT * FROM w WHERE size(t) >= 2) ww " +
          "LATERAL VIEW explode(sequence(1, size(t) - 1)) u AS i), " +
          "c2 AS (SELECT w0, w1, count(*) AS c2 FROM bg GROUP BY 1, 2), " +
          "c1 AS (SELECT w0, sum(c2) AS c1, count(*) AS nf FROM c2 GROUP BY 1), " +
          "np AS (SELECT w1, count(*) AS np FROM c2 GROUP BY 1), " +
          "nbt AS (SELECT count(*) AS nbt FROM c2), " +
          "sc AS (SELECT bg.doc_id, " +
          "CAST(floor(ln(((c2.c2 - 0.75D) + 0.75D * c1.nf * " +
          "(CAST(np.np AS DOUBLE) / nbt.nbt)) / c1.c1) * 1e9) AS BIGINT) AS lp " +
          "FROM bg JOIN c2 USING (w0, w1) JOIN c1 USING (w0) " +
          "JOIN np USING (w1) CROSS JOIN nbt) " +
          "SELECT doc_id, count(*) AS n_bigrams, " +
          "(-sum(lp)) div (count(*) * 1000) AS nll_e6 " +
          "FROM sc GROUP BY doc_id ORDER BY doc_id"))) { (s, d) =>
      ModelSelection.lmScoreKn(Tables.documents(s, d))
    },

    // tokenizer-prep vocabulary coverage: top-20 term vocab from the
    // train split (tf desc, term tie-break — deterministic at the
    // cutoff), OOV rate of the held-out split as integer ppm. The
    // vocab is TakeOrdered'd then broadcast — the held-out scan never
    // shuffles
    QuerySpec("q_vocab_coverage",
      Sql("WITH tr AS (SELECT unnest(string_split(text, ' ')) AS term " +
        "FROM documents WHERE doc_id % 4 <> 0), " +
        "v AS (SELECT term FROM (SELECT term, count(*) AS tf FROM tr " +
        "WHERE term <> '' GROUP BY 1) ORDER BY tf DESC, term LIMIT 20), " +
        "h AS (SELECT unnest(string_split(text, ' ')) AS term " +
        "FROM documents WHERE doc_id % 4 = 0), " +
        "hh AS (SELECT term FROM h WHERE term <> ''), " +
        "st AS (SELECT (SELECT count(*) FROM v) AS n_vocab, " +
        "(SELECT count(*) FROM hh) AS n_held_tokens, " +
        "(SELECT count(*) FROM hh WHERE term NOT IN (SELECT term FROM v)) AS n_oov) " +
        "SELECT n_vocab, n_held_tokens, n_oov, " +
        "n_oov * 1000000 // n_held_tokens AS oov_e6 FROM st",
        Some(s"WITH tr AS (SELECT term FROM documents LATERAL VIEW explode($toks) e AS term WHERE doc_id % 4 <> 0), " +
          "v AS (SELECT term FROM (SELECT term, count(*) AS tf FROM tr WHERE term <> '' GROUP BY 1) " +
          "ORDER BY tf DESC, term LIMIT 20), " +
          s"h AS (SELECT term FROM documents LATERAL VIEW explode($toks) e AS term WHERE doc_id % 4 = 0), " +
          "hh AS (SELECT term FROM h WHERE term <> ''), " +
          "st AS (SELECT (SELECT count(*) FROM v) AS n_vocab, (SELECT count(*) FROM hh) AS n_held_tokens, " +
          "(SELECT count(*) FROM hh WHERE term NOT IN (SELECT term FROM v)) AS n_oov) " +
          "SELECT n_vocab, n_held_tokens, n_oov, n_oov * 1000000 div n_held_tokens AS oov_e6 FROM st")),
      Plan("Vocabulary fit + held-out coverage in two scans: the train " +
        "scan aggregates term frequencies partial+final and the " +
        "top-20 cutoff is TakeOrderedAndProject (per-partition " +
        "heaps); the tiny vocab then BROADCASTS into the held-out " +
        "scan, so coverage is a map-side join + one global agg — " +
        "the held-out tokens never shuffle.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      def toks(df: org.apache.spark.sql.DataFrame) =
        df.select(explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
      val vocab = toks(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0))
        .groupBy("term").agg(count(lit(1)).as("tf"))
        .orderBy(desc("tf"), col("term")).limit(20)
        .select(col("term"), lit(1).as("in_vocab"))
      val cov = toks(docs.filter(pmod(col("doc_id"), lit(4)) === 0))
        .join(broadcast(vocab), Seq("term"), "left")
        .agg(count(lit(1)).as("n_held_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
      cov.crossJoin(vocab.agg(count(lit(1)).cast("long").as("n_vocab")))
        .select(col("n_vocab"), col("n_held_tokens"), col("n_oov"),
          expr("n_oov * 1000000 div n_held_tokens").as("oov_e6"))
    }
  )
}
