package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Html, Packing, Tokenizer, Unigram}
import QuerySpec._

/** Tokenization and packing over `documents` (SURVEY.md §2.5):
  * chunking and sequence packing, BPE and unigram-LM training and
  * encoding, trained-tokenizer packing, and HTML text extraction. */
object TokenizeQueries {

  /** The unrolled-CTE BPE induction chain shared by the three BPE
    * oracles: round r counts adjacent symbol pairs of wf(r-1)
    * (1-based array indexing), takes the (cnt desc, pair asc)
    * argmax, and rewrites via `replace` over the delimiter-wrapped
    * symbol string ("<a><b><c>", see Tokenizer.wordFreq) — with
    * per-symbol wrapping, plain non-overlapping left-to-right
    * `replace` IS the reference greedy merge. `finalWf` additionally
    * materializes wf`rounds` (the fully-merged vocab the ENCODE
    * oracles read; the merges oracle stops at the argmaxes). */
  private def bpeChainSql(rounds: Int, finalWf: Boolean): String = {
    val sb = new StringBuilder
    sb ++= ("WITH wf0 AS (SELECT word, regexp_replace(word, '(.)', '<\\1>', 'g') AS sym, n " +
      "FROM (SELECT word, count(*) AS n FROM " +
      "(SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word FROM documents) GROUP BY 1))")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s", tk$r AS (SELECT regexp_extract_all(sym, '[^<>]+') AS tk, n FROM wf$p)"
      sb ++= (s", pc$r AS (SELECT tk[i] AS a, tk[i+1] AS b, CAST(sum(n) AS BIGINT) AS cnt " +
        s"FROM (SELECT tk, n, unnest(range(1, len(tk))) AS i FROM tk$r) GROUP BY 1, 2)")
      sb ++= s", top$r AS (SELECT a, b, cnt FROM pc$r ORDER BY cnt DESC, a, b LIMIT 1)"
      if (r < rounds || finalWf)
        sb ++= (s", wf$r AS (SELECT word, replace(sym, (SELECT '<' || a || '><' || b || '>' FROM top$r), " +
          s"(SELECT '<' || a || b || '>' FROM top$r)) AS sym, n FROM wf$p)")
    }
    sb.toString
  }

  private def bpeOracleSql(rounds: Int): String = {
    val sb = new StringBuilder(bpeChainSql(rounds, finalWf = false))
    sb ++= " SELECT * FROM ("
    sb ++= (1 to rounds).map(r =>
      s"SELECT $r AS round, a AS pair_a, b AS pair_b, cnt FROM top$r").mkString(" UNION ALL ")
    sb ++= ") ORDER BY round"
    sb.toString
  }

  /** BPE-encode oracle: rank the distinct final symbols
    * lexicographically into ids, join each word's ordered symbols to
    * ids, and reassemble each document's id sequence in (word pos,
    * symbol pos) order. unnest + generate_subscripts share one
    * SELECT (either alone in a subquery re-expands per row). */
  private def bpeEncodeOracleSql(rounds: Int): String =
    bpeChainSql(rounds, finalWf = true) +
      s", vocab AS (SELECT word, regexp_extract_all(sym, '[^<>]+') AS syms FROM wf$rounds)" +
      ", symtab AS (SELECT symbol, CAST(row_number() OVER (ORDER BY symbol) AS INT) AS tid " +
      "FROM (SELECT DISTINCT unnest(syms) AS symbol FROM vocab))" +
      ", wsym AS (SELECT word, generate_subscripts(syms, 1) AS spos, unnest(syms) AS symbol FROM vocab)" +
      ", wids AS (SELECT word, string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY spos) AS wids, " +
      "CAST(count(*) AS BIGINT) AS wn FROM wsym JOIN symtab USING (symbol) GROUP BY word)" +
      ", dw AS (SELECT doc_id, generate_subscripts(ws, 1) AS wpos, unnest(ws) AS word " +
      "FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ws FROM documents))" +
      " SELECT d.doc_id, CAST(coalesce(sum(j.wn), 0) AS BIGINT) AS n_tokens, " +
      "coalesce(string_agg(j.wids, ' ' ORDER BY j.wpos), '') AS token_ids " +
      "FROM documents d LEFT JOIN (SELECT dw.doc_id, dw.wpos, wids.wids, wids.wn " +
      "FROM dw JOIN wids USING (word)) j ON d.doc_id = j.doc_id " +
      "GROUP BY d.doc_id ORDER BY d.doc_id"

  /** Trained-tokenizer packing oracle: the q_pack_chunks layout with
    * the bytes/4 estimate replaced by the BPE-encode token counts. */
  private def bpePackOracleSql(rounds: Int, seqLen: Int): String =
    bpeChainSql(rounds, finalWf = true) +
      s", wcnt AS (SELECT word, CAST(len(regexp_extract_all(sym, '[^<>]+')) AS BIGINT) AS wn FROM wf$rounds)" +
      ", dw AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word FROM documents)" +
      ", tok AS (SELECT d.doc_id, d.source, CAST(coalesce(sum(j.wn), 0) AS BIGINT) AS n_tok " +
      "FROM documents d LEFT JOIN (SELECT dw.doc_id, wcnt.wn FROM dw JOIN wcnt USING (word)) j " +
      "ON d.doc_id = j.doc_id GROUP BY d.doc_id, d.source)" +
      ", off AS (SELECT doc_id, source, n_tok, " +
      "CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM tok) " +
      "SELECT doc_id, source, n_tok, start_tok, " +
      s"start_tok // $seqLen AS chunk_id, " +
      "CASE WHEN n_tok = 0 THEN 0 ELSE " +
      s"(start_tok + n_tok - 1) // $seqLen - start_tok // $seqLen + 1 END AS n_chunks " +
      "FROM off ORDER BY doc_id"

  /** HTML-extraction oracle: rebuild the planted page (the same
    * concatenation as Html.plantedPage), then extract with DuckDB's
    * RE2 — block drops in the operator's order, comment/tag strip,
    * entity decode with &amp; last, whitespace collapse. */
  private def htmlExtractOracleSql: String = {
    val page = "'<html><head><title>doc ' || doc_id || '</title>' || " +
      "'<style>body { color: #000; font: 12px; }</style>' || " +
      "'<script>var x = 1; if (x < 2) { x = \"&amp;\"; }</script>' || " +
      "'</head><body>' || " +
      "'<nav><ul><li><a href=\"/home\">home</a></li>" +
      "<li><a href=\"/about\">about</a></li></ul></nav>' || " +
      "'<h1>' || source || ' ' || doc_id || '</h1>' || " +
      "'<p>intro &amp; summary &lt;generated&gt;</p>' || " +
      "'<p>' || replace(text, 'spark', '&quot;spark&quot;') || '</p>' || " +
      "'<footer><a href=\"/tos\">terms</a> of use</footer>' || " +
      "'</body></html>'"
    val noBlocks = Seq("script", "style", "nav", "header", "footer", "aside")
      .foldLeft("html") { (c, t) =>
        s"regexp_replace($c, '(?i)<$t[^>]*>.*?</$t>', ' ', 'g')"
      }
    val noTags =
      s"regexp_replace(regexp_replace($noBlocks, '<!--.*?-->', ' ', 'g'), '<[^>]+>', ' ', 'g')"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&apos;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => s"replace($c, '$e', '$v')" }
    s"WITH h AS (SELECT doc_id, $page AS html FROM documents), " +
      s"c AS (SELECT doc_id, html, trim(regexp_replace($decoded, ' +', ' ', 'g')) AS clean_text FROM h) " +
      "SELECT doc_id, clean_text, " +
      "CAST(length(clean_text) AS BIGINT) AS n_clean_chars, " +
      "CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags, " +
      "CAST(len(regexp_extract_all(html, '(?i)<a\\b[^>]*>')) AS BIGINT) AS n_links, " +
      "CAST(len(regexp_extract_all(html, '&[a-z]+;')) AS BIGINT) AS n_entities, " +
      "CAST(floor(CAST(length(clean_text) AS DOUBLE) / length(html) * 1000000) AS BIGINT) AS content_ratio_e6 " +
      "FROM c ORDER BY doc_id"
  }

  /** Spark-dialect twin of htmlExtractOracleSql (regexp_replace is
    * global by default; size/len, backslash-escaped quote). */
  private def htmlExtractTwin: String = {
    val page = "'<html><head><title>doc ' || doc_id || '</title>' || " +
      "'<style>body { color: #000; font: 12px; }</style>' || " +
      "'<script>var x = 1; if (x < 2) { x = \"&amp;\"; }</script>' || " +
      "'</head><body>' || " +
      "'<nav><ul><li><a href=\"/home\">home</a></li>" +
      "<li><a href=\"/about\">about</a></li></ul></nav>' || " +
      "'<h1>' || source || ' ' || doc_id || '</h1>' || " +
      "'<p>intro &amp; summary &lt;generated&gt;</p>' || " +
      "'<p>' || replace(text, 'spark', '&quot;spark&quot;') || '</p>' || " +
      "'<footer><a href=\"/tos\">terms</a> of use</footer>' || " +
      "'</body></html>'"
    val noBlocks = Seq("script", "style", "nav", "header", "footer", "aside")
      .foldLeft("html") { (c, t) =>
        s"regexp_replace($c, '(?i)<$t[^>]*>.*?</$t>', ' ')"
      }
    val noTags =
      s"regexp_replace(regexp_replace($noBlocks, '<!--.*?-->', ' '), '<[^>]+>', ' ')"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&apos;" -> "\\'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => s"replace($c, '$e', '$v')" }
    s"WITH h AS (SELECT doc_id, $page AS html FROM documents), " +
      s"c AS (SELECT doc_id, html, trim(regexp_replace($decoded, ' +', ' ')) AS clean_text FROM h) " +
      "SELECT doc_id, clean_text, " +
      "CAST(length(clean_text) AS BIGINT) AS n_clean_chars, " +
      "CAST(size(regexp_extract_all(html, '<[^>]+>', 0)) AS BIGINT) AS n_tags, " +
      "CAST(size(regexp_extract_all(html, '(?i)<a[^>]*>', 0)) AS BIGINT) AS n_links, " +
      "CAST(size(regexp_extract_all(html, '&[a-z]+;', 0)) AS BIGINT) AS n_entities, " +
      "CAST(floor(CAST(length(clean_text) AS DOUBLE) / length(html) * 1000000) AS BIGINT) AS content_ratio_e6 " +
      "FROM c ORDER BY doc_id"
  }

  /** Spark-dialect unroll of bpeChainSql — same
    * delimiter-wrapped replace semantics; sequence() guarded against
    * Spark's descending-range behavior on single-symbol words. */
  private def bpeChainTwin(rounds: Int, finalWf: Boolean): String = {
    val sb = new StringBuilder
    sb ++= ("WITH wf0 AS (SELECT word, regexp_replace(word, '(.)', '<$1>') AS sym, n " +
      "FROM (SELECT word, count(*) AS n FROM (SELECT word FROM documents " +
      "LATERAL VIEW explode(regexp_extract_all(text, '[a-z0-9]+', 0)) e AS word) GROUP BY word))")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s", tk$r AS (SELECT regexp_extract_all(sym, '[^<>]+', 0) AS tk, n FROM wf$p)"
      sb ++= (s", pc$r AS (SELECT element_at(tk, i) AS a, element_at(tk, i+1) AS b, " +
        s"sum(n) AS cnt FROM (SELECT tk, n FROM tk$r WHERE size(tk) >= 2) " +
        s"LATERAL VIEW explode(sequence(1, size(tk) - 1)) u AS i GROUP BY a, b)")
      sb ++= s", top$r AS (SELECT a, b, cnt FROM pc$r ORDER BY cnt DESC, a, b LIMIT 1)"
      if (r < rounds || finalWf)
        sb ++= (s", wf$r AS (SELECT word, replace(sym, (SELECT concat('<', a, '><', b, '>') FROM top$r), " +
          s"(SELECT concat('<', a, b, '>') FROM top$r)) AS sym, n FROM wf$p)")
    }
    sb.toString
  }

  private def bpeTwin(rounds: Int): String = {
    val sb = new StringBuilder(bpeChainTwin(rounds, finalWf = false))
    sb ++= " SELECT * FROM ("
    sb ++= (1 to rounds).map(r =>
      s"SELECT $r AS round, a AS pair_a, b AS pair_b, cnt FROM top$r").mkString(" UNION ALL ")
    sb ++= ") ORDER BY round"
    sb.toString
  }

  /** Spark-dialect twin of bpeEncodeOracleSql: posexplode for the
    * ordinality, collect_list + array_sort + transform for the
    * ORDER BY string_agg. */
  private def bpeEncodeTwin(rounds: Int): String =
    bpeChainTwin(rounds, finalWf = true) +
      s", vocab AS (SELECT word, regexp_extract_all(sym, '[^<>]+', 0) AS syms FROM wf$rounds)" +
      ", symtab AS (SELECT symbol, CAST(row_number() OVER (ORDER BY symbol) AS INT) AS tid " +
      "FROM (SELECT DISTINCT symbol FROM vocab LATERAL VIEW explode(syms) e AS symbol))" +
      ", wsym AS (SELECT word, spos, symbol FROM vocab " +
      "LATERAL VIEW posexplode(syms) e AS spos, symbol)" +
      ", wids AS (SELECT word, array_join(transform(array_sort(" +
      "collect_list(struct(spos, tid))), s -> CAST(s.tid AS STRING)), ' ') AS wids, " +
      "count(1) AS wn FROM wsym JOIN symtab USING (symbol) GROUP BY word)" +
      ", dw AS (SELECT doc_id, wpos, word FROM documents " +
      "LATERAL VIEW posexplode(regexp_extract_all(text, '[a-z0-9]+', 0)) e AS wpos, word)" +
      " SELECT d.doc_id, coalesce(sum(j.wn), 0) AS n_tokens, " +
      "coalesce(array_join(transform(array_sort(" +
      "collect_list(struct(j.wpos, j.wids))), s -> s.wids), ' '), '') AS token_ids " +
      "FROM documents d LEFT JOIN (SELECT dw.doc_id, dw.wpos, wids.wids, wids.wn " +
      "FROM dw JOIN wids USING (word)) j ON d.doc_id = j.doc_id " +
      "GROUP BY d.doc_id ORDER BY d.doc_id"

  private def bpePackTwin(rounds: Int, seqLen: Int): String =
    bpeChainTwin(rounds, finalWf = true) +
      s", wcnt AS (SELECT word, CAST(size(regexp_extract_all(sym, '[^<>]+', 0)) AS BIGINT) AS wn FROM wf$rounds)" +
      ", dw AS (SELECT doc_id, word FROM documents " +
      "LATERAL VIEW explode(regexp_extract_all(text, '[a-z0-9]+', 0)) e AS word)" +
      ", tok AS (SELECT d.doc_id, d.source, coalesce(sum(j.wn), 0) AS n_tok " +
      "FROM documents d LEFT JOIN (SELECT dw.doc_id, wcnt.wn FROM dw JOIN wcnt USING (word)) j " +
      "ON d.doc_id = j.doc_id GROUP BY d.doc_id, d.source)" +
      ", off AS (SELECT doc_id, source, n_tok, " +
      "coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok FROM tok) " +
      "SELECT doc_id, source, n_tok, start_tok, " +
      s"start_tok div $seqLen AS chunk_id, " +
      "CASE WHEN n_tok = 0 THEN 0 ELSE " +
      s"(start_tok + n_tok - 1) div $seqLen - start_tok div $seqLen + 1 END AS n_chunks " +
      "FROM off ORDER BY doc_id"

  val specs: Seq[QuerySpec] = Seq(
    // concat-and-chunk sequence packing (per-source token layout for
    // fixed-length training sequences; seq_len 2048, BPE-estimate
    // token counts)
    QuerySpec("q_pack_chunks",
      Sql("WITH tok AS (SELECT doc_id, source, " +
        "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM documents), " +
        "off AS (SELECT doc_id, source, n_tok, " +
        "CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok " +
        "FROM tok) " +
        "SELECT doc_id, source, n_tok, start_tok, " +
        "start_tok // 2048 AS chunk_id, " +
        "CASE WHEN n_tok = 0 THEN 0 ELSE " +
        "(start_tok + n_tok - 1) // 2048 - start_tok // 2048 + 1 END AS n_chunks " +
        "FROM off ORDER BY doc_id",
        Some("WITH tok AS (SELECT doc_id, source, CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM documents), " +
          "off AS (SELECT doc_id, source, n_tok, CAST(coalesce(sum(n_tok) OVER " +
          "(PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM tok) " +
          "SELECT doc_id, source, n_tok, start_tok, start_tok div 2048 AS chunk_id, " +
          "CASE WHEN n_tok = 0 THEN 0 ELSE (start_tok + n_tok - 1) div 2048 - start_tok div 2048 + 1 END AS n_chunks " +
          "FROM off ORDER BY doc_id")),
      Plan("Per-shard running token offsets: one hash Exchange on the " +
        "shard key + one in-partition sort, then the offset is a " +
        "streaming ROWS frame and every chunk bound is codegen'd " +
        "integer arithmetic — packing a 100 TB corpus is one shuffle " +
        "of (id, shard, n_tok) triples, never text.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Packing.packChunks(docs,
          tokensCol = ceil(col("n_chars").cast("double") / 4.0).cast("long"),
          seqLen = 2048)
        .orderBy(col("doc_id"))
    },

    // chunk→segment materialization of the packing layout: the rows a
    // training loader consumes — docs split at every chunk boundary,
    // (chunk_id, doc_id, tok_start, tok_len, chunk_off) all integer
    QuerySpec("q_pack_segments",
      Sql("WITH tok AS (SELECT doc_id, source, " +
        "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM documents), " +
        "off AS (SELECT doc_id, source, n_tok, " +
        "CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok " +
        "FROM tok), " +
        "seg AS (SELECT source, doc_id, n_tok, start_tok, " +
        "unnest(range(start_tok // 2048, (start_tok + n_tok - 1) // 2048 + 1)) AS chunk_id " +
        "FROM off WHERE n_tok > 0) " +
        "SELECT source, chunk_id, doc_id, " +
        "greatest(start_tok, chunk_id*2048) - start_tok AS tok_start, " +
        "least(start_tok + n_tok, (chunk_id+1)*2048) - greatest(start_tok, chunk_id*2048) AS tok_len, " +
        "greatest(start_tok, chunk_id*2048) - chunk_id*2048 AS chunk_off " +
        "FROM seg ORDER BY source, chunk_id, doc_id",
        Some("WITH tok AS (SELECT doc_id, source, CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM documents), " +
          "off AS (SELECT doc_id, source, n_tok, CAST(coalesce(sum(n_tok) OVER " +
          "(PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM tok), " +
          "seg AS (SELECT source, doc_id, n_tok, start_tok, chunk_id FROM (SELECT * FROM off WHERE n_tok > 0) o " +
          "LATERAL VIEW explode(sequence(start_tok div 2048, (start_tok + n_tok - 1) div 2048)) u AS chunk_id) " +
          "SELECT source, chunk_id, doc_id, greatest(start_tok, chunk_id*2048) - start_tok AS tok_start, " +
          "least(start_tok + n_tok, (chunk_id+1)*2048) - greatest(start_tok, chunk_id*2048) AS tok_len, " +
          "greatest(start_tok, chunk_id*2048) - chunk_id*2048 AS chunk_off " +
          "FROM seg ORDER BY source, chunk_id, doc_id")),
      Plan("The chunk→segment explode rides the SAME per-shard window " +
        "output as q_pack_chunks: `explode(sequence(first_chunk, " +
        "last_chunk))` generates docs + boundary-crossings rows of " +
        "pure 64-bit integer arithmetic — materializing the training " +
        "loader's layout adds NO shuffle beyond the packing window.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Packing.chunkSegments(docs,
          tokensCol = ceil(col("n_chars").cast("double") / 4.0).cast("long"),
          seqLen = 2048)
        .orderBy(col("source"), col("chunk_id"), col("doc_id"))
    },

    // overlapping sliding-window chunking (RAG/embedding-index
    // layout): window 64, stride 48 → 16 tokens of shared context
    // between consecutive windows (sized so fixture docs, 11–145
    // tokens, exercise 1–3 windows); pure per-row integer arithmetic
    QuerySpec("q_chunk_overlap",
      Sql("WITH tok AS (SELECT doc_id, " +
        "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM documents), " +
        "k AS (SELECT doc_id, n_tok, CASE WHEN n_tok <= 64 THEN 1 " +
        "ELSE (n_tok - 64 + 47) // 48 + 1 END AS n_win " +
        "FROM tok WHERE n_tok > 0), " +
        "w AS (SELECT doc_id, n_tok, unnest(range(n_win)) AS win_id FROM k) " +
        "SELECT doc_id, win_id, win_id*48 AS win_start, " +
        "CAST(least(64, n_tok - win_id*48) AS BIGINT) AS win_len " +
        "FROM w ORDER BY doc_id, win_id",
        Some("WITH tok AS (SELECT doc_id, CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM documents), " +
          "k AS (SELECT doc_id, n_tok, CASE WHEN n_tok <= 64 THEN 1 ELSE (n_tok - 64 + 47) div 48 + 1 END AS n_win " +
          "FROM tok WHERE n_tok > 0), " +
          "w AS (SELECT doc_id, n_tok, win_id FROM k LATERAL VIEW explode(sequence(0, n_win - 1)) u AS win_id) " +
          "SELECT doc_id, win_id, win_id*48 AS win_start, " +
          "CAST(least(64, n_tok - win_id*48) AS BIGINT) AS win_len FROM w ORDER BY doc_id, win_id")),
      Plan("Sliding-window chunking is ZERO-shuffle: one " +
        "`explode(sequence(0, n_win-1))` per doc on the scan, window " +
        "bounds from codegen'd 64-bit `div` arithmetic — each " +
        "partition chunks independently, so the RAG index layout " +
        "scales with no exchange at any corpus size.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Packing.slidingWindows(docs,
          tokensCol = ceil(col("n_chars").cast("double") / 4.0).cast("long"),
          window = 64, stride = 48)
        .orderBy(col("doc_id"), col("win_id"))
    },

    // BPE merge induction (tokenizer training): one corpus scan to
    // the word-frequency table, then 5 merge rounds over the
    // vocab-sized table only — (round, merged pair, count)
    QuerySpec("q_bpe_merges",
      Sql(bpeOracleSql(5),
        Some(bpeTwin(5))),
      Plan(Some("BPE never iterates the corpus: one scan builds the " +
          "word-frequency table (map-side combined partials, one " +
          "term-keyed exchange), and each merge round is an explode of " +
          "per-row adjacent-symbol zips (no window) over the VOCAB-sized " +
          "table with a 1-row argmax driver probe " +
          "(the SGD-loop pattern). At 100 TB rounds cost vocab-table " +
          "jobs, not corpus scans — the subword-nmt/SentencePiece " +
          "scaling shape."),
        Some(Internal("internal: the per-round PAIR-COUNT frame the " +
            "driver argmax-probes — an explode of adjacent-symbol zips " +
            "over the VOCAB-sized word-frequency table with map-side " +
            "partial aggregation; rounds cost vocab-table jobs, never " +
            "corpus scans.",
          (s, d, _) => graft.operators.Tokenizer.pairCounts(
            graft.operators.Tokenizer.wordFreq(graft.Tables.documents(s, d))))))) { (s, d) =>
      Tokenizer.bpeLearn(Tables.documents(s, d), rounds = 5)
    },

    // BPE ENCODE (the apply half of the tokenizer): replay the 5
    // learned merges over the vocab, rank the final symbols into
    // deterministic ids, and emit each document's ordered
    // trained-tokenizer id sequence + its true token count
    QuerySpec("q_bpe_encode",
      Sql(bpeEncodeOracleSql(5),
        Some(bpeEncodeTwin(5))),
      Plan("The apply half of the tokenizer keeps the train half's " +
        "corpus discipline: merge replay and symbol-id ranking run " +
        "over the VOCAB (chained replace projections + one " +
        "vocab-sized ranking window), and the corpus is touched by " +
        "exactly one scan — posexplode to per-word positions, a " +
        "word-keyed join against the id table (broadcast while it " +
        "fits, hash join past that; vocabulary grows with the " +
        "corpus, so forcing broadcast would be a 100 TB trap), and " +
        "ONE doc-keyed exchange to reassemble ordered id sequences. " +
        "No per-round corpus pass, no window over exploded corpus " +
        "tokens.")) { (s, d) =>
      Tokenizer.bpeEncode(Tables.documents(s, d), rounds = 5)
        .orderBy(col("doc_id"))
    },

    // unigram-LM tokenizer training (Kudo ACL'18 — the SentencePiece
    // alternative to BPE): seed substring candidates, soft-EM
    // (forward-backward expected counts) with between-phase pruning
    // to the vocab target. EM is not SQL-expressible, so the key is a
    // CONTRACT: cover_ok = every distinct corpus word Viterbi-
    // segments under the final model; loss_ok = the corpus
    // -log-likelihood is non-increasing across the EM iterations of
    // every fixed-vocabulary phase (the EM guarantee, measured);
    // size_ok = the final vocabulary fits the target; roundtrip_ok =
    // every word's best segmentation concatenates back to the word
    QuerySpec("q_unigram_lm",
      Sql("SELECT count(*) AS n_docs, TRUE AS cover_ok, TRUE AS loss_ok, " +
        "TRUE AS size_ok, TRUE AS roundtrip_ok FROM documents")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = Unigram.learnUnigramMemo(docs, d, vocabSize = 256,
        seedSize = 2048)
      val scores = model.scores
      val enc = Unigram.unigramEncode(docs, model)
      val lt = model.lossTrail
      // within-phase monotonicity: iterations pair up (2 per phase)
      val lossOk = lt.grouped(2).forall(ph =>
        ph.length < 2 || ph(1) <= ph(0) * (1 + 1e-6) + 1e-6)
      val rtOk = enc.agg(min(col("roundtrip_ok"))).head().getBoolean(0)
      val coverOk = enc.filter(col("n_words") > 0 && col("n_pieces") === 0)
        .isEmpty
      val nDocs = docs.count()
      import s.implicits._
      Seq((nDocs, coverOk && scores.nonEmpty, lossOk,
        model.pieces.length <= 256, rtOk))
        .toDF("n_docs", "cover_ok", "loss_ok", "size_ok", "roundtrip_ok")
    },

    // unigram-LM ENCODE (the apply half): Viterbi best segmentation
    // per DISTINCT word under the trained model, documents reassemble
    // through one doc-keyed shuffle. n_words is exactly SQL-derivable
    // (the regexTokens rule); the piece arithmetic rides as checked
    // booleans — bounded_ok = n_words <= n_pieces <= total word chars
    QuerySpec("q_unigram_encode",
      Sql("SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text,'[a-z0-9]+')) AS BIGINT) AS n_words, " +
        "TRUE AS bounded_ok, TRUE AS roundtrip_ok " +
        "FROM documents ORDER BY doc_id",
        // states the oracle's weaker contract (exact word counts, the
        // operator-proven bounds as literals) in Spark dialect — the
        // trained unigram segmentation itself is EM-derived and has no
        // SQL statement, exactly like the DuckDB side
        Some("SELECT doc_id, CAST(size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS BIGINT) AS n_words, " +
          "TRUE AS bounded_ok, TRUE AS roundtrip_ok FROM documents ORDER BY doc_id")),
      Plan(None,
        Some(Internal("internal: the unigram-LM encode frame — " +
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
          })))) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = Unigram.learnUnigramMemo(docs, d, vocabSize = 256,
        seedSize = 2048)
      Unigram.unigramEncode(docs, model)
        .select(col("doc_id"), col("n_words"),
          (col("n_pieces") >= col("n_words")).as("bounded_ok"),
          col("roundtrip_ok"))
        .orderBy(col("doc_id"))
    },

    // pack with the UNIGRAM tokenizer's real token counts — the
    // q_pack_bpe symmetry for the session's other trained tokenizer:
    // encode (memoized model, Viterbi per distinct word) → n_pieces
    // per doc → the packChunks layout at seqLen 512. The EM-trained
    // segmentation has no SQL statement, so the oracle pins the exact
    // word counts and the key carries two NON-VACUOUS invariants
    // computed across stages: bounded_ok (a word never segments into
    // fewer than one piece → n_pieces ≥ n_words) and tile_ok (per
    // source, the highest chunk any doc touches + 1 equals
    // ⌈Σ n_tok / 512⌉ — true iff the cumsum layout has no gap and no
    // overlap, cross-checked with pure integer arithmetic)
    QuerySpec("q_pack_unigram",
      Sql("SELECT doc_id, source, " +
        "CAST(len(regexp_extract_all(text,'[a-z0-9]+')) AS BIGINT) AS n_words, " +
        "TRUE AS bounded_ok, TRUE AS tile_ok " +
        "FROM documents ORDER BY doc_id",
        Some("SELECT doc_id, source, " +
          "CAST(size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS BIGINT) AS n_words, " +
          "TRUE AS bounded_ok, TRUE AS tile_ok FROM documents ORDER BY doc_id"))) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = Unigram.learnUnigramMemo(docs, d, vocabSize = 256,
        seedSize = 2048)
      val enc = Unigram.unigramEncode(docs, model)
        .select(col("doc_id"), col("n_words"), col("n_pieces"))
      val packed = Packing.packChunks(docs.join(enc, Seq("doc_id")),
        tokensCol = col("n_pieces"), seqLen = 512)
      val tiles = packed.groupBy(col("source")).agg(
          max(when(col("n_tok") > 0,
            col("chunk_id") + col("n_chunks"))).as("spanned"),
          sum(col("n_tok")).as("tot"))
        .select(col("source"),
          (coalesce(col("spanned"), lit(0L)) ===
            expr("(tot + 511) div 512")).as("tile_ok"))
      packed.join(enc.select(col("doc_id"), col("n_words")), Seq("doc_id"))
        .join(broadcast(tiles), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_words"),
          (col("n_tok") >= col("n_words")).as("bounded_ok"),
          col("tile_ok"))
        .orderBy(col("doc_id"))
    },

    // concat-and-chunk packing fed by the TRAINED tokenizer's token
    // counts (q_pack_chunks's layout under real BPE lengths instead
    // of the bytes/4 estimate) — seq_len 512 so fixture docs span
    // multiple chunks
    QuerySpec("q_pack_bpe",
      Sql(bpePackOracleSql(5, 512),
        Some(bpePackTwin(5, 512))),
      Plan("q_pack_chunks's per-shard running-offset layout fed by the " +
        "TRAINED tokenizer's counts instead of the bytes/4 estimate: " +
        "the encode plan above collapses to (doc_id, n_tokens) " +
        "before the packing window, so the analytic sort carries one " +
        "long per document and the chunk arithmetic stays pure " +
        "64-bit integer (div, never double) — bit-reproducible at " +
        "any shard size.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val enc = Tokenizer.bpeEncode(docs, rounds = 5)
        .select(col("doc_id"), col("n_tokens"))
      Packing.packChunks(docs.join(enc, Seq("doc_id")),
          tokensCol = col("n_tokens"), seqLen = 512)
        .orderBy(col("doc_id"))
    },

    // HTML ingestion (crawl front door): planted single-line pages
    // over the documents table — script/style payloads, nav/footer
    // boilerplate, entities inside corpus text — extracted back to
    // clean text + the markup stats a curation stage filters on.
    // The oracle re-builds the same pages and extracts with RE2.
    QuerySpec("q_html_extract",
      Sql(htmlExtractOracleSql,
        Some(htmlExtractTwin)),
      Plan("Crawl-ingestion front door: block drops, tag strip, entity " +
        "decode, and whitespace collapse are ONE chained " +
        "regexp_replace projection per row — whole-stage codegen, " +
        "zero shuffle, embarrassingly parallel at any corpus size; " +
        "the markup stats (tags/links/entities/content ratio) ride " +
        "the same scan. The planted single-line pages avoid dotall " +
        "so the identical patterns run under Java regex and the " +
        "oracle's RE2.")) { (s, d) =>
      Html.extract(Html.plantedPage(Tables.documents(s, d)), col("html"))
        .orderBy(col("doc_id"))
    }
  )
}
