package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pipeline operators on small planted fixtures: exact dedup finds
  * planted duplicates; MinHash estimates true Jaccard; SimHash is
  * stable under small edits; LSH ANN returns plausible neighbors;
  * multimodal stub decode has the right shape. */
class OperatorsSpec extends SparkTestBase {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
  }

  test("exact dedup groups identical texts, keeps min doc_id") {
    val docs = docsDf(Seq(1L -> "a b c", 2L -> "a b c", 3L -> "x y z"))
    val out = Dedup.exact(docs).collect().map(r =>
      (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("shingleRows builds distinct word 3-grams") {
    val docs = docsDf(Seq(1L -> "a b c d", 2L -> "a b"))
    val sh = Dedup.shingleRows(docs).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh.toSet == Set((1L, "a b c"), (1L, "b c d"))) // doc 2 too short
  }

  test("minhash estimate tracks true Jaccard for near-dup docs") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"w$i").mkString(" ") + " z1 z2 z3"
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val docs = docsDf(Seq(1L -> base, 2L -> nearDup, 3L -> other))
    val mh = Dedup.minhash(docs, numBands = 8, rowsPerBand = 4)
    val cand = Dedup.minhashCandidates(mh)
    val pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair not found: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    val est = Dedup.minhashEstimate(mh, cand)
      .filter(col("a") === 1 && col("b") === 2)
      .head().getAs[Double]("est_jaccard")
    // true 3-shingle jaccard of base vs nearDup ≈ 55/64 ≈ 0.86
    assert(est > 0.5 && est <= 1.0, s"estimate $est")
  }

  test("hot-bucket cap bounds candidate pairs on degenerate duplicate floods") {
    // 1,000 byte-identical docs share every LSH band bucket — the
    // realistic 100 TB failure mode where an uncapped bucket self-join
    // goes quadratic (8 bands × 1000²/2 ≈ 4M pairs). With the cap the
    // pair count is bounded by cap²/2 and the kept members (lowest
    // doc_ids, deterministic) still pair with each other so the
    // cluster stays connected through its representatives.
    val flood = docsDf((1L to 1000L).map(i => i -> "same text repeated here okay"))
    val cap = 50
    val cand = Dedup.minhashCandidates(Dedup.minhash(flood), maxBucketSize = cap)
    val n = cand.count()
    val maxPairs = cap.toLong * (cap - 1) / 2 // identical sig ⇒ same members kept per band
    assert(n == maxPairs, s"expected exactly $maxPairs capped pairs, got $n")
    // representatives are the lowest doc_ids → doc 1 is in the kept set
    assert(cand.filter(col("a") === 1L).count() == cap - 1)
  }

  test("simhash: small edit → close hamming; different text → far") {
    val a = (1 to 80).map(i => s"tok$i").mkString(" ")
    val b = (1 to 78).map(i => s"tok$i").mkString(" ") + " q1 q2"
    val c = (500 to 580).map(i => s"tok$i").mkString(" ")
    val out = Dedup.simhash(docsDf(Seq(1L -> a, 2L -> b, 3L -> c)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(out(1L), out(2L)) < ham(out(1L), out(3L)),
      s"near ${ham(out(1L), out(2L))} !< far ${ham(out(1L), out(3L))}")
    assert(ham(out(1L), out(2L)) <= 12)
  }

  test("ngram jaccard pairs: identical docs score 1.0") {
    val docs = docsDf(Seq(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "p q r s t"))
    val out = Dedup.ngramJaccardPairs(docs, 0.5).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("jaccard") == 1.0)
  }

  test("brute-force topk is exact and LSH recall is sane") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    def perturb(eps: Float) = base.map(v => v + eps * rnd.nextGaussian().toFloat)
    val vecs = Seq(
      0L -> base, 1L -> perturb(0.05f), 2L -> perturb(0.1f),
      3L -> Array.fill(16)(rnd.nextGaussian().toFloat),
      4L -> Array.fill(16)(rnd.nextGaussian().toFloat))
    val emb = vecs.map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
    val q = emb.filter(col("vec_id") === 0)
    val bf = Similarity.bruteForceTopK(emb, q, k = 2).collect()
    assert(bf.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L))
    val lsh = Similarity.lshTopK(emb, q, k = 2, bits = 2, dim = 16)
    // same-bucket candidates only; top hit must still rank first when present
    val lshIds = lsh.collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(lshIds.isEmpty || lshIds.head == 1L || lshIds.head == 2L)
  }

  test("sessionize splits on gap and aggregates per session") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      (1L, ts(0), 7L, "a", 1.0, "{}"), (2L, ts(10), 7L, "a", 2.0, "{}"),
      (3L, ts(60), 7L, "a", 3.0, "{}"), // 50-min gap → new session
      (4L, ts(5), 8L, "b", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Sessions.sessionize(events, gapMinutes = 30)
      .collect().map(r => ((r.getAs[Long]("user_id"), r.getAs[Long]("sid")),
        r.getAs[Long]("n_events"))).toMap
    assert(out == Map((7L, 1L) -> 2L, (7L, 2L) -> 1L, (8L, 1L) -> 1L))
  }

  test("funnel counts users completing stages strictly in order") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      // u1: full ordered funnel
      (1L, ts(0), 1L, "view", 0.0, "{}"), (2L, ts(5), 1L, "click", 0.0, "{}"),
      (3L, ts(10), 1L, "purchase", 0.0, "{}"),
      // u2: purchase BEFORE click — only reaches click
      (4L, ts(0), 2L, "view", 0.0, "{}"), (5L, ts(1), 2L, "purchase", 0.0, "{}"),
      (6L, ts(2), 2L, "click", 0.0, "{}"),
      // u3: click with no prior view — reaches nothing
      (7L, ts(0), 3L, "click", 0.0, "{}"),
      // u4: purchase at the SAME instant as click — strict > excludes
      (8L, ts(0), 4L, "view", 0.0, "{}"), (9L, ts(1), 4L, "click", 0.0, "{}"),
      (10L, ts(1), 4L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Sessions.funnel(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(out == Map(1 -> 3L, 2 -> 3L, 3 -> 1L))
  }

  test("fillForward repairs missing values from the user's last valid reading") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      (1L, ts(0), 7L, "error", 99.0, "{}"),  // leading missing → stays null
      (2L, ts(1), 7L, "view", 10.0, "{}"),
      (3L, ts(2), 7L, "error", 99.0, "{}"),  // ← 10.0
      (4L, ts(3), 7L, "error", 99.0, "{}"),  // ← still 10.0 (not the glitch)
      (5L, ts(4), 7L, "click", 20.0, "{}"),
      (6L, ts(5), 7L, "error", 99.0, "{}"),  // ← 20.0
      (7L, ts(0), 8L, "view", 5.0, "{}"))    // other user untouched
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Sessions.fillForward(events, col("event_type") === "error")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[java.lang.Double]("filled_value")).map(_.toDouble),
          r.getAs[Boolean]("was_filled"))).toMap
    assert(out(1L) == ((None, true)))
    assert(out(2L) == ((Some(10.0), false)))
    assert(out(3L) == ((Some(10.0), true)))
    assert(out(4L) == ((Some(10.0), true)))
    assert(out(5L) == ((Some(20.0), false)))
    assert(out(6L) == ((Some(20.0), true)))
    assert(out(7L) == ((Some(5.0), false)))
  }

  test("fillForward: genuinely-NULL value on a VALID row is not flagged imputed") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      (1L, ts(0), 7L, "view", Some(10.0)),
      (2L, ts(1), 7L, "view", None), // valid row, NULL value
      (3L, ts(2), 7L, "error", Some(99.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Sessions.fillForward(events, col("event_type") === "error")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[java.lang.Double]("filled_value")).map(_.toDouble),
          r.getAs[Boolean]("was_filled"))).toMap
    // row 2: was_filled=false (the missing PREDICATE, not isNull);
    // its null is skipped by last(ignoreNulls) so filled_value falls
    // back to the previous valid reading
    assert(out(2L) == ((Some(10.0), false)))
    assert(out(3L) == ((Some(10.0), true)))
  }

  test("embedding centroids: per-group per-position means, ordered") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 3.0f), 0),
      (2L, Seq(3.0f, 2.0f, 5.0f), 0),
      (3L, Seq(10.0f, 20.0f, 30.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = EmbeddingOps.centroids(emb).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Seq[Double]]("centroid"))).toMap
    assert(out(0) == (2L, Seq(2.0, 1.0, 4.0)))
    assert(out(1) == (1L, Seq(10.0, 20.0, 30.0)))
  }

  test("inter-event gaps: per-user lag stats, single-event user has none") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    val events = Seq(
      (1L, ts(0), 7L), (2L, ts(10), 7L), (3L, ts(40), 7L), // gaps 10s, 30s
      (4L, ts(5), 8L))                                     // no gaps
      .toDF("event_id", "ts", "user_id")
    val out = Sessions.interEventGaps(events).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(7L).getAs[Long]("n_events") == 3)
    assert(out(7L).getAs[Long]("n_gaps") == 2)
    assert(out(7L).getAs[Long]("max_gap_us") == 30000000L)
    assert(out(7L).getAs[Long]("avg_gap_us") == 20000000L)
    assert(out(8L).getAs[Long]("n_gaps") == 0)
    assert(out(8L).isNullAt(out(8L).fieldIndex("max_gap_us")))
  }

  test("rebalanced sampling caps big strata, keeps small strata whole") {
    import spark.implicits._
    val df = ((1L to 1000L).map(i => (i, "big")) ++
      (2001L to 2005L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    val out = Sampling.rebalanced(df, "doc_id", "source", targetPerStratum = 100)
      .groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    // big: rate 100/1000 → ~10% of 1000 (LCG spread, not exact)
    assert(out("big") > 50 && out("big") < 200, s"big kept ${out("big")}")
    // small: rate clamps to 1000 permille → every row kept
    assert(out("small") == 5)
    // determinism: the same cut reproduces row-for-row
    val again = Sampling.rebalanced(df, "doc_id", "source", 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val first = Sampling.rebalanced(df, "doc_id", "source", 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == first)
  }

  test("profiling: nulls, exact distincts, numeric-only ranges in one pass") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some(2.5), Some("x")),
      (Some(1L), None, Some("y")),
      (None, Some(7.25), None))
      .toDF("k", "v", "s")
    val out = Profiling.profile(df, Seq("k", "v", "s")).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(out("k").getAs[Long]("n_rows") == 3)
    assert(out("k").getAs[Long]("n_nulls") == 1)
    assert(out("k").getAs[Long]("n_distinct") == 1) // nulls excluded
    assert(out("k").getAs[Double]("min_v") == 1.0)
    assert(out("v").getAs[Double]("max_v") == 7.25)
    assert(out("s").getAs[Long]("n_distinct") == 2)
    assert(out("s").isNullAt(out("s").fieldIndex("min_v")))
  }

  test("profiling: hostile column names (dots, backticks, quotes, commas)") {
    import spark.implicits._
    val names = Seq("a.b", "c`d", "e'f, g")
    val df = Seq((1L, "x", 2.0), (2L, "x", 3.0))
      .toDF(names: _*)
    val out = Profiling.profile(df, names).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(out.keySet == names.toSet)
    assert(out("a.b").getAs[Long]("n_distinct") == 2)
    assert(out("c`d").getAs[Long]("n_distinct") == 1)
    assert(out("e'f, g").getAs[Double]("max_v") == 3.0)
  }

  test("rolling range window: trailing-time frame includes boundary and ties") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      (1L, ts(0), 7L, 10.0),
      (2L, ts(60), 7L, 20.0),  // exactly 60 min later: inside a 60-min frame
      (3L, ts(121), 7L, 40.0), // 61 min after event 2: only itself
      (4L, ts(121), 7L, 5.0))  // tie with event 3: RANGE peers see each other
      .toDF("event_id", "ts", "user_id", "value")
    val out = Sessions.rollingCounts(events, windowMinutes = 60).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("n_trailing"), r.getAs[Double]("sum_trailing"))).toMap
    assert(out(1L) == (1L, 10.0))
    assert(out(2L) == (2L, 30.0)) // includes event 1 at the exact boundary
    assert(out(3L) == (2L, 45.0)) // tie peer included, event 2 aged out
    assert(out(4L) == (2L, 45.0))
  }

  test("pii redaction scrubs planted emails and phone numbers") {
    val docs = docsDf(Seq(
      1L -> "reach me at jane.doe42@mail.example.org or 555-123456 thanks",
      2L -> "no pii here at all",
      3L -> "two mails a@b.cc x.y@z.dd and 123-4567"))
    val out = TextOps.piiRedacted(docs, col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("red_text"), r.getAs[Long]("n_emails"),
          r.getAs[Long]("n_phones"))).toMap
    assert(out(1L) == ("reach me at <EMAIL> or <NUM> thanks", 1L, 1L))
    assert(out(2L) == ("no pii here at all", 0L, 0L))
    assert(out(3L) == ("two mails <EMAIL> <EMAIL> and <NUM>", 2L, 1L))
  }

  test("top terms ranks rare terms above ubiquitous ones") {
    // 'rare' appears in 1 of 4 docs (idf factor 4); 'common' in all
    // four (factor 1). In doc 1 common has tf 3 > rare's tf 2, but
    // rare's score 2*4=8 beats common's 3*1=3.
    val docs = docsDf(Seq(
      1L -> "common common common rare rare",
      2L -> "common other other",
      3L -> "common other",
      4L -> "common solo"))
    val out = TextOps.topTerms(docs, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rk")) ->
        (r.getAs[String]("term"), r.getAs[Long]("score"))).toMap
    assert(out((1L, 1)) == ("rare", 8L))
    assert(out((1L, 2)) == ("common", 3L))
    assert(out((4L, 1)) == ("solo", 4L))
  }

  test("corpus select: quality+lang gate, dedup on normalized text, per-source totals") {
    import spark.implicits._
    // stopword-rich text passes the lang gate and scores high quality
    val good = "the of and in a " * 30 + "tail"
    val docs = Seq(
      (1L, good, "s1"), (2L, good + "...", "s1"), // dup after normalize
      (3L, good + " extra", "s2"),
      (4L, "zz qq ww", "s2")) // no stopwords → lang 'unk', dropped
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
    val out = TextOps.corpusSelect(docs, minQualityE6 = 100000L).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens_est"))).toMap
    assert(out("s1")._1 == 1L) // docs 1+2 collapse to one
    assert(out("s2")._1 == 1L) // doc 3 kept, doc 4 gated out
    assert(out.size == 2)
  }

  test("mixtureBudget hits target token proportions with exact LCG membership") {
    import spark.implicits._
    // stratum A: 100 docs x 40 tokens = 4000; B: 100 x 10 = 1000
    val docs = ((0 until 100).map(i => (i.toLong, "A", 40L)) ++
      (0 until 100).map(i => (100L + i, "B", 10L)))
      .toDF("doc_id", "st", "tk")
    // budget 2500, weights A 800 / B 200: slots 2000 and 500 tokens
    // -> rates 2000*1000/4000 = 500 pm and 500*1000/1000 = 500 pm
    val kept = Sampling.mixtureBudget(docs, "doc_id", "st", col("tk"),
        Map("A" -> 800L, "B" -> 200L), budgetTokens = 2500L)
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    val lcg = (id: Long) => ((id % 1000003L) * 1103515245L + 12345L) % 1000L
    val expected = (0L until 200L).filter(id => lcg(id) < 500L).toSet
    assert(kept == expected, "membership must be the exact LCG cut")
    // a stratum too small for its slot caps at keep-everything, and a
    // stratum with no weight drops out
    val capped = Sampling.mixtureBudget(docs, "doc_id", "st", col("tk"),
        Map("A" -> 1000L), budgetTokens = 1000000L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("st")))
    assert(capped.length == 100 && capped.forall(_._2 == "A"))
  }

  test("incrementalBloom: sound (no false negatives) with bounded novel loss") {
    import spark.implicits._
    val index = (0 until 2000).map(i => s"stored-$i").toDF("fp")
    val batch = ((0 until 200).map(i => (i.toLong, s"stored-$i")) ++ // true dups
      (0 until 200).map(i => (1000L + i, s"fresh-$i")) ++           // novel
      Seq((5000L, "fresh-0"), (5001L, "fresh-0")))                  // in-batch dups
      .toDF("doc_id", "key")
    val exact = Dedup.incremental(batch, index, col("key")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val bloom = Dedup.incrementalBloom(batch, index, col("key"),
        expectedItems = 2000L, fpp = 0.01).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    // soundness: every exact dup_of_index is still flagged
    exact.foreach { case (id, st) =>
      if (st == Dedup.DupOfIndex)
        assert(bloom(id) == Dedup.DupOfIndex, s"false negative on doc $id")
    }
    // bounded loss: ≤ 5% of exact-novel docs wrongly dropped (fpp 1%)
    val novel = exact.collect { case (id, st) if st == Dedup.Novel => id }
    val lost = novel.count(id => bloom(id) == Dedup.DupOfIndex)
    assert(lost.toDouble / novel.size <= 0.05, s"lost $lost of ${novel.size}")
    // fingerprint groups untouched by a false positive classify
    // identically to the exact operator
    val keyOf = batch.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val fpHitKeys = bloom.collect { case (id, st)
      if st == Dedup.DupOfIndex && exact(id) != Dedup.DupOfIndex => keyOf(id) }.toSet
    exact.keys.filterNot(id => fpHitKeys(keyOf(id))).foreach { id =>
      assert(bloom(id) == exact(id), s"doc $id: ${bloom(id)} vs ${exact(id)}")
    }
  }

  test("duplicatedSpans finds maximal cross-doc k-gram spans and merges overlaps") {
    import spark.implicits._
    // docs 1 and 2 share tokens 0..9 (two overlapping 8-grams -> ONE
    // merged span of 10 tokens); doc 3 shares nothing long enough;
    // a within-doc-only repeat (doc 4) must NOT count (cross-doc df)
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " tail1 a b c"),
      (2L, "head x " + shared),
      (3L, "totally different words " + (0 until 8).map(i => s"z$i").mkString(" ")),
      (4L, ("r1 r2 r3 r4 r5 r6 r7 r8 " * 2).trim))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, k = 8, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(spans.toList == List((1L, 0L, 10L), (2L, 2L, 12L)),
      s"got ${spans.toList}")
    // k larger than every doc: no grams, no spans, no crash
    assert(Dedup.duplicatedSpans(docs, k = 64).count() == 0)
  }

  test("multimodal decode parses real planted PNG/JPEG media end-to-end") {
    // even doc_id → pixel-bearing PNG, odd → JPEG with variable APP0 pad
    val docs = docsDf(Seq(2L -> "hello world", 7L -> "xyz"))
    val out = Multimodal.decodeFeatures(Multimodal.withPlantedMedia(docs),
        batchSize = 1)
      .collect().map(m => m.doc_id -> m).toMap
    assert(out(2L).format == "png" && out(7L).format == "jpeg")
    assert(out(2L).width == Multimodal.plantedWidth(2L))
    assert(out(2L).height == Multimodal.plantedHeight(2L))
    assert(out(7L).width == Multimodal.plantedWidth(7L))
    assert(out(7L).height == Multimodal.plantedHeight(7L))
    // both formats now carry complete planted media
    assert(out(7L).n_bytes == Multimodal.plantJpeg(7L).length)
    // PNG features are the REAL channel means of the decoded pixels:
    // recompute from the planted formula independently
    val (w, h) = (Multimodal.plantedWidth(2L), Multimodal.plantedHeight(2L))
    val expectSums = Array.tabulate(3) { c =>
      (for { y <- 0 until h; x <- 0 until w }
        yield Multimodal.plantedPixel(2L, x, y, c).toLong).sum
    }
    assert(out(2L).n_px == w.toLong * h)
    assert(out(2L).chan_sums.toSeq == expectSums.toSeq)
    assert(out(2L).features.length == 3)
    (0 until 3).foreach { c =>
      assert(math.abs(out(2L).features(c) - expectSums(c) / (w * h * 255.0)) < 1e-6)
    }
    // JPEG rows run the REAL baseline decode: channel sums equal the
    // planted block luma/chroma through the exact integer JFIF
    // conversion, recomputed here independently of the codec
    val (jw, jh) = (Multimodal.plantedWidth(7L), Multimodal.plantedHeight(7L))
    val jpegSums = new Array[Long](3)
    for (y <- 0 until jh; x <- 0 until jw) {
      val (r, g, b) = Multimodal.yccToRgbE6(
        Multimodal.plantedY(7L, x / 8, y / 8),
        Multimodal.plantedCb(7L), Multimodal.plantedCr(7L))
      jpegSums(0) += r; jpegSums(1) += g; jpegSums(2) += b
    }
    assert(out(7L).n_px == jw.toLong * jh)
    assert(out(7L).chan_sums.toSeq == jpegSums.toSeq)
    assert(out(7L).features.length == 3)
  }

  test("image header parser rejects corrupt and unknown bytes without throwing") {
    // valid PNG with one flipped width byte → CRC mismatch → corrupt
    val png = Multimodal.plantHeader(4L, Array[Byte](1, 2, 3))
    png(16) = (png(16) ^ 0x01).toByte
    assert(Multimodal.parseImageHeader(png) == (("corrupt", -1, -1)))
    // JPEG SOI with no SOF segment before the bytes run out → corrupt
    val truncated = Array(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x10).map(_.toByte)
    assert(Multimodal.parseImageHeader(truncated) == (("corrupt", -1, -1)))
    // arbitrary text bytes → unknown
    assert(Multimodal.parseImageHeader("not an image".getBytes("UTF-8")) ==
      (("unknown", -1, -1)))
    assert(Multimodal.parseImageHeader(Array.emptyByteArray) == (("unknown", -1, -1)))
  }

  test("text stats tokenization matches duckdb string_split semantics") {
    val docs = docsDf(Seq(1L -> "a  b c")) // double space → empty token
    val row = TextOps.textStats(docs).head()
    assert(row.getAs[Long]("n_tokens") == 4)
  }

  test("zero embedding in the corpus does not crash similarity (ANSI div)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.0f, 0.0f))) // zero vector: score must be null, not a crash
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 1L)
    val out = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(out.contains(2L))
    assert(out(3L).isEmpty, "zero vector should score null") // null score ranks last
  }

  test("multimodal resize resamples REAL decoded pixels (nearest neighbor)") {
    val docs = docsDf(Seq(2L -> "png doc", 7L -> "jpeg doc"))
    val out = Multimodal.resizeTo(Multimodal.withPlantedMedia(docs), w = 4, h = 3)
      .collect().map(r => r.doc_id -> r).toMap
    // both formats decode → exactly tw·th·3 bytes each
    assert(out(2L).pixels.length == 4 * 3 * 3)
    assert(out(7L).pixels.length == 4 * 3 * 3)
    // every output byte equals the planted pixel at the NN source index
    val (w, h) = (Multimodal.plantedWidth(2L), Multimodal.plantedHeight(2L))
    for (yy <- 0 until 3; xx <- 0 until 4; c <- 0 until 3) {
      val expected = Multimodal.plantedPixel(2L, xx * w / 4, yy * h / 3, c)
      assert((out(2L).pixels((yy * 4 + xx) * 3 + c) & 0xff) == expected)
    }
    // JPEG rows resample the REAL baseline-decoded pixels
    val (jw, jh) = (Multimodal.plantedWidth(7L), Multimodal.plantedHeight(7L))
    for (yy <- 0 until 3; xx <- 0 until 4; c <- 0 until 3) {
      val (sx, sy) = (xx * jw / 4, yy * jh / 3)
      val rgb = Multimodal.yccToRgbE6(
        Multimodal.plantedY(7L, sx / 8, sy / 8),
        Multimodal.plantedCb(7L), Multimodal.plantedCr(7L))
      val expected = Seq(rgb._1, rgb._2, rgb._3)(c)
      assert((out(7L).pixels((yy * 4 + xx) * 3 + c) & 0xff) == expected)
    }
  }

  test("multimodal frame sampler: counts and payload slicing agree") {
    val docs = docsDf(Seq(1L -> ("z" * 1000), 2L -> "")) // 4 frames of 256; 0 frames
    val out = Multimodal.sampleFrames(Multimodal.withBinary(docs),
        frameBytes = 256, everyN = 2)
      .collect().map(r => r.doc_id -> r).toMap
    assert(out(1L).n_frames == 4 && out(1L).n_sampled == 2)
    assert(out(1L).frames(0).length == 256)
    assert(out(1L).frames(1).length == 256) // frame 2 of 4 (0,2 sampled)
    assert(out(2L).n_frames == 0 && out(2L).frames.isEmpty)
  }
}
