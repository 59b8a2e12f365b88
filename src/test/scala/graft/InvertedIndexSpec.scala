package graft

import graft.operators.InvertedIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Inverted-index retrieval: postings exactness, tf-idf ranking on a
  * hand corpus, and index-store search ≡ direct computation. */
class InvertedIndexSpec extends AnyFunSuite with SparkTestBase {

  private lazy val tiny = {
    import spark.implicits._
    Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "apple cherry cherry date")
    ).toDF("doc_id", "text")
  }

  test("postings count term occurrences per doc") {
    val p = InvertedIndex.postings(tiny).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(p(("apple", 0L)) == 2)
    assert(p(("apple", 2L)) == 1)
    assert(p(("banana", 1L)) == 1)
    assert(p(("cherry", 2L)) == 2)
    assert(p.size == 7)
  }

  test("tfidf top terms rank by tf*(N+1)/(df+1), term-ascending ties") {
    // N=3; df: apple 2, banana 2, cherry 2, date 1
    val top = InvertedIndex.tfidfTopTerms(tiny, k = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    assert(top(0L) == "apple")  // tf 2 → 2·(4/3) = 2.67 beats banana 1.33
    assert(top(1L) == "banana") // 1.33 tie with cherry → term asc wins
    assert(top(2L) == "cherry") // 2·(4/3) = 2.67 beats date 1·(4/2) = 2.0
  }

  test("index-store search equals the direct tf-idf ranking") {
    val dir = java.nio.file.Files.createTempDirectory("graft_invidx").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    InvertedIndex.buildIndex(spark, docs, dir, buckets = 4)
    val terms = Seq("merge", "sort")
    val viaIndex = InvertedIndex.search(spark, dir, terms, k = 10).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("score"),
        r.getAs[Long]("rank")))

    // direct: same arithmetic straight from the postings (micro-unit
    // quantization — floor(x·1e6 + 0.5) as long — like the engine)
    val post = InvertedIndex.postings(docs)
    val dfs = InvertedIndex.docFrequencies(post)
    val n = docs.count()
    val direct = post.filter(col("term").isin(terms: _*))
      .join(dfs, Seq("term"))
      .select(col("doc_id"),
        floor((col("tf").cast("double") * ((lit(n) + lit(1.0)) / (col("df") + lit(1))))
          * lit(1000000.0) + lit(0.5)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(10)
      .collect().zipWithIndex
      .map { case (r, i) => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("score"), i + 1L) }
    assert(viaIndex.toSeq == direct.toSeq)

    // the probe is a pushed point lookup: only the terms' buckets scan
    val store = spark.read.format("cellstore").load(dir)
    val probe = store
      .filter(col("rowKey") === graft.model.CellTable.bigEndianKey(xxhash64(lit("merge"))))
    assert(plannedChunks(probe) == 1, cellStoreScan(probe).description())
  }

  test("prefix search: lexicon resolves exactly the prefix's terms; ranking == explicit search") {
    val dir = java.nio.file.Files.createTempDirectory("graft_invidx_pfx").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    InvertedIndex.buildIndex(spark, docs, dir, buckets = 4)
    // ground-truth term set straight from the corpus vocabulary
    val want = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").startsWith("s")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    assert(want.nonEmpty)
    val viaPrefix = InvertedIndex.prefixSearch(spark, dir, "s", k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaTerms = InvertedIndex.search(spark, dir, want, k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaPrefix == viaTerms,
      s"prefix ranking must equal explicit-term search over $want")
    // no-match prefix: empty result with the search schema, no throw
    val empty = InvertedIndex.prefixSearch(spark, dir, "zzz-no-such", k = 5)
    assert(empty.columns.toSeq == Seq("doc_id", "score", "rank") && empty.count() == 0)
    // the lexicon resolve is a PUSHED rowKey range on the store scan —
    // the dictionary walk reads one key interval, not the store
    val store = spark.read.format("cellstore").load(dir)
    val plan = store.filter(
        col("rowKey") >= lit("s".getBytes("UTF-8")) &&
        col("rowKey") < lit("t".getBytes("UTF-8")) &&
        col("family") === "lex")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(rowKey") && plan.contains("LessThan(rowKey"),
      s"lexicon range not pushed into the scan:\n$plan")
  }

  test("bm25: equal tf, the shorter document wins (length normalization)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_invidx_bm25").toString
    InvertedIndex.buildIndex(spark, tiny, dir, buckets = 2)
    // "banana": tf 1 in doc0 (dl 3) and doc1 (dl 2) — plain tf·idf TIES
    // (id tiebreak → doc0 first); BM25's dl/avgdl denominator must rank
    // the shorter doc1 first
    val got = InvertedIndex
      .searchBm25(spark, dir, Seq("banana"), k = 3, lnIdf = false)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("score"), r.getAs[Long]("rank")))
    assert(got.map(_._1).toSeq == Seq(1L, 0L), s"shorter doc must rank first: ${got.toSeq}")

    // scores replay the exact engine arithmetic (k1=1.2, b=0.75,
    // avgdl = 9/3, rational idf (3+1)/(2+1)), quantized to micro-units
    // with the engine's scaled-integer half-up
    def expected(tf: Double, dl: Double): Long = {
      val avgdl = 9.0 / 3
      val idf = (3 + 1.0) / (2 + 1)
      val raw = idf * ((tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
      math.floor(raw * 1000000.0 + 0.5).toLong
    }
    assert(got(0)._2 == expected(1, 2), s"doc1: ${got(0)}")
    assert(got(1)._2 == expected(1, 3), s"doc0: ${got(1)}")

    // the DEFAULT (production ln-idf) scorer: same ranking, scores replay
    // ln(1 + (N − df + 0.5)/(df + 0.5)) over the same dl normalization
    val gotLn = InvertedIndex.searchBm25(spark, dir, Seq("banana"), k = 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score")))
    assert(gotLn.map(_._1).toSeq == Seq(1L, 0L))
    def expectedLn(tf: Double, dl: Double): Long = {
      val avgdl = 9.0 / 3
      val idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
      val raw = idf * ((tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
      math.floor(raw * 1000000.0 + 0.5).toLong
    }
    assert(gotLn(0)._2 == expectedLn(1, 2), s"ln doc1: ${gotLn(0)}")
    assert(gotLn(1)._2 == expectedLn(1, 3), s"ln doc0: ${gotLn(1)}")

    // plain tf-idf through the SAME (widened) index still ranks doc0
    // first on the id tiebreak — the two rankings share one store
    val tfidf = InvertedIndex.search(spark, dir, Seq("banana"), k = 3)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(tfidf.toSeq == Seq(0L, 1L))
  }

  test("PRF expansion: fbTerms=0 degenerates to plain BM25; expansion re-ranks " +
      "with mined non-seed terms") {
    val dir = java.nio.file.Files.createTempDirectory("graft_invidx_prf").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    InvertedIndex.buildIndex(spark, docs, dir, buckets = 4)
    val seeds = Seq("merge", "sort", "window")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"),
        r.getAs[Long]("rank"))).toSeq
    // no expansion terms → the PRF result IS the seed BM25 result
    val plain = rows(InvertedIndex.searchBm25(spark, dir, seeds, k = 20,
      lnIdf = false))
    val prf0 = rows(InvertedIndex.searchPrf(spark, dir, docs, seeds, k = 20,
      fbDocs = 5, fbTerms = 0, lnIdf = false))
    assert(prf0 == plain, "fbTerms=0 must be a no-op expansion")
    // with expansion: every hit's score is >= its seed-only score (equal-
    // weight expansion only ADDS micro-contributions), and the mined terms
    // must actually contribute — at least one doc's score strictly grows
    val prf = rows(InvertedIndex.searchPrf(spark, dir, docs, seeds, k = 20,
      fbDocs = 5, fbTerms = 3, lnIdf = false))
    assert(prf.nonEmpty && prf.map(_._3).toSeq == (1L to prf.length))
    val plainScore = plain.map(t => t._1 -> t._2).toMap
    val grew = prf.count { case (id, s, _) =>
      plainScore.get(id).forall(s > _) }
    assert(grew > 0, "expansion terms must add score mass somewhere in the top-20")
  }

  test("ln-idf and rational-idf BM25: single-term rankings identical, " +
      "multi-term heads and result sets agree") {
    val dir = java.nio.file.Files.createTempDirectory("graft_invidx_ln").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    InvertedIndex.buildIndex(spark, docs, dir, buckets = 4)
    def ranking(terms: Seq[String], lnIdf: Boolean): Seq[Long] =
      InvertedIndex.searchBm25(spark, dir, terms, k = 20, lnIdf = lnIdf)
        .collect().map(_.getAs[Long]("doc_id")).toSeq
    // single term: idf is a per-term CONSTANT across docs, so the ranking
    // is by the length-normalized tf factor alone — any positive idf form
    // yields the IDENTICAL order (structural, not empirical)
    for (term <- Seq("merge", "sort", "window", "hash", "filter")) {
      val (ln, rat) = (ranking(Seq(term), true), ranking(Seq(term), false))
      assert(ln == rat, s"single-term ranking diverged for '$term'")
    }
    // multi-term: the two forms weight terms in different RATIOS, so they
    // are genuinely different ranking functions — positions swap where
    // per-doc scores are close (measured on these fixtures: top-2 stable,
    // 18-20 of 20 retrieved docs shared). The contract worth pinning is
    // strong similarity, not identity: the best hit agrees and the
    // retrieved sets overlap at >= 15/20
    for (terms <- Seq(Seq("merge", "sort", "window"), Seq("hash", "scan"))) {
      val (ln, rat) = (ranking(terms, true), ranking(terms, false))
      assert(ln.head == rat.head,
        s"top hit diverged for $terms:\n ln=$ln\n rat=$rat")
      val overlap = ln.toSet.intersect(rat.toSet).size
      assert(overlap >= 15,
        s"retrieved sets overlap only $overlap/20 for $terms:\n ln=$ln\n rat=$rat")
    }
  }

  test("phrase search: exact adjacency through the positional layer") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_invidx_ph").toString
    val docs = Seq(
      (1L, "a b c a b c"),     // "a b c" twice
      (2L, "a c b a b"),       // "a b" once (tail), no "a b c"
      (3L, "b c a"),           // terms present, never the phrase
      (4L, "a a b c")          // "a b c" once, extra leading a
    ).toDF("doc_id", "text")
    InvertedIndex.buildIndex(spark, docs, dir, buckets = 2)
    def hits(phrase: Seq[String]) =
      InvertedIndex.searchPhrase(spark, dir, phrase, k = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(Seq("a", "b", "c")) == Map(1L -> 2L, 4L -> 1L))
    assert(hits(Seq("a", "b")) == Map(1L -> 2L, 2L -> 1L, 4L -> 1L))
    // one-term phrase degenerates to tf
    assert(hits(Seq("a")) == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 2L))
    // repeated-term phrase uses the same position list twice
    assert(hits(Seq("a", "a")) == Map(4L -> 1L))
    assert(hits(Seq("c", "c")).isEmpty)
    // rank: count desc, doc_id asc
    val ranked = InvertedIndex.searchPhrase(spark, dir, Seq("a", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(ranked.sortBy(_._2).map(_._1).toSeq == Seq(1L, 2L, 4L))
    // proximity: NEAR/2 = adjacency in either order; doc3 "b c a" has
    // a and b two apart — matched by NEAR/3, not NEAR/2
    def near(w: Int) =
      InvertedIndex.searchNear(spark, dir, Seq("a", "b"), w, k = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(near(2).keySet == Set(1L, 2L, 4L))
    assert(near(3).keySet == Set(1L, 2L, 3L, 4L))
    // NEAR/1 means |q-p|<1 → never matches distinct terms
    assert(near(1).isEmpty)
    // KWIC snippets: ±1 token around the FIRST "a b" occurrence
    val sn = InvertedIndex.phraseSnippets(spark, dir, docs,
        Seq("a", "b"), k = 10, context = 1)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(sn == Map(1L -> "a b c", 2L -> "b a b", 4L -> "a a b c"))
  }

  test("driver-side probe key bytes equal the termKey expression's bytes") {
    // the round-18 probe hashes terms on the driver (no per-search Spark
    // job); the bytes must be EXACTLY what the index writer's expression
    // produced or every probe silently misses its postings
    for (t <- Seq("merge", "sort", "window", "apple", "", " odd",
        "ünïcode-tërm", "a" * 300)) {
      val (driverKey, exprKey) =
        graft.operators.InvertedIndex.probeKeyPair(spark, t)
      assert(java.util.Arrays.equals(driverKey, exprKey),
        s"probe-key divergence for term '$t'")
    }
  }
}
