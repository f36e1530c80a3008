package graft

import org.apache.spark.sql.functions._
import graft.operators.SearchIndex

/** N1-N3 analyzer/view lifecycle beyond the q29/q30 gates: the persisted
  * bucketed postings table and its delete/recreate management
  * (ArangoDbUtilities.py:209-358). */
class SearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val verts = Seq(
    ("CL", "c1", "naïve T cell"),
    ("CL", "c2", "macrophage"),
    ("ZZZ", "z1", "macrophage decoy"),
    ("GS", "g1", "interferon")
  ).toDF("collection", "key", "label")

  private val fields: Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
    Map("label" -> (c => SearchIndex.edgeNgramTokens(c)))

  test("codegen analyzers are value-identical to the HOF formulations") {
    val texts = Seq("naïve T cell", "ab", "", "macrophage activation marker",
      "東京 データ x", "ALL-CAPS and/or punct.,chars")
      .toDF("t")
    val r = texts.select(
        SearchIndex.charNgrams($"t").as("cn"),
        SearchIndex.charNgramsHof($"t").as("cnH"),
        SearchIndex.charNgrams($"t", 2, 5, preserveOriginal = false).as("cn2"),
        SearchIndex.charNgramsHof($"t", 2, 5, preserveOriginal = false).as("cn2H"),
        SearchIndex.edgeNgramTokens($"t").as("en"),
        SearchIndex.edgeNgramTokensHof($"t").as("enH"))
      .as[(Seq[String], Seq[String], Seq[String], Seq[String], Seq[String], Seq[String])]
      .collect()
    r.foreach { case (cn, cnH, cn2, cn2H, en, enH) =>
      assert(cn == cnH); assert(cn2 == cn2H); assert(en == enH)
    }
  }

  test("view lifecycle: create is bucketed, whitelist filters collections") {
    SearchIndex.createView(verts, Seq("collection", "key"), fields,
      "search_view", buckets = 4,
      collections = Some(Seq("CL", "GS")))
    val view = spark.table("search_view")
    // whitelist applied: the decoy collection is not indexed
    assert(view.filter($"collection" === "ZZZ").count() == 0)
    // accent fold + edge n-grams: 'nai' prefix finds the naïve cell
    val hits = SearchIndex.search(view, Seq("nai", "macroph"))
      .select("key").as[String].collect().toSet
    assert(hits == Set("c1", "c2"))
    // bucketing recorded in the catalog (searches prune to token buckets)
    val ddl = spark.sql("DESCRIBE EXTENDED search_view").collect()
      .map(_.mkString(" ")).mkString("\n")
    assert(ddl.contains("token"), s"expected token bucketing in:\n$ddl")
  }

  test("search is a bucket-pruned token filter: same rows and columns as " +
       "a broadcast join, repeated tokens match once, no join") {
    SearchIndex.createView(verts, Seq("collection", "key"), fields,
      "search_view_f", buckets = 4)
    try {
      val view = spark.table("search_view_f")
      // oracle: the token equi-join against the query list
      def joined(tokens: Seq[String]) =
        view.join(broadcast(tokens.toDF("q")), $"token" === $"q")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val tokens = Seq("nai", "macroph", "interferon", "nomatch")
      val got = SearchIndex.search(view, tokens)
      assert(got.columns.toSeq == joined(tokens).columns.toSeq)
      assert(got.columns.toSeq == view.columns.toSeq :+ "q")
      assert(rows(got) == rows(joined(tokens)))
      assert(rows(got).size == 4) // c1, c2, z1, g1
      // a repeated token returns each hit once; the join returns it twice
      assert(rows(SearchIndex.search(view, Seq("macroph", "macroph"))) ==
        rows(joined(Seq("macroph"))))
      assert(joined(Seq("macroph", "macroph")).count() == 4)
      assert(SearchIndex.search(view, Nil).count() == 0)
      // one scan with the token as a literal: no broadcast, no join, and
      // the scan reads only the files of the token's bucket. The planner
      // turns the bucketed scan off (nothing downstream needs the bucket
      // layout); the bucket pruning stays. Parquet filter pushdown is off
      // here so that row-group statistics cannot be what skips the rows.
      spark.conf.set("spark.sql.parquet.filterPushdown", "false")
      val one = SearchIndex.search(view, Seq("macroph"))
      assert(one.collect().length == 2)
      val executed = one.queryExecution.executedPlan
      val plan = executed.toString
      assert(!plan.contains("BroadcastExchange") && !plan.contains("Join"), plan)
      val scan = executed.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail(s"no file scan in:\n$plan"))
      val selected = scan.optionalBucketSet.map(_.cardinality())
      assert(selected.exists(_ < 4), s"selected buckets $selected in:\n$plan")
      val rowsRead = scan.metrics("numOutputRows").value
      assert(rowsRead >= 2 && rowsRead < view.count(),
        s"scan read $rowsRead of ${view.count()} postings")
    } finally {
      spark.conf.unset("spark.sql.parquet.filterPushdown")
      SearchIndex.dropView(spark, "search_view_f")
    }
  }

  test("phrase search: consecutive tokens only, anchors counted, " +
       "repeated-token phrases need every offset") {
    val docs = Seq(
      (0L, "x alpha beta y"),        // match "alpha beta"
      (1L, "alpha x beta"),          // NOT consecutive
      (2L, "w w w"),                 // two anchors for "w w"
      (3L, "a b a b a"),             // "a b a": anchors at 0 and 2
      (4L, "a b c a")                // "a b a": b at 1 but no a at 2
    ).toDF("doc_id", "text")
    val phrases = Seq((0L, "alpha beta"), (1L, "w w"), (2L, "a b a"))
      .toDF("phrase_id", "phrase")
    val got = SearchIndex.phraseSearch(docs, phrases)
      .orderBy("phrase_id", "doc_id")
      .select("phrase_id", "doc_id", "n_anchors")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 0L, 1L), (1L, 2L, 2L), (2L, 3L, 2L)))
  }

  test("bm25: production ln-idf scores match the closed form") {
    // one-term query against a 4-doc corpus: score is hand-computable
    val docs = Seq(
      (0L, "apple banana banana"), // tf(banana)=2, dl=3
      (1L, "apple cherry"),
      (2L, "banana"),
      (3L, "date fig grape plum")
    ).toDF("doc_id", "text")
    val q = Seq((0L, "banana")).toDF("query_id", "qtext")
    val got = SearchIndex.bm25TopK(docs, q, k = 10)
      .orderBy("rank")
      .select("doc_id", "score").as[(Long, Double)].collect()
    val n = 4.0; val df = 2.0; val avgdl = 10.0 / 4.0
    val idf = math.log1p((n - df + 0.5) / (df + 0.5))
    def s(tf: Double, dl: Double) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    // doc 2 (tf=1, dl=1) outranks doc 0 (tf=2, dl=3): length norm
    assert(got.map(_._1).toSeq == Seq(2L, 0L))
    assert(math.abs(got(0)._2 - s(1, 1)) < 1e-12)
    assert(math.abs(got(1)._2 - s(2, 3)) < 1e-12)
  }

  test("bm25: score ties rank by the lower doc id") {
    val docs = Seq((7L, "kiwi mango"), (3L, "kiwi mango"), (5L, "pear"))
      .toDF("doc_id", "text")
    val q = Seq((0L, "kiwi mango")).toDF("query_id", "qtext")
    val got = SearchIndex.bm25TopK(docs, q, k = 5)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(3L, 7L))
  }

  test("bm25 ranked view: probe scores identical to the one-shot path, " +
       "tf-df join is bucket-local") {
    val docs = (0L until 60L).map { i =>
      (i, s"alpha beta w${i % 7} w${i % 11} gamma w${i % 5}")
    }.toDF("doc_id", "text")
    val q = Seq((0L, "alpha w3"), (1L, "beta w4 w10")).toDF("query_id", "qtext")
    SearchIndex.createBm25View(docs, "bm25_probe_view", buckets = 4)
    val direct = SearchIndex.bm25TopK(docs, q, k = 8)
    val viaView = SearchIndex.bm25Query(spark, "bm25_probe_view", q, k = 8)
    assert(direct.orderBy("query_id", "rank").collect().toSeq ==
      viaView.orderBy("query_id", "rank").collect().toSeq)
    // the bucketed tf ⋈ df join must not shuffle either side
    val joinPlan = spark.table("bm25_probe_view")
      .join(spark.table("bm25_probe_view_df"), "token")
      .queryExecution.executedPlan.toString
    assert(!joinPlan.contains("Exchange hashpartitioning"),
      s"expected bucket-local join:\n$joinPlan")
    SearchIndex.dropView(spark, "bm25_probe_view")
    SearchIndex.dropView(spark, "bm25_probe_view_df")
    SearchIndex.dropView(spark, "bm25_probe_view_meta")
  }

  test("appendToBm25View: appended view ≡ full rebuild over the union " +
    "(postings, df, meta, and probe scores all cell-identical)") {
    val all = (0L until 80L).map { i =>
      (i, s"alpha beta w${i % 7} w${i % 11} gamma w${i % 5}")
    }.toDF("doc_id", "text")
    val base = all.filter($"doc_id" < 60)
    val batch = all.filter($"doc_id" >= 60)
    val q = Seq((0L, "alpha w3"), (1L, "beta w4 w10")).toDF("query_id", "qtext")

    SearchIndex.createBm25View(base, "bm25_appended", buckets = 4)
    SearchIndex.appendToBm25View(batch, "bm25_appended", buckets = 4)
    SearchIndex.createBm25View(all, "bm25_whole", buckets = 4)

    // every view table matches its batch-built twin row-for-row
    for (suffix <- Seq("", "_df", "_meta")) {
      val a = spark.table(s"bm25_appended$suffix")
      val b = spark.table(s"bm25_whole$suffix")
      assert(a.schema == b.schema, s"schema drift in $suffix")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"content drift in table suffix '$suffix'")
    }
    // and the probe is bit-identical (same integers in, same IEEE ops)
    val viaAppend = SearchIndex.bm25Query(spark, "bm25_appended", q, k = 8)
      .orderBy("query_id", "rank").collect().toSeq
    val viaWhole = SearchIndex.bm25Query(spark, "bm25_whole", q, k = 8)
      .orderBy("query_id", "rank").collect().toSeq
    assert(viaAppend == viaWhole)
    // re-sending an already-indexed doc id is a contract violation the
    // integral-id guard can't catch — the view silently double-counts —
    // so pin the documented precondition here as a reminder that update
    // means anti-join-then-append, not append
    for (t <- Seq("bm25_appended", "bm25_whole"))
      for (sfx <- Seq("", "_df", "_meta"))
        SearchIndex.dropView(spark, s"$t$sfx")
  }

  test("view lifecycle: recreate overwrites, drop removes, drop is idempotent") {
    SearchIndex.recreateView(verts.filter(!$"label".contains("macroph")),
      Seq("collection", "key"), fields, "search_view2", buckets = 2)
    assert(SearchIndex.search(spark.table("search_view2"), Seq("macroph")).count() == 0)
    SearchIndex.recreateView(verts, Seq("collection", "key"), fields,
      "search_view2", buckets = 2)
    assert(SearchIndex.search(spark.table("search_view2"), Seq("macroph")).count() >= 1)
    SearchIndex.dropView(spark, "search_view2")
    assert(!spark.catalog.tableExists("search_view2"))
    SearchIndex.dropView(spark, "search_view2") // ignore-missing
  }

  test("proximity search: slop 0 equals 2-token phrase search, slop " +
    "admits gapped pairs and counts overlaps") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha delta beta"),
      (2L, "alpha x y beta"),
      (3L, "beta alpha") // wrong order: never matches
    ).toDF("doc_id", "text")
    val pairs = Seq((0L, "alpha", "beta")).toDF("pair_id", "token_a", "token_b")
    // slop 0: adjacent only — doc1 has alpha@0 beta@1? positions:
    // alpha0 beta1 gamma2 alpha3 delta4 beta5 -> (0,1) adjacent
    val adj = SearchIndex.proximitySearch(docs, pairs, slop = 0)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(adj.toSeq == Seq((1L, 1L)))
    val ph = SearchIndex.phraseSearch(docs,
        Seq((0L, "alpha beta")).toDF("phrase_id", "phrase"))
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ph.toSeq == adj.toSeq) // slop 0 ≡ phrase on 2-token phrases
    // slop 2: doc1 gains (3,5) gap-2; doc2's (0,3) is gap-3 -> needs slop 2
    val prox = SearchIndex.proximitySearch(docs, pairs, slop = 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(prox.toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("ordered search: k-token chains with per-gap slop, slop 0 equals " +
    "phraseSearch, distinct anchors counted not chain multiplicity") {
    val docs = Seq(
      (1L, "a x b y c"),      // a..b gap2, b..c gap2: matches slop>=1
      (2L, "a b c"),          // adjacent: matches any slop
      (3L, "a b x x c"),      // b..c gap 3: needs slop >= 2
      (4L, "c b a"),          // reversed: never
      (5L, "a b b c")         // two b's -> two chains, ONE anchor (pos 0)
    ).toDF("doc_id", "text")
    val ph = Seq((0L, "a b c")).toDF("phrase_id", "phrase")
    def run(slop: Int) = SearchIndex.orderedSearch(docs, ph, slop)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2)))
    // slop 0 = strictly consecutive: only doc 2 ("a b c") qualifies
    // (doc 5's "a b b c" has no consecutive a-b-c triple)
    assert(run(0).toSeq == Seq((2L, 1L)))
    val phr = SearchIndex.phraseSearch(docs, ph)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(run(0).toSeq == phr.toSeq) // slop 0 ≡ phraseSearch
    assert(run(1).map(_._1).toSeq == Seq(1L, 2L, 5L))
    assert(run(2).map(_._1).toSeq == Seq(1L, 2L, 3L, 5L))
    // doc 5 at slop 1: chains a0-b1-c3(gap2 ok) and a0-b2-c3 -> 1 anchor
    assert(run(1).toMap.apply(5L) == 1L)

    // degenerate inputs return the typed empty result, not an NPE
    val noPhrases = ph.limit(0)
    val e1 = SearchIndex.orderedSearch(docs, noPhrases, 1)
    assert(e1.columns.toSeq == Seq("phrase_id", "doc_id", "n_anchors"))
    assert(e1.count() == 0L)
    val tokenless = Seq((0L, "  ")).toDF("phrase_id", "phrase")
    assert(SearchIndex.orderedSearch(docs, tokenless, 1).count() == 0L)
  }

  test("bm25 fails fast on a non-integral doc id column") {
    val docs = Seq(("d1", "alpha beta"), ("d2", "alpha")).toDF("doc_id", "text")
    val qs = Seq((0L, "alpha")).toDF("query_id", "qtext")
    val e = intercept[IllegalArgumentException] {
      SearchIndex.bm25TopK(docs, qs, k = 2).collect()
    }
    assert(e.getMessage.contains("integral"))
  }

  test("rrf fusion: closed-form scores, overlap outranks either single " +
    "list, equal-score ties break to the lower doc id") {
    val bm25 = Seq((0L, 10L, 1), (0L, 20L, 2), (0L, 30L, 3),
      (1L, 50L, 1)).toDF("query_id", "doc_id", "rank")
    val vec = Seq((0L, 20L, 1), (0L, 40L, 2),
      (1L, 60L, 1)).toDF("query_id", "doc_id", "rank")
    val got = SearchIndex.rrfFuse(Seq("bm25" -> bm25, "vec" -> vec))
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // query 0: doc 20 appears in both (ranks 2 and 1) and must fuse on top
    assert(got.take(4).map(_._2).toSeq == Seq(20L, 10L, 40L, 30L))
    assert(got(0)._3 == 2L && got(0)._4 == 1.0 / 62 + 1.0 / 61)
    assert(got(1)._4 == 1.0 / 61 && got(2)._4 == 1.0 / 62 &&
      got(3)._4 == 1.0 / 63)
    // query 1: docs 50 and 60 each rank 1 in one retriever -> equal
    // score, tie to the lower doc id
    assert(got.drop(4).map(_._2).toSeq == Seq(50L, 60L))
    assert(got(4)._4 == got(5)._4)
  }

  test("precisionRecallAtK: exact metrics, zero-hit queries included") {
    import spark.implicits._
    val results = Seq(("q1", 11L, 1), ("q1", 12L, 2), ("q1", 13L, 3),
      ("q1", 14L, 4)).toDF("query", "doc_id", "rank")
    val relevant = Seq(("q1", 12L), ("q1", 99L), ("q2", 7L))
      .toDF("query", "doc_id")
    val got = SearchIndex.precisionRecallAtK(results, relevant, k = 3)
      .orderBy("query")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    // q1: relevant d12 at rank 2 inside k=3 (d14 is outside k);
    // q2 has judgments but no results at all
    assert(got === Seq(
      ("q1", 2L, 1L, 1.0 / 3.0, 1.0 / 2.0, 1.0 / 2.0),
      ("q2", 1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("precisionRecallAtK dedups judgments and caps at the rank slice") {
    import spark.implicits._
    val results = Seq(("q", 1L, 1), ("q", 2L, 2)).toDF("query", "doc_id", "rank")
    val relevant = Seq(("q", 1L), ("q", 1L), ("q", 2L))
      .toDF("query", "doc_id") // duplicate judgment must not double-count
    val got = SearchIndex.precisionRecallAtK(results, relevant, k = 2)
      .as[(String, Long, Long, Double, Double, Double)].collect().head
    assert(got === (("q", 2L, 2L, 1.0, 1.0, 1.0)))
  }
}
