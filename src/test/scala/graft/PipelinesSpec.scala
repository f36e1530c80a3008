package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.plans.Pipelines
import graft.operators.{PathQueries, SearchIndex}
import graft.sources.GraphStore

/** End-to-end OntologyParserLoader.main twin: parse → census → dereify →
  * graph → store (+ search view), replayed over the
  * reference's committed macrophage.owl/ro.owl and round-tripped. */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  test("loadOntology chains the full reference flow and round-trips the store") {
    assumeReference("src/test/data/obo")
    val obo = referencePath("src/test/data/obo")
    val store = Files.createTempDirectory("ont-store").toString
    val load = Pipelines.loadOntology(spark,
      Seq(s"$obo/macrophage.owl"), s"$obo/ro.owl",
      storePath = Some(store), searchView = Some("pipe_search"))

    // graph content matches the golden chain (MacrophageGoldenSpec pins
    // exact values; here: the flagship vertex + non-empty edges)
    assert(load.vertices.filter($"collection" === "CL" && $"key" === "0000235")
      .count() == 1) // macrophage
    assert(load.edges.count() > 0)
    // census covers the raw parse and quarantine is a concrete number
    assert(load.tripleCensus.agg(sum("n")).head().getLong(0) > 0)
    assert(load.quarantined >= 0)

    // store round-trip: partitioned tables read back identically
    val vBack = GraphStore.readVertices(spark, s"$store/vertices")
    assert(vBack.count() == load.vertices.count())
    val eBack = GraphStore.readEdges(spark, s"$store/edges")
    assert(eBack.count() == load.edges.count())

    // the stored graph serves a path query
    assert(PathQueries.kHop(vBack, eBack, "CL", Seq("CL")).count() > 0)

    // the search view finds the macrophage vertex by term prefix
    val hits = SearchIndex.search(spark.table("pipe_search"), Seq("macroph"))
      .select("key").as[String].collect().toSet
    assert(hits.contains("0000235"))
  }

  test("buildResultsGraph runs writer tuples through graph, store, and catalog") {
    val obo = "http://purl.obolibrary.org/obo/"
    val rdfs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val tuples = Seq(
      (s"${obo}CS_cs1", s"${rdfs}composed_of", s"${obo}CL_c1",
        null.asInstanceOf[String], 0L),
      (s"${obo}CL_c1", s"${rdfs}source", s"${obo}CSD_d1",
        null.asInstanceOf[String], 1L),
      (s"${obo}CS_cs1", s"${rdfs}Label", "cell set one", "lit", 2L)
    ).toDF("s", "p", "o", "lit", "ord")
    val store = Files.createTempDirectory("res-store").toString
    val (v, e, sv, se) = Pipelines.buildResultsGraph(tuples,
      storePath = Some(store), hopPrefix = Some("res_hops"), hopBuckets = 2)
    assert(v.count() == 3 && e.count() == 2)
    // only the CS->CL->CSD catalog query is runnable on these
    // collections; its subgraph covers the whole chain
    assert(sv.count() == 3 && se.count() == 2)
    assert(GraphStore.readEdges(spark, s"$store/edges").count() == 2)
    // each hop table holds both orientations of every edge, bucketed on
    // its own endpoint
    val ends = e.select("from_coll", "from_key", "to_coll", "to_key")
      .as[(String, String, String, String)].collect()
    val both = (ends ++ ends.map { case (fc, fk, tc, tk) => (tc, tk, fc, fk) }).sorted.toSeq
    for ((side, bucketCols) <- Seq("src" -> Seq("src_coll", "src_key"),
                                  "dst" -> Seq("dst_coll", "dst_key"))) {
      val t = s"res_hops_by_$side"
      assert(spark.table(t).select("src_coll", "src_key", "dst_coll", "dst_key")
        .as[(String, String, String, String)].collect().sorted.toSeq == both)
      assert(spark.catalog.listColumns(t).collect().filter(_.isBucket).map(_.name)
        .toSeq == bucketCols)
    }
  }

  test("curateCorpus drops exactly one doc per stage on a crafted corpus") {
    import org.apache.spark.sql.functions.col
    val textA = (1 to 25).map(i => s"w$i").mkString(" ")
    val textNear = ((1 to 23).map(i => s"w$i") ++ Seq("x1", "x2")).mkString(" ")
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val contaminated = ((1 to 16).map(i => s"c$i") ++
      Seq("beta", "gamma", "delta", "epsilon", "zeta")).mkString(" ")
    val clean = (1 to 22).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, "too short"),       // quality-dropped (< 20 tokens)
      (2L, textA),             // exact-dup survivor (min id)
      (3L, textA),             // exact-dup loser
      (4L, textNear),          // near-dup of 2 -> component loser
      (5L, contaminated),      // shares a 5-gram with the benchmark
      (6L, clean)
    ).toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")

    val cur = graft.plans.Pipelines.curateCorpus(docs, bench)
    val census = cur.census.as[(String, Long)].collect().toMap
    assert(census("0_input") == 6L)
    assert(census("1_quality") == 5L)
    assert(census("2_exact") == 4L)
    assert(census("3_neardup") == 3L)
    assert(census("4_decontam") == 2L)
    assert(census.filter(_._1.startsWith("5_split_")).values.sum == 2L)

    val kept = cur.corpus.select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 6L))
    assert(cur.corpus.filter(col("split").isNull).count() == 0)

    // per-stage attribution surface: every intermediate stage is exposed
    // materialized, and its count matches the census row for that stage
    assert(cur.stages.keySet ==
      Set("quality", "exact", "neardup", "decontam", "hygiene"))
    assert(cur.stages("quality").count() == census("1_quality"))
    assert(cur.stages("exact").count() == census("2_exact"))
    assert(cur.stages("neardup").count() == census("3_neardup"))
    assert(cur.stages("decontam").count() == census("4_decontam"))
    // hygiene defaults off: the stage is pass-through (same frame)
    assert(cur.stages("hygiene").count() == census("4_decontam"))
  }

  test("curateCorpus hygiene stage scrubs PII and duplicated spans " +
    "row-preservingly; defaults leave the corpus byte-identical") {
    val span = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, (1 to 20).map(i => s"a$i").mkString(" ") +
        s" mail me at bob@example.com $span"),
      (2L, (1 to 20).map(i => s"b$i").mkString(" ") + s" $span"),
      (3L, (1 to 22).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "nothing in common here at all ok fine then"))
      .toDF("doc_id", "text")
    val cur = Pipelines.curateCorpus(docs, bench,
      redactPii = true, maskSpanN = Some(6))
    val out = cur.corpus.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L)) // hygiene drops no rows
    // redaction runs on the original text (the regexes need the raw
    // punctuation); the span-mask stage then rejoins the surviving
    // LOWERCASE-ALNUM tokens, so the <EMAIL> placeholder normalizes to
    // the 'email' token — the address itself must be gone either way
    assert(out(1L).contains("email") && !out(1L).contains("bob"))
    assert(!out(1L).contains("alpha") && !out(2L).contains("alpha"))
    assert(out(3L).endsWith("c22"))
    // defaults off -> output identical to the pre-hygiene pipeline
    val off = Pipelines.curateCorpus(docs, bench).corpus
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(off(1L).contains("bob@example.com") && off(2L).contains("alpha"))
  }

  test("skew policy: report recommends salting on skewed shingles only, " +
       "and the auto-salted composite matches the plain one") {
    import graft.operators.{Dedup, Scale}
    // skewed: a 10-word boilerplate prefix carried by 30 of 40 docs makes
    // its internal 3-grams viral; uniform: every token unique
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val skewedDocs = ((1 to 30).map(i =>
        (i.toLong, s"$boiler " + (1 to 13).map(j => s"t${i}_$j").mkString(" "))) ++
      (31 to 40).map(i =>
        (i.toLong, (1 to 23).map(j => s"u${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val uniformDocs = (1 to 40).map(i =>
        (i.toLong, (1 to 23).map(j => s"v${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    def threshold(d: org.apache.spark.sql.DataFrame): Long =
      Scale.recommendedThreshold(
        Scale.skewReport(Dedup.shingleRows(d, "doc_id", "text", 3), "shingle"))
    assert(threshold(skewedDocs) > 0L, "skewed corpus must engage salting")
    assert(threshold(uniformDocs) == 0L, "uniform corpus must stay plain")

    val bench = Seq((100L, "zz1 zz2 zz3 zz4 zz5 zz6 zz7")).toDF("doc_id", "text")
    def corpusKey(c: Pipelines.Curation) = c.corpus
      .select("doc_id", "split").as[(Long, String)].collect().sorted.toSeq
    val plain = Pipelines.curateCorpus(skewedDocs, bench)
    val salted = Pipelines.curateCorpus(skewedDocs, bench, autoSkewSalting = true)
    assert(corpusKey(salted) == corpusKey(plain))
    // the boilerplate cluster collapsed to one survivor; uniques survived
    assert(corpusKey(plain).map(_._1) == (Seq(1L) ++ (31L to 40L)))
  }
}
