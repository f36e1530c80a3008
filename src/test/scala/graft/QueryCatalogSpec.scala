package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.plans.QueryCatalog
import graft.plans.QueryCatalog.PathQuery
import graft.sources.GraphStore

/** The 24-production-query catalog + phenotype materialization + the
  * partitioned graph store (pruning check). */
class QueryCatalogSpec extends SparkSpec {
  import spark.implicits._

  // a miniature Cell-KN-shaped graph touching several production queries
  private lazy val verts = Seq(
    ("CS", "cs1"), ("CS", "cs2"), ("BGS", "b1"), ("BMC", "m1"),
    ("CL", "c1"), ("GS", "g1"), ("MONDO", "d1"), ("MONDO", "d2"),
    ("MONDO", "d3"), ("CSD", "ds1"), ("PUB", "p1")
  ).toDF("collection", "key")

  private lazy val edges = Seq(
    ("CS", "cs1", "BGS", "b1", "expresses"),
    ("CS", "cs1", "BMC", "m1", "has_marker_set"),
    ("BMC", "m1", "BGS", "b1", "subcluster_of"),
    ("CS", "cs1", "CL", "c1", "composed_primarily_of"),
    ("CL", "c1", "GS", "g1", "selectively_expresses"),
    ("GS", "g1", "MONDO", "d1", "associated_with"),
    ("MONDO", "d1", "MONDO", "d2", "SUB_CLASS_OF"),
    ("MONDO", "d2", "MONDO", "d3", "SUB_CLASS_OF"),
    ("CS", "cs1", "CSD", "ds1", "source"),
    ("CSD", "ds1", "PUB", "p1", "published_in")
  ).toDF("from_coll", "from_key", "to_coll", "to_key", "label")

  test("production catalog matches the reference's 24 queries") {
    assert(QueryCatalog.production.size == 25) // 24 + the 1-hop BGS query
    assert(QueryCatalog.production.forall(_.anchor == "CS"))
    assert(QueryCatalog.production.count(_.hierarchy.isDefined) == 6)
    assert(QueryCatalog.production.map(_.hops.size).max == 5)
  }

  test("catalog queries run against a graph and find the expected paths") {
    val q1 = PathQuery("CS", Seq("BGS")).run(verts, edges)
    assert(q1.count() == 1) // cs1 -> b1
    val q2 = PathQuery("CS", Seq("BMC", "BGS")).run(verts, edges)
    assert(q2.count() == 1) // cs1 -> m1 -> b1
    val qh = PathQuery("CS", Seq("CL", "GS", "MONDO"),
      Some(("MONDO-MONDO", "SUB_CLASS_OF"))).run(verts, edges)
    val path = qh.select(transform($"vertices", v => v.getField("key")))
      .as[Seq[String]].head()
    assert(path == Seq("cs1", "c1", "g1", "d1", "d2", "d3")) // longest tail
  }

  test("PathQuery.run with a hierarchy tail releases its RDDs") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val q = PathQuery("CS", Seq("CL", "GS", "MONDO"),
      Some(("MONDO-MONDO", "SUB_CLASS_OF")))
    assert(q.run(verts, edges).collect().length == 1)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("bucketed hop tables run the catalog shuffle-free and match kHop") {
    import graft.operators.PathQueries
    GraphStore.writeHopTables(edges, buckets = 4, prefix = "hopt")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def sig(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select(concat_ws("|", transform($"vertices", v => v.getField("key"))))
          .as[String].collect().sorted.toSeq
      // 2-hop: both scans arrive bucketed on their join keys -> the whole
      // plan runs with ZERO shuffle exchanges
      val two = PathQueries.kHopBucketed(spark, "hopt", "CS", Seq("BMC", "BGS"))
      assert(sig(two) == sig(PathQueries.kHop(verts, edges, "CS", Seq("BMC", "BGS"))))
      val plan2 = two.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange hashpartitioning"),
        s"expected shuffle-free 2-hop:\n$plan2")
      // 3-hop: the growing path side re-shuffles once, the edge scans never
      val three = PathQueries.kHopBucketed(spark, "hopt", "CS", Seq("CL", "GS", "MONDO"))
      assert(sig(three) == sig(PathQueries.kHop(verts, edges, "CS", Seq("CL", "GS", "MONDO"))))
      val plan3 = three.queryExecution.executedPlan.toString
      val nEx = plan3.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(nEx <= 2, s"expected at most 2 path-side exchanges, got $nEx:\n$plan3")
      // hierarchy variant over the bucketed by_src slice matches run()
      val q = PathQuery("CS", Seq("CL", "GS", "MONDO"),
        Some(("MONDO-MONDO", "SUB_CLASS_OF")))
      assert(sig(q.runBucketed(spark, "hopt")) == sig(q.run(verts, edges)))
      // repeating collection pattern (CS-CL, CL-CS): uniqueEdges tracking
      // engages in the bucketed variant too — cs1-c1 must not be walked
      // back, so the only 2-hop is cs1 -> c1 -> cs2
      val repVerts = Seq(("CS", "cs1"), ("CS", "cs2"), ("CL", "c1"))
        .toDF("collection", "key")
      val repEdges = Seq(
        ("CS", "cs1", "CL", "c1", "composed_of"),
        ("CS", "cs2", "CL", "c1", "composed_of")
      ).toDF("from_coll", "from_key", "to_coll", "to_key", "label")
      GraphStore.writeHopTables(repEdges, buckets = 2, prefix = "hoprep")
      val rb = graft.operators.PathQueries
        .kHopBucketed(spark, "hoprep", "CS", Seq("CL", "CS"))
      assert(sig(rb) == sig(graft.operators.PathQueries
        .kHop(repVerts, repEdges, "CS", Seq("CL", "CS"))))
      assert(sig(rb) == Seq("cs1|c1|cs2", "cs2|c1|cs1"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("phenotypeSubgraph unions all queries, dedups, and enriches") {
    val (vs, es) = QueryCatalog.phenotypeSubgraph(verts, edges)
    val vKeys = vs.select("key").as[String].collect().toSet
    // cs1 appears in several query results but once here
    assert(vs.filter($"key" === "cs1").count() == 1)
    assert(vKeys.contains("d3")) // reached only via the hierarchy tail
    assert(es.count() >= 5)
  }

  test("rankRelatedEntities: CS seeds keep the reset mass, related " +
    "entities rank by proximity, production default tracks the exact " +
    "face within float association noise") {
    val exact = QueryCatalog.rankRelatedEntities(verts, edges,
        exactFolds = true)
      .orderBy("collection", "key").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val ranks = exact.map { case (c, k, v) => s"$c/$k" -> v }.toMap
    // seeds carry base mass; anything they point at inherits scaled mass
    assert(ranks("CS/cs1") == 1.0 - 0.85)
    assert(ranks.keys.exists(_.startsWith("BGS/")))
    assert(ranks.filter(!_._1.startsWith("CS/")).values.forall(_ >= 0.0))
    // a node OUTSIDE the subgraph never appears
    assert(!ranks.contains("PUB/zzz"))
    // the production default (map-side combined fold) is the same
    // ranking within association noise
    val fast = QueryCatalog.rankRelatedEntities(verts, edges)
      .orderBy("collection", "key").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(exact.map(t => (t._1, t._2)).toSeq == fast.map(t => (t._1, t._2)).toSeq)
    exact.zip(fast).foreach { case ((_, k, a), (_, _, b)) =>
      assert(math.abs(a - b) <= 1e-12 * math.max(math.abs(a), 1.0),
        s"node $k: exact $a vs fast $b")
    }
  }

  test("graph store round-trips and prunes partitions by collection") {
    val dir = Files.createTempDirectory("gs")
    GraphStore.writeVertices(verts, dir.resolve("v").toString)
    GraphStore.writeEdges(edges, dir.resolve("e").toString)
    val v = GraphStore.readVertices(spark, dir.resolve("v").toString)
    assert(v.count() == verts.count())
    val pruned = v.filter($"collection" === "CS")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("collection"), "partition filter should appear in scan")
    assert(pruned.count() == 2)
    val e = GraphStore.readEdges(spark, dir.resolve("e").toString)
    assert(e.filter($"from_coll" === "CS" && $"to_coll" === "BGS").count() == 1)
  }
}
