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

  // the fixture plus a SUB_CLASS_OF edge out of the MONDO collection: a
  // walk over the label alone could take it, a walk over "MONDO-MONDO"
  // must not
  private lazy val crossVerts = verts.unionByName(Seq(("HP", "h1")).toDF("collection", "key"))
  private lazy val crossEdges = edges.unionByName(
    Seq(("MONDO", "d2", "HP", "h1", "SUB_CLASS_OF"))
      .toDF("from_coll", "from_key", "to_coll", "to_key", "label"))

  private def keyPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(concat_ws("|", transform($"vertices", v => v.getField("key"))))
      .as[String].collect().sorted.toSeq

  test("hierarchy tails walk one edge collection, not every edge of the label") {
    val q = PathQuery("CS", Seq("CL", "GS", "MONDO"),
      Some(("MONDO-MONDO", "SUB_CLASS_OF")))
    assert(keyPaths(q.run(crossVerts, crossEdges)) == Seq("cs1|c1|g1|d1|d2|d3"))
    // the hops themselves never reach the decoy's HP end
    val base = graft.operators.PathQueries.kHop(crossVerts, crossEdges, "CS",
      Seq("CL", "GS", "MONDO"))
    assert(keyPaths(base) == Seq("cs1|c1|g1|d1"))
    assert(keyPaths(PathQuery("CS", Seq("BMC", "BGS")).run(crossVerts, crossEdges)) ==
      Seq("cs1|m1|b1"))
    // the label-only walk on the whole table ties d3 with h1 at d2 and
    // takes the smaller (to_coll, to_key): ("HP", "h1")
    assert(keyPaths(graft.operators.PathQueries.withHierarchy(base, crossEdges,
      "SUB_CLASS_OF")) == Seq("cs1|c1|g1|d1|d2|h1"))
    for (bad <- Seq("MONDO", "MONDO-MONDO-HP", "-MONDO", "MONDO-", ""))
      intercept[IllegalArgumentException](
        PathQuery("CS", Seq("CL"), Some((bad, "SUB_CLASS_OF"))))
  }

  test("PathQuery.run with a hierarchy tail releases its RDDs") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val q = PathQuery("CS", Seq("CL", "GS", "MONDO"),
      Some(("MONDO-MONDO", "SUB_CLASS_OF")))
    assert(q.run(verts, edges).collect().length == 1)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("phenotypeSubgraph unions all queries, dedups, and enriches") {
    val (vs, es) = QueryCatalog.phenotypeSubgraph(verts, edges)
    val vKeys = vs.select("key").as[String].collect().toSet
    // cs1 appears in several query results but once here
    assert(vs.filter($"key" === "cs1").count() == 1)
    assert(vKeys.contains("d3")) // reached only via the hierarchy tail
    assert(es.count() >= 5)
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
