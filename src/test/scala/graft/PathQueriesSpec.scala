package graft

import org.apache.spark.sql.functions._
import graft.operators.PathQueries

/** Path-query semantics (SURVEY.md §2.7, AqlQuerySetBuilder.java):
  * ANY direction, per-position collection constraints, uniqueEdges:path,
  * hierarchy longest-tail, subgraph dedup, enrichment preference. */
class PathQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def verts(rows: (String, String)*) =
    rows.toDF("collection", "key")

  private def edges(rows: (String, String, String, String, String)*) =
    rows.toDF("from_coll", "from_key", "to_coll", "to_key", "label")

  test("1-hop ANY follows edges in BOTH directions") {
    // AQL `FOR v,e,p IN 1 ANY cs` (AqlQuerySetBuilder.java:28-40)
    val v = verts(("CS", "1"), ("GS", "a"), ("GS", "b"))
    val e = edges(
      ("CS", "1", "GS", "a", "x"), // forward from anchor
      ("GS", "b", "CS", "1", "y")) // reverse INTO anchor — must also match
    val p = PathQueries.kHop(v, e, "CS", Seq("GS"))
      .select(element_at($"vertices", 2).getField("key")).as[String]
      .collect().toSet
    assert(p == Set("a", "b"))
  }

  test("per-position collection constraints restrict each hop") {
    val v = verts(("CS", "1"), ("GS", "a"), ("MONDO", "m"), ("PR", "p"))
    val e = edges(
      ("CS", "1", "GS", "a", "x"),
      ("GS", "a", "MONDO", "m", "y"),
      ("GS", "a", "PR", "p", "z")) // wrong collection for hop 2
    val p = PathQueries.kHop(v, e, "CS", Seq("GS", "MONDO"))
      .select(element_at($"vertices", 3).getField("key")).as[String].collect()
    assert(p.toSeq == Seq("m"))
  }

  test("uniqueEdges: the same undirected edge is not traversed twice in one path") {
    // pattern CS->GS->CS can bounce back over the same edge — AQL's
    // default `uniqueEdges: path` forbids exactly that
    val v = verts(("CS", "1"), ("CS", "2"), ("GS", "a"))
    val e = edges(
      ("CS", "1", "GS", "a", "x"),
      ("CS", "2", "GS", "a", "y"))
    val p = PathQueries.kHop(v, e, "CS", Seq("GS", "CS"))
      .select(
        element_at($"vertices", 1).getField("key").as("v0"),
        element_at($"vertices", 3).getField("key").as("v2"))
      .as[(String, String)].collect()
    // 1->a->1 and 2->a->2 would reuse the edge; only the cross pairs
    // remain, once each
    assert(p.sorted.toSeq == Seq(("1", "2"), ("2", "1")))
  }

  test("hierarchy extension appends the LONGEST single-label chain") {
    // AqlQuerySetBuilder.java:88-119: OUTBOUND, one label, SORT LENGTH
    // DESC LIMIT 1
    val v = verts(("CS", "1"), ("CL", "a"), ("CL", "b"), ("CL", "c"), ("CL", "d"))
    val e = edges(
      ("CS", "1", "CL", "a", "rel"),
      ("CL", "a", "CL", "b", "SUB_CLASS_OF"),
      ("CL", "b", "CL", "c", "SUB_CLASS_OF"),
      ("CL", "a", "CL", "d", "OTHER")) // wrong label: pruned
    val base = PathQueries.kHop(v, e, "CS", Seq("CL"))
    val p = PathQueries.withHierarchy(base, e, "SUB_CLASS_OF", maxDepth = 8)
      .select(transform($"vertices", x => x.getField("key")))
      .as[Seq[String]].collect()
    assert(p.length == 1)
    assert(p(0) == Seq("1", "a", "b", "c")) // longest chain a->b->c appended
  }

  test("hierarchy extension keeps paths whose last vertex has no outbound chain") {
    val v = verts(("CS", "1"), ("CL", "a"))
    val e = edges(("CS", "1", "CL", "a", "rel"))
    val p = PathQueries.withHierarchy(
      PathQueries.kHop(v, e, "CS", Seq("CL")), e, "SUB_CLASS_OF")
      .select(transform($"vertices", x => x.getField("key")))
      .as[Seq[String]].collect()
    assert(p.length == 1 && p(0) == Seq("1", "a"))
  }

  private def keysOf(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
    df.select(transform($"vertices", x => x.getField("key")))
      .as[Seq[String]].collect().toSet

  private def edgesOf(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
    df.select(transform($"edges", x => concat_ws("|",
      x.getField("from_key"), x.getField("to_key"), x.getField("label"))))
      .as[Seq[String]].collect().toSet

  test("hierarchy walk: unique longest fork, dead end, depth cap") {
    // one fixture exercising every walk shape at once:
    //  start a: forks a->b (depth 3 via b->c->d) vs a->x (depth 1) —
    //           unique longest wins;  decoy label from a must prune
    //  start m: no outbound chain — tail stays empty
    //  start p: 10-node chain but maxDepth=4 — the cap truncates
    val chain = (0 until 10).map(i =>
      ("CL", s"p$i", "CL", s"p${i + 1}", "SUB_CLASS_OF"))
    val e = edges(Seq(
      ("CS", "1", "CL", "a", "rel"),
      ("CS", "2", "CL", "m", "rel"),
      ("CS", "3", "CL", "p0", "rel"),
      ("CL", "a", "CL", "b", "SUB_CLASS_OF"),
      ("CL", "b", "CL", "c", "SUB_CLASS_OF"),
      ("CL", "c", "CL", "d", "SUB_CLASS_OF"),
      ("CL", "a", "CL", "x", "SUB_CLASS_OF"), // shorter fork
      ("CL", "a", "CL", "z", "OTHER")) ++ chain: _*)
    val v = verts(Seq(("CS", "1"), ("CS", "2"), ("CS", "3")) ++
      e.select("to_coll", "to_key").as[(String, String)].collect().toSeq
        .distinct: _*)
    val base = PathQueries.kHop(v, e, "CS", Seq("CL"))
    val got = PathQueries.withHierarchy(base, e, "SUB_CLASS_OF", maxDepth = 4)
    assert(keysOf(got) == Set(
      Seq("1", "a", "b", "c", "d"), // unique longest fork
      Seq("2", "m"),                // dead end: empty tail survives
      Seq("3", "p0", "p1", "p2", "p3", "p4"))) // capped at 4 levels
    // edge arrays must follow the vertex spines, not just their length
    val sub = (a: String, b: String) => s"$a|$b|SUB_CLASS_OF"
    assert(edgesOf(got) == Set(
      Seq("1|a|rel", sub("a", "b"), sub("b", "c"), sub("c", "d")),
      Seq("2|m|rel"),
      Seq("3|p0|rel") ++ (0 until 4).map(i => sub(s"p$i", s"p${i + 1}"))))
    // both arrays read one tail per row: the optimizer must not inline
    // the row function into each of them
    val plan = got.queryExecution.optimizedPlan.toString
    assert("hierarchy_tail\\(".r.findAllIn(plan).size == 1, plan)
  }

  test("hierarchy walk follows cycles up to maxDepth") {
    // the walk repeats vertices and edges: a->b->a keeps extending until
    // the depth cap, exactly as a per-level frontier join would
    val v = verts(("CS", "1"), ("CL", "a"), ("CL", "b"))
    val e = edges(
      ("CS", "1", "CL", "a", "rel"),
      ("CL", "a", "CL", "b", "SUB_CLASS_OF"),
      ("CL", "b", "CL", "a", "SUB_CLASS_OF"))
    val got = PathQueries.withHierarchy(
      PathQueries.kHop(v, e, "CS", Seq("CL")), e, "SUB_CLASS_OF", maxDepth = 5)
    assert(keysOf(got) == Set(Seq("1", "a", "b", "a", "b", "a", "b")))
    assert(got.select(size($"edges")).as[Int].collect().toSeq == Seq(1 + 5))
  }

  test("hierarchy tie-break: smallest (to_coll, to_key) per step") {
    val v = verts(("CS", "1"), ("CL", "a"), ("CL", "l1"), ("CL", "l2"),
      ("CL", "r1"), ("CL", "r2"))
    val e = edges(
      ("CS", "1", "CL", "a", "rel"),
      ("CL", "a", "CL", "r1", "SUB_CLASS_OF"),
      ("CL", "r1", "CL", "r2", "SUB_CLASS_OF"),
      ("CL", "a", "CL", "l1", "SUB_CLASS_OF"),
      ("CL", "l1", "CL", "l2", "SUB_CLASS_OF"))
    val base = PathQueries.kHop(v, e, "CS", Seq("CL"))
    val got = PathQueries.withHierarchy(base, e, "SUB_CLASS_OF", maxDepth = 8)
      .select(transform($"vertices", x => x.getField("key")))
      .as[Seq[String]].collect()
    // ONE winner among the equal-length forks: l1 < r1
    assert(got.toSeq == Seq(Seq("1", "a", "l1", "l2")))
  }

  test("subgraph dedups exploded vertices and edges") {
    // PhenotypeGraphBuilder.java:117-157 without the O(n²) scan
    val v = verts(("CS", "1"), ("CS", "2"), ("GS", "a"))
    val e = edges(
      ("CS", "1", "GS", "a", "x"),
      ("CS", "2", "GS", "a", "y"))
    val paths = PathQueries.kHop(v, e, "CS", Seq("GS"))
    val (vs, es) = PathQueries.subgraph(paths)
    assert(vs.count() == 3) // CS/1, CS/2, GS/a — GS/a once
    assert(es.count() == 2)
  }

  test("enrich prefers the ontology doc and falls back to the path ref") {
    // J11 (PhenotypeGraphBuilder.java:178-191)
    val pathV = verts(("CL", "1"), ("CL", "2"))
    val onto = Seq(("CL", "1", "CL_1", Map("label" -> Seq("one"))))
      .toDF("collection", "key", "term", "attrs")
    val out = PathQueries.enrich(pathV, onto).orderBy("key").collect()
    assert(out(0).getAs[String]("term") == "CL_1") // enriched
    assert(out(1).getAs[String]("term") == "CL_2") // fallback synthesized
    assert(out(1).getAs[Map[String, scala.collection.Seq[String]]]("attrs") == null)
  }
}
