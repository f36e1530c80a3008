package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The k-hop path-pattern query engine — the reference's entire external
 * query surface, re-expressed as chained equi-joins (SURVEY.md §2.7).
 *
 * Reference semantics (src/main/java/gov/nih/nlm/AqlQuerySetBuilder.java):
 *  - every query anchors at a start collection and walks k hops in ANY
 *    (undirected) direction (`FOR v,e,p IN k ANY cs GRAPH`, lines 28-65);
 *  - each path position i is constrained to one vertex collection
 *    (`IS_SAME_COLLECTION(@nodeI, p.vertices[i])`, lines 36-37);
 *  - no edge repeats within one path (AQL default `uniqueEdges: "path"`);
 *  - the optional hierarchy extension walks OUTBOUND over a single edge
 *    label of one edge collection up to depth 64 from the path's last
 *    vertex and keeps only the LONGEST chain per start
 *    (`SORT LENGTH(p1.edges) DESC LIMIT 1`, lines 88-119).
 *
 * Spark-first design:
 *  - ANY direction = union of the edge table with its reverse — built once;
 *  - per-hop collection constraints become filters on the edge table's
 *    partition columns BEFORE the join ⇒ Parquet partition pruning, and the
 *    per-hop join only shuffles the one collection-pair slice it needs;
 *  - `uniqueEdges: path` = an accumulated set of undirected edge ids checked
 *    with array_contains (k ≤ 5, so the array is tiny);
 *  - the hierarchy tail is one row function of the path's last vertex
 *    over the single-label slice (one partition directory of the stored
 *    edge table once `PathQuery.run` restricts it to the edge
 *    collection), collected once per call and held on the driver (depth
 *    cap 64, AqlQuerySetBuilder.java:96): the longest walk
 *    per start, ties broken by the smallest `(to_coll, to_key)` at each
 *    step — no per-level Spark job.
 *
 * At 100 TB: the anchor collection (CS in the reference) is tiny and the
 * hop-1 join broadcasts it; ontology-sized collections shuffle on
 * (collection, key), which is exactly the layout the partitioned edge table
 * already has.
 */
object PathQueries {

  /** One hop constraint: the vertex collection required at that position. */
  type Hop = String

  /** Undirected view of an edge table: each edge appears in both
    * orientations, tagged with a canonical undirected id for
    * `uniqueEdges: path` enforcement and its orientation ('f'/'r') so a
    * directed (OUTBOUND) view can be recovered from a persisted copy. */
  def undirected(edges: DataFrame): DataFrame = {
    val eid = concat_ws("|",
      col("from_coll"), col("from_key"), col("to_coll"), col("to_key"))
    val fwd = edges.select(
      col("from_coll").as("src_coll"), col("from_key").as("src_key"),
      col("to_coll").as("dst_coll"), col("to_key").as("dst_key"),
      col("label"), eid.as("eid"), lit("f").as("orient"))
    val rev = edges.select(
      col("to_coll").as("src_coll"), col("to_key").as("src_key"),
      col("from_coll").as("dst_coll"), col("from_key").as("dst_key"),
      col("label"), eid.as("eid"), lit("r").as("orient"))
    fwd.unionByName(rev)
  }

  /**
   * k-hop ANY path enumeration with per-position collection constraints.
   * Mirrors getQuerySetInOne/Two/Three/Four/Five
   * (AqlQuerySetBuilder.java:28-351).
   *
   * @param vertices  vertex table (collection, key, ...)
   * @param edges     edge table (from_coll, to_coll, from_key, to_key, label)
   * @param anchor    start collection (always "CS" in the reference's 24
   *                  production queries, PhenotypeGraphBuilder.java:50-92)
   * @param hops      required collection at positions 1..k
   * @return paths DataFrame: vertices array<struct<collection,key>>,
   *         edges array<struct<from_coll,from_key,to_coll,to_key,label>>
   */
  def kHop(vertices: DataFrame, edges: DataFrame, anchor: String, hops: Seq[Hop]): DataFrame = {
    require(hops.nonEmpty && hops.size <= 5, "reference queries are 1..5 hops")
    val eAny = undirected(edges)

    val vref = (c: String, k: String) =>
      struct(col(c).as("collection"), col(k).as("key"))

    // `uniqueEdges: path` tracking is only needed when the collection
    // pattern can revisit an edge: the edge into hop i connects
    // collections (hop(i-1), hop(i)), so a repeat is only possible at a
    // later hop j with {hop(j-1), hop(j)} == {hop(i-1), hop(i)} (ANY
    // direction = unordered). When the pattern can't repeat (most of the
    // reference's 24 production queries), skip carrying+checking the eid
    // array entirely — less shuffle payload per path row.
    val collAt: Int => String = i => if (i < 0) anchor else hops(i)
    val pairs = hops.indices.map(i => Set(collAt(i - 1), collAt(i)))
    val needEids = pairs.distinct.size < pairs.size

    // start frontier: every vertex of the anchor collection
    var paths = {
      val base = vertices.filter(col("collection") === anchor)
        .select(
          array(struct(col("collection"), col("key"))).as("vs"),
          array().cast("array<struct<from_coll:string,from_key:string,to_coll:string,to_key:string,label:string>>").as("es"),
          col("collection").as("cur_coll"), col("key").as("cur_key"))
      if (needEids) base.withColumn("eids", array().cast("array<string>"))
      else base
    }

    hops.foreach { hopColl =>
      // constrain the edge slice BEFORE the join: partition-prunable
      val slice = eAny.filter(col("dst_coll") === hopColl)
      val joined = paths.join(slice,
          paths("cur_coll") === slice("src_coll") &&
          paths("cur_key") === slice("src_key"))
      val filtered =
        if (needEids) joined.filter(!array_contains(col("eids"), col("eid")))
        else joined
      val grown = filtered.select(
        Seq(
          concat(col("vs"), array(vref("dst_coll", "dst_key"))).as("vs"),
          concat(col("es"), array(struct(
            col("src_coll").as("from_coll"), col("src_key").as("from_key"),
            col("dst_coll").as("to_coll"), col("dst_key").as("to_key"),
            col("label")))).as("es"),
          col("dst_coll").as("cur_coll"), col("dst_key").as("cur_key")) ++
        (if (needEids) Seq(concat(col("eids"), array(col("eid"))).as("eids"))
         else Nil): _*)
      paths = grown
    }
    paths.select(col("vs").as("vertices"), col("es").as("edges"))
  }

  /**
   * k-hop ANY path enumeration over the bucketed hop-table layout written
   * by `GraphStore.writeHopTables` — the 100 TB-scale variant of [[kHop]]:
   * the (huge) edge table NEVER shuffles.
   *
   * Layout contract: `<prefix>_by_src` and `<prefix>_by_dst` are the same
   * undirected edge view, bucketed+sorted by (src_coll, src_key) and
   * (dst_coll, dst_key) respectively with equal bucket counts.
   *
   *  - hop 1 is just the `by_dst` scan (src_coll = anchor): its rows
   *    arrive hash-partitioned on (dst_coll, dst_key) — which IS hop 2's
   *    join key, so a 2-hop plan runs with ZERO shuffle exchanges
   *    (plan-asserted in QueryCatalogSpec);
   *  - every later hop reads `by_src`, already partitioned on its join
   *    key: only the (small, growing) path side ever re-shuffles, the
   *    edge scan side never does.
   *
   * Requires every edge endpoint to exist in the vertex table (true for
   * GraphStore-written graphs), under which it is result-identical to
   * [[kHop]] (spec-pinned). */
  def kHopBucketed(spark: SparkSession, prefix: String, anchor: String,
                   hops: Seq[Hop]): DataFrame = {
    require(hops.nonEmpty && hops.size <= 5, "reference queries are 1..5 hops")
    val bySrc = spark.table(s"${prefix}_by_src")
    val byDst = spark.table(s"${prefix}_by_dst")

    val collAt: Int => String = i => if (i < 0) anchor else hops(i)
    val pairSets = hops.indices.map(i => Set(collAt(i - 1), collAt(i)))
    val needEids = pairSets.distinct.size < pairSets.size

    val h1 = byDst.filter(col("src_coll") === anchor &&
      col("dst_coll") === hops.head)
    var paths = {
      val base = h1.select(
        Seq(
          array(
            struct(col("src_coll").as("collection"), col("src_key").as("key")),
            struct(col("dst_coll").as("collection"), col("dst_key").as("key"))).as("vs"),
          array(struct(
            col("src_coll").as("from_coll"), col("src_key").as("from_key"),
            col("dst_coll").as("to_coll"), col("dst_key").as("to_key"),
            col("label"))).as("es"),
          col("dst_coll").as("cur_coll"), col("dst_key").as("cur_key")) ++
        (if (needEids) Seq(array(col("eid")).as("eids")) else Nil): _*)
      base
    }
    hops.drop(1).zipWithIndex.foreach { case (hopColl, i0) =>
      val slice = bySrc.filter(col("src_coll") === hops(i0) &&
        col("dst_coll") === hopColl)
      val joined = paths.join(slice,
        paths("cur_coll") === slice("src_coll") &&
        paths("cur_key") === slice("src_key"))
      val filtered =
        if (needEids) joined.filter(!array_contains(col("eids"), col("eid")))
        else joined
      paths = filtered.select(
        Seq(
          concat(col("vs"), array(struct(
            col("dst_coll").as("collection"), col("dst_key").as("key")))).as("vs"),
          concat(col("es"), array(struct(
            col("src_coll").as("from_coll"), col("src_key").as("from_key"),
            col("dst_coll").as("to_coll"), col("dst_key").as("to_key"),
            col("label")))).as("es"),
          col("dst_coll").as("cur_coll"), col("dst_key").as("cur_key")) ++
        (if (needEids) Seq(concat(col("eids"), array(col("eid"))).as("eids"))
         else Nil): _*)
    }
    paths.select(col("vs").as("vertices"), col("es").as("edges"))
  }

  /** One hierarchy tail: the vertices and edges it appends to a path,
    * field for field as [[kHop]] writes them. */
  private[graft] final case class TailVertex(collection: String, key: String)
  private[graft] final case class TailEdge(from_coll: String, from_key: String,
                                           to_coll: String, to_key: String,
                                           label: String)
  private[graft] final case class Tail(tvs: Seq[TailVertex], tes: Seq[TailEdge])

  /**
   * Variable-length hierarchy extension (getQuerySetIn*WithHierarchy,
   * AqlQuerySetBuilder.java:88-119): from each path's last vertex, walk
   * OUTBOUND over edges of ONE label up to `maxDepth`, keep the longest
   * chain per path, and concat it onto the base path.
   *
   * The AQL `PRUNE label NOT IN [@label]` + `FILTER ALL ==` pair is
   * equivalent to pre-filtering the edge table to the single label before
   * the walk (SURVEY.md §4) — simpler and prunes at the scan.
   *
   * Walk semantics: a tail is a longest walk of at most `maxDepth` edges;
   * vertices and edges may repeat, so a cycle extends to the cap. Among
   * equal-length longest walks the tail takes, at each step, the
   * successor with the smallest `(to_coll, to_key)` (String order) —
   * AQL's `LIMIT 1` keeps an arbitrary one, this engine a fixed one.
   *
   * The walk follows every `label` edge of `edges`, whatever collections
   * it joins. The reference walks one edge collection (e.g. "MONDO-MONDO");
   * `QueryCatalog.PathQuery.run` gets that walk by passing only the
   * `(from_coll, to_coll)` slice of the edge table, so a label that also
   * crosses collections (a MONDO term SUB_CLASS_OF an HP term) stays out
   * of the tail. Called on the unfiltered table, the walk is label-only.
   *
   * Runs one action: the label slice is collected to the driver when the
   * call is made; the returned frame stays lazy.
   */
  def withHierarchy(basePaths: DataFrame, edges: DataFrame, label: String,
                    maxDepth: Int = 64): DataFrame =
    hierarchyWalk(basePaths, edges.filter(col("label") === label)
      .select(col("from_coll"), col("from_key"), col("to_coll"), col("to_key")),
      label, maxDepth)

  /** [[withHierarchy]] over the edge collection `fromColl-toColl`, with
    * its slice read from the bucketed `<prefix>_by_src` hop table
    * (GraphStore.writeHopTables layout): the directed rows
    * (`orient = 'f'`) of the collection pair and the label, pushed to the
    * scan. Result ≡ [[withHierarchy]] on the same collection pair's edges
    * (spec-pinned through `PathQuery.runBucketed` ≡ `run`). */
  def withHierarchyBucketed(spark: SparkSession, prefix: String,
                            basePaths: DataFrame, fromColl: String,
                            toColl: String, label: String,
                            maxDepth: Int = 64): DataFrame =
    hierarchyWalk(basePaths, spark.table(s"${prefix}_by_src")
      .filter(col("orient") === "f" && col("src_coll") === fromColl &&
        col("dst_coll") === toColl && col("label") === label)
      .select(col("src_coll"), col("src_key"), col("dst_coll"), col("dst_key")),
      label, maxDepth)

  /** The hierarchy walk over a `(from_coll, from_key, to_coll, to_key)`
    * slice of one label. The slice is held on the driver (it is an
    * ontology's single-label hierarchy, thousands of rows at Cell KN
    * scale) and shipped with the row function that computes each tail
    * from its path's last vertex. */
  private def hierarchyWalk(basePaths: DataFrame, slice: DataFrame,
                            label: String, maxDepth: Int): DataFrame = {
    type V = (String, String)
    // successors sorted by (to_coll, to_key): the first one that still
    // reaches far enough is the tie-break winner. Null endpoints never
    // match a join, so they never extend a walk either.
    val succ: Map[V, Array[V]] = slice.na.drop().collect()
      .groupMap(r => (r.getString(0), r.getString(1)))(r => (r.getString(2), r.getString(3)))
      .map { case (v, ts) => v -> ts.sorted }
    // reach(v): edges in the longest walk from v of at most maxDepth
    // edges (absent = 0). Round k holds the longest walk of at most k
    // edges, so a cycle grows to the cap and a DAG stops at its height.
    @annotation.tailrec
    def grow(reach: Map[V, Int], round: Int): Map[V, Int] =
      if (round == maxDepth) reach
      else {
        val next = succ.map { case (v, ts) => v -> (1 + ts.map(reach.getOrElse(_, 0)).max) }
        if (next == reach) reach else grow(next, round + 1)
      }
    val reach = grow(Map.empty, 0)
    // step i of an n-edge tail takes the first successor that still
    // reaches the remaining n - i edges
    val tail = udf { (coll: String, key: String) =>
      val n = reach.getOrElse((coll, key), 0)
      val walk = (1 to n).scanLeft((coll, key)) { (cur, i) =>
        succ(cur).find(reach.getOrElse(_, 0) >= n - i).get }
      Tail(walk.tail.map { case (c, k) => TailVertex(c, k) },
        walk.zip(walk.tail).map { case ((fc, fk), (tc, tk)) =>
          TailEdge(fc, fk, tc, tk, label) })
    }.withName("hierarchy_tail")
    val last = element_at(col("vertices"), -1)
    basePaths
      .withColumn("tail", tail(last.getField("collection"), last.getField("key")))
      .select(
        concat(col("vertices"), col("tail.tvs")).as("vertices"),
        concat(col("edges"), col("tail.tes")).as("edges"))
  }

  /**
   * Phenotype-subgraph materialization (PhenotypeGraphBuilder.java:117-157):
   * union of path results → unique vertex refs and edge refs. The
   * reference's O(n²) List.contains dedup becomes a hash dropDuplicates.
   */
  def subgraph(paths: DataFrame): (DataFrame, DataFrame) = {
    val vs = paths.select(explode(col("vertices")).as("v"))
      .select(col("v.collection"), col("v.key"))
      .dropDuplicates("collection", "key")
    val es = paths.select(explode(col("edges")).as("e"))
      .select(col("e.from_coll"), col("e.from_key"), col("e.to_coll"),
        col("e.to_key"), col("e.label"))
      .dropDuplicates()
    (vs, es)
  }

  /** Vertex-doc enrichment preference join (J11,
    * PhenotypeGraphBuilder.java:178-191): take the ontology-DB doc when it
    * exists, else keep the path doc. */
  def enrich(pathVerts: DataFrame, ontologyVerts: DataFrame): DataFrame = {
    val o = ontologyVerts.select(
      col("collection"), col("key"),
      col("term").as("o_term"), col("attrs").as("o_attrs"))
    pathVerts.join(o, Seq("collection", "key"), "left")
      .select(col("collection"), col("key"),
        coalesce(col("o_term"),
          concat_ws("_", col("collection"), col("key"))).as("term"),
        col("o_attrs").as("attrs"))
  }
}
