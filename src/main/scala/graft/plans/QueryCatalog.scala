package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.PathQueries

/**
 * The reference's external query surface as data (SURVEY.md §2.7): a
 * `PathQuery` spec compiled onto the iterative join executor, and the 25
 * production instantiations (the reference's 24,
 * PhenotypeGraphBuilder.java:50-92, plus the 1-hop BGS query) and the
 * phenotype-subgraph materialization (:117-157).
 *
 * Every production query anchors at the cell-set collection CS and walks
 * ANY-direction hops; hierarchy tails walk OUTBOUND over one edge label
 * of one edge collection with the longest chain kept per start
 * (AqlQuerySetBuilder.java:28-351).
 */
object QueryCatalog {

  /** @param hops       required vertex collection at positions 1..k
    * @param hierarchy  optional (edge collection, edge label), e.g.
    *                   ("GO-GO", "SUB_CLASS_OF"): the tail walks only the
    *                   edges of that label from the collection before the
    *                   '-' to the one after it, the reference's walk over
    *                   one edge collection (AqlQuerySetBuilder.java:88-119).
    *                   Over the stored edge table that slice is one
    *                   `(from_coll, to_coll)` partition directory. A name
    *                   that is not `A-B` fails at construction. */
  final case class PathQuery(anchor: String, hops: Seq[String],
                             hierarchy: Option[(String, String)] = None) {
    // (from collection, to collection, label) of the hierarchy tail
    private val tail: Option[(String, String, String)] =
      hierarchy.map { case (coll, label) =>
        val (from, to) = PathQuery.edgeCollection(coll)
        (from, to, label)
      }

    def run(vertices: DataFrame, edges: DataFrame, maxDepth: Int = 64): DataFrame = {
      val base = PathQueries.kHop(vertices, edges, anchor, hops)
      tail match {
        case Some((from, to, label)) =>
          PathQueries.withHierarchy(base,
            edges.filter(col("from_coll") === from && col("to_coll") === to),
            label, maxDepth)
        case None => base
      }
    }

    /** Scale path: run over the bucketed hop tables written by
      * `GraphStore.writeHopTables(edges, buckets, prefix)` — the edge
      * table never shuffles (see kHopBucketed). Result-identical to
      * [[run]] on the same graph. The hierarchy walk reads its slice
      * from the by_src table (orient = 'f', the edge collection and the
      * label pushed to the bucketed scan;
      * PathQueries.withHierarchyBucketed). */
    def runBucketed(spark: org.apache.spark.sql.SparkSession, prefix: String,
                    maxDepth: Int = 64): DataFrame = {
      val base = PathQueries.kHopBucketed(spark, prefix, anchor, hops)
      tail match {
        case Some((from, to, label)) =>
          PathQueries.withHierarchyBucketed(spark, prefix, base, from, to, label, maxDepth)
        case None => base
      }
    }
  }

  object PathQuery {
    /** Split an edge collection name `A-B` into its (from, to) vertex
      * collections. */
    private def edgeCollection(name: String): (String, String) = name.split("-", -1) match {
      case Array(from, to) if from.nonEmpty && to.nonEmpty => (from, to)
      case _ => throw new IllegalArgumentException(
        s"edge collection '$name' is not of the form FROM-TO")
    }
  }

  /** The 25 production queries: the reference's 24 in its execution
    * order, led by the 1-hop BGS query. */
  val production: Seq[PathQuery] = Seq(
    PathQuery("CS", Seq("BGS")),
    PathQuery("CS", Seq("BMC", "BGS")),
    PathQuery("CS", Seq("CL", "CSD")),
    PathQuery("CS", Seq("CL", "GS")),
    PathQuery("CS", Seq("CL", "PR")),
    PathQuery("CS", Seq("CSD", "PUB")),
    PathQuery("CS", Seq("UBERON", "CHEBI")),
    PathQuery("CS", Seq("UBERON", "CSD")),
    PathQuery("CS", Seq("UBERON", "GS")),
    PathQuery("CS", Seq("UBERON", "NCBITaxon")),
    PathQuery("CS", Seq("UBERON", "PATO")),
    PathQuery("CS", Seq("UBERON", "PR")),
    PathQuery("CS", Seq("CL", "NCBITaxon"), Some(("NCBITaxon-NCBITaxon", "SUB_CLASS_OF"))),
    PathQuery("CS", Seq("CL", "PATO"), Some(("PATO-PATO", "SUB_CLASS_OF"))),
    PathQuery("CS", Seq("CL", "UBERON"), Some(("UBERON-UBERON", "PART_OF"))),
    PathQuery("CS", Seq("UBERON", "GO"), Some(("GO-GO", "SUB_CLASS_OF"))),
    PathQuery("CS", Seq("CL", "GO", "NCBITaxon")),
    PathQuery("CS", Seq("CL", "GS", "BMC")),
    PathQuery("CS", Seq("CL", "GS", "UBERON")),
    PathQuery("CS", Seq("CL", "GS", "MONDO"), Some(("MONDO-MONDO", "SUB_CLASS_OF"))),
    PathQuery("CS", Seq("CL", "GS", "PR", "CHEMBL")),
    PathQuery("CS", Seq("CL", "GS", "MONDO", "NCBITaxon")),
    PathQuery("CS", Seq("CL", "GS", "MONDO", "HP"), Some(("HP-HP", "SUB_CLASS_OF"))),
    PathQuery("CS", Seq("CL", "GS", "RS", "CHEMBL", "MONDO")),
    PathQuery("CS", Seq("CL", "GS", "RS", "CHEMBL", "PR"))
  )

  /** "Rank the entities related to the cell sets" — the global-analytics
    * catalog member over the graph [[phenotypeSubgraph]] materializes:
    * personalized PageRank with the reset mass confined to the
    * `seedCollection` vertices, so scores measure proximity to the cell
    * sets a Cell KN user starts from (the subgraph exists precisely to
    * serve such queries; PhenotypeGraphBuilder.java:48-109).
    *
    * Node identity is the ArangoDB-style `collection/key` handle (an
    * Arango `_key` cannot contain '/', so the join-back split is exact).
    * PRODUCTION DEFAULT is the map-side-combined fold
    * (`exactFolds = false` — a celebrity ontology term must never build
    * a collect_list array); the bit-exact face exists for gates and
    * cross-engine replay only (gate q114 runs it; the spec pins the two
    * faces ≤1e-12 apart on the fixture graph). */
  def rankRelatedEntities(vertices: DataFrame, edges: DataFrame,
                          seedCollection: String = "CS",
                          iterations: Int = 5, damping: Double = 0.85,
                          queries: Seq[PathQuery] = production,
                          exactFolds: Boolean = false): DataFrame = {
    val (sv, se) = phenotypeSubgraph(vertices, edges, queries)
    val e = se.select(
      concat_ws("/", col("from_coll"), col("from_key")).as("src"),
      concat_ws("/", col("to_coll"), col("to_key")).as("dst"))
    val seeds = sv.filter(col("collection") === seedCollection)
      .select(concat_ws("/", col("collection"), col("key")).as("node"))
    graft.operators.GraphAlgos
      .personalizedPageRank(e, seeds, iterations, damping,
        exactFolds = exactFolds)
      .select(split(col("node"), "/").getItem(0).as("collection"),
        split(col("node"), "/").getItem(1).as("key"),
        col("pr").as("rank"))
  }

  /** Phenotype-graph materialization: run every query, union the paths,
    * dedup vertices/edges, enrich vertex docs from the ontology vertex
    * table (PhenotypeGraphBuilder.java:48-223 — the sequential AQL loop,
    * O(n²) dedup, and per-doc upserts become one declarative plan). */
  def phenotypeSubgraph(vertices: DataFrame, edges: DataFrame,
                        queries: Seq[PathQuery] = production)
  : (DataFrame, DataFrame) = {
    val paths = queries.map(_.run(vertices, edges)).reduce(_.unionByName(_))
    val (vs, es) = PathQueries.subgraph(paths)
    // tolerate a bare topology table (collection, key): synthesize the doc
    // columns the enrichment join provides when present
    val docs = Seq(
      "term" -> concat_ws("_", col("collection"), col("key")),
      "attrs" -> lit(null).cast("map<string,array<string>>")
    ).foldLeft(vertices) { case (df, (c, default)) =>
      if (df.columns.contains(c)) df else df.withColumn(c, default)
    }
    (PathQueries.enrich(vs, docs), es)
  }
}
