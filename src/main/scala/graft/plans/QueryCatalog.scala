package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.PathQueries

/**
 * The reference's external query surface as data (SURVEY.md §2.7): a
 * `PathQuery` spec, the 25 production instantiations (the reference's
 * 24, PhenotypeGraphBuilder.java:50-92, plus the 1-hop BGS query) and
 * the phenotype-subgraph materialization (:117-157). `PathQuery.run`
 * (`PathQueries.kHop`, then `PathQueries.withHierarchy` for a tail) is
 * the one way to run a path query.
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
