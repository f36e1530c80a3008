package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dereify, OntologyGraph, SearchIndex}
import graft.sources.{GraphStore, OwlSource}

/**
 * End-to-end workflow orchestration — the engine-level twins of the
 * reference's main programs, chaining the operators a user would
 * otherwise wire by hand:
 *
 *  - [[loadOntology]] = OntologyParserLoader.main (parse → triple-type
 *    census → de-reify → property-graph build → store), the flow the
 *    reference drives per ontology release;
 *  - the store step also lays down what the query side reads:
 *    partitioned vertex/edge tables (partition pruning is the index) and
 *    the token search view (ArangoDbUtilities' analyzers/views).
 *
 * Everything here is a composition of already-spec'd operators; the
 * pipeline spec replays macrophage.owl+ro.owl through the whole chain
 * and round-trips the store.
 */
object Pipelines {

  /** What a load produced: the graph, the A8 triple-type census
    * (count_triple_types, OntologyParserLoader.py:286-313) and the
    * quarantined (invalid de-reification) triple count — the numbers the
    * reference prints/logs along its main flow. */
  final case class OntologyLoad(vertices: DataFrame, edges: DataFrame,
                                tripleCensus: DataFrame, quarantined: Long)

  /**
   * Parse one ontology (plus the RO vocabulary), de-reify blank nodes,
   * build the property graph, and optionally persist every query-side
   * artifact.
   *
   * @param clPaths     ontology OWL file(s) — the reference's cl.owl /
   *                    macrophage.owl
   * @param roPath      relation-ontology OWL providing predicate labels
   * @param storePath   when set, vertices/edges land as partitioned
   *                    parquet under `<storePath>/vertices|edges`
   * @param searchView  when set, a token search view over the vertex
   *                    terms (edge-ngram analyzer) is (re)created
   */
  def loadOntology(spark: SparkSession, clPaths: Seq[String], roPath: String,
                   storePath: Option[String] = None,
                   searchView: Option[String] = None): OntologyLoad = {
    val raw = OwlSource.readOwl(spark, clPaths: _*)
    val ro = Dereify.labels(OwlSource.readOwl(spark, roPath)).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap

    // A8 census over the RAW parse (the reference counts before
    // de-reification, OntologyParserLoader.py:286)
    val census = raw
      .groupBy(col("sKind").as("s_kind"), col("oKind").as("o_kind"))
      .agg(count(lit(1)).as("n"))

    val (recon, ignored) = Dereify.dereify(raw)
    val triples = Dereify.fnodeTriples(raw).unionByName(recon.toDF())
    val quarantined = ignored.count()
    val (vertices, edges) = OntologyGraph.build(triples, ro)

    storePath.foreach { p =>
      GraphStore.writeVertices(vertices, s"$p/vertices")
      GraphStore.writeEdges(edges, s"$p/edges")
    }
    searchView.foreach { t =>
      // searchable text = the term id plus every label-attribute value
      // (the reference's view links index the display fields,
      // ArangoDbUtilities.py:318-330)
      val labelValues = coalesce(
        col("attrs")("label").getField("values"),
        array().cast("array<string>"))
      SearchIndex.recreateView(
        vertices.withColumn("label",
          concat_ws(" ", concat_ws(" ", col("term")), concat_ws(" ", labelValues))),
        Seq("collection", "key"),
        Map("label" -> (c => SearchIndex.edgeNgramTokens(c))), t)
    }
    OntologyLoad(vertices, edges, census, quarantined)
  }

  /**
   * Results-graph build — ResultsGraphBuilder.java's main flow: writer
   * tuples → vertex/edge tables (A1 first-wins vertices, A2 first-label
   * edges, F8 collection whitelist) → persisted graph, then the
   * production path-query catalog runs against it
   * (PhenotypeGraphBuilder.java:48-223).
   *
   * @param tuples   (s, p, o, lit, ord) rows from any tuple writer
   * @param hopPrefix when set, `GraphStore.writeHopTables` writes the
   *                 `<prefix>_by_src`/`_by_dst` tables (`hopBuckets`
   *                 buckets); no program code reads them
   * @param queries  catalog instantiations to materialize (defaults to
   *                 the phenotype subgraph over the full production set)
   * @return (vertices, edges, subgraphVertices, subgraphEdges)
   */
  def buildResultsGraph(tuples: DataFrame,
                        whitelist: Option[Seq[String]] = None,
                        storePath: Option[String] = None,
                        hopPrefix: Option[String] = None,
                        hopBuckets: Int = 64,
                        queries: Seq[QueryCatalog.PathQuery] = QueryCatalog.production)
  : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.operators.GraphBuilder
    val vertices = GraphBuilder.vertices(tuples, whitelist)
    val edges = GraphBuilder.edges(tuples)
    storePath.foreach { p =>
      GraphStore.writeVertices(vertices, s"$p/vertices")
      GraphStore.writeEdges(edges, s"$p/edges")
    }
    hopPrefix.foreach(GraphStore.writeHopTables(edges, hopBuckets, _))
    // only queries whose every hop collection exists can yield paths —
    // the reference runs all 24 and lets empty ones return nothing;
    // pre-filtering skips the no-op joins without changing the result
    val present = vertices.select("collection").distinct()
      .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSet
    val runnable = queries.filter(q =>
      (q.anchor +: q.hops).forall(present.contains))
    val (sv, se) =
      if (runnable.isEmpty) (vertices.limit(0).select("collection", "key"),
        edges.limit(0))
      else QueryCatalog.phenotypeSubgraph(vertices, edges, runnable)
    (vertices, edges, sv, se)
  }

  /** What a curation run produced: the cleaned, split-labeled corpus and
    * the per-stage survivor census (the numbers a pipeline owner reads
    * first). The census is LAZY — its six count actions (including a
    * full input-table scan) run only when `census` is first read, so
    * corpus-only consumers don't pay for it. `stages` exposes each
    * intermediate stage's MATERIALIZED (checkpointed) output keyed
    * `quality`/`exact`/`neardup`/`decontam`, so per-stage consumers
    * (attribution gates, stage audits) read the blocks the pipeline
    * already produced instead of re-running the stage prefix. */
  final class Curation(val corpus: DataFrame,
                       censusThunk: () => DataFrame,
                       val stages: Map[String, DataFrame] = Map.empty) {
    lazy val census: DataFrame = censusThunk()
  }

  /**
   * The full training-data curation flow, chaining the individually
   * gated operators in their canonical order:
   *
   *  1. quality gate — drop documents under `minTokens` whitespace tokens;
   *  2. exact dedup — one survivor (min id) per md5(text) content key
   *     (32-char keys shuffle instead of full text; md5 keeps the stage
   *     reproducible in any engine);
   *  3. near-dup collapse — n-gram Jaccard pairs → connected components
   *     → one survivor (min id) per cluster;
   *  4. benchmark decontamination — drop survivors sharing any word
   *     `benchN`-gram with the eval set;
   *  5. deterministic split labeling (md5-nibble train/val/test).
   *
   * Each stage is localCheckpointed so the census actions scan
   * materialized blocks instead of recomputing prefix chains; a
   * production run at corpus scale would write each stage to storage
   * instead (the checkpoint is the single-job analogue).
   *
   * The census has one row per stage — ordinal-prefixed stage names and
   * surviving row counts, plus the final per-split sizes.
   */
  /** Curation stage 1 — quality gate: drop documents under `minTokens`
    * whitespace tokens. Narrow filter, pushes to the scan. */
  def qualityStage(docs: DataFrame, textCol: String = "text",
                   minTokens: Int = 20): DataFrame =
    docs.filter(graft.operators.TextAnalysis.tokenCount(col(textCol)) >= minTokens)

  /** Curation stage 2 — exact dedup: one survivor (min id) per md5(text)
    * content key. The 32-char keys shuffle instead of full text; md5
    * keeps the stage reproducible in any engine. */
  def exactStage(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val survivors = docs.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol)).select(idCol)
    docs.join(survivors, Seq(idCol), "left_semi")
  }

  /** Curation stage 3 — near-dup collapse: n-gram Jaccard pairs →
    * connected components → one survivor (min id) per cluster. Document
    * bodies never join; the anti-join moves only loser ids.
    *
    * `hotBucketThreshold` is the viral-shingle salting lever
    * (see [[graft.operators.Dedup.ngramJaccardPairs]]); pass
    * [[graft.operators.Scale.recommendedThreshold]] of a shingle skew
    * report to pick it from the data. */
  def nearDupStage(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", jaccardN: Int = 3,
                   minJaccard: Double = 0.1,
                   hotBucketThreshold: Long = 0L,
                   hotSalts: Int = 16): DataFrame = {
    import graft.operators.Dedup
    val pairs = Dedup.ngramJaccardPairs(docs, idCol, textCol, jaccardN,
      minJaccard, hotBucketThreshold, hotSalts)
    collapseByComponents(docs, pairs, idCol)
  }

  private def collapseByComponents(docs: DataFrame, pairs: DataFrame,
                                   idCol: String): DataFrame = {
    val losers = graft.operators.Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Curation stage 4.5 — text hygiene on the SURVIVING corpus (after
    * dedup/decontamination, where it's cheapest and can no longer
    * perturb the content keys those stages hash): optional PII scrub
    * ([[graft.operators.TextAnalysis.redact]] — the single-expression
    * face; density-count policy filtering is a pre-pipeline concern,
    * see `Corpus.redactPii`) and optional duplicate-span masking
    * ([[graft.operators.Corpus.maskDuplicateSpans]], rejoined by id so
    * every non-text column passes through). Row-preserving: hygiene
    * rewrites text, it never drops documents. Note the masking stage
    * rejoins the surviving LOWERCASE-ALNUM tokens — with it enabled the
    * corpus leaves in normalized token form (redaction runs first, on
    * the raw punctuation its regexes need; placeholders like <EMAIL>
    * then normalize to their token). */
  def hygieneStage(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", redactPii: Boolean = false,
                   maskSpanN: Option[Int] = None,
                   maskMinCount: Int = 2): DataFrame = {
    val r =
      if (redactPii)
        docs.withColumn(textCol,
          graft.operators.TextAnalysis.redact(col(textCol)))
      else docs
    maskSpanN match {
      case Some(n) =>
        // r feeds BOTH join sides (the masker and the column carry-over):
        // materialize it once so an expensive upstream lineage isn't
        // evaluated twice when the caller hands in an uncheckpointed frame
        val rc = r.localCheckpoint(true)
        val masked = graft.operators.Corpus
          .maskDuplicateSpans(rc, idCol, textCol, n, maskMinCount)
          .select(col(idCol), col(textCol))
        rc.drop(textCol).join(masked, Seq(idCol))
      case None => r
    }
  }

  /** Curation stage 5 — deterministic split labeling (md5-nibble
    * train/val/test; stage 4 is [[graft.operators.Corpus.decontaminate]]
    * unchanged). */
  def splitStage(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("split",
      graft.operators.Scale.deterministicSplit(col(textCol)))

  def curateCorpus(docs: DataFrame, benchmark: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   minTokens: Int = 20, jaccardN: Int = 3,
                   minJaccard: Double = 0.1, benchN: Int = 5,
                   autoSkewSalting: Boolean = false,
                   hotSalts: Int = 16,
                   redactPii: Boolean = false,
                   maskSpanN: Option[Int] = None): Curation = {
    import graft.operators.{Corpus, Dedup, Exec, Scale}
    val spark = docs.sparkSession
    import spark.implicits._

    val q = qualityStage(docs, textCol, minTokens).localCheckpoint(true)
    val d1 = exactStage(q, idCol, textCol).localCheckpoint(true)
    // skew policy: diagnose the near-dup join key (the shingle) and let
    // the report pick the salting threshold — salted on skewed corpora,
    // plain on uniform ones, result-identical either way (PipelinesSpec).
    // The census and the pair join share ONE materialized shingle
    // explosion: diagnosing skew must not cost a second corpus pass.
    val d2 = if (autoSkewSalting) {
      val sh = Dedup.shingleRows(d1, idCol, textCol, jaccardN)
        .select(col(idCol).as("id"), col("shingle"))
      // withPersisted already checkpoints the stage result eagerly
      Exec.withPersisted(sh) {
        val threshold = Scale.recommendedThreshold(
          Scale.skewReport(sh, "shingle"))
        collapseByComponents(d1,
          Dedup.ngramJaccardPairsFromShingles(sh, minJaccard, threshold,
            hotSalts), idCol)
      }
    } else nearDupStage(d1, idCol, textCol, jaccardN, minJaccard,
      0L, hotSalts).localCheckpoint(true)
    val d3 = Corpus.decontaminate(d2, benchmark, idCol, textCol, benchN)
      .localCheckpoint(true)
    val hygiene =
      if (!redactPii && maskSpanN.isEmpty) d3
      else hygieneStage(d3, idCol, textCol, redactPii, maskSpanN)
        .localCheckpoint(true)
    val labeled = splitStage(hygiene, textCol).localCheckpoint(true)

    new Curation(labeled, stages = Map(
      "quality" -> q, "exact" -> d1, "neardup" -> d2, "decontam" -> d3,
      "hygiene" -> hygiene),
      censusThunk = () => {
      val stageCounts = Seq(
        "0_input" -> docs.count(),
        "1_quality" -> q.count(),
        "2_exact" -> d1.count(),
        "3_neardup" -> d2.count(),
        "4_decontam" -> d3.count())
      val splitCounts = labeled.groupBy("split").count()
        .as[(String, Long)].collect().toSeq
        .map { case (s, n) => s"5_split_$s" -> n }
      (stageCounts ++ splitCounts).toDF("stage", "n")
    })
  }
}
