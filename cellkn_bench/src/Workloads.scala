package cellknbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Corpus, Dedup, Dereify, GraphBuilder, OntologyGraph, PathQueries, SearchIndex}
import graft.plans.{Pipelines, QueryCatalog}
import graft.sources.{GraphStore, OwlSource}
import graft.writers.{AnnotationWriter, AuthorToClWriter, ExternalApiWriter, NSForestWriter, SchemaWriter}

/** One timed latency of an op class. */
final case class Sample(cls: String, ms: Double)

/**
 * A workload: set-up (repeatable into fresh paths), and ops that each
 * check their own outputs. An op that throws or fails a check counts as
 * failed; its latency is not sampled.
 */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val dir: String,
                        val seed: Long) {
  /** Op classes reported as main_p50_ms and aux_p50_ms. */
  def mainCls: String
  def auxCls: String
  /** Ops per warm-up round. */
  def warmRound: Int
  /** Set-ups per run; the median is reported. */
  def setupReps: Int
  /** Enough samples for the reported medians, in the workload's mix. */
  def enough(n: String => Int): Boolean
  /** Set up into fresh paths; returns the set-up time in ms, checks excluded. */
  def setup(rep: Int): Double
  /** Run op `i`; returns its samples. Checks call [[check]]. */
  protected def op(i: Int): Seq[Sample]
  /** Op `j` of a warm-up round; every round runs the same ops. */
  protected def warmOp(j: Int): Seq[Sample] = op(j)
  /** Traced runs only: run each replayed entry point's public call too,
    * for [[Tracer.driftFailures]]. */
  protected def driftCheck(): Unit = ()
  /** Workload-specific diagnostic percentiles, named as in the notes. */
  def diag(s: Seq[Sample], elapsedS: Double, ops: Int): Seq[(String, Double)]

  var attempted = 0L
  var failed = 0L
  /** Named set-up phase times for the diagnostic line. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Warm-up rounds: at least `minWarmRounds`, at most `maxWarmRounds`. */
  def minWarmRounds: Int = 2
  def maxWarmRounds: Int = 3
  private var opFailed = false

  protected def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      opFailed = true
      System.err.println(s"CHECK FAILED [$what]: $detail")
    }

  /** Set-up `rep` as one checked op; its time in ms (NaN when it failed). */
  def runSetup(rep: Int): Double =
    checked(s"setup $rep")(tr.span("setup")(setup(rep))).getOrElse(Double.NaN)

  /** Run op `i` under a top-level span; release what it created. */
  def runOp(i: Int, warm: Boolean): Seq[Sample] = {
    val label = if (warm) "warmup" else "op"
    releasing(checked(s"$label $i")(tr.span(label)(if (warm) warmOp(i) else op(i))))
      .getOrElse(Nil)
  }

  /** The drift check as one checked op. */
  def runDriftCheck(): Unit = releasing(checked("drift check")(driftCheck()))

  /** Run `body`, then unpersist only the RDDs it created. */
  private def releasing[T](body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Count `body` as one attempted op; None when it throws or a check fails. */
  private def checked[T](label: String)(body: => T): Option[T] = {
    attempted += 1
    opFailed = false
    val out = try Some(body) catch {
      case e: Throwable =>
        opFailed = true
        System.err.println(s"OP FAILED [$label]: $e")
        e.printStackTrace()
        None
    }
    if (opFailed) { failed += 1; None } else out
  }

  protected def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  protected def rm(path: String): Unit = {
    def del(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(path))
  }
}

/** Reading the generated inputs and running the five writer families. */
object KnInputs {
  private def str(names: String*) = names.map(StructField(_, StringType))
  private def lng(names: String*) = names.map(StructField(_, LongType))

  val nsSchema = StructType(str("clusterName") ++ lng("clusterSize") ++
    Seq(StructField("f_score", DoubleType), StructField("precision", DoubleType)) ++
    lng("TN", "FP", "FN", "TP", "marker_count") ++
    str("NSForest_markers", "binary_genes", "uuid") ++
    Seq(StructField("median_silhouette", DoubleType)))
  val a2cSchema = StructType(str("dataset_version_id", "PMID", "PMCID", "DOI",
    "author_category", "author_cell_set", "uuid", "author_cell_term",
    "cell_ontology_id", "uberon_entity_id", "match", "mapping_method",
    "NSForest_markers", "binary_genes") ++ lng("clusterSize"))
  val annSchema = StructType(str("subject_type", "subject_name",
    "subject_identifier", "relation", "object_type", "object_name",
    "object_identifier"))
  val meshSchema = StructType(str("mesh", "mondo"))
  val geneSchema = StructType(lng("gene_entrez_id") ++ str("gene_name",
    "Gene_ID", "Official_symbol", "Official_full_name", "Gene_type",
    "Link_to_UniProt_ID", "Organism", "RefSeq_gene_ID", "Also_known_as",
    "Summary", "UniProt_name", "mRNA_(NM)_and_protein_(NP)_sequences"))
  val schemaSchema = StructType(str("subject_curie", "predicate_curie", "object_curie"))

  val cellxgene: Map[String, Map[String, String]] = Map(
    "dva2" -> Map("Link_to_publication" -> "https://doi.org/10.1/kn",
      "Link_to_CELLxGENE_collection" -> "https://cellxgene.example.org/c/kn",
      "Link_to_CELLxGENE_dataset" -> "https://cellxgene.example.org/d/kn",
      "Dataset_name" -> "Cell KN atlas"))

  private def json(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** (s, p, o, lit, ord) tuples of all five writers over `in`. */
  def tuples(spark: SparkSession, in: String, gen: KnGen, tr: Tracer): DataFrame = {
    def writer(name: String)(body: => DataFrame): DataFrame = tr.span(s"writers.$name") {
      val t = body.select(col("s"), col("p"), col("o"), col("lit"), col("ord").cast("long"))
      tr.force(t)
      t
    }
    val ns = writer("nsforest")(NSForestWriter.tuples(
      json(spark, nsSchema, s"$in/nsforest.jsonl"), gen.nsDvs))
    val a2c = writer("author_to_cl")(AuthorToClWriter.tuples(
      json(spark, a2cSchema, s"$in/author_to_cl.jsonl"), cellxgene,
      AuthorToClWriter.pmidMetadata("Doe", 3, "Cell Atlas Journal", "A cell atlas", "2024")))
    val ann = writer("annotation")(AnnotationWriter.tuples(
      json(spark, annSchema, s"$in/annotation.jsonl"),
      json(spark, meshSchema, s"$in/mesh2mondo.jsonl")))
    val genes = writer("external_api")(ExternalApiWriter.gene(
      json(spark, geneSchema, s"$in/genes.jsonl")))
    val schema = writer("schema")(SchemaWriter.tuples(
      json(spark, schemaSchema, s"$in/schema.jsonl")))
    Seq(ns, a2c, ann, genes, schema).reduce(_.unionByName(_))
  }

  /** The search-view source: vertex term plus its display texts. */
  def viewSource(vertices: DataFrame): DataFrame = {
    val none = array().cast("array<string>")
    def attr(k: String) = concat_ws(" ", coalesce(col("attrs")(k), none))
    vertices.select(col("collection"), col("key"),
      concat_ws(" ", col("term"), attr("Author_cell_term"), attr("Official_full_name"))
        .as("label"))
  }

  def createView(spark: SparkSession, vertices: DataFrame, table: String, tr: Tracer): Unit =
    tr.span("searchindex.view") {
      SearchIndex.recreateView(viewSource(vertices), Seq("collection", "key"),
        Map("label" -> (c => SearchIndex.edgeNgramTokens(c))), table)
    }

  /** `Pipelines.buildResultsGraph` with a store (and hop tables when a
    * prefix is given). Traced, the same composition is replayed from the
    * layer calls so each layer gets its own span. */
  def buildResults(spark: SparkSession, tuples: DataFrame, store: String,
                   hopPrefix: Option[String], buckets: Int, tr: Tracer): Unit =
    if (!tr.enabled)
      Pipelines.buildResultsGraph(tuples, storePath = Some(store),
        hopPrefix = hopPrefix, hopBuckets = buckets, queries = Nil)
    else {
      val v = tr.span("graphbuilder.vertices") {
        val v = GraphBuilder.vertices(tuples); tr.force(v); v }
      val e = tr.span("graphbuilder.edges") {
        val e = GraphBuilder.edges(tuples); tr.force(e); e }
      tr.span("graphstore.write") {
        GraphStore.writeVertices(v, s"$store/vertices")
        GraphStore.writeEdges(e, s"$store/edges")
        tr.count("files", parquetFiles(store))
      }
      hopPrefix.foreach { p =>
        tr.span("graphstore.hop_tables")(GraphStore.writeHopTables(e, buckets, p)) }
      tr.span("pipelines.collections") {
        v.select("collection").distinct().collect() }
    }

  def parquetFiles(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(path))
  }

  /** Anchored path request: the production query from one cell set. */
  def pathRequest(q: QueryCatalog.PathQuery, anchor: DataFrame, edges: DataFrame,
                  tr: Tracer): Array[Row] =
    if (!tr.enabled) q.run(anchor, edges).collect()
    else {
      val base = tr.span("pathqueries.khop") {
        val b = PathQueries.kHop(anchor, edges, q.anchor, q.hops); tr.force(b); b }
      val full = q.hierarchy match {
        case Some((_, label)) => tr.span("pathqueries.hierarchy") {
          val h = PathQueries.withHierarchy(base, edges, label); tr.force(h); h }
        case None => base
      }
      tr.span("serve.collect")(full.collect())
    }

  def shape(q: QueryCatalog.PathQuery): Shape = Shape(q.hops, q.hierarchy.map(_._2))
}

/**
 * kn_serve: the Cell KN stood up from raw inputs during set-up, then one
 * client in a closed loop against it.
 *
 * Set-up is the store build a deployment runs before serving: the five
 * writer families, the results graph with its store, and the token search
 * view. Traced runs add the other build layers: hop tables, ontology load
 * and phenotype subgraph.
 *
 * Even ops are path requests, round-robin over the 25 production shapes,
 * each anchored at one seeded cell set; odd ops are token searches on the
 * view.
 */
final class ServeWorkload(spark: SparkSession, tr: Tracer, dir: String, seed: Long,
                          cores: Int) extends Workload(spark, tr, dir, seed) {
  val mainCls = "khop"
  val auxCls = "hier"
  val queries = QueryCatalog.production
  def setupReps: Int = 1

  /** Production shape the set-up materializes the subgraph for: one with
    * a hierarchy tail, so the bulk walk is covered. */
  val SubgraphShapes = Seq(12)

  private var gen: KnGen = _
  private var setupDir = ""
  private var tuples: DataFrame = _
  /** The traced replays' root spans, for the drift check. */
  private var ontologyReplay: Span = _
  private var resultsReplay: Span = _
  private var vertices: DataFrame = _
  private var edges: DataFrame = _
  private var view: DataFrame = _
  /** Anchor `k` of shape `qi`: a seeded draw among the cell sets with
    * at least one path for the shape (any cell set when none of 200
    * draws has one). Drawn on first use, so only requested anchors pay
    * the path oracle. */
  private val anchorMemo = scala.collection.mutable.Map.empty[(Int, Int), V]
  private def anchor(qi: Int, k: Int): V = anchorMemo.getOrElseUpdate((qi, k), {
    val rnd = new scala.util.Random(seed * 1000003L + qi * 7919L + k)
    val cs = gen.cellSets
    val draws = Iterator.continually(cs(rnd.nextInt(cs.size))).take(200).toSeq
    draws.find(a => gen.pathOracle(a, qi, KnInputs.shape(queries(qi)))._1 > 0)
      .getOrElse(draws.head)
  })

  private def loadOntology(in: String, store: String): (Long, Array[Row]) =
    if (!tr.enabled) {
      val l = Pipelines.loadOntology(spark, Seq(s"$in/kn.owl"), s"$in/ro.owl",
        storePath = Some(store))
      (l.quarantined, l.tripleCensus.collect())
    } else {
      val raw = tr.span("sources.owl.read") {
        val r = OwlSource.readOwl(spark, s"$in/kn.owl"); tr.force(r); r }
      val ro = tr.span("sources.owl.read_ro") {
        Dereify.labels(OwlSource.readOwl(spark, s"$in/ro.owl")).collect()
          .map(r => (r.getString(0), r.getString(1))).toMap }
      val census = tr.span("ontology.census") {
        raw.groupBy(col("sKind").as("s_kind"), col("oKind").as("o_kind"))
          .agg(count(lit(1)).as("n")).collect() }
      val (recon, quarantined) = tr.span("dereify") {
        val (recon, ignored) = Dereify.dereify(raw)
        (recon, ignored.count())
      }
      val (v, e) = tr.span("ontologygraph.build") {
        val (v, e) = OntologyGraph.build(
          Dereify.fnodeTriples(raw).unionByName(recon.toDF()), ro)
        tr.force(v); tr.force(e); (v, e)
      }
      tr.span("graphstore.write") {
        GraphStore.writeVertices(v, s"$store/vertices")
        GraphStore.writeEdges(e, s"$store/edges")
        tr.count("files", KnInputs.parquetFiles(store))
      }
      (quarantined, census)
    }

  def setup(rep: Int): Double = {
    val t0 = System.nanoTime()
    def phase[T](name: String)(body: => T): T = {
      val t = System.nanoTime(); val r = body; phases += s"setup.$name" -> ms(t); r }
    val d = s"$dir/setup$rep"
    setupDir = d
    gen = new KnGen(seed)
    gen.writeInputs(s"$d/in")
    val store = s"$d/store"
    phase("results_graph_ms") {
      tuples = KnInputs.tuples(spark, s"$d/in", gen, tr)
      tr.span("pipelines.results_graph")(
        KnInputs.buildResults(spark, tuples, store, hopPrefix, 2 * cores, tr))
      resultsReplay = tr.closed
    }
    vertices = GraphStore.readVertices(spark, s"$store/vertices")
    edges = GraphStore.readEdges(spark, s"$store/edges")
    phase("view_ms")(KnInputs.createView(spark, vertices, "kn_view", tr))
    view = spark.table("kn_view")
    val setupMs = ms(t0)

    val (nv, ne) = (vertices.count(), edges.count())
    check("results graph", nv == gen.expectedVertices.size && ne == gen.expectedEdges.size,
      s"$nv/$ne, expected ${gen.expectedVertices.size}/${gen.expectedEdges.size}")
    hopPrefix.foreach(p =>
      check("hop tables", spark.table(s"${p}_by_src").count() == 2L * ne, "by_src rows"))
    if (tr.enabled) phase("build_layers_ms")(buildLayers(d))
    setupMs
  }

  /** Prefix of the bucketed hop tables, which `PathQuery.run` does not
    * read: built in traced runs only, like [[buildLayers]]. */
  private def hopPrefix: Option[String] = if (tr.enabled) Some("kn_hop") else None

  /**
   * The build layers serving does not need: the ontology load and the
   * phenotype subgraph over every cell set for [[SubgraphShapes]].
   * Traced runs only, so their layers are measured without their cost
   * landing in every run's set-up (see the notes' "Run time").
   */
  private def buildLayers(d: String): Unit = {
    val (quarantined, census) = tr.span("pipelines.load_ontology")(
      loadOntology(s"$d/in", s"$d/ont"))
    ontologyReplay = tr.closed
    val (ov, oe, oq, oc) = gen.ontologyExpect
    val gotCensus = census.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    check("ontology census", gotCensus == oc, s"$gotCensus, expected $oc")
    check("ontology quarantined", quarantined == oq, s"$quarantined, expected $oq")
    val (nov, noe) = (GraphStore.readVertices(spark, s"$d/ont/vertices").count(),
      GraphStore.readEdges(spark, s"$d/ont/edges").count())
    check("ontology graph", nov == ov && noe == oe, s"$nov/$noe, expected $ov/$oe")

    val shapes = SubgraphShapes.map(queries)
    val (nsv, nse) = tr.span("querycatalog.subgraph") {
      val (sv, se) = QueryCatalog.phenotypeSubgraph(vertices, edges, shapes)
      (sv.count(), se.count())
    }
    val sub = gen.subgraphOracle(shapes.map(KnInputs.shape))
    check("subgraph", (nsv, nse) == sub, s"$nsv/$nse, expected $sub")
  }

  /** Shapes whose public `PathQuery.run` the drift check executes: a
    * plain two-hop shape and one with a hierarchy tail. */
  private val DriftShapes = Seq(3, 15)

  private def anchorRows(a: V): DataFrame =
    vertices.filter(col("collection") === "CS" && col("key") === a.key)

  override protected def driftCheck(): Unit = {
    val d = setupDir
    tr.drift("load_ontology", "graft.plans.Pipelines.loadOntology", ontologyReplay) {
      val l = Pipelines.loadOntology(spark, Seq(s"$d/in/kn.owl"), s"$d/in/ro.owl",
        storePath = Some(s"$d/ont_public"))
      (l.quarantined, l.tripleCensus.collect())
    }
    tr.drift("results_graph", "graft.plans.Pipelines.buildResultsGraph", resultsReplay)(
      Pipelines.buildResultsGraph(tuples, storePath = Some(s"$d/store_public"),
        hopPrefix = hopPrefix.map(_ + "_public"), hopBuckets = 2 * cores, queries = Nil))
    DriftShapes.foreach { qi =>
      val q = queries(qi)
      val a = anchorRows(anchor(qi, -1))
      tr.span("drift.replay")(KnInputs.pathRequest(q, a, edges, tr))
      tr.drift("path", "graft.plans.QueryCatalog.PathQuery.run", tr.closed)(
        q.run(a, edges).collect())
    }
    // without a tail, PathQuery.run must plan exactly as the replay's kHop
    queries.filter(_.hierarchy.isEmpty).foreach { q =>
      val a = anchorRows(gen.cellSets.head)
      val same = q.run(a, edges).queryExecution.optimizedPlan
        .sameResult(PathQueries.kHop(a, edges, q.anchor, q.hops).queryExecution.optimizedPlan)
      if (!same) tr.planDrift += s"path ${q.hops.mkString("-")}: PathQuery.run no longer " +
        "plans as PathQueries.kHop"
    }
  }

  protected def op(i: Int): Seq[Sample] = {
    val k = i / 2
    if (i % 2 == 0) {
      val qi = k % queries.size
      pathOp(qi, anchor(qi, k / queries.size))
    }
    else searchOp(gen.searchTokens(k % gen.searchTokens.size))
  }

  /** A warm-up round: a two-hop and a four-hop plain shape and one with a
    * hierarchy tail, from fixed anchors, then two searches — the same
    * requests every round, so rounds compare. */
  private val WarmShapes = Seq(3, 20, 15)
  def warmRound: Int = WarmShapes.size + 2
  override protected def warmOp(j: Int): Seq[Sample] =
    if (j < WarmShapes.size) pathOp(WarmShapes(j), anchor(WarmShapes(j), -1))
    else searchOp(gen.searchTokens(j))

  private def pathOp(qi: Int, a: V): Seq[Sample] = {
    val q = queries(qi)
    val t0 = System.nanoTime()
    val rows = KnInputs.pathRequest(q, anchorRows(a), edges, tr)
    val lat = ms(t0)
    val (n, nEdges) = gen.pathOracle(a, qi, KnInputs.shape(q))
    val gotEdges = rows.map(_.getSeq[Row](1).size.toLong).sum
    check("paths", rows.length == n && gotEdges == nEdges,
      s"${a.term} ${q.hops.mkString(",")}: ${rows.length} paths/$gotEdges edges, expected $n/$nEdges")
    tr.count("paths", rows.length)
    Seq(Sample(if (q.hierarchy.isDefined) "hier" else "khop", lat))
  }

  private def searchOp(token: String): Seq[Sample] = {
    val t0 = System.nanoTime()
    val hits = tr.span("searchindex.search")(SearchIndex.search(view, Seq(token)).collect())
    val lat = ms(t0)
    check("search", hits.length == gen.searchHits(token),
      s"'$token': ${hits.length} hits, expected ${gen.searchHits(token)}")
    Seq(Sample("search", lat))
  }

  /** Whole cycles only: every shape and as many searches, equally often. */
  def enough(n: String => Int): Boolean = {
    val paths = n("khop") + n("hier")
    paths > 0 && paths % queries.size == 0 && n("search") == paths
  }

  def diag(s: Seq[Sample], elapsedS: Double, ops: Int): Seq[(String, Double)] = {
    def of(c: String*) = s.filter(x => c.contains(x.cls)).map(_.ms)
    // a tail percentile is reported only with ten samples beyond it
    def p(xs: Seq[Double], q: Double) =
      if (q == 50 || xs.size * (100 - q) / 100 >= 10) Stats.pct(xs, q) else Double.NaN
    Seq("qps" -> ops / elapsedS,
      "khop_p50_ms" -> p(of("khop"), 50), "hier_p50_ms" -> p(of("hier"), 50),
      "path_p90_ms" -> p(of("khop", "hier"), 90),
      "search_p50_ms" -> p(of("search"), 50), "search_p90_ms" -> p(of("search"), 90))
  }
}

/**
 * corpus_curate: warm `Pipelines.curateCorpus` iterations over a seeded
 * corpus, writing the curated corpus to a fresh path and reading the
 * census. No graph layer is involved. `stages` times the
 * `curateCorpus` call alone (its stages materialize eagerly); `curate`
 * the whole iteration.
 */
final class CurateWorkload(spark: SparkSession, tr: Tracer, dir: String, seed: Long)
  extends Workload(spark, tr, dir, seed) {
  val mainCls = "curate"
  val auxCls = "stages"
  def warmRound: Int = 1
  def setupReps: Int = 3
  private var gen: CorpusGen = _
  private var in = ""
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  def setup(rep: Int): Double = {
    val t0 = System.nanoTime()
    if (in.nonEmpty) rm(in)
    in = s"$dir/setup$rep/in"
    gen = new CorpusGen(seed)
    gen.writeInputs(in)
    gen.census
    ms(t0)
  }

  /** `Pipelines.curateCorpus`; traced, its stage composition replayed
    * from the public stage calls so each stage gets a span. */
  private def curate(docs: DataFrame, bench: DataFrame): (DataFrame, () => Array[Row]) =
    if (!tr.enabled) {
      val c = Pipelines.curateCorpus(docs, bench, minTokens = 20, jaccardN = 3,
        minJaccard = 0.1, benchN = 5)
      (c.corpus, () => c.census.collect())
    } else {
      import spark.implicits._
      val (q, d1, d2, d3, labeled) = tr.span("pipelines.curate") {
        val q = tr.span("pipelines.quality")(
          Pipelines.qualityStage(docs, "text", 20).localCheckpoint(true))
        val d1 = tr.span("pipelines.exact")(
          Pipelines.exactStage(q, "doc_id", "text").localCheckpoint(true))
        val d2 = tr.span("dedup.neardup")(
          Pipelines.nearDupStage(d1, "doc_id", "text", 3, 0.1, 0L, 16).localCheckpoint(true))
        val d3 = tr.span("corpus.decontam")(
          Corpus.decontaminate(d2, bench, "doc_id", "text", 5).localCheckpoint(true))
        val labeled = tr.span("pipelines.split")(
          Pipelines.splitStage(d3, "text").localCheckpoint(true))
        (q, d1, d2, d3, labeled)
      }
      val census = () => tr.span("pipelines.census") {
        val stages = Seq("0_input" -> docs, "1_quality" -> q, "2_exact" -> d1,
          "3_neardup" -> d2, "4_decontam" -> d3).map { case (k, df) =>
          val n = df.count(); tr.count(s"survivors.$k", n.toDouble); (k, n) }
        val splits = labeled.groupBy("split").count().as[(String, Long)].collect()
          .map { case (s, n) => s"5_split_$s" -> n }
        (stages ++ splits).map { case (k, n) => Row(k, n) }.toArray
      }
      (labeled, census)
    }

  private def inputs: (DataFrame, DataFrame) =
    (spark.read.schema(docSchema).json(s"$in/docs.jsonl"),
      spark.read.schema(docSchema).json(s"$in/eval.jsonl"))

  override protected def driftCheck(): Unit = {
    val (docs, bench) = inputs
    curate(docs, bench)
    val c = tr.drift("curate", "graft.plans.Pipelines.curateCorpus", tr.closed)(
      Pipelines.curateCorpus(docs, bench, minTokens = 20, jaccardN = 3,
        minJaccard = 0.1, benchN = 5))
    tr.span("dedup.pairs")(tr.count("pairs", Dedup.ngramJaccardPairs(
      c.stages("exact"), "doc_id", "text", 3, 0.1, 0L, 16).count().toDouble))
  }

  protected def op(i: Int): Seq[Sample] = {
    val it = s"$dir/iter$i"
    try {
      val t0 = System.nanoTime()
      val (docs, bench) = inputs
      val (corpus, census) = curate(docs, bench)
      val stagesMs = ms(t0)
      tr.span("pipelines.write")(corpus.write.parquet(s"$it/corpus"))
      val got = census().map(r => r.getString(0) -> r.getLong(1)).toMap
      val curateMs = ms(t0)
      check("census", got == gen.census, s"$got, expected ${gen.census}")
      Seq(Sample("curate", curateMs), Sample("stages", stagesMs))
    } finally rm(it)
  }

  def enough(n: String => Int): Boolean = n("curate") >= 10
  override def minWarmRounds: Int = 3
  override def maxWarmRounds: Int = 4

  def diag(s: Seq[Sample], elapsedS: Double, ops: Int): Seq[(String, Double)] = Seq(
    "curate_s" -> Stats.pct(s.filter(_.cls == "curate").map(_.ms), 50) / 1e3)
}
