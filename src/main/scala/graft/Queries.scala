package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.functions.Terms
import graft.operators.{Assoc, Corpus, Dedup, GraphAlgos, GraphBuilder, PathQueries, SearchIndex, Similarity, TextAnalysis}
import graft.plans.QueryCatalog

/**
 * The query catalog: one entry per implemented operator family from
 * SURVEY.md §2, instantiated against the driver's synthetic tables
 * (TESTDATA.md). Each query has a matching DuckDB oracle in
 * [[Queries.oracles]] — identical column names, deterministic ORDER BY,
 * and numerics computed so both engines produce bit-identical values
 * (decimal-exact sums cast to double; integer divisions done once in
 * double at the end).
 *
 * Scale notes are per-query in the Scaladoc; the common rules:
 *  - aggregations are partial-agg friendly (sum/count/min/max over keys);
 *  - the only broadcast candidates are genuinely small dims (part, nation,
 *    region, the query-vector set) and are broadcast explicitly;
 *  - no collect(), no driver-side loops; everything is one declarative plan
 *    except the bounded hierarchy BFS (PathQueries).
 */
object Queries {

  /** Session-scoped catalog of the driver's IMMUTABLE input tables: the
    * resolved relation (file listing + footer schema inference + analysis)
    * is built once per (session, dir, table) and reused — measured 85 ms
    * per repeated `spark.read.parquet` call at sf0.1,
    * paid 2–5× per gate per bench run before this memo. This caches the
    * PLAN only, never data or results: every action still scans the
    * parquet files (releaseAll()'s clearCache/unpersist leave resolved
    * plans untouched, exactly like metastore catalog entries). Keyed by
    * session so Verify/Bench/test sessions never share conf-dependent
    * resolution; the input files never change within a run, which is the
    * same immutability contract a metastore table carries. */
  private val tCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    pqImmutable(s, s"$dir/$name.parquet")

  /** The memo behind [[t]], shared by the per-JVM parquet FIXTURES
    * (catalogGraph, curationStage): their directories are written exactly
    * once under a computeIfAbsent and never mutated after, so the
    * resolved relation is as reusable as an input table's. NEVER use for
    * a path a gate rewrites (index roots, ingest dirs). */
  private def pqImmutable(s: SparkSession, path: String): DataFrame = {
    // lazily drop entries of stopped sessions (test suites churn sessions)
    if (!tCache.isEmpty) tCache.keySet.removeIf(_._1.sparkContext.isStopped)
    tCache.computeIfAbsent((s, path), key => key._1.read.parquet(key._2))
  }

  /** Normalize events.parquet's `ts` to a plain microsecond TIMESTAMP
    * regardless of how the file encodes it. Historically the driver wrote
    * TIMESTAMP(NANOS), which Spark only reads as long
    * (spark.sql.legacy.parquet.nanosAsLong=true, set in Verify/Bench);
    * newer testdata writes timestamp[us] with no UTC flag, which Spark
    * reads as TIMESTAMP_NTZ. The session timezone is UTC, so the
    * NTZ→TIMESTAMP cast is exact. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Decimal-exact sum of a double column, returned as double.
    * Sum order of doubles is nondeterministic under parallel aggregation;
    * decimal is associative, so any plan produces the same value. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  // ---------------------------------------------------------------------
  // Relational core (SURVEY §2.2 filters, §2.3 joins, §2.4 aggs, §2.5
  // windows, §2.6 set ops) on the TPC-H-ish tables
  // ---------------------------------------------------------------------

  /** A1-style grouped aggregation with a pushed-down filter (TPC-H Q1
    * shape). Filter reaches the parquet scan; partial aggregation
    * map-side; one shuffle on the 2-column group key. */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("count_order"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("sum_disc_price"))
      .orderBy("l_returnflag", "l_linestatus")

  /** F3-style compound range predicates + single-row global agg (Q6
    * shape). Entirely map-side until the final 1-row reduce. */
  def q02ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        col("l_discount").cast(DecimalType(18, 2)))
        .cast("double").as("revenue"))

  /** J1/J2-style equi-join + group (customer⋈orders). Shuffle-hash/SMJ on
    * the key; group key is low-cardinality so partial agg collapses it. */
  def q03SegmentOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_total"))
      .orderBy("c_mktsegment")

  /** Multi-join chain (Q5 shape): two broadcastable dims (region, nation)
    * and two fact joins. Catalyst broadcasts the small sides via AQE. */
  def q04RevenueByNation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region")
      .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
      .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
        .cast("double").as("revenue"))
      .orderBy("r_name", "n_name")

  /** J3-style explicit broadcast join against a small dimension (part). */
  def q05BrandVolume(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("p_brand")

  /** J10 existence semi-join: customers having at least one order. */
  def q06CustomersWithOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** J9 checkpoint/restart anti-join: customers with no orders. */
  def q07CustomersWithoutOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** W2/W4-style per-key top-k via window row_number (top 3 orders per
    * customer by price). One shuffle on the partition key. */
  def q08Top3OrdersPerCust(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rk"))
      .orderBy("o_custkey", "rk")
  }

  /** A2-style first-wins semantics: the priority of each customer's
    * lowest-numbered order, via min_by (one hash agg, no sort). */
  def q09FirstOrderPriority(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(min_by(col("o_orderpriority"), col("o_orderkey")).as("first_priority"))
      .orderBy("o_custkey")

  /** U3 set union + distinct: nations present among customers ∪ suppliers. */
  def q10NationUnion(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
      .distinct()
      .orderBy("nationkey")

  /** X1 hyphenate over distinct part types (pure codegen'd expression). */
  def q11HyphenateTypes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_type")).distinct()
      .withColumn("p_type_h", Terms.hyphenate(col("p_type")))
      .orderBy("p_type")

  /** X3 python-list literal decode round-trip: build "['w1', 'w2']" from
    * p_name's words, decode it back with the engine's decoder, count. */
  def q12PylistRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val asPyList = concat(lit("['"),
      concat_ws("', '", split(col("p_name"), " ")), lit("']"))
    t(s, dir, "part")
      .select(col("p_partkey"),
        size(Terms.pythonListDecode(asPyList)).as("n_words"))
      .orderBy("p_partkey")
  }

  /** Time-bucketed aggregation on the events table (batch analogue of a
    * windowed stream agg): count+sum per (event_type, hour). */
  def q13EventsHourly(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("event_type", "hour")

  /** X10-style JSON path extraction from the events props column. */
  def q14EventProps(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
        .cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k")

  // ---------------------------------------------------------------------
  // Training-data ops: dedup, text analysis, similarity (builder prompt)
  // ---------------------------------------------------------------------

  /** Exact dedup survivors: one row per distinct document text. */
  def q15DedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("text")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count")
      .orderBy("keep_id")

  /** Token/char statistics per source (whitespace tokenizer). */
  def q16TokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")

  /** Language-ID census: predicted language → doc count. */
  def q17LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(TextAnalysis.langId(col("text")).as("lang_pred"))
      .groupBy("lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang_pred")

  /** Per-document quality features (narrow, no shuffle beyond the final
    * order): exact int counts + one double division. */
  def q18QualityFeatures(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), "\\s+"), c => c =!= "")
    val sumLen = aggregate(toks, lit(0L), (a, w) => a + length(w))
    t(s, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(toks).cast("long").as("n_tokens"),
        (sumLen.cast("double") / size(toks)).as("mean_word_len"))
      .orderBy("doc_id")
  }

  /** N-gram (3-shingle) Jaccard near-dup pairs over documents. The
    * candidate generation is an equi-join on shingle — never a cross
    * join — so it scales with shared-shingle volume, not |docs|². */
  def q19NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.1)
      .orderBy("id_a", "id_b")

  /** MinHash+LSH near-dup candidates under the md5 hash/bucket families
    * and a distinct config (4-gram shingles, k=8, 4 bands) — the whole
    * band/bucket/candidate-join/est_jaccard pipeline is reproduced by the
    * DuckDB oracle. The engine-default xxhash64 family (identical
    * machinery, different hash) is spec-covered in DedupSpec. */
  def q20MinHashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(t(s, dir, "documents"), "doc_id", "text",
        n = 4, k = 8, bands = 4,
        hashFamily = Dedup.md5HashFamily,
        bucketFamily = Dedup.md5BucketFamily)
      .orderBy("id_a", "id_b")

  /** SimHash chunk-LSH + hamming pipeline under the md5 bit family on a
    * bounded slice (the md5-per-bit fingerprint is 64× the hash work, so
    * the oracle variant stays capped at 300 docs at every SF; the
    * codegen'd xxhash64 SimHash64 path is spec-covered vs brute force). */
  def q21SimHash(s: SparkSession, dir: String): DataFrame = {
    val fp = Dedup.simHashBitsMd5(
      t(s, dir, "documents").filter(col("doc_id") < 300), "doc_id", "text")
    Dedup.simHashNearDupsBits(fp, maxHamming = 6)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------------
  // Graph build + path queries (SURVEY §2.4 A1-A5, §2.7 Q1-Q8)
  // ---------------------------------------------------------------------

  /** A1/A3: build the vertex table from URI triples synthesized over
    * nation/region (partOf edges + rdfs:label literals), with the label
    * folded into the attribute bag. */
  def q22GraphVertices(s: SparkSession, dir: String): DataFrame = {
    val obo = "http://purl.obolibrary.org/obo/"
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    val partOf = nat.select(
      concat(lit(obo + "NAT_"), col("n_nationkey")).as("s"),
      lit(obo + "BFO_0000050").as("p"),
      concat(lit(obo + "REG_"), col("n_regionkey")).as("o"),
      lit(null).cast("string").as("lit"),
      col("n_nationkey").cast("long").as("ord"))
    val natLabel = nat.select(
      concat(lit(obo + "NAT_"), col("n_nationkey")).as("s"),
      lit("http://www.w3.org/2000/01/rdf-schema#label").as("p"),
      col("n_name").as("o"),
      lit(null).cast("string").as("lit"),
      (col("n_nationkey") + 100).cast("long").as("ord"))
    val regLabel = reg.select(
      concat(lit(obo + "REG_"), col("r_regionkey")).as("s"),
      lit("http://www.w3.org/2000/01/rdf-schema#label").as("p"),
      col("r_name").as("o"),
      lit(null).cast("string").as("lit"),
      (col("r_regionkey") + 200).cast("long").as("ord"))
    val tuples = partOf.unionByName(natLabel).unionByName(regLabel)
    GraphBuilder.vertices(tuples)
      .select(col("collection"), col("key"), col("term"),
        element_at(col("attrs")("label"), 1).as("name"))
      .orderBy("collection", "key")
  }

  /** A2 first-wins edge labels: ORD→PART edges from lineitem where the
    * label comes from the lowest line number of the (order, part) pair —
    * the predicate is NOT part of the edge identity. */
  def q23GraphEdgesFirstWins(s: SparkSession, dir: String): DataFrame = {
    val obo = "http://purl.obolibrary.org/obo/"
    val tuples = t(s, dir, "lineitem").select(
      concat(lit(obo + "ORD_"), col("l_orderkey")).as("s"),
      concat(lit("http://example.org/rel#"), col("l_returnflag")).as("p"),
      concat(lit(obo + "PART_"), col("l_partkey")).as("o"),
      lit(null).cast("string").as("lit"),
      // unique-ify the ordinal: the synthetic data has a few duplicate
      // (order, part, linenumber) rows with different flags, which would
      // make "first wins" ill-defined — fold the label into the ordinal
      (col("l_linenumber").cast("long") * 256 + ascii(col("l_returnflag"))).as("ord"))
    GraphBuilder.edges(tuples)
      .select(col("from_key"), col("to_key"), col("label"))
      .orderBy("from_key", "to_key")
  }

  /** J7: the 2-hop ANY path query CUST→ORD→PART — the reference's core
    * query shape (AqlQuerySetBuilder.getQuerySetInTwo) on a graph derived
    * from orders+lineitem. Per-hop collection constraints prune the edge
    * slice before each join. */
  def q24Path2Hop(s: SparkSession, dir: String): DataFrame = {
    val (v, e) = orderGraph(s, dir)
    PathQueries.kHop(v, e, "CUST", Seq("ORD", "PART"))
      .select(
        element_at(col("vertices"), 1).getField("key").as("v0"),
        element_at(col("vertices"), 2).getField("key").as("v1"),
        element_at(col("vertices"), 3).getField("key").as("v2"))
      .orderBy("v0", "v1", "v2")
  }

  /** A12: phenotype-subgraph materialization — explode paths, dedup
    * vertices (hash dropDuplicates, not the reference's O(n²) scan). */
  def q25PathSubgraph(s: SparkSession, dir: String): DataFrame = {
    val (v, e) = orderGraph(s, dir)
    val paths = PathQueries.kHop(v, e, "CUST", Seq("ORD", "PART"))
    val (vs, _) = PathQueries.subgraph(paths)
    vs.groupBy("collection").agg(count(lit(1)).as("n_vertices"))
      .orderBy("collection")
  }

  /** Vertex/edge tables of the order graph: CUST/ORD/PART collections,
    * placed (orders) + contains (distinct lineitem pairs) edges. */
  private def orderGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cust = t(s, dir, "customer")
      .select(lit("CUST").as("collection"), col("c_custkey").cast("string").as("key"))
    val ord = t(s, dir, "orders")
      .select(lit("ORD").as("collection"), col("o_orderkey").cast("string").as("key"))
    val part = t(s, dir, "part")
      .select(lit("PART").as("collection"), col("p_partkey").cast("string").as("key"))
    val placed = t(s, dir, "orders").select(
      lit("CUST").as("from_coll"), col("o_custkey").cast("string").as("from_key"),
      lit("ORD").as("to_coll"), col("o_orderkey").cast("string").as("to_key"),
      lit("placed").as("label"))
    val contains = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .select(
        lit("ORD").as("from_coll"), col("l_orderkey").cast("string").as("from_key"),
        lit("PART").as("to_coll"), col("l_partkey").cast("string").as("to_key"),
        lit("contains").as("label"))
    (cust.union(ord).union(part), placed.unionByName(contains))
  }

  /** Brute-force cosine top-5 neighbors for a small query set (vec_id<10),
    * broadcast against the corpus; double math matches the SQL oracle
    * exactly (see Similarity.cosine). */
  def q26SimilarityTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.bruteForceTopK(emb, queries, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-dup pairs with an all-pass bucket (nPlanes=0 →
    * the LSH pipeline runs exhaustively) on a bounded slice — every pair
    * is a candidate, so the DuckDB brute-force oracle checks the full
    * bucket-join + threshold machinery. The hyperplane-bucketed scale path
    * is spec-covered vs brute force in SimilaritySpec. */
  def q27CosineNearDups(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(
        t(s, dir, "embeddings").filter(col("vec_id") < 300),
        threshold = 0.2, nPlanes = 0)
      .orderBy("id_a", "id_b")

  /** The NSForest tuple writer (SURVEY §3.1) driven end-to-end from the
    * part table: part rows are shaped into NSForest-results form, the
    * writer emits the full tuple stream, and the DuckDB oracle rebuilds
    * the identical stream in SQL — every term synthesis rule, literal
    * stringification, and per-row position is cross-checked. */
  /** NSForest-shaped results synthesized from the part table (shared by
    * q28 and the q47 interchange round-trip). */
  private def nsfResults(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("p_name"), " ")
    val asPyList = concat(lit("['"), concat_ws("', '", words), lit("']"))
    t(s, dir, "part").select(
      col("p_name").as("clusterName"),
      col("p_size").cast("long").as("clusterSize"),
      round(col("p_retailprice")).as("f_score"),
      (col("p_partkey") % 100).cast("double").as("precision"),
      (col("p_partkey") % 7).as("TN"),
      (col("p_partkey") % 5).as("FP"),
      (col("p_partkey") % 3).as("FN"),
      (col("p_partkey") % 11).as("TP"),
      size(words).cast("long").as("marker_count"),
      asPyList.as("NSForest_markers"),
      asPyList.as("binary_genes"),
      substring(md5(col("p_name")), 1, 12).as("uuid"),
      when(col("p_size") % 10 === 0, lit(0.0))
        .otherwise(col("p_size").cast("double") / 4).as("median_silhouette"))
  }

  def q28NsforestWriter(s: SparkSession, dir: String): DataFrame =
    graft.writers.NSForestWriter
      .tuples(nsfResults(s, dir), Seq("dv1", "dv2"), withOrd = false)
      .withColumn("pos", col("pos").cast("long"))
      .orderBy("s", "p", "o", "lit", "pos")

  /** S3/S10 interchange gate: the q28 tuple stream encoded to the
    * reference's positional JSON form ((s,o,p,literal) quads), then
    * decoded back through the TupleJson mapping — the oracle is q28's,
    * so any asymmetry in the positional encode/decode pair fails the
    * hash compare. */
  def q47TupleJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TupleJson
    val tuples = graft.writers.NSForestWriter
      .tuples(nsfResults(s, dir), Seq("dv1", "dv2"), withOrd = false)
    val js = tuples.select(to_json(struct(
      TupleJson.encodeTuple.as("t"), col("pos").as("pos"))).as("js"))
    val schema = StructType(Seq(
      StructField("t", ArrayType(StringType)),
      StructField("pos", IntegerType)))
    js.select(from_json(col("js"), schema).as("r"))
      .select(TupleJson.decodeTuple(col("r.t")).as("d"), col("r.pos").as("pos"))
      .select(col("d.s").as("s"), col("d.p").as("p"), col("d.o").as("o"),
        col("d.lit").as("lit"), col("pos").cast("long").as("pos"))
      .orderBy("s", "p", "o", "lit", "pos")
  }

  /** N1/N3: char-ngram inverted index over part names, searched with a
    * fixed token set. Substring semantics make the SQL oracle a LIKE
    * count — the Spark side goes through the real index build + search. */
  def q29NgramSearch(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.operators.SearchIndex.postings(
      t(s, dir, "part"), Seq("p_partkey"),
      Map("p_name" -> (c => graft.operators.SearchIndex.charNgrams(c))))
    graft.operators.SearchIndex.search(idx, Seq("idge", "old", "gea", "gear"))
      .groupBy("q").agg(countDistinct(col("p_partkey")).as("n_parts"))
      .orderBy("q")
  }

  /** N2: edge-ngram typeahead — parts whose name has a word starting
    * with each query prefix. */
  def q30EdgeNgramTypeahead(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.operators.SearchIndex.postings(
      t(s, dir, "part"), Seq("p_partkey"),
      Map("p_name" -> (c => graft.operators.SearchIndex.edgeNgramTokens(c))))
    graft.operators.SearchIndex.search(idx, Seq("giz", "wid", "plat"))
      .groupBy("q").agg(countDistinct(col("p_partkey")).as("n_parts"))
      .orderBy("q")
  }

  /** J8/W2/Q3: the hierarchy-extension path query — 1-hop then the
    * LONGEST single-label outbound chain, per start. The graph is a DAG
    * built from part keys (edges k -> k+937 within each brand partition's
    * key space); the oracle reproduces the longest-chain semantics with a
    * recursive CTE. */
  def q31PathHierarchy(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val cust = t(s, dir, "supplier").filter(col("s_suppkey") <= 3)
      .select(lit("SUP").as("collection"), col("s_suppkey").cast("string").as("key"))
    val pVerts = part.select(lit("PART").as("collection"),
      col("p_partkey").cast("string").as("key"))
    // anchor edges: each of the 3 suppliers points at parts keyed k*97+sup
    val anchor = part.filter(col("p_partkey") % 97 <= 2).select(
      lit("SUP").as("from_coll"),
      ((col("p_partkey") % 97) + 1).cast("string").as("from_key"),
      lit("PART").as("to_coll"), col("p_partkey").cast("string").as("to_key"),
      lit("supplies").as("label"))
    // hierarchy DAG: k -> k + 937 when the target exists (keys strictly
    // increase, so no cycles); a second label salts in pruned edges
    val keys = part.select(col("p_partkey"))
    val hier = part.alias("a")
      .join(keys.alias("b"), col("a.p_partkey") + 937 === col("b.p_partkey"))
      .select(lit("PART").as("from_coll"), col("a.p_partkey").cast("string").as("from_key"),
        lit("PART").as("to_coll"), (col("a.p_partkey") + 937).cast("string").as("to_key"),
        when(col("a.p_partkey") % 5 === 0, "OTHER").otherwise("NARROWER").as("label"))
    val edges = anchor.unionByName(hier)
    val verts = cust.unionByName(pVerts)
    val base = PathQueries.kHop(verts, edges, "SUP", Seq("PART"))
    PathQueries.withHierarchy(base, edges, "NARROWER", maxDepth = 64)
      .select(
        element_at(col("vertices"), 1).getField("key").as("v0"),
        element_at(col("vertices"), 2).getField("key").as("v1"),
        element_at(col("vertices"), -1).getField("key").as("v_last"),
        (size(col("vertices")) - 2).cast("long").as("chain_len"))
      .orderBy("v0", "v1")
  }

  /** Multimodal plumbing: documents' text bytes as a binary media column →
    * batched decode (stubbed codec) → frame sampling; metadata and frame
    * counts are deterministic functions of byte length, which the oracle
    * recomputes from octet_length. The STUB parser is passed explicitly:
    * the production default is the real header decoder, and a document
    * whose text happened to start with a container signature (e.g. the
    * literal string "GIF89a") would otherwise parse as media and break
    * the byte-length oracle. */
  def q32Multimodal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val media = t(s, dir, "documents")
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("content"))
    val decoded = graft.operators.Multimodal.decode(media,
      parse = graft.operators.Multimodal.decodeStub)
    val frames = graft.operators.Multimodal.frameSample(decoded, everyN = 2)
      .groupBy("media_id").agg(cnt(lit(1)).as("n_frames_sampled"))
    decoded.toDF()
      .select(col("media_id"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.n_bytes").as("n_bytes"))
      .join(frames, Seq("media_id"))
      .orderBy("media_id")
  }

  /** A6/A7: unique gene-name collection — explode two array columns over
    * min-size-filtered rows, strip Ensembl-style version suffixes, union,
    * distinct, sort (LoaderUtilities.py:661-775 semantics). */
  def q33GeneCollection(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_size") >= 10)
    val words = split(col("p_name"), " ")
    val versioned = transform(words, w =>
      concat(w, lit("."), (col("p_partkey") % 3).cast("string")))
    val m = p.select(explode(words).as("gene"))
    val b = p.select(explode(versioned).as("gene"))
      .select(Terms.stripVersion(col("gene")).as("gene"))
    m.union(b).distinct().orderBy("gene")
  }

  /** W4: first-N per key — the first 3 part names per brand in sorted
    * order, joined to one string (slice over a sorted collect_list). */
  def q34FirstPerKey(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy("p_brand")
      .agg(concat_ws("|",
        slice(sort_array(collect_list(col("p_name"))), 1, 3)).as("first3"))
      .orderBy("p_brand")

  /** IVF approximate top-k with nProbe = nCells: every query probes every
    * cell, so the result is EXACTLY brute-force top-k — the k-means
    * training, narrow cell assignment, per-cell candidate join, and
    * re-rank all run for real, and the q26 brute-force SQL is a strong
    * oracle. The nProbe < nCells scale path is recall-checked in
    * SimilaritySpec. */
  def q35IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nCells = 16, nProbe = 16)
      .orderBy("query_id", "rank")
  }

  /** MinHash signatures under the md5 hash family — slower than the
    * engine-default xxhash64 family but reproducible in DuckDB, so the
    * whole shingle→min-per-member pipeline gets a strong oracle check
    * (the xxhash64 path shares all machinery except the hash). */
  def q36MinhashSignatures(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.minHashSignatures(t(s, dir, "documents"),
      "doc_id", "text", n = 3, k = 4, hashFamily = Dedup.md5HashFamily)
    sigs.select(col("doc_id"),
        col("sig")(0).as("h0"), col("sig")(1).as("h1"),
        col("sig")(2).as("h2"), col("sig")(3).as("h3"))
      .orderBy("doc_id")
  }

  /** MinHash+LSH end-to-end under the md5 families on the FULL documents
    * table (k=16, 8 bands — a second config next to q20's k=8/4-band) —
    * banding, candidate self-join, and est_jaccard all reproduced by the
    * DuckDB oracle. The md5-per-shingle hashing is the oracle tax; the
    * engine-default xxhash64 family is spec-covered in DedupSpec. */
  def q37MinhashLshOracle(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(
        t(s, dir, "documents"),
        "doc_id", "text", n = 3, k = 16, bands = 8,
        hashFamily = Dedup.md5HashFamily,
        bucketFamily = Dedup.md5BucketFamily)
      .orderBy("id_a", "id_b")

  /** SURVEY §7's minimum end-to-end slice as one driver-gated query:
    * NSForest-shaped results → tuple writer → graph build (A1/A2) →
    * 2-hop ANY path query CS→BMC→BGS (the production
    * getQuerySetInTwo("BMC","BGS") shape, PhenotypeGraphBuilder.java:54).
    * The oracle reconstructs the expected paths from the raw rows. */
  def q38EndToEndSlice(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("p_name"), " ")
    val asPyList = concat(lit("['"), concat_ws("', '", words), lit("']"))
    val results = t(s, dir, "part").select(
      col("p_name").as("clusterName"),
      col("p_size").cast("long").as("clusterSize"),
      round(col("p_retailprice")).as("f_score"),
      (col("p_partkey") % 100).cast("double").as("precision"),
      (col("p_partkey") % 7).as("TN"), (col("p_partkey") % 5).as("FP"),
      (col("p_partkey") % 3).as("FN"), (col("p_partkey") % 11).as("TP"),
      size(words).cast("long").as("marker_count"),
      asPyList.as("NSForest_markers"), asPyList.as("binary_genes"),
      substring(md5(col("p_name")), 1, 12).as("uuid"))
    val tuples = graft.writers.NSForestWriter
      .tuples(results, Seq("dv1"), withOrd = false)
      .withColumn("ord", col("pos").cast("long"))
      .select("s", "p", "o", "lit", "ord")
      // consumed 4× (vertices, edges, both kHop join sides) — materialize
      // the writer lineage ONCE; localCheckpoint (not cache) so the blocks
      // are reclaimed when the result is dropped. Round-1: recomputing this
      // per consumer made q38 16 s fresh / 90 s contaminated vs ~3 s now.
      .localCheckpoint(true)
    val v = GraphBuilder.vertices(tuples)
    val e = GraphBuilder.edges(tuples)
    PathQueries.kHop(v, e, "CS", Seq("BMC", "BGS"))
      .select(
        element_at(col("vertices"), 1).getField("key").as("v0"),
        element_at(col("vertices"), 2).getField("key").as("v1"),
        element_at(col("vertices"), 3).getField("key").as("v2"))
      .orderBy("v0", "v1", "v2")
  }

  /** The AuthorToCl writer end-to-end from the customer table: header
    * CSD/PUB sections, per-row relations/annotations/gene loops — the
    * DuckDB oracle rebuilds the identical stream (like q28 does for the
    * NSForest writer). */
  def q39AuthorToClWriter(s: SparkSession, dir: String): DataFrame = {
    val results = t(s, dir, "customer").select(
      lit("dv1--dv2").as("dataset_version_id"),
      lit(42L).as("PMID"), lit("PMC1").as("PMCID"), lit("10.1/d").as("DOI"),
      lit("manual").as("mapping_method"), lit("cat").as("author_category"),
      concat(lit("http://purl.obolibrary.org/obo/UBERON_"),
        col("c_nationkey")).as("uberon_entity_id"),
      concat(lit("http://purl.obolibrary.org/obo/CL_"),
        col("c_custkey") % 50).as("cell_ontology_id"),
      lit("skos:exact").as("match"),
      col("c_name").as("author_cell_set"), col("c_name").as("author_cell_term"),
      (col("c_custkey") % 200).as("clusterSize"),
      concat(lit("['"), col("c_name"), lit("']")).as("NSForest_markers"),
      concat(lit("['"), col("c_name"), lit("B']")).as("binary_genes"),
      substring(md5(col("c_name")), 1, 12).as("uuid"))
    val cxg = Map("dv2" -> Map(
      "Link_to_publication" -> "L1", "Link_to_CELLxGENE_collection" -> "L2",
      "Link_to_CELLxGENE_dataset" -> "L3", "Dataset_name" -> "D1"))
    graft.writers.AuthorToClWriter
      .tuples(results, cxg, Seq("Citation" -> "C1"), withOrd = false)
      .withColumn("pos", col("pos").cast("long"))
      .orderBy("s", "p", "o", "lit", "pos")
  }

  /** S7→A9/A10→graph gate: the FULL ontology pipeline — striped RDF/XML
    * synthesized one-OWL-document-per-part-row, streamed through the real
    * StAX parser (OwlSource), bnode de-reification (Dereify: the
    * subClassOf/onProperty/someValuesFrom owl:Restriction resolves by the
    * exact-3 rule; an owl:Axiom re-emits its literal bucket), and the
    * ontology graph build (OntologyGraph: parse_term taxonomy, RO-label
    * edge naming, scalar-vs-list attr fold). Every 5th part carries an
    * INVALID 4-triple restriction (duplicate onProperty) that must be
    * quarantined — those parts get NO edge. The DuckDB oracle reconstructs
    * everything from the part table. */
  def q40OntologyPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obo = "http://purl.obolibrary.org/obo/"
    val k = col("p_partkey")
    val xml = concat(
      lit("""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#" xmlns:owl="http://www.w3.org/2002/07/owl#" xmlns:oio="http://www.geneontology.org/formats/oboInOwl#">"""),
      lit(s"""<owl:Class rdf:about="${obo}PT_"""), k, lit("\">"),
      lit("<rdfs:label>"), col("p_name"), lit("</rdfs:label>"),
      lit("<oio:hasDbXref>X:"), k % 7, lit("</oio:hasDbXref>"),
      lit("""<rdfs:subClassOf rdf:nodeID="r1"/>"""),
      lit("</owl:Class>"),
      lit("""<owl:Restriction rdf:nodeID="r1">"""),
      lit(s"""<owl:onProperty rdf:resource="${obo}RO_0000050"/>"""),
      when(k % 5 === 0,
        lit(s"""<owl:onProperty rdf:resource="${obo}RO_0000051"/>"""))
        .otherwise(lit("")),
      lit(s"""<owl:someValuesFrom rdf:resource="${obo}BR_"""), k % 10, lit("\"/>"),
      lit("</owl:Restriction>"),
      lit("<owl:Axiom>"),
      lit(s"""<owl:annotatedSource rdf:resource="${obo}PT_"""), k, lit("\"/>"),
      lit("""<owl:annotatedProperty rdf:resource="http://www.geneontology.org/formats/oboInOwl#hasDbXref"/>"""),
      lit("<owl:annotatedTarget>X:"), k % 7, lit("</owl:annotatedTarget>"),
      lit("<oio:hasDbXref>PMID:"), k % 13, lit("</oio:hasDbXref>"),
      lit("</owl:Axiom>"),
      lit("</rdf:RDF>"))
    val docs = t(s, dir, "part")
      .select(k.cast("string").as("doc"), xml.as("xml")).as[(String, String)]
    // the StAX parse is consumed by fnodeTriples AND bnodeTriples, and the
    // graph build reads the union four more times — materialize the parse
    // ONCE (localCheckpoint: blocks reclaimed when the query result drops)
    val raw = docs.flatMap { case (d, x) =>
      graft.sources.OwlSource.parseBytes(s"doc-$d", x.getBytes("UTF-8"))
    }.toDF().localCheckpoint(true)
    val triples = graft.operators.Dereify.triples(raw).localCheckpoint(true)
    val (v, e) = graft.operators.OntologyGraph
      .build(triples, Map("RO_0000050" -> "part of"))
    val pt = v.filter(col("collection") === "PT").select(
      col("key").cast("long").as("k"), col("term"),
      element_at(col("attrs")("label").getField("values"), 1).as("label"),
      concat_ws(",", array_sort(col("attrs")("hasDbXref").getField("values")))
        .as("xrefs"),
      col("attrs")("hasDbXref").getField("n").as("n_xref_emits"))
    val br = e.filter(col("to_coll") === "BR").select(
      col("from_key").cast("long").as("k"),
      col("to_key").as("brand_key"), col("label").as("edge_label"))
    pt.join(br, Seq("k"), "left")
      .select("term", "label", "xrefs", "n_xref_emits", "brand_key", "edge_label")
      .orderBy("term")
  }

  /** X6 cascade gate: the Annotation writer end-to-end from the customer
    * table — every normalization branch exercised (CURIE swap, skos strip,
    * NLP_dataset→CSD, MeSH→MONDO broadcast map, uppercase-gene gate + the
    * MBP rewrite, the 4 hardcoded PMID→DOI rewrites, γδ unicode cleanup)
    * plus the F5 null-drop (unresolved MeSH, lowercase genes, unknown
    * PMIDs) and the Cell_set Label triple. */
  def q41AnnotationWriter(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val sname = concat(col("c_name"),
      when(k % 10 === 0, "γδ").otherwise(""))
    val ann = t(s, dir, "customer").select(
      lit("Cell_set").as("subject_type"),
      sname.as("subject_name"),
      concat(k, lit("-row")).as("subject_identifier"),
      when(k % 6 === 0, "Disease").when(k % 6 === 1, "Gene")
        .when(k % 6 === 2, "Cell_type").when(k % 6 === 3, "Publication")
        .when(k % 6 === 4, "Anatomical_structure")
        .otherwise("Cell_set_dataset").as("object_type"),
      when(k % 6 === 1,
        when(k % 60 === 1, lit("Myelin basic protein"))
          .when(k % 12 === 1, upper(translate(col("c_name"), "#", "")))
          .otherwise(lower(translate(col("c_name"), "#", ""))))
        .otherwise(col("c_name")).as("object_name"),
      when(k % 6 === 0, concat(lit("MESH:D"), k % 25))
        .when(k % 6 === 2, concat(lit("CL:"), k,
          when(k % 12 === 2, lit("<skos:related>")).otherwise(lit(""))))
        .when(k % 6 === 3, element_at(
          array(lit("37824655"), lit("37516747"), lit("37291214"),
            lit("38014002"), lit("123")),
          (floor((k - 3) / 6) % 5 + 1).cast("int")))
        .when(k % 6 === 4, concat(lit("UBERON:"), k % 100))
        .when(k % 6 === 5, concat(lit("NLP_dataset_"), k % 3))
        .otherwise(lit(null).cast("string")).as("object_identifier"),
      when(k % 2 === 0, "IS_IN").otherwise("PART_OF").as("relation"))
    val m2m = t(s, dir, "nation").filter(col("n_nationkey") % 2 === 0)
      .select(concat(lit("MESH:D"), col("n_nationkey")).as("mesh"),
        concat(lit("MONDO_"), col("n_nationkey") + 1000).as("mondo"))
    graft.writers.AnnotationWriter.tuples(ann, m2m, withOrd = false)
      .withColumn("pos", col("pos").cast("long"))
      .orderBy("s", "p", "o", "lit", "pos")
  }

  /** S4/CSD gate: the CELLxGENE dataset-metadata writer from the supplier
    * table — 13-key annotation order, protocol strip, the dc#Source/PUB
    * head pair. */
  def q42CellxgeneWriter(s: SparkSession, dir: String): DataFrame = {
    val k = col("s_suppkey")
    val ds = t(s, dir, "supplier").select(
      concat(lit("https://doi.org/10."), k).as("Link_to_publication"),
      concat(lit("https://cxg.org/c"), k % 40).as("Link_to_CELLxGENE_collection"),
      concat(lit("https://data.cxg.org/d"), k, lit(".h5ad")).as("Link_to_CELLxGENE_dataset"),
      col("s_name").as("Dataset_name"),
      (k * 1000).cast("long").as("Number_of_cells"),
      lit("Homo sapiens").as("Organism"),
      concat(lit("tissue-"), k % 7).as("Tissue"),
      when(k % 3 === 0, "normal").otherwise("disease").as("Disease_status"),
      concat(lit("coll-"), k % 40).as("Collection_ID"),
      concat(lit("collv-"), k % 40).as("Collection_version_ID"),
      concat(lit("ds-"), k).as("Dataset_ID"),
      concat(lit("dv-"), k).as("Dataset_version_ID"),
      lit("TBC").as("Zenodo/Nextflow_workflow/Notebook"))
    graft.writers.ExternalApiWriter.cellxgene(ds, withOrd = false)
      .withColumn("pos", col("pos").cast("long"))
      .orderBy("s", "p", "o", "lit", "pos")
  }

  /** Open Targets disease-association writer gate from the orders table:
    * MONDO pass-through, EFO→MONDO resolution, unresolvable ids and
    * sub-threshold scores dropped, gene-name broadcast lookup. */
  def q43OpentargetsDiseases(s: SparkSession, dir: String): DataFrame = {
    val o = col("o_orderkey")
    val diseases = t(s, dir, "orders").select(
      concat(lit("ENSG"), o % 150).as("gene_ensembl_id"),
      when(o % 3 === 0, concat(lit("MONDO_0"), o % 1000))
        .when(o % 3 === 1, concat(lit("EFO_0"), o % 25))
        .otherwise(concat(lit("HP_0"), o % 100)).as("disease_id"),
      col("o_orderpriority").as("disease_name"),
      concat(lit("desc-"), o % 17).as("disease_description"),
      ((o % 100).cast("double") / 100.0).as("score"))
    // gene names exist only for ids under 100 — others drop via inner join
    val geneNames = t(s, dir, "part").filter(col("p_partkey") < 100)
      .select(concat(lit("ENSG"), col("p_partkey")).as("gene_ensembl_id"),
        concat(lit("G"), col("p_partkey")).as("gene_name"))
    val efo2mondo = t(s, dir, "nation").filter(col("n_nationkey") % 2 === 0)
      .select(concat(lit("EFO_0"), col("n_nationkey")).as("efo"),
        concat(lit("MONDO_9"), col("n_nationkey")).as("mondo"))
    graft.writers.ExternalApiWriter.openTargetsDiseases(
        diseases, geneNames, efo2mondo, withOrd = false)
      .withColumn("pos", col("pos").cast("long"))
      .orderBy("s", "p", "o", "lit", "pos")
  }

  /** Open Targets drug writer gate from a lineitem slice: phase/approval/
    * withdrawal thresholds, EFO-resolving indications, trial loops,
    * pyList/pyBool stringification, PubChem + UniProt links. */
  def q44OpentargetsDrugs(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem").filter(col("l_orderkey") % 97 === 0)
    val o = col("l_orderkey"); val p = col("l_partkey")
    val drugs = l.select(
      concat(lit("ENSG"), col("l_suppkey") % 150).as("gene_ensembl_id"),
      concat(lit("CHEMBL"), p).as("drug_id"),
      when(o % 3 === 0, concat(lit("MONDO_0"), o % 1000))
        .when(o % 3 === 1, concat(lit("EFO_0"), o % 25))
        .otherwise(concat(lit("HP_0"), o % 100)).as("disease_id"),
      col("l_linenumber").cast("double").as("max_phase"),
      (col("l_returnflag") =!= "R").as("is_approved"),
      (col("l_linestatus") === "F" && col("l_quantity") < 5)
        .as("has_been_withdrawn"),
      concat(lit("drug-"), p % 31).as("drug_name"),
      lit("Small molecule").as("drug_type"),
      concat(lit("moa-"), p % 11).as("mechanism_of_action"),
      concat(lit("about drug "), p % 31).as("drug_description"),
      when(p % 4 === 0, array().cast("array<string>"))
        .otherwise(array(concat(lit("syn-"), p % 13),
          concat(lit("syn-"), p % 17))).as("synonyms"),
      array(concat(lit("trade-"), p % 7)).as("trade_names"),
      when(p % 5 === 0, lit(null).cast(
        "array<struct<disease_id:string,max_phase:double>>"))
        .otherwise(array(
          struct(concat(lit("MONDO_1"), p % 7).as("disease_id"),
            (p % 6).cast("double").as("max_phase")),
          struct(concat(lit("EFO_0"), p % 25).as("disease_id"),
            lit(4.0).as("max_phase")),
          struct(concat(lit("HP_9"), p % 9).as("disease_id"),
            lit(4.0).as("max_phase")))).as("indications"),
      when(o % 4 === 0, array(concat(lit("NCT00"), o)))
        .otherwise(array().cast("array<string>")).as("ct_ids"))
    val genes = t(s, dir, "part").filter(col("p_partkey") < 100)
      .select(concat(lit("ENSG"), col("p_partkey")).as("gene_ensembl_id"),
        concat(lit("G"), col("p_partkey")).as("gene_name"),
        when(col("p_partkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("P"), col("p_partkey"))).as("uniprot_name"),
        concat(lit("https://u.org/P"), col("p_partkey")).as("link_to_uniprot"))
    val efo2mondo = t(s, dir, "nation").filter(col("n_nationkey") % 2 === 0)
      .select(concat(lit("EFO_0"), col("n_nationkey")).as("efo"),
        concat(lit("MONDO_9"), col("n_nationkey")).as("mondo"))
    val c2p = t(s, dir, "part").filter(col("p_partkey") % 2 === 0)
      .select(concat(lit("CHEMBL"), col("p_partkey")).as("chembl"),
        (col("p_partkey") * 7).cast("string").as("pubchem"))
    val efoMap = (0 until 25 by 2).map(j => s"EFO_0$j" -> s"MONDO_9$j").toMap
    graft.writers.ExternalApiWriter.openTargetsDrugs(
        drugs, genes, efo2mondo, c2p, withOrd = false,
        indicationEfo2Mondo = efoMap)
      .withColumn("pos", col("pos").cast("long"))
      .orderBy("s", "p", "o", "lit", "pos")
  }

  /** S6/schema gate: the schema writer from the part table — term→CURIE
    * resolution with NA fallback, the multi-valued cell patch table, and
    * CURIE colon swap. */
  def q45SchemaWriter(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val brandNum = substring_index(col("p_brand"), "#", -1).cast("int")
    // terms sheet covers even-numbered brands only -> odd resolve to NA
    val terms = part.select(col("p_brand").as("schema_name"),
        substring_index(col("p_brand"), "#", -1).cast("int").as("bn"))
      .distinct()
      .filter(col("bn") % 2 === 0)
      .select(col("schema_name"), concat(lit("BR:"), col("bn")).as("curie"))
    val schema0 = part.select(col("p_partkey"), col("p_brand").as("subject_name"),
      lit("RO:0000050").as("predicate_curie"),
      when(col("p_partkey") % 5 === 0, "MONDO:0000001 or MONDO:0021178")
        .when(col("p_partkey") % 5 === 1, "HsapDv:0000000 or MmusDv:0000000")
        .otherwise(concat(lit("CL:"), col("p_partkey") % 100))
        .as("object_curie"))
    val resolved = graft.writers.SchemaWriter.resolveCurie(
      schema0, terms, "subject_name", "subject_curie")
    graft.writers.SchemaWriter.tuples(resolved, withOrd = false)
      .select("s", "p", "o")
      .orderBy("s", "p", "o")
  }

  /** The production-catalog gate graph (shared by q46a–q46d): a
    * multi-collection graph (CS/CL/CSD/GS/PR/RS/CHEMBL/MONDO) derived
    * modularly from customer keys, with a SUB_CLASS_OF hierarchy and a
    * decoy edge label. [[catalogGraph]] returns (vertices, edges) eagerly
    * materialized — every catalog query reads the edge table once per hop
    * and each union branch otherwise carries its own distinct shuffle;
    * [[catalogGraphRaw]] skips the checkpoints for single-pass consumers
    * (q53 writes the edges once and never touches the vertices). */
  // The fixture graph is DETERMINISTIC per data dir and consumed by six
  // gates (q46a–d, q53's sibling, q114) — derive it once per JVM per dir
  // and land it in run-scoped parquet; each gate reads the materialized
  // tables instead of re-running the union-of-derivations (the same
  // durable-files-not-cached-blocks rationale as the q64 curation cache:
  // the harness unpersists all RDDs between gates).
  private val catalogGraphCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def catalogGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = catalogGraphCache.computeIfAbsent(dir, _ => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_catgraph_" +
        s"${java.lang.ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val (v, e) = catalogGraphRaw(s, dir)
      v.write.mode("overwrite").parquet(s"$out/v")
      e.write.mode("overwrite").parquet(s"$out/e")
      out
    })
    (pqImmutable(s, s"$base/v"), pqImmutable(s, s"$base/e"))
  }

  private[graft] def catalogGraphRaw(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cust = t(s, dir, "customer").select(col("c_custkey").cast("long").as("c"))
    val clKeys = cust.select((col("c") % 200).as("j")).distinct()
    val gsEdges = clKeys.select(col("j"), explode(array_distinct(
      array((col("j") * 7) % 120, (col("j") * 11) % 120))).as("g"))
    val gsKeys = gsEdges.select("g").distinct()
    val prKeys = gsKeys.select(((col("g") * 3) % 80).as("p0")).distinct()
    val rsKeys = gsKeys.select((col("g") % 50).as("r")).distinct()
    val chKeys = prKeys.select((col("p0") % 30).as("ch"))
      .union(rsKeys.select((col("r") * 2) % 30)).distinct()
    val mDom = cust.select((col("c") % 20).as("m")).distinct()

    def v(coll: String, df: DataFrame, k: String) =
      df.select(lit(coll).as("collection"), col(k).cast("string").as("key"))
    def e(src: DataFrame, fc: String, fk: Column, tc: String, tk: Column,
          label: String) =
      src.select(lit(fc).as("from_coll"), fk.cast("string").as("from_key"),
        lit(tc).as("to_coll"), tk.cast("string").as("to_key"),
        lit(label).as("label"))

    val vertices = v("CS", cust, "c")
      .unionByName(v("CL", clKeys, "j"))
      .unionByName(v("CSD", clKeys.select((col("j") % 40).as("d")).distinct(), "d"))
      .unionByName(v("GS", gsKeys, "g"))
      .unionByName(v("PR", prKeys, "p0"))
      .unionByName(v("RS", rsKeys, "r"))
      .unionByName(v("CHEMBL", chKeys, "ch"))
      .unionByName(v("MONDO", mDom, "m"))
    val edges = e(cust, "CS", col("c"), "CL", col("c") % 200, "composed_of")
      .unionByName(e(clKeys, "CL", col("j"), "CSD", col("j") % 40, "source"))
      .unionByName(e(gsEdges, "CL", col("j"), "GS", col("g"), "expresses"))
      .unionByName(e(gsKeys, "GS", col("g"), "PR", (col("g") * 3) % 80, "produces"))
      .unionByName(e(gsKeys, "GS", col("g"), "RS", col("g") % 50, "has_quality"))
      .unionByName(e(gsKeys, "GS", col("g"), "MONDO", (col("g") * 5) % 20, "genetic_basis"))
      .unionByName(e(prKeys, "PR", col("p0"), "CHEMBL", col("p0") % 30, "interacts"))
      .unionByName(e(rsKeys, "RS", col("r"), "CHEMBL", (col("r") * 2) % 30, "effect"))
      .unionByName(e(chKeys, "CHEMBL", col("ch"), "MONDO", col("ch") % 20, "treats"))
      .unionByName(e(mDom.filter(col("m") + 4 < 20),
        "MONDO", col("m"), "MONDO", col("m") + 4, "SUB_CLASS_OF"))
      // decoy label the hierarchy walk must ignore
      .unionByName(e(mDom.filter(col("m") % 3 === 0 && col("m") + 2 < 20),
        "MONDO", col("m"), "MONDO", col("m") + 2, "OTHER"))
    (vertices, edges)
  }

  /** Path signature rows (q, key1|key2|...) — the per-shape gate output. */
  private def catalogSig(paths: DataFrame, tag: String): DataFrame =
    paths.select(lit(tag).as("q"),
      concat_ws("|", transform(col("vertices"), x => x.getField("key"))).as("val"))

  /** Production catalog per-shape gates (round-2 verdict: the former
    * q46 composite hid any one shape's regression inside a 7-query
    * aggregate — each shape now times and gates on its own):
    * q46a = catalog #3 CS→CL→CSD (2-hop), q46b = #20 CS→CL→GS→MONDO with
    * the MONDO SUB_CLASS_OF longest-chain hierarchy, q46c = #21
    * CS→CL→GS→PR→CHEMBL (4-hop), q46d = #24 CS→CL→GS→RS→CHEMBL→MONDO
    * (5-hop) plus the phenotype-subgraph materialization + enrichment
    * censuses over ITS paths. Oracles reproduce every path and census in
    * closed form (PhenotypeGraphBuilder.java:48-223). */
  def q46aCatalog2Hop(s: SparkSession, dir: String): DataFrame = {
    val (vertices, edges) = catalogGraph(s, dir)
    catalogSig(QueryCatalog.production(2).run(vertices, edges), "p1")
      .orderBy("q", "val")
  }

  def q46bCatalogHierarchy(s: SparkSession, dir: String): DataFrame = {
    val (vertices, edges) = catalogGraph(s, dir)
    catalogSig(QueryCatalog.production(19).run(vertices, edges), "p2")
      .orderBy("q", "val")
  }

  def q46cCatalog4Hop(s: SparkSession, dir: String): DataFrame = {
    val (vertices, edges) = catalogGraph(s, dir)
    catalogSig(QueryCatalog.production(20).run(vertices, edges), "p3")
      .orderBy("q", "val")
  }

  def q46dCatalog5HopSubgraph(s: SparkSession, dir: String): DataFrame = {
    val (vertices, edges) = catalogGraph(s, dir)
    // the 5-hop paths feed BOTH the signature output and the subgraph —
    // run the query ONCE
    val paths4 = QueryCatalog.production(23).run(vertices, edges)
      .localCheckpoint(true)
    val (vs0, se) = PathQueries.subgraph(paths4)
    val docs = vertices
      .withColumn("term", concat_ws("_", col("collection"), col("key")))
      .withColumn("attrs", lit(null).cast("map<string,array<string>>"))
    val sv = PathQueries.enrich(vs0, docs)
    val census = sv.groupBy("collection").agg(count(lit(1)).as("n"))
      .select(lit("sgv").as("q"), concat(col("collection"), lit("="), col("n")).as("val"))
    val enriched = sv.filter(col("term") === concat_ws("_", col("collection"), col("key")))
      .agg(count(lit(1)).as("n"))
      .select(lit("sgt").as("q"), col("n").cast("string").as("val"))
    val edgeCount = se.agg(count(lit(1)).as("n"))
      .select(lit("sge").as("q"), col("n").cast("string").as("val"))
    catalogSig(paths4, "p4")
      .unionByName(census).unionByName(enriched).unionByName(edgeCount)
      .orderBy("q", "val")
  }

  /** The bucketed hop-table SCALE path as a driver gate: the same catalog
    * 2-hop as q46a, but run via GraphStore.writeHopTables (undirected
    * edge view persisted twice, bucketed+sorted by each hop join key) +
    * PathQuery.runBucketed — the layout where the edge table never
    * shuffles (zero exchanges on a 2-hop, plan-asserted in
    * QueryCatalogSpec). Identical output contract: q46a's oracle. */
  def q53BucketedCatalog(s: SparkSession, dir: String): DataFrame =
    bucketedCatalogGate(s, dir, prodIdx = 2, prefix = "q53_hops", tag = "p1")

  /** Shared body of the bucketed-catalog gates (q53, q82): vertices are
    * never touched (raw graph, not catalogGraph); the edge union IS
    * materialized once — writeHopTables reads it twice (by_src and
    * by_dst), which would re-run the 11-branch union per write. */
  private def bucketedCatalogGate(s: SparkSession, dir: String, prodIdx: Int,
                                  prefix: String, tag: String): DataFrame = {
    val edges = catalogGraphRaw(s, dir)._2.localCheckpoint(true)
    graft.sources.GraphStore.writeHopTables(edges, buckets = 8, prefix)
    catalogSig(QueryCatalog.production(prodIdx).runBucketed(s, prefix), tag)
      .orderBy("q", "val")
  }

  /** Hyperplane-LSH ANN gate with the all-pass bucket (nPlanes = 0): the
    * bucket equi-join + BoundedTopK re-rank run for real over every
    * candidate, making the result exactly brute-force top-k — the q26
    * oracle applies. The bucketed scale path is spec-covered vs brute
    * force. */
  def q48LshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nPlanes = 0)
      .orderBy("query_id", "rank")
  }

  /** Document fingerprint gate under the md5 hash (engine default is
    * xxhash64 — same bottom-k machinery): bottom-8 of rolling char 8-gram
    * hashes on a bounded slice, reproduced verbatim by the oracle. */
  def q49Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"),
        concat_ws(",", TextAnalysis.fingerprintWith(col("text"), md5,
          gram = 8, k = 8)).as("fp"))
      .orderBy("doc_id")

  /** Near-dup clustering gate: connected components over the q19 Jaccard
    * pair graph (transitive closure — A~B, B~C collapse even without an
    * A~C candidate pair), plus the cluster-dedup survivor census as a
    * sentinel row. Oracle: a recursive CTE computing min-reachable-id. */
  def q50NearDupComponents(s: SparkSession, dir: String): DataFrame =
    nearDupComponentsGate(s, dir, Dedup.connectedComponents(_))

  /** Shared body of the near-dup component gates (q50, q85): jaccard
    * pairs → components (via the passed algorithm) → member labels plus
    * a survivor census row. The census comes from the SAME component
    * run (dedupByComponents would re-derive components; its rule — drop
    * non-minimum members — is applied here directly and unit-tested
    * against union-find). */
  private def nearDupComponentsGate(s: SparkSession, dir: String,
      components: DataFrame => DataFrame): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      n = 3, minJaccard = 0.1)
    val cc = components(pairs)
    val losers = cc.filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    val survivors = t(s, dir, "documents")
      .join(losers, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit(-1L).as("id"), col("n").as("component"))
    cc.select(col("id"), col("component")).unionByName(survivors)
      .orderBy("id")
  }

  /** Scale-path twin of q50 under the SAME oracle: components via
    * alternating large-star/small-star contraction
    * ([[Dedup.connectedComponentsStar]]) — O(log d) rounds on deep
    * duplicate chains where label propagation pays O(d) — must
    * reproduce the label-propagation output hash-for-hash. */
  def q85ComponentsStar(s: SparkSession, dir: String): DataFrame =
    nearDupComponentsGate(s, dir, Dedup.connectedComponentsStar(_))

  /** Corpus-split gate: deterministic md5-nibble train/val/test
    * assignment censused per (source, split) — stable under any
    * parallelism, reproduced exactly by the oracle. */
  def q51DeterministicSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("split",
        graft.operators.Scale.deterministicSplit(col("text")))
      .groupBy("source", "split").agg(count(lit(1)).as("n"))
      .orderBy("source", "split")

  /** Redaction gate: emails/URLs/digit runs planted into the document
    * text, scrubbed to typed tokens; the oracle applies the identical
    * RE2-safe patterns, so the full redacted strings hash-compare. */
  def q52Redact(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val salted = concat(substring(col("text"), 1, 80),
      lit(" user"), d, lit("@ex"), d % 7, lit(".com http://ex.org/p"), d,
      lit(" id"), d * 1000003L, lit(" end"))
    t(s, dir, "documents").filter(d < 300)
      .select(d.as("doc_id"),
        graft.operators.TextAnalysis.redact(salted).as("redacted"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination gate: every 40th document stands in as the
    * held-out eval set; a training doc is contaminated when any word
    * 5-gram of it appears verbatim in the eval set (the GPT-3/Llama
    * n-gram-collision rule). Census per source of train vs contaminated
    * counts. The eval shingle set is broadcast — the corpus side never
    * shuffles its text. */
  def q54Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 40 === 0)
    val train = docs.filter(col("doc_id") % 40 =!= 0)
    val bad = Corpus.contaminatedIds(train, bench, "doc_id", "text", n = 5)
      .withColumn("__c", lit(1))
    train.join(bad, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
        count(col("__c")).as("n_contaminated"))
      .orderBy("source")
  }

  /** Sequence-packing gate: documents in deterministic md5-shuffled order,
    * token offsets accumulated corpus-wide (two-phase distributed prefix
    * sum — never a single-partition window), 1000-token training
    * sequences. Census per sequence: docs, tokens, boundary-crossers.
    * The oracle replays the same layout with one global window. */
  def q55PackSequences(s: SparkSession, dir: String): DataFrame =
    Corpus.packSequences(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 1000L)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum(when(col("crosses_boundary"), 1L).otherwise(0L)).as("n_crossing"))
      .orderBy("seq_id")

  /** Stratified-sampling gate: each language stratum downsampled to
    * ~150 docs by the deterministic md5-threshold rule (first 8 hex
    * digits under floor(rate·2³²), lexicographic = numeric on
    * equal-length hex). Bit-for-bit reproducible in any engine. */
  def q56StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Corpus.stratifiedSample(t(s, dir, "documents"), Seq("lang"),
        col("text"), target = 150L)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")

  /** Repetition-scoring gate: per-document duplicate word-bigram ratio
    * (1 − distinct/total windows) — the standard repetitive-document
    * quality signal, one codegen'd WordShingles pass per row. */
  def q57Repetition(s: SparkSession, dir: String): DataFrame =
    Corpus.repetitionStats(t(s, dir, "documents").filter(col("doc_id") < 500))
      .orderBy("doc_id")

  /** TF-IDF salient-terms gate: top-3 terms per document by
    * tf × (N/df) — the ln-free rational idf, so both engines compute
    * bit-identical doubles. df spans the FULL corpus; output is bounded
    * to the first 50 docs. */
  def q58TfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    Corpus.tfidfTopTerms(t(s, dir, "documents"), k = 3)
      .filter(col("doc_id") < 50)
      .orderBy("doc_id", "rank")

  /** Corpus-statistics gate: exact discrete percentiles (value at rank
    * ceil(p·n) — interpolation-free, so integer-exact in any engine) of
    * per-document token counts, per source. */
  def q59TokenPercentiles(s: SparkSession, dir: String): DataFrame =
    Corpus.discPercentiles(
        t(s, dir, "documents").select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "source", col("n_tokens"), Seq(0.5, 0.9, 0.99))
      .orderBy("source")

  /** Z-order clustering gate: the Morton key over (quantized doc length,
    * doc_id mod 256) — the 2-d data-skipping layout key
    * ([[graft.operators.Scale.zValue]]), pure shift/mask arithmetic the
    * oracle reproduces term by term. ZOrderSpec quantifies the pruning
    * effect; here the key values themselves are gated. */
  def q60Zorder(s: SparkSession, dir: String): DataFrame = {
    val x = graft.operators.Scale.quantize(col("n_chars"), 0.0, 4000.0, 8)
    val y = col("doc_id") % 256
    t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), x.as("x_cell"), y.as("y_cell"),
        graft.operators.Scale.zValue(x, y, 8).as("zval"))
      .orderBy("doc_id")
  }

  /** Incremental-dedup gate: 90% of the corpus (doc_id % 10 != 3) is
    * written as a persisted LSH index bucketed by (band, bucket); the
    * interleaved remainder joins against it as a new ingest batch (md5
    * families, q20's 4-gram/k=8/4-band config, whole pipeline reproduced
    * by the oracle — the split straddles several q20 pairs, so the gate
    * is non-vacuous). The scale property — the index side never
    * shuffles — is plan-asserted in DedupSpec. */
  def q61LshIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.writeLshIndex(docs.filter(col("doc_id") % 10 =!= 3),
      n = 4, k = 8, bands = 4,
      hashFamily = Dedup.md5HashFamily, bucketFamily = Dedup.md5BucketFamily,
      buckets = 4, table = "q61_lsh_index")
    Dedup.lshAgainstIndex(docs.filter(col("doc_id") % 10 === 3), "q61_lsh_index",
        n = 4, k = 8, bands = 4,
        hashFamily = Dedup.md5HashFamily, bucketFamily = Dedup.md5BucketFamily)
      .orderBy("id_new", "id_idx")
  }

  /** Chunking gate: 200-char context windows every 150 chars (overlap 50)
    * over the first 50 docs — exact window strings gated, so substring
    * arithmetic, stride layout, and tail handling all hash-compare. */
  def q62Chunk(s: SparkSession, dir: String): DataFrame =
    Corpus.chunk(t(s, dir, "documents").filter(col("doc_id") < 50),
        size = 200, stride = 150)
      .orderBy("doc_id", "chunk_id")

  /** Mixture-reweighting gate: each source downsampled toward an
    * 800-TOKEN budget (weight = whitespace token count) by the
    * deterministic md5-threshold rule. Census per source of kept docs
    * and kept tokens. */
  def q63TokenBudgetSample(s: SparkSession, dir: String): DataFrame =
    Corpus.stratifiedSampleByWeight(t(s, dir, "documents"), Seq("source"),
        col("text"), TextAnalysis.tokenCount(col("text")), budget = 800L)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("kept_tokens"))
      .orderBy("source")

  /** q64a–q64e: the training-data curation flow (quality gate → exact
    * dedup on md5(text) → near-dup components → benchmark decontamination
    * → split labeling) over documents, with every 40th doc as the eval
    * set — one gate PER STAGE (per-stage bench attribution, same
    * recursive-CTE oracle family sharing CTE prefixes). The pipeline runs
    * ONCE per JVM per data directory — `curateCorpus` checkpoints every
    * stage and exposes them via `Curation.stages`, so each gate censuses
    * its stage's already-materialized blocks instead of re-running the
    * stage prefix (the first q64 gate to run pays the one pipeline job;
    * the other four read checkpointed blocks). */
  private def curationTrain(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") % 40 =!= 0)
  private def curationBench(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") % 40 === 0)
  private def bySource(df: DataFrame): DataFrame =
    df.groupBy("source").agg(count(lit(1)).as("n")).orderBy("source")

  // One curation run per JVM per data directory: the first q64 gate runs
  // `curateCorpus` and writes every stage's output under a run-scoped
  // tmp path (pid-keyed — concurrent gate processes can't collide); the
  // other four gates read their stage's parquet back. Durable files, not
  // cached blocks: the harness unpersists all RDDs between gates, which
  // would orphan localCheckpoint lineage. At 100 TB these per-stage
  // writes ARE the production shape — each stage lands in storage and
  // downstream attribution reads it, never re-running the prefix.
  private val curationRuns =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def curationStage(s: SparkSession, dir: String,
                            stage: String): DataFrame = {
    val base = curationRuns.computeIfAbsent(dir, _ => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_curation_" +
        s"${java.lang.ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val cur = graft.plans.Pipelines.curateCorpus(
        curationTrain(s, dir), curationBench(s, dir),
        // benchN = 5: MUST match the oracle family's [i:i+4] slices
        autoSkewSalting = true)
      (cur.stages + ("split" -> cur.corpus)).foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$out/$name")
      }
      out
    })
    pqImmutable(s, s"$base/$stage")
  }

  def q64aCurationQuality(s: SparkSession, dir: String): DataFrame =
    bySource(curationStage(s, dir, "quality"))

  def q64bCurationExact(s: SparkSession, dir: String): DataFrame =
    bySource(curationStage(s, dir, "exact"))

  def q64cCurationNeardup(s: SparkSession, dir: String): DataFrame =
    bySource(curationStage(s, dir, "neardup"))

  def q64dCurationDecontam(s: SparkSession, dir: String): DataFrame =
    bySource(curationStage(s, dir, "decontam"))

  def q64eCurationSplit(s: SparkSession, dir: String): DataFrame =
    curationStage(s, dir, "split")
      .groupBy("split").agg(count(lit(1)).as("n")).orderBy("split")

  /** Skew-diagnostic gate: the 5 hottest event users with corpus share
    * and ratio-to-median-key — the report run before choosing a skew
    * lever for a 100 TB join. Fully deterministic (count-desc, key-asc
    * ties), so the whole report hash-compares. */
  def q65SkewReport(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.skewReport(events(s, dir), "user_id", topK = 5)
      .orderBy("rank")

  /** Duplicate-passage gate: 8-gram word spans shared by ≥2 documents
    * with their carrier count and smallest carrier — the repeated-
    * boilerplate signal behind exact substring dedup. */
  def q66DuplicatePassages(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatePassages(t(s, dir, "documents"), n = 8, minDocs = 2)
      .orderBy("shingle")

  /** ORC interchange gate: documents round-trip through Spark's built-in
    * columnar ORC source/sink (with a pushed-down predicate on the read
    * side), then census per source — the oracle computes the same census
    * from the parquet originals, so the gate fails on any loss or type
    * drift across the format boundary. */
  def q67OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // per-process path: a fixed tmpdir name would race concurrent gate
    // runs (overwrite-vs-read on the same directory)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_q67_orc_" +
      java.lang.ProcessHandle.current().pid()
    t(s, dir, "documents").write.mode("overwrite").orc(out)
    s.read.orc(out)
      .filter(col("doc_id") % 2 === 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  /** Batch sessionization gate (gaps-and-islands, 30-min gap): one row
    * per (user, session) with event count, start, duration — all integer
    * epoch-micros, so the whole layout hash-compares. */
  def q68Sessionize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.sessionize(events(s, dir), gapSeconds = 1800L)
      .orderBy("user_id", "session_idx")

  /** Ordered-funnel gate: signup → view → purchase by strictly
    * increasing first-occurrence times; per-step completing users. */
  def q69Funnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.funnel(events(s, dir),
        Seq("signup", "view", "purchase"))
      .orderBy("step")

  /** Cohort-retention gate: weekly cohorts by first activity, per-offset
    * active-user counts (pure integer epoch-micros division). */
  def q70Retention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.retention(events(s, dir), periodDays = 7)
      .orderBy("cohort", "period_offset")

  /** As-of join gate: every purchase attributed to the user's latest
    * click at-or-before it (inclusive), nulls when no prior click. The
    * oracle is DuckDB's NATIVE ASOF LEFT JOIN — two independent
    * implementations of the same semantics; the engine side is the
    * union+carry-forward window (one shuffle, no range explosion). */
  def q71AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(min("event_id").as("click_id"))
    graft.operators.Events.asofJoin(purchases, clicks,
        "user_id", "ts", "click_id")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("asof_click_id"), col("asof_us"))
      .orderBy("event_id")
  }

  /** Range-join gate: every error event assigned to the user session
    * containing it (sessions from the q68 layout; sessions are disjoint
    * so each error hits exactly one). Engine side is the binned
    * equi-join — never a nested-loop; the oracle is a plain BETWEEN
    * range join over the same session CTE. */
  def q72RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val sessions = graft.operators.Events.sessionize(ev, gapSeconds = 1800L)
      .select(col("user_id"), col("session_idx"), col("start_us"),
        (col("start_us") + col("duration_us")).as("end_us"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("err_us"))
    graft.operators.Events.rangeJoin(errors, sessions,
        "user_id", "err_us", "start_us", "end_us")
      .select("event_id", "user_id", "err_us", "session_idx")
      .orderBy("event_id")
  }

  /** Multidimensional-aggregate gate: ROLLUP over (returnflag,
    * linestatus) with GROUPING markers — subtotal and grand-total rows
    * computed in one pass (Spark expands grouping sets inside the same
    * hash aggregate, no extra scan per level). Decimal-exact sums keep
    * the doubles bit-identical cross-engine. */
  def q73Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")

  /** CUBE twin of q73 — all four grouping-set combinations of
    * (returnflag, linestatus) in one hash-aggregate pass (Spark expands
    * the sets inside the same aggregate, no extra scans per level);
    * GROUPING markers disambiguate subtotal rows from real NULL groups.
    * Completes the multidimensional-aggregate family: ROLLUP (q73),
    * CUBE (here), PIVOT (q76). */
  def q125Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")

  /** Sampled-quantiles gate: deterministic md5-ordered bottom-1000 sample
    * of lineitem quantities, exact disc percentiles off the sample. The
    * engine plans the sample as a map-side partial top-k
    * (TakeOrderedAndProject, CorpusSpec plan assertion); the oracle
    * replays the same hash order with ORDER BY + LIMIT. */
  def q74SampledQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.sampledQuantiles(
      t(s, dir, "lineitem"),
      concat_ws(":", col("l_orderkey"), col("l_linenumber")),
      col("l_quantity"), k = 1000, ps = Seq(0.5, 0.9, 0.99))

  /** Encoding-hygiene gate: control chars and U+FFFD mojibake markers
    * planted into document text (chr-for-chr mirrored by the oracle),
    * counted by the strip-and-diff features, and scrubbed — counts AND
    * the scrubbed text both hash-compare. */
  def q75Encoding(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(substring(col("text"), 1, 60),
      lit("\u0001"), lit("x"), lit("\u0007"),
      when(col("doc_id") % 3 === 0, lit("\ufffd\ufffd")).otherwise(lit("")))
    val feats = graft.operators.TextAnalysis.encodingFeatures(planted)
    t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"),
        feats.getField("n_control").as("n_control"),
        feats.getField("n_replacement").as("n_replacement"),
        graft.operators.TextAnalysis.scrubControlChars(planted)
          .as("scrubbed"))
      .orderBy("doc_id")
  }

  /** Pivot gate: linestatus values spread to columns with decimal-exact
    * quantity sums per returnflag — Spark plans an explicit-values pivot
    * as ONE aggregate pass (no per-value scan); the oracle is the
    * equivalent conditional aggregation. */
  def q76Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")))
      .orderBy("l_returnflag")

  /** FreqSketch LOWER-BOUND gate: a deliberately skewed key (1/3 of the
    * corpus on one 'HOT' item + a singleton tail) sketched at k=9 far
    * below the vocabulary, then every GUARANTEED item (true count >
    * n/(k+1)) is checked against the Misra-Gries contract:
    * true ≥ estimate ≥ true − n/(k+1). The ok verdict — not the
    * merge-order-dependent estimate — is the gated output, so the
    * guarantee itself becomes a driver gate. */
  def q77FreqSketchBound(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "documents").select(
      when(col("doc_id") % 3 === 0, lit("HOT"))
        .otherwise(concat(lit("doc_"), col("doc_id"))).as("item"))
      .localCheckpoint(true) // read by sketch + exact census + total
    val sk = keyed
      .agg(graft.functions.VectorExpressions.freqSketch(col("item"), 9).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item").as("item"), col("e.est").as("est"))
    val exact = keyed.groupBy("item").agg(count(lit(1)).as("true_n"))
    val tot = keyed.agg(count(lit(1)).as("n_total"))
    exact.crossJoin(broadcast(tot))
      .filter(col("true_n") > col("n_total") / lit(10.0)) // n/(k+1), k=9
      .join(sk, Seq("item"), "left")
      .select(col("item"), col("true_n"),
        (col("est").isNotNull && col("est") <= col("true_n") &&
          col("est") >= col("true_n") - col("n_total") / lit(10.0)).as("ok"))
      .orderBy("item")
  }

  /** KLL-sketch guarantee gate (the q77 pattern for quantiles): sketch
    * l_extendedprice at m=400, read 5 quantiles off the summary, and gate
    * the CONTRACT — |true_rank(estimate) − ceil(p·n)| ≤ the summary's own
    * err_bound, err_bound within the partitioning-independent mass-budget
    * n·log2(2n/m)/m (with 2× slack), and Σ item weights = n. True ranks
    * come from one broadcast pass over the data; only the boolean
    * verdicts are output, so merge-order shifts never reach the hash. */
  def q78KllBound(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions._
    val vals = t(s, dir, "lineitem")
      .select(col("l_extendedprice").cast("double").as("v"))
    val m = 400
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    val sk = vals.agg(kllSketch(col("v"), m).as("s"))
      .select(col("s"),
        aggregate(col("s.items"), lit(0L), (acc, x) => acc + x.getField("w"))
          .as("mass"))
      .localCheckpoint(true)
    val ests = sk.select(
      col("s.n").as("n"), col("s.err_bound").as("err"), col("mass"),
      explode(array(qs.map(p =>
        struct(lit(p).as("p"), kllQuantile(col("s"), p).as("est"))): _*)).as("q"))
      .select(col("n"), col("err"), col("mass"),
        col("q.p").as("p"), col("q.est").as("est"))
    // tie-safe rank band: the estimate's true ranks span
    // [count(v < est) + 1, count(v <= est)]; the contract holds iff that
    // interval intersects [target − err, target + err] (a plain
    // count(v <= est) check would spuriously fail on tie-heavy columns
    // where the estimate's duplicate count alone exceeds err)
    val ranks = vals.crossJoin(broadcast(ests))
      .groupBy("p", "n", "err", "mass", "est")
      .agg(count(when(col("v") < col("est"), 1)).as("rank_lt"),
        count(when(col("v") <= col("est"), 1)).as("rank_le"))
    val quantileChecks = ranks.select(
      concat(lit("p"), col("p")).as("chk"),
      (col("rank_lt") < ceil(col("p") * col("n")) + col("err") &&
        col("rank_le") >= ceil(col("p") * col("n")) - col("err")).as("ok"))
    val budget = ests.limit(1).select(
      lit("err_budget").as("chk"),
      (col("err") <= lit(2.0) * col("n") *
        (log(lit(2.0) * col("n") / m) / log(lit(2.0))) / lit(m)).as("ok"))
    val mass = ests.limit(1).select(
      lit("mass_conserved").as("chk"), (col("mass") === col("n")).as("ok"))
    quantileChecks.unionByName(budget).unionByName(mass).orderBy("chk")
  }

  /** Fuzzy-decontamination gate: MinHash-LSH similarity between the
    * train split and the every-40th-doc eval split under the md5
    * families (k=8, 4 bands, est ≥ 0.25) — the paraphrase-robust twin of
    * q54's exact-shingle test, fully reproduced by the DuckDB oracle
    * (q37's oracle machinery applied across two tables). Per-source
    * census of train size and contaminated count. */
  def q79FuzzyDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bad = Corpus.fuzzyContaminatedIds(
      docs.filter(col("doc_id") % 40 =!= 0),
      docs.filter(col("doc_id") % 40 === 0),
      "doc_id", "text", n = 3, k = 8, bands = 4, minEstJaccard = 0.25,
      hashFamily = Dedup.md5HashFamily,
      bucketFamily = Dedup.md5BucketFamily)
    docs.filter(col("doc_id") % 40 =!= 0)
      .join(bad.withColumn("__bad", lit(1)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"), count(col("__bad")).as("n_contaminated"))
      .orderBy("source")
  }

  /** Cardinality-sketch gate (the q77/q78 pattern for distinct counts):
    * Spark's native HLL++ (`approx_count_distinct`, rsd 0.05) per event
    * type over the high-cardinality user key, checked against the exact
    * distinct count — |approx − exact| must stay within 4·rsd·exact.
    * Exact counts + boolean verdicts are the output (HLL++ is
    * deterministic for fixed data, but the bound — not the estimate —
    * is the contract worth gating). At 100 TB the sketch is the only
    * viable distinct count: fixed 2^p-byte state per group, one pass,
    * mergeable — vs a full shuffle of every distinct (type, user) pair
    * for the exact form. */
  def q80ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.05).as("__a"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("__a") - col("n_exact")).cast("double")
          <= lit(4 * 0.05) * col("n_exact")).as("ok"))
      .orderBy("event_type")
  }

  /** Scale-path twin of q68 under the SAME oracle: chunk-and-stitch
    * sessionization (per-(user, bucket) windows + summary stitch — no
    * per-user single-task ceiling) must reproduce the exact
    * gaps-and-islands output hash-for-hash. */
  def q81SessionizeChunked(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.sessionizeChunked(events(s, dir),
        gapSeconds = 1800L)
      .orderBy("user_id", "session_idx")

  /** Scale-path twin of q46b under the SAME oracle: the catalog
    * hierarchy shape executed over bucketed hop tables
    * (PathQuery.runBucketed → kHopBucketed + withHierarchyBucketed,
    * where neither the hop joins nor the per-level hierarchy joins ever
    * shuffle the edge side). */
  def q82BucketedHierarchy(s: SparkSession, dir: String): DataFrame =
    bucketedCatalogGate(s, dir, prodIdx = 19, prefix = "q82_hops", tag = "p2")

  /** Grouped-KLL gate (q78's contract through the groupBy path):
    * approxPercentiles of l_quantity per returnflag — each group's
    * p25/p50/p75 estimate must sit within the group's OWN certified
    * err_bound of the exact rank-pick percentile (computed exactly in
    * the same query), and n_rows must be the exact group size. Output =
    * group, n_rows, per-p booleans; the oracle reproduces group sizes
    * and pins the verdicts TRUE. */
  def q83GroupedKllBound(s: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.75)
    val vals = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("double").as("v"))
    val approx = Corpus.approxPercentiles(vals, "g", col("v"), ps, k = 256)
    val exact = Corpus.discPercentiles(vals, "g", col("v"), ps)
      .select(Seq(col("g")) ++ ps.map { p =>
        val l = "p" + (p * 100).round.toInt
        col(l).as(s"x_$l")
      } :+ col("n_rows").as("x_n"): _*)
    // compare in RANK space, tie-safely: count the values sitting
    // STRICTLY between the approximate and exact answers — that count
    // is the true rank distance and must be ≤ the group's err_bound
    // (0 when the answers coincide). One broadcast of the tiny
    // per-group answer frame, one conditional-agg pass over the data.
    val est = broadcast(approx.join(exact, Seq("g")))
    val spans = vals.join(est, Seq("g"))
    val verdicts = ps.map { p =>
      val l = "p" + (p * 100).round.toInt
      val lo = least(col(l), col(s"x_$l"))
      val hi = greatest(col(l), col(s"x_$l"))
      sum(when(col("v") > lo && col("v") < hi, 1L).otherwise(0L)).as(s"__btw_$l")
    }
    spans.groupBy("g", "err_bound", "n_rows", "x_n")
      .agg(verdicts.head, verdicts.tail: _*)
      .select(Seq(col("g"), col("n_rows"),
        (col("n_rows") === col("x_n")).as("n_ok")) ++
        ps.map { p =>
          val l = "p" + (p * 100).round.toInt
          (col(s"__btw_$l") <= col("err_bound")).as(s"ok_$l")
        }: _*)
      .orderBy("g")
  }

  /** Gopher-rules gate: the composite web-corpus quality filter
    * (token-count window, mean-word-length band, symbol-token ratio,
    * alphabetic-token ratio, minimum stopword hits) as one narrow
    * scan-level predicate; per-source census of docs vs survivors. The
    * oracle reproduces every rule in closed form. */
  def q84GopherFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(graft.operators.TextAnalysis.gopherKeep(col("text")), 1L)
          .otherwise(0L)).as("n_kept"))
      .orderBy("source")

  /** Scale-path twin of q54 under the SAME oracle: decontamination
    * through the bloom prefilter ([[Corpus.contaminatedIdsBloom]] —
    * eval shingles as a codegen'd `might_contain` bloom on the train
    * scan, exact verify join behind it) must reproduce the
    * broadcast-semi-join census hash-for-hash. */
  def q86DecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 40 === 0)
    val train = docs.filter(col("doc_id") % 40 =!= 0)
    val bad = Corpus.contaminatedIdsBloom(train, bench, "doc_id", "text", n = 5)
      .withColumn("__c", lit(1))
    train.join(bad, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
        count(col("__c")).as("n_contaminated"))
      .orderBy("source")
  }

  /** SQ8 compressed-corpus ANN gate: per-dimension min/max stats, the
    * 0..255 affine codes, the decode, and the asymmetric cosine top-k
    * are ALL reproduced by the oracle (double arithmetic end-to-end, so
    * the scores hash bit-for-bit like q26/q27). */
  def q87SqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.sqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64)
      .orderBy("query_id", "rank")
  }

  /** PQ compressed-corpus ANN gate, deterministic codebooks (subspace
    * codewords = the first 16 rows' subvectors, SQL-reproducible):
    * per-subspace L2 codeword assignment, the m-byte codes, the
    * concatenated reconstruction, and the asymmetric cosine top-k all
    * replay cell-exact in the oracle. The k-means trainer ([[Similarity.pqTrain]])
    * swaps in different codebooks without touching this machinery. */
  def q88PqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = Similarity.pqCodebooksFromRows(emb, dim = 64, m = 8, k = 16)
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, cb)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ persisted-index gate, scale-twin of q88 under the SAME
    * oracle: the full write-index → prune → ADC-re-rank path with
    * nProbe = nCells (candidates = whole corpus) must reproduce
    * [[Similarity.pqTopK]]'s ranking hash-for-hash — the coarse
    * quantizer can shape PRUNING but must never change the scores. */
  def q89IvfPqIndex(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = Similarity.pqCodebooksFromRows(emb, dim = 64, m = 8, k = 16)
    val centroids = Similarity.trainCentroids(emb, nCells = 16)
    // per-process path: a fixed tmpdir name would race concurrent runs
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q89_ivfpq_" +
      java.lang.ProcessHandle.current().pid()
    Similarity.writeIvfPqIndex(emb, centroids, cb, path)
    Similarity.queryIvfPqIndex(s, path, centroids, cb,
        emb.filter(col("vec_id") < 10), k = 5, nProbe = 16)
      .orderBy("query_id", "rank")
  }

  /** The fixed ranked-retrieval queries shared by q90/q91 (tokens drawn
    * from the synthetic documents vocabulary so every query matches). */
  private val bm25GateQueries = Seq((0L, "spark window agg"),
    (1L, "hash join table"), (2L, "stream batch filter"))

  /** BM25 ranked-retrieval gate — the scoring half of the reference's
    * ArangoSearch views (the N1-N3 gates cover analyzers + token MATCH;
    * this ranks). Rational idf (lnIdf = false): every operation is IEEE
    * +,·,/ so the oracle reproduces scores bit-for-bit (the q58 trick);
    * the production ln-idf path is spec-pinned in SearchIndexSpec. */
  def q90Bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SearchIndex.bm25TopK(t(s, dir, "documents"),
        bm25GateQueries.toDF("query_id", "qtext"), k = 10, lnIdf = false)
      .orderBy("query_id", "rank")
  }

  /** BM25 ranked-VIEW twin of q90 under the SAME oracle: build the
    * bucketed tf/df/meta tables once, probe them — the view only moves
    * the corpus-statistics pass to build time, so scores must be
    * hash-identical to the one-shot path. */
  def q91Bm25View(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SearchIndex.createBm25View(t(s, dir, "documents"), "q91_bm25",
      buckets = 8)
    SearchIndex.bm25Query(s, "q91_bm25",
        bm25GateQueries.toDF("query_id", "qtext"), k = 10, lnIdf = false)
      .orderBy("query_id", "rank")
  }

  /** Incremental BM25 view gate: the view is built over 80% of the
    * corpus, the remaining 20% is folded in through
    * [[SearchIndex.appendToBm25View]] (postings append + df monoid merge
    * + meta re-derive), and the probe runs under the SAME oracle as
    * q90/q91 — the appended view must be cell-identical to one built
    * over the whole corpus at once. */
  def q111Bm25Append(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    SearchIndex.createBm25View(docs.filter(col("doc_id") % 5 =!= 0),
      "q111_bm25", buckets = 8)
    SearchIndex.appendToBm25View(docs.filter(col("doc_id") % 5 === 0),
      "q111_bm25", buckets = 8)
    SearchIndex.bm25Query(s, "q111_bm25",
        bm25GateQueries.toDF("query_id", "qtext"), k = 10, lnIdf = false)
      .orderBy("query_id", "rank")
  }

  /** Weighted-HITS gate: 4 unnormalized rounds over the q103 weighted
    * graph (unique (src, dst) pairs, summed integer weights) — each
    * contribution is `w·hub` / `w·auth`, per-term multiply exact, folds
    * source-sorted, so the oracle replays cell-exact. Completes the
    * weighted × {PageRank, HITS} matrix. */
  def q112WeightedHits(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"),
        (col("o_orderkey") % 7 + 1).as("w0"))
      .groupBy("src", "dst").agg(sum("w0").as("w"))
    GraphAlgos.hits(edges, iterations = 4, weightCol = Some("w"),
        exactFolds = true)
      .orderBy("node")
  }

  /** Eigenvector-centrality gate: 5 power-iteration rounds over the q98
    * graph, renormalized by the round max (fold-order-free, division
    * exact) — the no-base-mass companion to PageRank. */
  def q113EigenvectorCentrality(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    GraphAlgos.eigenvectorCentrality(edges, iterations = 5,
        exactFolds = true)
      .orderBy("node")
  }

  /** k-core gate: iterative peeling on the q113 graph at k = 14 —
    * chosen so the gate forces REAL peel rounds at every scale factor
    * (min degree is 6 at sf0.001 and 11–12 at sf0.01/0.1, so the old
    * k=3 made the whole graph a trivial 3-core and the peel loop a
    * no-op). Measured before pinning: k=14 peels 3/4/2 rounds at
    * sf0.001/0.01/0.1 and leaves a NON-EMPTY core at the gate scales
    * (185 nodes at sf0.01, 190 at sf0.1; sf0.001 dissolves — also a
    * real assertion), with peel depth well under the oracle's 16
    * unrolled rounds. Integer-exact
    * end to end; the oracle unrolls the same 16 rounds as the engine's
    * maxRounds so the two bounds cannot drift, while the engine side
    * observes its own convergence and fails fast if `maxRounds` were
    * ever too small — so a silent divergence cannot slip through as a
    * hash mismatch. */
  def q116KCore(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    GraphAlgos.kCore(edges, k = 14, maxRounds = 16)
      .orderBy("node")
  }

  /** Streaming-restart replay gate for the BM25 ingest: seed the view
    * over 80% of the corpus, fold in the remaining 20% as micro-batch 0
    * through [[graft.streaming.Streams.applyBm25Batch]] — then deliver
    * THE SAME batch again, simulating a foreachBatch restart replay.
    * The append path is NOT idempotent (a re-applied batch doubles the
    * df counts and shifts every score), so this gate is green only if
    * the batch-id high-water guard makes the redelivery a no-op; it
    * probes under the same oracle as q90/q91/q111 (view ≡ one built
    * over the whole corpus at once). */
  def q117Bm25ReplayedIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    // fresh guard per run: the gate must be re-runnable in one JVM
    // (Bench runs every query twice) AND across JVMs — with the
    // in-memory catalog a previous run's guard table survives only as
    // a warehouse DIRECTORY, which saveAsTable(append) refuses to
    // adopt, so drop the catalog entry and the orphaned location both
    s.sql("DROP TABLE IF EXISTS q117_bm25_ingest_meta")
    val guardLoc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q117_bm25_ingest_meta")
    guardLoc.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(guardLoc, true)
    SearchIndex.createBm25View(docs.filter(col("doc_id") % 5 =!= 0),
      "q117_bm25", buckets = 8)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    graft.streaming.Streams.applyBm25Batch(batch, 0L, "q117_bm25", 8,
      "doc_id", "text")
    graft.streaming.Streams.applyBm25Batch(batch, 0L, "q117_bm25", 8,
      "doc_id", "text") // the simulated restart redelivery
    SearchIndex.bm25Query(s, "q117_bm25",
        bm25GateQueries.toDF("query_id", "qtext"), k = 10, lnIdf = false)
      .orderBy("query_id", "rank")
  }

  /** CDC replay twin of q92: the whole update batch is delivered TWICE
    * (the at-least-once redelivery every non-transactional streaming
    * sink must tolerate) — latest-wins merge is idempotent by
    * construction, so the result must equal plain q92 under the
    * IDENTICAL oracle. A merge that accumulated (counted, summed,
    * appended) instead of keeping the winner goes red here. */
  def q118MergeReplayed(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        lit(0).as("version"), lit(false).as("deleted"))
    val upd = t(s, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, "U1").otherwise("T0").as("status"),
        when(col("o_orderkey") % 7 === 0, 1).otherwise(0).as("version"),
        (col("o_orderkey") % 21 === 0).as("deleted"))
    graft.operators.Merge.mergeLatest(base, upd.union(upd),
        Seq("o_orderkey"), "version", deleteCol = Some("deleted"))
      .filter(col("o_orderkey") < 400)
      .select("o_orderkey", "status", "version")
      .orderBy("o_orderkey")
  }

  /** PII-redaction gate: plant deterministic PII into the documents
    * text (an email per doc, an IP every 3rd, a phone every 5th —
    * `concat_ws` drops the null slots), scrub with [[Corpus.redactPii]],
    * and return the redacted text plus per-category counts. The
    * patterns live in the Java∩RE2 regex subset, so DuckDB's
    * regexp_replace/regexp_extract_all replay the scrub byte-for-byte. */
  def q119PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents")
      .select(col("doc_id"), concat_ws(" ", col("text"),
        concat(lit("user"), col("doc_id"), lit("@example.com")),
        when(col("doc_id") % 3 === 0,
          concat(lit("10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") % 100).cast("string"))),
        when(col("doc_id") % 5 === 0, lit("+1 555-123-4567"))).as("text"))
    Corpus.redactPii(planted)
      .filter(col("doc_id") < 300)
      .select("doc_id", "text", "n_email", "n_ipv4", "n_phone", "n_ssn",
        "n_pii")
      .orderBy("doc_id")
  }

  /** Duplicate-span masking gate (exact-substring dedup, Lee et al.
    * 2022): every 7th document gets a fixed 10-token sentence appended —
    * a span shared by ~70 docs at sf0.01 — and the corpus's planted
    * exact-duplicate documents share ALL their 8-gram spans. Both must
    * come back masked (the shared sentence cut out of otherwise-unique
    * docs; the exact dups fully emptied), while unique text survives
    * token-for-token. Pure integer/string semantics — the DuckDB oracle
    * replays the shingle/count/coverage pipeline with list functions. */
  def q120SpanMask(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents")
      .select(col("doc_id"), when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" the quick brown fox jumps over the lazy sleeping dog")))
        .otherwise(col("text")).as("text"))
    Corpus.maskDuplicateSpans(planted, n = 8)
      .filter(col("doc_id") < 300)
      .orderBy("doc_id")
  }

  /** Frequency-THRESHOLDED span masking (r10 verdict item 5): mask only
    * spans with >= 10 corpus-wide occurrences. Two spans are planted at
    * different frequencies — the q120 sentence on every 7th doc (~430
    * occurrences at sf0.01, qualifies) and a second sentence on exactly
    * THREE fixed docs (11/18/25 — above the default minCount=2, so the
    * un-thresholded mask WOULD cut it, but below 10, so here it must
    * survive verbatim). Proves threshold-masking ≡ full-masking
    * restricted to qualifying spans: the oracle is q120's replay with
    * the HAVING floor raised, and CorpusSpec pins the operator identity
    * maskDuplicateSpans(minCount=N) ≡ maskSpansAgainst(
    * duplicateSpanHashes(minCount=N)) directly. The 100 TB point of the
    * threshold: the duplicated-span side table shrinks ∝ 1/minCount
    * (≤ total occurrences / minCount distinct spans can qualify), which
    * is what keeps the covered-positions join bounded on a saturated
    * corpus — measured at the sf100open decade (PLANS.md round 11). */
  def q310SpanMaskThreshold(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents")
      .select(col("doc_id"), when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" the quick brown fox jumps over the lazy sleeping dog")))
        .when(col("doc_id").isin(11L, 18L, 25L),
          concat(col("text"),
            lit(" pack my box with five dozen large liquor jugs tonight")))
        .otherwise(col("text")).as("text"))
    Corpus.maskDuplicateSpans(planted, n = 8, minCount = 10)
      .filter(col("doc_id") < 300)
      .orderBy("doc_id")
  }

  /** Directional as-of gate — the forward and nearest faces of q71's
    * backward join over the same purchases/clicks layout. Forward is
    * oracled by DuckDB's native ASOF with the inequality flipped
    * (`l.ts <= r.ts`); nearest is the CASE over both native joins
    * (backward wins distance ties — the pandas merge_asof convention,
    * mirrored in the engine). */
  def q121AsofDirections(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(min("event_id").as("click_id"))
    val fwd = graft.operators.Events.asofJoin(purchases, clicks,
        "user_id", "ts", "click_id", direction = "forward")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("asof_click_id").as("fwd_click_id"),
        col("asof_us").as("fwd_us"))
    val near = graft.operators.Events.asofJoin(purchases, clicks,
        "user_id", "ts", "click_id", direction = "nearest")
      .select(col("event_id"),
        col("asof_click_id").as("near_click_id"),
        col("asof_us").as("near_us"))
    fwd.join(near, "event_id")
      .orderBy("event_id")
  }

  /** Gap-fill gate: every user's event stream regularized onto a daily
    * grid with LOCF ([[graft.operators.Events.resampleLocf]] — bounds
    * agg, narrow grid explode, one as-of shuffle). The oracle rebuilds
    * the grid with generate_series and fills with native ASOF. */
  def q122ResampleLocf(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val obs = ev.groupBy(col("user_id"), col("ts"))
      .agg(min("event_id").as("event_id"))
    graft.operators.Events.resampleLocf(obs, "user_id", "ts", "event_id",
        stepUs = 86400000000L)
      .filter(col("user_id") < 50)
      .select("user_id", "grid_us", "asof_event_id", "asof_us")
      .orderBy("user_id", "grid_us")
  }

  /** Windowed sequential-funnel gate: signup → view → purchase where
    * each step must land strictly after the previous step's completion
    * and within 24 h of it. Measured non-vacuous before pinning:
    * 150/39/15 users at sf0.01 vs 150/150/150 unwindowed and
    * 150/71/21 for q69's first-occurrence form — the three faces are
    * genuinely different semantics. Oracle = per-step iterative CTEs. */
  def q123FunnelWindow(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Events.funnelSequential(events(s, dir),
        Seq("signup", "view", "purchase"),
        windowUs = Some(86400000000L))
      .orderBy("step")
  }

  /** Quality-aware dedup-survivor gate: the q50 near-dup clusters with
    * the survivor rule production dedup actually uses — keep the
    * highest-`n_chars` member (ties → lowest id), not an arbitrary
    * min-id one. One row per cluster: (component, survivor_id,
    * n_members). Oracle = q50's recursive component CTE + a window
    * rank over (n_chars DESC, id ASC). */
  def q124DedupBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.1)
    Dedup.componentBest(docs, pairs, "n_chars")
      .orderBy("component")
  }

  /** Community-detection gate: 4 synchronous label-propagation sweeps
    * (most-frequent neighbor label, ties to smallest — deterministic)
    * over a sparser cut of the orders graph (mod 500, where frequency
    * voting actually stops at community boundaries: 30-32 communities
    * over 500 nodes at every sf, measured before pinning; the dense
    * mod-200 graph collapses to 2 labels). Oracle unrolls the same 4
    * sweeps with a windowed vote per round. */
  def q126LabelPropagation(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 500).as("src"),
        (col("o_orderkey") % 500).as("dst"))
    GraphAlgos.labelPropagation(edges, rounds = 4)
      .orderBy("node")
  }

  /** Weighted-LPA gate: the q126 sweeps with votes summed over integer
    * edge weights (o_orderkey%7+1, parallel edges summed) instead of
    * counted — completes the weighted × {PageRank, HITS, LPA} matrix.
    * Measured before pinning: weighted labels differ from unweighted
    * at 473/500 nodes at sf0.01, so the weight path is exercised for
    * real. Integer-exact end to end. */
  def q127WeightedLpa(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 500).as("src"),
        (col("o_orderkey") % 500).as("dst"),
        (col("o_orderkey") % 7 + 1).as("w"))
    GraphAlgos.labelPropagation(edges, rounds = 4, weightCol = Some("w"))
      .orderBy("node")
  }

  /** Link-prediction gate: common-neighbor / Jaccard / Resource
    * Allocation scores for every non-adjacent distance-2 pair of the
    * q106 graph with ≥ 3 common neighbors. cn and the Jaccard operands
    * are integer-exact; jaccard is one final IEEE division; ra runs
    * the bit-exact middle-sorted fold (the production default is the
    * map-side-combined sum, spec-pinned against this face). */
  def q128LinkPrediction(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    GraphAlgos.linkPrediction(edges, minCommon = 3, exactFolds = true)
      .orderBy("u", "v")
  }

  /** Harmonic-centrality gate: landmark-sampled harmonic centrality on
    * the q104 graph (sources = nodes ≡ 0 mod 20, BFS ≤ 6 hops along
    * edge direction). h_scaled = Σ lcm(1..6)/d = Σ 60/d is an EXACT
    * integer (60/d exact for every d ≤ 6), so the gate is pure integer
    * compare on top of the q104-family recursive-CTE oracle. */
  def q129Harmonic(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    val landmarks = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .filter(col("node") % 20 === 0)
    GraphAlgos.harmonicCentrality(edges, landmarks, maxHops = 6)
      .orderBy("node")
  }

  /** Prefix-filtered Jaccard self-join gate: the PPJoin candidate rule
    * (per-doc rarest-shingle prefixes + length filter + exact
    * verification) at τ = 0.2 on the documents corpus — same oracle
    * family as q19, which gates the naive all-shared-shingles join at
    * τ = 0.1. Output-identical to the naive join by construction; this
    * gate proves the candidate pruning loses no pair cross-engine. */
  def q130JaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.2)
      .orderBy("id_a", "id_b")

  /** Window-analytics gate: the ranked/offset/frame window-function
    * family (rank, lag delta, ROWS running sum, ntile quartile, lead)
    * over per-customer order sequences — deterministic because the
    * ordering key is unique per partition. Running sum and delta go
    * through DECIMAL(18,2) so frame-fold order cannot flip a low bit
    * (the file-header convention: decimal-exact sums cast to double
    * at the end). */
  def q131WindowAnalytics(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val price = col("o_totalprice").cast("decimal(18,2)")
    t(s, dir, "orders").filter(col("o_orderkey") < 5000)
      .select(col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        (price - lag(price, 1).over(w)).cast("double").as("delta"),
        sum(price).over(frame).cast("double").as("running"),
        ntile(4).over(w).as("quartile"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Weighted shortest-paths gate: bounded-round Bellman-Ford on the
    * q104 graph with integer weights o_orderkey%7+1 (parallel (src,
    * dst) edges combine by MIN weight), landmarks ≡ 0 mod 50, 12
    * rounds max. Integer-exact end to end; the oracle unrolls the
    * same 12 min-combine rounds MATERIALIZED (post-convergence rounds
    * are no-ops) while the engine observes its own convergence and
    * fails fast if 12 were ever too few — a silent divergence cannot
    * slip through as a hash mismatch. */
  def q132WeightedShortestPaths(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"),
        (col("o_orderkey") % 7 + 1).as("w"))
    val landmarks = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .filter(col("node") % 50 === 0)
    GraphAlgos.weightedShortestPaths(edges, landmarks, maxRounds = 12)
      .orderBy("node", "landmark")
  }

  /** Collocation-mining gate: bigram lift over the documents corpus at
    * support ≥ 5 — counts are integer-exact, lift is two IEEE
    * multiplications + one division (the rational core of PMI; no
    * log, the q90 rational-idf convention). */
  def q133Collocations(s: SparkSession, dir: String): DataFrame =
    Corpus.collocations(t(s, dir, "documents"), "text", minCount = 5L)
      .orderBy("w1", "w2")

  /** Hopping-window gate: the batch face of the streaming windowed agg —
    * 1-hour windows sliding every 15 minutes over events, per
    * (window, event_type) counts + decimal-exact value sums. The
    * oracle derives each event's covering windows by pure integer
    * index arithmetic on epoch micros (k ∈ ((t−W) // S, t // S]) —
    * an independent formulation of Spark's epoch-aligned `window()`
    * semantics. */
  def q134HoppingWindow(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.hoppingWindowAgg(events(s, dir))
      .orderBy("ws_us", "event_type")

  /** Bipartite-projection gate: the customer co-purchase graph — two
    * customers connect with weight = # distinct part bins (partkey mod
    * 1000 — the raw part space grows with sf, so binning keeps the
    * projection non-vacuous at EVERY scale: 10447/1185/321 pairs at
    * sf0.001/0.01/0.1, measured before pinning) both ordered, shared
    * bins ≥ 2 over orders < 2000. Integer-exact; the co-occurrence
    * graph builder whose output feeds the PageRank/LPA/link-prediction
    * family. */
  def q135BipartiteProject(s: SparkSession, dir: String): DataFrame = {
    val bip = t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_partkey") % 1000).as("part"))
    GraphAlgos.bipartiteProject(bip, "cust", "part", minShared = 2)
      .orderBy("l1", "l2")
  }

  /** Betweenness-centrality gate: source-sampled Brandes on the q104
    * graph (sources ≡ 0 mod 50, hop-truncated at 6) — BFS distances,
    * integer-exact forward path counts, then backward dependency
    * accumulation with successor-sorted IEEE folds (the bit-exact
    * face; the production default is the map-side sum, spec-pinned
    * ≤ 1e-12 against this face). The oracle unrolls all three phases
    * level by level. */
  def q136Betweenness(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    val sources = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .filter(col("node") % 50 === 0)
    GraphAlgos.betweenness(edges, sources, maxHops = 6, exactFolds = true)
      .orderBy("node")
  }

  /** k-truss gate: edge-support peeling at k = 8 on the DENSER mod-100
    * orders graph — chosen by measurement so the gate forces real
    * cascaded peel rounds at every scale (5/5/13 rounds at
    * sf0.001/0.01/0.1) with a NON-EMPTY truss at the larger scales
    * (1583 edges at sf0.01, 1428 at sf0.1; sf0.001 dissolves — also a
    * real assertion); the mod-200 graph's max support is ~7, making
    * every k ≥ 8 trivially empty and k ≤ 7 a no-op. Integer-exact;
    * the oracle unrolls the same 16 rounds as the engine's maxRounds
    * (post-convergence rounds are no-ops) while the engine fails fast
    * if 16 were ever too few. */
  def q137KTruss(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 100).as("src"),
        (col("o_orderkey") % 100).as("dst"))
    GraphAlgos.kTruss(edges, k = 8, maxRounds = 16)
      .orderBy("u", "v")
  }

  /** Butterfly-count gate: per-left-node butterfly (bipartite 4-cycle)
    * participation over the q135 two-mode graph — COMPOSITION of
    * [[GraphAlgos.bipartiteProject]] (no support floor) with the
    * closed form bf(l) = Σ_{l'} C(w(l,l'), 2): a pair sharing w right
    * nodes closes C(w,2) butterflies, integer-exact. The butterfly
    * census is the bipartite clustering signal (spam/bot co-behavior
    * detection at scale). */
  def q138Butterflies(s: SparkSession, dir: String): DataFrame = {
    val bip = t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_partkey") % 1000).as("part"))
    val pairs = GraphAlgos.bipartiteProject(bip, "cust", "part")
      .withColumn("bf", expr("(w * (w - 1)) div 2"))
      .filter(col("bf") > 0)
    pairs.select(explode(array(col("l1"), col("l2"))).as("node"),
        col("bf"))
      .groupBy("node").agg(sum("bf").as("n_butterflies"))
      .orderBy("node")
  }

  /** TextRank gate: weighted PageRank over the word co-occurrence
    * graph of the documents corpus (5 rounds, bit-exact sorted-fold
    * face) — text machinery COMPOSED with graph machinery; the oracle
    * builds the same bigram graph and unrolls the q98-family weighted
    * rounds. */
  def q139TextRank(s: SparkSession, dir: String): DataFrame =
    Corpus.textRank(t(s, dir, "documents"), exactFolds = true)
      .orderBy("word")

  /** Reciprocity gate: the graph-symmetry census on the q136 directed
    * mod-200 orders graph — exact BIGINT edge/reciprocated counts plus
    * ONE IEEE division, so the ratio hash-replays bit-identically. */
  def q140Reciprocity(s: SparkSession, dir: String): DataFrame =
    GraphAlgos.reciprocity(
      t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select((col("o_custkey") % 200).as("src"),
          (col("o_orderkey") % 200).as("dst")))

  /** Degree-assortativity gate: Newman's degree-correlation
    * coefficient over the undirected mod-200 orders graph — all five
    * moments exact BIGINT sums, the coefficient ONE fixed IEEE
    * expression over them (casts exact below 2^53), mirrored
    * term-for-term in the oracle. */
  def q141Assortativity(s: SparkSession, dir: String): DataFrame =
    GraphAlgos.degreeAssortativity(
      t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select((col("o_custkey") % 200).as("src"),
          (col("o_orderkey") % 200).as("dst")))

  /** SCC gate: forward-backward coloring on a DELIBERATELY layered
    * graph — 8 directed 8-rings over custkey residues mod 64 (each
    * ring one SCC by itself) plus data-derived cross edges that all
    * land in residues 33..40 (rings 4-5), welding rings 4+5 into one
    * downstream component entered from everywhere: round 1 retires
    * the never-entered rings' roots, a later round the welded
    * component — both phases (color fixpoint + same-color backward
    * sweep) forced at every sf, never vacuous (the q116 lesson). The
    * oracle needs no iterative peeling: 5 doublings of the
    * reachability closure and scc(v) = min mutual-reach partner. */
  def q142Scc(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 64).as("ck"),
        (col("o_orderkey") % 16 + 32).as("ok"))
    val ring = base.select(col("ck").as("id")).distinct()
      .select(col("id").as("src"),
        (expr("id div 8") * 8 + ((col("id") % 8) + 1) % 8).as("dst"))
    val crossE = base.filter(col("ck") =!= col("ok"))
      .select(col("ck").as("src"), col("ok").as("dst")).distinct()
    GraphAlgos.stronglyConnectedComponents(ring.unionByName(crossE))
      .orderBy("node")
  }

  /** Deterministic-walk gate: 8-step hash-greedy walks from the 8
    * mod-25 start residues of the q136 graph under the md5 rank face
    * ([[graft.operators.Dedup.md5HashFamily]] convention — DuckDB
    * replays the same per-hop argmin); the production xxhash64 face
    * shares all machinery but the rank expression (spec-pinned valid
    * walks). */
  def q143Walks(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    val starts = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .filter(col("node") % 25 === 0)
    GraphAlgos.hashGreedyWalks(edges, starts, steps = 8, md5Hash = true)
      .orderBy("walk", "step")
  }

  /** Association-rule gate: pairwise support/confidence/lift over the
    * order baskets (item = partkey mod 50, floor 3 co-occurrences) —
    * exact BIGINT counts, each ratio ONE IEEE expression, mirrored
    * term-for-term in the oracle. */
  def q144AssocRules(s: SparkSession, dir: String): DataFrame =
    Assoc.associationRules(
      t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey").as("basket"),
          (col("l_partkey") % 50).as("item")),
      minPairCount = 3L)
      .orderBy("antecedent", "consequent")

  /** Token-diversity gate: per-document Gini impurity of the token
    * distribution — the log-free exact-rational diversity score
    * (Σc²/n² of BIGINT counts + one division), bit-replayable where
    * entropy's ln() never is. */
  def q145TokenDiversity(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenDiversity(t(s, dir, "documents"))
      .orderBy("doc_id")

  /** Temporal-reachability gate: earliest arrival from the mod-10
    * seed nodes over timestamped interaction edges (user → event
    * residues, t = epoch micros) — integer-exact min-relaxation; the
    * oracle unrolls the SAME 12 rounds as the engine's maxRounds
    * (post-fixpoint rounds are no-ops; the engine fails fast if 12
    * were ever too few — the q137 bound-parity convention). */
  def q146TemporalReach(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val edges = ev.select((col("user_id") % 50).as("src"),
      (col("event_id") % 50).as("dst"),
      unix_micros(col("ts")).as("t"))
    val starts = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .filter(col("node") % 10 === 0)
    graft.operators.Events.earliestArrival(edges, starts, maxRounds = 12)
      .orderBy("node")
  }

  /** Readability gate: Flesch reading-ease from three exact integer
    * censuses (words / sentences / vowel-group syllables) and the one
    * fixed IEEE expression — literals CAST to DOUBLE on the oracle
    * side so both engines evaluate identical doubles. */
  def q148Readability(s: SparkSession, dir: String): DataFrame =
    Corpus.readability(t(s, dir, "documents"))
      .orderBy("doc_id")

  /** RFM gate: recency/frequency/monetary quintile scores per user —
    * decimal-exact spend, unique (metric, user) tie keys make every
    * ntile rank engine-independent. */
  def q149Rfm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.rfmScores(events(s, dir))
      .orderBy("user_id")

  /** Transition-matrix gate: the first-order Markov view of user
    * journeys — exact transition counts with (us, event_id) tie keys,
    * marginals, and one-division probabilities. */
  def q150Transitions(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.transitionMatrix(events(s, dir))
      .orderBy("from_type", "to_type")

  /** Percent-rank gate: rank-based normalization of the exact per-doc
    * token count — integer ranks over a unique (score, id) order, one
    * IEEE division. */
  def q151PercentRank(s: SparkSession, dir: String): DataFrame =
    Corpus.percentRankNormalize(
      Corpus.tokenDiversity(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens")),
      scoreCol = "n_tokens")
      .orderBy("doc_id")

  /** Z-score outlier gate: per-type decimal-exact moments, population
    * σ, |z| > 3 rows with their z — every selected row and double
    * bit-replayable. */
  def q152ZscoreOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.zscoreOutliers(events(s, dir))
      .orderBy("event_id")

  /** Concurrency-sweep gate: the running count of open sessions over
    * the q68 sessionization's boundary stream — closed-interval tie
    * order on a unique key, integer-exact. */
  def q153Concurrency(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.sessionConcurrency(events(s, dir))
      .orderBy("t", "is_end", "user_id", "session_idx")

  /** Edit-distance join gate: all part-name pairs within Levenshtein
    * distance 2 — the engine's q-gram-filtered hybrid must EQUAL the
    * naive all-pairs oracle (2252 pairs at sf0.01's cap), proving the
    * count filter and the short-string bucket lose nothing. */
  def q154EditDistance(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(
      t(s, dir, "part").filter(col("p_partkey") < 400),
      idCol = "p_partkey", strCol = "p_name")
      .orderBy("id_a", "id_b")

  /** Skyline gate: the (cents, qty) Pareto frontier of the capped
    * lineitems — dominance by comparisons only (no float arithmetic),
    * two window minima instead of the naive O(n²) anti-join. */
  def q155Skyline(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.skylineMin(
      t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty")),
      "cents", "qty")
      .orderBy("l_orderkey", "l_linenumber")

  /** k-shell gate: the full onion decomposition of the SPARSE mod-300
    * orders graph — chosen by measurement for real structure at every
    * sf (3 shell values at sf0.001/sf0.01, 2 at sf0.1; the level-6
    * cascade runs up to 13 peel rounds — never vacuous, the q116
    * lesson). Engine peels incrementally level by level; the oracle
    * independently peels the FULL graph per k (16 unrolled rounds ≥
    * the measured 13-round max) and takes max membership — the same
    * function by the standard equivalence, different shapes. */
  def q156KShell(s: SparkSession, dir: String): DataFrame =
    GraphAlgos.kShell(
      t(s, dir, "orders").filter(col("o_orderkey") < 1200)
        .select((col("o_custkey") % 300).as("src"),
          (col("o_orderkey") % 300).as("dst")),
      maxK = 8, maxRounds = 16)
      .orderBy("node")

  /** Unpivot gate: the wide per-flag aggregate melted back to long
    * (metric, value) rows — the inverse face of the pivot operator
    * (q76). Catalyst plans the reshape as one Expand, no shuffle
    * beyond the aggregation's own. */
  def q157Unpivot(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.unpivotLong(
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("sum_cents")),
      idCols = Seq("l_returnflag"),
      valueCols = Seq("n_rows", "sum_qty", "sum_cents"))
      .orderBy("l_returnflag", "metric")

  /** Gaps-and-islands gate: maximal runs of consecutive active days
    * per user — the classic streak query, integer day numbers so every
    * value is exact. */
  def q158Streaks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.dayStreaks(
      events(s, dir).select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day")),
      keyCol = "user_id", dayCol = "day")
      .orderBy("user_id", "start_day")

  /** Mode gate: each user's most frequent event type with the
    * deterministic (count desc, type asc) tie-break — the two-level
    * aggregation keeps the window partition at distinct-type size. */
  def q159Mode(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.modePerKey(events(s, dir), "user_id", "event_type")
      .orderBy("user_id")

  /** Exact-quartile gate: per-priority p25/p50/p75 of the order total
    * in cents by rank selection (inverted CDF) — the selected elements
    * are integers, so no interpolation arithmetic exists to diverge
    * between engines. */
  def q160Quartiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.exactQuartiles(
      t(s, dir, "orders").select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      keyCol = "o_orderpriority", valueCol = "cents")
      .orderBy("o_orderpriority")

  /** Grouped-OLS gate: price-on-quantity regression per return flag
    * over the capped lineitems — DECIMAL(38,0) moments, and the
    * num/den differences that reach IEEE are < 2^53 (measured
    * 6.2e11 / 4.1e8 at sf0.1), so the exact→double casts are
    * value-preserving on both engines. */
  def q161LinReg(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.groupedLinReg(
      t(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("qty"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents")),
      keyCol = "l_returnflag", xCol = "qty", yCol = "cents")
      .orderBy("l_returnflag")

  /** Lag-1 autocorrelation gate: serial correlation of each user's
    * event-value series in cents under the unique (us, event_id)
    * order — exact HUGEINT/DECIMAL moments, one fixed final
    * num/sqrt(dx·dy) expression (all three < 2^53 by the measured
    * value/row bounds: ≤ 99 events/user, cents ≤ 5.7e4). */
  def q162Autocorr(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.lag1Autocorr(
      events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      keyCol = "user_id", orderCols = Seq("us", "event_id"),
      valueCol = "cents")
      .orderBy("user_id")

  /** Interval-union gate: per-user covered time under 5-minute
    * exposure windows around each event — merged spans via the cummax
    * sweep, span count + total coverage, integer microseconds. */
  def q163Coverage(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.intervalCoverage(
      events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + 300000000L).as("end_us")),
      keyCol = "user_id", startCol = "start_us", endCol = "end_us")
      .orderBy("user_id")

  /** MAD-outlier gate: robust per-type outliers at 5×MAD — lower
    * medians by rank selection, all-integer deviations, no 1.4826
    * constant, so every flagged row is engine-independent. */
  def q164Mad(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.madOutliers(
      events(s, dir).select(col("event_id"), col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      keyCol = "event_type", valueCol = "cents", k = 5)
      .select("event_id", "event_type", "cents", "median", "mad")
      .orderBy("event_id")

  /** GROUPING SETS gate: the custom-combination face completing the
    * rollup (q73) / cube (q125) family — (flag, status), (flag), and
    * grand total in ONE pass (Catalyst plans a single Expand). */
  def q165GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")

  /** CUSUM gate: sequential change detection over each user's
    * event-value series (target 5000 cents ≈ the global mean, alarm
    * at +50000) — the max-clamped recursion is the one analytics
    * staple windows can't express; the oracle replays it as a
    * recursive CTE, all-integer state on both engines. */
  def q166Cusum(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.cusumAlarms(
      events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      keyCol = "user_id", ord1Col = "us", ord2Col = "event_id",
      valueCol = "cents", target = 5000L, threshold = 50000L)
      .orderBy("user_id")

  /** Decile-lift gate: the gains table of event value against the
    * purchase label — exact counts in every decile, cumulative
    * capture, and lift as the one fixed final double expression. */
  def q167Lift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.decileLift(
      events(s, dir).select(col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"),
        (col("event_type") === "purchase").cast("int").as("lab")),
      scoreCol = "cents", idCol = "event_id", labelCol = "lab")
      .orderBy("decile")

  /** Rolling-band gate: Bollinger breakouts over each user's trailing
    * 10 observations at ±2σ — the z-test cross-multiplied to integers
    * ((n·x − Σx)² > 4(n·Σx² − (Σx)²)), zero float arithmetic. */
  def q168Bands(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.rollingBandBreakout(
      events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      keyCol = "user_id", orderCols = Seq("us", "event_id"),
      valueCol = "cents", window = 10, k = 2, minObs = 5)
      .select("event_id", "user_id", "cents")
      .orderBy("event_id")

  /** Histogram gate: fixed-width 5000-cent bins of event value per
    * type with clamped edge bins — integer divisions, exact counts. */
  def q169Histogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.histogramFixed(
      events(s, dir).select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      keyCol = "event_type", valueCol = "cents",
      lo = 0L, width = 5000L, nBins = 12)
      .orderBy("event_type", "bin")

  /** Attribution gate: last-touch marketing attribution — every
    * purchase joined to the user's latest click at-or-before it within
    * 7 days (the backward as-of machinery; touches pre-deduped to
    * min id per (user, instant), the q71 tie-safety convention). */
  def q170Attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val conv = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val touches = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("event_id")).as("touch_id"))
    graft.operators.Events.lastTouchAttribution(conv, touches,
      windowUs = 7L * 24 * 3600 * 1000000L, touchIdCol = "touch_id")
      .select(col("event_id"), col("user_id"),
        col("asof_touch_id").as("touch_id"), col("asof_us"))
      .orderBy("event_id")
  }

  /** Band-join gate: |value_a − value_b| ≤ 100 cents across two
    * deterministic event samples — the engine's bucketed band join
    * (3× replication, never cartesian) must EQUAL the naive all-pairs
    * oracle. */
  def q171BandJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("cents",
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
    graft.operators.Stats.bandJoin(
      ev.filter(col("event_type") === "view" && col("event_id") % 17 === 0)
        .select(col("event_id").as("id_a"), col("cents").as("va")),
      ev.filter(col("event_type") === "purchase" &&
          col("event_id") % 13 === 0)
        .select(col("event_id").as("id_b"), col("cents").as("vb")),
      valueColA = "va", valueColB = "vb", delta = 100L)
      .orderBy("id_a", "id_b")
  }

  /** Path-trigram gate: the top-level census of 3-step user journeys —
    * the n = 3 generalization of the q150 transition matrix, exact
    * counts over the unique (us, event_id) order. */
  def q172Trigrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.pathNGrams(events(s, dir), n = 3)
      .orderBy("step_1", "step_2", "step_3")

  /** Seasonal-deviation gate: events exceeding 2× their (user,
    * hour-of-day) baseline mean with ≥ 4 observations — the
    * comparison cross-multiplied to exact integers, no division. */
  def q173Seasonal(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.seasonalDeviation(
      events(s, dir).select(col("event_id"), col("user_id"), col("ts"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      valueCol = "cents", mult = 2, minObs = 4)
      .select("event_id", "user_id", "hod", "cents", "n_base", "sum_base")
      .orderBy("event_id")

  /** Profile gate: the one-pass column profiler over customer —
    * per-column null / exact-distinct / min / max, doubles pre-cast to
    * cents so every stringified value renders identically in any
    * engine. */
  def q174Profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.profile(
      t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        (col("c_acctbal").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("c_acctbal_cents"),
        col("c_mktsegment")),
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal_cents",
        "c_mktsegment"))
      .orderBy("column")

  /** Integrity gate: referential-integrity census over the star
    * schema's natural FKs (all clean) plus one deliberately corrupted
    * declaration (tripled customer keys) so the orphan path is
    * exercised, not just asserted zero. */
  def q175Integrity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    graft.operators.Quality.integrityCheck(Seq(
      ("lineitem_orders", li, "l_orderkey", o, "o_orderkey"),
      ("orders_customer", o, "o_custkey", c, "c_custkey"),
      ("customer_nation", c.select(col("c_nationkey").cast("long")
        .as("c_nationkey")), "c_nationkey",
        n.select(col("n_nationkey").cast("long").as("n_nationkey")),
        "n_nationkey"),
      ("orders_customer_x3", o.select((col("o_custkey") * 3)
        .as("k3")), "k3", c, "c_custkey")))
      .orderBy("fk")
  }

  /** Snapshot-diff gate: CDC classification between two deterministic
    * versions of orders — keys mod 7 change (one cent), mod 11 exist
    * only in the old snapshot (removed), mod 13 only in the new
    * (added); precedence of overlaps follows the derivation order.
    * The engine compares at xxhash64 width; the oracle compares the
    * payload values — equal classifications prove the hash compare
    * loses nothing. */
  def q176SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("cents"))
    val old = base.filter(col("o_orderkey") % 13 =!= 0)
    val nw = base.filter(col("o_orderkey") % 11 =!= 0)
      .withColumn("cents", when(col("o_orderkey") % 7 === 0,
        col("cents") + 100).otherwise(col("cents")))
    graft.operators.Quality.snapshotDiff(old, nw, "o_orderkey",
      Seq("o_orderstatus", "cents"))
      .select("o_orderkey", "status")
      .orderBy("o_orderkey")
  }

  /** Weighted-median gate: the quantity-weighted lower median price
    * per return flag — running-weight rank selection, all integers. */
  def q177WeightedMedian(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.weightedMedianPerKey(
      t(s, dir, "lineitem").select(col("l_returnflag"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty")),
      keyCol = "l_returnflag", valueCol = "cents", weightCol = "qty")
      .orderBy("l_returnflag")

  /** Top-percent gate: the top 10% orders by value per priority under
    * the unique (cents desc, key) order — exact integer rank cut. */
  def q178TopPercent(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.topPercent(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      keyCol = "o_orderpriority", valueCol = "cents",
      tieCol = "o_orderkey", pct = 10)
      .orderBy("o_orderkey")

  /** Friends-of-friends gate: each node's count of distance-2
    * non-neighbors — a thin census over [[GraphAlgos.linkPrediction]]
    * pairs (both directions), pinning the pair semantics from the
    * node's perspective. */
  def q179Foaf(s: SparkSession, dir: String): DataFrame = {
    val pairs = GraphAlgos.linkPrediction(
      t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select((col("o_custkey") % 150).as("src"),
          (col("o_orderkey") % 150).as("dst")))
    pairs.select(col("u").as("node"))
      .unionAll(pairs.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_foaf"))
      .orderBy("node")
  }

  /** Min-max-normalization gate: integer 0..10000 scaling of event
    * value within its type — floor division instead of float scaling,
    * degenerate (constant) groups dropped on both sides. */
  def q180MinMaxNorm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.minMaxNorm(
      events(s, dir).select(col("event_id"), col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      keyCol = "event_type", valueCol = "cents")
      .orderBy("event_id")

  /** Burst gate: hours where a user's activity exceeds 2× their own
    * median hourly count with ≥ 4 baseline hours — rank-selected
    * medians, integer comparisons. mult = 2 by measurement: 7 burst
    * hours at sf0.01 and 151 at sf0.1 (3× is vacuous below sf0.1 —
    * the q116 lesson: a gate must exercise its operator). */
  def q181Bursts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.bursts(events(s, dir), mult = 2)
      .select("user_id", "hour_us", "n_events", "med_hourly")
      .orderBy("user_id", "hour_us")

  /** Drawdown gate: each user's largest drop from a running value
    * peak over the (us, event_id) order — one window pass, exact. */
  def q182Drawdown(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.maxDrawdown(
      events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      keyCol = "user_id", orderCols = Seq("us", "event_id"),
      valueCol = "cents")
      .orderBy("user_id")

  /** Mann-Whitney gate: the doubled-U rank-sum statistic between
    * purchase and click values — midranks via the 2·rank + ties − 1
    * identity, all integers, with u2_a + u2_b = 2·n_a·n_b as the
    * built-in self-check. */
  def q183MannWhitney(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.mannWhitneyU2(
      events(s, dir).select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      groupCol = "event_type", valueCol = "cents",
      groupA = "purchase", groupB = "click")

  /** ABC gate: Pareto classification of parts by revenue — cumulative
    * share thresholds cross-multiplied to integers (cum·100 ≤ pct·tot),
    * unique (revenue desc, part) order. */
  def q184Abc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.abcClassify(
      t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("revenue")),
      idCol = "l_partkey", valueCol = "revenue")
      .orderBy("l_partkey")

  /** Time-to-convert gate: signup→purchase latency per user (first
    * signup to first at-or-after purchase) with whole-day buckets. */
  def q185TimeToConvert(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.timeToConvert(events(s, dir),
      fromType = "signup", toType = "purchase")
      .orderBy("user_id")

  /** SCD2 gate: run-length validity intervals of each user's event
    * type over time — the slowly-changing-dimension build, with
    * valid_to as the next interval's start. */
  def q186Scd2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.scd2Intervals(events(s, dir),
      attrCol = "event_type")
      .select("user_id", "event_type", "valid_from_us", "valid_to_us",
        "n_events")
      .orderBy("user_id", "valid_from_us")

  /** Quality-score gate: the fixed-integer-weight linear quality
    * classifier (fastText-style filter face) — every feature and the
    * score are integers, the kept set is engine-exact. Threshold 100
    * by measurement (median ≈ 110..115, min 20 at sf0.01/0.1), so the
    * filter drops a real fraction — never vacuous (q116 lesson). */
  def q187QualityScore(s: SparkSession, dir: String): DataFrame =
    Corpus.linearQualityScore(t(s, dir, "documents"), threshold = 100L)
      .select("doc_id", "n_tokens", "n_digits", "n_upper", "score")
      .orderBy("doc_id")

  /** Pseudonymization gate: md5 surrogate keys for user ids (the
    * md5-family gate face of the production xxhash64 convention,
    * q143-style) with the per-surrogate event census proving join
    * consistency survives the mapping. */
  def q188Pseudonymize(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(md5(concat(lit("salt:"), col("user_id").cast("string")))
        .as("sur"))
      .groupBy("sur").agg(count(lit(1)).as("n_events"))
      .orderBy("sur")

  /** Bag set-ops gate: EXCEPT ALL / INTERSECT ALL multiplicities over
    * two overlapping priority multisets — completes the U3
    * union/difference family with the bag-semantics faces. */
  def q189BagSetops(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderkey") < 3000).select("o_orderpriority")
    val b = o.filter(col("o_orderkey") >= 1500 && col("o_orderkey") < 4500)
      .select("o_orderpriority")
    a.exceptAll(b).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      .unionByName(
        a.intersectAll(b).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all")))
      .orderBy("op", "o_orderpriority")
  }

  /** Rich-club gate: φ(k) over the mod-200 orders graph at thresholds
    * spanning the measured degree range (median 15–19, max 27) — k=26
    * exercises the n_k < 2 null path, the rest real hub pruning. */
  def q190RichClub(s: SparkSession, dir: String): DataFrame =
    GraphAlgos.richClub(
      t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select((col("o_custkey") % 200).as("src"),
          (col("o_orderkey") % 200).as("dst")),
      ks = Seq(14, 18, 22, 26))
      .orderBy("k")

  /** Gini gate: revenue inequality across the capped part domain —
    * exact DECIMAL moments (n·Σx ≈ 2.8e13 < 2^53 at sf0.1, measured),
    * one final IEEE division. */
  def q191Gini(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.giniCoefficient(
      t(s, dir, "lineitem").filter(col("l_partkey") < 500)
        .groupBy("l_partkey")
        .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("revenue")),
      idCol = "l_partkey", valueCol = "revenue")

  /** Percolation gate: connected components of the orders graph AFTER
    * an edge-weight threshold (multiplicity ≥ 2 on the sparse mod-400
    * projection — 19..58 components at every sf, measured) — the
    * weighted-percolation composition of a threshold filter with
    * [[Dedup.connectedComponents]]. */
  def q192Percolation(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders").filter(col("o_orderkey") < 4000)
      .select(least(col("o_custkey") % 400, col("o_orderkey") % 400)
        .as("id_a"),
        greatest(col("o_custkey") % 400, col("o_orderkey") % 400)
          .as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select("id_a", "id_b")
    Dedup.connectedComponents(pairs).orderBy("id")
  }

  /** Welch t-test gate: purchase vs click cents (the q183 prep) through
    * [[graft.operators.Stats.welchT]] — exact DECIMAL moments, then the
    * t statistic and Welch–Satterthwaite df as mirrored fixed IEEE
    * chains, hash-compared bit-for-bit. */
  def q193Welch(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.welchT(
      events(s, dir).select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      groupCol = "event_type", valueCol = "cents",
      groupA = "purchase", groupB = "click")

  /** χ² contingency gate: event_type × 6-hour band cells with exact
    * marginals and per-cell contributions (no cross-cell float sum —
    * the per-cell term is the engine-exact face). */
  def q194ChiSq(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.chiSquareContingency(
      events(s, dir).select(col("event_type"),
        expr("((unix_micros(ts) div 3600000000) % 24) div 6")
          .as("hour_band")),
      rowCol = "event_type", colCol = "hour_band")
      .orderBy("r", "c")

  /** Item-item recommender gate: top-3 cosine neighbours per item over
    * the lineitem order baskets (item = partkey mod 100) — counts
    * exact, cosine one IEEE chain, rank on identical bits. */
  def q195ItemItem(s: SparkSession, dir: String): DataFrame =
    graft.operators.Assoc.itemItemCosine(
      t(s, dir, "lineitem").select(col("l_orderkey").as("basket"),
        (col("l_partkey") % 100).as("item")),
      k = 3, minPairCount = 2L)
      .orderBy("item", "rk")

  /** Dyadic-EWMA gate: per-user hourly event counts smoothed with the
    * α=1/2 truncated EWMA (depth 8) — every weight a power of two, so
    * the decay sum is EXACT in binary64 and hash-replays; the oracle
    * unrolls the same 8 lags with literal dyadic weights. */
  def q196Ewma(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .groupBy("user_id", "hr").agg(count(lit(1)).as("n"))
    graft.operators.Events.ewmaDyadic(hourly, "user_id", Seq("hr"), "n",
        depth = 8)
      .orderBy("user_id", "hr")
  }

  /** Running-distinct gate: per-user distinct-event-type milestones
    * (the k-th new type with its introducing timestamp) — two windows
    * on one user shuffle, event_id tie-break end to end. */
  def q197RunningDistinct(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.runningDistinct(events(s, dir))
      .withColumn("k_distinct", col("k_distinct").cast("long"))
      .orderBy("user_id", "k_distinct")

  /** Compaction-plan gate: documents binned into ~20 KB output files
    * per source by start-offset binning over the (source, doc_id)
    * running size — the shard-sizing pass before a partitioned write,
    * exact integers throughout. */
  def q198Compaction(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.compactionBins(
      t(s, dir, "documents"), "source", "doc_id", "n_chars",
      targetSize = 20000L)
      .orderBy("source", "bin")

  /** Systematic weighted-sample gate: every document whose char-weight
    * interval covers a multiple of 5000 on the doc_id-ordered
    * cumulative line — deterministic weighted sampling, zero RNG,
    * pure integer predicate. */
  def q199SysSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.systematicWeightedSample(
      t(s, dir, "documents").select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", step = 5000L)
      .orderBy("doc_id")

  /** Benford gate: leading-digit census of lineitem price cents —
    * textual first digit (no log10), exact counts and integer
    * per-mille shares. */
  def q200Benford(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.benfordCensus(
      t(s, dir, "lineitem").select(
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "cents")
      .orderBy("digit")

  /** Holt linear smoothing gate: monthly order counts per priority
    * (1997+) through the α=β=1/2 double-exponential recursion — both
    * faces execute the identical left-associated IEEE chain (engine:
    * sequential typed scan; oracle: recursive CTE), so level/trend/
    * forecast hash-replay bit-for-bit. */
  def q201Holt(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .filter(year(col("o_orderdate")) >= 1997)
      .select(col("o_orderpriority"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mo"))
      .groupBy("o_orderpriority", "mo").agg(count(lit(1)).as("n"))
    graft.operators.Stats.holtLinear(monthly, "o_orderpriority", "mo", "n")
      .orderBy("o_orderpriority", "mo")
  }

  /** Quantile-normalization gate: per-source doc lengths mapped onto
    * the pooled length distribution by exact rank-position arithmetic
    * — the batch-effect correction, no interpolation floats. */
  def q202QuantileNorm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.quantileNormalize(
      t(s, dir, "documents"), "source", "n_chars", "doc_id")
      .orderBy("doc_id")

  /** Winsorized-stats gate: per-source doc-length summaries clamped at
    * the exact rank-selected p5/p95 cuts — integer-only robust stats. */
  def q203Winsor(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.winsorizedStats(
      t(s, dir, "documents"), "source", "n_chars")
      .orderBy("source")

  /** k-anonymity gate: (nation, segment) equivalence classes over
    * customers with thousand-dollar balance bands as the sensitive
    * attribute — class sizes, l-diversity counts, and the k/l flags
    * the release audit reads. */
  def q204KAnonymity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.kAnonymity(
      t(s, dir, "customer").select(col("c_nationkey"),
        col("c_mktsegment"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
          "div 100000").as("bal_band")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", k = 10L, l = 3L)
      .orderBy("c_nationkey", "c_mktsegment")

  /** Containment-join gate: directed near-subset pairs at
    * |A∩B|/|A| ≥ 4/5 over 3-gram sets — 50 pairs at sf0.01 / 512 at
    * sf0.1 (measured before pinning; the quote/excerpt detector). */
  def q205Containment(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.containmentPairs(
      t(s, dir, "documents"), "doc_id", "text", n = 3, num = 4, den = 5)
      .orderBy("id_a", "id_b")

  /** Weighted-cosine join gate: doc pairs at 3-gram count-vector
    * cosine ≥ 0.6 (dot²·25 ≥ 9·|a|²·|b|² cross-multiplied exactly) —
    * 25 pairs at sf0.01 / 256 at sf0.1, measured; the repeated-phrase
    * twin of the Jaccard families. */
  def q206CosinePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.cosineTokenPairs(
      t(s, dir, "documents"), "doc_id", "text", n = 3,
      t2num = 9, t2den = 25)
      .orderBy("id_a", "id_b")

  /** Feature-hashing gate: the hashing-trick encoder under the
    * md5-hex-prefix bucket family (the q95 convention — DuckDB replays
    * the bucketing; production face is xxhash64 mod dim). */
  def q207FeatureHash(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.featureHash(
      t(s, dir, "documents"), "doc_id", "text",
      bucket = tok => substring(md5(tok), 1, 3))
      .orderBy("doc_id", "feature")

  /** Target-encoding gate: leave-one-out mean balance cents per market
    * segment over customers — exact category moments, one division
    * per row, singleton fallback to the global LOO mean. */
  def q208TargetEncode(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.targetEncode(
      t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents")),
      "c_mktsegment", "cents", "c_custkey")
      .orderBy("c_custkey")

  /** Confusion-matrix gate: a cheap length-based quality predictor
    * (n_chars ≥ 240) scored against a token-count truth (≥ 45 tokens)
    * over documents — exact tp/fp/fn/tn, single-division P/R/F1. */
  def q210Confusion(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.confusionStats(
      t(s, dir, "documents").select(
        (col("n_chars") >= 240).as("pred"),
        (size(filter(split(lower(col("text")), "[^a-z0-9]+"),
          x => x =!= "")) >= 45).as("truth")),
      "pred", "truth")

  /** Rank-AUC gate: how well does spend separate purchases from clicks
    * — AUC off the exact tie-corrected Mann-Whitney doubled U (the
    * q183 prep), one final division. */
  def q211Auc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.rankAuc(
      events(s, dir).select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "event_type", "cents", positive = "purchase", negative = "click")

  /** Dataset-fingerprint gate: per-returnflag content digests of
    * lineitem under the md5-prefix row-hash face (conv of 14 hex
    * chars, 56 bits exact; production face is xxhash64) — the
    * order-independent, mergeable snapshot digest. */
  def q212Fingerprint(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.datasetFingerprint(
      t(s, dir, "lineitem"), Seq("l_returnflag"),
      Seq("l_orderkey", "l_partkey", "l_linenumber"),
      rowHash = p => conv(substring(md5(p), 1, 14), 16, 10).cast("long"))
      .orderBy("l_returnflag")

  /** Cross-correlation gate: do hourly clicks predict hourly purchases
    * one hour later — exact moments over the inner-joined (t, t+1)
    * pairs, one final IEEE expression. */
  def q213CrossCorr(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"),
        col("event_type"))
      .groupBy("hr")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
    graft.operators.Stats.crossCorrelation(hourly, "hr", "clicks",
      "purchases", lag = 1L)
  }

  /** BPE merge-training gate: 6 greedy merge rounds over the corpus
    * word table — weighted pair argmax with (weight DESC, a, b)
    * tie-break, rewrite by literal replace on the pipe-doubled symbol
    * encoding both engines execute identically. */
  def q214Bpe(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.bpeTrain(t(s, dir, "documents"), merges = 6)
      .orderBy("merge_rank")

  /** BPE segmentation gate: the 6 learned merges applied back to the
    * corpus in rank order (each rule one literal-replace pass) —
    * per-document word and BPE-token counts. */
  def q215BpeSegment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.operators.Corpus.bpeTrain(docs, merges = 6)
    graft.operators.Corpus.bpeSegment(docs, merges).orderBy("doc_id")
  }

  /** Correlation-matrix gate: pairwise Pearson over four exact-integer
    * lineitem measures in ONE fold — 6 coefficient rows from a single
    * aggregate, each one fixed IEEE expression.
    *
    * Cast-exactness note (applies to every float gate whose moments
    * exceed 2^53 — this one, q161/q162/q191/q193/q213/q220): Spark's
    * Decimal(38,0)→double is correctly rounded (BigDecimal.doubleValue,
    * measured 0/100k mismatches on adversarial 54–126-bit values), but
    * DuckDB 1.0's HUGEINT→DOUBLE is NOT (~1% off by 1 ulp on the same
    * sweep) — the oracles therefore route every HUGEINT→DOUBLE through
    * VARCHAR (strtod is correctly rounded), making both engines exact
    * for ALL values, not just the current testdata. BIGINT→DOUBLE needs
    * no mediation (hardware conversion, correctly rounded). */
  def q216CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_quantity").cast(DecimalType(18, 2)).cast("long").as("qty"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("price_c"),
      (col("l_discount").cast(DecimalType(18, 4)) * 10000)
        .cast("long").as("disc_bp"),
      (col("l_tax").cast(DecimalType(18, 4)) * 10000)
        .cast("long").as("tax_bp"))
    graft.operators.Stats.correlationMatrix(li,
        Seq("qty", "price_c", "disc_bp", "tax_bp"))
      .orderBy("var_a", "var_b")
  }

  /** TVD-drift gate: each source's doc-length-band distribution against
    * the pooled corpus — exact integer numerator (absent bins folded in
    * closed form, no key×bin cross join), one division. */
  def q217TvdDrift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.tvdDrift(
      t(s, dir, "documents").select(col("source"),
        expr("n_chars div 100").as("len_band")),
      "source", "len_band")
      .orderBy("source")

  /** KS-statistic gate: two-sample Kolmogorov–Smirnov D between
    * purchase and click spend — exact integer numerator over the
    * value-ordered cumulative counts. */
  def q218Ks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.ksStatistic(
      events(s, dir).select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "event_type", "cents", groupA = "purchase", groupB = "click")

  /** Kaplan–Meier gate: signup→purchase conversion survival with
    * right-censoring at the corpus horizon — integer risk sets, the
    * product-limit chain replayed by a recursive CTE in the same IEEE
    * order. */
  def q219KaplanMeier(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.kaplanMeier(events(s, dir),
        fromType = "signup", toType = "purchase")
      .orderBy("t_us")

  /** Spearman gate: rank correlation of quantity vs price over
    * lineitem — doubled average ranks keep every moment an exact
    * integer, one final IEEE expression. */
  def q220Spearman(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.spearman(
      t(s, dir, "lineitem").select(
        col("l_quantity").cast(DecimalType(18, 2)).cast("long").as("qty"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("price_c")),
      "qty", "price_c")

  /** Two-proportion z gate: do purchases clear the 50-dollar bar at a
    * different rate than clicks — exact counts, one IEEE chain. */
  def q221TwoProportionZ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.twoProportionZ(
      events(s, dir).select(col("event_type"),
        ((col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long") >= 5000L).as("hi")),
      "event_type", "hi", groupA = "purchase", groupB = "click")

  /** Vocabulary-overlap gate: pairwise distinct-token Jaccard between
    * sources — the scraped-mirror / domain-shift audit, exact
    * intersections and one division per pair. */
  def q222VocabOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.sourceVocabularyOverlap(
      t(s, dir, "documents"))
      .orderBy("src_a", "src_b")

  /** Novelty gate: per-document fraction of corpus-unique 3-grams —
    * the memorization/boilerplate inverse, exact df census. */
  def q223Novelty(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.noveltyScores(t(s, dir, "documents"))
      .orderBy("doc_id")

  /** Vocabulary-growth gate: new distinct 3-grams and running 3-gram
    * vocabulary per 50-doc block in id order — the Heaps-law curve
    * (word unigrams are vacuous on this corpus's ~30-token vocabulary:
    * one bucket; 3-grams spread first occurrences across every block —
    * measured before pinning). */
  def q224VocabGrowth(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.vocabularyGrowth(t(s, dir, "documents"),
        bucketSize = 50L, nGram = 3)
      .orderBy("bucket")

  /** Dup-cluster size-histogram gate: the q50 near-dup components
    * folded to (cluster_size, n_clusters) — the dedup audit's
    * headline distribution. */
  def q225DupSizeHistogram(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
      "doc_id", "text", n = 3, minJaccard = 0.1)
    Dedup.connectedComponents(pairs)
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")
  }

  /** User-growth gate: per-day active/new/returning users and the
    * running distinct-user total — exact integers, first-seen as one
    * min fold. */
  def q226UserGrowth(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.userGrowth(events(s, dir))
      .orderBy("day")

  /** Stickiness gate: DAU over trailing-7-day WAU per active day —
    * the trailing distinct computed by fan-out, never per-day history
    * rescans. */
  def q227Stickiness(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.stickiness(events(s, dir))
      .orderBy("day")

  /** Entry/exit census gate: session landing/exit event-type pairs
    * with bounce counts over the q68 session rule. */
  def q228EntryExit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.sessionEntryExit(events(s, dir))
      .orderBy("entry_type", "exit_type")

  /** Degree-distribution gate: power-of-two degree bins over the
    * mod-200 orders graph — log₂ via binary-string length, no float
    * log anywhere. */
  def q229DegreeDist(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 4000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    graft.operators.GraphAlgos.degreeDistribution(edges)
      .orderBy("bin")
  }

  /** Inter-event-gap quartiles gate: per event type, the exact
    * rank-selected quartiles of the within-user gap between
    * consecutive events of that type — the cadence profile, composed
    * from one lag window + [[graft.operators.Stats.exactQuartiles]]. */
  def q230GapQuartiles(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "user_id")
      .orderBy(col("__us"), col("event_id"))
    val gaps = events(s, dir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("__us"))
      .withColumn("__gap", col("__us") - lag("__us", 1).over(w))
      .filter(col("__gap").isNotNull)
      .select(col("event_type"), col("__gap").as("gap_us"))
    graft.operators.Stats.exactQuartiles(gaps, "event_type", "gap_us")
      .orderBy("event_type")
  }

  /** Decremental k-truss gate: the enumerate-once/decrement face of
    * [[q137KTruss]] — the declared 100 TB path (per-round work ∝
    * support destroyed, never a fresh O(m^1.5) triangle pass) — under
    * the SAME fixture and the SAME 16-round MATERIALIZED peel oracle.
    * Both faces must land on the identical (u, v, support) fixpoint;
    * this row makes that an oracle gate rather than only a spec pin. */
  def q231KTrussDecr(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 100).as("src"),
        (col("o_orderkey") % 100).as("dst"))
    GraphAlgos.kTrussDecremental(edges, k = 8, maxRounds = 16)
      .orderBy("u", "v")
  }

  /** SemDeDup hash-cap gate: an ALL-IDENTICAL hot cell (every
    * embedding replaced by one constant vector, one centroid) that
    * sub-centroid splitting can never break — the branch q115 never
    * reaches. cap = 40 forces the depth-exhausted hash cap on round 1
    * at every sf; the md5 slice face makes the residues
    * SQL-replayable, and the oracle unrolls the same 6 re-counted
    * rounds the engine is bounded to (bound-parity: the engine fails
    * fast if 6 were ever too few, post-convergence oracle rounds
    * no-op). Survivors = min id per final slice — the closed form of
    * complete-graph components within a slice. */
  def q232SemDedupCap(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "embeddings")
      .select(col("vec_id"),
        array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f)).as("embedding"))
    Similarity.semanticDedup(corpus,
        centroids = Seq((0, Array(1.0f, 0.0f, 0.0f, 0.0f))),
        threshold = 0.9, maxCellSize = 40, maxSplitDepth = 0,
        maxCapRounds = 6, md5CapHash = true)
      .select("vec_id").orderBy("vec_id")
  }

  /** BMP pixel-decode gate: each document's first 39 text bytes become
    * an 8-bit greyscale 13×3 BMP (bottom-up rows, stride 16 with 0xEE
    * pad bytes, palette) via [[graft.operators.Multimodal.bmpGray8Bytes]];
    * [[graft.operators.Multimodal.imagePixelStats]] must walk the REAL
    * pixel array — data offset, stride-pad exclusion, bottom-up row
    * order (the logical corners pin it) — and the oracle recomputes
    * every stat from the characters directly. All integers, exact. */
  def q234BmpPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, txt) =>
        (id, graft.operators.Multimodal.bmpGray8Bytes(
          txt.substring(0, 39).getBytes("US-ASCII"), 13, 3))
      }
      .toDF("media_id", "content")
    graft.operators.Multimodal.imagePixelStats(media)
      .select(col("media_id"), col("width"), col("height"), col("n_px"),
        element_at(col("ch_sum"), 1).as("px_sum"),
        col("px_min"), col("px_max"),
        element_at(col("top_left"), 1).as("top_left"),
        element_at(col("bottom_right"), 1).as("bottom_right"))
      .orderBy("media_id")
  }

  /** PNG pixel-decode gate (the compressed-codec face of q234): each
    * document's first 40 characters become an 8×5 grayscale PNG via
    * [[graft.operators.Multimodal.pngBytes]] — five rows, so the
    * encoder's row%5 filter cycle exercises ALL FIVE spec filters
    * (None/Sub/Up/Average/Paeth) and the pixel stream is genuinely
    * deflated/inflated (java.util.zip is the codec).
    * [[graft.operators.Multimodal.decodePngPixels]] must walk the
    * chunks, verify CRC32s, inflate, and unfilter; the oracle
    * recomputes every statistic from the text, so equality proves the
    * decode is real end-to-end. */
  def q301PngPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, txt) =>
        (id, graft.operators.Multimodal.pngBytes(
          txt.substring(0, 40).getBytes("US-ASCII"), 8, 5))
      }
      .toDF("media_id", "content")
    graft.operators.Multimodal.imagePixelStats(media)
      .select(col("media_id"), col("width"), col("height"), col("n_px"),
        element_at(col("ch_sum"), 1).as("px_sum"),
        col("px_min"), col("px_max"),
        element_at(col("top_left"), 1).as("top_left"),
        element_at(col("bottom_right"), 1).as("bottom_right"))
      .orderBy("media_id")
  }

  /** JPEG pixel-decode gate (the DCT-codec face of q301, r13 — the
    * last stubbed image payload made real): each document's first 12
    * characters become the grays of a 4×3 grid of FLAT 8×8 tiles,
    * encoded as a REAL baseline JPEG
    * ([[graft.operators.Multimodal.jpegGray8Bytes]] — Annex-K Huffman
    * coding, bit packing, FF00 stuffing, restart markers every 5 MCUs)
    * and decoded by the pure-JVM baseline decoder
    * ([[graft.operators.Multimodal.decodeJpegPixels]] — marker walk,
    * canonical Huffman, dequant, 8×8 IDCT). The flat-tile/quant-8
    * construction makes the lossy codec EXACT (DC-only blocks), so the
    * oracle recomputes every statistic from the text: equality proves
    * the entropy decode, predictor chain, restart handling, and IDCT
    * are all real. Every pixel of tile t is ord(char t), so px_sum =
    * 64·Σ ord. */
  def q318JpegPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, txt) =>
        (id, graft.operators.Multimodal.jpegGray8Bytes(
          txt.substring(0, 12).map(_.toInt).toArray, 4, 3,
          restartInterval = 5))
      }
      .toDF("media_id", "content")
    graft.operators.Multimodal.imagePixelStats(media)
      .select(col("media_id"), col("width"), col("height"), col("n_px"),
        element_at(col("ch_sum"), 1).as("px_sum"),
        col("px_min"), col("px_max"),
        element_at(col("top_left"), 1).as("top_left"),
        element_at(col("bottom_right"), 1).as("bottom_right"))
      .orderBy("media_id")
  }

  /** GIF pixel-decode gate (the LZW-codec face of q301, r13 — with
    * this, EVERY container format the multimodal module names decodes
    * for real): each document's first 40 characters become the pixels
    * of an 8×5 grayscale INTERLACED GIF
    * ([[graft.operators.Multimodal.gifGray8Bytes]] — real LZW stream,
    * LSB-first bit packing, clear-code resets, four-pass interlaced
    * row order, 256-gray palette);
    * [[graft.operators.Multimodal.decodeGifPixelStats]] must walk the
    * blocks, decode the LZW indices, de-interlace, and expand the
    * palette to RGB. GIF is lossless, so the oracle recomputes every
    * statistic from the text (the q301 convention); the gray palette
    * makes all three channel sums equal — the first AND last are both
    * pinned to prove the 3-channel expansion. */
  def q319GifPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, txt) =>
        (id, graft.operators.Multimodal.gifGray8Bytes(
          txt.substring(0, 40).getBytes("US-ASCII"), 8, 5,
          interlaced = true))
      }
      .toDF("media_id", "content")
    graft.operators.Multimodal.imagePixelStats(media)
      .select(col("media_id"), col("width"), col("height"), col("n_px"),
        element_at(col("ch_sum"), 1).as("px_sum"),
        element_at(col("ch_sum"), 3).as("px_sum_b"),
        col("px_min"), col("px_max"),
        element_at(col("top_left"), 1).as("top_left"),
        element_at(col("bottom_right"), 1).as("bottom_right"))
      .orderBy("media_id")
  }

  /** WAV sample-decode gate: each document's first 40 characters
    * become mono 16-bit PCM samples (c−100)·256 via
    * [[graft.operators.Multimodal.wavPcm16Bytes]];
    * [[graft.operators.Multimodal.audioSampleStats]] must walk the
    * RIFF chunks and fold the little-endian samples — sum, sum of
    * squares, min/max, and midline crossings (sign flips ignoring
    * exact zeros) all exact integers the oracle recomputes from the
    * text. */
  def q235WavSamples(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, txt) =>
        val samples = txt.substring(0, 40)
          .map(c => ((c.toInt - 100) * 256).toShort).toArray
        (id, graft.operators.Multimodal.wavPcm16Bytes(samples))
      }
      .toDF("media_id", "content")
    graft.operators.Multimodal.audioSampleStats(media)
      .select(col("media_id"), col("n_samples"), col("s_sum"),
        col("sq_sum"), col("s_min"), col("s_max"), col("n_zero_cross"))
      .orderBy("media_id")
  }

  /** Cohen's-kappa gate: agreement between the true event_type and a
    * simulated 70%-accurate labeler (disagreements map to the reversed
    * type string — deterministic, SQL-replicable). Every count is an
    * exact BIGINT; po/pe/kappa are each ONE final division. */
  def q236Kappa(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type").as("r1"),
      when(col("event_id") % 10 < 7, col("event_type"))
        .otherwise(reverse(col("event_type"))).as("r2"))
    graft.operators.Stats.cohenKappa(ev, "r1", "r2")
  }

  /** One-way-ANOVA gate over event values (cents) by event type —
    * integer moments per group, the cross-group Σ s²/n as a sorted
    * sequential fold (the q94 list_sum convention), >2^53 products
    * through the VARCHAR-mediated cast (the q216 lesson). */
  def q237Anova(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type").as("g"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    graft.operators.Stats.anovaOneWay(ev, "g", "cents")
  }

  /** Benjamini–Hochberg gate: md5-uniform p-values (the q95/q212
    * md5-conv convention) with a planted signal — every 50th document's
    * p is divided by 2000, so the step-up frontier lands inside the
    * planted block and both rejected=true and =false rows exist at
    * every sf (measured non-vacuous before pinning). */
  def q238BhFdr(s: SparkSession, dir: String): DataFrame = {
    val p0 = conv(substring(md5(col("text")), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0)
    val tests = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 50 === 0, p0 / lit(2000.0)).otherwise(p0).as("p"))
    graft.operators.Stats.bhReject(tests, "doc_id", "p")
      .orderBy("doc_id")
  }

  /** Jaro–Winkler record-linkage gate: dirty part names (p_name + key
    * suffix) with a planted char-swap typo twin for every third kept
    * part; [[graft.operators.Dedup.jaroWinklerPairs]] must reproduce
    * DuckDB's native jaro_winkler_similarity BIT-FOR-BIT over the
    * blocked candidate set (the kernel mirrors the rapidfuzz IEEE
    * order — probed constants pinned in DedupSpec). */
  def q239JwPairs(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "part").filter(col("p_partkey") % 20 === 0)
      .select(col("p_partkey").as("id"),
        concat(col("p_name"), lit(" #"), col("p_partkey")).as("nm"))
    val typos = base.filter(col("id") % 3 === 0)
      .select((col("id") + 10000000L).as("id"),
        concat(substring(col("nm"), 1, 1), substring(col("nm"), 3, 1),
          substring(col("nm"), 2, 1), substring(col("nm"), 4, 10000)).as("nm"))
    graft.operators.Dedup.jaroWinklerPairs(base.unionByName(typos),
        "id", "nm", minSim = 0.9, blockLen = 1, maxLenDiff = 4)
      .orderBy("id_a", "id_b")
  }

  /** Debounce gate: drop an event when its per-(user, type) predecessor
    * is under 5 minutes away — the memoryless duplicate-burst scrub
    * (one lag window; q68's sessionize scale argument verbatim). */
  def q240Debounce(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.debounce(events(s, dir),
        Seq("user_id", "event_type"), "ts", windowSeconds = 300L,
        tieCol = "event_id")
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")

  /** Jensen–Shannon drift gate: per-token JS terms between the even-
    * and odd-doc_id corpus halves — exact counts plus fixed-order IEEE
    * chains over ln. CAVEAT (the q250 correction): JVM Math.log and
    * glibc ln agree only argument-by-argument (ln(53/1349) differs by
    * 1 ulp), so this gate is deterministic for the PINNED sf0.01
    * corpus — which the driver fixes — not under regeneration; a
    * mismatch here means the argument set shifted, not an engine bug. */
  def q241JsTokens(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.jsDivergenceByToken(t(s, dir, "documents"),
        col("doc_id") % 2 === 0, col("doc_id") % 2 === 1)
      .orderBy("token")

  /** Fleiss'-kappa gate: 3 simulated raters per document (explode of
    * 0..2), each mostly agreeing on a doc-derived category with a
    * rater-dependent disagreement arm — deterministic, SQL-replicable,
    * constant r=3 by construction (the Fleiss precondition). */
  def q242Fleiss(s: SparkSession, dir: String): DataFrame = {
    val ratings = t(s, dir, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("t"))
      .select(col("doc_id"),
        when((col("doc_id") + col("t") * 7) % 5 < 3,
          concat(lit("c"), (col("doc_id") % 4).cast("string")))
          .otherwise(concat(lit("c"),
            ((col("doc_id") + col("t")) % 4).cast("string"))).as("cat"))
    graft.operators.Stats.fleissKappa(ratings, "doc_id", "cat")
  }

  /** Kruskal–Wallis gate over event cents by type — the rank twin of
    * q237's ANOVA on the same slice. Midranks come from the value
    * CENSUS (rank windows over distinct values only), rank-sums are
    * DECIMAL(38,0), their squares ride the VARCHAR-mediated oracle
    * cast, and the cross-group fold is sorted (the q237 recipe). */
  def q243Kruskal(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type").as("g"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    graft.operators.Stats.kruskalWallis(ev, "g", "cents")
  }

  /** Calibration-bin gate: md5-slice scores (num / 2^24, the standing
    * uniform convention) with labels drawn from a SECOND md5 slice
    * compared against the first — Bernoulli(score) by construction, so
    * the table is genuinely calibrated and every gap is small but
    * nonzero. All bin moments exact integers; three fixed divisions
    * per row. */
  def q244Calibration(s: SparkSession, dir: String): DataFrame = {
    val num = conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long")
    val y = (conv(substring(md5(col("text")), 7, 6), 16, 10).cast("long")
      < num).cast("long")
    val scored = t(s, dir, "documents")
      .select(num.as("num"), y.as("y"))
    graft.operators.Stats.calibrationBins(scored, "num", 16777216L, "y")
      .orderBy("bin")
  }

  /** Brier-decomposition gate on the q244 scored table: the score sum
    * of squares exceeds 2^53 at sf0.01, so every moment rides
    * DECIMAL(38,0) on the Spark side and the VARCHAR-mediated cast in
    * the oracle (the q216 lesson); REL/RES per-bin squared gaps are
    * cross-multiplied to exact integers and folded in bin order. */
  def q245Brier(s: SparkSession, dir: String): DataFrame = {
    val num = conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long")
    val y = (conv(substring(md5(col("text")), 7, 6), 16, 10).cast("long")
      < num).cast("long")
    val scored = t(s, dir, "documents")
      .select(num.as("num"), y.as("y"))
    graft.operators.Stats.brierDecomposition(scored, "num", 16777216L, "y")
  }

  /** ACF gate: per-day event cents totals (calendar-bounded series),
    * lags 1..7 — each coefficient ONE division of two DECIMAL(38,0)
    * exact moments (N²·XX − N·S·(H+T) + (N−l)·S² over N·(N·Q − S²)),
    * VARCHAR-mediated in the oracle since the products pass 2^53. */
  def q246Acf(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("x"))
    graft.operators.Stats.acf(daily, "day", "x", maxLag = 7)
      .orderBy("lag")
  }

  /** Borůvka MSF gate: 25 disjoint 8-node cycles (orders mod-200
    * residues, all present at every sf) with injective deterministic
    * weights — a cycle's MSF is closed-form (all edges minus its
    * max-weight edge), so the oracle is a per-cycle argmax exclusion
    * while the ENGINE must earn it through three merge rounds (8-node
    * cycles halve 8 → 4 → 2 → 1). */
  def q247Msf(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "orders")
      .select((col("o_orderkey") % 200).as("i")).distinct()
    val edges = nodes.select(col("i").as("src"),
      when(col("i") % 8 === 7, col("i") - 7)
        .otherwise(col("i") + 1).as("dst"),
      (((col("i") * 7919) % 104729) * 1000 + col("i")).as("w"))
    graft.operators.GraphAlgos.minSpanningForest(edges, "src", "dst", "w")
      .orderBy("u", "v")
  }

  /** Densest-subgraph gate: a 200-node ring (background, avg degree 2)
    * with a planted 20-clique — the peel must shed the ring in round 0
    * and crown the clique (ρ = 9.5) in round 1. ε = 1 exact-rational
    * threshold (deg·V ≤ 2·A), best-round selection under strict
    * cross-multiplied density comparison; the oracle replays the peel
    * MATERIALIZED round by round (the q116 k-core convention) and
    * picks the best round via a NOT EXISTS over the exact stats. */
  def q248Densest(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "orders")
      .select((col("o_orderkey") % 200).as("i")).distinct()
    val ring = nodes.select(col("i").as("src"),
      ((col("i") + 1) % 200).as("dst"))
    val nl = nodes.select(col("i").as("a")).filter(col("a") < 20)
    val clique = nl.crossJoin(nl.select(col("a").as("b")))
      .filter(col("a") < col("b"))
      .select(col("a").as("src"), col("b").as("dst"))
    graft.operators.GraphAlgos.densestSubgraph(
        ring.unionByName(clique), "src", "dst",
        epsNum = 1, epsDen = 1, maxRounds = 16)
      .orderBy("node")
  }

  /** Markov-stationary gate: the event-type transition chain (per-user
    * consecutive pairs, counted), 6 power-iteration rounds from the
    * uniform start with source-sorted exact folds — the q98 PageRank
    * determinism contract applied to the transition matrix; dangling
    * states hold their mass (conservation is the self-check). */
  def q249Stationary(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = ev.withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    graft.operators.GraphAlgos.markovStationary(tr, "src", "dst", "w",
        iterations = 6, exactFolds = true)
      .orderBy("node")
  }

  /** Naive-Bayes gate: train the multinomial classifier on the even
    * half of the corpus (label = source), predict the odd half — the
    * domain/quality-classifier sweep of a curation pipeline. The gate
    * pins the ARGMAX, not the raw score: JVM Math.log and glibc ln
    * disagree by 1 ulp on some exact-rational arguments (measured:
    * ln(53/1349) — so "ln is bit-identical" is argument-specific, NOT
    * a law; q241/q94 hold because their argument sets were probed),
    * and the argmax is separated by log-units while the ulp noise is
    * 1e-15 — the decision, unlike the score, is engine-independent. */
  def q250NaiveBayes(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val train = docs.filter(col("doc_id") % 2 === 0)
      .select(col("source"), col("text"))
    val test = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
    graft.operators.Corpus.naiveBayesPredict(train, test, "source")
      .select("id", "pred")
      .orderBy("id")
  }

  /** Count-Min bound gate (the q77 pattern, upper-bound face): the
    * same skewed HOT + singleton-tail key sketched at d=4, w=1024;
    * every item must satisfy the CM contract est ≥ true (guaranteed by
    * construction — counters only add) and the slack check
    * est ≤ true + 8·N/w (8× the expected collision mass; deterministic
    * for fixed data + seeds because CM, unlike Misra-Gries, is
    * merge-order-independent). Only the verdicts are gated. */
  def q251CmBound(s: SparkSession, dir: String): DataFrame = {
    val d = 4; val w = 1024
    val keyed = t(s, dir, "documents").select(
      when(col("doc_id") % 3 === 0, lit("HOT"))
        .otherwise(concat(lit("doc_"), col("doc_id"))).as("item"))
      .localCheckpoint(true)
    val sk = keyed
      .agg(graft.functions.VectorExpressions.cmSketch(col("item"), d, w)
        .as("m"))
    val exact = keyed.groupBy("item").agg(count(lit(1)).as("true_n"))
    val tot = keyed.agg(count(lit(1)).as("n_total"))
    val est = graft.functions.VectorExpressions.cmEstimate(
      col("m"), col("item"), d, w)
    exact.crossJoin(broadcast(sk)).crossJoin(broadcast(tot))
      .select(col("item"), col("true_n"),
        (est >= col("true_n")).as("lower_ok"),
        (est <= col("true_n") + lit(8) * col("n_total") / lit(w))
          .as("slack_ok"))
      .orderBy("item")
  }

  /** Temperature-mix gate: per-source √-scaled token allocation of a
    * 1M-token budget — exact domain token counts, IEEE-exact sqrt,
    * domain-sorted share fold, one floor chain. */
  def q252TempMix(s: SparkSession, dir: String): DataFrame = {
    val withTok = t(s, dir, "documents").select(col("source"),
      size(filter(split(col("text"), "\\s+"), t => t =!= "")).as("ntok"))
    graft.operators.Corpus.temperatureMixSqrt(withTok, "source", "ntok",
        budgetTokens = 1000000L)
      .orderBy("domain")
  }

  /** Cramér's-V gate over (event_type × user_id mod 5) — exact
    * per-cell χ² contributions folded in (r,c) order, one sqrt. */
  def q253CramersV(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type").as("a"),
      (col("user_id") % 5).as("b"))
    graft.operators.Stats.cramersV(ev, "a", "b")
  }

  /** Kendall-τ-b gate over two bucketed event-value ordinals — census
    * self-join concordance (never per-row O(n²)); HUGEINT-exact masses
    * with the VARCHAR-mediated final chain. */
  def q254Kendall(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val ev = events(s, dir).select(cents.as("cents"))
      .select(expr("cents div 10000").as("x"), (col("cents") % 7).as("y"))
    graft.operators.Stats.kendallTauB(ev, "x", "y")
  }

  /** Retrieval-eval gate: 5 synthetic queries ranked over the corpus
    * by an md5 ordering (engine-independent hex sort), judgments
    * planted at (doc_id + qi) % 3 = 0 — precision/recall@10 and RR
    * are each one exact-integer division. */
  def q255SearchEval(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val qs = t(s, dir, "documents").limit(1)
      .select(explode(sequence(lit(0), lit(4))).as("qi"))
    val pairs = docs.crossJoin(broadcast(qs))
    val w = Window.partitionBy("query")
      .orderBy(col("h"), col("doc_id"))
    val results = pairs
      .select(concat(lit("q"), col("qi")).as("query"), col("doc_id"),
        md5(concat(col("qi").cast("string"), lit("|"),
          col("doc_id").cast("string"))).as("h"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
    val relevant = pairs
      .filter((col("doc_id") + col("qi")) % 3 === 0)
      .select(concat(lit("q"), col("qi")).as("query"), col("doc_id"))
    graft.operators.SearchIndex.precisionRecallAtK(results, relevant, 10)
      .orderBy("query")
  }

  /** URL-dedup gate: four deterministic dirty variants per path bucket
    * (case/port, trailing slash, unsorted+tracking params, fragment);
    * the ORACLE is the closed-form canonical per variant — derived
    * independently, NOT a replication of the canonicalizer's regex
    * chain — so the gate proves the normalizer lands every variant on
    * the intended form. */
  def q256UrlDedup(s: SparkSession, dir: String): DataFrame = {
    val m = (col("doc_id") % 100).cast("string")
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("https://example.com/p/"), m))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://EXAMPLE.COM:443/p/"), m, lit("/")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://example.com/p/"), m,
          lit("?utm_source=x&b=2&a=1")))
      .otherwise(concat(lit("https://example.com/p/"), m,
        lit("?a=1&b=2#frag")))
    graft.operators.Dedup.urlDedup(
        t(s, dir, "documents").select(col("doc_id"), url.as("url")), "url")
      .orderBy("canonical_url")
  }

  /** Interval-union gate: per-user busy time over event-anchored
    * intervals (duration = event-keyed 0.1–100 s, heavily overlapping)
    * — the line sweep as a running-max window, µs-exact. */
  def q257IntervalUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val iv = ev.select(col("user_id"),
      unix_micros(col("ts")).as("s0"),
      (unix_micros(col("ts")) +
        (col("event_id") % 1000 + 1) * lit(100000L)).as("e0"),
      col("event_id"))
    graft.operators.Events.intervalUnionLength(iv, "user_id", "s0", "e0",
        "event_id")
      .orderBy("user_id")
  }

  /** Session-path gate: top-20 event-type 3-grams inside 30-minute
    * sessions — session index and leads confined to the session, exact
    * census, ties on the gram string. */
  def q258SessionNgrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.sessionNgrams(events(s, dir), "user_id", "ts",
        "event_id", "event_type", gapSeconds = 1800L, n = 3, topK = 20)
      .orderBy("rank")

  /** Mann–Kendall gate on the q246 daily-cents series: exact S and
    * tie-corrected 18·Var, continuity-corrected z as one chain. The
    * O(n²) pair join runs on the 365-row series grain — the operator's
    * documented contract. */
  def q259MannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("x"))
    graft.operators.Stats.mannKendall(daily, "day", "x")
  }

  /** dHash gate: each document's first 144 chars (x-padded) become an
    * 18×8 8-bit BMP via the q234 builder; [[graft.operators.Multimodal
    * .imageDHash]] must decode, box-average onto the 9×8 grid (2×1
    * cells, integer floor means) and emit the 16-hex fingerprint the
    * oracle recomputes from the raw characters. */
  def q260ImageDhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents")
      .select(col("doc_id"), rpad(col("text"), 144, "x").as("t"))
      .as[(Long, String)]
      .map { case (id, txt) =>
        (id, graft.operators.Multimodal.bmpGray8Bytes(
          txt.getBytes("US-ASCII"), 18, 8))
      }
      .toDF("media_id", "content")
    graft.operators.Multimodal.imageDHash(media).orderBy("media_id")
  }

  /** Cross-container dHash gate (r13): the SAME 18×8 gray pixels as
    * q260, but GIF-encoded (interlaced — LZW + de-interlace + palette
    * on the decode path) and hashed through the container-generic
    * [[graft.operators.Multimodal.imageDHashAny]]; the in-gate require
    * additionally pins the PNG encoding of the same pixels to the
    * SAME hash (the cross-format near-dup property: one fingerprint
    * space across every container). The oracle recomputes the hash
    * from the text exactly like q260's. */
  def q320DhashCross(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val txt = t(s, dir, "documents")
      .select(col("doc_id"), rpad(col("text"), 144, "x").as("t"))
      .as[(Long, String)].localCheckpoint(true)
    val viaGif = graft.operators.Multimodal.imageDHashAny(
      txt.map { case (id, x) =>
        (id, graft.operators.Multimodal.gifGray8Bytes(
          x.getBytes("US-ASCII"), 18, 8, interlaced = true))
      }.toDF("media_id", "content"))
    val viaPng = graft.operators.Multimodal.imageDHashAny(
      txt.map { case (id, x) =>
        (id, graft.operators.Multimodal.pngBytes(
          x.getBytes("US-ASCII"), 18, 8))
      }.toDF("media_id", "content"))
    require(sameRows(viaGif, viaPng),
      "the same pixels hashed differently through GIF and PNG containers")
    viaGif.orderBy("media_id")
  }

  /** Theil–Sen gate on the daily-cents series: both medians are
    * rank-selected (type-1, index tie-breaks) over doubles both
    * engines compute identically — one exact-integer division per
    * slope, no interpolation. */
  def q261TheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("x"))
      .select(datediff(col("day"), to_date(lit("1970-01-01")))
        .cast("long").as("i"), col("x"))
    graft.operators.Stats.theilSen(daily, "i", "x")
  }

  /** Segmented-TTR gate: lexical diversity over 10-token blocks —
    * exact block census, one division per document. */
  def q262SegmentedTtr(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.segmentedTtr(t(s, dir, "documents"),
        window = 10)
      .orderBy("id")

  /** McNemar gate: subjects are user-days; condition A = clicked that
    * day, condition B = purchased that day — real discordance in both
    * directions at every sf. Counts exact, two final divisions. */
  def q263Mcnemar(s: SparkSession, dir: String): DataFrame = {
    val paired = events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("a"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("b"))
    graft.operators.Stats.mcnemar(paired, "a", "b")
  }

  /** Wilcoxon signed-rank gate: per-user click count vs view count —
    * small paired integers, so zero differences (dropped) and |d|
    * ties (midranked) both genuinely occur. The z chain is one
    * exact-moment division + one sqrt. */
  def q264Wilcoxon(s: SparkSession, dir: String): DataFrame = {
    val paired = events(s, dir)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("y"))
    graft.operators.Stats.wilcoxonSignedRank(paired, "x", "y")
  }

  /** Friedman gate: blocks = users holding all 5 event types
    * (pre-filtered on both sides — the operator's completeness guard
    * stays un-tripped), treatments = event_type, value = per-(user,
    * type) event count — small integers, so within-block midranks are
    * real. */
  def q265Friedman(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir)
      .groupBy(col("user_id").as("blk"), col("event_type").as("trt"))
      .agg(count(lit(1)).as("x"))
    val complete = base.groupBy("blk")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") === 5)
      .select("blk")
    graft.operators.Stats.friedman(
      base.join(complete, Seq("blk")), "blk", "trt", "x")
  }

  /** Isotonic-fit gate on the daily-cents series: distributed PAV
    * (exact rational pooling), checked against the minimax identity
    * yhat_i = max_{j≤i} min_{k≥i} mean(j..k) — each candidate mean ONE
    * double division of exact integers, and double min/max commute
    * with correct rounding (rounding is monotone), so the engines
    * agree bit-for-bit. */
  def q266Isotonic(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("y"))
      .select(datediff(col("day"), to_date(lit("1970-01-01")))
        .cast("long").as("i"), col("y"))
    graft.operators.Stats.isotonicFit(daily, "i", "y").orderBy("i")
  }

  /** Per-KEY isotonic gate — the production (embarrassingly parallel)
    * shape of q266: each user's daily-cents series pooled
    * independently, one shuffle on the key, sequential exact PAV per
    * key, no global order anywhere. Oracle = q266's minimax identity
    * with every window/join additionally keyed by user — the PAV block
    * mean per key is the per-key minimax value, same bit-for-bit
    * double-division argument. */
  def q311IsotonicByKey(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .filter(col("user_id") < 40)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("y"))
      .select(col("user_id"),
        datediff(col("day"), to_date(lit("1970-01-01")))
          .cast("long").as("i"), col("y"))
    graft.operators.Stats.isotonicFitByKey(daily, "user_id", "i", "y")
      .orderBy("user_id", "i")
  }

  /** Maximal-matching gate: 200 derived undirected edges with a total
    * (w, u, v) priority order; the locally-dominant rounds must equal
    * the oracle's SEQUENTIAL greedy fold (a 200-step recursive CTE) —
    * the classic Preis equivalence, checked edge-for-edge. */
  def q267Matching(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "orders")
      .select((col("o_orderkey") % 200).as("i")).distinct()
    val e = nodes.select(col("i").as("src"),
      ((col("i") * 13 + 7) % 200).as("dst"),
      ((col("i") * 7919) % 104729).as("w"))
    graft.operators.GraphAlgos.maximalMatching(e).orderBy("u", "v")
  }

  /** Katz-centrality gate: bounded directed graph (order residues),
    * α = 1/8, 4 rounds — the whole recursion exact integer numerators,
    * the oracle an unrolled 4-step join chain, ONE division at the
    * end. */
  def q268Katz(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "orders").filter(col("o_orderkey") < 3000)
      .select((col("o_custkey") % 120).as("src"),
        (col("o_orderkey") % 120).as("dst"))
    graft.operators.GraphAlgos.katzCentrality(e, iterations = 4,
      alphaInvLog2 = 3).orderBy("node")
  }

  /** TWAP gate: per-user time-weighted average cents — LOCF interval
    * weights in exact integer microseconds, the >2^53 numerator rides
    * DECIMAL on the Spark side and the VARCHAR-mediated cast in the
    * oracle (the q216 recipe), one division per user. */
  def q269Twap(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("cents",
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
    graft.operators.Events.timeWeightedAvg(ev, "user_id", "ts",
      "event_id", "cents").orderBy("user_id")
  }

  /** Precedence-pair gate: "first a before last b" over per-user type
    * censuses — strict microsecond compare, one support division. */
  def q270Precedence(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.precedencePairs(events(s, dir), "user_id",
      "ts", "event_type").orderBy("ante", "cons")

  /** Cochran's Q gate: blocks = user-days, treatments = the 5 event
    * types with explicit zeros (blocks complete by construction), all
    * moments exact integers, ONE division. */
  def q271CochranQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val types = ev.select(col("event_type").as("trt")).distinct()
    val blocks = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val obsv = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type").as("trt"))
      .agg(lit(1L).as("y1"))
    val full = blocks.crossJoin(broadcast(types))
      .join(obsv, Seq("user_id", "day", "trt"), "left")
      .select(concat_ws("|", col("user_id"), col("day")).as("blk"),
        col("trt"), coalesce(col("y1"), lit(0L)).as("y"))
    graft.operators.Stats.cochranQ(full, "blk", "trt", "y")
  }

  /** Page-trend gate on the q265 complete blocks with the alphabetical
    * treatment order as the hypothesis — L carried as exact 2L, the z
    * chain one division + one sqrt of exact integers. */
  def q272PageTrend(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir)
      .groupBy(col("user_id").as("blk"), col("event_type").as("trt"))
      .agg(count(lit(1)).as("x"))
    val complete = base.groupBy("blk")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") === 5)
      .select("blk")
    graft.operators.Stats.pageTrend(base.join(complete, Seq("blk")),
      "blk", "trt", "x",
      Seq("click", "error", "purchase", "signup", "view"))
  }

  /** Randomization-test gate: doc_id-parity groups, text length as the
    * metric, 100 md5-seeded Bernoulli reassignments — the extremeness
    * census is all exact cross-multiplied integers, p and obs_diff are
    * fixed final chains. */
  def q273Randomization(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select((col("doc_id") % 2).cast("string").as("g"),
        length(col("text")).cast("long").as("v"),
        col("doc_id").cast("string").as("seed"))
    graft.operators.Stats.randomizationTest(docs, "g", "v", "seed", 100)
  }

  /** Precedence-triple gate: ordered "a then b then c" witnesses over
    * per-user censuses + the occurrence grain, one support division. */
  def q274PrecedenceTriples(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.precedenceTriples(events(s, dir), "user_id",
      "ts", "event_type").orderBy("ante", "mid", "cons")

  /** Nelson–Aalen gate: signup→purchase cumulative hazard on the q219
    * census — the running Σd/n and Σd/n² chains replayed by a
    * recursive CTE in the same IEEE order. */
  def q275NelsonAalen(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.nelsonAalen(events(s, dir),
        fromType = "signup", toType = "purchase")
      .orderBy("t_us")

  /** CUPED gate: per-user engagement cents (view+click) as the
    * covariate, purchase cents as the metric, user-parity groups — θ
    * one division of exact moments (>2^53 rides the VARCHAR-mediated
    * oracle cast), the adjusted diff a fixed IEEE chain. */
  def q276Cuped(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val per = events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type").isin("view", "click"), cents)
          .otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", cents)
          .otherwise(0L)).as("y"))
      .withColumn("g", (col("user_id") % 2).cast("string"))
    graft.operators.Stats.cuped(per, "g", "x", "y")
  }

  /** Hodges–Lehmann gate on the daily-cents series: the median Walsh
    * average, rank-selected over exact pair sums, one division. */
  def q277HodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("x"))
      .select(datediff(col("day"), to_date(lit("1970-01-01")))
        .cast("long").as("i"), col("x"))
    graft.operators.Stats.hodgesLehmann(daily, "i", "x")
  }

  /** Co-occurrence gate: window-3 unordered token pairs over the
    * corpus, top-30 — the pair list is a narrow nested-array
    * expression (no self-join), the oracle an offset-indexed unnest. */
  def q278Cooccurrence(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.cooccurrenceCounts(t(s, dir, "documents"),
      "doc_id", "text", window = 3, topK = 30).orderBy("rank")

  /** RAKE gate: stopword-delimited phrases, word deg/freq scores, one
    * division per word, top-30 with a word tie-break. */
  def q279Rake(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.rakeWordScores(t(s, dir, "documents"),
      "doc_id", "text", Seq("a", "the", "and", "of", "to"), topK = 30)
      .orderBy("rank")

  private def dailyCents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("x"))
      .select(datediff(col("day"), to_date(lit("1970-01-01")))
        .cast("long").as("i"), col("x"))

  /** Runs-test gate on the daily-cents series: median rank-selected,
    * run census exact, the z chain one division inside one sqrt. */
  def q280RunsTest(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.runsTest(dailyCents(s, dir), "i", "x")

  /** Durbin–Watson gate: OLS residuals carried as exact scaled
    * integers (the scale cancels), one division, >2^53 rides the
    * VARCHAR-mediated oracle cast. */
  def q281DurbinWatson(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.durbinWatson(dailyCents(s, dir), "i", "x")

  /** Siegel repeated-medians gate: two nested rank selections over
    * exact-integer-ratio slopes. */
  def q282Siegel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.siegelSlopes(dailyCents(s, dir), "i", "x")

  private def perUserTypeCounts(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), col("event_type").as("g"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("g"), col("cnt"))

  /** Jonckheere–Terpstra gate: per-user type counts under the
    * alphabetical group-order hypothesis — the census pair sums exact,
    * the z chain one division + one sqrt. */
  def q283Jonckheere(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.jonckheereTerpstra(perUserTypeCounts(s, dir),
      "g", "cnt", Seq("click", "error", "purchase", "signup", "view"))

  /** Cliff's-delta gate: purchase vs click per-user counts — exact
    * census pair counting, one division. */
  def q284CliffsDelta(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.cliffsDelta(perUserTypeCounts(s, dir),
      "g", "cnt", "purchase", "click")

  /** Cohen's-d gate on the same two groups — pooled variance ONE exact
    * division, d and Hedges' g fixed chains. */
  def q285CohensD(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.cohensD(perUserTypeCounts(s, dir),
      "g", "cnt", "purchase", "click")

  /** t-closeness gate on the q204 release-audit fixture: per-class
    * TVD against the global balance-band distribution, numerator an
    * exact integer fold, threshold decided by cross-multiplication. */
  def q286TCloseness(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "customer").select(col("c_nationkey"),
      col("c_mktsegment"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
        " div 100000").as("bal_band"))
    graft.operators.Quality.tCloseness(b,
        Seq("c_nationkey", "c_mktsegment"), "bal_band", tNum = 1, tDen = 5)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** Closeness-centrality gate on the q129 landmark-BFS fixture — one
    * exact division per node over the same recursive-CTE oracle
    * distances. */
  def q287Closeness(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    val landmarks = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .filter(col("node") % 20 === 0)
    GraphAlgos.closenessCentrality(edges, landmarks, maxHops = 6)
      .orderBy("node")
  }

  /** Brown–Forsythe gate on the per-user type counts: |x − group
    * median| through the q237 ANOVA chain verbatim. */
  def q288BrownForsythe(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.brownForsythe(perUserTypeCounts(s, dir),
      "g", "cnt")

  /** Mood's-median gate: k×2 above/below census against the global
    * lower median, χ² folded in group order from exact cross-
    * multiplied cells. */
  def q289MoodsMedian(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.moodsMedian(perUserTypeCounts(s, dir),
      "g", "cnt")

  /** Pettitt changepoint gate on the daily-cents series: the pair
    * grain folds into a difference array (+s at i, −s at j), |U| max
    * argmax-pinned — all integers. */
  def q290Pettitt(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.pettitt(dailyCents(s, dir), "i", "x")

  /** Ljung–Box gate: Q over the q246 bit-exact acf coefficients,
    * folded in lag order, one shared rounding chain. */
  def q291LjungBox(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.ljungBox(dailyCents(s, dir)
      .select(col("i").as("day"), col("x")), "day", "x", maxLag = 7)

  private def completeUserTypeCounts(s: SparkSession,
      dir: String): DataFrame = {
    val base = events(s, dir)
      .groupBy(col("user_id").as("blk"), col("event_type").as("trt"))
      .agg(count(lit(1)).as("x"))
    val complete = base.groupBy("blk")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") === 5)
      .select("blk")
    base.join(complete, Seq("blk"))
  }

  /** Cronbach's-alpha gate on the complete user×type count matrix —
    * the variance-ratio denominators cancel, α is one exact division
    * plus a fixed three-op chain. */
  def q292Cronbach(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.cronbachAlpha(completeUserTypeCounts(s, dir),
      "blk", "trt", "x")

  /** ICC(1,1) gate on the same matrix — same-denominator divisions
    * only, whole chain shared with the oracle. */
  def q293Icc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.icc1(completeUserTypeCounts(s, dir),
      "blk", "trt", "x")

  /** Effective-diameter gate on the q129 landmark fixture: the 90th-
    * percentile positive distance rank-selected, the mean one exact
    * division. */
  def q294EffDiameter(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    val landmarks = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .filter(col("node") % 20 === 0)
    GraphAlgos.effectiveDiameter(edges, landmarks, maxHops = 6, pct = 90)
  }

  /** Burstiness gate: per-user inter-event gap B = (σ−μ)/(σ+μ) — one
    * sqrt + one division over exact moments, >2^53 VARCHAR-mediated. */
  def q295Burstiness(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.burstiness(events(s, dir), "user_id", "ts",
      "event_id").orderBy("user_id")

  /** Bowtie-decomposition gate on the q142 ring+cross SCC fixture:
    * class census relative to the largest component, the oracle
    * re-deriving in/out from the same transitive closure. */
  def q296Bowtie(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 64).as("ck"),
        (col("o_orderkey") % 16 + 32).as("ok"))
    val ring = base.select(col("ck").as("id")).distinct()
      .select(col("id").as("src"),
        (expr("id div 8") * 8 + ((col("id") % 8) + 1) % 8).as("dst"))
    val crossE = base.filter(col("ck") =!= col("ok"))
      .select(col("ck").as("src"), col("ok").as("dst")).distinct()
    GraphAlgos.bowtie(ring.unionByName(crossE))
      .orderBy("bowtie_class")
  }

  /** Live-HTTP S9 gate (ExternalApiResultsFetcher.py:193-288): the
    * restartable fetch loop driven over REAL connections against an
    * in-process loopback API (zero egress) — fetch one 100-key batch,
    * kill, restart to completion, exercising the anti-join resume in
    * the gated path. Every key ≡0 (mod 97) 500s upstream → the
    * placeholder row (ok=false, json={}), the reference's empty-dict
    * semantics. The oracle derives the same tuples from the part table
    * directly (no HTTP) — equality proves the wire path delivered
    * exactly the derivable results, failures included. The returned
    * plan reads only the parquet checkpoint, so the server can close
    * before materialization. */
  def q297FetchHttp(s: SparkSession, dir: String): DataFrame = {
    val keys = t(s, dir, "part").filter(col("p_partkey") < 400)
      .select(col("p_partkey").cast("string").as("key"))
    val ck = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q297_fetch_ck")
    ck.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(ck, true) // fresh checkpoint per run (Bench runs twice)
    val api = new graft.sources.LoopbackApi(k =>
      if (k.toLong % 97 == 0) None
      else Some(s"""{"sym":"SYM$k","grp":${k.toLong % 7}}"""))
    try {
      val base = api.base // capture the string, never the server
      // batch = 200 keys → run 1 checkpoints exactly half, run 2's
      // anti-join resumes the other half; the gate's wall-clock is
      // per-batch Spark job overhead (checkpoint + dump + reload per
      // cycle), so two cycles keep the bench honest without thinning
      // the restart semantics
      graft.sources.FetchPlanner.fetchLoop(keys, "key", ck.toString, 200,
        graft.sources.FetchPlanner.httpFetcher(k => s"$base/$k"),
        maxBatches = 1) // run 1: killed after one dump
      graft.sources.FetchPlanner.fetchLoop(keys, "key", ck.toString, 200,
          graft.sources.FetchPlanner.httpFetcher(k => s"$base/$k"))
        .select(col("key").cast("long").as("key"),
          get_json_object(col("json"), "$.sym").as("sym"),
          get_json_object(col("json"), "$.grp").cast("long").as("grp"),
          col("ok"))
        .orderBy("key")
    } finally api.close()
  }

  /** Live-HTTP S8 gate (OntologyParserLoader.py:88-149
    * `update_downloads`): the ontology refresh lifecycle end-to-end over
    * REAL connections against the loopback API — a stale installed copy
    * (2020-01-01) is refreshed from a served 2026-02-03 ontology:
    * download (streamed via `.part`, atomically promoted), version
    * compare, archive of the old copy under its version, atomic swap.
    * The kill-mid-download face runs first: a torn `.part` from a
    * "dead" run plus a 500 upstream — the restart must truncate the
    * .part, leave the stale copy serving, then succeed. A same-version
    * redelivery must KeepCurrent. The hash-compared face parses the
    * SWAPPED file through the real OWL DataSourceV2 — labels are
    * "fresh-k" only if the new file actually took the install path
    * (a silently failed swap leaves "stale-k" → hash mismatch). */
  def q305OboRefresh(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val obo = "http://purl.obolibrary.org/obo/"
    def owl(version: String, tag: String): String =
      s"""<?xml version="1.0"?><rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#" xmlns:owl="http://www.w3.org/2002/07/owl#">""" +
        s"""<owl:Ontology rdf:about="${obo}cl.owl"><owl:versionInfo>$version</owl:versionInfo></owl:Ontology>""" +
        (0 until 300).map(k =>
          s"""<owl:Class rdf:about="${obo}PT_$k"><rdfs:label>$tag-$k</rdfs:label></owl:Class>""").mkString +
        "</rdf:RDF>"
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q305_obo")
    wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(wh, true) // fresh lifecycle per run (Bench runs twice)
    val root = Paths.get(wh.toUri.getPath)
    Files.createDirectories(root)
    val current = root.resolve("cl.owl")
    val archive = root.resolve(".archive")
    Files.writeString(current, owl("2020-01-01", "stale"))
    val api = new graft.sources.LoopbackApi({
      case "cl.owl" => Some(owl("2026-02-03", "fresh"))
      case _        => None
    })
    try {
      val base = api.base
      // kill-mid-download: torn .part + failing upstream — contained
      Files.writeString(root.resolve("cl.owl.new.part"), "<rdf:RDF torn")
      require(graft.sources.OboRefresh
          .downloadAndRefresh(s"$base/missing.owl", current, archive).isEmpty &&
          graft.sources.OboRefresh.findVersion(current) == Some("2020-01-01"),
        "failed download must leave the installed copy serving")
      // the real refresh: download -> newer -> archive -> atomic swap
      val out = graft.sources.OboRefresh
        .downloadAndRefresh(s"$base/cl.owl", current, archive)
      out match {
        case Some(graft.sources.OboRefresh.Replaced(archived)) =>
          require(archived.getFileName.toString == "cl-2020-01-01.owl",
            s"old copy must archive under its version, got $archived")
        case other => sys.error(s"expected Replaced, got $other")
      }
      require(graft.sources.OboRefresh.findVersion(current)
        == Some("2026-02-03"), "swapped file must carry the new version")
      // same-version redelivery is a no-op
      require(graft.sources.OboRefresh
          .downloadAndRefresh(s"$base/cl.owl", current, archive)
        == Some(graft.sources.OboRefresh.KeptCurrent),
        "same-version redelivery must keep the current file")
      s.read.format("owl").load(current.toString)
        .filter(col("p") === "http://www.w3.org/2000/01/rdf-schema#label" &&
          col("s").startsWith(obo + "PT_"))
        .select(expr(s"CAST(substring(s, ${obo.length + 4}) AS BIGINT)").as("k"),
          col("o").as("label"))
        .orderBy("k")
    } finally api.close()
  }

  /** Streaming-replay gate for the co-occurrence ingest twin (the q117
    * pattern): seed the running pair table over 80% of the corpus,
    * fold the rest in as micro-batch 1, then deliver THE SAME batch
    * again — green only if the batch-id high-water guard makes the
    * redelivery a no-op (a replayed count monoid otherwise doubles
    * every folded n). Probes under the q278 oracle verbatim: the
    * accumulated table ≡ one-shot co-occurrence over the whole
    * corpus. */
  def q298CooccurReplay(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    for (tbl <- Seq("q298_cooc", "q298_cooc_ingest_meta")) {
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }
    graft.streaming.Streams.applyCooccurBatch(
      docs.filter(col("doc_id") % 5 =!= 0), 0L, "q298_cooc", 3,
      "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    graft.streaming.Streams.applyCooccurBatch(batch, 1L, "q298_cooc", 3,
      "doc_id", "text")
    graft.streaming.Streams.applyCooccurBatch(batch, 1L, "q298_cooc", 3,
      "doc_id", "text") // the simulated restart redelivery
    val rw = Window.orderBy(col("n").desc, col("w1"), col("w2"))
    s.table("q298_cooc")
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= 30)
      .orderBy("rank")
  }

  /** Event-time midpoint of the events table — the deterministic batch
    * boundary the two flatMapGroupsWithState replay gates split the
    * feed at (batch 1 strictly before, batch 2 at/after: per-key
    * event-time order holds, the twins' ordered-feed contract). */
  private def eventsMidUs(s: SparkSession, dir: String): Long = {
    import s.implicits._
    val Array(mn, mx) = events(s, dir)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .as[(Long, Long)].head() match { case (a, b) => Array(a, b) }
    mn + (mx - mn) / 2
  }

  /** Shared FILE-SOURCE feed for the streaming-twin replay gates
    * (VERDICT r9 item 2 — this replaces the collect()-based
    * MemoryStream harness, so NO data row touches the driver): batch 0
    * is written as parquet BEFORE the stream starts (the file source
    * lists it as the first micro-batch); after the caller's first
    * `processAllAvailable`, [[twinFeedAppend]] lands batch 1 as NEW
    * files — the next trigger picks up exactly those, so the two-batch
    * state boundary is preserved. Both writes are executor-side
    * parquet jobs. */
  private def twinFeedStart(s: SparkSession, name: String,
                            b0: DataFrame): String = {
    val p = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), name)
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(p, true) // fresh feed per run (Bench runs twice)
    b0.write.parquet(p.toString)
    p.toString
  }
  private def twinFeedAppend(feed: String, b1: DataFrame): Unit =
    b1.write.mode("append").parquet(feed)

  /** Streaming-replay gate for the TWAP twin: the events feed split at
    * the event-time midpoint into two FILE-SOURCE micro-batches,
    * folded through `Streams.twapStream` (per-key BigInteger-exact
    * state), final emit per key (n is cumulative, so max-n wins) gated
    * under the q269 batch oracle verbatim. The cumulative n equalling
    * the batch oracle's per-key total IS the cross-batch state proof:
    * dropped state would reset n at the boundary and hash-mismatch. */
  def q299TwapStreamReplay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.Streams.TwapEvent
    val ev = events(s, dir).select(col("user_id").as("key"),
      unix_micros(col("ts")).as("us"), col("event_id").as("eventId"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("v"))
    val mid = eventsMidUs(s, dir)
    val feed = twinFeedStart(s, "q299_feed", ev.filter(col("us") < mid))
    val in = s.readStream.schema(ev.schema).parquet(feed).as[TwapEvent]
    scala.util.Try(s.catalog.dropTempView("q299_sink"))
    val q = graft.streaming.Streams.twapStream(in)
      .writeStream.format("memory").queryName("q299_sink")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      twinFeedAppend(feed, ev.filter(col("us") >= mid))
      q.processAllAvailable()
    } finally q.stop()
    val w = Window.partitionBy("key").orderBy(col("n").desc)
    s.table("q299_sink")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1) // the final emit per key
      .select(col("key").as("user_id"), col("n"), col("span_us"),
        col("twap"))
      .orderBy("user_id")
  }

  /** Streaming-replay gate for the CUSUM twin (q299's pattern): the
    * midpoint-split feed through `Streams.cusumAlarmStream` — per-key
    * clamped integer recursion folded across two micro-batches — final
    * emit per key (n is cumulative) gated under the q166 recursive-CTE
    * oracle verbatim. */
  def q302CusumStreamReplay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.Streams.CusumEvent
    val ev = events(s, dir).select(col("user_id").as("key"),
      unix_micros(col("ts")).as("ord"), col("event_id").as("ord2"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("value"))
    val mid = eventsMidUs(s, dir)
    val feed = twinFeedStart(s, "q302_feed", ev.filter(col("ord") < mid))
    val in = s.readStream.schema(ev.schema).parquet(feed).as[CusumEvent]
    scala.util.Try(s.catalog.dropTempView("q302_sink"))
    val q = graft.streaming.Streams.cusumAlarmStream(in,
        target = 5000L, threshold = 50000L)
      .writeStream.format("memory").queryName("q302_sink")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      twinFeedAppend(feed, ev.filter(col("ord") >= mid))
      q.processAllAvailable()
    } finally q.stop()
    val w = Window.partitionBy("key").orderBy(col("n").desc)
    s.table("q302_sink")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("key").as("user_id"), col("n"),
        col("max_cusum"), col("first_alarm"))
      .orderBy("user_id")
  }

  /** Streaming-replay gate for the debounce twin: the same
    * midpoint-split feed through `Streams.debounceStream` (state = the
    * per-key predecessor), survivors accumulated across batches, gated
    * under the q240 batch oracle verbatim (survivor event_ids joined
    * back to the events table for the full rows). */
  def q300DebounceStreamReplay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.Streams.DebounceEvent
    val ev = events(s, dir).select(
      concat_ws("|", col("user_id"), col("event_type")).as("key"),
      unix_micros(col("ts")).as("us"), col("event_id").as("eventId"))
    val mid = eventsMidUs(s, dir)
    val feed = twinFeedStart(s, "q300_feed", ev.filter(col("us") < mid))
    val in = s.readStream.schema(ev.schema).parquet(feed).as[DebounceEvent]
    scala.util.Try(s.catalog.dropTempView("q300_sink"))
    val q = graft.streaming.Streams.debounceStream(in, 300L)
      .writeStream.format("memory").queryName("q300_sink")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      twinFeedAppend(feed, ev.filter(col("us") >= mid))
      q.processAllAvailable()
    } finally q.stop()
    s.table("q300_sink").select(col("eventId").as("event_id"))
      .join(events(s, dir), Seq("event_id"))
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
  }

  /** Full-depth hierarchy gate: the reference's ≤64-hop contract
    * (AqlQuerySetBuilder.java:96) exercised where BOTH rules bind —
    * an 80-node SUB_CLASS_OF chain (orders mod-80 residues, all
    * present at every sf) walked from key 0 (79 edges remain → the
    * depth cap truncates the tail at exactly 64) and from key 40
    * (39 remain → the longest-tail rule takes the natural end at 79),
    * with label-OTHER skip decoys the single-label prefilter must
    * drop. The oracle is the same walk as a 64-bounded recursive CTE
    * + per-start argmax. The shallow-fixture gates (q31/q46b/q82)
    * never push past ~6 levels; this is the depth-64 rehearsal. */
  def q233DeepHierarchy(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "orders")
      .select((col("o_orderkey") % 80).as("r")).distinct()
    def chain(step: Int, label: String): DataFrame =
      nodes.as("a").join(nodes.as("b"), col("b.r") === col("a.r") + step)
        .select(lit("H").as("from_coll"),
          col("a.r").cast("string").as("from_key"),
          lit("H").as("to_coll"), col("b.r").cast("string").as("to_key"),
          lit(label).as("label"))
    val edges = chain(1, "SUB_CLASS_OF").unionByName(chain(5, "OTHER"))
    val base = nodes.filter(col("r").isin(0, 40))
      .select(
        array(struct(lit("H").as("collection"),
          col("r").cast("string").as("key"))).as("vertices"),
        array().cast("array<struct<from_coll:string,from_key:string," +
          "to_coll:string,to_key:string,label:string>>").as("edges"))
    PathQueries.withHierarchy(base, edges, "SUB_CLASS_OF", maxDepth = 64)
      .select(
        element_at(col("vertices"), 1).getField("key").as("start"),
        size(col("edges")).cast("long").as("depth"),
        concat_ws("|", transform(col("vertices"),
          v => v.getField("key"))).as("path_keys"))
      .orderBy("start")
  }

  /** Interval-overlap-join gate: per-user purchase exposure windows
    * (30 min) against click windows (5 min) with exact overlap
    * microseconds — key-equi join + range predicates. */
  def q209OverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val a = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + 1800000000L).as("e_us"))
    val b = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + 300000000L).as("e_us"))
    graft.operators.Events.intervalOverlapJoin(a, b, "user_id",
        "s_us", "e_us")
      .orderBy("key", "s_a", "s_b")
  }

  /** Modularity gate: Newman Q of the fixed mod-12 partition over the
    * undirected mod-200 orders graph — exact integer numerator
    * 4m·Σe_c − Σd_c² over 4m², ONE final IEEE division. The OPERATOR
    * composes with [[graft.operators.GraphAlgos.labelPropagation]]
    * (spec-asserted); the gate pins the arithmetic under a partition
    * DuckDB can name in one expression. */
  def q147Modularity(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    val labels = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .distinct()
      .withColumn("label", col("node") % 12)
    GraphAlgos.modularity(edges, labels)
  }

  /** Catalog-surface gate for the global-analytics member: personalized
    * PageRank seeded from the CS vertices over the phenotype subgraph of
    * production query #2 (CS→CL→CSD) on the q46 fixture graph — "rank
    * the entities related to the cell sets". The gate runs the bit-exact
    * fold face; the catalog member's PRODUCTION default is the map-side
    * path, spec-pinned ≤1e-12 against this face. Oracle = the q98 family
    * over ArangoDB-style collection/key node handles. */
  def q114RankRelatedEntities(s: SparkSession, dir: String): DataFrame = {
    val (vertices, edges) = catalogGraph(s, dir)
    QueryCatalog.rankRelatedEntities(vertices, edges,
        queries = Seq(QueryCatalog.production(2)), exactFolds = true)
      .orderBy("collection", "key")
  }

  /** SemDeDup gate: semantic dedup of the embeddings corpus — nearest-
    * centroid assignment (deterministic first-16-rows centroids so the
    * oracle replays the argmax), within-cell cosine ≥ 0.3 pairs,
    * min-id component survivors. Non-vacuous at both scales (223 pairs
    * at sf0.01, 2605 at sf0.1 — measured before pinning). */
  def q115SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.semanticDedup(emb,
        Similarity.centroidsFromRows(emb, nCells = 16), threshold = 0.3)
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  /** CDC latest-wins merge gate: orders is the base (version 0); the
    * updates side rewrites every 7th key at version 1, REPLAYS every
    * 11th key at version 0 (side tie — updates wins, the correction
    * convention), and tombstones every 21st key. Exercises all four
    * outcomes: higher version wins, tie side wins, tombstone drops,
    * untouched keys keep the base row. */
  def q92MergeLatest(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        lit(0).as("version"), lit(false).as("deleted"))
    val upd = t(s, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, "U1").otherwise("T0").as("status"),
        when(col("o_orderkey") % 7 === 0, 1).otherwise(0).as("version"),
        (col("o_orderkey") % 21 === 0).as("deleted"))
    graft.operators.Merge.mergeLatest(base, upd, Seq("o_orderkey"),
        "version", deleteCol = Some("deleted"))
      .filter(col("o_orderkey") < 400)
      .select("o_orderkey", "status", "version")
      .orderBy("o_orderkey")
  }

  /** The fixed phrases shared by the q93 gate (drawn from the synthetic
    * vocabulary; lengths 2-3 including one with no matches). */
  private val phraseGateRows = Seq((0L, "window agg"),
    (1L, "spark window agg"), (2L, "batch window"), (3L, "slow fast table"))

  /** Phrase-search gate (ArangoSearch PHRASE() on the word tokenizer):
    * per (phrase, doc) the number of consecutive-token anchor
    * positions. The engine runs the positional-postings anchor-join
    * (one broadcast join + one count-distinct-offsets agg — not a
    * k-way positional self-join); the oracle slides a window over the
    * token list. */
  def q93PhraseSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SearchIndex.phraseSearch(t(s, dir, "documents"),
        phraseGateRows.toDF("phrase_id", "phrase"))
      .orderBy("phrase_id", "doc_id")
  }

  /** Bigram-LM quality-scoring gate (CCNet-style): train the add-α
    * model on the whole documents table, score every document with the
    * ln-free rational mean-probability form — every op is IEEE +,·,/
    * folded in bigram-sorted order, so DuckDB reproduces the score
    * bit-for-bit (the log-space perplexity face is spec-pinned in
    * CorpusSpec instead). */
  def q94LmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // train on the even half only so the scored half actually exercises
    // the OOV/smoothing path (a model trained on the full corpus never
    // sees an unseen bigram)
    val (bg, ug) = Corpus.trainBigramLm(docs.filter(col("doc_id") % 2 === 0))
    Corpus.lmScore(docs, bg, ug)
      .filter(col("doc_id") < 300)
      .orderBy("doc_id")
  }

  /** DSIR importance-weight gate: raw = all documents, target = the
    * doc_id % 7 slice (a deterministic stand-in for the curated target
    * corpus). Rational mean-ratio face under the md5-prefix bucket
    * family — cell-exact in any engine; the log-likelihood-ratio
    * production face is spec-pinned in CorpusSpec. */
  def q95DsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Corpus.dsirWeights(docs, docs.filter(col("doc_id") % 7 === 0))
      .filter(col("doc_id") < 300)
      .orderBy("doc_id")
  }

  /** Hybrid-retrieval gate: reciprocal-rank fusion of the q90 BM25
    * lexical ranking and a brute-force cosine vector ranking over the
    * embeddings table (query vectors = vec_ids 0-2, paired with the
    * three q90 text queries by id — the synthetic stand-in for a real
    * query's dual text+embedding form; the FUSION mechanism is what the
    * gate exercises, rank-only so no cross-retriever score mixing). */
  def q96HybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bm25 = SearchIndex.bm25TopK(t(s, dir, "documents"),
        bm25GateQueries.toDF("query_id", "qtext"), k = 10, lnIdf = false)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = t(s, dir, "embeddings")
    val vec = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 3), k = 10)
      .select(col("query_id"), col("nbr_id").as("doc_id"), col("rank"))
    SearchIndex.rrfFuse(Seq("bm25" -> bm25, "vec" -> vec))
      .orderBy("query_id", "rank")
  }

  /** Incremental-aggregate-maintenance gate: per-status aggregates of
    * the o_orderkey % 3 ≠ 0 slice (the "base" view) merged with the
    * % 3 = 0 slice's aggregates (the "delta") must equal the direct
    * aggregate over all orders — the monoid-merge invariant. Integer
    * sums + decimal min/max only (no float addition anywhere). */
  def q97MergeAgg(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy("o_orderstatus").agg(
        count(lit(1)).as("n_orders"),
        sum("o_custkey").as("sum_cust"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))
    graft.operators.Merge.mergeAggregates(
        aggOf(orders.filter(col("o_orderkey") % 3 =!= 0)),
        aggOf(orders.filter(col("o_orderkey") % 3 === 0)),
        Seq("o_orderstatus"),
        Seq("n_orders" -> "sum", "sum_cust" -> "sum",
          "min_price" -> "min", "max_price" -> "max"))
      .orderBy("o_orderstatus")
  }

  /** PageRank gate: 5 static iterations (GraphX convention) over a
    * deterministic graph derived from orders (custkey-mod → orderkey-mod
    * edges). Every operation is IEEE +,·,/ with source-sorted
    * contribution folds, so DuckDB's unrolled recursion replays all five
    * rounds bit-for-bit. */
  def q98PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    GraphAlgos.pageRank(edges, iterations = 5, exactFolds = true)
      .orderBy("node")
  }

  /** Personalized-PageRank gate: reset mass confined to the node % 50
    * seed set over the same derived graph as q98 — seeds keep high
    * rank, unreachable nodes sit at exactly 0. Same oracle family with
    * a seeded init/base term. */
  def q99PersonalizedPageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    val seeds = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .filter(col("node") % 50 === 0)
    GraphAlgos.personalizedPageRank(edges, seeds, iterations = 5,
        exactFolds = true)
      .orderBy("node")
  }

  /** HITS gate: 4 unnormalized rounds over the q98 graph — hubs and
    * authorities replay cell-exact (neighbor-sorted IEEE folds; the
    * per-round normalization factors out of the ranking and is skipped,
    * see GraphAlgos.hits). */
  def q102Hits(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    GraphAlgos.hits(edges, iterations = 4, exactFolds = true)
      .orderBy("node")
  }

  /** Weighted-PageRank gate: same graph with per-edge weights (parallel
    * orders pre-aggregated to unique (src, dst) pairs carrying summed
    * integer weights); rank splits over out-edges proportionally. */
  def q103WeightedPageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"),
        (col("o_orderkey") % 7 + 1).as("w0"))
      .groupBy("src", "dst").agg(sum("w0").as("w"))
    GraphAlgos.weightedPageRank(edges, iterations = 5, exactFolds = true)
      .orderBy("node")
  }

  /** Multi-source shortest-paths gate: hop distances from the node % 50
    * landmark set over the q98 graph, capped at 6 hops — pure integer
    * arithmetic against a bounded recursive CTE. */
  def q104ShortestPaths(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    val landmarks = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .filter(col("node") % 50 === 0)
    GraphAlgos.shortestPaths(edges, landmarks, maxHops = 6)
      .orderBy("node", "landmark")
  }

  /** General ordered-window search gate (k-token slop form): mixed 2-
    * and 3-token phrases, slop 1 — anchors are distinct first-token
    * positions beginning at least one valid chain. */
  def q105OrderedSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val phrases = Seq((0L, "spark agg"), (1L, "spark window agg"),
      (2L, "batch filter join"), (3L, "fast table")).toDF(
      "phrase_id", "phrase")
    SearchIndex.orderedSearch(t(s, dir, "documents"), phrases, slop = 1)
      .orderBy("phrase_id", "doc_id")
  }

  /** Triangle-count gate: per-node triangle membership over the
    * undirected form of the q98 graph — integer-exact; the engine's
    * degree-ordered orientation and the oracle's canonical u<v<w
    * enumeration count identical triangles. */
  def q106Triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    GraphAlgos.triangleCounts(edges).orderBy("node")
  }

  /** Local clustering coefficient — a pure COMPOSITION gate:
    * `2·triangles(v) / (d(v)·(d(v)−1))` over [[GraphAlgos.triangleCounts]]
    * and the undirected degree, rational arithmetic end to end. */
  def q107ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select((col("o_custkey") % 200).as("src"),
        (col("o_orderkey") % 200).as("dst"))
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    deg.join(GraphAlgos.triangleCounts(edges), Seq("node"), "left")
      .select(col("node"), col("d"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          (coalesce(col("n_triangles"), lit(0L)) * 2).cast("double") /
            (col("d") * (col("d") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("coeff"))
      .orderBy("node")
  }

  /** q108–q110: recall@k gates for the APPROXIMATE-mode ANN paths. The
    * exact-mode gates (q35/q48/q89 at all-pass / full-probe settings)
    * prove the machinery; these prove the approximation is GOOD at a
    * realistic operating point. Each gate computes the brute-force
    * top-10 baseline (DuckDB-oracle-checked, the q26 family) AND the
    * approximate result, then `require`s the measured recall above a
    * pinned threshold — a quality regression turns the gate red via the
    * error channel, while the hash compare keeps the baseline exact.
    * Thresholds sit below the min measured across sf0.01/sf0.1 (PLANS.md
    * pins the measurements); all paths are deterministic (seeded
    * k-means, hash-derived hyperplanes), so the gate cannot flake. */
  private def recallQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 25 === 0)

  private def recallExact(emb: DataFrame): DataFrame =
    Similarity.bruteForceTopK(emb, recallQueries(emb), k = 10)

  /** Measured recall of `approx` against the exact baseline: the
    * fraction of true top-k pairs the approximate path returned. */
  private def recallOf(exact: DataFrame, approx: DataFrame): Double = {
    val e = exact.select("query_id", "nbr_id").localCheckpoint(true)
    val hits = approx.select("query_id", "nbr_id").intersect(e).count()
    hits.toDouble / e.count()
  }

  /** Multiset row equality of two same-schema frames — the SAME predicate
    * as `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` (both compare
    * per-row multiplicities under null-safe, NaN-normalizing grouping) in
    * ONE aggregate job instead of four: the two-way form shuffles each
    * frame twice and runs two isEmpty actions; here each side is tagged
    * ±1, grouped once over every column, and equality is "every group
    * cancels". The parity gates (q308/q309/q312/q313/q315/q316/q317/q320)
    * spend this check 1–2× per run, so the saved exchanges are pure
    * gate-mechanics win — the asserted condition is unchanged. */
  private[graft] def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq.map(col)
    a.withColumn("__s", lit(1L)).unionByName(b.withColumn("__s", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("__s")).as("__d"))
      .filter(col("__d") =!= 0L)
      .isEmpty
  }

  /** Recursive fixture-tree copy with a small driver thread pool: the
    * compaction/tombstone gates copy a pristine index (50 batch dirs ×
    * ~16 one-file cell dirs ≈ 800 small files) into a run root EVERY
    * run, and Hadoop's FileUtil.copy walks that tree single-threaded
    * (~1.1 s measured at sf0.1). The
    * files are independent, so the leaves fan out over a bounded pool;
    * byte-identical layout, same one-level-down semantics as the
    * FileUtil.copy(dir → existing dir is created fresh) call it replaces. */
  private def copyTreeParallel(s: SparkSession, src: String, dst: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    val futures = scala.collection.mutable.ArrayBuffer
      .empty[java.util.concurrent.Future[_]]
    def walk(from: org.apache.hadoop.fs.Path,
             to: org.apache.hadoop.fs.Path): Unit = {
      val st = fs.getFileStatus(from)
      if (st.isDirectory) {
        fs.mkdirs(to)
        fs.listStatus(from).foreach(c =>
          walk(c.getPath, new org.apache.hadoop.fs.Path(to, c.getPath.getName)))
      } else futures += pool.submit(new Runnable {
        override def run(): Unit =
          org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to, false, conf)
      })
    }
    try {
      walk(srcPath, new org.apache.hadoop.fs.Path(dst))
      futures.foreach(_.get())
    } finally pool.shutdown()
  }

  // The deterministic trained artifacts behind q108/q110 (coarse
  // centroids, 256-codeword PQ codebooks, the written IVF-PQ index) are
  // trained ONCE per JVM per data directory — MLlib k-means training is
  // driver-side and identical on every call (fixed seeds), so re-training
  // per gate run is pure waste; the probe is what each run measures.
  private val annArtifactCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Seq[(Int, Array[Float])], Similarity.PqCodebooks, String)]()
  private def annArtifacts(s: SparkSession, dir: String)
      : (Seq[(Int, Array[Float])], Similarity.PqCodebooks, String) =
    annArtifactCache.computeIfAbsent(dir, _ => {
      val emb = t(s, dir, "embeddings").localCheckpoint(true)
      val cents = Similarity.trainCentroids(emb, nCells = 16)
      val cb = Similarity.pqTrain(emb, dim = 64, m = 8, k = 256)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_" +
        s"${java.lang.ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Similarity.writeIvfPqIndex(emb, cents, cb, path)
      (cents, cb, path)
    })

  def q108IvfRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val cents = Some(annArtifacts(s, dir)._1)
    val r4 = recallOf(exact,
      Similarity.ivfTopK(emb, recallQueries(emb), 10, nCells = 16, nProbe = 4,
        trained = cents))
    require(r4 >= 0.45, f"IVF recall@10 at nProbe=4 degraded: $r4%.3f < 0.45")
    val r8 = recallOf(exact,
      Similarity.ivfTopK(emb, recallQueries(emb), 10, nCells = 16, nProbe = 8,
        trained = cents))
    require(r8 >= 0.70, f"IVF recall@10 at nProbe=8 degraded: $r8%.3f < 0.70")
    exact.orderBy("query_id", "rank")
  }

  def q109LshMultiRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val r = recallOf(exact,
      Similarity.lshTopK(emb, recallQueries(emb), 10, nPlanes = 4, nTables = 15))
    require(r >= 0.75,
      f"banded-LSH recall@10 at 4 planes x 15 tables degraded: $r%.3f < 0.75")
    exact.orderBy("query_id", "rank")
  }

  def q110IvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val (cents, cb, path) = annArtifacts(s, dir)
    val got = Similarity.queryIvfPqIndex(s, path, cents, cb,
      recallQueries(emb), 10, nProbe = 8).localCheckpoint(true)
    // absolute floor vs exact (PQ distortion included), plus probing
    // retention vs the full-scan PQ ceiling (isolates the nProbe loss
    // from codebook quality)
    val r = recallOf(exact, got)
    require(r >= 0.35, f"IVF-PQ recall@10 at nProbe=8 degraded: $r%.3f < 0.35")
    val ret = recallOf(Similarity.pqTopK(emb, recallQueries(emb), 10, cb), got)
    require(ret >= 0.65,
      f"IVF-PQ probe retention vs full-scan PQ degraded: $ret%.3f < 0.65")
    exact.orderBy("query_id", "rank")
  }

  /** q303/q304: the PRODUCTION quantizer-training path under the recall
    * microscope. q108/q110 train on the FULL corpus (rows × cells × iters
    * — quadratic per decade when cells grow ∝ rows; PLANS.md measured it
    * at x^0.81/x^0.55). Production trains on a BOUNDED deterministic
    * sample ([[Similarity.trainCentroidsSampled]]) — these gates pin a
    * sampleBudget strictly below the corpus size at BOTH verify scales
    * (256 < 500 @ sf0.01 < 2000 @ sf0.1), so the sample genuinely
    * bounds, and prove the sampled quantizer still meets recall floors.
    * The hash-compared output stays the exact baseline (oracle-checked);
    * the approximation quality rides the require() error channel, the
    * q108 convention. Floors sit below the min measured across
    * sf0.01/sf0.1 (PLANS.md round-10 pins the measurements); every path
    * is deterministic (hash-rank sample, seeded k-means). */
  def q303IvfSampledRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val cents = Some(Similarity.trainCentroidsSampled(emb, nCells = 16,
      sampleBudget = 256))
    val r4 = recallOf(exact,
      Similarity.ivfTopK(emb, recallQueries(emb), 10, nCells = 16, nProbe = 4,
        trained = cents))
    require(r4 >= 0.45,
      f"sampled-quantizer IVF recall@10 at nProbe=4 degraded: $r4%.3f < 0.45")
    val r8 = recallOf(exact,
      Similarity.ivfTopK(emb, recallQueries(emb), 10, nCells = 16, nProbe = 8,
        trained = cents))
    require(r8 >= 0.70,
      f"sampled-quantizer IVF recall@10 at nProbe=8 degraded: $r8%.3f < 0.70")
    exact.orderBy("query_id", "rank")
  }

  /** Pair-recall of the sampled-quantizer SemDeDup cell assignment: the
    * fraction of TRUE near-dup pairs (cosine ≥ 0.3, left side drawn from
    * the `vec_id % 25` sample — the [[recallQueries]] convention) that a
    * quantizer co-cells, i.e. that [[Similarity.semanticDedup]] can
    * still see. The ABSOLUTE level (~0.2 here) is a property of 16
    * coarse cells on this near-uniform synthetic corpus at τ=0.3 —
    * full-set training measures the same (sf0.01: sampled 0.273 vs full
    * 0.236; sf0.1: 0.189 vs 0.220) — so the gate's primary floor is
    * COMPARATIVE: the bounded-sample quantizer must retain ≥ 0.7 of the
    * full-set-trained quantizer's pair recall (measured ratios 1.16 /
    * 0.86), plus a loose absolute sanity floor. The exact pair set is
    * the hash-compared face; both recall floors ride require(). */
  def q304SemDedupSampledPairs(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val a = recallQueries(emb)
      .select(col("vec_id").as("id_a"), col("embedding").as("__va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("__vb"))
    val exact = broadcast(a).join(b, col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= 0.3)
      .select("id_a", "id_b", "cos")
      .localCheckpoint(true)
    val n = exact.count()
    def pairRecall(cents: Seq[(Int, Array[Float])]): Double = {
      val assigned = Similarity.assignCells(
          emb.select(col("vec_id").as("__id"), col("embedding").as("__vec")),
          cents, "__vec", 1)
        .localCheckpoint(true) // both pair sides read one assignment pass
      val coCelled = assigned.select(col("cell_id"), col("__id").as("id_a"))
        .filter(col("id_a") % 25 === 0)
        .join(assigned.select(col("cell_id"), col("__id").as("id_b")),
          Seq("cell_id"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      exact.select("id_a", "id_b")
        .join(coCelled, Seq("id_a", "id_b"), "left_semi").count().toDouble / n
    }
    val sampled = pairRecall(Similarity.trainCentroidsSampled(emb,
      nCells = 16, sampleBudget = 256))
    val full = pairRecall(Similarity.trainCentroids(emb, nCells = 16))
    require(sampled >= 0.10,
      f"sampled-quantizer SemDeDup pair recall collapsed: $sampled%.3f < 0.10")
    require(full == 0.0 || sampled / full >= 0.70,
      f"sampled-quantizer SemDeDup pair recall degraded vs full-set training: " +
        f"$sampled%.3f / $full%.3f = ${sampled / full}%.3f < 0.70")
    exact.orderBy("id_a", "id_b")
  }

  /** q306: the TWO-LEVEL quantizer ([[Similarity.trainHierQuantizer]] —
    * per-row assignment 2·√nCells cosines instead of nCells, the lever
    * that removes the flat quantizer's rows × cells decade term) under
    * the same recall microscope. Floors sit below the min measured at
    * sf0.01/sf0.1 with the default 2 sub-Lloyd refinement iterations,
    * re-verified green after the trainer moved to the driver-local
    * bounded-sample Lloyd (measured under it at the sf1.0 operating
    * point: recall@10 0.896 vs flat 0.950 at matched ~5% probed, pair
    * recall 0.112; PLANS.md round 10).
    * Output = the exact baseline, the q108 convention. */
  def q306HierRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val hq = Similarity.trainHierQuantizer(emb, nCells = 16,
      sampleBudget = 256)
    val r4 = recallOf(exact, Similarity.ivfTopKHier(emb, recallQueries(emb),
      10, hq, nProbe = 4, probeTop = 2))
    require(r4 >= 0.38,
      f"two-level IVF recall@10 at nProbe=4 degraded: $r4%.3f < 0.38")
    val r8 = recallOf(exact, Similarity.ivfTopKHier(emb, recallQueries(emb),
      10, hq, nProbe = 8, probeTop = 2))
    require(r8 >= 0.60,
      f"two-level IVF recall@10 at nProbe=8 degraded: $r8%.3f < 0.60")
    // the SemDeDup face: fraction of true cos>=0.3 pairs the two-level
    // assignment co-cells (sampled left side, the q304 convention)
    val a = recallQueries(emb)
      .select(col("vec_id").as("id_a"), col("embedding").as("__va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("__vb"))
    val exactPairs = broadcast(a).join(b, col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("__va"), col("__vb")) >= 0.3)
      .select("id_a", "id_b").localCheckpoint(true)
    val assigned = Similarity.assignCellsHier(
        emb.select(col("vec_id").as("__id"), col("embedding").as("__vec")),
        hq, "__vec")
      .localCheckpoint(true)
    val coCelled = assigned.select(col("cell_id"), col("__id").as("id_a"))
      .filter(col("id_a") % 25 === 0)
      .join(assigned.select(col("cell_id"), col("__id").as("id_b")),
        Seq("cell_id"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b")
    val n = exactPairs.count()
    val pr = exactPairs.join(coCelled, Seq("id_a", "id_b"), "left_semi")
      .count().toDouble / n
    require(pr >= 0.12,
      f"two-level SemDeDup pair recall collapsed: $pr%.3f < 0.12")
    exact.orderBy("query_id", "rank")
  }

  /** q321: DISTRIBUTED sub-level quantizer training — the r14 verdict's
    * #1 structural item. The driver-local [[Similarity.trainHierQuantizer]]
    * collects effBudget = max(budget, 4·nCells) sample vectors and fits
    * every Lloyd step on the driver (~12 GB + single-core days at 10⁶
    * cells × 768 dims); [[Similarity.trainHierQuantizerDistributed]]
    * collects only the √nCells-sized top prefix and trains each top
    * cell's sub-centroids on the executors. The gate runs at a cell
    * count well above the ANN-gate norm (nCells = 256 → k1 = k2 = 16,
    * effBudget = 1024 — 16× q309's fixture) and requires (i) the
    * distributed fit is BIT-IDENTICAL to the driver-local one when the
    * top prefix covers the whole sample (the spec-pinned equality
    * contract, re-asserted at gate scale on real data), (ii) the
    * bounded-top regime (topBudget < 4·nCells — where the driver-local
    * fit stops being runnable at 100 TB) is layout-deterministic and
    * keeps every global id inside its top cell's slot range. Output =
    * the exact baseline, the q108 convention. */
  def q321HierTrainDistributed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val local = Similarity.trainHierQuantizer(emb, nCells = 256,
      sampleBudget = 256)
    val dist = Similarity.trainHierQuantizerDistributed(emb, nCells = 256,
      sampleBudget = 256, topBudget = 65536)
    require(dist.k2 == local.k2 &&
      dist.top.map { case (i, v) => (i, v.toSeq) } ==
        local.top.map { case (i, v) => (i, v.toSeq) } &&
      dist.sub.view.mapValues(_.map { case (g, v) => (g, v.toSeq) }).toMap ==
        local.sub.view.mapValues(_.map { case (g, v) => (g, v.toSeq) }).toMap,
      "distributed sub-level training diverged from the driver-local fit")
    // the bounded-top regime: top trains on the 64 lowest-hash rows only
    val b1 = Similarity.trainHierQuantizerDistributed(emb, nCells = 256,
      sampleBudget = 256, topBudget = 64)
    val b2 = Similarity.trainHierQuantizerDistributed(
      emb.repartition(7), nCells = 256, sampleBudget = 256, topBudget = 64)
    require(b1.sub.view.mapValues(_.map { case (g, v) =>
        (g, v.toSeq) }).toMap ==
      b2.sub.view.mapValues(_.map { case (g, v) => (g, v.toSeq) }).toMap,
      "bounded-top distributed training depends on the input layout")
    require(b1.sub.forall { case (c1, scs) =>
      scs.forall { case (g, _) =>
        g >= c1 * b1.k2 && g < (c1 + 1) * b1.k2 } },
      "a global id escaped its top cell's slot range")
    exact.orderBy("query_id", "rank")
  }

  /** q307: the PERSISTED production index end-to-end — the 100 TB ANN
    * lifecycle with every scale term bounded: refresh a versioned
    * two-level IVF-PQ index from HALF the corpus (bounded-sample
    * training: hier quantizer budget × √cells, PQ codebooks
    * budget × kCodes), append the other half under the FROZEN persisted
    * quantizer (~2·√cells cosines/row, no rewrite), query the committed
    * version with static partition pruning + ADC re-rank, then RETRAIN
    * over the full corpus, require the v2 cutover holds the floor, and
    * PRUNE: v1 retired out-of-band, v2 answering identically after.
    * Floors sit below the min measured at sf0.01/sf0.1 (nProbe=8,
    * probeTop=3, kCodes=128, budget=256: recall 0.490/0.314, PQ-ceiling
    * retention 0.760/0.673; v2 cutover 0.440/0.300 — PLANS.md round 10).
    * Output = the exact baseline, the q108 convention. */
  def q307IvfPqHierIndex(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val extra = emb.filter(col("vec_id") % 2 =!= 0)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q307_hidx_" +
      s"${java.lang.ProcessHandle.current().pid()}_" +
      java.lang.Integer.toHexString(dir.hashCode)
    hDeleteAll(s, root)
    val v1 = Similarity.refreshIvfPqIndexHier(base, nCells = 16, dim = 64,
      m = 8, kCodes = 128, root, sampleBudget = 256)
    require(v1 == 1, s"fresh root must publish v1, got v$v1")
    // frozen-quantizer append: the persisted artifacts drive it —
    // self-contained, no state held from the refresh call
    val hq = Similarity.readHierQuantizer(s, s"$root/v$v1/quantizer")
    val cb = Similarity.readPqCodebooks(s, root, v1)
    Similarity.appendToIvfPqIndexHier(extra, hq, cb, s"$root/v$v1/cells")
    val got = Similarity.queryVersionedIvfPqIndexHier(s, root,
      recallQueries(emb), 10, nProbe = 8, probeTop = 3).localCheckpoint(true)
    val r1 = recallOf(exact, got)
    require(r1 >= 0.25,
      f"hier IVF-PQ index recall@10 (append face) degraded: $r1%.3f < 0.25")
    // appended (odd-id) rows must be probe-visible
    require(got.filter(col("nbr_id") % 2 =!= 0).limit(1).count() == 1L,
      "appended rows never surfaced in a probe")
    val ret = recallOf(Similarity.pqTopK(emb, recallQueries(emb), 10, cb), got)
    require(ret >= 0.60,
      f"hier IVF-PQ probe retention vs full-scan PQ degraded: $ret%.3f < 0.60")
    // retrain cutover: v2 over the grown corpus, same bounded budget
    val v2 = Similarity.refreshIvfPqIndexHier(emb, nCells = 16, dim = 64,
      m = 8, kCodes = 128, root, sampleBudget = 256)
    require(v2 == 2, s"retrain must publish v2, got v$v2")
    val pre = Similarity.queryVersionedIvfPqIndexHier(s, root,
      recallQueries(emb), 10, nProbe = 8, probeTop = 3).localCheckpoint(true)
    val r2 = recallOf(exact, pre)
    require(r2 >= 0.25,
      f"hier IVF-PQ index recall@10 (v2 cutover) degraded: $r2%.3f < 0.25")
    // out-of-band version prune (r10 verdict item 7): v1 retired, v2
    // still the resolved current version answering IDENTICALLY
    val pruned = Similarity.pruneIvfVersions(s, root, keep = 1)
    require(pruned == Seq(1), s"prune must retire exactly v1, got $pruned")
    require(!hExists(s, s"$root/v1"), "v1 survived the prune")
    val post = Similarity.queryVersionedIvfPqIndexHier(s, root,
      recallQueries(emb), 10, nProbe = 8, probeTop = 3)
    require(sameRows(post, pre),
      "post-prune probe diverged from the pre-prune v2 results")
    exact.orderBy("query_id", "rank")
  }

  /** q308: STREAMING ingest into the persisted production index — the
    * Structured Streaming twin of q307's frozen-quantizer append, and
    * the 100 TB serving shape: a rarely-retrained base index plus
    * continuously-streamed deltas probed together. Refresh v1 from
    * HALF the corpus, then feed the other half through TWO file-source
    * micro-batches into `Streams.incrementalHierPqIngest` (frozen
    * persisted quantizer + codebooks, exactly-once `batch=` overwrite
    * layout). Requires: batch-0 rows probe-visible MID-STREAM (before
    * batch 1 exists), the streamed rows IDENTICAL to the batch
    * `appendToIvfPqIndexHier` encoding of the same vectors (the
    * streaming-twin convention: the stream replays under the batch
    * operator's contract, here exact row-set equality), and the
    * combined base+delta probe holding q307's append-face recall floor
    * (union probe via `queryIvfPqIndexHierPaths` — both roots prune on
    * the probed cells). Output = the exact baseline, the q108
    * convention. */
  // q308's BASE index (v1 over the even half) is read-only for the gate
  // — the stream is the subject — so it follows the annArtifacts
  // convention: built once per JVM per data directory (deterministic;
  // re-refreshing per run is pure waste). q307 keeps its refresh LIVE
  // because the lifecycle itself is that gate's subject.
  private val hierBaseCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, Similarity.HierQuantizer, Similarity.PqCodebooks)]()
  private def hierBaseIndex(s: SparkSession, dir: String)
      : (String, Similarity.HierQuantizer, Similarity.PqCodebooks) =
    hierBaseCache.computeIfAbsent(dir, _ => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 2 === 0)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_hbase_" +
        s"${java.lang.ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      hDeleteAll(s, root)
      val v1 = Similarity.refreshIvfPqIndexHier(base, nCells = 16, dim = 64,
        m = 8, kCodes = 128, root, sampleBudget = 256)
      (s"$root/v$v1/cells",
        Similarity.readHierQuantizer(s, s"$root/v$v1/quantizer"),
        Similarity.readPqCodebooks(s, root, v1))
    })

  def q308AnnStreamIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val extra = emb.filter(col("vec_id") % 2 =!= 0).localCheckpoint(true)
    val (baseCells, hq, cb) = hierBaseIndex(s, dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q308_hidx_" +
      s"${java.lang.ProcessHandle.current().pid()}_" +
      java.lang.Integer.toHexString(dir.hashCode)
    hDeleteAll(s, root)
    // file-source feed: the delta half split into two micro-batches
    val feed = twinFeedStart(s, "q308_feed", extra.filter(col("vec_id") % 4 === 1))
    val ingest = s"$root/ingest"
    val q = graft.streaming.Streams.incrementalHierPqIngest(
      s.readStream.schema(extra.schema).parquet(feed), hq, cb,
      ingest, s"$root/ckpt")
    try {
      q.processAllAvailable()
      // batch 0 must be probe-visible before batch 1 exists
      val mid = Similarity.queryIvfPqIndexHierPaths(s, Seq(ingest), hq, cb,
        recallQueries(emb), 10, nProbe = 16, probeTop = 4)
      require(mid.filter(col("nbr_id") % 4 === 1).limit(1).count() == 1L,
        "batch-0 rows not probe-visible mid-stream")
      twinFeedAppend(feed, extra.filter(col("vec_id") % 4 === 3))
      q.processAllAvailable()
    } finally q.stop()
    // exact row-set equality with the batch append encoding
    val streamed = s.read.parquet(ingest).select("nbr_id", "codes", "cell_id")
    val batchDir = s"$root/batch_witness"
    Similarity.appendToIvfPqIndexHier(extra, hq, cb, batchDir)
    val want = s.read.parquet(batchDir).select("nbr_id", "codes", "cell_id")
    require(sameRows(streamed, want),
      "streamed ingest diverged from the batch append encoding")
    // combined base+delta probe holds the q307 append-face floor
    val got = Similarity.queryIvfPqIndexHierPaths(s,
      Seq(baseCells, ingest), hq, cb,
      recallQueries(emb), 10, nProbe = 8, probeTop = 3)
    val r = recallOf(exact, got)
    require(r >= 0.25,
      f"streamed hier index recall@10 degraded: $r%.3f < 0.25")
    exact.orderBy("query_id", "rank")
  }

  /** q309: DELTA COMPACTION of the streamed index (r10 verdict item 2)
    * — the missing leg of the ANN lifecycle between q308's streamed
    * ingest and q307's retrain: at production micro-batch cadence the
    * probe pays a per-root listing + small-file cost that grows with
    * the `batch=` count, and compaction bounds it by folding deltas
    * into the next index version under the FROZEN artifacts (no
    * retrain, no re-encode). Refresh v1 from HALF the corpus, lay the
    * other half down as 50 micro-batch delta dirs (the exact
    * `incrementalHierPqIngest` layout q308 proves the stream
    * produces), then: (i) fold batches 0..48 EXPLICITLY → v2, with the
    * unfolded batch=49 surviving retirement and still probed (the
    * nothing-unfolded-is-retired contract, gate-level); (ii) probe
    * results IDENTICAL pre/post compaction (exact row equality — same
    * frozen quantizer ⇒ same probe cells, same codes ⇒ same ADC
    * scores, deterministic topK tie-break); (iii) fold the remainder →
    * v3, identical again from the single root; (iv) every cell dir of
    * the compacted version holds exactly ONE data file — the
    * fresh-refresh layout (v1 is the in-gate witness) — so the probe
    * reads |probed cells| files, same count a fresh refresh would;
    * (v) the copied artifacts are self-contained — pinned in
    * SimilaritySpec by a versioned query over the compacted root
    * (currentIvfVersion resolution + carried quantizer/codebooks),
    * gate-side by the v3 probe using the v1-read artifacts over the
    * v3 cells (a torn copy would change the scores). The deterministic
    * setup is the per-JVM [[compactFixture]]; each run compacts a
    * fresh COPY of it (compaction mutates the index). Output = the
    * exact baseline, the q108 convention. */
  // q309's SETUP — v1 refresh over the even half plus the 50-micro-batch
  // delta layout over the odd half (batch=N/cell_id=C, byte-identical to
  // 50 incrementalHierPqIngest batches; q308 proves the stream writes
  // exactly this) — is deterministic and read-only, so it is built ONCE
  // per JVM per data directory (the hierBaseCache convention). Each RUN
  // copies it to a work root, because compaction MUTATES the index
  // (publishes versions, retires deltas): the per-run cost is a local
  // file copy, not a retrain + 800-file re-write.
  // Object-store-clean gate plumbing (r11 verdict item 7): the ANN
  // gates inspect index layout through the SAME Hadoop FS API the
  // operators use — a gate pointed at an object-store root keeps
  // working, and the local-FS java.io.File shortcut is gone.
  private def hfs(s: SparkSession, p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
  private def hExists(s: SparkSession, p: String): Boolean =
    hfs(s, p).exists(new org.apache.hadoop.fs.Path(p))
  private def hIsDir(s: SparkSession, p: String): Boolean = {
    val fs = hfs(s, p)
    val pp = new org.apache.hadoop.fs.Path(p)
    fs.exists(pp) && fs.getFileStatus(pp).isDirectory
  }
  private def hDeleteAll(s: SparkSession, p: String): Unit =
    hfs(s, p).delete(new org.apache.hadoop.fs.Path(p), true)

  private val compactFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def compactFixture(s: SparkSession, dir: String,
                             nBatches: Int = 50): String =
    compactFixtureCache.computeIfAbsent(s"$dir#$nBatches", _ => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 2 === 0)
      val extra = emb.filter(col("vec_id") % 2 =!= 0)
      val pristine = s"${System.getProperty("java.io.tmpdir")}/graft_q309_fix_" +
        s"${java.lang.ProcessHandle.current().pid()}_${nBatches}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      hDeleteAll(s, pristine)
      val v1 = Similarity.refreshIvfPqIndexHier(base, nCells = 16, dim = 64,
        m = 8, kCodes = 128, pristine, sampleBudget = 256)
      val hq = Similarity.readHierQuantizer(s, s"$pristine/v$v1/quantizer")
      val cb = Similarity.readPqCodebooks(s, pristine, v1)
      Similarity.assignCellsHier(
          extra.select(col("vec_id").as("nbr_id"),
            col("embedding").as("nbr_vec")), hq, "nbr_vec")
        .select(col("nbr_id"),
          Similarity.pqEncode(col("nbr_vec"), cb).as("codes"),
          expr(s"pmod((nbr_id - 1) div 2, $nBatches)").cast("long")
            .as("batch"),
          col("cell_id"))
        // one file per (batch, cell) — exactly what a 1-task micro-batch
        // write lays down; without this every input task writes a file
        // per combo it holds (~1 row/file at gate scale)
        .repartition(col("batch"), col("cell_id"))
        .write.mode("overwrite").partitionBy("batch", "cell_id")
        .parquet(s"$pristine/ingest")
      pristine
    })

  def q309AnnDeltaCompaction(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val pristine = compactFixture(s, dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q309_hidx_" +
      s"${java.lang.ProcessHandle.current().pid()}_" +
      java.lang.Integer.toHexString(dir.hashCode)
    hDeleteAll(s, root)
    copyTreeParallel(s, pristine, root)
    val v1 = 1
    val hq = Similarity.readHierQuantizer(s, s"$root/v$v1/quantizer")
    val cb = Similarity.readPqCodebooks(s, root, v1)
    val ingest = s"$root/ingest"
    def dataFileCounts(cellsDir: String): Seq[Int] = {
      val fs = hfs(s, cellsDir)
      fs.listStatus(new org.apache.hadoop.fs.Path(cellsDir)).toSeq
        .filter(_.getPath.getName.startsWith("cell_id="))
        .map(d => fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet")))
    }
    val q = recallQueries(emb)
    val batchPaths = (0L until 50L).map(b => s"$ingest/batch=$b")
    require(batchPaths.forall(p => hIsDir(s, p)),
      "expected 50 delta batch directories")
    val pre = Similarity.queryIvfPqIndexHierPaths(s,
      Seq(s"$root/v$v1/cells", ingest), hq, cb, q, 10,
      nProbe = 8, probeTop = 3).localCheckpoint(true)
    require(recallOf(exact, pre) >= 0.25, "pre-compaction recall floor broken")
    // (i) explicit subset fold: batch=49 is the late arrival that must
    // survive retirement and stay probed
    val (v2, folded) = Similarity.compactIvfPqIndexHier(s, root, ingest,
      Some(0L until 49L))
    require(v2 == 2 && folded == (0L until 49L),
      s"subset fold went wrong: v$v2, $folded")
    require((0L until 49L).forall(b =>
      !hExists(s, s"$ingest/batch=$b")),
      "folded delta dirs must be retired")
    require(hIsDir(s, s"$ingest/batch=49"),
      "unfolded late delta was retired")
    val mid = Similarity.queryIvfPqIndexHierPaths(s,
      Seq(s"$root/v$v2/cells", ingest), hq, cb, q, 10,
      nProbe = 8, probeTop = 3).localCheckpoint(true)
    require(sameRows(mid, pre),
      "probe diverged after the subset fold")
    // (iii) fold the remainder: one root serves everything
    val (v3, folded2) = Similarity.compactIvfPqIndexHier(s, root, ingest)
    require(v3 == 3 && folded2 == Seq(49L),
      s"remainder fold went wrong: v$v3, $folded2")
    val post = Similarity.queryIvfPqIndexHierPaths(s,
      Seq(s"$root/v$v3/cells"), hq, cb, q, 10, nProbe = 8,
      probeTop = 3).localCheckpoint(true)
    require(sameRows(post, pre),
      "probe diverged after full compaction")
    // (iv) fresh-refresh layout parity: ONE file per cell, v1 witness
    val w = dataFileCounts(s"$root/v$v1/cells")
    val c3 = dataFileCounts(s"$root/v$v3/cells")
    require(w.nonEmpty && w.forall(_ == 1),
      s"fresh refresh must lay one file per cell, got $w")
    require(c3.nonEmpty && c3.forall(_ == 1),
      s"compacted version must match the fresh-refresh layout, got $c3")
    exact.orderBy("query_id", "rank")
  }

  /** q312: TOMBSTONE DELETES in the versioned ANN index — the last
    * lifecycle leg (refresh / append / streamed ingest / compact /
    * prune / delete). Deletes land as `del=` tombstone deltas
    * ([[Similarity.deleteFromIvfPqIndexHier]]): the gate refreshes v1
    * over the FULL corpus, tombstones every `vec_id % 17 == 3`, then
    * requires (i) the versioned probe masks them IMMEDIATELY (no
    * compaction, no deleted id in any result row) while holding a
    * recall floor against the exact top-10 over the SURVIVORS — the
    * masked index must answer as if the rows were never there; (ii)
    * compaction with no deltas still publishes v2, drops the rows
    * PHYSICALLY (v2 cells hold zero tombstoned ids), retires the
    * applied tombstone dir, and the probe is IDENTICAL across the
    * masked→physical boundary (exact row equality — same frozen
    * artifacts, the anti-join just becomes vacuous); (iii) a LATE
    * tombstone written after the compaction masks at probe with the
    * row still physically present. Output = the exact survivor
    * baseline; the oracle is the brute-force SQL with the survivor
    * predicate on the corpus side. Floors below min measured at
    * sf0.01/sf0.1 (PLANS.md round 11). Deterministic per-JVM pristine
    * fixture (the q309 convention — refresh once, copy per run since
    * deletes mutate the index). */
  private val deleteFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def deleteFixture(s: SparkSession, dir: String): String =
    deleteFixtureCache.computeIfAbsent(dir, _ => {
      val emb = t(s, dir, "embeddings")
      val pristine = s"${System.getProperty("java.io.tmpdir")}/graft_q312_fix_" +
        s"${java.lang.ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      hDeleteAll(s, pristine)
      Similarity.refreshIvfPqIndexHier(emb, nCells = 16, dim = 64,
        m = 8, kCodes = 128, pristine, sampleBudget = 256)
      pristine
    })

  def q312AnnTombstoneDelete(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val survivors = emb.filter(col("vec_id") % 17 =!= 3)
    val exact = Similarity.bruteForceTopK(survivors, recallQueries(emb),
      k = 10).localCheckpoint(true)
    val pristine = deleteFixture(s, dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q312_idx_" +
      s"${java.lang.ProcessHandle.current().pid()}_" +
      java.lang.Integer.toHexString(dir.hashCode)
    hDeleteAll(s, root)
    copyTreeParallel(s, pristine, root)
    val q = recallQueries(emb)
    Similarity.deleteFromIvfPqIndexHier(s, root,
      emb.filter(col("vec_id") % 17 === 3).select("vec_id"))
    // (i) masked immediately, answering from survivors at floor recall
    val masked = Similarity.queryVersionedIvfPqIndexHier(s, root, q,
      k = 10, nProbe = 8, probeTop = 3).localCheckpoint(true)
    require(masked.filter(col("nbr_id") % 17 === 3).isEmpty,
      "tombstoned ids leaked into the probe")
    val r = recallOf(exact, masked)
    require(r >= 0.25, f"survivor recall@10 degraded: $r%.3f < 0.25")
    // (ii) physical apply: v2 published from tombstones alone, rows
    // gone, tombstones retired, probe unchanged across the boundary
    val (v2, folded) = Similarity.compactIvfPqIndexHier(s, root,
      s"$root/__no_ingest")
    require(v2 == 2 && folded.isEmpty, s"tombstone-only compaction: v$v2")
    require(s.read.parquet(s"$root/v2/cells")
      .filter(col("nbr_id") % 17 === 3).isEmpty,
      "physical delete left tombstoned rows in the compacted cells")
    require(!hExists(s, s"$root/tombstones/del=0"),
      "applied tombstone dir must be retired")
    val physical = Similarity.queryVersionedIvfPqIndexHier(s, root, q,
      k = 10, nProbe = 8, probeTop = 3)
    require(sameRows(physical, masked),
      "probe diverged across the masked-to-physical boundary")
    // (iii) a late tombstone masks with the row still on disk
    val late = masked.select("nbr_id").limit(1)
    Similarity.deleteFromIvfPqIndexHier(s, root, late, idCol = "nbr_id")
    val lateId = late.head().getLong(0)
    require(Similarity.queryVersionedIvfPqIndexHier(s, root, q,
        k = 10, nProbe = 8, probeTop = 3)
      .filter(col("nbr_id") === lateId).isEmpty,
      "late tombstone must mask at probe")
    require(s.read.parquet(s"$root/v2/cells")
      .filter(col("nbr_id") === lateId).count() == 1L,
      "late tombstone must not touch the committed cells")
    exact.orderBy("query_id", "rank")
  }

  /** q313: SIZE-AWARE probe join — the kNN-join face of the production
    * index (r11 verdict item 1). The serving probe broadcasts the
    * query side; an offline full-corpus kNN join makes that side
    * corpus-sized, and [[Similarity.queryIvfPqIndexHierPaths]] must
    * fall back to a sort-merge join on `cell_id` WITHOUT changing a
    * single result row. The gate probes the persisted index with the
    * ENTIRE embeddings table as the query batch through both plans —
    * broadcast (cap default) and merge (cap 0) — and requires (i)
    * exact row equality between them, (ii) the plan shapes themselves
    * (BroadcastHashJoin vs SortMergeJoin on the probe side), and
    * (iii) every corpus row answered (the kNN-join contract: |corpus|
    * queries × k rows). The corpus-sized LINEARITY of the merge plan
    * is the decade leg (PLANS.md round 12, sf10emb/sf100emb); this
    * gate pins plan selection + equality at both verify scales.
    * Output = the exact baseline, the q108 convention. */
  def q313AnnKnnJoinParity(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val pristine = deleteFixture(s, dir) // read-only probe: no copy
    val hq = Similarity.readHierQuantizer(s, s"$pristine/v1/quantizer")
    val cb = Similarity.readPqCodebooks(s, pristine, 1)
    val paths = Seq(s"$pristine/v1/cells")
    val viaBroadcast = Similarity.queryIvfPqIndexHierPaths(s, paths, hq, cb,
      emb, k = 10, nProbe = 8, probeTop = 3).localCheckpoint(true)
    val viaMerge = Similarity.queryIvfPqIndexHierPaths(s, paths, hq, cb,
      emb, k = 10, nProbe = 8, probeTop = 3,
      maxBroadcastProbeRows = 0L).localCheckpoint(true)
    require(sameRows(viaMerge, viaBroadcast),
      "merge-side kNN join diverged from the broadcast plan")
    val bPlan = Similarity.queryIvfPqIndexHierPaths(s, paths, hq, cb,
      emb, k = 10, nProbe = 8, probeTop = 3)
      .queryExecution.executedPlan.toString
    val mPlan = Similarity.queryIvfPqIndexHierPaths(s, paths, hq, cb,
      emb, k = 10, nProbe = 8, probeTop = 3, maxBroadcastProbeRows = 0L)
      .queryExecution.executedPlan.toString
    require(bPlan.contains("BroadcastHashJoin"),
      s"under-cap probe must broadcast:\n$bPlan")
    require(mPlan.contains("SortMergeJoin") &&
      !mPlan.contains("BroadcastHashJoin"),
      s"above-cap probe must sort-merge, not broadcast:\n$mPlan")
    // the kNN-join contract: every corpus row got its k neighbors
    require(viaMerge.count() == emb.count() * 10L,
      "full-corpus kNN join must answer k rows per corpus row")
    exact.orderBy("query_id", "rank")
  }

  /** q314: EXACT RE-RANK recall lever (r11 verdict item 3) — the 0.25
    * ADC floors are gate floors, not a serving-quality ceiling; this
    * gate pins the lever that closes the gap. ADC scores carry the PQ
    * quantization error (m=8 codes over dim=64), so
    * [[Similarity.queryVersionedIvfPqIndexHierRerank]] probes an ADC
    * pool of poolFactor·k candidates and re-scores them against the
    * ORIGINAL vectors ([[Similarity.exactRerank]] — bit-for-bit the
    * [[Similarity.bruteForceTopK]] cosine + tie-break). Requires
    * recall@10 ≥ 0.85 at nProbe=16/probeTop=4/poolFactor=20 (measured
    * 1.000 at sf0.01, 0.935 at sf0.1 — PLANS.md round 12; the extra
    * cost is bounded: pool rows = 200/query re-scored, probe cosines
    * unchanged ~2·√nCells per row), and the rerank to dominate the raw
    * ADC probe at the same budget. Output = the exact baseline. */
  def q314AnnRerankRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val pristine = deleteFixture(s, dir) // read-only probe: no copy
    val q = recallQueries(emb)
    val adc = recallOf(exact, Similarity.queryVersionedIvfPqIndexHier(
      s, pristine, q, k = 10, nProbe = 16, probeTop = 4))
    val rr = recallOf(exact, Similarity.queryVersionedIvfPqIndexHierRerank(
      s, pristine, emb, q, k = 10, nProbe = 16, probeTop = 4,
      poolFactor = 20))
    require(rr >= 0.85,
      f"exact-rerank recall@10 degraded: $rr%.3f < 0.85")
    require(rr >= adc,
      f"rerank recall $rr%.3f fell below its own ADC pool's $adc%.3f")
    exact.orderBy("query_id", "rank")
  }

  /** q315: COMPACTION UNDER LIVE CHURN, raced at gate level (r11
    * verdict item 4 + the r11 ADVICE resurrection fix). The fixture is
    * a trimmed 12-batch twin of q309's streamed index; the gate then
    * (a) tombstones one base row (id 42) and one delta row that will
    * sit in an UNFOLDED batch (id 23, batch=11), (b) folds batches
    * 0..10 while the `midCompactionHook` injection seam lands a
    * brand-new batch=12 BETWEEN the fold listing and retirement — the
    * exact race a streaming writer creates. Requires: the
    * mid-compaction batch and the unfolded batch both survive
    * retirement and their rows stay probed
    * ([[Similarity.queryLiveIvfPqIndexHier]], which wires tombstone
    * masking in automatically); the tombstones are NOT
    * retired (batch=11 still holds dead id 23 — retiring would
    * resurrect it); both dead ids stay masked; the base row was
    * dropped PHYSICALLY from the new version while the delta row was
    * not. A draining fold then retires everything, applies the
    * tombstones physically, and the probe is EXACTLY equal across the
    * masked→physical boundary. Output = the exact baseline (corpus
    * unchanged — the index mutations ride the require() channel). */
  def q315AnnCompactionRace(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    // a TRIMMED 12-batch twin of q309's fixture: the race semantics
    // need an unfolded tail batch, not q309's 50-batch listing-cost
    // rehearsal — the smaller layout keeps the gate inside the bench
    // budget while exercising the identical fold/retire code path
    val pristine = compactFixture(s, dir, nBatches = 12)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q315_hidx_" +
      s"${java.lang.ProcessHandle.current().pid()}_" +
      java.lang.Integer.toHexString(dir.hashCode)
    hDeleteAll(s, root)
    copyTreeParallel(s, pristine, root)
    val hq = Similarity.readHierQuantizer(s, s"$root/v1/quantizer")
    val cb = Similarity.readPqCodebooks(s, root, 1)
    val ingest = s"$root/ingest"
    val q = recallQueries(emb)
    // id 23 lands in batch=11 by the fixture's pmod((id-1) div 2, 12)
    // layout — the tail batch the subset fold leaves unfolded; id 42
    // is an even (base-half) row. Pre-compaction masking across deltas
    // is spec-pinned (SimilaritySpec resurrection test); the gate
    // spends its probes on the raced boundary.
    Similarity.deleteFromIvfPqIndexHier(s, root,
      emb.filter(col("vec_id").isin(42L, 23L)).select("vec_id"))
    def liveProbe() = Similarity.queryLiveIvfPqIndexHier(s, root, ingest,
      q, k = 10, nProbe = 8, probeTop = 3)
    // the race: batch=12 (fresh ids, +1000000) lands mid-compaction
    val late = emb.filter(col("vec_id") % 25 === 7).limit(8)
      .select((col("vec_id") + 1000000L).as("nbr_id"),
        col("embedding").as("nbr_vec"))
    val (v2, folded) = Similarity.compactIvfPqIndexHier(s, root, ingest,
      Some(0L until 11L), midCompactionHook = () =>
        Similarity.assignCellsHier(late, hq, "nbr_vec")
          .select(col("nbr_id"),
            Similarity.pqEncode(col("nbr_vec"), cb).as("codes"),
            col("cell_id"))
          .write.mode("overwrite").partitionBy("cell_id")
          .parquet(s"$ingest/batch=12"))
    require(v2 == 2 && folded == (0L until 11L),
      s"race fold went wrong: v$v2, $folded")
    require(hIsDir(s, s"$ingest/batch=11") && hIsDir(s, s"$ingest/batch=12"),
      "the unfolded and mid-compaction batches must survive retirement")
    require(Similarity.readTombstoneIds(s, root).nonEmpty,
      "tombstones retired with dead id 23 still live in batch=11 — " +
        "resurrection")
    val mid = liveProbe().localCheckpoint(true)
    require(mid.filter(col("nbr_id").isin(42L, 23L)).isEmpty,
      "tombstoned ids resurfaced after the raced compaction")
    require(s.read.parquet(s"$root/v2/cells")
      .filter(col("nbr_id") === 42L).isEmpty,
      "base tombstone must be applied physically to the new version")
    // the mid-compaction batch's rows are probe-reachable: query them
    // by their own vectors (every cell probed at nProbe=16)
    val lateQ = emb.filter(col("vec_id") % 25 === 7).limit(8)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    val lateIds = Similarity.queryLiveIvfPqIndexHier(s, root, ingest,
        lateQ, k = 3, nProbe = 16, probeTop = 4)
      .filter(col("nbr_id") >= 1000000L)
    require(lateIds.limit(1).count() == 1L,
      "mid-compaction batch rows never surfaced in a probe")
    // draining fold: everything retired, tombstones applied physically,
    // probe EXACTLY equal across the masked-to-physical boundary
    val (v3, folded2) = Similarity.compactIvfPqIndexHier(s, root, ingest)
    require(v3 == 3 && folded2 == Seq(11L, 12L),
      s"draining fold went wrong: v$v3, $folded2")
    require(Similarity.readTombstoneIds(s, root).isEmpty,
      "drained ingest must retire the applied tombstones")
    require(s.read.parquet(s"$root/v3/cells")
      .filter(col("nbr_id").isin(42L, 23L)).isEmpty,
      "draining compaction left dead rows physically present")
    val post = liveProbe()
    require(sameRows(post, mid),
      "probe diverged across the masked-to-physical boundary")
    exact.orderBy("query_id", "rank")
  }

  /** q316: ADAPTIVE probe — the probe-side recall lever (r11 verdict
    * item 3's other half, for deployments that do NOT keep original
    * vectors at query time, q314's [[Similarity.exactRerank]]
    * precondition). [[Similarity.probeCellsHierAdaptive]] keeps the
    * best-ranked cells per query until their cumulative row count
    * reaches candidateFactor·k, so the candidate pool stops depending
    * on a lucky fixed nProbe: a query landing in small cells probes
    * more of them automatically. Requires (i) the matched-budget
    * property — adaptive recall@10 within 0.05 of the FIXED probe
    * whose per-query candidate volume the budget was matched to
    * (measured ABOVE it at both verify scales: 0.465 vs 0.440 at
    * sf0.01, 0.304 vs 0.300 at sf0.1 on +7% volume — PLANS.md round
    * 12; the require carries tolerance for data regen); (ii) the pool
    * guarantee — every query's selected cells hold ≥ min(budget,
    * total reach) candidate rows; (iii) a recall floor 0.25 (family
    * convention, below min measured). The exact-equivalence of the
    * unbounded budget to the fixed full-reach probe and prefix
    * minimality are spec-pinned (SimilaritySpec). Output = the exact
    * baseline. */
  def q316AnnAdaptiveProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val pristine = deleteFixture(s, dir) // read-only probe: no copy
    val hq = Similarity.readHierQuantizer(s, s"$pristine/v1/quantizer")
    val cells = Seq(s"$pristine/v1/cells")
    val sizes = Similarity.indexCellSizes(s, cells).localCheckpoint(true)
    val q = recallQueries(emb)
    val probeQ = q.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    // the fixed probe's average candidate volume → the matched budget
    val nq = q.count()
    val fixedVol = Similarity.probeCellsHier(probeQ, hq, "q_vec", 3, 8)
      .join(sizes, Seq("cell_id"), "left")
      .agg(sum(coalesce(col("cnt"), lit(0L)))).head().getLong(0)
    val budget = math.max(1L, fixedVol / nq)
    // (ii) pool guarantee at that budget
    val pools = Similarity.probeCellsHierAdaptive(probeQ, hq, "q_vec",
        probeTop = 4, minCandidates = budget, cellSizes = sizes)
      .join(sizes, Seq("cell_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("cnt"), lit(0L))).as("vol"))
    val reach = Similarity.probeCellsHierRanked(probeQ, hq, "q_vec", 4)
      .join(sizes, Seq("cell_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("cnt"), lit(0L))).as("reach"))
    require(pools.join(reach, Seq("query_id"))
      .filter(col("vol") < least(lit(budget), col("reach"))).isEmpty,
      "a query's adaptive pool fell below min(budget, reach)")
    // (i) matched-budget recall vs the fixed probe, (iii) floor
    val cb = Similarity.readPqCodebooks(s, pristine, 1)
    val fixedRec = recallOf(exact, Similarity.queryIvfPqIndexHierPaths(
      s, cells, hq, cb, q, k = 10, nProbe = 8, probeTop = 3))
    val aRec = recallOf(exact, Similarity.queryIvfPqIndexHierAdaptive(
      s, cells, hq, cb, q, k = 10, probeTop = 4,
      candidateFactor = math.max(1L, budget / 10L).toInt,
      cellSizes = Some(sizes)))
    require(aRec >= fixedRec - 0.05,
      f"adaptive recall $aRec%.3f fell >0.05 below matched-budget " +
        f"fixed $fixedRec%.3f")
    require(aRec >= 0.25, f"adaptive recall@10 degraded: $aRec%.3f < 0.25")
    // the versioned entry answers off the persisted v1/cellsizes
    // ARTIFACT (written by refresh before _COMMITTED) — must equal the
    // path probe fed the recomputed table exactly (r12: gate-level pin
    // of the artifact, not just the spec-level one)
    val viaArtifact = Similarity.queryVersionedIvfPqIndexHierAdaptive(
      s, pristine, q, k = 10, probeTop = 4,
      candidateFactor = math.max(1L, budget / 10L).toInt)
    val viaSizes = Similarity.queryIvfPqIndexHierAdaptive(
      s, cells, hq, cb, q, k = 10, probeTop = 4,
      candidateFactor = math.max(1L, budget / 10L).toInt,
      cellSizes = Some(sizes))
    require(sameRows(viaArtifact, viaSizes),
      "versioned adaptive probe (cellsizes artifact) diverged from the " +
        "recomputed-sizes path probe")
    exact.orderBy("query_id", "rank")
  }

  /** q317: SUB-CENTROID BROADCAST-JOIN fallback (r12 verdict item 1) —
    * the last unbounded-growth term in the ANN design. Below
    * [[Similarity.SubLiteralMaxFloats]] the sub level rides every
    * assignment/probe plan as a map LITERAL (measured right up to
    * 16k cells × 64 dims); above it that literal is a driver/codegen
    * killer (a 100 TB index at 10⁵–10⁶ cells × 768+ dims embeds
    * 0.3–6 GB in EVERY plan), so the sub level resolves through a
    * broadcast-joined (top cell → sub-centroids) table instead — the
    * vectors ship once per job as torrent blocks, never enter the
    * plan. This gate trains a HIGH-nCells quantizer (cells ∝ corpus/4,
    * the densest fixture the verify scales support), FORCES the join
    * path (threshold 0), and pins: (i) assignment row-equality to the
    * literal path plus the plan-shape witness (BroadcastHashJoin
    * present vs absent); (ii) end-to-end [[Similarity.ivfTopKHier]]
    * row-equality through assign + probe + ADC on both paths; (iii)
    * the family recall floor on the join path. Output = the exact
    * brute-force baseline (the family's DuckDB-checkable face). */
  def q317AnnSubJoinParity(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint(true)
    val exact = recallExact(emb)
    val n = emb.count()
    val nCells = math.max(64, (n / 4).toInt)
    val hq = Similarity.trainHierQuantizer(emb, nCells,
      sampleBudget = n.toInt)
    val nbrs = emb.select(col("vec_id").as("nbr_id"),
      col("embedding").as("nbr_vec"))
    val aLitPlan = Similarity.assignCellsHier(nbrs, hq, "nbr_vec")
    val aJoinPlan = Similarity.assignCellsHier(nbrs, hq, "nbr_vec",
      maxSubLiteralFloats = 0L)
    require(aJoinPlan.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "forced sub-join path must resolve the sub level via broadcast join")
    require(!aLitPlan.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "literal assignment path must stay join-free")
    // checkpoint before the two-way exceptAll: each direction would
    // otherwise re-evaluate both plans
    val aLit = aLitPlan.localCheckpoint(true)
    val aJoin = aJoinPlan.localCheckpoint(true)
    require(sameRows(aLit, aJoin),
      "assignment diverged between the literal and broadcast-join paths")
    val q = recallQueries(emb)
    val tLit = Similarity.ivfTopKHier(emb, q, k = 10, hq,
      nProbe = 16, probeTop = 4).localCheckpoint(true)
    val tJoin = Similarity.ivfTopKHier(emb, q, k = 10, hq,
      nProbe = 16, probeTop = 4, maxSubLiteralFloats = 0L)
      .localCheckpoint(true)
    require(sameRows(tLit, tJoin),
      "ivfTopKHier diverged between the literal and broadcast-join paths")
    val r = recallOf(exact, tJoin)
    require(r >= 0.25, f"sub-join recall@10 degraded: $r%.3f < 0.25")
    exact.orderBy("query_id", "rank")
  }

  /** The q102 oracle: HITS rounds unrolled (auth-from-hubs then
    * hub-from-auths per round), same graph CTEs as [[pageRankOracle]]. */
  private def hitsOracle(iters: Int, weighted: Boolean = false): String = {
    val (hc, ac) =
      if (weighted) ("CAST(e.w AS DOUBLE) * h.hub", "CAST(e.w AS DOUBLE) * a.auth")
      else ("h.hub", "a.auth")
    val rounds = (1 to iters).map { i =>
      s"""aa$i AS MATERIALIZED (SELECT e.dst AS node,
         |  list_sum(list($hc ORDER BY e.src)) AS v
         | FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst),
         |a$i AS MATERIALIZED (SELECT n.node, coalesce(aa$i.v, CAST(0 AS DOUBLE)) AS auth
         | FROM nodes n LEFT JOIN aa$i USING (node)),
         |hh$i AS MATERIALIZED (SELECT e.src AS node,
         |  list_sum(list($ac ORDER BY e.dst)) AS v
         | FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
         |h$i AS MATERIALIZED (SELECT n.node, coalesce(hh$i.v, CAST(0 AS DOUBLE)) AS hub
         | FROM nodes n LEFT JOIN hh$i USING (node))""".stripMargin
    }.mkString(",\n")
    val eCte =
      if (weighted)
        """e AS MATERIALIZED (SELECT o_custkey % 200 AS src, o_orderkey % 200 AS dst,
          |  CAST(sum(o_orderkey % 7 + 1) AS BIGINT) AS w
          | FROM orders WHERE o_orderkey < 2000 GROUP BY 1, 2)""".stripMargin
      else
        """e AS MATERIALIZED (SELECT DISTINCT o_custkey % 200 AS src,
          |  o_orderkey % 200 AS dst FROM orders WHERE o_orderkey < 2000)""".stripMargin
    s"""WITH $eCte,
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) AS hub FROM nodes),
       |$rounds
       |SELECT h$iters.node, h$iters.hub, a$iters.auth
       |FROM h$iters JOIN a$iters USING (node) ORDER BY node""".stripMargin
  }

  /** The q114 oracle: the q98 seeded-PageRank recursion over the
    * production-#2 phenotype subgraph (CS→CL→CSD on the q46 fixture),
    * node identity = the ArangoDB-style collection/key handle. The
    * sorted fold orders by the handle STRING — byte order for ASCII in
    * both engines, so the replay stays cell-exact. */
  private def q114Oracle(iters: Int): String = {
    val oneMinusD = "(CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))"
    val rounds = (1 to iters).map { i =>
      s"""s$i AS MATERIALIZED (SELECT e.dst AS node,
         |  list_sum(list(p.pr / CAST(d.deg AS DOUBLE) ORDER BY e.src)) AS s
         | FROM e JOIN deg d USING (src) JOIN p${i - 1} p ON p.node = e.src
         | GROUP BY e.dst),
         |p$i AS MATERIALIZED (SELECT n.node,
         |  CASE WHEN n.node LIKE 'CS/%' THEN $oneMinusD
         |   ELSE CAST(0 AS DOUBLE) END
         |   + CAST(0.85 AS DOUBLE) * coalesce(s.s, CAST(0 AS DOUBLE)) AS pr
         | FROM nodes n LEFT JOIN s$i s USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH cust AS MATERIALIZED (SELECT CAST(c_custkey AS BIGINT) AS c FROM customer),
       |e AS MATERIALIZED (
       | SELECT DISTINCT 'CS/' || CAST(c AS VARCHAR) AS src,
       |  'CL/' || CAST(c % 200 AS VARCHAR) AS dst FROM cust
       | UNION
       | SELECT DISTINCT 'CL/' || CAST(c % 200 AS VARCHAR),
       |  'CSD/' || CAST((c % 200) % 40 AS VARCHAR) FROM cust),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |p0 AS MATERIALIZED (SELECT node, CASE WHEN node LIKE 'CS/%' THEN CAST(1 AS DOUBLE)
       | ELSE CAST(0 AS DOUBLE) END AS pr FROM nodes),
       |$rounds
       |SELECT split_part(node, '/', 1) AS collection,
       | split_part(node, '/', 2) AS key, pr AS rank
       |FROM p$iters ORDER BY collection, key""".stripMargin
  }

  /** The q113 oracle: power-iteration rounds unrolled — in-neighbor
    * sorted-fold sum, then renormalize by the round max (fold-order-free,
    * division exact — see GraphAlgos.eigenvectorCentrality). */
  private def eigenOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""s$i AS MATERIALIZED (SELECT e.dst AS node,
         |  list_sum(list(x.score ORDER BY e.src)) AS s
         | FROM e JOIN x${i - 1} x ON x.node = e.src GROUP BY e.dst),
         |r$i AS MATERIALIZED (SELECT n.node, coalesce(s$i.s, CAST(0 AS DOUBLE)) AS score
         | FROM nodes n LEFT JOIN s$i USING (node)),
         |m$i AS MATERIALIZED (SELECT max(score) AS m FROM r$i),
         |x$i AS MATERIALIZED (SELECT node,
         |  CASE WHEN m.m > 0 THEN score / m.m ELSE score END AS score
         | FROM r$i CROSS JOIN m$i m)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey % 200 AS src,
       |  o_orderkey % 200 AS dst FROM orders WHERE o_orderkey < 2000),
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |x0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) AS score FROM nodes),
       |$rounds
       |SELECT node, score FROM x$iters ORDER BY node""".stripMargin
  }

  /** The q116 oracle: k-core peel rounds unrolled as CTE pairs over the
    * q113 edge set — each round drops sub-k nodes from the two-way
    * adjacency; rounds past convergence are no-ops, so `rounds` only
    * needs to be ≥ the graph's peel depth (the engine side requires its
    * own convergence, so an under-unrolled oracle can't silently agree
    * with a diverged engine). Pure integer arithmetic.
    *
    * Every CTE is `AS MATERIALIZED`: each `aN` is referenced three times
    * by round N+1 (once by `rN`, twice by the NOT IN subqueries), and
    * DuckDB inlines non-materialized CTEs — 16 unrolled rounds would
    * otherwise expand to ~3^16 copies of the base scan and the oracle
    * never finishes (this hung the round-6 harness). Materialized, the
    * whole query runs in ~0.1 s. */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""r$i AS MATERIALIZED (SELECT node FROM a${i - 1} GROUP BY node
         | HAVING count(*) < $k),
         |a$i AS MATERIALIZED (SELECT node, nbr FROM a${i - 1}
         | WHERE node NOT IN (SELECT node FROM r$i)
         |  AND nbr NOT IN (SELECT node FROM r$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
       |  greatest(src, dst) AS v FROM (
       |  SELECT o_custkey % 200 AS src, o_orderkey % 200 AS dst
       |  FROM orders WHERE o_orderkey < 2000) WHERE src <> dst),
       |a0 AS MATERIALIZED (SELECT u AS node, v AS nbr FROM und
       | UNION ALL SELECT v, u FROM und),
       |$steps
       |SELECT node, count(*) AS deg FROM a$rounds
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** The q126 oracle: synchronous LPA sweeps unrolled — per round a
    * windowed vote (count DESC, label ASC) over the neighbor-label
    * join. MATERIALIZED like every unrolled iterative oracle (each lN
    * is referenced by the next round's join). */
  private def lpaOracle(rounds: Int, weighted: Boolean = false): String = {
    val vote = if (weighted) "sum(a.w)" else "count(*)"
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT node, label FROM (
         | SELECT a.node, l.label, $vote AS c,
         |  row_number() OVER (PARTITION BY a.node
         |   ORDER BY $vote DESC, l.label ASC) AS rn
         | FROM adj a JOIN l${i - 1} l ON l.node = a.nbr
         | GROUP BY a.node, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val und =
      if (weighted)
        """und AS MATERIALIZED (SELECT least(src, dst) AS u,
          |  greatest(src, dst) AS v, CAST(sum(w0) AS BIGINT) AS w FROM (
          |  SELECT o_custkey % 500 AS src, o_orderkey % 500 AS dst,
          |   o_orderkey % 7 + 1 AS w0
          |  FROM orders WHERE o_orderkey < 2000) WHERE src <> dst
          | GROUP BY 1, 2),
          |adj AS MATERIALIZED (SELECT u AS node, v AS nbr, w FROM und
          | UNION ALL SELECT v, u, w FROM und)""".stripMargin
      else
        """und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
          |  greatest(src, dst) AS v FROM (
          |  SELECT o_custkey % 500 AS src, o_orderkey % 500 AS dst
          |  FROM orders WHERE o_orderkey < 2000) WHERE src <> dst),
          |adj AS MATERIALIZED (SELECT u AS node, v AS nbr FROM und
          | UNION ALL SELECT v, u FROM und)""".stripMargin
    s"""WITH $und,
       |l0 AS (SELECT node, node AS label FROM
       | (SELECT DISTINCT node FROM adj)),
       |$steps
       |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
  }

  /** The q98/q99 oracle: PageRank rounds unrolled as CTE pairs (DuckDB
    * forbids aggregates in a recursive CTE's recursive term). `1−d` is
    * written as the IEEE subtraction, never a pre-rounded 0.15 literal,
    * to match the engine bit-for-bit; `init`/`seedPred` parameterize
    * the personalized variant (reset mass on seeds only). */
  private def pageRankOracle(iters: Int, seedPred: Option[String] = None,
                             weighted: Boolean = false): String = {
    val oneMinusD = "(CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))"
    val (init, base) = seedPred match {
      case None => ("CAST(1 AS DOUBLE)", oneMinusD)
      case Some(p) =>
        (s"CASE WHEN $p THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END",
          s"CASE WHEN $p THEN $oneMinusD ELSE CAST(0 AS DOUBLE) END")
    }
    val contrib =
      if (weighted) "p.pr * (CAST(e.w AS DOUBLE) / CAST(d.deg AS DOUBLE))"
      else "p.pr / CAST(d.deg AS DOUBLE)"
    val rounds = (1 to iters).map { i =>
      s"""s$i AS MATERIALIZED (SELECT e.dst AS node,
         |  list_sum(list($contrib ORDER BY e.src)) AS s
         | FROM e JOIN deg d USING (src) JOIN p${i - 1} p ON p.node = e.src
         | GROUP BY e.dst),
         |p$i AS MATERIALIZED (SELECT n.node,
         |  $base
         |   + CAST(0.85 AS DOUBLE) * coalesce(s.s, CAST(0 AS DOUBLE)) AS pr
         | FROM nodes n LEFT JOIN s$i s USING (node))""".stripMargin
    }.mkString(",\n")
    val eCte =
      if (weighted)
        """e AS MATERIALIZED (SELECT o_custkey % 200 AS src, o_orderkey % 200 AS dst,
          |  CAST(sum(o_orderkey % 7 + 1) AS BIGINT) AS w
          | FROM orders WHERE o_orderkey < 2000 GROUP BY 1, 2),
          |deg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM e GROUP BY src)""".stripMargin
      else
        """e AS MATERIALIZED (SELECT DISTINCT o_custkey % 200 AS src,
          |  o_orderkey % 200 AS dst FROM orders WHERE o_orderkey < 2000),
          |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src)""".stripMargin
    s"""WITH $eCte,
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |p0 AS MATERIALIZED (SELECT node, $init AS pr FROM nodes),
       |$rounds
       |SELECT node, pr FROM p$iters ORDER BY node""".stripMargin
  }

  /** C4 line-dedup gate: build three-line documents (original text, a
    * corpus-wide footer, the uppercased text) — the footer line occurs
    * in every doc and must vanish; original/upper lines survive unless
    * the underlying text is an exact corpus duplicate (the documents
    * table plants those), in which case the whole doc empties. */
  def q100LineDedup(s: SparkSession, dir: String): DataFrame = {
    val docs3 = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit("\nCOMMON FOOTER\n"), upper(col("text")))
        .as("text"))
    Corpus.removeBoilerplateLines(docs3, minDocs = 3)
      .filter(col("doc_id") < 300)
      .orderBy("doc_id")
  }

  /** Proximity-search gate (the slop form of q93): token pairs within
    * 1+slop positions, slop = 2. Counts every qualifying position pair,
    * so overlapping matches are exercised. */
  def q101ProximitySearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Seq((0L, "window", "agg"), (1L, "spark", "agg"),
      (2L, "batch", "window"), (3L, "fast", "slow")).toDF(
      "pair_id", "token_a", "token_b")
    SearchIndex.proximitySearch(t(s, dir, "documents"), pairs, slop = 2)
      .orderBy("pair_id", "doc_id")
  }

  // ---------------------------------------------------------------------
  // Registry + oracles
  // ---------------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_forecast_revenue" -> (q02ForecastRevenue _),
    "q03_segment_orders" -> (q03SegmentOrders _),
    "q04_revenue_by_nation" -> (q04RevenueByNation _),
    "q05_brand_volume" -> (q05BrandVolume _),
    "q06_customers_with_orders" -> (q06CustomersWithOrders _),
    "q07_customers_without_orders" -> (q07CustomersWithoutOrders _),
    "q08_top3_orders_per_cust" -> (q08Top3OrdersPerCust _),
    "q09_first_order_priority" -> (q09FirstOrderPriority _),
    "q10_nation_union" -> (q10NationUnion _),
    "q11_hyphenate_types" -> (q11HyphenateTypes _),
    "q12_pylist_roundtrip" -> (q12PylistRoundtrip _),
    "q13_events_hourly" -> (q13EventsHourly _),
    "q14_event_props" -> (q14EventProps _),
    "q15_dedup_exact" -> (q15DedupExact _),
    "q16_token_stats" -> (q16TokenStats _),
    "q17_lang_id" -> (q17LangId _),
    "q18_quality_features" -> (q18QualityFeatures _),
    "q19_ngram_jaccard" -> (q19NgramJaccard _),
    "q20_minhash_lsh" -> (q20MinHashLsh _),
    "q21_simhash" -> (q21SimHash _),
    "q22_graph_vertices" -> (q22GraphVertices _),
    "q23_graph_edges_first_wins" -> (q23GraphEdgesFirstWins _),
    "q24_path_2hop" -> (q24Path2Hop _),
    "q25_path_subgraph" -> (q25PathSubgraph _),
    "q26_similarity_topk" -> (q26SimilarityTopK _),
    "q27_cosine_near_dups" -> (q27CosineNearDups _),
    "q28_nsforest_writer" -> (q28NsforestWriter _),
    "q29_ngram_search" -> (q29NgramSearch _),
    "q30_edge_ngram_typeahead" -> (q30EdgeNgramTypeahead _),
    "q31_path_hierarchy" -> (q31PathHierarchy _),
    "q32_multimodal" -> (q32Multimodal _),
    "q33_gene_collection" -> (q33GeneCollection _),
    "q34_first_per_key" -> (q34FirstPerKey _),
    "q35_ivf_topk" -> (q35IvfTopK _),
    "q36_minhash_signatures" -> (q36MinhashSignatures _),
    "q37_minhash_lsh_oracle" -> (q37MinhashLshOracle _),
    "q38_end_to_end_slice" -> (q38EndToEndSlice _),
    "q39_author_to_cl_writer" -> (q39AuthorToClWriter _),
    "q40_ontology_pipeline" -> (q40OntologyPipeline _),
    "q41_annotation_writer" -> (q41AnnotationWriter _),
    "q42_cellxgene_writer" -> (q42CellxgeneWriter _),
    "q43_opentargets_diseases" -> (q43OpentargetsDiseases _),
    "q44_opentargets_drugs" -> (q44OpentargetsDrugs _),
    "q45_schema_writer" -> (q45SchemaWriter _),
    "q46a_catalog_2hop" -> (q46aCatalog2Hop _),
    "q46b_catalog_hierarchy" -> (q46bCatalogHierarchy _),
    "q46c_catalog_4hop" -> (q46cCatalog4Hop _),
    "q46d_catalog_5hop_subgraph" -> (q46dCatalog5HopSubgraph _),
    "q47_tuple_json_roundtrip" -> (q47TupleJsonRoundtrip _),
    "q48_lsh_topk" -> (q48LshTopK _),
    "q49_fingerprint" -> (q49Fingerprint _),
    "q50_near_dup_components" -> (q50NearDupComponents _),
    "q51_deterministic_split" -> (q51DeterministicSplit _),
    "q52_redact" -> (q52Redact _),
    "q53_bucketed_catalog" -> (q53BucketedCatalog _),
    "q54_decontaminate" -> (q54Decontaminate _),
    "q55_pack_sequences" -> (q55PackSequences _),
    "q56_stratified_sample" -> (q56StratifiedSample _),
    "q57_repetition" -> (q57Repetition _),
    "q58_tfidf_topk" -> (q58TfidfTopTerms _),
    "q59_token_percentiles" -> (q59TokenPercentiles _),
    "q60_zorder" -> (q60Zorder _),
    "q61_lsh_index" -> (q61LshIndex _),
    "q62_chunk" -> (q62Chunk _),
    "q63_token_budget_sample" -> (q63TokenBudgetSample _),
    "q64a_curation_quality" -> (q64aCurationQuality _),
    "q64b_curation_exact" -> (q64bCurationExact _),
    "q64c_curation_neardup" -> (q64cCurationNeardup _),
    "q64d_curation_decontam" -> (q64dCurationDecontam _),
    "q64e_curation_split" -> (q64eCurationSplit _),
    "q65_skew_report" -> (q65SkewReport _),
    "q66_duplicate_passages" -> (q66DuplicatePassages _),
    "q67_orc_roundtrip" -> (q67OrcRoundtrip _),
    "q68_sessionize" -> (q68Sessionize _),
    "q69_funnel" -> (q69Funnel _),
    "q70_retention" -> (q70Retention _),
    "q71_asof_join" -> (q71AsofJoin _),
    "q72_range_join" -> (q72RangeJoin _),
    "q73_rollup" -> (q73Rollup _),
    "q74_sampled_quantiles" -> (q74SampledQuantiles _),
    "q75_encoding" -> (q75Encoding _),
    "q76_pivot" -> (q76Pivot _),
    "q77_freq_sketch_bound" -> (q77FreqSketchBound _),
    "q78_kll_bound" -> (q78KllBound _),
    "q79_fuzzy_decontaminate" -> (q79FuzzyDecontaminate _),
    "q80_approx_distinct" -> (q80ApproxDistinct _),
    "q81_sessionize_chunked" -> (q81SessionizeChunked _),
    "q82_bucketed_hierarchy" -> (q82BucketedHierarchy _),
    "q83_grouped_kll_bound" -> (q83GroupedKllBound _),
    "q84_gopher_filter" -> (q84GopherFilter _),
    "q85_components_star" -> (q85ComponentsStar _),
    "q86_decontaminate_bloom" -> (q86DecontaminateBloom _),
    "q87_sq_topk" -> (q87SqTopK _),
    "q88_pq_topk" -> (q88PqTopK _),
    "q89_ivfpq_index" -> (q89IvfPqIndex _),
    "q90_bm25_topk" -> (q90Bm25TopK _),
    "q91_bm25_view" -> (q91Bm25View _),
    "q92_merge_latest" -> (q92MergeLatest _),
    "q93_phrase_search" -> (q93PhraseSearch _),
    "q94_lm_score" -> (q94LmScore _),
    "q95_dsir_weights" -> (q95DsirWeights _),
    "q96_hybrid_rrf" -> (q96HybridRrf _),
    "q97_merge_agg" -> (q97MergeAgg _),
    "q98_pagerank" -> (q98PageRank _),
    "q99_personalized_pagerank" -> (q99PersonalizedPageRank _),
    "q100_line_dedup" -> (q100LineDedup _),
    "q101_proximity_search" -> (q101ProximitySearch _),
    "q102_hits" -> (q102Hits _),
    "q103_weighted_pagerank" -> (q103WeightedPageRank _),
    "q104_shortest_paths" -> (q104ShortestPaths _),
    "q105_ordered_search" -> (q105OrderedSearch _),
    "q106_triangles" -> (q106Triangles _),
    "q107_clustering_coeff" -> (q107ClusteringCoeff _),
    "q108_ivf_recall" -> (q108IvfRecall _),
    "q109_lsh_multi_recall" -> (q109LshMultiRecall _),
    "q110_ivfpq_recall" -> (q110IvfPqRecall _),
    "q111_bm25_append" -> (q111Bm25Append _),
    "q112_weighted_hits" -> (q112WeightedHits _),
    "q113_eigenvector_centrality" -> (q113EigenvectorCentrality _),
    "q114_rank_related_entities" -> (q114RankRelatedEntities _),
    "q115_semantic_dedup" -> (q115SemanticDedup _),
    "q116_kcore" -> (q116KCore _),
    "q117_bm25_replay" -> (q117Bm25ReplayedIngest _),
    "q118_merge_replay" -> (q118MergeReplayed _),
    "q119_pii_redact" -> (q119PiiRedact _),
    "q120_span_mask" -> (q120SpanMask _),
    "q121_asof_directions" -> (q121AsofDirections _),
    "q122_resample_locf" -> (q122ResampleLocf _),
    "q123_funnel_window" -> (q123FunnelWindow _),
    "q124_dedup_best" -> (q124DedupBest _),
    "q125_cube" -> (q125Cube _),
    "q126_label_propagation" -> (q126LabelPropagation _),
    "q127_weighted_lpa" -> (q127WeightedLpa _),
    "q128_link_prediction" -> (q128LinkPrediction _),
    "q129_harmonic" -> (q129Harmonic _),
    "q130_jaccard_prefix" -> (q130JaccardPrefix _),
    "q131_window_analytics" -> (q131WindowAnalytics _),
    "q132_weighted_sp" -> (q132WeightedShortestPaths _),
    "q133_collocations" -> (q133Collocations _),
    "q134_hopping_window" -> (q134HoppingWindow _),
    "q135_bipartite_project" -> (q135BipartiteProject _),
    "q136_betweenness" -> (q136Betweenness _),
    "q137_ktruss" -> (q137KTruss _),
    "q138_butterflies" -> (q138Butterflies _),
    "q139_textrank" -> (q139TextRank _),
    "q140_reciprocity" -> (q140Reciprocity _),
    "q141_assortativity" -> (q141Assortativity _),
    "q142_scc" -> (q142Scc _),
    "q143_walks" -> (q143Walks _),
    "q144_assoc_rules" -> (q144AssocRules _),
    "q145_token_diversity" -> (q145TokenDiversity _),
    "q146_temporal_reach" -> (q146TemporalReach _),
    "q147_modularity" -> (q147Modularity _),
    "q148_readability" -> (q148Readability _),
    "q149_rfm" -> (q149Rfm _),
    "q150_transitions" -> (q150Transitions _),
    "q151_percent_rank" -> (q151PercentRank _),
    "q152_zscore_outliers" -> (q152ZscoreOutliers _),
    "q153_concurrency" -> (q153Concurrency _),
    "q154_edit_distance" -> (q154EditDistance _),
    "q155_skyline" -> (q155Skyline _),
    "q156_kshell" -> (q156KShell _),
    "q157_unpivot" -> (q157Unpivot _),
    "q158_streaks" -> (q158Streaks _),
    "q159_mode" -> (q159Mode _),
    "q160_quartiles" -> (q160Quartiles _),
    "q161_linreg" -> (q161LinReg _),
    "q162_autocorr" -> (q162Autocorr _),
    "q163_coverage" -> (q163Coverage _),
    "q164_mad" -> (q164Mad _),
    "q165_grouping_sets" -> (q165GroupingSets _),
    "q166_cusum" -> (q166Cusum _),
    "q167_lift" -> (q167Lift _),
    "q168_bands" -> (q168Bands _),
    "q169_histogram" -> (q169Histogram _),
    "q170_attribution" -> (q170Attribution _),
    "q171_band_join" -> (q171BandJoin _),
    "q172_trigrams" -> (q172Trigrams _),
    "q173_seasonal" -> (q173Seasonal _),
    "q174_profile" -> (q174Profile _),
    "q175_integrity" -> (q175Integrity _),
    "q176_snapshot_diff" -> (q176SnapshotDiff _),
    "q177_weighted_median" -> (q177WeightedMedian _),
    "q178_top_percent" -> (q178TopPercent _),
    "q179_foaf" -> (q179Foaf _),
    "q180_minmax_norm" -> (q180MinMaxNorm _),
    "q181_bursts" -> (q181Bursts _),
    "q182_drawdown" -> (q182Drawdown _),
    "q183_mannwhitney" -> (q183MannWhitney _),
    "q184_abc" -> (q184Abc _),
    "q185_time_to_convert" -> (q185TimeToConvert _),
    "q186_scd2" -> (q186Scd2 _),
    "q187_quality_score" -> (q187QualityScore _),
    "q188_pseudonymize" -> (q188Pseudonymize _),
    "q189_bag_setops" -> (q189BagSetops _),
    "q190_richclub" -> (q190RichClub _),
    "q191_gini" -> (q191Gini _),
    "q192_percolation" -> (q192Percolation _),
    "q193_welch" -> (q193Welch _),
    "q194_chisq" -> (q194ChiSq _),
    "q195_itemitem" -> (q195ItemItem _),
    "q196_ewma" -> (q196Ewma _),
    "q197_running_distinct" -> (q197RunningDistinct _),
    "q198_compaction" -> (q198Compaction _),
    "q199_syssample" -> (q199SysSample _),
    "q200_benford" -> (q200Benford _),
    "q201_holt" -> (q201Holt _),
    "q202_quantile_norm" -> (q202QuantileNorm _),
    "q203_winsor" -> (q203Winsor _),
    "q204_kanonymity" -> (q204KAnonymity _),
    "q205_containment" -> (q205Containment _),
    "q206_cosine_pairs" -> (q206CosinePairs _),
    "q207_feature_hash" -> (q207FeatureHash _),
    "q208_target_encode" -> (q208TargetEncode _),
    "q209_overlap_join" -> (q209OverlapJoin _),
    "q210_confusion" -> (q210Confusion _),
    "q211_auc" -> (q211Auc _),
    "q212_fingerprint" -> (q212Fingerprint _),
    "q213_crosscorr" -> (q213CrossCorr _),
    "q214_bpe" -> (q214Bpe _),
    "q215_bpe_segment" -> (q215BpeSegment _),
    "q216_corr_matrix" -> (q216CorrMatrix _),
    "q217_tvd_drift" -> (q217TvdDrift _),
    "q218_ks" -> (q218Ks _),
    "q219_kaplan_meier" -> (q219KaplanMeier _),
    "q220_spearman" -> (q220Spearman _),
    "q221_two_prop_z" -> (q221TwoProportionZ _),
    "q222_vocab_overlap" -> (q222VocabOverlap _),
    "q223_novelty" -> (q223Novelty _),
    "q224_vocab_growth" -> (q224VocabGrowth _),
    "q225_dup_size_histogram" -> (q225DupSizeHistogram _),
    "q226_user_growth" -> (q226UserGrowth _),
    "q227_stickiness" -> (q227Stickiness _),
    "q228_entry_exit" -> (q228EntryExit _),
    "q229_degree_dist" -> (q229DegreeDist _),
    "q230_gap_quartiles" -> (q230GapQuartiles _),
    "q231_ktruss_decr" -> (q231KTrussDecr _),
    "q232_semdedup_cap" -> (q232SemDedupCap _),
    "q233_deep_hierarchy" -> (q233DeepHierarchy _),
    "q234_bmp_pixels" -> (q234BmpPixels _),
    "q235_wav_samples" -> (q235WavSamples _),
    "q236_kappa" -> (q236Kappa _),
    "q237_anova" -> (q237Anova _),
    "q238_bh_fdr" -> (q238BhFdr _),
    "q239_jw_pairs" -> (q239JwPairs _),
    "q240_debounce" -> (q240Debounce _),
    "q241_js_tokens" -> (q241JsTokens _),
    "q242_fleiss" -> (q242Fleiss _),
    "q243_kruskal" -> (q243Kruskal _),
    "q244_calibration" -> (q244Calibration _),
    "q245_brier" -> (q245Brier _),
    "q246_acf" -> (q246Acf _),
    "q247_msf" -> (q247Msf _),
    "q248_densest" -> (q248Densest _),
    "q249_stationary" -> (q249Stationary _),
    "q250_naive_bayes" -> (q250NaiveBayes _),
    "q251_cm_bound" -> (q251CmBound _),
    "q252_temp_mix" -> (q252TempMix _),
    "q253_cramers_v" -> (q253CramersV _),
    "q254_kendall" -> (q254Kendall _),
    "q255_search_eval" -> (q255SearchEval _),
    "q256_url_dedup" -> (q256UrlDedup _),
    "q257_interval_union" -> (q257IntervalUnion _),
    "q258_session_ngrams" -> (q258SessionNgrams _),
    "q259_mann_kendall" -> (q259MannKendall _),
    "q260_image_dhash" -> (q260ImageDhash _),
    "q261_theil_sen" -> (q261TheilSen _),
    "q262_segmented_ttr" -> (q262SegmentedTtr _),
    "q263_mcnemar" -> (q263Mcnemar _),
    "q264_wilcoxon" -> (q264Wilcoxon _),
    "q265_friedman" -> (q265Friedman _),
    "q266_isotonic" -> (q266Isotonic _),
    "q267_matching" -> (q267Matching _),
    "q268_katz" -> (q268Katz _),
    "q269_twap" -> (q269Twap _),
    "q270_precedence" -> (q270Precedence _),
    "q271_cochran_q" -> (q271CochranQ _),
    "q272_page_trend" -> (q272PageTrend _),
    "q273_randomization" -> (q273Randomization _),
    "q274_precedence_triples" -> (q274PrecedenceTriples _),
    "q275_nelson_aalen" -> (q275NelsonAalen _),
    "q276_cuped" -> (q276Cuped _),
    "q277_hodges_lehmann" -> (q277HodgesLehmann _),
    "q278_cooccurrence" -> (q278Cooccurrence _),
    "q279_rake" -> (q279Rake _),
    "q280_runs_test" -> (q280RunsTest _),
    "q281_durbin_watson" -> (q281DurbinWatson _),
    "q282_siegel" -> (q282Siegel _),
    "q283_jonckheere" -> (q283Jonckheere _),
    "q284_cliffs_delta" -> (q284CliffsDelta _),
    "q285_cohens_d" -> (q285CohensD _),
    "q286_t_closeness" -> (q286TCloseness _),
    "q287_closeness" -> (q287Closeness _),
    "q288_brown_forsythe" -> (q288BrownForsythe _),
    "q289_moods_median" -> (q289MoodsMedian _),
    "q290_pettitt" -> (q290Pettitt _),
    "q291_ljung_box" -> (q291LjungBox _),
    "q292_cronbach" -> (q292Cronbach _),
    "q293_icc" -> (q293Icc _),
    "q294_eff_diameter" -> (q294EffDiameter _),
    "q295_burstiness" -> (q295Burstiness _),
    "q296_bowtie" -> (q296Bowtie _),
    "q297_fetch_http" -> (q297FetchHttp _),
    "q301_png_pixels" -> (q301PngPixels _),
    "q298_cooccur_replay" -> (q298CooccurReplay _),
    "q299_twap_stream_replay" -> (q299TwapStreamReplay _),
    "q300_debounce_stream_replay" -> (q300DebounceStreamReplay _),
    "q302_cusum_stream_replay" -> (q302CusumStreamReplay _),
    "q303_ivf_sampled_recall" -> (q303IvfSampledRecall _),
    "q304_semdedup_sampled_pairs" -> (q304SemDedupSampledPairs _),
    "q305_obo_refresh" -> (q305OboRefresh _),
    "q306_hier_recall" -> (q306HierRecall _),
    "q307_ivfpq_hier_index" -> (q307IvfPqHierIndex _),
    "q308_ann_stream_ingest" -> (q308AnnStreamIngest _),
    "q309_ann_delta_compaction" -> (q309AnnDeltaCompaction _),
    "q310_span_mask_threshold" -> (q310SpanMaskThreshold _),
    "q311_isotonic_by_key" -> (q311IsotonicByKey _),
    "q312_ann_tombstone_delete" -> (q312AnnTombstoneDelete _),
    "q313_ann_knn_join_parity" -> (q313AnnKnnJoinParity _),
    "q314_ann_rerank_recall" -> (q314AnnRerankRecall _),
    "q315_ann_compaction_race" -> (q315AnnCompactionRace _),
    "q316_ann_adaptive_probe" -> (q316AnnAdaptiveProbe _),
    "q317_ann_subjoin_parity" -> (q317AnnSubJoinParity _),
    "q318_jpeg_pixels" -> (q318JpegPixels _),
    "q319_gif_pixels" -> (q319GifPixels _),
    "q320_dhash_cross" -> (q320DhashCross _),
    "q321_hier_train_distributed" -> (q321HierTrainDistributed _)
  )

  /** Latest-wins CDC merge semantics — shared verbatim by q92 (single
    * delivery) and q118 (doubled delivery: row_number over identical
    * duplicated rows picks an identical winner, so the replayed run
    * must hash-match this same oracle). */
  /** Debounce semantics shared by q240 (batch) and q300 (streaming
    * twin replay — identical survivor set by the twin's contract). */
  private val debounceOracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      | FROM events),
      |g AS (SELECT event_id, user_id, event_type,
      |  us - lag(us) OVER (PARTITION BY user_id, event_type
      |    ORDER BY us, event_id) AS gap
      | FROM e)
      |SELECT event_id, user_id, event_type FROM g
      |WHERE gap IS NULL OR gap >= 300000000
      |ORDER BY event_id""".stripMargin

  /** TWAP exact chain shared by q269 (batch) and q299 (streaming twin
    * replay — the per-key BigInteger state reproduces the same single
    * final division). */
  private val twapOracle: String =
    """WITH e AS MATERIALIZED (SELECT user_id, event_id,
      |  epoch_us(ts) AS us,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      | FROM events),
      |l AS (SELECT user_id, us, cents, lead(us) OVER (
      |  PARTITION BY user_id ORDER BY us, event_id) AS nxt
      | FROM e),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |  CAST(max(us) - min(us) AS BIGINT) AS span_us,
      |  CAST(sum(CAST(nxt - us AS HUGEINT) * cents) AS HUGEINT) AS num
      | FROM l GROUP BY user_id)
      |SELECT user_id, n, span_us,
      |  CASE WHEN span_us > 0 THEN
      |    CAST(CAST(num AS VARCHAR) AS DOUBLE) /
      |      CAST(span_us AS DOUBLE) END AS twap
      |FROM a ORDER BY user_id""".stripMargin

  /** Window-3 co-occurrence top-30, shared by q278 (one-shot batch)
    * and q298 (replay-guarded streaming ingest accumulation) — pairs
    * via offset-indexed list access, linear in tokens×window, never a
    * positional self-join. */
  private val cooccurrenceOracle: String =
    """WITH d AS MATERIALIZED (SELECT
      |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '') AS lst
      | FROM documents),
      |p AS (SELECT least(lst[i], lst[i + o]) AS w1,
      |  greatest(lst[i], lst[i + o]) AS w2
      | FROM d, unnest(range(1, len(lst) + 1)) tt(i),
      |   unnest(range(1, 4)) oo(o)
      | WHERE i + o <= len(lst)),
      |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
      | FROM p GROUP BY 1, 2),
      |r AS (SELECT w1, w2, n, CAST(row_number() OVER (
      |  ORDER BY n DESC, w1, w2) AS BIGINT) AS rank FROM c)
      |SELECT w1, w2, n, rank FROM r WHERE rank <= 30
      |ORDER BY rank""".stripMargin

  /** CUSUM recursion shared by q166 (batch) and q302 (streaming twin
    * replay — per-event clamped fold, ordered feed). */
  private val cusumOracle: String =
    """WITH RECURSIVE b AS MATERIALIZED (SELECT user_id,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |  CAST(row_number() OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
      | FROM events),
      |r AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT)
      |    AS s
      |  FROM (SELECT DISTINCT user_id FROM b)
      |  UNION ALL
      |  SELECT b.user_id, b.rn,
      |    greatest(CAST(0 AS BIGINT), r.s + b.cents - 5000)
      |  FROM r JOIN b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
      |SELECT user_id, max(rn) AS n, max(s) AS max_cusum,
      |  min(CASE WHEN s >= 50000 THEN rn END) AS first_alarm
      |FROM r WHERE rn >= 1 GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  private val mergeLatestOracle: String =
    """WITH base AS (
      | SELECT o_orderkey, o_orderstatus AS status, 0 AS version,
      |  false AS deleted, 0 AS side
      | FROM orders),
      |upd AS (
      | SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 'U1' ELSE 'T0' END AS status,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS version,
      |  (o_orderkey % 21 = 0) AS deleted, 1 AS side
      | FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 = 0),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
      |w AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |   ORDER BY version DESC, side DESC) AS rn FROM u)
      |SELECT o_orderkey, status, version FROM w
      |WHERE rn = 1 AND NOT deleted AND o_orderkey < 400
      |ORDER BY o_orderkey""".stripMargin

  /** Shared by q26 (brute force) and q48 (all-pass-bucket LSH). */
  private val bruteForceTopKOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |scored AS (
        | SELECT q.query_id, c.vec_id AS nbr_id,
        |  list_sum(list_transform(list_zip(q.qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, cos, rank FROM (
        | SELECT query_id, nbr_id, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        | FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Shared by q28 (writer) and q47 (interchange round-trip). */
  private val nsforestStreamOracle: String =
    """WITH r AS (
        | SELECT p_name AS cn,
        |  regexp_replace(regexp_replace(p_name, '[ _,/]', '-', 'g'), '-+', '-', 'g') AS cnh,
        |  CAST(p_size AS BIGINT) AS csize,
        |  CAST(round(p_retailprice) AS VARCHAR) AS fs,
        |  CAST(CAST(p_partkey % 100 AS DOUBLE) AS VARCHAR) AS prec,
        |  CAST(p_partkey % 7 AS VARCHAR) AS tn, CAST(p_partkey % 5 AS VARCHAR) AS fp,
        |  CAST(p_partkey % 3 AS VARCHAR) AS fn, CAST(p_partkey % 11 AS VARCHAR) AS tp,
        |  CAST(len(string_split(p_name, ' ')) AS VARCHAR) AS mc,
        |  string_split(p_name, ' ') AS words, p_name AS joined,
        |  substr(md5(p_name), 1, 12) AS uid,
        |  CASE WHEN p_size % 10 = 0 THEN NULL ELSE CAST(p_size/4.0 AS VARCHAR) END AS sil
        | FROM part WHERE p_size >= 10),
        |tm AS (
        | SELECT *,
        |  'http://purl.obolibrary.org/obo/CS_' || cnh || '-' || uid AS cs,
        |  'http://purl.obolibrary.org/obo/BMC_' || uid AS bmc,
        |  'http://purl.obolibrary.org/obo/BGS_' || uid AS bgs,
        |  2 + 2*len(words) AS p0,
        |  2 + 2*len(words) + 8 + CASE WHEN sil IS NULL THEN 0 ELSE 1 END AS q0
        | FROM r),
        |g AS (SELECT *, unnest(generate_series(1, len(words))) AS i FROM tm),
        |tuples AS (
        | SELECT bmc AS s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns/rdf#type' AS p,
        |  'http://purl.obolibrary.org/obo/SO_0001260' AS o, NULL AS lit, CAST(0 AS BIGINT) AS pos FROM tm
        | UNION ALL SELECT bmc, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Source',
        |  'http://purl.obolibrary.org/obo/SO_0001260', 'NSForest', 1 FROM tm
        | UNION ALL SELECT 'http://purl.obolibrary.org/obo/GS_' || words[i],
        |  'http://purl.obolibrary.org/obo/BFO_0000050', bmc, NULL, 2*i FROM g
        | UNION ALL SELECT 'http://purl.obolibrary.org/obo/GS_' || words[i],
        |  'http://www.w3.org/1999/02/22-rdf-syntax-ns#Source', bmc, 'NSForest', 2*i + 1 FROM g
        | UNION ALL SELECT cs, 'http://purl.obolibrary.org/obo/RO_0015004', bmc, NULL, p0 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Source', bmc, 'NSForest', p0 + 1 FROM tm
        | UNION ALL SELECT bmc, 'http://purl.obolibrary.org/obo/RO_0015003', bgs, NULL, p0 + 2 FROM tm
        | UNION ALL SELECT bmc, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Source', bgs, 'NSForest', p0 + 3 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#F_beta_confidence_score', fs, NULL, p0 + 4 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Total_cell_count', CAST(csize AS VARCHAR), NULL, p0 + 5 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Binary_genes', joined, NULL, p0 + 6 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Markers', joined, NULL, p0 + 7 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Median_silhouette_score', sil, NULL, p0 + 8 FROM tm WHERE sil IS NOT NULL
        | UNION ALL SELECT bgs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Binary_genes', joined, NULL, q0 FROM tm
        | UNION ALL SELECT bmc, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Markers', joined, NULL, q0 + 1 FROM tm
        | UNION ALL SELECT bmc, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#F_beta_confidence_score', fs, NULL, q0 + 2 FROM tm
        | UNION ALL SELECT cs, 'http://purl.obolibrary.org/obo/#source_algorithm', bmc, 'NSForest-v4.0_dev', q0 + 3 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#F_beta_confidence_score', bmc, fs, q0 + 4 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Precision', bmc, prec, q0 + 5 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#TN', bmc, tn, q0 + 6 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#TP', bmc, tp, q0 + 7 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#FN', bmc, fn, q0 + 8 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#FP', bmc, fp, q0 + 9 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Marker_count', bmc, mc, q0 + 10 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns/dc#Source', 'http://purl.obolibrary.org/obo/CSD_dv1', NULL, q0 + 11 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Source', 'http://purl.obolibrary.org/obo/CSD_dv1', 'NSForest', q0 + 12 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns/dc#Source', 'http://purl.obolibrary.org/obo/CSD_dv2', NULL, q0 + 13 FROM tm
        | UNION ALL SELECT cs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Source', 'http://purl.obolibrary.org/obo/CSD_dv2', 'NSForest', q0 + 14 FROM tm)
        |SELECT s, p, o, lit, pos FROM tuples
        |ORDER BY s, p, o, lit NULLS FIRST, pos""".stripMargin

  // Shared CTE prefixes for the q64a-e curation-stage oracle family: each
  // stage gate reuses the previous stage's CTEs verbatim, so the oracles
  // stay cell-identical with the staged engine flow by construction.
  private val curationOraclePrefixQuality: String =
    """WITH RECURSIVE input AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 40 <> 0),
      |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 40 = 0),
      |q AS (SELECT * FROM input
      | WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) >= 20)""".stripMargin

  private val curationOraclePrefixExact: String =
    curationOraclePrefixQuality + """,
      |ex AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
      |d1 AS (SELECT q.* FROM q JOIN ex USING (doc_id))""".stripMargin

  private val curationOraclePrefixNeardup: String =
    curationOraclePrefixExact + """,
      |sh AS (SELECT doc_id AS id, unnest(list_distinct(
      | list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
      |  i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle FROM d1),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
      |pairs0 AS (
      | SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2),
      |pairs AS (
      | SELECT id_a, id_b FROM pairs0
      |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      | WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.1),
      |e AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |r(id, lab) AS (
      | SELECT u, u FROM (SELECT DISTINCT u FROM e)
      | UNION
      | SELECT e.u, r.lab FROM e JOIN r ON r.id = e.v),
      |reach AS (SELECT id, min(lab) AS component FROM r GROUP BY id),
      |d2 AS (SELECT * FROM d1
      | WHERE doc_id NOT IN (SELECT id FROM reach WHERE id <> component))""".stripMargin

  private val curationOraclePrefixDecontam: String =
    curationOraclePrefixNeardup + """,
      |bsh AS (SELECT DISTINCT unnest(list_distinct(
      | list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 4, 0)),
      |  i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+4], ' ')))) AS shingle FROM bench),
      |tsh AS (SELECT doc_id, unnest(list_distinct(
      | list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 4, 0)),
      |  i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+4], ' ')))) AS shingle FROM d2),
      |bad AS (SELECT DISTINCT t.doc_id FROM tsh t JOIN bsh b USING (shingle)),
      |d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM bad))""".stripMargin

  private val oraclesLiteral: Map[String, String] = Map(
    "q51_deterministic_split" ->
      """SELECT source,
        | CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b','c') THEN 'train'
        |  WHEN substr(md5(text), 1, 1) IN ('d','e') THEN 'val'
        |  ELSE 'test' END AS split,
        | count(*) AS n
        |FROM documents GROUP BY source, split ORDER BY source, split""".stripMargin,
    "q52_redact" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(
        |   substr(text, 1, 80) || ' user' || CAST(doc_id AS VARCHAR) || '@ex'
        |    || CAST(doc_id % 7 AS VARCHAR) || '.com http://ex.org/p'
        |    || CAST(doc_id AS VARCHAR) || ' id'
        |    || CAST(doc_id * 1000003 AS VARCHAR) || ' end',
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  'https?://[^ ]+', '<URL>', 'g'),
        | '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    "q53_bucketed_catalog" ->
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS c FROM customer)
        |SELECT 'p1' AS q, CAST(c AS VARCHAR) || '|' || CAST(c % 200 AS VARCHAR)
        | || '|' || CAST((c % 200) % 40 AS VARCHAR) AS val FROM cust
        |ORDER BY q, val""".stripMargin,
    "q54_decontaminate" ->
      """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 40 = 0),
        |train AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 40 <> 0),
        |bsh AS (SELECT DISTINCT unnest(list_distinct(
        | list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 4, 0)),
        |  i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+4], ' ')))) AS shingle FROM bench),
        |tsh AS (SELECT doc_id, unnest(list_distinct(
        | list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 4, 0)),
        |  i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+4], ' ')))) AS shingle FROM train),
        |bad AS (SELECT DISTINCT t.doc_id FROM tsh t JOIN bsh b USING (shingle))
        |SELECT source, count(*) AS n_train, count(bad.doc_id) AS n_contaminated
        |FROM train LEFT JOIN bad USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q55_pack_sequences" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  md5('42:' || CAST(doc_id AS VARCHAR)) AS key
        | FROM documents),
        |laid AS (
        | SELECT n_tokens, SUM(n_tokens) OVER (ORDER BY key) - n_tokens AS start_token FROM toks)
        |SELECT CAST(start_token // 1000 AS BIGINT) AS seq_id, count(*) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        | CAST(SUM(CASE WHEN n_tokens > 0
        |   AND (start_token + n_tokens - 1) // 1000 > start_token // 1000
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
        |FROM laid GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "q56_stratified_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |r AS (SELECT lang, n,
        | lpad(lower(to_hex(CAST(floor(least(1.0, 150.0 / n) * 4294967296.0) AS BIGINT))), 8, '0') AS thresh
        | FROM c),
        |s AS (
        | SELECT d.lang FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
        | WHERE r.n <= 150 OR substr(md5(d.text), 1, 8) < r.thresh)
        |SELECT lang, count(*) AS n_kept FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    "q57_repetition" ->
      """WITH w AS (
        | SELECT doc_id, string_split_regex(lower(text), '\s+') AS words
        | FROM documents WHERE doc_id < 500),
        |f AS (
        | SELECT doc_id,
        |  CAST(greatest(len(words) - 1, 0) AS BIGINT) AS total_ngrams,
        |  CAST(len(list_distinct(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
        |    i -> array_to_string(words[i:i+1], ' ')))) AS BIGINT) AS distinct_ngrams
        | FROM w)
        |SELECT doc_id, total_ngrams, distinct_ngrams,
        | CASE WHEN total_ngrams > 0
        |  THEN CAST(total_ngrams - distinct_ngrams AS DOUBLE) / total_ngrams
        |  ELSE 0.0 END AS dup_ratio
        |FROM f ORDER BY doc_id""".stripMargin,
    "q58_tfidf_topk" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        | SELECT doc_id, token, tf, df, tf * (CAST(n_docs AS DOUBLE) / df) AS weight,
        |  row_number() OVER (PARTITION BY doc_id
        |   ORDER BY tf * (CAST(n_docs AS DOUBLE) / df) DESC, token ASC) AS rank
        | FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tf, df, weight, rank FROM scored
        |WHERE rank <= 3 AND doc_id < 50 ORDER BY doc_id, rank""".stripMargin,
    "q59_token_percentiles" ->
      """WITH v AS (
        | SELECT source,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS v
        | FROM documents),
        |r AS (
        | SELECT source, v,
        |  row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
        |  count(*) OVER (PARTITION BY source) AS cnt
        | FROM v)
        |SELECT source,
        | MIN(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN v END) AS p50,
        | MIN(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT) THEN v END) AS p90,
        | MIN(CASE WHEN rn = CAST(ceil(0.99 * cnt) AS BIGINT) THEN v END) AS p99,
        | CAST(MAX(cnt) AS BIGINT) AS n_rows
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q60_zorder" ->
      """WITH cells AS (
        | SELECT doc_id,
        |  least(255, greatest(0, CAST(floor(((n_chars - 0.0) / 4000.0) * 256) AS BIGINT))) AS x_cell,
        |  doc_id % 256 AS y_cell
        | FROM documents WHERE doc_id < 200)
        |SELECT doc_id, x_cell, y_cell,
        |   (((x_cell >> 0) & 1) << 0) + (((y_cell >> 0) & 1) << 1)
        | + (((x_cell >> 1) & 1) << 2) + (((y_cell >> 1) & 1) << 3)
        | + (((x_cell >> 2) & 1) << 4) + (((y_cell >> 2) & 1) << 5)
        | + (((x_cell >> 3) & 1) << 6) + (((y_cell >> 3) & 1) << 7)
        | + (((x_cell >> 4) & 1) << 8) + (((y_cell >> 4) & 1) << 9)
        | + (((x_cell >> 5) & 1) << 10) + (((y_cell >> 5) & 1) << 11)
        | + (((x_cell >> 6) & 1) << 12) + (((y_cell >> 6) & 1) << 13)
        | + (((x_cell >> 7) & 1) << 14) + (((y_cell >> 7) & 1) << 15) AS zval
        |FROM cells ORDER BY doc_id""".stripMargin,
    "q61_lsh_index" ->
      """WITH sh AS (
        | SELECT doc_id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 3, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+3], ' ')))) AS shingle
        | FROM documents),
        |sig AS (
        | SELECT doc_id,
        |  min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
        |  min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
        |  min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5,
        |  min(md5('6:' || shingle)) AS h6, min(md5('7:' || shingle)) AS h7
        | FROM sh GROUP BY doc_id),
        |banded AS (
        | SELECT doc_id,
        |  unnest([md5('0:' || h0 || ',' || h1), md5('1:' || h2 || ',' || h3),
        |          md5('2:' || h4 || ',' || h5), md5('3:' || h6 || ',' || h7)]) AS bucket
        | FROM sig),
        |pairs AS (
        | SELECT DISTINCT n.doc_id AS id_new, i.doc_id AS id_idx
        | FROM banded n JOIN banded i ON n.bucket = i.bucket
        | WHERE n.doc_id % 10 = 3 AND i.doc_id % 10 <> 3)
        |SELECT p.id_new, p.id_idx,
        | ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)
        | ) / 8.0 AS est_jaccard
        |FROM pairs p JOIN sig sa ON sa.doc_id = p.id_new JOIN sig sb ON sb.doc_id = p.id_idx
        |ORDER BY id_new, id_idx""".stripMargin,
    "q62_chunk" ->
      """SELECT doc_id,
        | CAST((start - 1) // 150 AS BIGINT) AS chunk_id,
        | CAST(start AS BIGINT) AS start,
        | substr(text, start, 200) AS chunk
        |FROM (
        | SELECT doc_id, text,
        |  unnest(generate_series(1, greatest(len(text), 0), 150)) AS start
        | FROM documents WHERE doc_id < 50)
        |WHERE start <= len(text)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q63_token_budget_sample" ->
      """WITH t AS (
        | SELECT source, text,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
        | FROM documents),
        |w AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS wsum FROM t GROUP BY source),
        |r AS (SELECT source, wsum,
        | lpad(lower(to_hex(CAST(floor(least(1.0, 800.0 / wsum) * 4294967296.0) AS BIGINT))), 8, '0') AS thresh
        | FROM w),
        |s AS (
        | SELECT t.source, t.toks FROM t JOIN r ON t.source IS NOT DISTINCT FROM r.source
        | WHERE r.wsum <= 800 OR substr(md5(t.text), 1, 8) < r.thresh)
        |SELECT source, count(*) AS n_kept, CAST(SUM(toks) AS BIGINT) AS kept_tokens
        |FROM s GROUP BY source ORDER BY source""".stripMargin,
    "q64a_curation_quality" ->
      (curationOraclePrefixQuality +
        "\nSELECT source, count(*) AS n FROM q GROUP BY source ORDER BY source"),
    "q64b_curation_exact" ->
      (curationOraclePrefixExact +
        "\nSELECT source, count(*) AS n FROM d1 GROUP BY source ORDER BY source"),
    "q64c_curation_neardup" ->
      (curationOraclePrefixNeardup +
        "\nSELECT source, count(*) AS n FROM d2 GROUP BY source ORDER BY source"),
    "q64d_curation_decontam" ->
      (curationOraclePrefixDecontam +
        "\nSELECT source, count(*) AS n FROM d3 GROUP BY source ORDER BY source"),
    "q64e_curation_split" ->
      (curationOraclePrefixDecontam + """,
        |labeled AS (SELECT
        | CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b','c') THEN 'train'
        |  WHEN substr(md5(text), 1, 1) IN ('d','e') THEN 'val'
        |  ELSE 'test' END AS split FROM d3)
        |SELECT split, count(*) AS n FROM labeled GROUP BY split ORDER BY split""".stripMargin),
    "q65_skew_report" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS n FROM events GROUP BY user_id),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, count(*) AS nk FROM c),
        |med AS (
        | SELECT n AS p50 FROM
        |  (SELECT n, row_number() OVER (ORDER BY n) AS rn FROM c), tot
        | WHERE rn = CAST(ceil(0.5 * nk) AS BIGINT)),
        |top AS (
        | SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rank FROM c)
        |SELECT rank, key, n,
        | CAST(n AS DOUBLE) / total AS share,
        | CAST(n AS DOUBLE) / p50 AS skew_vs_median
        |FROM top, tot, med WHERE rank <= 5 ORDER BY rank""".stripMargin,
    "q66_duplicate_passages" ->
      """WITH sh AS (
        | SELECT doc_id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 7, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+7], ' ')))) AS shingle
        | FROM documents)
        |SELECT shingle, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS example_id
        |FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY shingle""".stripMargin,
    "q67_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |GROUP BY source ORDER BY source""".stripMargin,
    "q68_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, us,
        | us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap FROM e),
        |f AS (SELECT user_id, us,
        | CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS new FROM g),
        |s AS (SELECT user_id, us,
        | CAST(SUM(new) OVER (PARTITION BY user_id ORDER BY us) AS BIGINT) AS session_idx FROM f)
        |SELECT user_id, session_idx, count(*) AS n_events,
        | min(us) AS start_us, max(us) - min(us) AS duration_us
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q69_funnel" ->
      """WITH m AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t2
        | FROM events GROUP BY user_id)
        |SELECT * FROM (
        | SELECT 1 AS step, 'signup' AS event_type,
        |  CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_users FROM m
        | UNION ALL SELECT 2, 'view',
        |  CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 < t1 THEN 1 ELSE 0 END) AS BIGINT) FROM m
        | UNION ALL SELECT 3, 'purchase',
        |  CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
        |   AND t0 < t1 AND t1 < t2 THEN 1 ELSE 0 END) AS BIGINT) FROM m)
        |ORDER BY step""".stripMargin,
    "q70_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS period FROM events),
        |c AS (SELECT user_id, min(period) AS cohort FROM a GROUP BY user_id)
        |SELECT c.cohort, a.period - c.cohort AS period_offset, count(*) AS n_users
        |FROM a JOIN c USING (user_id) GROUP BY 1, 2
        |ORDER BY cohort, period_offset""".stripMargin,
    "q71_asof_join" ->
      """WITH p AS (
        | SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        | WHERE event_type = 'purchase'),
        |c AS (
        | SELECT user_id, epoch_us(ts) AS us, min(event_id) AS click_id
        | FROM events WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts))
        |SELECT p.event_id, p.user_id, p.ts_us,
        | c.click_id AS asof_click_id, c.us AS asof_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.us
        |ORDER BY p.event_id""".stripMargin,
    "q121_asof_directions" ->
      """WITH p AS (
        | SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        | WHERE event_type = 'purchase'),
        |c AS (
        | SELECT user_id, epoch_us(ts) AS us, min(event_id) AS click_id
        | FROM events WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts)),
        |f AS (
        | SELECT p.event_id, p.user_id, p.ts_us,
        |  c.click_id AS fwd_click_id, c.us AS fwd_us
        | FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us <= c.us),
        |b AS (
        | SELECT p.event_id, c.click_id AS b_click_id, c.us AS b_us
        | FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.us)
        |SELECT f.event_id, f.user_id, f.ts_us, f.fwd_click_id, f.fwd_us,
        | CASE WHEN f.fwd_us IS NULL OR (b.b_us IS NOT NULL AND
        |   f.ts_us - b.b_us <= f.fwd_us - f.ts_us)
        |  THEN b.b_click_id ELSE f.fwd_click_id END AS near_click_id,
        | CASE WHEN f.fwd_us IS NULL OR (b.b_us IS NOT NULL AND
        |   f.ts_us - b.b_us <= f.fwd_us - f.ts_us)
        |  THEN b.b_us ELSE f.fwd_us END AS near_us
        |FROM f JOIN b USING (event_id)
        |ORDER BY f.event_id""".stripMargin,
    "q123_funnel_window" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s0 AS (SELECT user_id, min(us) AS t FROM e
        | WHERE event_type = 'signup' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s0 USING (user_id)
        | WHERE e.event_type = 'view' AND e.us > s0.t
        |  AND e.us <= s0.t + 86400000000 GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s1 USING (user_id)
        | WHERE e.event_type = 'purchase' AND e.us > s1.t
        |  AND e.us <= s1.t + 86400000000 GROUP BY e.user_id)
        |SELECT * FROM (
        | SELECT 1 AS step, 'signup' AS event_type,
        |  (SELECT count(*) FROM s0) AS n_users
        | UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s1)
        | UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s2))
        |ORDER BY step""".stripMargin,
    "q122_resample_locf" ->
      """WITH o AS (
        | SELECT user_id, epoch_us(ts) AS us, min(event_id) AS event_id
        | FROM events GROUP BY user_id, epoch_us(ts)),
        |b AS (SELECT user_id, min(us) AS mn, max(us) AS mx
        | FROM o GROUP BY user_id),
        |g AS (SELECT user_id, unnest(generate_series(
        |   mn - ((mn % 86400000000) + 86400000000) % 86400000000,
        |   mx - ((mx % 86400000000) + 86400000000) % 86400000000,
        |   86400000000)) AS grid_us
        | FROM b)
        |SELECT g.user_id, g.grid_us,
        | o.event_id AS asof_event_id, o.us AS asof_us
        |FROM g ASOF LEFT JOIN o
        | ON g.user_id = o.user_id AND g.grid_us >= o.us
        |WHERE g.user_id < 50
        |ORDER BY g.user_id, g.grid_us""".stripMargin,
    "q72_range_join" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, us,
        | us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap FROM e),
        |f AS (SELECT user_id, us,
        | CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS new FROM g),
        |s AS (SELECT user_id, us,
        | CAST(SUM(new) OVER (PARTITION BY user_id ORDER BY us) AS BIGINT) AS session_idx FROM f),
        |sess AS (
        | SELECT user_id, session_idx, min(us) AS start_us, max(us) AS end_us
        | FROM s GROUP BY user_id, session_idx),
        |err AS (
        | SELECT event_id, user_id, epoch_us(ts) AS err_us FROM events
        | WHERE event_type = 'error')
        |SELECT err.event_id, err.user_id, err.err_us, sess.session_idx
        |FROM err JOIN sess ON err.user_id = sess.user_id
        | AND err.err_us BETWEEN sess.start_us AND sess.end_us
        |ORDER BY err.event_id""".stripMargin,
    "q73_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,
    "q125_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,
    "q74_sampled_quantiles" ->
      """WITH s AS (
        | SELECT md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)) AS tag,
        |  l_quantity AS v
        | FROM lineitem ORDER BY tag LIMIT 1000),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS cnt FROM s)
        |SELECT
        | MIN(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN v END) AS p50,
        | MIN(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT) THEN v END) AS p90,
        | MIN(CASE WHEN rn = CAST(ceil(0.99 * cnt) AS BIGINT) THEN v END) AS p99,
        | CAST(MAX(cnt) AS BIGINT) AS n_rows
        |FROM r""".stripMargin,
    "q75_encoding" ->
      """WITH p AS (
        | SELECT doc_id,
        |  substr(text, 1, 60) || chr(1) || 'x' || chr(7) ||
        |   CASE WHEN doc_id % 3 = 0 THEN chr(65533) || chr(65533) ELSE '' END AS t
        | FROM documents WHERE doc_id < 300)
        |SELECT doc_id,
        | length(t) - length(regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_control,
        | length(t) - length(regexp_replace(t, chr(65533), '', 'g')) AS n_replacement,
        | regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS scrubbed
        |FROM p ORDER BY doc_id""".stripMargin,
    "q76_pivot" ->
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        | CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the sketch-guarantee gates: the oracle reproduces the exact side
    // (guaranteed-item set + true counts / the check names) and pins the
    // verdict columns to TRUE — a bound violation on the engine side
    // flips ok to false (or drops the guaranteed item) and fails the hash
    "q77_freq_sketch_bound" ->
      """WITH keyed AS (
        | SELECT CASE WHEN doc_id % 3 = 0 THEN 'HOT'
        |  ELSE 'doc_' || CAST(doc_id AS VARCHAR) END AS item FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM keyed),
        |exact AS (SELECT item, count(*) AS true_n FROM keyed GROUP BY item)
        |SELECT item, true_n, TRUE AS ok FROM exact, tot
        |WHERE true_n > n_total / 10.0 ORDER BY item""".stripMargin,
    "q78_kll_bound" ->
      """SELECT chk, TRUE AS ok FROM (VALUES ('p0.01'), ('p0.25'), ('p0.5'),
        | ('p0.75'), ('p0.99'), ('err_budget'), ('mass_conserved')) t(chk)
        |ORDER BY chk""".stripMargin,
    "q80_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q83_grouped_kll_bound" ->
      """SELECT l_returnflag AS g, count(*) AS n_rows, TRUE AS n_ok,
        | TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY g""".stripMargin,
    "q84_gopher_filter" ->
      """WITH t AS (SELECT source,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ntok,
        |  length(regexp_replace(text, '\s+', '', 'g')) AS swl,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x LIKE '%#%'))
        |   + len(list_filter(string_split_regex(text, '\s+'), x -> contains(x, '...'))) AS nsym,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> regexp_matches(x, '[A-Za-z]'))) AS nalpha,
        |  len(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'),
        |   w -> list_contains(['the','and','of','to','is','in','that','it'], w))) AS stop
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(SUM(CASE WHEN ntok BETWEEN 50 AND 100000
        |  AND (CASE WHEN ntok > 0 THEN CAST(swl AS DOUBLE) / ntok ELSE 0.0 END) BETWEEN 3.0 AND 10.0
        |  AND (CASE WHEN ntok > 0 THEN CAST(nsym AS DOUBLE) / ntok ELSE 0.0 END) <= 0.1
        |  AND (CASE WHEN ntok > 0 THEN CAST(nalpha AS DOUBLE) / ntok ELSE 0.0 END) >= 0.8
        |  AND stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "q79_fuzzy_decontaminate" ->
      """WITH train AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 40 <> 0),
        |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 40 = 0),
        |tsh AS (SELECT doc_id, unnest(list_distinct(
        | list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |  i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle FROM train),
        |bsh AS (SELECT doc_id, unnest(list_distinct(
        | list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |  i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle FROM bench),
        |tsig AS (SELECT doc_id,
        |  min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
        |  min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
        |  min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5,
        |  min(md5('6:' || shingle)) AS h6, min(md5('7:' || shingle)) AS h7
        | FROM tsh GROUP BY doc_id),
        |bsig AS (SELECT doc_id,
        |  min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
        |  min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
        |  min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5,
        |  min(md5('6:' || shingle)) AS h6, min(md5('7:' || shingle)) AS h7
        | FROM bsh GROUP BY doc_id),
        |tband AS (SELECT doc_id, unnest([md5('0:' || h0 || ',' || h1),
        |  md5('1:' || h2 || ',' || h3), md5('2:' || h4 || ',' || h5),
        |  md5('3:' || h6 || ',' || h7)]) AS bucket FROM tsig),
        |bband AS (SELECT doc_id, unnest([md5('0:' || h0 || ',' || h1),
        |  md5('1:' || h2 || ',' || h3), md5('2:' || h4 || ',' || h5),
        |  md5('3:' || h6 || ',' || h7)]) AS bucket FROM bsig),
        |pairs AS (SELECT DISTINCT t.doc_id AS tid, b.doc_id AS bid
        | FROM tband t JOIN bband b ON t.bucket = b.bucket),
        |bad AS (SELECT DISTINCT p.tid AS doc_id
        | FROM pairs p JOIN tsig sa ON sa.doc_id = p.tid
        |  JOIN bsig sb ON sb.doc_id = p.bid
        | WHERE ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
        |  + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END)
        |  + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
        |  + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END)
        |  + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
        |  + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END)
        |  + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) / 8.0 >= 0.25)
        |SELECT source, count(*) AS n_train, count(bad.doc_id) AS n_contaminated
        |FROM train LEFT JOIN bad USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q50_near_dup_components" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id AS id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle
        | FROM documents),
        |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        |pairs0 AS (
        | SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        | GROUP BY a.id, b.id),
        |pairs AS (
        | SELECT id_a, id_b FROM pairs0
        |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        | WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.1),
        |e AS (SELECT id_a AS u, id_b AS v FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |r(id, lab) AS (
        | SELECT u, u FROM (SELECT DISTINCT u FROM e)
        | UNION
        | SELECT e.u, r.lab FROM e JOIN r ON r.id = e.v),
        |reach AS (SELECT id, min(lab) AS component FROM r GROUP BY id),
        |surv AS (
        | SELECT CAST(-1 AS BIGINT) AS id,
        |  (SELECT count(*) FROM documents)
        |   - (SELECT count(*) FROM reach WHERE id <> component) AS component)
        |SELECT id, component FROM reach
        |UNION ALL SELECT id, component FROM surv
        |ORDER BY id""".stripMargin,
    // q50's component pipeline, survivor rule swapped to best-quality
    "q124_dedup_best" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id AS id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle
        | FROM documents),
        |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        |pairs0 AS (
        | SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        | GROUP BY a.id, b.id),
        |pairs AS (
        | SELECT id_a, id_b FROM pairs0
        |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        | WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.1),
        |e AS (SELECT id_a AS u, id_b AS v FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |r(id, lab) AS (
        | SELECT u, u FROM (SELECT DISTINCT u FROM e)
        | UNION
        | SELECT e.u, r.lab FROM e JOIN r ON r.id = e.v),
        |reach AS (SELECT id, min(lab) AS component FROM r GROUP BY id),
        |m AS (SELECT reach.id, reach.component, d.n_chars
        | FROM reach JOIN documents d ON d.doc_id = reach.id),
        |w AS (SELECT id, component, row_number() OVER (
        |  PARTITION BY component ORDER BY n_chars DESC, id ASC) AS rn
        | FROM m),
        |nm AS (SELECT component, count(*) AS n_members FROM m GROUP BY component)
        |SELECT w.component, w.id AS survivor_id, nm.n_members
        |FROM w JOIN nm USING (component) WHERE w.rn = 1
        |ORDER BY w.component""".stripMargin,
    "q46a_catalog_2hop" ->
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS c FROM customer)
        |SELECT 'p1' AS q, CAST(c AS VARCHAR) || '|' || CAST(c % 200 AS VARCHAR)
        | || '|' || CAST((c % 200) % 40 AS VARCHAR) AS val FROM cust
        |ORDER BY q, val""".stripMargin,
    "q46b_catalog_hierarchy" ->
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS c FROM customer),
        |cl AS (SELECT DISTINCT c % 200 AS j FROM cust),
        |gse AS (SELECT j, unnest(list_distinct([(j*7) % 120, (j*11) % 120])) AS g FROM cl)
        |SELECT 'p2' AS q, CAST(c AS VARCHAR) || '|' || CAST(j AS VARCHAR)
        | || '|' || CAST(g AS VARCHAR) || '|' ||
        | array_to_string(list_transform(generate_series(0, (19 - (g*5) % 20) // 4),
        |  t -> CAST((g*5) % 20 + 4*t AS VARCHAR)), '|') AS val
        |FROM cust JOIN gse ON gse.j = c % 200
        |ORDER BY q, val""".stripMargin,
    "q46c_catalog_4hop" ->
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS c FROM customer),
        |cl AS (SELECT DISTINCT c % 200 AS j FROM cust),
        |gse AS (SELECT j, unnest(list_distinct([(j*7) % 120, (j*11) % 120])) AS g FROM cl)
        |SELECT 'p3' AS q, CAST(c AS VARCHAR) || '|' || CAST(j AS VARCHAR)
        | || '|' || CAST(g AS VARCHAR) || '|' || CAST((g*3) % 80 AS VARCHAR)
        | || '|' || CAST(((g*3) % 80) % 30 AS VARCHAR) AS val
        |FROM cust JOIN gse ON gse.j = c % 200
        |ORDER BY q, val""".stripMargin,
    "q46d_catalog_5hop_subgraph" ->
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS c FROM customer),
        |cl AS (SELECT DISTINCT c % 200 AS j FROM cust),
        |gse AS (SELECT j, unnest(list_distinct([(j*7) % 120, (j*11) % 120])) AS g FROM cl),
        |gs AS (SELECT DISTINCT g FROM gse),
        |rs AS (SELECT DISTINCT g % 50 AS r FROM gs),
        |chr2 AS (SELECT DISTINCT (r*2) % 30 AS ch FROM rs),
        |p4 AS (
        | SELECT 'p4' AS q, CAST(c AS VARCHAR) || '|' || CAST(j AS VARCHAR)
        |  || '|' || CAST(g AS VARCHAR) || '|' || CAST(g % 50 AS VARCHAR)
        |  || '|' || CAST(((g % 50)*2) % 30 AS VARCHAR)
        |  || '|' || CAST((((g % 50)*2) % 30) % 20 AS VARCHAR) AS val
        | FROM cust JOIN gse ON gse.j = c % 200),
        |census AS (
        | SELECT 'sgv' AS q, 'CS=' || CAST(count(*) AS VARCHAR) AS val FROM cust
        | UNION ALL SELECT 'sgv', 'CL=' || CAST(count(*) AS VARCHAR) FROM cl
        | UNION ALL SELECT 'sgv', 'GS=' || CAST(count(*) AS VARCHAR) FROM gs
        | UNION ALL SELECT 'sgv', 'RS=' || CAST(count(*) AS VARCHAR) FROM rs
        | UNION ALL SELECT 'sgv', 'CHEMBL=' || CAST(count(*) AS VARCHAR) FROM chr2
        | UNION ALL SELECT 'sgv', 'MONDO=' || CAST(count(DISTINCT ch % 20) AS VARCHAR) FROM chr2),
        |counts AS (
        | SELECT 'sgt' AS q, CAST((SELECT count(*) FROM cust) + (SELECT count(*) FROM cl)
        |   + (SELECT count(*) FROM gs) + (SELECT count(*) FROM rs)
        |   + (SELECT count(*) FROM chr2)
        |   + (SELECT count(DISTINCT ch % 20) FROM chr2) AS VARCHAR) AS val
        | UNION ALL
        | SELECT 'sge', CAST((SELECT count(*) FROM cust) + (SELECT count(*) FROM gse)
        |   + (SELECT count(*) FROM gs) + (SELECT count(*) FROM rs)
        |   + (SELECT count(*) FROM chr2) AS VARCHAR))
        |SELECT q, val FROM (
        | SELECT q, val FROM p4
        | UNION ALL SELECT q, val FROM census UNION ALL SELECT q, val FROM counts)
        |ORDER BY q, val""".stripMargin,
    "q41_annotation_writer" ->
      """WITH c AS (
        | SELECT c_custkey AS k, c_name,
        |  c_name || CASE WHEN c_custkey % 10 = 0 THEN 'gamma-delta' ELSE '' END AS sname
        | FROM customer),
        |n AS (
        | SELECT k, sname,
        |  regexp_replace(regexp_replace(sname, '[ _,/]', '-', 'g'), '-+', '-', 'g') AS snameh,
        |  CASE WHEN k % 2 = 0 THEN 'IS_IN' ELSE 'PART_OF' END AS rel,
        |  CASE k % 6
        |   WHEN 0 THEN CASE WHEN (k % 25) % 2 = 0 THEN 'MONDO_' || CAST(1000 + k % 25 AS VARCHAR) END
        |   WHEN 1 THEN CASE WHEN k % 60 = 1 THEN 'GS_MBP'
        |               WHEN k % 12 = 1 THEN 'GS_' || upper(replace(c_name, '#', ''))
        |               END
        |   WHEN 2 THEN 'CL_' || CAST(k AS VARCHAR)
        |   WHEN 3 THEN CASE CAST(((k - 3) // 6) % 5 AS INT)
        |               WHEN 0 THEN 'PUB_doi.org/10.1126/science.adf6812'
        |               WHEN 1 THEN 'PUB_doi.org/10.1038/s41467-023-40173-5'
        |               WHEN 2 THEN 'PUB_doi.org/10.1038/s41591-023-02327-2'
        |               WHEN 3 THEN 'PUB_doi.org/10.1101/2023.11.07.566105'
        |               END
        |   WHEN 4 THEN 'UBERON_' || CAST(k % 100 AS VARCHAR)
        |   ELSE 'CSD_' || CAST(k % 3 AS VARCHAR)
        |  END AS obj
        | FROM c),
        |f AS (
        | SELECT 'http://purl.obolibrary.org/obo/CS_' || snameh || '-' || CAST(k AS VARCHAR) AS s,
        |  rel, 'http://purl.obolibrary.org/obo/' || obj AS o, sname
        | FROM n WHERE obj IS NOT NULL)
        |SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#' || rel AS p, o,
        | CAST(NULL AS VARCHAR) AS lit, CAST(0 AS BIGINT) AS pos FROM f
        |UNION ALL SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Source', o,
        | 'Manual Annotation', 1 FROM f
        |UNION ALL SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Label', sname,
        | NULL, 2 FROM f
        |ORDER BY s, p, o, lit NULLS FIRST, pos""".stripMargin,
    "q42_cellxgene_writer" ->
      """WITH sup AS (
        | SELECT s_suppkey AS k, s_name,
        |  'http://purl.obolibrary.org/obo/CSD_dv-' || CAST(s_suppkey AS VARCHAR) AS csd,
        |  'http://purl.obolibrary.org/obo/PUB_dv-' || CAST(s_suppkey AS VARCHAR) AS pub
        | FROM supplier),
        |anns AS (
        | SELECT csd, 'Link_to_publication' AS key, 'doi.org/10.' || CAST(k AS VARCHAR) AS v, 2 AS pos FROM sup
        | UNION ALL SELECT csd, 'Link_to_CELLxGENE_collection', 'cxg.org/c' || CAST(k % 40 AS VARCHAR), 3 FROM sup
        | UNION ALL SELECT csd, 'Link_to_CELLxGENE_dataset', 'data.cxg.org/d' || CAST(k AS VARCHAR) || '.h5ad', 4 FROM sup
        | UNION ALL SELECT csd, 'Dataset_name', s_name, 5 FROM sup
        | UNION ALL SELECT csd, 'Number_of_cells', CAST(k * 1000 AS VARCHAR), 6 FROM sup
        | UNION ALL SELECT csd, 'Organism', 'Homo sapiens', 7 FROM sup
        | UNION ALL SELECT csd, 'Tissue', 'tissue-' || CAST(k % 7 AS VARCHAR), 8 FROM sup
        | UNION ALL SELECT csd, 'Disease_status', CASE WHEN k % 3 = 0 THEN 'normal' ELSE 'disease' END, 9 FROM sup
        | UNION ALL SELECT csd, 'Collection_ID', 'coll-' || CAST(k % 40 AS VARCHAR), 10 FROM sup
        | UNION ALL SELECT csd, 'Collection_version_ID', 'collv-' || CAST(k % 40 AS VARCHAR), 11 FROM sup
        | UNION ALL SELECT csd, 'Dataset_ID', 'ds-' || CAST(k AS VARCHAR), 12 FROM sup
        | UNION ALL SELECT csd, 'Dataset_version_ID', 'dv-' || CAST(k AS VARCHAR), 13 FROM sup
        | UNION ALL SELECT csd, 'Zenodo/Nextflow_workflow/Notebook', 'TBC', 14 FROM sup)
        |SELECT csd AS s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns/dc#Source' AS p,
        | pub AS o, CAST(NULL AS VARCHAR) AS lit, CAST(0 AS BIGINT) AS pos FROM sup
        |UNION ALL SELECT csd, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Source', pub,
        | 'Manual Mapping', 1 FROM sup
        |UNION ALL SELECT csd, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#' || key, v, NULL, pos FROM anns
        |ORDER BY s, p, o, lit NULLS FIRST, pos""".stripMargin,
    "q43_opentargets_diseases" ->
      """WITH d AS (
        | SELECT o_orderkey AS o,
        |  CASE o_orderkey % 3
        |   WHEN 0 THEN 'MONDO_0' || CAST(o_orderkey % 1000 AS VARCHAR)
        |   WHEN 1 THEN CASE WHEN (o_orderkey % 25) % 2 = 0 THEN 'MONDO_9' || CAST(o_orderkey % 25 AS VARCHAR) END
        |   END AS mondo,
        |  o_orderpriority AS dname,
        |  'desc-' || CAST(o_orderkey % 17 AS VARCHAR) AS ddesc,
        |  CAST(o_orderkey % 100 AS DOUBLE) / 100.0 AS score
        | FROM orders),
        |f AS (
        | SELECT 'http://purl.obolibrary.org/obo/GS_G' || CAST(o % 150 AS VARCHAR) AS gs,
        |  'http://purl.obolibrary.org/obo/' || mondo AS md,
        |  dname, ddesc, CAST(score AS VARCHAR) AS sc
        | FROM d WHERE mondo IS NOT NULL AND score >= 0.5 AND (o % 150) < 100)
        |SELECT gs AS s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#GENETIC_BASIS_FOR' AS p,
        | md AS o, CAST(NULL AS VARCHAR) AS lit, CAST(0 AS BIGINT) AS pos FROM f
        |UNION ALL SELECT gs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Source', md, 'Open Targets', 1 FROM f
        |UNION ALL SELECT md, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Name', dname, NULL, 2 FROM f
        |UNION ALL SELECT md, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Description', ddesc, NULL, 3 FROM f
        |UNION ALL SELECT gs, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#Score', md, sc, 4 FROM f
        |ORDER BY s, p, o, lit NULLS FIRST, pos""".stripMargin,
    "q44_opentargets_drugs" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 97 = 0),
        |r AS (
        | SELECT l_orderkey AS o, l_partkey AS p, l_suppkey AS sk,
        |  CASE l_orderkey % 3
        |   WHEN 0 THEN 'MONDO_0' || CAST(l_orderkey % 1000 AS VARCHAR)
        |   WHEN 1 THEN CASE WHEN (l_orderkey % 25) % 2 = 0 THEN 'MONDO_9' || CAST(l_orderkey % 25 AS VARCHAR) END
        |   END AS mondo,
        |  l_linenumber AS phase,
        |  (l_returnflag <> 'R') AS appr,
        |  (l_linestatus = 'F' AND l_quantity < 5) AS wd
        | FROM li),
        |f AS (
        | SELECT o, p, sk, mondo,
        |  'http://purl.obolibrary.org/obo/CHEMBL_' || CAST(p AS VARCHAR) AS chl,
        |  'http://purl.obolibrary.org/obo/' || mondo AS md,
        |  'G' || CAST(sk % 150 AS VARCHAR) AS gname,
        |  CASE WHEN (sk % 150) % 3 = 0 THEN NULL ELSE 'P' || CAST(sk % 150 AS VARCHAR) END AS upn,
        |  CASE WHEN (sk % 150) % 3 = 0 THEN 0 ELSE 2 END AS pp,
        |  CASE WHEN p % 5 <> 0 AND p % 6 >= 4 THEN 1 ELSE 0 END AS i1,
        |  CASE WHEN p % 5 <> 0 AND (p % 25) % 2 = 0 THEN 1 ELSE 0 END AS i2,
        |  CASE WHEN o % 4 = 0 THEN 1 ELSE 0 END AS tr,
        |  CASE WHEN p % 2 = 0 THEN 1 ELSE 0 END AS pc
        | FROM r WHERE mondo IS NOT NULL AND phase >= 3 AND appr AND NOT wd AND (sk % 150) < 100),
        |g AS (SELECT *, 2 + pp AS o2, 2 + pp + i1 + i2 AS o3,
        |  2 + pp + i1 + i2 + 2 * tr AS o4 FROM f),
        |pu AS (SELECT 'http://purl.obolibrary.org/obo/' AS u),
        |rd AS (SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns' AS u),
        |t AS (
        | SELECT chl AS s, (SELECT u FROM rd) || '#IS_SUBSTANCE_THAT_TREATS' AS p2, md AS o2v,
        |  CAST(NULL AS VARCHAR) AS lit, 0 AS pos FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Source', md, 'Open Targets', 1 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#MOLECULARLY_INTERACTS_WITH',
        |  (SELECT u FROM pu) || 'PR_' || upn, NULL, 2 FROM g WHERE upn IS NOT NULL
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Source',
        |  (SELECT u FROM pu) || 'PR_' || upn, 'Open Targets and UniProt', 3 FROM g WHERE upn IS NOT NULL
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Indications',
        |  'MONDO_1' || CAST(p % 7 AS VARCHAR), NULL, o2 FROM g WHERE i1 = 1
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Indications',
        |  'MONDO_9' || CAST(p % 25 AS VARCHAR), NULL, o2 + i1 FROM g WHERE i2 = 1
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#EVALUATED_IN',
        |  (SELECT u FROM pu) || 'NCT_00' || CAST(o AS VARCHAR), NULL, o3 FROM g WHERE tr = 1
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Source',
        |  (SELECT u FROM pu) || 'NCT_00' || CAST(o AS VARCHAR), 'Open Targets', o3 + 1 FROM g WHERE tr = 1
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Name', 'drug-' || CAST(p % 31 AS VARCHAR), NULL, o4 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Target', gname, NULL, o4 + 1 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Type', 'Small molecule', NULL, o4 + 2 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Mechanism_of_action', 'moa-' || CAST(p % 11 AS VARCHAR), NULL, o4 + 3 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Description', 'about drug ' || CAST(p % 31 AS VARCHAR), NULL, o4 + 4 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Synonyms',
        |  CASE WHEN p % 4 = 0 THEN '[]'
        |   ELSE '[''syn-' || CAST(p % 13 AS VARCHAR) || ''', ''syn-' || CAST(p % 17 AS VARCHAR) || ''']' END,
        |  NULL, o4 + 5 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Trade_names',
        |  '[''trade-' || CAST(p % 7 AS VARCHAR) || ''']', NULL, o4 + 6 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Approved', 'True', NULL, o4 + 7 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Withdrawn', 'False', NULL, o4 + 8 FROM g
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Link_to_PubChem_record',
        |  'pubchem.ncbi.nlm.nih.gov/compound/' || CAST(p * 7 AS VARCHAR), NULL, o4 + 9 FROM g WHERE pc = 1
        | UNION ALL SELECT chl, (SELECT u FROM rd) || '#Link_to_UniProt_ID',
        |  'u.org/P' || CAST(sk % 150 AS VARCHAR), NULL, o4 + 9 + pc FROM g)
        |SELECT s, p2 AS p, o2v AS o, lit, CAST(pos AS BIGINT) AS pos FROM t
        |ORDER BY s, p, o, lit NULLS FIRST, pos""".stripMargin,
    "q45_schema_writer" ->
      """SELECT
        | 'http://purl.obolibrary.org/obo/' ||
        |  CASE WHEN CAST(string_split(p_brand, '#')[2] AS INT) % 2 = 0
        |   THEN 'BR_' || CAST(CAST(string_split(p_brand, '#')[2] AS INT) AS VARCHAR)
        |   ELSE 'NA' END AS s,
        | 'http://purl.obolibrary.org/obo/RO_0000050' AS p,
        | 'http://purl.obolibrary.org/obo/' ||
        |  CASE WHEN p_partkey % 5 = 0 THEN 'MONDO_0000001'
        |   WHEN p_partkey % 5 = 1 THEN 'HsapDv_0000000'
        |   ELSE 'CL_' || CAST(p_partkey % 100 AS VARCHAR) END AS o
        |FROM part ORDER BY s, p, o""".stripMargin,
    "q40_ontology_pipeline" ->
      """SELECT 'PT_' || p_partkey AS term, p_name AS label,
        | 'PMID:' || CAST(p_partkey % 13 AS VARCHAR) || ',X:' || CAST(p_partkey % 7 AS VARCHAR) AS xrefs,
        | CAST(3 AS BIGINT) AS n_xref_emits,
        | CASE WHEN p_partkey % 5 <> 0 THEN CAST(p_partkey % 10 AS VARCHAR) END AS brand_key,
        | CASE WHEN p_partkey % 5 <> 0 THEN 'part of' END AS edge_label
        |FROM part ORDER BY term""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS count_order,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin,
    "q03_segment_orders" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q04_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        | JOIN customer ON n_nationkey = c_nationkey
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q05_brand_volume" ->
      """SELECT p_brand, count(*) AS n_lines,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q06_customers_with_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q07_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q08_top3_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        | FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q09_first_order_priority" ->
      """SELECT o_custkey, arg_min(o_orderpriority, o_orderkey) AS first_priority
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q10_nation_union" ->
      """SELECT DISTINCT CAST(nationkey AS INT) AS nationkey FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | UNION ALL SELECT s_nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "q11_hyphenate_types" ->
      """SELECT p_type, regexp_replace(regexp_replace(p_type, '[ _,/]', '-', 'g'), '-+', '-', 'g') AS p_type_h
        |FROM (SELECT DISTINCT p_type FROM part) ORDER BY p_type""".stripMargin,
    "q12_pylist_roundtrip" ->
      """SELECT p_partkey, len(string_split(p_name, ' ')) AS n_words
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q13_events_hourly" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type, date_trunc('hour', ts)
        |ORDER BY event_type, hour""".stripMargin,
    "q14_event_props" ->
      """SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "q15_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q16_token_stats" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS sum_tokens,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q17_lang_id" ->
      """WITH hits AS (
        | SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'), x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS h_de,
        |  len(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'), x -> x IN ('the','and','of','to','is','in','that','it'))) AS h_en,
        |  len(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'), x -> x IN ('el','la','los','que','es','una','por','con'))) AS h_es,
        |  len(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'), x -> x IN ('le','la','les','et','est','une','que','pas'))) AS h_fr
        | FROM documents),
        |pred AS (
        | SELECT CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
        |  WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
        |  WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
        |  WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
        |  ELSE 'fr' END AS lang_pred FROM hits)
        |SELECT lang_pred, count(*) AS n FROM pred GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,
    "q18_quality_features" ->
      """SELECT doc_id, length(text) AS n_chars_m,
        | len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
        | CAST(list_sum(list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''), w -> length(w))) AS DOUBLE)
        |  / len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q19_ngram_jaccard" ->
      """WITH sh AS (
        | SELECT doc_id AS id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle
        | FROM documents),
        |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        |pairs AS (
        | SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        | GROUP BY a.id, b.id)
        |SELECT id_a, id_b,
        | CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
        |FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.1
        |ORDER BY id_a, id_b""".stripMargin,
    "q20_minhash_lsh" ->
      """WITH sh AS (
        | SELECT doc_id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 3, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+3], ' ')))) AS shingle
        | FROM documents),
        |sig AS (
        | SELECT doc_id,
        |  min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
        |  min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
        |  min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5,
        |  min(md5('6:' || shingle)) AS h6, min(md5('7:' || shingle)) AS h7
        | FROM sh GROUP BY doc_id),
        |banded AS (
        | SELECT doc_id,
        |  unnest([md5('0:' || h0 || ',' || h1), md5('1:' || h2 || ',' || h3),
        |          md5('2:' || h4 || ',' || h5), md5('3:' || h6 || ',' || h7)]) AS bucket
        | FROM sig),
        |pairs AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT p.id_a, p.id_b,
        | ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)
        | ) / 8.0 AS est_jaccard
        |FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin,
    "q21_simhash" ->
      """WITH toks AS (
        | SELECT doc_id AS id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        | FROM documents WHERE doc_id < 300),
        |contrib AS (
        | SELECT id, j,
        |  CASE WHEN substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 1)
        |   IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS c
        | FROM toks CROSS JOIN generate_series(0, 63) AS t(j)),
        |sums AS (SELECT id, j, SUM(c) AS s FROM contrib GROUP BY id, j),
        |bits AS (
        | SELECT id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY j) AS bits
        | FROM sums GROUP BY id),
        |chunked AS (
        | SELECT id, bits, c, array_to_string(bits[c*16+1 : c*16+16], '') AS ck
        | FROM bits CROSS JOIN generate_series(0, 3) AS t(c)),
        |pairs AS (
        | SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.bits AS ba, b.bits AS bb
        | FROM chunked a JOIN chunked b ON a.c = b.c AND a.ck = b.ck AND a.id < b.id)
        |SELECT id_a, id_b, hamming FROM (
        | SELECT id_a, id_b,
        |  CAST(len(list_filter(generate_series(1, 64), i -> ba[i] <> bb[i])) AS BIGINT) AS hamming
        | FROM pairs)
        |WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin,
    "q27_cosine_near_dups" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300)
        |SELECT id_a, id_b, cos FROM (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    "q35_ivf_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |scored AS (
        | SELECT q.query_id, c.vec_id AS nbr_id,
        |  list_sum(list_transform(list_zip(q.qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, cos, rank FROM (
        | SELECT query_id, nbr_id, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        | FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q22_graph_vertices" ->
      """SELECT 'NAT' AS collection, CAST(n_nationkey AS VARCHAR) AS key,
        | 'NAT_' || n_nationkey AS term, n_name AS name FROM nation
        |UNION ALL
        |SELECT 'REG', CAST(r_regionkey AS VARCHAR), 'REG_' || r_regionkey, r_name FROM region
        |ORDER BY collection, key""".stripMargin,
    "q23_graph_edges_first_wins" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS from_key,
        | CAST(l_partkey AS VARCHAR) AS to_key,
        | arg_min(l_returnflag, l_linenumber * 256 + ascii(l_returnflag)) AS label
        |FROM lineitem GROUP BY l_orderkey, l_partkey ORDER BY from_key, to_key""".stripMargin,
    "q24_path_2hop" ->
      """SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v0,
        | CAST(l_orderkey AS VARCHAR) AS v1, CAST(l_partkey AS VARCHAR) AS v2
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |ORDER BY v0, v1, v2""".stripMargin,
    "q25_path_subgraph" ->
      """SELECT 'CUST' AS collection, count(DISTINCT o_custkey) AS n_vertices
        |FROM orders WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |UNION ALL SELECT 'ORD', count(DISTINCT l_orderkey) FROM lineitem
        |UNION ALL SELECT 'PART', count(DISTINCT l_partkey) FROM lineitem
        |ORDER BY collection""".stripMargin,
    "q28_nsforest_writer" -> nsforestStreamOracle,
    "q47_tuple_json_roundtrip" -> nsforestStreamOracle,
    "q39_author_to_cl_writer" ->
      """WITH P AS (SELECT 'http://purl.obolibrary.org/obo/' AS p),
        |R AS (SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns' AS r),
        |rows_in AS (
        | SELECT c_name,
        |  regexp_replace(regexp_replace(c_name, '[ _,/]', '-', 'g'), '-+', '-', 'g') AS cnh,
        |  substr(md5(c_name), 1, 12) AS uid,
        |  'CL_' || (c_custkey % 50) AS clt,
        |  'UBERON_' || c_nationkey AS ubt,
        |  c_custkey % 200 AS csize
        | FROM customer),
        |r2 AS (
        | SELECT *,
        |  (SELECT p FROM P) || 'CS_' || cnh || '-' || uid AS cs,
        |  (SELECT p FROM P) || clt AS cl,
        |  (SELECT p FROM P) || ubt AS ub,
        |  (SELECT p FROM P) || 'BGS_' || uid AS bgs,
        |  (SELECT p FROM P) || 'GS_' || c_name AS gs1,
        |  (SELECT p FROM P) || 'GS_' || c_name || 'B' AS gs2,
        |  (SELECT r FROM R) AS r, (SELECT p FROM P) AS p
        | FROM rows_in WHERE csize >= 10),
        |hdr AS (
        | SELECT * FROM (
        |  SELECT (SELECT p FROM P) || 'CSD_dv1' AS s, (SELECT r FROM R) || '#Citation' AS pr, 'C1' AS o, CAST(NULL AS VARCHAR) AS lit, 0 AS pos
        |  UNION ALL SELECT (SELECT p FROM P) || 'CSD_dv1', (SELECT r FROM R) || '#Cell_type', 'cat', NULL, 1
        |  UNION ALL SELECT (SELECT p FROM P) || 'PUB_dv1', (SELECT r FROM R) || '#Citation', 'C1', NULL, 2
        |  UNION ALL SELECT (SELECT p FROM P) || 'PUB_dv1', (SELECT r FROM R) || '#PMID', '42', NULL, 3
        |  UNION ALL SELECT (SELECT p FROM P) || 'PUB_dv1', (SELECT r FROM R) || '#PMCID', 'PMC1', NULL, 4
        |  UNION ALL SELECT (SELECT p FROM P) || 'PUB_dv1', (SELECT r FROM R) || '#DOI', '10.1/d', NULL, 5
        |  UNION ALL SELECT (SELECT p FROM P) || 'CSD_dv2', (SELECT r FROM R) || '#Citation', 'C1', NULL, 6
        |  UNION ALL SELECT (SELECT p FROM P) || 'CSD_dv2', (SELECT r FROM R) || '#Cell_type', 'cat', NULL, 7
        |  UNION ALL SELECT (SELECT p FROM P) || 'PUB_dv2', (SELECT r FROM R) || '#Citation', 'C1', NULL, 8
        |  UNION ALL SELECT (SELECT p FROM P) || 'PUB_dv2', (SELECT r FROM R) || '#PMID', '42', NULL, 9
        |  UNION ALL SELECT (SELECT p FROM P) || 'PUB_dv2', (SELECT r FROM R) || '#PMCID', 'PMC1', NULL, 10
        |  UNION ALL SELECT (SELECT p FROM P) || 'PUB_dv2', (SELECT r FROM R) || '#DOI', '10.1/d', NULL, 11)),
        |body AS (
        | SELECT cl AS s, p || 'BFO_0000050' AS pr, ub AS o, NULL AS lit, 0 AS pos FROM r2
        | UNION ALL SELECT cl, r || '#Source', ub, 'Manual Mapping', 1 FROM r2
        | UNION ALL SELECT cs, p || 'RO_0001000', ub, NULL, 2 FROM r2
        | UNION ALL SELECT cs, r || '#Source', ub, 'Manual Mapping', 3 FROM r2
        | UNION ALL SELECT cl, p || 'RO_0015001', p || 'CSD_dv1', NULL, 4 FROM r2
        | UNION ALL SELECT cl, r || '#Source', p || 'CSD_dv1', 'Manual Mapping', 5 FROM r2
        | UNION ALL SELECT cs, r || '/dc#Source', p || 'CSD_dv1', NULL, 6 FROM r2
        | UNION ALL SELECT cs, r || '#Source', p || 'CSD_dv1', 'Manual Mapping', 7 FROM r2
        | UNION ALL SELECT cl, p || 'RO_0015001', p || 'CSD_dv2', NULL, 8 FROM r2
        | UNION ALL SELECT cl, r || '#Source', p || 'CSD_dv2', 'Manual Mapping', 9 FROM r2
        | UNION ALL SELECT cs, r || '/dc#Source', p || 'CSD_dv2', NULL, 10 FROM r2
        | UNION ALL SELECT cs, r || '#Source', p || 'CSD_dv2', 'Manual Mapping', 11 FROM r2
        | UNION ALL SELECT cs, p || 'RO_0002473', cl, NULL, 12 FROM r2
        | UNION ALL SELECT cs, r || '#Source', cl, 'Manual Mapping', 13 FROM r2
        | UNION ALL SELECT cs, p || 'RO_0002292', bgs, NULL, 14 FROM r2
        | UNION ALL SELECT cs, r || '#Source', bgs, 'NSForest', 15 FROM r2
        | UNION ALL SELECT cs, r || '#Author_cell_term', c_name, NULL, 16 FROM r2
        | UNION ALL SELECT cs, r || '#Link_to_publication', 'L1', NULL, 17 FROM r2
        | UNION ALL SELECT cs, r || '#Link_to_CELLxGENE_collection', 'L2', NULL, 18 FROM r2
        | UNION ALL SELECT cs, r || '#Link_to_CELLxGENE_dataset', 'L3', NULL, 19 FROM r2
        | UNION ALL SELECT cs, r || '#Dataset_name', 'D1', NULL, 20 FROM r2
        | UNION ALL SELECT cs, r || '#Cell_type', clt, NULL, 21 FROM r2
        | UNION ALL SELECT cs, r || '#Match', cl, 'skos:exact', 22 FROM r2
        | UNION ALL SELECT cs, r || '#Mapping_method', cl, 'manual', 23 FROM r2
        | UNION ALL SELECT gs1, p || 'BFO_0000050', cl, NULL, 24 FROM r2
        | UNION ALL SELECT gs1, r || '#Source', cl, 'NSForest', 25 FROM r2
        | UNION ALL SELECT cl, r || '#SELECTIVELY_EXPRESS', gs1, NULL, 26 FROM r2
        | UNION ALL SELECT cl, r || '#Source', gs1, 'Manual Mapping', 27 FROM r2
        | UNION ALL SELECT gs1, p || 'BFO_0000050', cl, NULL, 28 FROM r2
        | UNION ALL SELECT gs1, r || '#Source', cl, 'NSForest', 29 FROM r2
        | UNION ALL SELECT cl, r || '#SELECTIVELY_EXPRESS', gs2, NULL, 30 FROM r2
        | UNION ALL SELECT cl, r || '#Source', gs2, 'Manual Mapping', 31 FROM r2
        | UNION ALL SELECT gs2, p || 'BFO_0000050', cl, NULL, 32 FROM r2
        | UNION ALL SELECT gs2, r || '#Source', cl, 'NSForest', 33 FROM r2)
        |SELECT s, pr AS p, o, lit, CAST(pos AS BIGINT) AS pos FROM hdr
        |UNION ALL SELECT s, pr, o, lit, CAST(pos AS BIGINT) FROM body
        |ORDER BY s, p, o, lit NULLS FIRST, pos""".stripMargin,
    "q38_end_to_end_slice" ->
      """SELECT DISTINCT
        | regexp_replace(regexp_replace(p_name, '[ _,/]', '-', 'g'), '-+', '-', 'g')
        |  || '-' || substr(md5(p_name), 1, 12) AS v0,
        | substr(md5(p_name), 1, 12) AS v1,
        | substr(md5(p_name), 1, 12) AS v2
        |FROM part WHERE p_size >= 10
        |ORDER BY v0, v1, v2""".stripMargin,
    "q37_minhash_lsh_oracle" ->
      """WITH sh AS (
        | SELECT doc_id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle
        | FROM documents),
        |sig AS (
        | SELECT doc_id,
        |  min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
        |  min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
        |  min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5,
        |  min(md5('6:' || shingle)) AS h6, min(md5('7:' || shingle)) AS h7,
        |  min(md5('8:' || shingle)) AS h8, min(md5('9:' || shingle)) AS h9,
        |  min(md5('10:' || shingle)) AS h10, min(md5('11:' || shingle)) AS h11,
        |  min(md5('12:' || shingle)) AS h12, min(md5('13:' || shingle)) AS h13,
        |  min(md5('14:' || shingle)) AS h14, min(md5('15:' || shingle)) AS h15
        | FROM sh GROUP BY doc_id),
        |banded AS (
        | SELECT doc_id,
        |  unnest([md5('0:' || h0 || ',' || h1), md5('1:' || h2 || ',' || h3),
        |          md5('2:' || h4 || ',' || h5), md5('3:' || h6 || ',' || h7),
        |          md5('4:' || h8 || ',' || h9), md5('5:' || h10 || ',' || h11),
        |          md5('6:' || h12 || ',' || h13), md5('7:' || h14 || ',' || h15)]) AS bucket
        | FROM sig),
        |pairs AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT p.id_a, p.id_b,
        | ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h8 = sb.h8 THEN 1 ELSE 0 END) + (CASE WHEN sa.h9 = sb.h9 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h10 = sb.h10 THEN 1 ELSE 0 END) + (CASE WHEN sa.h11 = sb.h11 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h12 = sb.h12 THEN 1 ELSE 0 END) + (CASE WHEN sa.h13 = sb.h13 THEN 1 ELSE 0 END)
        | + (CASE WHEN sa.h14 = sb.h14 THEN 1 ELSE 0 END) + (CASE WHEN sa.h15 = sb.h15 THEN 1 ELSE 0 END)
        | ) / 16.0 AS est_jaccard
        |FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin,
    "q36_minhash_signatures" ->
      """WITH sh AS (
        | SELECT doc_id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle
        | FROM documents)
        |SELECT doc_id,
        | min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
        | min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q33_gene_collection" ->
      """WITH w AS (
        | SELECT p_partkey, unnest(string_split(p_name, ' ')) AS g
        | FROM part WHERE p_size >= 10)
        |SELECT DISTINCT gene FROM (
        | SELECT g AS gene FROM w
        | UNION ALL
        | SELECT string_split(g || '.' || CAST(p_partkey % 3 AS VARCHAR), '.')[1] FROM w)
        |ORDER BY gene""".stripMargin,
    "q34_first_per_key" ->
      """SELECT p_brand,
        | array_to_string(list_sort(list(p_name))[1:3], '|') AS first3
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q32_multimodal" ->
      """SELECT doc_id AS media_id, 'fake' AS format,
        | CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
        | CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INT) AS height,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST((greatest(octet_length(encode(text)) // 256, 1) + 1) // 2 AS BIGINT) AS n_frames_sampled
        |FROM documents ORDER BY media_id""".stripMargin,
    "q29_ngram_search" ->
      """SELECT q, count(*) AS n_parts
        |FROM part, (VALUES ('idge'), ('old'), ('gea'), ('gear')) AS t(q)
        |WHERE p_name LIKE '%' || q || '%'
        |GROUP BY q ORDER BY q""".stripMargin,
    "q30_edge_ngram_typeahead" ->
      """SELECT q, count(*) AS n_parts
        |FROM part, (VALUES ('giz'), ('wid'), ('plat')) AS t(q)
        |WHERE len(list_filter(string_split_regex(lower(p_name), '[^a-z0-9]+'),
        |  w -> starts_with(w, q))) > 0
        |GROUP BY q ORDER BY q""".stripMargin,
    "q31_path_hierarchy" ->
      """WITH RECURSIVE chain(start, last, len) AS (
        | SELECT p_partkey, p_partkey, 0 FROM part
        | UNION ALL
        | SELECT c.start, c.last + 937, c.len + 1
        | FROM chain c
        | WHERE c.last % 5 <> 0
        |   AND EXISTS (SELECT 1 FROM part q WHERE q.p_partkey = c.last + 937)),
        |best AS (
        | SELECT start, arg_max(last, len) AS vlast, max(len) AS clen
        | FROM chain GROUP BY start)
        |SELECT CAST(p_partkey % 97 + 1 AS VARCHAR) AS v0,
        | CAST(p_partkey AS VARCHAR) AS v1,
        | CAST(b.vlast AS VARCHAR) AS v_last,
        | CAST(b.clen AS BIGINT) AS chain_len
        |FROM part JOIN best b ON b.start = p_partkey
        |WHERE p_partkey % 97 <= 2
        |ORDER BY v0, v1""".stripMargin,
    "q26_similarity_topk" -> bruteForceTopKOracle,
    "q48_lsh_topk" -> bruteForceTopKOracle,
    "q49_fingerprint" ->
      """SELECT doc_id, array_to_string(
        |  list_sort(list_distinct(list_transform(
        |   generate_series(1, greatest(length(text) - 7, 1)),
        |   i -> md5(substr(text, CAST(i AS INT), 8)))))[1:8], ',') AS fp
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin
  )

  /** Shared by q90 (one-shot BM25) and q91 (persisted ranked view) —
    * rational-idf BM25 with k1 = 1.2, b = 0.75: k1+1 = 2.2, 1−b = 0.25;
    * the per-doc sum runs over the token-SORTED term list on both
    * engines so float addition order matches. */
  private val bm25Oracle: String =
    """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |meta AS (SELECT (SELECT count(*) FROM documents) AS n,
        |  CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl),
        |q(query_id, qtext) AS (VALUES (0, 'spark window agg'), (1, 'hash join table'), (2, 'stream batch filter')),
        |qtok AS (SELECT query_id, unnest(list_distinct(list_filter(string_split_regex(lower(qtext), '[^a-z0-9]+'), x -> x <> ''))) AS token FROM q),
        |term AS (
        | SELECT query_id, doc_id, token,
        |  (((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |   * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)))
        |  / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |     * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl)) AS s
        | FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token) JOIN qtok USING (token) CROSS JOIN meta),
        |scored AS (
        | SELECT query_id, doc_id, list_sum(list(s ORDER BY token)) AS score
        | FROM term GROUP BY query_id, doc_id),
        |ranked AS (
        | SELECT query_id, doc_id, score,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        | FROM scored)
        |SELECT query_id, doc_id, score, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Scale-path twins gate under the SAME oracle as their exact form:
    * the driver hash-compares the alternative execution strategy
    * against the identical expected output. */
  val oracles: Map[String, String] = oraclesLiteral ++ Map(
    "q81_sessionize_chunked" -> oraclesLiteral("q68_sessionize"),
    "q82_bucketed_hierarchy" -> oraclesLiteral("q46b_catalog_hierarchy"),
    "q85_components_star" -> oraclesLiteral("q50_near_dup_components"),
    "q86_decontaminate_bloom" -> oraclesLiteral("q54_decontaminate"),
    "q87_sq_topk" ->
      """WITH dims AS (SELECT CAST(i AS BIGINT) AS i FROM generate_series(1, 64) t(i)),
        |stats AS (
        | SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
        |  max(CAST(embedding[i] AS DOUBLE)) AS mx
        | FROM embeddings CROSS JOIN dims GROUP BY i),
        |codes AS (
        | SELECT e.vec_id, s.i,
        |  CASE WHEN (s.mx - s.mn) / 255.0 = 0 THEN 0
        |   ELSE CAST(round((CAST(e.embedding[s.i] AS DOUBLE) - s.mn)
        |    / ((s.mx - s.mn) / 255.0)) AS INTEGER) END AS c
        | FROM embeddings e CROSS JOIN stats s),
        |deq AS (
        | SELECT c2.vec_id,
        |  list(s.mn + c2.c * ((s.mx - s.mn) / 255.0) ORDER BY s.i) AS dv
        | FROM codes c2 JOIN stats s USING (i) GROUP BY c2.vec_id),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |scored AS (
        | SELECT q.query_id, d.vec_id AS nbr_id,
        |  list_sum(list_transform(list_zip(q.qe, d.dv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(d.dv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM deq d CROSS JOIN q WHERE d.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, cos, rank FROM (
        | SELECT query_id, nbr_id, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        | FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q88_pq_topk" -> pqTopKOracle,
    "q89_ivfpq_index" -> pqTopKOracle,
    "q90_bm25_topk" -> bm25Oracle,
    "q91_bm25_view" -> bm25Oracle,
    // the appended view must equal the batch-built one cell-for-cell
    "q111_bm25_append" -> bm25Oracle,
    // ...and so must the view after a REPLAYED ingest batch (the
    // high-water guard makes the redelivery a no-op)
    "q117_bm25_replay" -> bm25Oracle,
    "q92_merge_latest" -> mergeLatestOracle,
    // replay-idempotence twin: doubled update delivery, same result
    "q118_merge_replay" -> mergeLatestOracle,
    "q93_phrase_search" ->
      """WITH d AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        | FROM documents),
        |p(phrase_id, phrase) AS (VALUES (0, 'window agg'), (1, 'spark window agg'),
        |  (2, 'batch window'), (3, 'slow fast table')),
        |pt AS (SELECT phrase_id,
        |  list_filter(string_split_regex(lower(phrase), '[^a-z0-9]+'), x -> x <> '') AS ptoks
        | FROM p),
        |m AS (SELECT phrase_id, doc_id,
        |  len(list_filter(generate_series(1, len(toks) - len(ptoks) + 1),
        |    i -> toks[i:i+len(ptoks)-1] = ptoks)) AS n_anchors
        | FROM d CROSS JOIN pt)
        |SELECT phrase_id, doc_id, n_anchors FROM m
        |WHERE n_anchors > 0 ORDER BY phrase_id, doc_id""".stripMargin,
    "q94_lm_score" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        | FROM documents),
        |big AS (
        | SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |   i -> {'w1': t[i], 'w2': t[i+1]})) AS bg
        |  FROM toks)),
        |db AS (SELECT doc_id, w1, w2, count(*) AS k FROM big GROUP BY doc_id, w1, w2),
        |model AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM big
        | WHERE doc_id % 2 = 0 GROUP BY w1, w2),
        |ug AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM model GROUP BY w1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ug),
        |sc AS (
        | SELECT d.doc_id, d.w1, d.w2, d.k, m.n12,
        |  (CAST(coalesce(m.n12, 0) AS DOUBLE) + CAST(0.1 AS DOUBLE)) /
        |  (CAST(coalesce(u.n1, 0) AS DOUBLE) + CAST(0.1 AS DOUBLE) * v.v) AS p
        | FROM db d LEFT JOIN model m USING (w1, w2) LEFT JOIN ug u USING (w1) CROSS JOIN v),
        |agg AS (
        | SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  CAST(sum(CASE WHEN n12 IS NULL THEN k ELSE 0 END) AS BIGINT) AS n_oov,
        |  list_sum(list(CAST(k AS DOUBLE) * p ORDER BY w1, w2)) AS s
        | FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_oov, s / CAST(n_bigrams AS DOUBLE) AS score
        |FROM agg WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    "q95_dsir_weights" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        | FROM documents),
        |big AS (
        | SELECT doc_id, substr(md5(bg.w1 || ' ' || bg.w2), 1, 2) AS b FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |   i -> {'w1': t[i], 'w2': t[i+1]})) AS bg
        |  FROM toks)),
        |rawd AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY b),
        |tgtd AS (SELECT b, CAST(count(*) AS BIGINT) AS nt FROM big
        | WHERE doc_id % 7 = 0 GROUP BY b),
        |tots AS (SELECT (SELECT CAST(sum(n) AS DOUBLE) FROM rawd) AS nr,
        | (SELECT CAST(sum(nt) AS DOUBLE) FROM tgtd) AS nt2),
        |ratio AS (SELECT rawd.b,
        |  ((CAST(coalesce(tgtd.nt, 0) AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |    / (tots.nt2 + CAST(0.5 AS DOUBLE) * CAST(256 AS DOUBLE)))
        |  / ((CAST(rawd.n AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |    / (tots.nr + CAST(0.5 AS DOUBLE) * CAST(256 AS DOUBLE))) AS r
        | FROM rawd LEFT JOIN tgtd USING (b) CROSS JOIN tots),
        |db AS (SELECT doc_id, b, count(*) AS k FROM big GROUP BY doc_id, b),
        |agg AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_feats,
        |  list_sum(list(CAST(k AS DOUBLE) * r ORDER BY b)) AS s
        | FROM db JOIN ratio USING (b) GROUP BY doc_id)
        |SELECT doc_id, n_feats, s / CAST(n_feats AS DOUBLE) AS score
        |FROM agg WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    "q96_hybrid_rrf" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |meta AS (SELECT (SELECT count(*) FROM documents) AS n,
        |  CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl),
        |q(query_id, qtext) AS (VALUES (0, 'spark window agg'), (1, 'hash join table'), (2, 'stream batch filter')),
        |qtok AS (SELECT query_id, unnest(list_distinct(list_filter(string_split_regex(lower(qtext), '[^a-z0-9]+'), x -> x <> ''))) AS token FROM q),
        |term AS (
        | SELECT query_id, doc_id, token,
        |  (((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |   * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)))
        |  / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |     * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl)) AS s
        | FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token) JOIN qtok USING (token) CROSS JOIN meta),
        |bscored AS (
        | SELECT query_id, doc_id, list_sum(list(s ORDER BY token)) AS score
        | FROM term GROUP BY query_id, doc_id),
        |bmr AS (SELECT query_id, doc_id, rank FROM (
        | SELECT query_id, doc_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        | FROM bscored) WHERE rank <= 10),
        |vq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
        |vscored AS (
        | SELECT vq.query_id, c.vec_id AS doc_id,
        |  list_sum(list_transform(list_zip(vq.qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(vq.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM embeddings c CROSS JOIN vq WHERE c.vec_id <> vq.query_id),
        |vr AS (SELECT query_id, doc_id, rank FROM (
        | SELECT query_id, doc_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rank
        | FROM vscored) WHERE rank <= 10),
        |u AS (
        | SELECT query_id, doc_id, 'bm25' AS src,
        |  CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)) AS c FROM bmr
        | UNION ALL
        | SELECT query_id, doc_id, 'vec' AS src,
        |  CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)) AS c FROM vr),
        |f AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_retrievers,
        |  list_sum(list(c ORDER BY src)) AS rrf_score FROM u GROUP BY query_id, doc_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY rrf_score DESC, doc_id ASC) AS rank FROM f)
        |SELECT query_id, doc_id, n_retrievers, rrf_score, rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q97_merge_agg" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q98_pagerank" -> pageRankOracle(5),
    "q99_personalized_pagerank" ->
      pageRankOracle(5, seedPred = Some("node % 50 = 0")),
    "q100_line_dedup" ->
      """WITH d3 AS (
        | SELECT doc_id, text || chr(10) || 'COMMON FOOTER' || chr(10) || upper(text) AS text
        | FROM documents),
        |l AS (
        | SELECT doc_id, u.pos AS pos, u.ln AS ln FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(sp)),
        |   i -> {'pos': i, 'ln': sp[i]})) AS u
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS sp FROM d3))),
        |hot AS (
        | SELECT ln FROM l WHERE trim(ln) <> ''
        | GROUP BY ln HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (
        | SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
        | FROM l ANTI JOIN hot USING (ln) GROUP BY doc_id)
        |SELECT d3.doc_id, coalesce(kept.text, '') AS text
        |FROM d3 LEFT JOIN kept USING (doc_id)
        |WHERE d3.doc_id < 300 ORDER BY d3.doc_id""".stripMargin,
    "q101_proximity_search" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        | FROM documents),
        |post AS (
        | SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
        |   i -> {'pos': i, 'tok': t[i]})) AS u
        |  FROM toks)),
        |p(pair_id, token_a, token_b) AS (VALUES (0, 'window', 'agg'),
        |  (1, 'spark', 'agg'), (2, 'batch', 'window'), (3, 'fast', 'slow')),
        |m AS (
        | SELECT p.pair_id, a.doc_id,
        |  count(*) AS n_pairs
        | FROM p
        |  JOIN post a ON a.tok = p.token_a
        |  JOIN post b ON b.doc_id = a.doc_id AND b.tok = p.token_b
        |   AND b.pos - a.pos BETWEEN 1 AND 3
        | GROUP BY p.pair_id, a.doc_id)
        |SELECT pair_id, doc_id, CAST(n_pairs AS BIGINT) AS n_pairs
        |FROM m ORDER BY pair_id, doc_id""".stripMargin,
    "q102_hits" -> hitsOracle(4),
    "q103_weighted_pagerank" -> pageRankOracle(5, weighted = true),
    "q112_weighted_hits" -> hitsOracle(4, weighted = true),
    "q113_eigenvector_centrality" -> eigenOracle(5),
    "q114_rank_related_entities" -> q114Oracle(5),
    "q116_kcore" -> kCoreOracle(14, 16),
    "q126_label_propagation" -> lpaOracle(4),
    "q127_weighted_lpa" -> lpaOracle(4, weighted = true),
    // Same planted PII, same Java∩RE2 patterns; DuckDB regexp_replace
    // needs the explicit 'g' flag (Spark is global by default)
    "q119_pii_redact" ->
      """WITH planted AS (
        | SELECT doc_id, concat_ws(' ', text,
        |   'user' || CAST(doc_id AS VARCHAR) || '@example.com',
        |   CASE WHEN doc_id % 3 = 0 THEN '10.0.' ||
        |     CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |     CAST(doc_id % 100 AS VARCHAR) END,
        |   CASE WHEN doc_id % 5 = 0 THEN '+1 555-123-4567' END) AS t
        | FROM documents),
        |c AS (SELECT doc_id, t,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |  len(regexp_extract_all(t, '\+\d{1,2}[ -]\d{3}[ -]\d{3}[ -]\d{4}')) AS n_phone,
        |  len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn
        | FROM planted)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |   '\+\d{1,2}[ -]\d{3}[ -]\d{3}[ -]\d{4}', '[PHONE]', 'g'),
        |   '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS text,
        | n_email, n_ipv4, n_phone, n_ssn,
        | n_email + n_ipv4 + n_phone + n_ssn AS n_pii
        |FROM c WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    // Positioned 8-gram shingles -> corpus-duplicated spans -> covered
    // positions -> surviving tokens rejoined; empty-but-present docs
    "q120_span_mask" ->
      """WITH planted AS (
        | SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text ||
        |   ' the quick brown fox jumps over the lazy sleeping dog'
        |  ELSE text END AS text FROM documents),
        |d AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS toks
        | FROM planted),
        |sh AS (SELECT doc_id, i AS pos,
        |  array_to_string(toks[i+1:i+8], ' ') AS s
        | FROM d, unnest(generate_series(0, len(toks) - 8)) AS t(i)
        | WHERE len(toks) >= 8),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos FROM sh JOIN dup USING (s)),
        |cov AS (SELECT DISTINCT doc_id, pos + k AS p
        | FROM m, unnest(generate_series(0, 7)) AS o(k)),
        |tp AS (SELECT doc_id, i - 1 AS p, toks[i] AS tok
        | FROM d, unnest(generate_series(1, len(toks))) AS g(i)),
        |kept AS (SELECT t.doc_id, t.p, t.tok FROM tp t
        | LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        | WHERE c.doc_id IS NULL),
        |outp AS (SELECT doc_id,
        |  array_to_string(list(tok ORDER BY p), ' ') AS text
        | FROM kept GROUP BY doc_id),
        |nm AS (SELECT doc_id, count(*) AS n FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(outp.text, '') AS text,
        | coalesce(nm.n, 0) AS n_masked_tokens
        |FROM d LEFT JOIN outp USING (doc_id) LEFT JOIN nm USING (doc_id)
        |WHERE d.doc_id < 300 ORDER BY d.doc_id""".stripMargin,
    // q310: q120's replay with a second (3-occurrence) planted span and
    // the duplicate floor raised to 10 — the rare span must SURVIVE
    "q310_span_mask_threshold" ->
      """WITH planted AS (
        | SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text ||
        |   ' the quick brown fox jumps over the lazy sleeping dog'
        |  WHEN doc_id IN (11, 18, 25) THEN text ||
        |   ' pack my box with five dozen large liquor jugs tonight'
        |  ELSE text END AS text FROM documents),
        |d AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS toks
        | FROM planted),
        |sh AS (SELECT doc_id, i AS pos,
        |  array_to_string(toks[i+1:i+8], ' ') AS s
        | FROM d, unnest(generate_series(0, len(toks) - 8)) AS t(i)
        | WHERE len(toks) >= 8),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 10),
        |m AS (SELECT doc_id, pos FROM sh JOIN dup USING (s)),
        |cov AS (SELECT DISTINCT doc_id, pos + k AS p
        | FROM m, unnest(generate_series(0, 7)) AS o(k)),
        |tp AS (SELECT doc_id, i - 1 AS p, toks[i] AS tok
        | FROM d, unnest(generate_series(1, len(toks))) AS g(i)),
        |kept AS (SELECT t.doc_id, t.p, t.tok FROM tp t
        | LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        | WHERE c.doc_id IS NULL),
        |outp AS (SELECT doc_id,
        |  array_to_string(list(tok ORDER BY p), ' ') AS text
        | FROM kept GROUP BY doc_id),
        |nm AS (SELECT doc_id, count(*) AS n FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(outp.text, '') AS text,
        | coalesce(nm.n, 0) AS n_masked_tokens
        |FROM d LEFT JOIN outp USING (doc_id) LEFT JOIN nm USING (doc_id)
        |WHERE d.doc_id < 300 ORDER BY d.doc_id""".stripMargin,
    // SemDeDup: same cosine spelling as the q26 family; assignment ties
    // break to the lower cell id exactly as assignCells' struct ordering
    "q115_semantic_dedup" ->
      """WITH RECURSIVE cents AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
        |  FROM embeddings WHERE vec_id < 16),
        |assg AS (
        | SELECT e.vec_id, c.cell,
        |  list_sum(list_transform(list_zip(e.embedding, c.ce), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM embeddings e CROSS JOIN cents c),
        |best AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
        |  FROM assg) WHERE rn = 1),
        |pairs AS (
        | SELECT a.vec_id AS ia, b.vec_id AS ib
        | FROM best a JOIN best b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings eb ON eb.vec_id = b.vec_id
        | WHERE list_sum(list_transform(list_zip(ea.embedding, eb.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.3),
        |e AS (SELECT ia AS u, ib AS v FROM pairs UNION SELECT ib, ia FROM pairs),
        |r(id, lab) AS (
        | SELECT u, u FROM (SELECT DISTINCT u FROM e)
        | UNION
        | SELECT e.u, r.lab FROM e JOIN r ON r.id = e.v),
        |reach AS (SELECT id, min(lab) AS component FROM r GROUP BY id),
        |losers AS (SELECT id FROM reach WHERE id <> component)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM losers) ORDER BY vec_id""".stripMargin,
    // recursive UNION (not UNION ALL): the distinct check collapses
    // same-level path multiplicity, turning 6-hop PATH ENUMERATION
    // (~9 s, and growing with density) into plain BFS levels (0.03 s);
    // min(dist) over the deduped rows is row-identical (measured).
    "q104_shortest_paths" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT o_custkey % 200 AS src,
        |  o_orderkey % 200 AS dst FROM orders WHERE o_orderkey < 2000),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seeds AS (SELECT node FROM nodes WHERE node % 50 = 0),
        |r(node, landmark, dist) AS (
        | SELECT node, node, 0 FROM seeds
        | UNION
        | SELECT e.dst, r.landmark, r.dist + 1
        | FROM r JOIN e ON e.src = r.node WHERE r.dist < 6)
        |SELECT node, landmark, CAST(min(dist) AS INTEGER) AS dist
        |FROM r GROUP BY node, landmark ORDER BY node, landmark""".stripMargin,
    "q105_ordered_search" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        | FROM documents),
        |post AS (
        | SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
        |   i -> {'pos': i, 'tok': t[i]})) AS u
        |  FROM toks)),
        |p2(pid, t1, t2) AS (VALUES (0, 'spark', 'agg'), (3, 'fast', 'table')),
        |p3(pid, t1, t2, t3) AS (VALUES (1, 'spark', 'window', 'agg'),
        |  (2, 'batch', 'filter', 'join')),
        |m2 AS (SELECT p.pid, a.doc_id, count(DISTINCT a.pos) AS n
        | FROM p2 p JOIN post a ON a.tok = p.t1
        |  JOIN post b ON b.doc_id = a.doc_id AND b.tok = p.t2
        |   AND b.pos - a.pos BETWEEN 1 AND 2
        | GROUP BY p.pid, a.doc_id),
        |m3 AS (SELECT p.pid, a.doc_id, count(DISTINCT a.pos) AS n
        | FROM p3 p JOIN post a ON a.tok = p.t1
        |  JOIN post b ON b.doc_id = a.doc_id AND b.tok = p.t2
        |   AND b.pos - a.pos BETWEEN 1 AND 2
        |  JOIN post c ON c.doc_id = a.doc_id AND c.tok = p.t3
        |   AND c.pos - b.pos BETWEEN 1 AND 2
        | GROUP BY p.pid, a.doc_id)
        |SELECT pid AS phrase_id, doc_id, CAST(n AS BIGINT) AS n_anchors
        |FROM (SELECT * FROM m2 UNION ALL SELECT * FROM m3)
        |ORDER BY phrase_id, doc_id""".stripMargin,
    "q106_triangles" ->
      """WITH e0 AS (SELECT o_custkey % 200 AS src, o_orderkey % 200 AS dst
        | FROM orders WHERE o_orderkey < 2000),
        |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        | FROM e0 WHERE src <> dst),
        |tri AS (
        | SELECT a.u AS x, a.v AS y, b.v AS z
        | FROM und a JOIN und b ON b.u = a.v
        |  JOIN und c ON c.u = a.u AND c.v = b.v)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        | SELECT x AS node FROM tri
        | UNION ALL SELECT y FROM tri
        | UNION ALL SELECT z FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin,
    "q107_clustering_coeff" ->
      """WITH e0 AS (SELECT o_custkey % 200 AS src, o_orderkey % 200 AS dst
        | FROM orders WHERE o_orderkey < 2000),
        |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        | FROM e0 WHERE src <> dst),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        | SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        | GROUP BY node),
        |tri AS (
        | SELECT a.u AS x, a.v AS y, b.v AS z
        | FROM und a JOIN und b ON b.u = a.v
        |  JOIN und c ON c.u = a.u AND c.v = b.v),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
        | SELECT x AS node FROM tri
        | UNION ALL SELECT y FROM tri
        | UNION ALL SELECT z FROM tri)
        | GROUP BY node)
        |SELECT d.node, d.d, CAST(coalesce(tc.t, 0) AS BIGINT) AS n_triangles,
        | CASE WHEN d.d >= 2
        |  THEN CAST(coalesce(tc.t, 0) * 2 AS DOUBLE)
        |   / CAST(d.d * (d.d - 1) AS DOUBLE)
        |  ELSE CAST(0 AS DOUBLE) END AS coeff
        |FROM deg d LEFT JOIN tc USING (node) ORDER BY d.node""".stripMargin,
    // q108–q110 all hash-compare the same exact baseline (brute-force
    // cosine top-10 over the % 25 query set); what DIFFERS per gate is
    // the in-gate recall requirement on its approximate path — a
    // quality regression surfaces through the error channel, not the
    // hash. The oracle is the q26 family at k=10.
    "q108_ivf_recall" -> recallBaselineOracle,
    "q109_lsh_multi_recall" -> recallBaselineOracle,
    "q110_ivfpq_recall" -> recallBaselineOracle,
    // q303: the sampled-quantizer variant of q108 — same exact baseline
    "q303_ivf_sampled_recall" -> recallBaselineOracle,
    // q306: the two-level-quantizer variant — same exact baseline
    "q306_hier_recall" -> recallBaselineOracle,
    // q307: the persisted two-level IVF-PQ index lifecycle — the
    // refresh/append/cutover assertions ride require(); same baseline
    "q307_ivfpq_hier_index" -> recallBaselineOracle,
    // q308: the streaming-ingest twin — mid-stream visibility, exact
    // batch-encoding equality, and union-probe recall ride require()
    "q308_ann_stream_ingest" -> recallBaselineOracle,
    // q309: streamed-index delta compaction — fold/retire safety, exact
    // pre/post probe equality, and layout parity ride require()
    "q309_ann_delta_compaction" -> recallBaselineOracle,
    // q313: size-aware probe join — broadcast/merge plan parity on the
    // full-corpus kNN-join batch rides require(); same exact baseline
    "q313_ann_knn_join_parity" -> recallBaselineOracle,
    // q314: exact-rerank recall lever — the ≥0.85 recall@10 floor and
    // ADC dominance ride require(); same exact baseline
    "q314_ann_rerank_recall" -> recallBaselineOracle,
    // q315: compaction raced against live ingest + tombstones — batch
    // survival, no-resurrection, masked/physical probe equality all
    // ride require(); same exact baseline
    "q315_ann_compaction_race" -> recallBaselineOracle,
    // q316: adaptive probe — matched-budget recall vs the fixed probe,
    // pool guarantee, and the floor ride require(); same exact baseline
    "q316_ann_adaptive_probe" -> recallBaselineOracle,
    // q317: sub-centroid broadcast-join fallback — literal/join path
    // row-equality, plan-shape witness, and the recall floor ride
    // require(); same exact baseline
    "q317_ann_subjoin_parity" -> recallBaselineOracle,
    // q305: the refreshed-ontology face — the swapped file's class
    // labels; the lifecycle assertions (kill-mid-download containment,
    // archive naming, version swap, same-version keep) ride require().
    // The served ontology is keyed 0..299 by construction, so the
    // oracle replays it from generate_series (the pqTopK convention).
    "q305_obo_refresh" ->
      """SELECT CAST(s AS BIGINT) AS k, 'fresh-' || CAST(s AS VARCHAR) AS label
        |FROM generate_series(0, 299) t(s) ORDER BY k""".stripMargin,
    // q304: exact near-dup pair set (cos >= 0.3, sampled left side, the
    // same cast-discipline cosine as recallBaselineOracle); the sampled
    // quantizer's pair recall rides the gate's require()
    "q304_semdedup_sampled_pairs" ->
      """WITH q AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings WHERE vec_id % 25 = 0),
        |p AS (
        | SELECT q.id_a, c.vec_id AS id_b,
        |  list_sum(list_transform(list_zip(q.va, c.embedding), pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(q.va, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM q JOIN embeddings c ON c.vec_id > q.id_a)
        |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    // link prediction: wedges through each middle vertex z; ra folds the
    // z-sorted 1/deg list (list_sum(list ... ORDER BY z)) exactly like
    // the engine's exactFolds face; cn/jaccard integer-exact + one
    // final IEEE division
    "q128_link_prediction" ->
      """WITH e0 AS (SELECT o_custkey % 200 AS src, o_orderkey % 200 AS dst
        | FROM orders WHERE o_orderkey < 2000),
        |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        | FROM e0 WHERE src <> dst),
        |adj AS (SELECT u AS z, v AS x FROM und UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT z, count(*) AS d FROM adj GROUP BY z),
        |w AS (SELECT a.x AS u, b.x AS v, a.z AS z, dg.d AS d
        | FROM adj a JOIN adj b ON b.z = a.z AND a.x < b.x
        | JOIN deg dg ON dg.z = a.z),
        |sc AS (SELECT u, v, count(*) AS cn,
        |  list_sum(list(CAST(1 AS DOUBLE) / CAST(d AS DOUBLE) ORDER BY z)) AS ra
        | FROM w GROUP BY u, v HAVING count(*) >= 3)
        |SELECT s.u, s.v, s.cn,
        | CAST(s.cn AS DOUBLE) / CAST(du.d + dv.d - s.cn AS DOUBLE) AS jaccard,
        | s.ra
        |FROM sc s JOIN deg du ON du.z = s.u JOIN deg dv ON dv.z = s.v
        |WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = s.u AND und.v = s.v)
        |ORDER BY s.u, s.v""".stripMargin,
    // harmonic centrality: the q104 BFS recursion (distinct levels, not
    // path enumeration), min-dist per (node, landmark), then the exact
    // integer Σ 60/d (60 = lcm(1..6), so every term is integral)
    "q129_harmonic" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT o_custkey % 200 AS src,
        |  o_orderkey % 200 AS dst FROM orders WHERE o_orderkey < 2000),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seeds AS (SELECT node FROM nodes WHERE node % 20 = 0),
        |r(node, landmark, dist) AS (
        | SELECT node, node, 0 FROM seeds
        | UNION
        | SELECT e.dst, r.landmark, r.dist + 1
        | FROM r JOIN e ON e.src = r.node WHERE r.dist < 6),
        |d AS (SELECT node, landmark, min(dist) AS dist FROM r
        | GROUP BY node, landmark)
        |SELECT node, count(*) AS n_sources,
        | CAST(sum(60 // dist) AS BIGINT) AS h_scaled
        |FROM d WHERE dist > 0 GROUP BY node ORDER BY node""".stripMargin,
    // prefix-filtered jaccard: the oracle is the NAIVE all-shared-
    // shingles join (the q19 family at τ = 0.2) — output equality IS the
    // proof that the prefix+length candidate pruning loses no pair
    "q130_jaccard_prefix" ->
      """WITH sh AS (
        | SELECT doc_id AS id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle
        | FROM documents),
        |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        |pairs AS (
        | SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        | GROUP BY a.id, b.id)
        |SELECT id_a, id_b,
        | CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
        |FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,
    // window family: unique ordering key per partition makes every
    // function deterministic; delta/running go through DECIMAL(18,2)
    // so frame-fold order cannot flip a low bit
    "q131_window_analytics" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(rank() OVER w AS INTEGER) AS rnk,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |  - lag(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE)
        |  AS delta,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS running,
        | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        | lead(o_orderkey, 1) OVER w AS next_key
        |FROM orders WHERE o_orderkey < 5000
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q132_weighted_sp" -> wspOracle(12),
    // collocations: bigram lift with integer counts; the marginals and N
    // re-aggregate the (w1, w2) count table exactly as the engine does
    "q133_collocations" ->
      """WITH toks AS (
        | SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |  x -> x <> '') AS t FROM documents),
        |bg AS (SELECT u.w1 AS w1, u.w2 AS w2 FROM (
        | SELECT unnest(list_transform(
        |  generate_series(1, greatest(len(t) - 1, 0)),
        |  i -> {'w1': t[i], 'w2': t[i + 1]})) AS u
        | FROM toks)),
        |cb AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY w1),
        |m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM cb GROUP BY w2),
        |n AS (SELECT CAST(sum(c12) AS BIGINT) AS n_total FROM cb)
        |SELECT cb.w1, cb.w2, cb.c12, m1.c1, m2.c2,
        | (CAST(cb.c12 AS DOUBLE) * CAST(n.n_total AS DOUBLE))
        |  / (CAST(m1.c1 AS DOUBLE) * CAST(m2.c2 AS DOUBLE)) AS lift
        |FROM cb JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN n
        |WHERE cb.c12 >= 5
        |ORDER BY cb.w1, cb.w2""".stripMargin,
    // hopping windows: event t covers window-index k iff
    // k·S ≤ t < k·S + W  ⇔  k ∈ ((t−W) // S, t // S] — integer floor
    // division on epoch micros, W = 1h, S = 15min
    "q134_hopping_window" ->
      """WITH ev AS (SELECT epoch_us(ts) AS t, event_type, value FROM events),
        |ks AS (SELECT t, event_type, value,
        |  unnest(generate_series((t - 3600000000) // 900000000 + 1,
        |   t // 900000000)) AS k
        | FROM ev)
        |SELECT k * 900000000 AS ws_us, k * 900000000 + 3600000000 AS we_us,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM ks GROUP BY k, event_type
        |ORDER BY ws_us, event_type""".stripMargin,
    "q135_bipartite_project" ->
      """WITH bip AS (SELECT DISTINCT o.o_custkey AS cust,
        |  l.l_partkey % 1000 AS part
        | FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        | WHERE l.l_orderkey < 2000)
        |SELECT a.cust AS l1, b.cust AS l2, count(*) AS w
        |FROM bip a JOIN bip b ON a.part = b.part AND a.cust < b.cust
        |GROUP BY a.cust, b.cust HAVING count(*) >= 2
        |ORDER BY l1, l2""".stripMargin,
    "q136_betweenness" -> betweennessOracle(6),
    "q137_ktruss" -> kTrussOracle(8, 16),
    // same fixture and peel fixpoint — the decremental face must land
    // on the identical (u, v, support) rows the recount face does
    "q231_ktruss_decr" -> kTrussOracle(8, 16),
    "q232_semdedup_cap" -> semCapOracle(40, 6),
    "q233_deep_hierarchy" ->
      """WITH RECURSIVE nodes AS MATERIALIZED (
        |  SELECT DISTINCT o_orderkey % 80 AS r FROM orders),
        |e AS MATERIALIZED (SELECT a.r AS f, b.r AS t
        | FROM nodes a JOIN nodes b ON b.r = a.r + 1),
        |walk(start, cur, ks, d) AS (
        |  SELECT r, r, CAST(r AS VARCHAR), 0 FROM nodes
        |   WHERE r IN (0, 40)
        |  UNION ALL
        |  SELECT w.start, e.t, w.ks || '|' || CAST(e.t AS VARCHAR),
        |    w.d + 1
        |  FROM walk w JOIN e ON e.f = w.cur WHERE w.d < 64),
        |best AS (SELECT start, max(d) AS md FROM walk GROUP BY start)
        |SELECT CAST(w.start AS VARCHAR) AS start,
        |  CAST(w.d AS BIGINT) AS depth, w.ks AS path_keys
        |FROM walk w JOIN best b ON b.start = w.start AND b.md = w.d
        |ORDER BY start""".stripMargin,
    "q234_bmp_pixels" ->
      """WITH b AS MATERIALIZED (SELECT doc_id,
        |  list_transform(generate_series(1, 39),
        |    i -> ord(substr(text, i, 1))) AS v
        | FROM documents)
        |SELECT doc_id AS media_id, 13 AS width, 3 AS height,
        |  CAST(39 AS BIGINT) AS n_px,
        |  CAST(list_sum(v) AS BIGINT) AS px_sum,
        |  CAST(list_min(v) AS INT) AS px_min,
        |  CAST(list_max(v) AS INT) AS px_max,
        |  CAST(v[1] AS INT) AS top_left,
        |  CAST(v[39] AS INT) AS bottom_right
        |FROM b ORDER BY media_id""".stripMargin,
    "q301_png_pixels" ->
      """WITH b AS MATERIALIZED (SELECT doc_id,
        |  list_transform(generate_series(1, 40),
        |    i -> ord(substr(text, i, 1))) AS v
        | FROM documents)
        |SELECT doc_id AS media_id, 8 AS width, 5 AS height,
        |  CAST(40 AS BIGINT) AS n_px,
        |  CAST(list_sum(v) AS BIGINT) AS px_sum,
        |  CAST(list_min(v) AS INT) AS px_min,
        |  CAST(list_max(v) AS INT) AS px_max,
        |  CAST(v[1] AS INT) AS top_left,
        |  CAST(v[40] AS INT) AS bottom_right
        |FROM b ORDER BY media_id""".stripMargin,
    "q318_jpeg_pixels" ->
      """WITH b AS MATERIALIZED (SELECT doc_id,
        |  list_transform(generate_series(1, 12),
        |    i -> ord(substr(text, i, 1))) AS v
        | FROM documents)
        |SELECT doc_id AS media_id, 32 AS width, 24 AS height,
        |  CAST(768 AS BIGINT) AS n_px,
        |  CAST(64 * list_sum(v) AS BIGINT) AS px_sum,
        |  CAST(list_min(v) AS INT) AS px_min,
        |  CAST(list_max(v) AS INT) AS px_max,
        |  CAST(v[1] AS INT) AS top_left,
        |  CAST(v[12] AS INT) AS bottom_right
        |FROM b ORDER BY media_id""".stripMargin,
    "q319_gif_pixels" ->
      """WITH b AS MATERIALIZED (SELECT doc_id,
        |  list_transform(generate_series(1, 40),
        |    i -> ord(substr(text, i, 1))) AS v
        | FROM documents)
        |SELECT doc_id AS media_id, 8 AS width, 5 AS height,
        |  CAST(40 AS BIGINT) AS n_px,
        |  CAST(list_sum(v) AS BIGINT) AS px_sum,
        |  CAST(list_sum(v) AS BIGINT) AS px_sum_b,
        |  CAST(list_min(v) AS INT) AS px_min,
        |  CAST(list_max(v) AS INT) AS px_max,
        |  CAST(v[1] AS INT) AS top_left,
        |  CAST(v[40] AS INT) AS bottom_right
        |FROM b ORDER BY media_id""".stripMargin,
    "q235_wav_samples" ->
      """WITH v AS MATERIALIZED (SELECT doc_id, i,
        |  (ord(substr(text, i, 1)) - 100) * 256 AS v
        | FROM documents, generate_series(1, 40) AS g(i)),
        |nz AS (SELECT doc_id, sign(v) AS sg,
        |  lag(sign(v)) OVER (PARTITION BY doc_id ORDER BY i) AS psg
        | FROM v WHERE v <> 0),
        |cr AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN psg IS NOT NULL AND sg <> psg
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
        | FROM nz GROUP BY doc_id),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v) AS BIGINT) AS s_sum,
        |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sq_sum,
        |  CAST(min(v) AS INT) AS s_min, CAST(max(v) AS INT) AS s_max
        | FROM v GROUP BY doc_id)
        |SELECT a.doc_id AS media_id, n_samples, s_sum, sq_sum,
        |  s_min, s_max, coalesce(c.n_zero_cross, 0) AS n_zero_cross
        |FROM agg a LEFT JOIN cr c ON c.doc_id = a.doc_id
        |ORDER BY media_id""".stripMargin,
    "q236_kappa" ->
      """WITH b AS MATERIALIZED (SELECT event_type AS r1,
        |  CASE WHEN event_id % 10 < 7 THEN event_type
        |    ELSE reverse(event_type) END AS r2
        | FROM events),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT) AS agree
        | FROM b),
        |m1 AS (SELECT r1 AS c, CAST(count(*) AS BIGINT) AS m1 FROM b GROUP BY r1),
        |m2 AS (SELECT r2 AS c, CAST(count(*) AS BIGINT) AS m2 FROM b GROUP BY r2),
        |x AS (SELECT CAST(coalesce(sum(m1.m1 * m2.m2), 0) AS BIGINT) AS mm
        | FROM m1 JOIN m2 USING (c))
        |SELECT n, agree AS n_agree, mm AS cross_marginal,
        |  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |  CAST(mm AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
        |  CAST(n * agree - mm AS DOUBLE) / CAST(n * n - mm AS DOUBLE) AS kappa
        |FROM a, x""".stripMargin,
    "q237_anova" ->
      """WITH b AS MATERIALIZED (SELECT event_type AS g,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |pg AS (SELECT g, CAST(count(*) AS HUGEINT) AS ng,
        |  CAST(sum(cents) AS HUGEINT) AS sg,
        |  CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS qg
        | FROM b GROUP BY g),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(ng) AS HUGEINT) AS n, CAST(sum(sg) AS HUGEINT) AS s,
        |  CAST(sum(qg) AS HUGEINT) AS q,
        |  list_sum(list(CAST(CAST(sg * sg AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(ng AS VARCHAR) AS DOUBLE) ORDER BY g)) AS sq
        | FROM pg)
        |SELECT k, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sum_x,
        |  CAST(CAST(q AS VARCHAR) AS DOUBLE) AS sum_x2,
        |  sq - CAST(CAST(s * s AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(n AS VARCHAR) AS DOUBLE) AS ss_between,
        |  CAST(CAST(q AS VARCHAR) AS DOUBLE) - sq AS ss_within,
        |  ((sq - CAST(CAST(s * s AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(n AS VARCHAR) AS DOUBLE)) /
        |    CAST(CAST(k - 1 AS VARCHAR) AS DOUBLE)) /
        |  ((CAST(CAST(q AS VARCHAR) AS DOUBLE) - sq) /
        |    CAST(CAST(CAST(n AS BIGINT) - k AS VARCHAR) AS DOUBLE)) AS f_stat
        |FROM f""".stripMargin,
    "q238_bh_fdr" ->
      """WITH p0 AS MATERIALIZED (SELECT doc_id,
        |  CASE WHEN doc_id % 50 = 0 THEN
        |    CAST(CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) AS DOUBLE)
        |      / 16777216.0 / 2000.0
        |  ELSE
        |    CAST(CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) AS DOUBLE)
        |      / 16777216.0
        |  END AS p
        | FROM documents),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p0),
        |r AS (SELECT doc_id, p,
        |  CAST(row_number() OVER (ORDER BY p, doc_id) AS INT) AS rank,
        |  p * CAST(m.m AS DOUBLE) * 100.0 <= 5.0 * CAST(
        |    row_number() OVER (ORDER BY p, doc_id) AS DOUBLE) AS ok
        | FROM p0, m),
        |c AS (SELECT max(CASE WHEN ok THEN rank END) AS cut FROM r)
        |SELECT doc_id, p, rank,
        |  (c.cut IS NOT NULL AND rank <= c.cut) AS rejected
        |FROM r, c ORDER BY doc_id""".stripMargin,
    "q239_jw_pairs" ->
      """WITH base AS MATERIALIZED (SELECT p_partkey AS id,
        |  p_name || ' #' || CAST(p_partkey AS VARCHAR) AS nm
        | FROM part WHERE p_partkey % 20 = 0),
        |typo AS (SELECT id + 10000000 AS id,
        |  substr(nm, 1, 1) || substr(nm, 3, 1) || substr(nm, 2, 1) ||
        |    substr(nm, 4) AS nm
        | FROM base WHERE id % 3 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM typo),
        |s AS (SELECT id, nm, lower(substr(nm, 1, 1)) AS blk,
        |  length(nm) AS len FROM u)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  jaro_winkler_similarity(a.nm, b.nm) AS jw
        |FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id
        |  AND abs(a.len - b.len) <= 4
        |WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "q240_debounce" -> debounceOracle,
    // the streaming twin accumulates the identical survivor set
    "q300_debounce_stream_replay" -> debounceOracle,
    "q241_js_tokens" ->
      """WITH toks AS (SELECT doc_id % 2 = 0 AS a,
        |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) AS token
        | FROM documents),
        |c AS (SELECT token,
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS c_b
        | FROM toks GROUP BY token),
        |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS na,
        |  CAST(sum(c_b) AS BIGINT) AS nb FROM c),
        |d AS (SELECT token, c_a, c_b,
        |  CAST(c_a AS DOUBLE) / CAST(na AS DOUBLE) AS p,
        |  CAST(c_b AS DOUBLE) / CAST(nb AS DOUBLE) AS q
        | FROM c, tot)
        |SELECT token, c_a, c_b,
        |  CASE WHEN c_a > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END AS d_a,
        |  CASE WHEN c_b > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0.0 END AS d_b
        |FROM d ORDER BY token""".stripMargin,
    "q242_fleiss" ->
      """WITH r AS MATERIALIZED (SELECT doc_id,
        |  CASE WHEN (doc_id + u.t * 7) % 5 < 3
        |    THEN 'c' || CAST(doc_id % 4 AS VARCHAR)
        |    ELSE 'c' || CAST((doc_id + u.t) % 4 AS VARCHAR) END AS cat
        | FROM documents CROSS JOIN range(0, 3) AS u(t)),
        |nij AS (SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS n
        | FROM r GROUP BY doc_id, cat),
        |it AS (SELECT CAST(sum(n) AS BIGINT) AS t,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS items,
        |  CAST(sum(n * n) AS BIGINT) AS s2 FROM nij),
        |ca AS (SELECT CAST(coalesce(sum(cj * cj), 0) AS BIGINT) AS c2
        | FROM (SELECT cat, sum(n) AS cj FROM nij GROUP BY cat)),
        |f AS (SELECT items, t // items AS r, s2, c2,
        |  CAST(s2 - t AS DOUBLE) /
        |    CAST(t * ((t // items) - 1) AS DOUBLE) AS p_bar,
        |  CAST(c2 AS DOUBLE) / CAST(t * t AS DOUBLE) AS pe
        | FROM it, ca)
        |SELECT items AS n_items, r AS n_raters, s2, c2, p_bar, pe,
        |  (p_bar - pe) / (1.0 - pe) AS kappa FROM f""".stripMargin,
    "q243_kruskal" ->
      """WITH b AS MATERIALIZED (SELECT event_type AS g,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events),
        |ngv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS ngv
        | FROM b GROUP BY g, v),
        |cen AS (SELECT v, CAST(sum(ngv) AS BIGINT) AS t
        | FROM ngv GROUP BY v),
        |cum AS (SELECT v, t, coalesce(sum(t) OVER (ORDER BY v
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        | FROM cen),
        |pg AS (SELECT g, CAST(sum(ngv) AS BIGINT) AS ng,
        |  CAST(sum(CAST(ngv AS HUGEINT) * (2 * cum + t + 1)) AS HUGEINT)
        |    AS s2g
        | FROM ngv JOIN cum USING (v) GROUP BY g),
        |tie AS (SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS BIGINT)
        |    AS tie,
        |  CAST(sum(t) AS BIGINT) AS n FROM cen),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  list_sum(list(CAST(CAST(s2g * s2g AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(4 * CAST(ng AS HUGEINT) AS VARCHAR) AS DOUBLE)
        |    ORDER BY g)) AS sq
        | FROM pg),
        |h AS (SELECT k, n, tie,
        |  12.0 * sq / CAST(CAST(CAST(n AS HUGEINT) * (n + 1) AS VARCHAR)
        |    AS DOUBLE) - 3.0 * CAST(n + 1 AS DOUBLE) AS h
        | FROM f, tie)
        |SELECT k, n, tie AS tie_sum, h,
        |  h / (1.0 - CAST(tie AS DOUBLE) /
        |    CAST(CAST(CAST(n AS HUGEINT) * n * n - n AS VARCHAR)
        |      AS DOUBLE)) AS h_adj
        |FROM h""".stripMargin,
    "q244_calibration" ->
      """WITH s AS MATERIALIZED (SELECT
        |  CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) AS num,
        |  CASE WHEN CAST(('0x' || substr(md5(text), 7, 6)) AS BIGINT) <
        |    CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT)
        |    THEN 1 ELSE 0 END AS y
        | FROM documents),
        |b AS (SELECT least((num * 10) // 16777216, 9) AS bin,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(num) AS BIGINT) AS sum_num
        | FROM s GROUP BY 1)
        |SELECT bin, n, n_pos, sum_num,
        |  CAST(sum_num AS DOUBLE) / CAST(n * 16777216 AS DOUBLE)
        |    AS mean_pred,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) -
        |    CAST(sum_num AS DOUBLE) / CAST(n * 16777216 AS DOUBLE) AS gap
        |FROM b ORDER BY bin""".stripMargin,
    "q245_brier" ->
      """WITH s AS MATERIALIZED (SELECT
        |  CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) AS num,
        |  CASE WHEN CAST(('0x' || substr(md5(text), 7, 6)) AS BIGINT) <
        |    CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT)
        |    THEN 1 ELSE 0 END AS y
        | FROM documents),
        |b AS (SELECT least((num * 10) // 16777216, 9) AS bin,
        |  CAST(count(*) AS HUGEINT) AS nb, CAST(sum(y) AS HUGEINT) AS pb,
        |  CAST(sum(CAST(num AS HUGEINT)) AS HUGEINT) AS sb,
        |  CAST(sum(CAST(num AS HUGEINT) * num) AS HUGEINT) AS qb,
        |  CAST(sum(CAST(num AS HUGEINT) * y) AS HUGEINT) AS xb
        | FROM s GROUP BY 1),
        |tot AS (SELECT CAST(sum(nb) AS HUGEINT) AS n,
        |  CAST(sum(pb) AS HUGEINT) AS p, CAST(sum(qb) AS HUGEINT) AS q,
        |  CAST(sum(xb) AS HUGEINT) AS x FROM b),
        |f AS (SELECT
        |  list_sum(list(
        |    CAST(CAST((sb - 16777216 * pb) * (sb - 16777216 * pb)
        |      AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(nb * 16777216 * 16777216 AS VARCHAR) AS DOUBLE)
        |    ORDER BY bin)) AS relsum,
        |  list_sum(list(
        |    CAST(CAST((tot.n * pb - nb * tot.p) * (tot.n * pb - nb * tot.p)
        |      AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(nb * tot.n * tot.n AS VARCHAR) AS DOUBLE)
        |    ORDER BY bin)) AS ressum
        | FROM b, tot)
        |SELECT CAST(tot.n AS BIGINT) AS n,
        |  (CAST(CAST(tot.q AS VARCHAR) AS DOUBLE) -
        |    33554432.0 * CAST(CAST(tot.x AS VARCHAR) AS DOUBLE) +
        |    281474976710656.0 * CAST(CAST(tot.p AS VARCHAR) AS DOUBLE)) /
        |   CAST(CAST(tot.n * 16777216 * 16777216 AS VARCHAR) AS DOUBLE)
        |    AS brier,
        |  f.relsum / CAST(CAST(tot.n AS VARCHAR) AS DOUBLE) AS reliability,
        |  f.ressum / CAST(CAST(tot.n AS VARCHAR) AS DOUBLE) AS resolution,
        |  CAST(CAST(tot.p * (tot.n - tot.p) AS VARCHAR) AS DOUBLE) /
        |   CAST(CAST(tot.n * tot.n AS VARCHAR) AS DOUBLE) AS uncertainty
        |FROM tot, f""".stripMargin,
    "q246_acf" -> acfOracle(7),
    "q247_msf" ->
      """WITH n AS MATERIALIZED (SELECT DISTINCT o_orderkey % 200 AS i
        | FROM orders),
        |e AS MATERIALIZED (SELECT
        |  least(i, CASE WHEN i % 8 = 7 THEN i - 7 ELSE i + 1 END) AS u,
        |  greatest(i, CASE WHEN i % 8 = 7 THEN i - 7 ELSE i + 1 END)
        |    AS v,
        |  ((i * 7919) % 104729) * 1000 + i AS w,
        |  i // 8 AS cyc
        | FROM n),
        |r AS (SELECT u, v, w,
        |  row_number() OVER (PARTITION BY cyc ORDER BY w DESC) AS rn
        | FROM e)
        |SELECT u, v, w FROM r WHERE rn > 1 ORDER BY u, v""".stripMargin,
    "q248_densest" -> densestOracle(8),
    "q249_stationary" -> stationaryOracle(6),
    "q250_naive_bayes" ->
      """WITH tr AS MATERIALIZED (SELECT source AS label, text
        | FROM documents WHERE doc_id % 2 = 0),
        |te AS MATERIALIZED (SELECT doc_id AS id, text
        | FROM documents WHERE doc_id % 2 = 1),
        |trt AS (SELECT label,
        |  unnest(list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '')) AS token
        | FROM tr),
        |counts AS MATERIALIZED (SELECT label, token,
        |  CAST(count(*) AS BIGINT) AS n FROM trt GROUP BY label, token),
        |ct AS (SELECT label, CAST(sum(n) AS BIGINT) AS t_c
        | FROM counts GROUP BY label),
        |pri AS (SELECT label, CAST(count(*) AS BIGINT) AS n_docs
        | FROM tr GROUP BY label),
        |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
        |voc AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
        | FROM counts),
        |cls AS (SELECT ct.label, ct.t_c, voc.v,
        |  ln(CAST(pri.n_docs AS DOUBLE) / CAST(ntr.n AS DOUBLE))
        |    AS prior_ln
        | FROM ct JOIN pri USING (label), ntr, voc),
        |tet AS (SELECT id, token, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT id, unnest(list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '')) AS token FROM te)
        | GROUP BY id, token),
        |terms AS (SELECT t.id, c.label, c.prior_ln, t.token,
        |  CAST(t.cnt AS DOUBLE) *
        |    ln(CAST(coalesce(k.n, 0) + 1 AS DOUBLE) /
        |      CAST(c.t_c + c.v AS DOUBLE)) AS term
        | FROM tet t CROSS JOIN cls c
        | LEFT JOIN counts k ON k.label = c.label AND k.token = t.token),
        |folded AS (SELECT id, label,
        |  any_value(prior_ln) +
        |    list_reduce(list(term ORDER BY token),
        |      (x, y) -> x + y) AS score
        | FROM terms GROUP BY id, label),
        |allsc AS (SELECT i.id, c.label,
        |  coalesce(f.score, c.prior_ln) AS score
        | FROM (SELECT DISTINCT id FROM te) i CROSS JOIN cls c
        | LEFT JOIN folded f ON f.id = i.id AND f.label = c.label)
        |SELECT id, label AS pred FROM (
        | SELECT id, label, score, row_number() OVER (PARTITION BY id
        |  ORDER BY score DESC, label) AS rn FROM allsc)
        |WHERE rn = 1 ORDER BY id""".stripMargin,
    "q251_cm_bound" ->
      """WITH keyed AS (
        | SELECT CASE WHEN doc_id % 3 = 0 THEN 'HOT'
        |  ELSE 'doc_' || CAST(doc_id AS VARCHAR) END AS item
        | FROM documents)
        |SELECT item, CAST(count(*) AS BIGINT) AS true_n,
        |  TRUE AS lower_ok, TRUE AS slack_ok
        |FROM keyed GROUP BY item ORDER BY item""".stripMargin,
    "q253_cramers_v" ->
      """WITH b AS MATERIALIZED (SELECT event_type AS r,
        |  CAST(user_id % 5 AS VARCHAR) AS c FROM events),
        |cells AS MATERIALIZED (SELECT r, c, CAST(count(*) AS BIGINT)
        |    AS obs
        | FROM b GROUP BY r, c),
        |rt AS (SELECT r, CAST(sum(obs) AS BIGINT) AS row_tot
        | FROM cells GROUP BY r),
        |cl AS (SELECT c, CAST(sum(obs) AS BIGINT) AS col_tot
        | FROM cells GROUP BY c),
        |g AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
        |grid AS (SELECT rt.r, cl.c, rt.row_tot, cl.col_tot,
        |  coalesce(cells.obs, 0) AS obs
        | FROM rt CROSS JOIN cl LEFT JOIN cells USING (r, c)),
        |k AS (SELECT grid.r, grid.c,
        |  CAST(CAST(
        |    (CAST(obs AS HUGEINT) * g.n - CAST(row_tot AS HUGEINT)
        |      * col_tot) *
        |    (CAST(obs AS HUGEINT) * g.n - CAST(row_tot AS HUGEINT)
        |      * col_tot) AS VARCHAR) AS DOUBLE) /
        |  CAST(CAST(CAST(row_tot AS HUGEINT) * col_tot * g.n AS VARCHAR)
        |    AS DOUBLE) AS contrib
        | FROM grid, g),
        |f AS (SELECT CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
        |  list_reduce(list(contrib ORDER BY r, c), (x, y) -> x + y)
        |    AS chi2
        | FROM k)
        |SELECT g.n, f.n_rows, f.n_cols, f.chi2,
        |  sqrt(f.chi2 / CAST(g.n * (least(f.n_rows, f.n_cols) - 1)
        |    AS DOUBLE)) AS v
        |FROM f, g""".stripMargin,
    "q254_kendall" ->
      """WITH b AS MATERIALIZED (SELECT
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000
        |    AS x,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 7 AS y
        | FROM events),
        |cen AS MATERIALIZED (SELECT x, y, CAST(count(*) AS HUGEINT)
        |    AS cnt
        | FROM b GROUP BY x, y),
        |cd AS (SELECT
        |  CAST(coalesce(sum(CASE WHEN a.y < c.y THEN a.cnt * c.cnt END),
        |    0) AS HUGEINT) AS cc,
        |  CAST(coalesce(sum(CASE WHEN a.y > c.y THEN a.cnt * c.cnt END),
        |    0) AS HUGEINT) AS dd
        | FROM cen a JOIN cen c ON a.x < c.x),
        |tx AS (SELECT CAST(coalesce(sum(nx * (nx - 1)), 0) AS HUGEINT)
        |    AS tx2
        | FROM (SELECT CAST(sum(cnt) AS HUGEINT) AS nx FROM cen
        |  GROUP BY x)),
        |ty AS (SELECT CAST(coalesce(sum(ny * (ny - 1)), 0) AS HUGEINT)
        |    AS ty2
        | FROM (SELECT CAST(sum(cnt) AS HUGEINT) AS ny FROM cen
        |  GROUP BY y)),
        |tot AS (SELECT CAST(sum(cnt) AS HUGEINT) AS n FROM cen)
        |SELECT CAST(n AS BIGINT) AS n, CAST(cc AS BIGINT) AS concordant,
        |  CAST(dd AS BIGINT) AS discordant,
        |  CAST(tx2 // 2 AS BIGINT) AS tie_x,
        |  CAST(ty2 // 2 AS BIGINT) AS tie_y,
        |  2.0 * CAST(CAST(cc - dd AS VARCHAR) AS DOUBLE) /
        |   sqrt(CAST(CAST((n * (n - 1) - tx2) * (n * (n - 1) - ty2)
        |     AS VARCHAR) AS DOUBLE)) AS tau_b
        |FROM cd, tx, ty, tot""".stripMargin,
    "q255_search_eval" ->
      """WITH qs AS (SELECT u.qi FROM range(0, 5) AS u(qi)),
        |pairs AS MATERIALIZED (SELECT 'q' || CAST(qi AS VARCHAR)
        |    AS query, doc_id, qi
        | FROM documents CROSS JOIN qs),
        |res AS (SELECT query, doc_id,
        |  row_number() OVER (PARTITION BY query ORDER BY
        |   md5(CAST(qi AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)),
        |   doc_id) AS rank
        | FROM pairs),
        |topk AS (SELECT query, doc_id, rank FROM res WHERE rank <= 10),
        |rel AS (SELECT DISTINCT query, doc_id FROM pairs
        | WHERE (doc_id + qi) % 3 = 0),
        |rc AS (SELECT query, CAST(count(*) AS BIGINT) AS n_rel
        | FROM rel GROUP BY query),
        |h AS (SELECT t.query, CAST(count(*) AS BIGINT) AS hits,
        |  CAST(min(t.rank) AS BIGINT) AS first_hit
        | FROM topk t JOIN rel USING (query, doc_id) GROUP BY t.query)
        |SELECT rc.query, rc.n_rel, coalesce(h.hits, 0) AS hits,
        |  CAST(coalesce(h.hits, 0) AS DOUBLE) / 10.0 AS p_at_k,
        |  CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(rc.n_rel AS DOUBLE)
        |    AS recall_at_k,
        |  coalesce(1.0 / CAST(h.first_hit AS DOUBLE), 0.0) AS rr
        |FROM rc LEFT JOIN h USING (query)
        |ORDER BY query""".stripMargin,
    "q256_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 IN (0, 1)
        |   THEN 'https://example.com/p/' || CAST(doc_id % 100 AS VARCHAR)
        |   ELSE 'https://example.com/p/' || CAST(doc_id % 100 AS VARCHAR)
        |    || '?a=1&b=2' END AS canonical_url
        | FROM documents)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_dups,
        |  min(doc_id) AS survivor_id
        |FROM u GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin,
    "q260_image_dhash" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, rpad(text, 144, 'x') AS s
        | FROM documents),
        |cells AS (SELECT doc_id, r.r, c.c,
        |  (ord(substr(s, r.r * 18 + 2 * c.c + 1, 1)) +
        |   ord(substr(s, r.r * 18 + 2 * c.c + 2, 1))) // 2 AS m
        | FROM t, generate_series(0, 7) r(r), generate_series(0, 8) c(c)),
        |bits AS (SELECT a.doc_id, a.r,
        |  CAST(sum(CASE WHEN a.m < b.m THEN 1 << a.c ELSE 0 END) AS INT)
        |    AS byte
        | FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.r = a.r
        |  AND b.c = a.c + 1
        | WHERE a.c < 8 GROUP BY a.doc_id, a.r)
        |SELECT doc_id AS media_id,
        |  string_agg(printf('%02x', byte), '' ORDER BY r) AS dhash
        |FROM bits GROUP BY doc_id ORDER BY media_id""".stripMargin,
    // q320: same text-derived 18x8 grid as q260, decoded from the GIF
    // container via the generic dHash path; PNG-equality rides require()
    "q320_dhash_cross" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, rpad(text, 144, 'x') AS s
        | FROM documents),
        |cells AS (SELECT doc_id, r.r, c.c,
        |  (ord(substr(s, r.r * 18 + 2 * c.c + 1, 1)) +
        |   ord(substr(s, r.r * 18 + 2 * c.c + 2, 1))) // 2 AS m
        | FROM t, generate_series(0, 7) r(r), generate_series(0, 8) c(c)),
        |bits AS (SELECT a.doc_id, a.r,
        |  CAST(sum(CASE WHEN a.m < b.m THEN 1 << a.c ELSE 0 END) AS INT)
        |    AS byte
        | FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.r = a.r
        |  AND b.c = a.c + 1
        | WHERE a.c < 8 GROUP BY a.doc_id, a.r)
        |SELECT doc_id AS media_id,
        |  string_agg(printf('%02x', byte), '' ORDER BY r) AS dhash
        |FROM bits GROUP BY doc_id ORDER BY media_id""".stripMargin,
    // q321: distributed-vs-driver-local quantizer training — the
    // bit-equality and bounded-top determinism assertions ride
    // require(); same exact baseline as the rest of the ANN family
    "q321_hier_train_distributed" -> recallBaselineOracle,
    "q261_theil_sen" ->
      """WITH d AS MATERIALIZED (SELECT
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS i,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS x
        | FROM events GROUP BY 1),
        |sl AS (SELECT a.i AS ia, b.i AS ib,
        |  CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS s
        | FROM d a JOIN d b ON a.i < b.i),
        |rs AS (SELECT s, row_number() OVER (ORDER BY s, ia, ib) AS r,
        |  CAST(count(*) OVER () AS BIGINT) AS n FROM sl),
        |sm AS (SELECT n AS n_slopes, s AS slope FROM rs
        | WHERE r = (n + 1) // 2),
        |iv AS (SELECT d.i,
        |  CAST(d.x AS DOUBLE) - sm.slope * CAST(d.i AS DOUBLE) AS v,
        |  sm.n_slopes, sm.slope
        | FROM d, sm),
        |ri AS (SELECT *, row_number() OVER (ORDER BY v, i) AS r,
        |  CAST(count(*) OVER () AS BIGINT) AS nn FROM iv)
        |SELECT nn AS n, n_slopes, slope, v AS intercept FROM ri
        |WHERE r = (nn + 1) // 2""".stripMargin,
    "q262_segmented_ttr" ->
      """WITH toks AS MATERIALIZED (SELECT doc_id AS id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS tk
        | FROM documents),
        |pos AS (SELECT id, (u.i - 1) // 10 AS blk, u.token AS token
        | FROM (SELECT id, unnest(list_transform(tk,
        |   (x, i) -> {'token': x, 'i': i})) AS u FROM toks)),
        |blocks AS (SELECT id, blk, CAST(count(DISTINCT token) AS BIGINT)
        |    AS d
        | FROM pos GROUP BY id, blk HAVING count(*) = 10),
        |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(d) AS BIGINT) AS sum_distinct FROM blocks GROUP BY id)
        |SELECT d0.doc_id AS id, coalesce(a.n_blocks, 0) AS n_blocks,
        |  coalesce(a.sum_distinct, 0) AS sum_distinct,
        |  CAST(a.sum_distinct AS DOUBLE) / CAST(a.n_blocks * 10 AS DOUBLE)
        |    AS ttr
        |FROM documents d0 LEFT JOIN agg a ON a.id = d0.doc_id
        |ORDER BY id""".stripMargin,
    "q257_interval_union" ->
      """WITH iv AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS s0,
        |  epoch_us(ts) + (event_id % 1000 + 1) * 100000 AS e0, event_id
        | FROM events),
        |m AS (SELECT user_id, s0, e0,
        |  max(e0) OVER (PARTITION BY user_id ORDER BY s0, e0, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM iv)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(greatest(0, e0 - greatest(s0, coalesce(pm, s0))))
        |    AS BIGINT) AS covered_us
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q258_session_ngrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, event_id, event_type, us,
        |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) IS NULL
        |   OR us - lag(us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) > 1800000000 THEN 1 ELSE 0 END AS nw
        | FROM e),
        |s AS (SELECT user_id, event_id, event_type, us,
        |  sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    AS sess
        | FROM g),
        |gr AS (SELECT
        |  event_type || '>' ||
        |   lead(event_type, 1) OVER (PARTITION BY user_id, sess
        |     ORDER BY us, event_id) || '>' ||
        |   lead(event_type, 2) OVER (PARTITION BY user_id, sess
        |     ORDER BY us, event_id) AS ngram,
        |  lead(event_type, 2) OVER (PARTITION BY user_id, sess
        |    ORDER BY us, event_id) AS last2
        | FROM s),
        |c AS (SELECT ngram, CAST(count(*) AS BIGINT) AS n FROM gr
        | WHERE last2 IS NOT NULL GROUP BY ngram),
        |r AS (SELECT ngram, n, CAST(row_number() OVER (
        |  ORDER BY n DESC, ngram) AS INT) AS rank FROM c)
        |SELECT ngram, n, rank FROM r WHERE rank <= 20
        |ORDER BY rank""".stripMargin,
    "q259_mann_kendall" ->
      """WITH b AS MATERIALIZED (SELECT CAST(ts AS DATE) AS i,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS x
        | FROM events GROUP BY 1),
        |sgn AS (SELECT CAST(coalesce(sum(CASE WHEN b2.x > b1.x THEN 1
        |   WHEN b2.x < b1.x THEN -1 ELSE 0 END), 0) AS BIGINT) AS s
        | FROM b b1 JOIN b b2 ON b1.i < b2.i),
        |tt AS (SELECT CAST(coalesce(sum(t * (t - 1) * (t * 2 + 5)), 0)
        |    AS HUGEINT) AS tt
        | FROM (SELECT CAST(count(*) AS HUGEINT) AS t FROM b GROUP BY x)),
        |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM b),
        |v AS (SELECT CAST(n * (n - 1) * (n * 2 + 5) - tt AS HUGEINT)
        |    AS var18
        | FROM nn, tt)
        |SELECT CAST(nn.n AS BIGINT) AS n, sgn.s,
        |  CAST(v.var18 AS BIGINT) AS var18,
        |  CASE WHEN sgn.s > 0 THEN CAST(sgn.s - 1 AS DOUBLE) /
        |    sqrt(CAST(CAST(v.var18 AS VARCHAR) AS DOUBLE) / 18.0)
        |   WHEN sgn.s < 0 THEN CAST(sgn.s + 1 AS DOUBLE) /
        |    sqrt(CAST(CAST(v.var18 AS VARCHAR) AS DOUBLE) / 18.0)
        |   ELSE 0.0 END AS z
        |FROM sgn, nn, v""".stripMargin,
    "q263_mcnemar" ->
      """WITH s AS MATERIALIZED (SELECT user_id, CAST(ts AS DATE) AS day,
        |  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        | FROM events GROUP BY 1, 2),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS db,
        |  CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS dc
        | FROM s)
        |SELECT n, db AS b, dc AS c,
        |  CASE WHEN db + dc > 0 THEN
        |    CAST((db - dc) * (db - dc) AS DOUBLE) /
        |      CAST(db + dc AS DOUBLE) END AS chi2,
        |  CASE WHEN db + dc > 0 THEN
        |    CAST((abs(db - dc) - 1) * (abs(db - dc) - 1) AS DOUBLE) /
        |      CAST(db + dc AS DOUBLE) END AS chi2_cc
        |FROM d""".stripMargin,
    "q264_wilcoxon" ->
      """WITH p AS MATERIALIZED (SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS x,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS y
        | FROM events GROUP BY 1),
        |d AS (SELECT x - y AS d FROM p WHERE x <> y),
        |cen AS (SELECT abs(d) AS v, CAST(count(*) AS BIGINT) AS t,
        |  CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
        | FROM d GROUP BY 1),
        |cum AS (SELECT v, t, tp, coalesce(sum(t) OVER (ORDER BY v
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        | FROM cen),
        |f AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |  CAST(sum(CAST(tp AS HUGEINT) * (2 * cum + t + 1)) AS HUGEINT)
        |    AS w2p,
        |  CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tie
        | FROM cum)
        |SELECT n, CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
        |  CAST(CAST(n AS HUGEINT) * (n + 1) - w2p AS DOUBLE) / 2.0
        |    AS w_minus,
        |  CAST(2 * w2p - CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) /
        |   (2.0 * sqrt(CAST(CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1)
        |      * 2 - tie AS DOUBLE) / 12.0)) AS z
        |FROM f""".stripMargin,
    "q265_friedman" ->
      """WITH base AS MATERIALIZED (SELECT CAST(user_id AS VARCHAR)
        |    AS blk, event_type AS trt, CAST(count(*) AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |ok AS (SELECT blk FROM base GROUP BY blk HAVING count(*) = 5),
        |b2 AS (SELECT base.* FROM base JOIN ok USING (blk)),
        |cen AS (SELECT blk, x, CAST(count(*) AS BIGINT) AS t
        | FROM b2 GROUP BY 1, 2),
        |cum AS (SELECT blk, x, t, coalesce(sum(t) OVER (
        |  PARTITION BY blk ORDER BY x
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        | FROM cen),
        |r AS (SELECT b2.trt, 2 * cum + t + 1 AS r2
        | FROM b2 JOIN cum ON b2.blk = cum.blk AND b2.x = cum.x),
        |pt AS (SELECT trt, CAST(sum(CAST(r2 AS HUGEINT)) AS HUGEINT)
        |    AS r2sum
        | FROM r GROUP BY trt),
        |shape AS (SELECT CAST(count(*) AS BIGINT) AS b FROM ok),
        |tie AS (SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * t * t - t),
        |    0) AS HUGEINT) AS tie FROM cen),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  list_sum(list(CAST(r2sum * r2sum AS DOUBLE) / 4.0
        |    ORDER BY trt)) AS sumsq
        | FROM pt),
        |h AS (SELECT shape.b, f.k, CAST(tie.tie AS BIGINT) AS tie_sum,
        |  12.0 * f.sumsq / CAST(shape.b * f.k * (f.k + 1) AS DOUBLE) -
        |    3.0 * CAST(shape.b * (f.k + 1) AS DOUBLE) AS chi2_f,
        |  CAST(tie.tie AS DOUBLE) /
        |    CAST(shape.b * (CAST(f.k AS HUGEINT) * f.k * f.k - f.k)
        |      AS DOUBLE) AS tfrac
        | FROM shape, tie, f)
        |SELECT b, k, tie_sum, chi2_f, chi2_f / (1.0 - tfrac)
        |  AS chi2_f_adj
        |FROM h""".stripMargin,
    // isotonic fit via the minimax identity: yhat_i = max_{j<=i}
    // min_{k>=i} mean(j..k) over positional prefix sums — O(n^3) on
    // the 30-day series, trivial at gate scale
    "q266_isotonic" ->
      """WITH b AS MATERIALIZED (SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS y
        | FROM events GROUP BY 1),
        |s AS MATERIALIZED (SELECT
        |  datediff('day', DATE '1970-01-01', day) AS i, y,
        |  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
        |  CAST(sum(y) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS p
        | FROM b),
        |mm AS (SELECT a.rn AS j, c.rn AS k,
        |  CAST(c.p - (a.p - a.y) AS DOUBLE) /
        |    CAST(c.rn - a.rn + 1 AS DOUBLE) AS m
        | FROM s a JOIN s c ON a.rn <= c.rn),
        |inn AS (SELECT s.rn AS pos, mm.j, min(mm.m) AS mn
        | FROM s JOIN mm ON mm.j <= s.rn AND mm.k >= s.rn
        | GROUP BY s.rn, mm.j),
        |fit AS (SELECT pos, max(mn) AS yhat FROM inn GROUP BY pos)
        |SELECT CAST(s.i AS BIGINT) AS i, s.y, fit.yhat
        |FROM s JOIN fit ON fit.pos = s.rn ORDER BY i""".stripMargin,
    // per-key isotonic: q266's minimax identity with every window/join
    // additionally keyed by user — O(n^3) per key on <=31-day series
    "q311_isotonic_by_key" ->
      """WITH b AS MATERIALIZED (SELECT user_id AS g, CAST(ts AS DATE) AS day,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS y
        | FROM events WHERE user_id < 40 GROUP BY 1, 2),
        |s AS MATERIALIZED (SELECT g,
        |  datediff('day', DATE '1970-01-01', day) AS i, y,
        |  CAST(row_number() OVER (PARTITION BY g ORDER BY day)
        |    AS BIGINT) AS rn,
        |  CAST(sum(y) OVER (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS p
        | FROM b),
        |mm AS (SELECT a.g, a.rn AS j, c.rn AS k,
        |  CAST(c.p - (a.p - a.y) AS DOUBLE) /
        |    CAST(c.rn - a.rn + 1 AS DOUBLE) AS m
        | FROM s a JOIN s c ON a.g = c.g AND a.rn <= c.rn),
        |inn AS (SELECT s.g, s.rn AS pos, mm.j, min(mm.m) AS mn
        | FROM s JOIN mm ON mm.g = s.g AND mm.j <= s.rn AND mm.k >= s.rn
        | GROUP BY s.g, s.rn, mm.j),
        |fit AS (SELECT g, pos, max(mn) AS yhat FROM inn GROUP BY g, pos)
        |SELECT CAST(s.g AS BIGINT) AS user_id, CAST(s.i AS BIGINT) AS i,
        | s.y, fit.yhat
        |FROM s JOIN fit ON fit.g = s.g AND fit.pos = s.rn
        |ORDER BY user_id, i""".stripMargin,
    // the survivor baseline: recallBaselineOracle with the tombstoned
    // ids excluded from the corpus side (queries keep the full draw)
    "q312_ann_tombstone_delete" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 25 = 0),
        |scored AS (
        | SELECT q.query_id, c.vec_id AS nbr_id,
        |  list_sum(list_transform(list_zip(q.qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM embeddings c CROSS JOIN q
        | WHERE c.vec_id <> q.query_id AND c.vec_id % 17 <> 3)
        |SELECT query_id, nbr_id, cos, rank FROM (
        | SELECT query_id, nbr_id, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        | FROM scored) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // sequential greedy matching as a 200-step recursive fold carrying
    // the matched-vertex and matched-edge lists
    "q267_matching" ->
      """WITH RECURSIVE n AS (SELECT DISTINCT o_orderkey % 200 AS i
        | FROM orders),
        |e0 AS (SELECT least(i, (i * 13 + 7) % 200) AS u,
        |  greatest(i, (i * 13 + 7) % 200) AS v,
        |  (i * 7919) % 104729 AS w
        | FROM n),
        |e AS MATERIALIZED (SELECT u, v, min(w) AS w
        | FROM e0 GROUP BY u, v),
        |r AS MATERIALIZED (SELECT u, v, w, CAST(row_number() OVER (
        |  ORDER BY w, u, v) AS BIGINT) AS rn FROM e),
        |g AS (
        | SELECT CAST(0 AS BIGINT) AS step,
        |   CAST([] AS BIGINT[]) AS mv, CAST([] AS BIGINT[]) AS me
        | UNION ALL
        | SELECT g.step + 1,
        |   CASE WHEN list_contains(g.mv, r.u) OR list_contains(g.mv, r.v)
        |     THEN g.mv
        |     ELSE list_append(list_append(g.mv, r.u), r.v) END,
        |   CASE WHEN list_contains(g.mv, r.u) OR list_contains(g.mv, r.v)
        |     THEN g.me ELSE list_append(g.me, r.rn) END
        | FROM g JOIN r ON r.rn = g.step + 1),
        |fin AS (SELECT me FROM g ORDER BY step DESC LIMIT 1)
        |SELECT r.u, r.v, r.w FROM r, fin
        |WHERE list_contains(fin.me, r.rn) ORDER BY u, v""".stripMargin,
    // Katz: 4 unrolled integer-numerator rounds, one final division
    "q268_katz" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey % 120 AS src,
        |  o_orderkey % 120 AS dst
        | FROM orders WHERE o_orderkey < 3000),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT src AS n FROM e UNION ALL SELECT dst FROM e)),
        |x1 AS (SELECT n, CAST(8 AS HUGEINT) AS v FROM nodes),
        |x2 AS (SELECT nodes.n, CAST(coalesce(s.sv, 0) + 64 AS HUGEINT)
        |    AS v
        | FROM nodes LEFT JOIN (SELECT e.dst AS n, sum(x1.v) AS sv
        |   FROM e JOIN x1 ON x1.n = e.src GROUP BY e.dst) s USING (n)),
        |x3 AS (SELECT nodes.n, CAST(coalesce(s.sv, 0) + 512 AS HUGEINT)
        |    AS v
        | FROM nodes LEFT JOIN (SELECT e.dst AS n, sum(x2.v) AS sv
        |   FROM e JOIN x2 ON x2.n = e.src GROUP BY e.dst) s USING (n)),
        |x4 AS (SELECT nodes.n, CAST(coalesce(s.sv, 0) + 4096 AS HUGEINT)
        |    AS v
        | FROM nodes LEFT JOIN (SELECT e.dst AS n, sum(x3.v) AS sv
        |   FROM e JOIN x3 ON x3.n = e.src GROUP BY e.dst) s USING (n))
        |SELECT n AS node, CAST(v AS BIGINT) AS katz_num,
        |  CAST(v AS DOUBLE) / 4096.0 AS katz
        |FROM x4 ORDER BY node""".stripMargin,
    "q269_twap" -> twapOracle,
    // the streaming twin's final per-key emit is the same exact chain
    "q299_twap_stream_replay" -> twapOracle,
    "q270_precedence" ->
      """WITH c AS MATERIALIZED (SELECT user_id AS k, event_type AS t,
        |  min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
        | FROM events GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS total
        | FROM c),
        |p AS (SELECT a.t AS ante, b.t AS cons,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM c a JOIN c b ON a.k = b.k AND a.t <> b.t AND a.f < b.l
        | GROUP BY 1, 2)
        |SELECT ante, cons, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS support
        |FROM p, tot ORDER BY ante, cons""".stripMargin,
    "q271_cochran_q" ->
      """WITH ev AS MATERIALIZED (SELECT user_id, CAST(ts AS DATE)
        |    AS day, event_type
        | FROM events),
        |types AS (SELECT DISTINCT event_type AS trt FROM ev),
        |blocks AS (SELECT DISTINCT user_id, day FROM ev),
        |obs AS (SELECT DISTINCT user_id, day, event_type AS trt
        | FROM ev),
        |f0 AS (SELECT b.user_id, b.day, t.trt,
        |  CASE WHEN o.trt IS NULL THEN 0 ELSE 1 END AS y
        | FROM blocks b CROSS JOIN types t LEFT JOIN obs o
        |   ON o.user_id = b.user_id AND o.day = b.day AND o.trt = t.trt),
        |rws AS (SELECT user_id, day, CAST(sum(y) AS BIGINT) AS ri
        | FROM f0 GROUP BY 1, 2),
        |bs AS (SELECT CAST(count(*) AS BIGINT) AS b,
        |  CAST(sum(ri) AS HUGEINT) AS n,
        |  CAST(sum(CAST(ri AS HUGEINT) * ri) AS HUGEINT) AS r2
        | FROM rws),
        |cs AS (SELECT trt, CAST(sum(y) AS HUGEINT) AS cj
        | FROM f0 GROUP BY trt),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(cj * cj) AS HUGEINT) AS c2 FROM cs)
        |SELECT bs.b, f.k, CAST(bs.n AS BIGINT) AS n,
        |  CASE WHEN f.k * bs.n - bs.r2 > 0 THEN
        |    CAST((f.k - 1) * (f.k * f.c2 - bs.n * bs.n) AS DOUBLE) /
        |      CAST(f.k * bs.n - bs.r2 AS DOUBLE) END AS q
        |FROM bs, f""".stripMargin,
    "q272_page_trend" ->
      """WITH base AS MATERIALIZED (SELECT CAST(user_id AS VARCHAR)
        |    AS blk, event_type AS trt, CAST(count(*) AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |ok AS (SELECT blk FROM base GROUP BY blk HAVING count(*) = 5),
        |b2 AS (SELECT base.* FROM base JOIN ok USING (blk)),
        |cen AS (SELECT blk, x, CAST(count(*) AS BIGINT) AS t
        | FROM b2 GROUP BY 1, 2),
        |cum AS (SELECT blk, x, t, coalesce(sum(t) OVER (
        |  PARTITION BY blk ORDER BY x
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        | FROM cen),
        |r AS (SELECT b2.trt, 2 * cum + t + 1 AS r2,
        |  CASE b2.trt WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |   WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
        |   WHEN 'view' THEN 5 END AS ord
        | FROM b2 JOIN cum ON b2.blk = cum.blk AND b2.x = cum.x),
        |pt AS (SELECT trt, CAST(sum(CAST(r2 AS HUGEINT) * ord)
        |    AS HUGEINT) AS l2j
        | FROM r GROUP BY trt),
        |shape AS (SELECT CAST(count(*) AS BIGINT) AS b FROM ok),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(l2j) AS HUGEINT) AS l2 FROM pt)
        |SELECT shape.b, f.k, CAST(f.l2 AS DOUBLE) / 2.0 AS l,
        |  CAST(2 * f.l2 - shape.b * f.k * (f.k + 1) * (f.k + 1)
        |    AS DOUBLE) /
        |   sqrt(CAST(shape.b * f.k * f.k * (f.k + 1) * (f.k + 1) *
        |     (f.k - 1) AS DOUBLE) / 9.0) AS z
        |FROM shape, f""".stripMargin,
    "q273_randomization" ->
      """WITH d AS MATERIALIZED (SELECT
        |  CAST(doc_id % 2 AS VARCHAR) AS g,
        |  CAST(length(text) AS BIGINT) AS v,
        |  CAST(doc_id AS VARCHAR) AS seed
        | FROM documents),
        |gr AS (SELECT
        |  CAST(sum(CASE WHEN g = '0' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |  CAST(sum(CASE WHEN g = '0' THEN v ELSE 0 END) AS HUGEINT)
        |    AS sa,
        |  CAST(sum(CASE WHEN g = '1' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |  CAST(sum(CASE WHEN g = '1' THEN v ELSE 0 END) AS HUGEINT)
        |    AS sb
        | FROM d),
        |rep AS (SELECT rr.r, d.v,
        |  CAST(('0x' || substr(md5(d.seed || ':' ||
        |    CAST(rr.r AS VARCHAR)), 1, 6)) AS BIGINT) AS num
        | FROM d CROSS JOIN (SELECT unnest(range(0, 100)) AS r) rr),
        |pr AS (SELECT rep.r,
        |  CAST(sum(CASE WHEN rep.num * (gr.na + gr.nb) <
        |    16777216 * gr.na THEN 1 ELSE 0 END) AS BIGINT) AS nar,
        |  CAST(sum(CASE WHEN rep.num * (gr.na + gr.nb) <
        |    16777216 * gr.na THEN 0 ELSE 1 END) AS BIGINT) AS nbr,
        |  CAST(sum(CASE WHEN rep.num * (gr.na + gr.nb) <
        |    16777216 * gr.na THEN rep.v ELSE 0 END) AS HUGEINT) AS sar,
        |  CAST(sum(CASE WHEN rep.num * (gr.na + gr.nb) <
        |    16777216 * gr.na THEN 0 ELSE rep.v END) AS HUGEINT) AS sbr
        | FROM rep, gr GROUP BY rep.r),
        |ext AS (SELECT CAST(sum(CASE
        |  WHEN nar = 0 OR nbr = 0 THEN 1
        |  WHEN abs(sar * nbr - sbr * nar) * (gr.na * gr.nb) >=
        |    abs(gr.sa * gr.nb - gr.sb * gr.na) * (nar * nbr) THEN 1
        |  ELSE 0 END) AS BIGINT) AS n_extreme
        | FROM pr, gr)
        |SELECT CAST(100 AS BIGINT) AS b, gr.na AS n_a, gr.nb AS n_b,
        |  CAST(gr.sa AS DOUBLE) / CAST(gr.na AS DOUBLE) -
        |    CAST(gr.sb AS DOUBLE) / CAST(gr.nb AS DOUBLE) AS obs_diff,
        |  ext.n_extreme,
        |  CAST(ext.n_extreme + 1 AS DOUBLE) / 101.0 AS p
        |FROM gr, ext""".stripMargin,
    "q274_precedence_triples" ->
      """WITH e AS MATERIALIZED (SELECT user_id AS k, event_type AS t,
        |  epoch_us(ts) AS us
        | FROM events),
        |c AS MATERIALIZED (SELECT k, t, min(us) AS f, max(us) AS l
        | FROM e GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS total
        | FROM c),
        |w AS (SELECT DISTINCT a.k, a.t AS ante, b.t AS mid,
        |  cc.t AS cons
        | FROM c a JOIN c cc ON a.k = cc.k AND a.t <> cc.t
        | JOIN e b ON b.k = a.k AND b.t <> a.t AND b.t <> cc.t
        |   AND b.us > a.f AND b.us < cc.l),
        |p AS (SELECT ante, mid, cons, CAST(count(*) AS BIGINT) AS n
        | FROM w GROUP BY 1, 2, 3)
        |SELECT ante, mid, cons, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS support
        |FROM p, tot ORDER BY ante, mid, cons""".stripMargin,
    "q275_nelson_aalen" ->
      """WITH RECURSIVE e AS MATERIALIZED (SELECT user_id AS u,
        |  event_type AS et, epoch_us(ts) AS us FROM events),
        |h AS (SELECT max(us) AS hz FROM e),
        |s AS MATERIALIZED (SELECT u, min(us) AS from_us FROM e
        | WHERE et = 'signup' GROUP BY u),
        |d AS MATERIALIZED (SELECT s.u, s.from_us, min(c.us) AS to_us
        | FROM s LEFT JOIN e c ON c.u = s.u AND c.et = 'purchase'
        |   AND c.us >= s.from_us
        | GROUP BY s.u, s.from_us),
        |dur AS (SELECT
        |  coalesce(to_us - from_us, (SELECT hz FROM h) - from_us) AS dur,
        |  to_us IS NOT NULL AS conv FROM d),
        |tm AS MATERIALIZED (SELECT dur AS t_us,
        |  CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_event,
        |  CAST(sum(CASE WHEN conv THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_censor
        | FROM dur GROUP BY 1),
        |rk AS MATERIALIZED (SELECT t_us, n_event, n_censor,
        |  CAST(sum(n_event + n_censor) OVER () -
        |    coalesce(sum(n_event + n_censor) OVER (ORDER BY t_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n_risk,
        |  CAST(row_number() OVER (ORDER BY t_us) AS BIGINT) AS i
        | FROM tm),
        |na(i, t_us, n_risk, n_event, n_censor, ch, vs) AS (
        | SELECT i, t_us, n_risk, n_event, n_censor,
        |  CAST(n_event AS DOUBLE) / CAST(n_risk AS DOUBLE),
        |  CAST(n_event AS DOUBLE) /
        |    (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))
        | FROM rk WHERE i = 1
        | UNION ALL
        | SELECT rk.i, rk.t_us, rk.n_risk, rk.n_event, rk.n_censor,
        |  na.ch + CAST(rk.n_event AS DOUBLE) / CAST(rk.n_risk AS DOUBLE),
        |  na.vs + CAST(rk.n_event AS DOUBLE) /
        |    (CAST(rk.n_risk AS DOUBLE) * CAST(rk.n_risk AS DOUBLE))
        | FROM na JOIN rk ON rk.i = na.i + 1)
        |SELECT t_us, n_risk, n_event, n_censor, ch AS cum_hazard,
        |  vs AS var_sum
        |FROM na ORDER BY t_us""".stripMargin,
    "q276_cuped" ->
      """WITH per AS MATERIALIZED (SELECT user_id,
        |  CAST(sum(CASE WHEN event_type IN ('view', 'click') THEN
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS x,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS y,
        |  CAST(user_id % 2 AS VARCHAR) AS g
        | FROM events GROUP BY user_id),
        |pg AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy
        | FROM per GROUP BY g),
        |pl AS (SELECT CAST(count(*) AS HUGEINT) AS np,
        |  CAST(sum(x) AS HUGEINT) AS sxp, CAST(sum(y) AS HUGEINT) AS syp,
        |  CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |  CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        | FROM per),
        |ab AS (SELECT min(g) AS ga, max(g) AS gb,
        |  min_by(struct_pack(n := n, sx := sx, sy := sy), g) AS a,
        |  max_by(struct_pack(n := n, sx := sx, sy := sy), g) AS b
        | FROM pg),
        |th AS (SELECT
        |  CAST(CAST(np * sxy - sxp * syp AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(np * sxx - sxp * sxp AS VARCHAR) AS DOUBLE)
        |    AS theta
        | FROM pl)
        |SELECT ab.ga AS group_a, ab.gb AS group_b,
        |  CAST(ab.a.n AS BIGINT) AS n_a, CAST(ab.b.n AS BIGINT) AS n_b,
        |  th.theta,
        |  CAST(ab.a.sy AS DOUBLE) / CAST(ab.a.n AS DOUBLE) -
        |    CAST(ab.b.sy AS DOUBLE) / CAST(ab.b.n AS DOUBLE) AS diff_raw,
        |  (CAST(ab.a.sy AS DOUBLE) / CAST(ab.a.n AS DOUBLE) -
        |    CAST(ab.b.sy AS DOUBLE) / CAST(ab.b.n AS DOUBLE)) -
        |   th.theta * (CAST(ab.a.sx AS DOUBLE) / CAST(ab.a.n AS DOUBLE) -
        |    CAST(ab.b.sx AS DOUBLE) / CAST(ab.b.n AS DOUBLE)) AS diff_adj
        |FROM ab, th""".stripMargin,
    "q277_hodges_lehmann" ->
      """WITH b AS MATERIALIZED (SELECT
        |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS i,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS y
        | FROM events GROUP BY 1),
        |p AS (SELECT a.i AS ia, c.i AS ib, a.y + c.y AS s2
        | FROM b a JOIN b c ON a.i <= c.i),
        |r AS (SELECT s2, CAST(row_number() OVER (ORDER BY s2, ia, ib)
        |    AS BIGINT) AS rr,
        |  CAST(count(*) OVER () AS BIGINT) AS np
        | FROM p)
        |SELECT np AS n_pairs, CAST(s2 AS DOUBLE) / 2.0 AS hl
        |FROM r WHERE rr = (np + 1) // 2""".stripMargin,
    // pairs via offset-indexed list access — linear in tokens*window,
    // never a positional self-join
    "q278_cooccurrence" -> cooccurrenceOracle,
    // the replay-guarded streaming ingest accumulates the same table
    "q298_cooccur_replay" -> cooccurrenceOracle,
    // q297: the oracle derives the fetched tuples from part directly —
    // equality proves the HTTP loop delivered exactly the derivable
    // results (failures as NULL placeholders included)
    "q297_fetch_http" ->
      """SELECT CAST(p_partkey AS BIGINT) AS key,
        |  CASE WHEN p_partkey % 97 = 0 THEN NULL
        |    ELSE 'SYM' || CAST(p_partkey AS VARCHAR) END AS sym,
        |  CASE WHEN p_partkey % 97 = 0 THEN NULL
        |    ELSE CAST(p_partkey % 7 AS BIGINT) END AS grp,
        |  p_partkey % 97 <> 0 AS ok
        |FROM part WHERE p_partkey < 400 ORDER BY key""".stripMargin,
    "q279_rake" ->
      """WITH d AS MATERIALIZED (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS lst
        | FROM documents),
        |t AS MATERIALIZED (SELECT doc_id, i, lst[i] AS w,
        |  lst[i] IN ('a', 'the', 'and', 'of', 'to') AS stop
        | FROM d, unnest(range(1, len(lst) + 1)) tt(i)),
        |ph AS (SELECT doc_id, i, w, stop,
        |  sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
        | FROM t),
        |np AS MATERIALIZED (SELECT doc_id, w, pid FROM ph
        | WHERE NOT stop),
        |pl AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS len
        | FROM np GROUP BY 1, 2),
        |ws AS (SELECT np.w AS word, CAST(count(*) AS BIGINT) AS freq,
        |  CAST(sum(pl.len) AS BIGINT) AS deg
        | FROM np JOIN pl ON pl.doc_id = np.doc_id AND pl.pid = np.pid
        | GROUP BY 1),
        |r AS (SELECT word, freq, deg,
        |  CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS score,
        |  CAST(row_number() OVER (ORDER BY
        |    CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) DESC, word)
        |    AS BIGINT) AS rank
        | FROM ws)
        |SELECT word, freq, deg, score, rank FROM r WHERE rank <= 30
        |ORDER BY rank""".stripMargin,
    "q280_runs_test" ->
      """WITH b AS MATERIALIZED (SELECT
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS i,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS v
        | FROM events GROUP BY 1),
        |m AS (SELECT v AS med FROM (SELECT v,
        |  row_number() OVER (ORDER BY v, i) AS r,
        |  CAST(count(*) OVER () AS BIGINT) AS n FROM b)
        | WHERE r = (n + 1) // 2),
        |s AS (SELECT i, v > med AS sg FROM b, m WHERE v <> med),
        |c AS (SELECT sg, CASE WHEN lag(sg) OVER (ORDER BY i) IS NULL
        |  OR sg <> lag(sg) OVER (ORDER BY i) THEN 1 ELSE 0 END AS chg
        | FROM s),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN sg THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN sg THEN 0 ELSE 1 END) AS BIGINT) AS n2,
        |  CAST(sum(chg) AS BIGINT) AS r FROM c)
        |SELECT n1, n2, r,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 THEN
        |   (CAST(r AS DOUBLE) -
        |      CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) -
        |      1.0) /
        |   sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2))
        |      AS DOUBLE) /
        |     CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE))
        |  END AS z
        |FROM a""".stripMargin,
    "q281_durbin_watson" ->
      """WITH b AS MATERIALIZED (SELECT
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS i,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS y
        | FROM events GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(i) AS HUGEINT) AS si, CAST(sum(y) AS HUGEINT) AS sy,
        |  CAST(sum(CAST(i AS HUGEINT) * i) AS HUGEINT) AS sii,
        |  CAST(sum(CAST(i AS HUGEINT) * y) AS HUGEINT) AS siy
        | FROM b),
        |e AS (SELECT b.i,
        |  (m.n * m.sii - m.si * m.si) * (m.n * b.y - m.sy) -
        |  (m.n * m.siy - m.si * m.sy) * (m.n * b.i - m.si) AS e
        | FROM b, m),
        |de AS (SELECT e, e - lag(e) OVER (ORDER BY i) AS d FROM e),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(e * e) AS HUGEINT) AS ss,
        |  CAST(sum(d * d) AS HUGEINT) AS sd FROM de)
        |SELECT n, CASE WHEN ss > 0 THEN
        |  CAST(CAST(sd AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(ss AS VARCHAR) AS DOUBLE) END AS dw
        |FROM a""".stripMargin,
    "q282_siegel" ->
      """WITH d AS MATERIALIZED (SELECT
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS i,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS x
        | FROM events GROUP BY 1),
        |sl AS (SELECT a.i AS ia, b.i AS ib,
        |  CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS s
        | FROM d a JOIN d b ON a.i <> b.i),
        |pp AS (SELECT ia, s AS m FROM (SELECT ia, ib, s,
        |  row_number() OVER (PARTITION BY ia ORDER BY s, ib) AS r,
        |  CAST(count(*) OVER (PARTITION BY ia) AS BIGINT) AS c
        | FROM sl) WHERE r = (c + 1) // 2),
        |sm AS (SELECT n, m AS slope FROM (SELECT ia, m,
        |  row_number() OVER (ORDER BY m, ia) AS r,
        |  CAST(count(*) OVER () AS BIGINT) AS n FROM pp)
        | WHERE r = (n + 1) // 2),
        |iv AS (SELECT d.i,
        |  CAST(d.x AS DOUBLE) - sm.slope * CAST(d.i AS DOUBLE) AS v,
        |  sm.n, sm.slope
        | FROM d, sm),
        |ri AS (SELECT *, row_number() OVER (ORDER BY v, i) AS r,
        |  CAST(count(*) OVER () AS BIGINT) AS nn FROM iv)
        |SELECT n, slope, v AS intercept FROM ri
        |WHERE r = (nn + 1) // 2""".stripMargin,
    "q283_jonckheere" ->
      """WITH base AS MATERIALIZED (SELECT event_type AS g,
        |  CAST(count(*) AS BIGINT) AS v
        | FROM events GROUP BY user_id, event_type),
        |cen AS MATERIALIZED (SELECT g, v,
        |  CAST(count(*) AS BIGINT) AS t,
        |  CASE g WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |   WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
        |   WHEN 'view' THEN 5 END AS ord
        | FROM base GROUP BY g, v),
        |sz AS (SELECT CAST(sum(ni) AS HUGEINT) AS nn,
        |  CAST(sum(CAST(ni AS HUGEINT) * ni) AS HUGEINT) AS sn2,
        |  CAST(sum(CAST(ni AS HUGEINT) * ni * (2 * ni + 3)) AS HUGEINT)
        |    AS sv
        | FROM (SELECT g, CAST(sum(t) AS BIGINT) AS ni FROM cen
        |   GROUP BY g)),
        |jt AS (SELECT CAST(coalesce(sum(CASE
        |   WHEN a.v < b.v THEN 2 * CAST(a.t AS HUGEINT) * b.t
        |   WHEN a.v = b.v THEN CAST(a.t AS HUGEINT) * b.t
        |   ELSE 0 END), 0) AS HUGEINT) AS jt2
        | FROM cen a JOIN cen b ON a.ord < b.ord)
        |SELECT CAST(sz.nn AS BIGINT) AS n,
        |  CAST(jt.jt2 AS DOUBLE) / 2.0 AS jt,
        |  CAST(2 * jt.jt2 - (sz.nn * sz.nn - sz.sn2) AS DOUBLE) /
        |   sqrt(CAST(2 * (sz.nn * sz.nn * (2 * sz.nn + 3) - sz.sv)
        |     AS DOUBLE) / 9.0) AS z
        |FROM jt, sz""".stripMargin,
    "q284_cliffs_delta" ->
      """WITH base AS MATERIALIZED (SELECT event_type AS g,
        |  CAST(count(*) AS BIGINT) AS v
        | FROM events WHERE event_type IN ('purchase', 'click')
        | GROUP BY user_id, event_type),
        |cen AS MATERIALIZED (SELECT g, v, CAST(count(*) AS BIGINT) AS t
        | FROM base GROUP BY g, v),
        |f AS (SELECT
        |  CAST(sum(CASE WHEN a.v > b.v THEN CAST(a.t AS HUGEINT) * b.t
        |    ELSE 0 END) AS HUGEINT) AS gt,
        |  CAST(sum(CASE WHEN a.v < b.v THEN CAST(a.t AS HUGEINT) * b.t
        |    ELSE 0 END) AS HUGEINT) AS lt,
        |  CAST(sum(CAST(a.t AS HUGEINT) * b.t) AS HUGEINT) AS nab
        | FROM cen a, cen b WHERE a.g = 'purchase' AND b.g = 'click')
        |SELECT CAST(gt AS BIGINT) AS gt, CAST(lt AS BIGINT) AS lt,
        |  CAST(nab AS BIGINT) AS n_pairs,
        |  CAST(gt - lt AS DOUBLE) / CAST(nab AS DOUBLE) AS delta
        |FROM f""".stripMargin,
    "q285_cohens_d" ->
      """WITH base AS MATERIALIZED (SELECT event_type AS g,
        |  CAST(count(*) AS BIGINT) AS v
        | FROM events WHERE event_type IN ('purchase', 'click')
        | GROUP BY user_id, event_type),
        |per AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(v) AS HUGEINT) AS s,
        |  CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
        | FROM base GROUP BY g),
        |ab AS (SELECT a.n AS na, a.s AS sa, a.q AS qa,
        |  b.n AS nb, b.s AS sb, b.q AS qb
        | FROM per a, per b WHERE a.g = 'purchase' AND b.g = 'click'),
        |f AS (SELECT na, nb,
        |  (CAST(sa * nb - sb * na AS DOUBLE) /
        |     CAST(na * nb AS DOUBLE)) /
        |   sqrt(CAST(nb * (na * qa - sa * sa) +
        |       na * (nb * qb - sb * sb) AS DOUBLE) /
        |     CAST(na * nb * (na + nb - 2) AS DOUBLE)) AS d
        | FROM ab)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, d,
        |  d * (1.0 - 3.0 / CAST(4 * (na + nb) - 9 AS DOUBLE)) AS g
        |FROM f""".stripMargin,
    "q286_t_closeness" ->
      """WITH b AS MATERIALIZED (SELECT c_nationkey, c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    // 100000 AS v
        | FROM customer),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        |g AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS gv
        | FROM b GROUP BY v),
        |cls AS MATERIALIZED (SELECT c_nationkey, c_mktsegment, v,
        |  CAST(count(*) AS BIGINT) AS cv
        | FROM b GROUP BY 1, 2, 3),
        |cs AS (SELECT c_nationkey, c_mktsegment,
        |  CAST(sum(cv) AS BIGINT) AS nc
        | FROM cls GROUP BY 1, 2),
        |pairs AS (SELECT cs.c_nationkey, cs.c_mktsegment, cs.nc,
        |  g.v, g.gv, coalesce(cls.cv, 0) AS cv
        | FROM cs CROSS JOIN g LEFT JOIN cls
        |   ON cls.c_nationkey = cs.c_nationkey
        |   AND cls.c_mktsegment = cs.c_mktsegment AND cls.v = g.v),
        |f AS (SELECT c_nationkey, c_mktsegment,
        |  CAST(max(nc) AS BIGINT) AS class_size,
        |  CAST(sum(abs(CAST(cv AS HUGEINT) * tot.n -
        |    CAST(gv AS HUGEINT) * nc)) AS HUGEINT) AS num
        | FROM pairs, tot GROUP BY 1, 2)
        |SELECT f.c_nationkey, f.c_mktsegment, f.class_size,
        |  CAST(f.num AS DOUBLE) /
        |    CAST(2 * CAST(f.class_size AS HUGEINT) * tot.n AS DOUBLE)
        |    AS tvd,
        |  f.num * 5 <= 2 * CAST(f.class_size AS HUGEINT) * tot.n
        |    AS t_close
        |FROM f, tot ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q287_closeness" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT o_custkey % 200 AS src,
        |  o_orderkey % 200 AS dst FROM orders WHERE o_orderkey < 2000),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seeds AS (SELECT node FROM nodes WHERE node % 20 = 0),
        |r(node, landmark, dist) AS (
        | SELECT node, node, 0 FROM seeds
        | UNION
        | SELECT e.dst, r.landmark, r.dist + 1
        | FROM r JOIN e ON e.src = r.node WHERE r.dist < 6),
        |d AS (SELECT node, landmark, min(dist) AS dist FROM r
        | GROUP BY node, landmark)
        |SELECT node, count(*) AS n_sources,
        |  CAST(sum(dist) AS BIGINT) AS dist_sum,
        |  CAST(count(*) AS DOUBLE) / CAST(sum(dist) AS DOUBLE)
        |    AS closeness
        |FROM d WHERE dist > 0 GROUP BY node ORDER BY node""".stripMargin,
    "q288_brown_forsythe" ->
      """WITH base AS MATERIALIZED (SELECT event_type AS g,
        |  CAST(count(*) AS BIGINT) AS v
        | FROM events GROUP BY user_id, event_type),
        |med AS (SELECT g, v AS med FROM (SELECT g, v,
        |  row_number() OVER (PARTITION BY g ORDER BY v) AS r,
        |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        | FROM base) WHERE r = (n + 1) // 2),
        |z AS (SELECT base.g, abs(base.v - med.med) AS z
        | FROM base JOIN med USING (g)),
        |pg AS (SELECT g, CAST(count(*) AS HUGEINT) AS ng,
        |  CAST(sum(z) AS HUGEINT) AS sg,
        |  CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS qg
        | FROM z GROUP BY g),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(ng) AS HUGEINT) AS n, CAST(sum(sg) AS HUGEINT) AS s,
        |  CAST(sum(qg) AS HUGEINT) AS q,
        |  list_sum(list(CAST(CAST(sg * sg AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(ng AS VARCHAR) AS DOUBLE) ORDER BY g)) AS sq
        | FROM pg)
        |SELECT k, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sum_x,
        |  CAST(CAST(q AS VARCHAR) AS DOUBLE) AS sum_x2,
        |  sq - CAST(CAST(s * s AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(n AS VARCHAR) AS DOUBLE) AS ss_between,
        |  CAST(CAST(q AS VARCHAR) AS DOUBLE) - sq AS ss_within,
        |  ((sq - CAST(CAST(s * s AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(n AS VARCHAR) AS DOUBLE)) /
        |    CAST(CAST(k - 1 AS VARCHAR) AS DOUBLE)) /
        |  ((CAST(CAST(q AS VARCHAR) AS DOUBLE) - sq) /
        |    CAST(CAST(CAST(n AS BIGINT) - k AS VARCHAR) AS DOUBLE))
        |    AS w
        |FROM f""".stripMargin,
    "q289_moods_median" ->
      """WITH base AS MATERIALIZED (SELECT event_type AS g,
        |  CAST(count(*) AS BIGINT) AS v
        | FROM events GROUP BY user_id, event_type),
        |med AS (SELECT v AS med FROM (SELECT v, g,
        |  row_number() OVER (ORDER BY v, g) AS r,
        |  CAST(count(*) OVER () AS BIGINT) AS n FROM base)
        | WHERE r = (n + 1) // 2),
        |per AS (SELECT g,
        |  CAST(sum(CASE WHEN v > med THEN 1 ELSE 0 END) AS HUGEINT)
        |    AS a,
        |  CAST(sum(CASE WHEN v < med THEN 1 ELSE 0 END) AS HUGEINT)
        |    AS b
        | FROM base, med WHERE v <> med GROUP BY g),
        |p2 AS (SELECT g, a, b, a + b AS ng FROM per),
        |tt AS (SELECT CAST(sum(a) AS HUGEINT) AS ta,
        |  CAST(sum(b) AS HUGEINT) AS tb,
        |  CAST(sum(ng) AS HUGEINT) AS tn FROM p2),
        |terms AS (SELECT g,
        |  CAST((a * tn - ng * ta) * (a * tn - ng * ta) AS DOUBLE) /
        |    CAST(ng * ta * tn AS DOUBLE) +
        |  CAST((b * tn - ng * tb) * (b * tn - ng * tb) AS DOUBLE) /
        |    CAST(ng * tb * tn AS DOUBLE) AS t
        | FROM p2, tt),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  list_sum(list(t ORDER BY g)) AS chi2 FROM terms)
        |SELECT f.k, CAST(tt.tn AS BIGINT) AS n,
        |  CAST(tt.ta AS BIGINT) AS n_above,
        |  CAST(tt.tb AS BIGINT) AS n_below,
        |  CASE WHEN tt.ta > 0 AND tt.tb > 0 THEN f.chi2 END AS chi2
        |FROM f, tt""".stripMargin,
    "q290_pettitt" ->
      """WITH b AS MATERIALIZED (SELECT
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS i,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS x
        | FROM events GROUP BY 1),
        |p AS (SELECT a.i AS ti, c.i AS tj,
        |  CASE WHEN a.x > c.x THEN 1 WHEN a.x < c.x THEN -1
        |   ELSE 0 END AS s
        | FROM b a JOIN b c ON a.i < c.i),
        |d AS (SELECT i, CAST(sum(s) AS BIGINT) AS ds FROM (
        |  SELECT ti AS i, s FROM p
        |  UNION ALL SELECT tj AS i, -s AS s FROM p) GROUP BY i),
        |u AS (SELECT b.i, CAST(sum(coalesce(d.ds, 0)) OVER (
        |  ORDER BY b.i ROWS BETWEEN UNBOUNDED PRECEDING AND
        |  CURRENT ROW) AS BIGINT) AS u
        | FROM b LEFT JOIN d ON d.i = b.i)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS n,
        |  abs(u) AS k_stat, i AS t_star, u AS u_at
        |FROM u ORDER BY abs(u) DESC, i LIMIT 1""".stripMargin,
    "q291_ljung_box" -> ljungBoxOracle(7),
    "q292_cronbach" ->
      """WITH base AS MATERIALIZED (SELECT CAST(user_id AS VARCHAR)
        |    AS blk, event_type AS trt, CAST(count(*) AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |ok AS (SELECT blk FROM base GROUP BY blk HAVING count(*) = 5),
        |b2 AS MATERIALIZED (SELECT base.* FROM base JOIN ok
        |  USING (blk)),
        |kk AS (SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k
        | FROM b2),
        |sub AS (SELECT blk, CAST(sum(x) AS HUGEINT) AS t FROM b2
        | GROUP BY blk),
        |sa AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(t) AS HUGEINT) AS s,
        |  CAST(sum(t * t) AS HUGEINT) AS q FROM sub),
        |it AS (SELECT trt, CAST(sum(x) AS HUGEINT) AS si,
        |  CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qi
        | FROM b2 GROUP BY trt),
        |nm AS (SELECT CAST(sum(sa.n * it.qi - it.si * it.si)
        |    AS HUGEINT) AS num
        | FROM it, sa)
        |SELECT CAST(sa.n AS BIGINT) AS n, kk.k,
        |  CAST(kk.k AS DOUBLE) / CAST(kk.k - 1 AS DOUBLE) *
        |   (1.0 - CAST(CAST(nm.num AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(sa.n * sa.q - sa.s * sa.s AS VARCHAR) AS DOUBLE))
        |   AS alpha
        |FROM sa, kk, nm""".stripMargin,
    "q293_icc" ->
      """WITH base AS MATERIALIZED (SELECT CAST(user_id AS VARCHAR)
        |    AS blk, event_type AS trt, CAST(count(*) AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |ok AS (SELECT blk FROM base GROUP BY blk HAVING count(*) = 5),
        |b2 AS MATERIALIZED (SELECT base.* FROM base JOIN ok
        |  USING (blk)),
        |kk AS (SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k
        | FROM b2),
        |sub AS (SELECT blk, CAST(sum(x) AS HUGEINT) AS t FROM b2
        | GROUP BY blk),
        |sa AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(t) AS HUGEINT) AS g,
        |  CAST(sum(t * t) AS HUGEINT) AS q FROM sub),
        |qx AS (SELECT CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT)
        |    AS qx FROM b2),
        |f AS (SELECT CAST(sa.n AS BIGINT) AS n, kk.k,
        |  CAST(CAST(sa.q AS VARCHAR) AS DOUBLE) /
        |    CAST(kk.k AS DOUBLE) -
        |   CAST(CAST(sa.g * sa.g AS VARCHAR) AS DOUBLE) /
        |    (CAST(CAST(sa.n AS VARCHAR) AS DOUBLE) *
        |     CAST(kk.k AS DOUBLE)) AS ssb,
        |  CAST(CAST(qx.qx AS VARCHAR) AS DOUBLE) -
        |   CAST(CAST(sa.q AS VARCHAR) AS DOUBLE) /
        |    CAST(kk.k AS DOUBLE) AS ssw
        | FROM sa, kk, qx)
        |SELECT n, k,
        |  ((ssb / CAST(n - 1 AS DOUBLE)) -
        |   (ssw / (CAST(n AS DOUBLE) * CAST(k - 1 AS DOUBLE)))) /
        |  ((ssb / CAST(n - 1 AS DOUBLE)) +
        |   CAST(k - 1 AS DOUBLE) *
        |   (ssw / (CAST(n AS DOUBLE) * CAST(k - 1 AS DOUBLE)))) AS icc
        |FROM f""".stripMargin,
    "q294_eff_diameter" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT o_custkey % 200 AS src,
        |  o_orderkey % 200 AS dst FROM orders WHERE o_orderkey < 2000),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seeds AS (SELECT node FROM nodes WHERE node % 20 = 0),
        |r(node, landmark, dist) AS (
        | SELECT node, node, 0 FROM seeds
        | UNION
        | SELECT e.dst, r.landmark, r.dist + 1
        | FROM r JOIN e ON e.src = r.node WHERE r.dist < 6),
        |d AS (SELECT node, landmark, min(dist) AS dist FROM r
        | GROUP BY node, landmark),
        |pos AS (SELECT dist FROM d WHERE dist > 0),
        |rr AS (SELECT dist, row_number() OVER (ORDER BY dist) AS r,
        |  CAST(count(*) OVER () AS BIGINT) AS n,
        |  CAST(sum(dist) OVER () AS BIGINT) AS s
        | FROM pos)
        |SELECT n AS n_pairs, CAST(dist AS INTEGER) AS eff_diameter,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_dist
        |FROM rr WHERE r = ((90 * (n - 1)) // 100) + 1""".stripMargin,
    "q295_burstiness" ->
      """WITH e AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS us,
        |  event_id FROM events),
        |g AS (SELECT user_id, us - lag(us) OVER (
        |  PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(sum(gap) AS HUGEINT) AS s,
        |  CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS q
        | FROM g WHERE gap IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_gaps, CAST(s AS BIGINT) AS gap_sum,
        |  CASE WHEN n_gaps > 1 AND s > 0 THEN
        |   (sqrt(CAST(CAST(n_gaps * q - s * s AS VARCHAR) AS DOUBLE)) -
        |     CAST(CAST(s AS VARCHAR) AS DOUBLE)) /
        |   (sqrt(CAST(CAST(n_gaps * q - s * s AS VARCHAR) AS DOUBLE)) +
        |     CAST(CAST(s AS VARCHAR) AS DOUBLE))
        |  END AS b
        |FROM a ORDER BY user_id""".stripMargin,
    "q252_temp_mix" ->
      """WITH d AS (SELECT source AS domain,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')) AS BIGINT) AS ntok
        | FROM documents),
        |pd AS (SELECT domain, CAST(sum(ntok) AS BIGINT) AS tokens,
        |  sqrt(CAST(sum(ntok) AS DOUBLE)) AS w
        | FROM d GROUP BY domain),
        |tot AS (SELECT list_sum(list(w ORDER BY domain)) AS wsum FROM pd)
        |SELECT domain, tokens, w, w / wsum AS share,
        |  CAST(floor(1000000.0 * w / wsum) AS BIGINT) AS alloc_tokens
        |FROM pd, tot ORDER BY domain""".stripMargin,
    // butterflies: each co-occurrence pair sharing w right nodes closes
    // C(w, 2) 4-cycles; per-node counts sum over the pair's endpoints
    "q138_butterflies" ->
      """WITH bip AS (SELECT DISTINCT o.o_custkey AS cust,
        |  l.l_partkey % 1000 AS part
        | FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        | WHERE l.l_orderkey < 2000),
        |pw AS (SELECT a.cust AS l1, b.cust AS l2, count(*) AS w
        | FROM bip a JOIN bip b ON a.part = b.part AND a.cust < b.cust
        | GROUP BY a.cust, b.cust),
        |bf AS (SELECT l1, l2, (w * (w - 1)) // 2 AS bf FROM pw
        | WHERE w >= 2)
        |SELECT node, CAST(sum(bf) AS BIGINT) AS n_butterflies FROM (
        | SELECT l1 AS node, bf FROM bf
        | UNION ALL SELECT l2, bf FROM bf)
        |GROUP BY node ORDER BY node""".stripMargin,
    "q139_textrank" -> textRankOracle(5),
    "q140_reciprocity" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey % 200 AS src,
        |  o_orderkey % 200 AS dst FROM orders
        | WHERE o_orderkey < 2000 AND o_custkey % 200 <> o_orderkey % 200)
        |SELECT count(*) AS n_edges, count(r.src) AS n_recip,
        |  CAST(count(r.src) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS reciprocity
        |FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src"""
        .stripMargin,
    "q141_assortativity" ->
      """WITH und AS MATERIALIZED (SELECT DISTINCT
        |  least(o_custkey % 200, o_orderkey % 200) AS u,
        |  greatest(o_custkey % 200, o_orderkey % 200) AS v
        | FROM orders
        | WHERE o_orderkey < 2000 AND o_custkey % 200 <> o_orderkey % 200),
        |deg AS MATERIALIZED (SELECT node, count(*) AS d FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        | GROUP BY node),
        |bo AS MATERIALIZED (SELECT u, v FROM und
        | UNION ALL SELECT v, u FROM und),
        |s AS MATERIALIZED (SELECT count(*) AS m,
        |  CAST(sum(dx.d) AS BIGINT) AS sx,
        |  CAST(sum(dy.d) AS BIGINT) AS sy,
        |  CAST(sum(dx.d * dy.d) AS BIGINT) AS sxy,
        |  CAST(sum(dx.d * dx.d) AS BIGINT) AS sxx,
        |  CAST(sum(dy.d * dy.d) AS BIGINT) AS syy
        | FROM bo JOIN deg dx ON dx.node = bo.u
        | JOIN deg dy ON dy.node = bo.v)
        |SELECT m AS n_samples, sxy AS s_xy,
        |  CAST(m * sxy - sx * sy AS DOUBLE) /
        |  (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
        |   sqrt(CAST(m * syy - sy * sy AS DOUBLE))) AS assortativity
        |FROM s""".stripMargin,
    "q142_scc" -> sccOracle(5),
    "q296_bowtie" -> bowtieOracle(5),
    "q143_walks" -> walksOracle(8),
    "q144_assoc_rules" ->
      """WITH b0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS basket,
        |  l_partkey % 50 AS item FROM lineitem WHERE l_orderkey < 2000),
        |keep AS MATERIALIZED (SELECT basket FROM b0 GROUP BY basket
        | HAVING count(*) <= 256),
        |b AS MATERIALIZED (SELECT b0.* FROM b0 JOIN keep USING (basket)),
        |n AS MATERIALIZED (SELECT count(DISTINCT basket) AS n_baskets
        | FROM b),
        |it AS MATERIALIZED (SELECT item, count(*) AS c FROM b
        | GROUP BY item),
        |p AS MATERIALIZED (SELECT x.item AS antecedent,
        |  y.item AS consequent, count(*) AS c_pair
        | FROM b x JOIN b y ON x.basket = y.basket AND x.item <> y.item
        | GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p.antecedent, p.consequent, p.c_pair, a.c AS c_ante,
        |  c.c AS c_cons, n.n_baskets,
        |  CAST(p.c_pair AS DOUBLE) / CAST(n.n_baskets AS DOUBLE)
        |    AS support,
        |  CAST(p.c_pair AS DOUBLE) / CAST(a.c AS DOUBLE) AS confidence,
        |  (CAST(p.c_pair AS DOUBLE) * CAST(n.n_baskets AS DOUBLE)) /
        |  (CAST(a.c AS DOUBLE) * CAST(c.c AS DOUBLE)) AS lift
        |FROM p JOIN it a ON a.item = p.antecedent
        |JOIN it c ON c.item = p.consequent CROSS JOIN n
        |ORDER BY antecedent, consequent""".stripMargin,
    "q145_token_diversity" ->
      """WITH toks AS MATERIALIZED (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '')) AS tok FROM documents),
        |cnt AS MATERIALIZED (SELECT doc_id, tok, count(*) AS c
        | FROM toks GROUP BY doc_id, tok),
        |agg AS MATERIALIZED (SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(c * c) AS BIGINT) AS s2 FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  CAST(n_tokens * n_tokens - s2 AS DOUBLE) /
        |  CAST(n_tokens * n_tokens AS DOUBLE) AS gini
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q146_temporal_reach" -> temporalReachOracle(12),
    "q147_modularity" ->
      """WITH und AS MATERIALIZED (SELECT DISTINCT
        |  least(o_custkey % 200, o_orderkey % 200) AS u,
        |  greatest(o_custkey % 200, o_orderkey % 200) AS v
        | FROM orders
        | WHERE o_orderkey < 2000 AND o_custkey % 200 <> o_orderkey % 200),
        |lab AS MATERIALIZED (SELECT node, node % 12 AS lbl FROM (
        |  SELECT u AS node FROM und UNION SELECT v FROM und)),
        |j AS MATERIALIZED (SELECT lu.lbl AS lu, lv.lbl AS lv FROM und
        | JOIN lab lu ON lu.node = und.u
        | JOIN lab lv ON lv.node = und.v),
        |m AS MATERIALIZED (SELECT count(*) AS m FROM j),
        |dc AS MATERIALIZED (SELECT lbl, count(*) AS d FROM (
        |  SELECT lu AS lbl FROM j UNION ALL SELECT lv FROM j)
        | GROUP BY lbl),
        |s2 AS MATERIALIZED (SELECT CAST(sum(d * d) AS BIGINT) AS sd2
        | FROM dc),
        |se AS MATERIALIZED (SELECT count(*) AS se FROM j WHERE lu = lv)
        |SELECT m.m, 4 * m.m * se.se - s2.sd2 AS q_num,
        |  CAST(4 * m.m * se.se - s2.sd2 AS DOUBLE) /
        |  CAST(4 * m.m * m.m AS DOUBLE) AS modularity
        |FROM m CROSS JOIN s2 CROSS JOIN se""".stripMargin,
    "q148_readability" ->
      """WITH w AS MATERIALIZED (SELECT doc_id,
        |  greatest(1, len(list_filter(string_split_regex(text,
        |    '[.!?]+'), s -> regexp_matches(s, '[a-zA-Z0-9]')))) AS s,
        |  unnest(list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '')) AS word
        | FROM documents),
        |agg AS MATERIALIZED (SELECT doc_id, count(*) AS n_words,
        |  CAST(max(s) AS BIGINT) AS n_sentences,
        |  CAST(sum(greatest(1,
        |    len(string_split_regex(word, '[aeiouy]+')) - 1))
        |    AS BIGINT) AS n_syllables
        | FROM w GROUP BY doc_id)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(206.835 AS DOUBLE) -
        |  CAST(1.015 AS DOUBLE) *
        |    (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
        |  CAST(84.6 AS DOUBLE) *
        |    (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    AS flesch
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q149_rfm" ->
      """WITH per AS MATERIALIZED (SELECT user_id,
        |  max(epoch_us(ts)) AS last_us, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        | FROM events GROUP BY user_id),
        |t AS MATERIALIZED (SELECT user_id, last_us, n_events, monetary,
        |  ntile(5) OVER (ORDER BY last_us, user_id) AS r,
        |  ntile(5) OVER (ORDER BY n_events, user_id) AS f,
        |  ntile(5) OVER (ORDER BY monetary, user_id) AS m
        | FROM per)
        |SELECT user_id, last_us, n_events, monetary, r, f, m,
        |  r * 100 + f * 10 + m AS rfm
        |FROM t ORDER BY user_id""".stripMargin,
    "q150_transitions" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_id,
        |  event_type AS from_type, epoch_us(ts) AS us FROM events),
        |nx AS MATERIALIZED (SELECT from_type, lead(from_type) OVER (
        |  PARTITION BY user_id ORDER BY us, event_id) AS to_type
        | FROM e),
        |c AS MATERIALIZED (SELECT from_type, to_type, count(*) AS n
        | FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |m AS MATERIALIZED (SELECT from_type,
        |  CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY from_type)
        |SELECT c.from_type, c.to_type, c.n, m.n_from,
        |  CAST(c.n AS DOUBLE) / CAST(m.n_from AS DOUBLE) AS prob
        |FROM c JOIN m USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q151_percent_rank" ->
      """WITH toks AS MATERIALIZED (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '')) AS tok FROM documents),
        |agg AS MATERIALIZED (SELECT doc_id, count(*) AS n_tokens
        | FROM toks GROUP BY doc_id)
        |SELECT doc_id, n_tokens, percent_rank() OVER (
        |  ORDER BY n_tokens, doc_id) AS pct
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q152_zscore_outliers" ->
      """WITH st AS MATERIALIZED (SELECT event_type AS ty,
        |  CAST(count(*) AS DOUBLE) AS nd,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxd,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) *
        |    CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx2d
        | FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  (e.value - st.sxd / st.nd) /
        |  sqrt((st.nd * st.sx2d - st.sxd * st.sxd) / (st.nd * st.nd))
        |    AS z
        |FROM events e JOIN st ON st.ty = e.event_type
        |WHERE ((e.value - st.sxd / st.nd) /
        |  sqrt((st.nd * st.sx2d - st.sxd * st.sxd) / (st.nd * st.nd))) *
        |  ((e.value - st.sxd / st.nd) /
        |  sqrt((st.nd * st.sx2d - st.sxd * st.sxd) / (st.nd * st.nd)))
        |  > 9.0
        |ORDER BY event_id""".stripMargin,
    "q153_concurrency" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, us,
        | us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
        | FROM e),
        |f AS (SELECT user_id, us,
        | CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END
        |   AS new FROM g),
        |s AS (SELECT user_id, us,
        | CAST(SUM(new) OVER (PARTITION BY user_id ORDER BY us)
        |   AS BIGINT) AS session_idx FROM f),
        |sess AS MATERIALIZED (SELECT user_id, session_idx,
        |  min(us) AS st, max(us) AS en FROM s
        | GROUP BY user_id, session_idx),
        |bnd AS MATERIALIZED (
        | SELECT user_id, session_idx, st AS t, 0 AS is_end FROM sess
        | UNION ALL
        | SELECT user_id, session_idx, en, 1 FROM sess)
        |SELECT user_id, session_idx, t, is_end,
        |  CAST(SUM(CASE WHEN is_end = 0 THEN 1 ELSE -1 END) OVER (
        |    ORDER BY t, is_end, user_id, session_idx) AS BIGINT)
        |    AS concurrency
        |FROM bnd
        |ORDER BY t, is_end, user_id, session_idx""".stripMargin,
    "q154_edit_distance" ->
      """WITH s AS MATERIALIZED (SELECT p_partkey AS id, p_name AS nm
        | FROM part WHERE p_partkey < 400)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  levenshtein(a.nm, b.nm) AS dist
        |FROM s a JOIN s b ON a.id < b.id
        |WHERE levenshtein(a.nm, b.nm) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q155_skyline" ->
      """WITH base AS MATERIALIZED (SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents,
        |  CAST(l_quantity AS BIGINT) AS qty
        | FROM lineitem WHERE l_orderkey < 2000),
        |w AS MATERIALIZED (SELECT *,
        |  min(qty) OVER (ORDER BY cents RANGE BETWEEN UNBOUNDED
        |    PRECEDING AND 1 PRECEDING) AS m1,
        |  min(qty) OVER (PARTITION BY cents) AS m2 FROM base)
        |SELECT l_orderkey, l_linenumber, cents, qty FROM w
        |WHERE (m1 IS NULL OR m1 > qty) AND qty = m2
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q156_kshell" -> kShellOracle(8, 16),
    "q157_unpivot" ->
      """WITH agg AS MATERIALIZED (SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS sum_cents
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value
        |  FROM agg
        |UNION ALL SELECT l_returnflag, 'sum_qty', sum_qty FROM agg
        |UNION ALL SELECT l_returnflag, 'sum_cents', sum_cents FROM agg
        |ORDER BY l_returnflag, metric""".stripMargin,
    "q158_streaks" ->
      """WITH d AS MATERIALIZED (SELECT DISTINCT user_id,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS day FROM events),
        |g AS (SELECT user_id, day,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |    AS grp FROM d)
        |SELECT user_id, min(day) AS start_day, max(day) AS end_day,
        |  CAST(count(*) AS BIGINT) AS len
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, start_day""".stripMargin,
    "q159_mode" ->
      """WITH c AS MATERIALIZED (SELECT user_id, event_type,
        |  CAST(count(*) AS BIGINT) AS n_mode
        | FROM events GROUP BY user_id, event_type),
        |r AS (SELECT user_id, event_type, n_mode,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY n_mode DESC, event_type) AS rn FROM c)
        |SELECT user_id, event_type AS mode, n_mode FROM r
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q160_quartiles" ->
      """WITH b AS MATERIALIZED (SELECT o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents FROM orders),
        |r AS (SELECT o_orderpriority, cents,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY cents) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n FROM b)
        |SELECT o_orderpriority,
        |  max(CASE WHEN rn = ((n-1)*1)//4 + 1 THEN cents END) AS p25,
        |  max(CASE WHEN rn = ((n-1)*2)//4 + 1 THEN cents END) AS p50,
        |  max(CASE WHEN rn = ((n-1)*3)//4 + 1 THEN cents END) AS p75,
        |  max(n) AS n
        |FROM r GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q161_linreg" ->
      """WITH b AS MATERIALIZED (SELECT l_returnflag,
        |  CAST(l_quantity AS BIGINT) AS x,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS y
        | FROM lineitem WHERE l_orderkey < 1000),
        |m AS MATERIALIZED (SELECT l_returnflag,
        |  CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x) AS HUGEINT) AS sx,
        |  CAST(sum(y) AS HUGEINT) AS sy,
        |  CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |  CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        | FROM b GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE) / CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE)
        |    AS slope,
        |  (CAST(CAST(sy AS VARCHAR) AS DOUBLE) -
        |   (CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE)) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) /
        |   CAST(CAST(n AS VARCHAR) AS DOUBLE) AS intercept
        |FROM m WHERE n*sxx - sx*sx <> 0
        |ORDER BY l_returnflag""".stripMargin,
    "q162_autocorr" ->
      """WITH b AS MATERIALIZED (SELECT user_id, event_id,
        |  epoch_us(ts) AS us,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |p AS (SELECT user_id, cents AS y,
        |  lag(cents) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    AS x FROM b),
        |m AS MATERIALIZED (SELECT user_id,
        |  CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x) AS HUGEINT) AS sx,
        |  CAST(sum(y) AS HUGEINT) AS sy,
        |  CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |  CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |  CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        | FROM p WHERE x IS NOT NULL GROUP BY user_id)
        |SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE) /
        |  sqrt(CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(n*syy - sy*sy AS VARCHAR) AS DOUBLE)) AS autocorr
        |FROM m WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        |ORDER BY user_id""".stripMargin,
    "q163_coverage" ->
      """WITH b AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS s_us,
        |  epoch_us(ts) + 300000000 AS e_us FROM events),
        |w AS (SELECT user_id, s_us, e_us,
        |  max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        | FROM b),
        |f AS (SELECT user_id, s_us, e_us,
        |  CASE WHEN pmax IS NULL OR s_us > pmax THEN 1 ELSE 0 END
        |    AS nw FROM w),
        |sp AS (SELECT user_id, s_us, e_us,
        |  CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY s_us, e_us) AS BIGINT) AS span FROM f),
        |g AS MATERIALIZED (SELECT user_id, span, min(s_us) AS s,
        |  max(e_us) AS e FROM sp GROUP BY user_id, span)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(e - s) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q164_mad" ->
      """WITH b AS MATERIALIZED (SELECT event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |r AS (SELECT event_type, cents,
        |  row_number() OVER (PARTITION BY event_type ORDER BY cents)
        |    AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM b),
        |med AS MATERIALIZED (SELECT event_type, cents AS median FROM r
        |  WHERE rn = (n-1)//2 + 1),
        |d AS MATERIALIZED (SELECT b.event_id, b.event_type, b.cents,
        |  med.median, abs(b.cents - med.median) AS dev
        | FROM b JOIN med USING (event_type)),
        |r2 AS (SELECT event_type, dev,
        |  row_number() OVER (PARTITION BY event_type ORDER BY dev)
        |    AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |mad AS MATERIALIZED (SELECT event_type, dev AS mad FROM r2
        |  WHERE rn = (n-1)//2 + 1)
        |SELECT d.event_id, d.event_type, d.cents, d.median, mad.mad
        |FROM d JOIN mad USING (event_type)
        |WHERE d.dev > 5 * mad.mad
        |ORDER BY event_id""".stripMargin,
    "q165_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
        |FROM lineitem GROUP BY GROUPING SETS (
        |  (l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus"""
        .stripMargin,
    "q166_cusum" -> cusumOracle,
    // the streaming twin's final per-key emit is the same clamped fold
    "q302_cusum_stream_replay" -> cusumOracle,
    "q167_lift" ->
      """WITH b AS MATERIALIZED (SELECT event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab
        | FROM events),
        |d AS (SELECT ntile(10) OVER (ORDER BY cents DESC, event_id)
        |  AS decile, lab FROM b),
        |a AS MATERIALIZED (SELECT decile, CAST(count(*) AS BIGINT)
        |  AS n, CAST(sum(lab) AS BIGINT) AS pos FROM d GROUP BY decile)
        |SELECT decile, n, pos,
        |  CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
        |  CAST(sum(pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
        |  (CAST(sum(pos) OVER (ORDER BY decile) AS DOUBLE) /
        |   CAST(sum(n) OVER (ORDER BY decile) AS DOUBLE)) /
        |  (CAST(sum(pos) OVER () AS DOUBLE) /
        |   CAST(sum(n) OVER () AS DOUBLE)) AS lift
        |FROM a ORDER BY decile""".stripMargin,
    "q168_bands" ->
      """WITH b AS MATERIALIZED (SELECT event_id, user_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  epoch_us(ts) AS us FROM events),
        |w AS (SELECT event_id, user_id, cents,
        |  count(cents) OVER win AS n, sum(cents) OVER win AS sx,
        |  sum(cents * cents) OVER win AS sx2
        | FROM b WINDOW win AS (PARTITION BY user_id
        |   ORDER BY us, event_id
        |   ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, cents FROM w
        |WHERE n >= 5 AND
        |  (n*cents - sx) * (n*cents - sx) > 4 * (n*sx2 - sx*sx)
        |ORDER BY event_id""".stripMargin,
    "q169_histogram" ->
      """SELECT event_type,
        |  least(greatest(
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000,
        |    0), 11) AS bin,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, bin""".stripMargin,
    "q170_attribution" ->
      """WITH p AS MATERIALIZED (SELECT event_id, user_id,
        |  epoch_us(ts) AS ts_us FROM events
        | WHERE event_type = 'purchase'),
        |c AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS us,
        |  min(event_id) AS touch_id FROM events
        | WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts))
        |SELECT p.event_id, p.user_id, c.touch_id, c.us AS asof_us
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.us
        |WHERE p.ts_us - c.us <= 604800000000
        |ORDER BY p.event_id""".stripMargin,
    "q171_band_join" ->
      """WITH e AS MATERIALIZED (SELECT event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |a AS (SELECT event_id AS id_a, cents AS va FROM e
        | WHERE event_type = 'view' AND event_id % 17 = 0),
        |b AS (SELECT event_id AS id_b, cents AS vb FROM e
        | WHERE event_type = 'purchase' AND event_id % 13 = 0)
        |SELECT id_a, va, id_b, vb FROM a, b
        |WHERE abs(va - vb) <= 100
        |ORDER BY id_a, id_b""".stripMargin,
    "q172_trigrams" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_type,
        |  epoch_us(ts) AS us, event_id FROM events),
        |w AS (SELECT event_type AS step_1,
        |  lead(event_type, 1) OVER win AS step_2,
        |  lead(event_type, 2) OVER win AS step_3
        | FROM e WINDOW win AS (PARTITION BY user_id
        |   ORDER BY us, event_id))
        |SELECT step_1, step_2, step_3, CAST(count(*) AS BIGINT)
        |  AS n_paths
        |FROM w WHERE step_3 IS NOT NULL
        |GROUP BY step_1, step_2, step_3
        |ORDER BY step_1, step_2, step_3""".stripMargin,
    "q173_seasonal" ->
      """WITH b AS MATERIALIZED (SELECT event_id, user_id,
        |  CAST(hour(ts) AS BIGINT) AS hod,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |g AS MATERIALIZED (SELECT user_id, hod,
        |  CAST(count(*) AS BIGINT) AS n_base,
        |  CAST(sum(cents) AS BIGINT) AS sum_base
        | FROM b GROUP BY user_id, hod)
        |SELECT b.event_id, b.user_id, b.hod, b.cents, g.n_base,
        |  g.sum_base
        |FROM b JOIN g USING (user_id, hod)
        |WHERE g.n_base >= 4 AND b.cents * g.n_base > 2 * g.sum_base
        |ORDER BY b.event_id""".stripMargin,
    "q174_profile" -> {
      val cols = Seq("c_custkey", "c_name", "c_nationkey",
        "c_acctbal_cents", "c_mktsegment")
      val per = cols.map { c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(count(CASE WHEN $c IS NULL THEN 1 END) AS BIGINT)
           |   AS n_null,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_val,
           | CAST(max($c) AS VARCHAR) AS max_val
           |FROM b""".stripMargin
      }
      """WITH b AS MATERIALIZED (SELECT c_custkey, c_name,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS c_acctbal_cents,
        |  c_mktsegment FROM customer)
        |""".stripMargin + per.mkString("\nUNION ALL\n") +
        "\nORDER BY \"column\""
    },
    "q175_integrity" ->
      """WITH fk1 AS (SELECT 'lineitem_orders' AS fk,
        |  CAST(count(*) AS BIGINT) AS n_child,
        |  CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END)
        |    AS BIGINT) AS n_null_key,
        |  CAST(count(CASE WHEN l_orderkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |    THEN 1 END) AS BIGINT) AS n_orphan
        | FROM lineitem),
        |fk2 AS (SELECT 'orders_customer',
        |  CAST(count(*) AS BIGINT),
        |  CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT),
        |  CAST(count(CASE WHEN o_custkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |    THEN 1 END) AS BIGINT)
        | FROM orders),
        |fk3 AS (SELECT 'customer_nation',
        |  CAST(count(*) AS BIGINT),
        |  CAST(count(CASE WHEN c_nationkey IS NULL THEN 1 END)
        |    AS BIGINT),
        |  CAST(count(CASE WHEN c_nationkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM nation
        |    WHERE CAST(n_nationkey AS BIGINT) =
        |      CAST(c_nationkey AS BIGINT)) THEN 1 END) AS BIGINT)
        | FROM customer),
        |fk4 AS (SELECT 'orders_customer_x3',
        |  CAST(count(*) AS BIGINT),
        |  CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT),
        |  CAST(count(CASE WHEN o_custkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM customer WHERE c_custkey = o_custkey * 3)
        |    THEN 1 END) AS BIGINT)
        | FROM orders)
        |SELECT * FROM fk1 UNION ALL SELECT * FROM fk2
        |UNION ALL SELECT * FROM fk3 UNION ALL SELECT * FROM fk4
        |ORDER BY fk""".stripMargin,
    "q176_snapshot_diff" ->
      """WITH base AS MATERIALIZED (SELECT o_orderkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents FROM orders),
        |old AS (SELECT * FROM base WHERE o_orderkey % 13 <> 0),
        |nw AS (SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 7 = 0 THEN cents + 100 ELSE cents END
        |    AS cents FROM base WHERE o_orderkey % 11 <> 0)
        |SELECT coalesce(old.o_orderkey, nw.o_orderkey) AS o_orderkey,
        |  CASE WHEN old.o_orderkey IS NULL THEN 'added'
        |       WHEN nw.o_orderkey IS NULL THEN 'removed'
        |       WHEN old.o_orderstatus <> nw.o_orderstatus
        |         OR old.cents <> nw.cents THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM old FULL OUTER JOIN nw ON old.o_orderkey = nw.o_orderkey
        |WHERE NOT (old.o_orderkey IS NOT NULL AND nw.o_orderkey IS
        |  NOT NULL AND old.o_orderstatus = nw.o_orderstatus AND
        |  old.cents = nw.cents)
        |ORDER BY o_orderkey""".stripMargin,
    "q177_weighted_median" ->
      """WITH b AS MATERIALIZED (SELECT l_returnflag,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |w AS (SELECT l_returnflag, cents,
        |  sum(qty) OVER (PARTITION BY l_returnflag ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(qty) OVER (PARTITION BY l_returnflag) AS tot FROM b)
        |SELECT l_returnflag, min(cents) AS w_median,
        |  CAST(max(tot) AS BIGINT) AS w_total
        |FROM w WHERE cum >= (tot + 1) // 2
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q178_top_percent" ->
      """WITH b AS MATERIALIZED (SELECT o_orderkey, o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents FROM orders),
        |r AS (SELECT o_orderkey, o_orderpriority, cents,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY cents DESC, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n FROM b)
        |SELECT o_orderkey, o_orderpriority, cents FROM r
        |WHERE rn <= greatest(1, (n * 10) // 100)
        |ORDER BY o_orderkey""".stripMargin,
    "q179_foaf" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT
        |  least(o_custkey % 150, o_orderkey % 150) AS u,
        |  greatest(o_custkey % 150, o_orderkey % 150) AS v
        | FROM orders WHERE o_orderkey < 2000
        |  AND o_custkey % 150 <> o_orderkey % 150),
        |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e
        | UNION SELECT v, u FROM e),
        |p2 AS MATERIALIZED (SELECT DISTINCT a1.a AS x, a2.b AS y
        | FROM adj a1 JOIN adj a2 ON a1.b = a2.a WHERE a1.a <> a2.b),
        |fo AS (SELECT x, y FROM p2 WHERE NOT EXISTS (
        |  SELECT 1 FROM adj WHERE adj.a = p2.x AND adj.b = p2.y))
        |SELECT x AS node, CAST(count(*) AS BIGINT) AS n_foaf
        |FROM fo GROUP BY x ORDER BY node""".stripMargin,
    "q180_minmax_norm" ->
      """WITH b AS MATERIALIZED (SELECT event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |w AS (SELECT event_id, event_type, cents,
        |  min(cents) OVER (PARTITION BY event_type) AS mn,
        |  max(cents) OVER (PARTITION BY event_type) AS mx FROM b)
        |SELECT event_id, event_type, cents,
        |  ((cents - mn) * 10000) // (mx - mn) AS norm
        |FROM w WHERE mx > mn
        |ORDER BY event_id""".stripMargin,
    "q181_bursts" ->
      """WITH h AS MATERIALIZED (SELECT user_id,
        |  epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |  CAST(count(*) AS BIGINT) AS n_events FROM events
        | GROUP BY 1, 2),
        |r AS (SELECT user_id, n_events,
        |  row_number() OVER (PARTITION BY user_id ORDER BY n_events)
        |    AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n FROM h),
        |med AS MATERIALIZED (SELECT user_id, n_events AS med_hourly
        | FROM r WHERE rn = (n - 1) // 2 + 1),
        |nh AS MATERIALIZED (SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_hours FROM h GROUP BY 1)
        |SELECT h.user_id, h.hour_us, h.n_events, med.med_hourly
        |FROM h JOIN med USING (user_id) JOIN nh USING (user_id)
        |WHERE nh.n_hours >= 4 AND h.n_events > 2 * med.med_hourly
        |ORDER BY h.user_id, h.hour_us""".stripMargin,
    "q182_drawdown" ->
      """WITH b AS MATERIALIZED (SELECT user_id, event_id,
        |  epoch_us(ts) AS us,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events),
        |w AS (SELECT user_id, cents,
        |  max(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        | FROM b)
        |SELECT user_id, max(peak - cents) AS max_drawdown,
        |  max(peak) AS peak, CAST(count(*) AS BIGINT) AS n
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q183_mannwhitney" ->
      """WITH b AS MATERIALIZED (SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE event_type IN ('purchase', 'click')),
        |r AS (SELECT event_type,
        |  CAST(rank() OVER (ORDER BY cents) AS BIGINT) AS rk,
        |  CAST(count(*) OVER (PARTITION BY cents) AS BIGINT) AS t
        | FROM b),
        |m AS MATERIALIZED (SELECT event_type, 2 * rk + t - 1 AS mr2
        | FROM r),
        |agg AS (SELECT
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
        |    AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 END)
        |    AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN mr2 END)
        |    AS BIGINT) AS s2a,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN mr2 END)
        |    AS BIGINT) AS s2b
        | FROM m)
        |SELECT n_a, n_b, s2a - n_a * (n_a + 1) AS u2_a,
        |  s2b - n_b * (n_b + 1) AS u2_b FROM agg""".stripMargin,
    "q184_abc" ->
      """WITH rev AS MATERIALIZED (SELECT l_partkey,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS revenue
        | FROM lineitem GROUP BY l_partkey),
        |w AS (SELECT l_partkey, revenue,
        |  sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(revenue) OVER () AS tot FROM rev)
        |SELECT l_partkey, revenue,
        |  CASE WHEN cum * 100 <= 80 * tot THEN 'A'
        |       WHEN cum * 100 <= 95 * tot THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM w ORDER BY l_partkey""".stripMargin,
    "q185_time_to_convert" ->
      """WITH s AS MATERIALIZED (SELECT user_id,
        |  min(epoch_us(ts)) AS from_us FROM events
        | WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT user_id, epoch_us(ts) AS us FROM events
        | WHERE event_type = 'purchase')
        |SELECT s.user_id, s.from_us, min(p.us) AS to_us,
        |  min(p.us) - s.from_us AS delta_us,
        |  (min(p.us) - s.from_us) // 86400000000 AS day_bucket
        |FROM s JOIN p ON p.user_id = s.user_id AND p.us >= s.from_us
        |GROUP BY s.user_id, s.from_us
        |ORDER BY s.user_id""".stripMargin,
    "q186_scd2" ->
      """WITH b AS MATERIALIZED (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS us FROM events),
        |c AS (SELECT user_id, event_id, event_type, us,
        |  CASE WHEN lag(event_type) OVER win IS NULL
        |    OR lag(event_type) OVER win <> event_type
        |   THEN 1 ELSE 0 END AS chg
        | FROM b WINDOW win AS (PARTITION BY user_id
        |   ORDER BY us, event_id)),
        |seg AS (SELECT user_id, event_type, us,
        |  CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS sg
        | FROM c),
        |runs AS MATERIALIZED (SELECT user_id, sg,
        |  min(us) AS valid_from_us, max(event_type) AS event_type,
        |  CAST(count(*) AS BIGINT) AS n_events
        | FROM seg GROUP BY user_id, sg)
        |SELECT user_id, event_type, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY valid_from_us) AS valid_to_us,
        |  n_events
        |FROM runs
        |ORDER BY user_id, valid_from_us""".stripMargin,
    "q187_quality_score" ->
      """WITH b AS MATERIALIZED (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
        |    AS n_digits,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT)
        |    AS n_upper,
        |  CAST(length(text) AS BIGINT) AS n_chars_q
        | FROM documents)
        |SELECT doc_id, n_tokens, n_digits, n_upper,
        |  2*n_tokens - 3*n_digits - 1*n_upper + 1*(n_chars_q // 100)
        |    AS score
        |FROM b
        |WHERE 2*n_tokens - 3*n_digits - 1*n_upper +
        |  1*(n_chars_q // 100) >= 100
        |ORDER BY doc_id""".stripMargin,
    "q188_pseudonymize" ->
      """SELECT md5('salt:' || CAST(user_id AS VARCHAR)) AS sur,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1 ORDER BY sur""".stripMargin,
    "q189_bag_setops" ->
      """WITH a AS (SELECT o_orderpriority FROM orders
        | WHERE o_orderkey < 3000),
        |b AS (SELECT o_orderpriority FROM orders
        | WHERE o_orderkey >= 1500 AND o_orderkey < 4500),
        |ex AS (SELECT o_orderpriority FROM a
        | EXCEPT ALL SELECT o_orderpriority FROM b),
        |ia AS (SELECT o_orderpriority FROM a
        | INTERSECT ALL SELECT o_orderpriority FROM b)
        |SELECT 'except_all' AS op, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 2
        |UNION ALL
        |SELECT 'intersect_all', o_orderpriority,
        |  CAST(count(*) AS BIGINT) FROM ia GROUP BY 2
        |ORDER BY op, o_orderpriority""".stripMargin,
    "q190_richclub" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT
        |  least(o_custkey % 200, o_orderkey % 200) AS u,
        |  greatest(o_custkey % 200, o_orderkey % 200) AS v
        | FROM orders WHERE o_orderkey < 2000
        |  AND o_custkey % 200 <> o_orderkey % 200),
        |d AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS d
        | FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        | GROUP BY node),
        |ks AS (SELECT unnest([14, 18, 22, 26]) AS k),
        |nk AS (SELECT k, CAST(count(d.node) AS BIGINT) AS n_k
        | FROM ks LEFT JOIN d ON d.d > ks.k GROUP BY k),
        |ek AS (SELECT k, CAST(count(x.a) AS BIGINT) AS e_k FROM ks
        | LEFT JOIN (SELECT du.d AS a, dv.d AS b FROM e
        |   JOIN d du ON du.node = e.u JOIN d dv ON dv.node = e.v) x
        |  ON x.a > ks.k AND x.b > ks.k GROUP BY k)
        |SELECT CAST(nk.k AS BIGINT) AS k, nk.n_k, ek.e_k,
        |  CASE WHEN nk.n_k >= 2 THEN
        |    CAST(2 * ek.e_k AS DOUBLE) /
        |    CAST(nk.n_k * (nk.n_k - 1) AS DOUBLE) END AS phi
        |FROM nk JOIN ek USING (k) ORDER BY k""".stripMargin,
    "q191_gini" ->
      """WITH rev AS MATERIALIZED (SELECT l_partkey,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS revenue
        | FROM lineitem WHERE l_partkey < 500 GROUP BY l_partkey),
        |r AS (SELECT revenue,
        |  CAST(row_number() OVER (ORDER BY revenue, l_partkey)
        |    AS HUGEINT) AS i FROM rev),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(CAST(revenue AS HUGEINT)) AS HUGEINT) AS sx,
        |  CAST(sum(i * CAST(revenue AS HUGEINT)) AS HUGEINT) AS six
        | FROM r)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS total,
        |  CAST(CAST(2 * six - (n + 1) * sx AS VARCHAR) AS DOUBLE) /
        |  CAST(CAST(n * sx AS VARCHAR) AS DOUBLE) AS gini
        |FROM m WHERE sx > 0""".stripMargin,
    "q192_percolation" ->
      """WITH RECURSIVE e0 AS MATERIALIZED (SELECT
        |  least(o_custkey % 400, o_orderkey % 400) AS u,
        |  greatest(o_custkey % 400, o_orderkey % 400) AS v,
        |  count(*) AS w
        | FROM orders WHERE o_orderkey < 4000
        |  AND o_custkey % 400 <> o_orderkey % 400
        | GROUP BY 1, 2),
        |p AS (SELECT u, v FROM e0 WHERE w >= 2),
        |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |r(id, lab) AS (
        | SELECT u, u FROM (SELECT DISTINCT u FROM e)
        | UNION
        | SELECT e.u, r.lab FROM e JOIN r ON r.id = e.v)
        |SELECT id, min(lab) AS component FROM r GROUP BY id
        |ORDER BY id""".stripMargin,
    "q193_welch" ->
      """WITH b AS MATERIALIZED (SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE event_type IN ('purchase', 'click')),
        |agg AS (SELECT
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS HUGEINT) AS na,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS HUGEINT) AS nb,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN cents END)
        |    AS HUGEINT) AS sa,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN cents END)
        |    AS HUGEINT) AS sb,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN cents * cents END)
        |    AS HUGEINT) AS qa,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN cents * cents END)
        |    AS HUGEINT) AS qb
        | FROM b),
        |v AS (SELECT na, nb, sa, sb,
        |  CAST(CAST(na * qa - sa * sa AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(na * (na - 1) AS VARCHAR) AS DOUBLE) AS va,
        |  CAST(CAST(nb * qb - sb * sb AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(nb * (nb - 1) AS VARCHAR) AS DOUBLE) AS vb
        | FROM agg),
        |se AS (SELECT na, nb, sa, sb,
        |  va / CAST(CAST(na AS VARCHAR) AS DOUBLE) AS sea, vb / CAST(CAST(nb AS VARCHAR) AS DOUBLE) AS seb
        | FROM v)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  (CAST(CAST(sa AS VARCHAR) AS DOUBLE) / CAST(CAST(na AS VARCHAR) AS DOUBLE) -
        |   CAST(CAST(sb AS VARCHAR) AS DOUBLE) / CAST(CAST(nb AS VARCHAR) AS DOUBLE)) / sqrt(sea + seb)
        |    AS t_stat,
        |  ((sea + seb) * (sea + seb)) /
        |   (sea * sea / CAST(CAST(na - 1 AS VARCHAR) AS DOUBLE) +
        |    seb * seb / CAST(CAST(nb - 1 AS VARCHAR) AS DOUBLE)) AS df_welch
        |FROM se""".stripMargin,
    "q194_chisq" ->
      """WITH b AS MATERIALIZED (SELECT event_type AS r,
        |  ((epoch_us(ts) // 3600000000) % 24) // 6 AS c FROM events),
        |cells AS MATERIALIZED (SELECT r, c, count(*) AS obs
        | FROM b GROUP BY r, c),
        |rt AS (SELECT r, CAST(sum(obs) AS BIGINT) AS row_tot
        | FROM cells GROUP BY r),
        |ct AS (SELECT c, CAST(sum(obs) AS BIGINT) AS col_tot
        | FROM cells GROUP BY c),
        |g AS (SELECT CAST(sum(obs) AS BIGINT) AS grand_tot FROM cells)
        |SELECT cells.r, cells.c, obs, row_tot, col_tot, grand_tot,
        |  CAST(obs * grand_tot - row_tot * col_tot AS DOUBLE) *
        |  CAST(obs * grand_tot - row_tot * col_tot AS DOUBLE) /
        |  CAST(row_tot * col_tot * grand_tot AS DOUBLE) AS contrib
        |FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN g
        |ORDER BY r, c""".stripMargin,
    "q195_itemitem" ->
      """WITH b0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS basket,
        |  l_partkey % 100 AS item FROM lineitem),
        |keep AS (SELECT basket FROM b0 GROUP BY basket
        | HAVING count(*) <= 256),
        |bb AS MATERIALIZED (SELECT b0.basket, b0.item
        | FROM b0 JOIN keep USING (basket)),
        |items AS MATERIALIZED (SELECT item, count(*) AS n
        | FROM bb GROUP BY item),
        |pairs AS (SELECT x.item AS item, y.item AS nbr,
        |  count(*) AS c_pair
        | FROM bb x JOIN bb y
        |   ON x.basket = y.basket AND x.item <> y.item
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |s AS (SELECT p.item, p.nbr, p.c_pair,
        |  i.n AS n_item, j.n AS n_nbr,
        |  CAST(p.c_pair AS DOUBLE) / sqrt(CAST(i.n * j.n AS DOUBLE))
        |    AS cosine
        | FROM pairs p JOIN items i ON i.item = p.item
        |   JOIN items j ON j.item = p.nbr),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY item
        |  ORDER BY cosine DESC, nbr) AS INT) AS rk FROM s)
        |SELECT item, nbr, c_pair, n_item, n_nbr, cosine, rk
        |FROM r WHERE rk <= 3 ORDER BY item, rk""".stripMargin,
    "q196_ewma" ->
      """WITH h AS MATERIALIZED (SELECT user_id,
        |  epoch_us(ts) // 3600000000 AS hr, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |l AS (SELECT user_id, hr, n,
        |  lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
        |  lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
        |  lag(n, 5) OVER w AS l5, lag(n, 6) OVER w AS l6,
        |  lag(n, 7) OVER w AS l7
        | FROM h WINDOW w AS (PARTITION BY user_id ORDER BY hr))
        |SELECT user_id, hr, n,
        |  CAST(n AS DOUBLE) * 0.5
        |  + coalesce(CAST(l1 AS DOUBLE) * 0.25, 0.0)
        |  + coalesce(CAST(l2 AS DOUBLE) * 0.125, 0.0)
        |  + coalesce(CAST(l3 AS DOUBLE) * 0.0625, 0.0)
        |  + coalesce(CAST(l4 AS DOUBLE) * 0.03125, 0.0)
        |  + coalesce(CAST(l5 AS DOUBLE) * 0.015625, 0.0)
        |  + coalesce(CAST(l6 AS DOUBLE) * 0.0078125, 0.0)
        |  + coalesce(CAST(l7 AS DOUBLE) * 0.00390625, 0.0)
        |  + (CASE WHEN l1 IS NULL
        |      THEN CAST(n AS DOUBLE) * 0.5 ELSE 0.0 END)
        |  + (CASE WHEN l1 IS NOT NULL AND l2 IS NULL
        |      THEN CAST(l1 AS DOUBLE) * 0.25 ELSE 0.0 END)
        |  + (CASE WHEN l2 IS NOT NULL AND l3 IS NULL
        |      THEN CAST(l2 AS DOUBLE) * 0.125 ELSE 0.0 END)
        |  + (CASE WHEN l3 IS NOT NULL AND l4 IS NULL
        |      THEN CAST(l3 AS DOUBLE) * 0.0625 ELSE 0.0 END)
        |  + (CASE WHEN l4 IS NOT NULL AND l5 IS NULL
        |      THEN CAST(l4 AS DOUBLE) * 0.03125 ELSE 0.0 END)
        |  + (CASE WHEN l5 IS NOT NULL AND l6 IS NULL
        |      THEN CAST(l5 AS DOUBLE) * 0.015625 ELSE 0.0 END)
        |  + (CASE WHEN l6 IS NOT NULL AND l7 IS NULL
        |      THEN CAST(l6 AS DOUBLE) * 0.0078125 ELSE 0.0 END)
        |  + (CASE WHEN l7 IS NOT NULL
        |      THEN CAST(l7 AS DOUBLE) * 0.00390625 ELSE 0.0 END)
        |  AS ewma
        |FROM l ORDER BY user_id, hr""".stripMargin,
    "q197_running_distinct" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_type,
        |  epoch_us(ts) AS us, event_id FROM events),
        |f AS (SELECT user_id, event_type, us, event_id,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY us, event_id) AS rn FROM e),
        |m AS (SELECT user_id, event_type, us, event_id
        | FROM f WHERE rn = 1)
        |SELECT user_id, event_type, us AS ts_us,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS BIGINT) AS k_distinct
        |FROM m ORDER BY user_id, k_distinct""".stripMargin,
    "q198_compaction" ->
      """WITH w AS (SELECT source, doc_id, n_chars,
        |  sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM documents)
        |SELECT source, CAST((cum - n_chars) // 20000 AS BIGINT) AS bin,
        |  count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS bytes,
        |  min(doc_id) AS ord_from, max(doc_id) AS ord_to
        |FROM w GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
    "q199_syssample" ->
      """WITH w AS (SELECT doc_id, source, n_chars,
        |  sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM documents)
        |SELECT doc_id, source, n_chars, CAST(cum AS BIGINT) AS cum_weight
        |FROM w
        |WHERE ((cum - n_chars + 4999) // 5000) * 5000 < cum
        |ORDER BY doc_id""".stripMargin,
    "q200_benford" ->
      """WITH v AS MATERIALIZED (SELECT
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents FROM lineitem),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
        |    AS digit, count(*) AS n
        | FROM v WHERE cents > 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM d)
        |SELECT digit, n, (n * 1000) // tot AS permille
        |FROM d CROSS JOIN t ORDER BY digit""".stripMargin,
    "q201_holt" ->
      """WITH RECURSIVE monthly AS MATERIALIZED (
        | SELECT o_orderpriority AS pr,
        |  year(o_orderdate) * 12 + month(o_orderdate) AS mo,
        |  count(*) AS n
        | FROM orders WHERE year(o_orderdate) >= 1997 GROUP BY 1, 2),
        |m AS MATERIALIZED (SELECT pr, mo, n,
        |  CAST(row_number() OVER (PARTITION BY pr ORDER BY mo)
        |    AS BIGINT) AS t
        | FROM monthly),
        |h(pr, mo, t, l, b) AS (
        | SELECT pr, mo, t, CAST(n AS DOUBLE), CAST(0 AS DOUBLE)
        | FROM m WHERE t = 1
        | UNION ALL
        | SELECT m.pr, m.mo, m.t,
        |  (CAST(m.n AS DOUBLE) + h.l + h.b) * 0.5,
        |  ((CAST(m.n AS DOUBLE) + h.l + h.b) * 0.5 - h.l + h.b) * 0.5
        | FROM h JOIN m ON m.pr = h.pr AND m.t = h.t + 1)
        |SELECT pr AS o_orderpriority, mo, l AS level, b AS trend,
        |  l + b AS forecast
        |FROM h ORDER BY o_orderpriority, mo""".stripMargin,
    "q202_quantile_norm" ->
      """WITH b AS MATERIALIZED (SELECT doc_id, source, n_chars
        | FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id) AS BIGINT) AS rr,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nk,
        |  CAST(count(*) OVER () AS BIGINT) AS nn
        | FROM b),
        |g AS (SELECT n_chars AS gval,
        |  CAST(row_number() OVER (ORDER BY n_chars, doc_id)
        |    AS BIGINT) AS gpos
        | FROM b)
        |SELECT r.doc_id, r.source, r.n_chars, g.gval AS normalized
        |FROM r JOIN g ON g.gpos = CASE WHEN r.nk > 1
        |  THEN (r.rr - 1) * (r.nn - 1) // (r.nk - 1) + 1
        |  ELSE (r.nn + 1) // 2 END
        |ORDER BY doc_id""".stripMargin,
    "q203_winsor" ->
      """WITH r AS MATERIALIZED (SELECT source, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars)
        |    AS BIGINT) AS rr,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        | FROM documents),
        |c AS (SELECT source,
        |  max(CASE WHEN rr = (n - 1) * 5 // 100 + 1
        |    THEN n_chars END) AS lo_cut,
        |  max(CASE WHEN rr = (n - 1) * 95 // 100 + 1
        |    THEN n_chars END) AS hi_cut
        | FROM r GROUP BY source)
        |SELECT r.source, count(*) AS n, c.lo_cut, c.hi_cut,
        |  CAST(sum(greatest(least(r.n_chars, c.hi_cut), c.lo_cut))
        |    AS BIGINT) AS winsorized_sum,
        |  CAST(sum(CASE WHEN r.n_chars < c.lo_cut THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clamped_lo,
        |  CAST(sum(CASE WHEN r.n_chars > c.hi_cut THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clamped_hi
        |FROM r JOIN c USING (source)
        |GROUP BY r.source, c.lo_cut, c.hi_cut
        |ORDER BY source""".stripMargin,
    "q204_kanonymity" ->
      """WITH b AS MATERIALIZED (SELECT c_nationkey, c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    // 100000 AS bal_band
        | FROM customer)
        |SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |  CAST(count(DISTINCT bal_band) AS BIGINT) AS n_sensitive,
        |  count(*) >= 10 AS k_anonymous,
        |  count(DISTINCT bal_band) >= 3 AS l_diverse
        |FROM b GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q205_containment" ->
      """WITH d AS MATERIALIZED (SELECT doc_id,
        |  list_distinct(list_transform(
        |   generate_series(1, greatest(
        |    len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(
        |    string_split_regex(lower(text), '\s+')[i:i+2], ' ')))
        |  AS sh
        | FROM documents),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
        |  CAST(len(a.sh) AS BIGINT) AS na,
        |  CAST(len(b.sh) AS BIGINT) AS nb
        | FROM d a JOIN d b ON a.doc_id <> b.doc_id)
        |SELECT id_a, id_b, inter, na, nb,
        |  CAST(inter AS DOUBLE) / CAST(na AS DOUBLE) AS containment
        |FROM p WHERE inter * 5 >= na * 4 AND na > 0
        |ORDER BY id_a, id_b""".stripMargin,
    "q206_cosine_pairs" ->
      """WITH tok AS MATERIALIZED (SELECT id, gram, count(*) AS c FROM (
        |  SELECT doc_id AS id, unnest(list_transform(
        |   generate_series(1, greatest(
        |    len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(
        |    string_split_regex(lower(text), '\s+')[i:i+2], ' ')))
        |   AS gram
        |  FROM documents) GROUP BY 1, 2),
        |n2 AS MATERIALIZED (SELECT id, CAST(sum(c * c) AS BIGINT) AS n2
        | FROM tok GROUP BY id),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(sum(a.c * b.c) AS BIGINT) AS dot
        | FROM tok a JOIN tok b ON a.gram = b.gram AND a.id < b.id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b, dot, x.n2 AS na2, y.n2 AS nb2,
        |  CAST(dot AS DOUBLE) / sqrt(CAST(x.n2 * y.n2 AS DOUBLE))
        |    AS cosine
        |FROM p JOIN n2 x ON x.id = p.id_a JOIN n2 y ON y.id = p.id_b
        |WHERE CAST(dot AS HUGEINT) * dot * 25 >=
        |  CAST(x.n2 AS HUGEINT) * y.n2 * 9
        |ORDER BY id_a, id_b""".stripMargin,
    "q207_feature_hash" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
        |  string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
        |  AS tok
        | FROM documents)
        |SELECT doc_id, substr(md5(tok), 1, 3) AS feature,
        |  count(*) AS weight,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_tokens
        |FROM toks GROUP BY 1, 2 ORDER BY doc_id, feature""".stripMargin,
    "q208_target_encode" ->
      """WITH b AS MATERIALIZED (SELECT c_custkey, c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents
        | FROM customer),
        |cat AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS s
        | FROM b GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS ng,
        |  CAST(sum(cents) AS BIGINT) AS sg FROM b)
        |SELECT b.c_custkey, b.c_mktsegment, b.cents,
        |  CASE WHEN cat.n > 1
        |   THEN CAST(cat.s - b.cents AS DOUBLE) /
        |     CAST(cat.n - 1 AS DOUBLE)
        |   ELSE CAST(g.sg - b.cents AS DOUBLE) /
        |     CAST(g.ng - 1 AS DOUBLE) END AS loo_mean
        |FROM b JOIN cat USING (c_mktsegment) CROSS JOIN g
        |ORDER BY c_custkey""".stripMargin,
    "q209_overlap_join" ->
      """WITH a AS MATERIALIZED (SELECT user_id AS key,
        |  epoch_us(ts) AS s_a, epoch_us(ts) + 1800000000 AS e_a
        | FROM events WHERE event_type = 'purchase'),
        |b AS MATERIALIZED (SELECT user_id AS key,
        |  epoch_us(ts) AS s_b, epoch_us(ts) + 300000000 AS e_b
        | FROM events WHERE event_type = 'click')
        |SELECT a.key, s_a, e_a, s_b, e_b,
        |  least(e_a, e_b) - greatest(s_a, s_b) AS overlap
        |FROM a JOIN b ON a.key = b.key AND s_a < e_b AND s_b < e_a
        |ORDER BY a.key, s_a, s_b""".stripMargin,
    "q210_confusion" ->
      """WITH b AS MATERIALIZED (SELECT
        |  n_chars >= 240 AS pred,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) >= 45 AS truth
        | FROM documents),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fn,
        |  CAST(sum(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tn
        | FROM b)
        |SELECT tp, fp, fn, tn,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        |  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
        |  CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
        |    AS f1
        |FROM c""".stripMargin,
    "q211_auc" ->
      """WITH b AS MATERIALIZED (SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE event_type IN ('purchase', 'click')),
        |r AS (SELECT event_type,
        |  CAST(rank() OVER (ORDER BY cents) AS BIGINT) AS rk,
        |  CAST(count(*) OVER (PARTITION BY cents) AS BIGINT) AS t
        | FROM b),
        |m AS MATERIALIZED (SELECT event_type, 2 * rk + t - 1 AS mr2
        | FROM r),
        |agg AS (SELECT
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
        |    AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 END)
        |    AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN mr2 END)
        |    AS BIGINT) AS s2a
        | FROM m)
        |SELECT n_a, n_b,
        |  CAST(s2a - n_a * (n_a + 1) AS DOUBLE) /
        |    CAST(2 * n_a * n_b AS DOUBLE) AS auc
        |FROM agg""".stripMargin,
    "q212_fingerprint" ->
      """WITH h AS MATERIALIZED (SELECT l_returnflag,
        |  CAST(('0x' || substr(md5(
        |    CAST(l_orderkey AS VARCHAR) || '|' ||
        |    CAST(l_partkey AS VARCHAR) || '|' ||
        |    CAST(l_linenumber AS VARCHAR)), 1, 14)) AS BIGINT) AS rh
        | FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(rh AS HUGEINT)) % 1000000000000000000
        |    AS BIGINT) AS fingerprint
        |FROM h GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q213_crosscorr" ->
      """WITH hourly AS MATERIALIZED (SELECT
        |  epoch_us(ts) // 3600000000 AS hr,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS clicks,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS purchases
        | FROM events GROUP BY 1),
        |j AS (SELECT CAST(x.clicks AS HUGEINT) AS x,
        |  CAST(y.purchases AS HUGEINT) AS y
        | FROM hourly x JOIN hourly y ON y.hr = x.hr + 1),
        |agg AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |  sum(x * x) AS sxx, sum(y * y) AS syy FROM j)
        |SELECT CAST(n AS BIGINT) AS n_points,
        |  CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
        |   sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) *
        |        CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) AS cross_corr
        |FROM agg
        |WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0""".stripMargin,
    "q214_bpe" -> bpeOracle(6),
    "q215_bpe_segment" -> bpeSegmentOracle(6),
    "q216_corr_matrix" ->
      """WITH li AS MATERIALIZED (SELECT
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS c1,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS c2,
        |  CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |    AS c3,
        |  CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT) AS c4
        | FROM lineitem),
        |m AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  sum(CAST(c1 AS HUGEINT)) AS s1, sum(CAST(c2 AS HUGEINT)) AS s2,
        |  sum(CAST(c3 AS HUGEINT)) AS s3, sum(CAST(c4 AS HUGEINT)) AS s4,
        |  sum(CAST(c1 AS HUGEINT) * c1) AS q1,
        |  sum(CAST(c2 AS HUGEINT) * c2) AS q2,
        |  sum(CAST(c3 AS HUGEINT) * c3) AS q3,
        |  sum(CAST(c4 AS HUGEINT) * c4) AS q4,
        |  sum(CAST(c1 AS HUGEINT) * c2) AS p12,
        |  sum(CAST(c1 AS HUGEINT) * c3) AS p13,
        |  sum(CAST(c1 AS HUGEINT) * c4) AS p14,
        |  sum(CAST(c2 AS HUGEINT) * c3) AS p23,
        |  sum(CAST(c2 AS HUGEINT) * c4) AS p24,
        |  sum(CAST(c3 AS HUGEINT) * c4) AS p34
        | FROM li)
        |SELECT var_a, var_b, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE) /
        |    sqrt(CAST(CAST(dx AS VARCHAR) AS DOUBLE) * CAST(CAST(dy AS VARCHAR) AS DOUBLE)) AS corr
        |FROM (
        | SELECT 'qty' AS var_a, 'price_c' AS var_b, n,
        |  n*p12 - s1*s2 AS num, n*q1 - s1*s1 AS dx, n*q2 - s2*s2 AS dy
        |  FROM m
        | UNION ALL SELECT 'qty', 'disc_bp', n,
        |  n*p13 - s1*s3, n*q1 - s1*s1, n*q3 - s3*s3 FROM m
        | UNION ALL SELECT 'qty', 'tax_bp', n,
        |  n*p14 - s1*s4, n*q1 - s1*s1, n*q4 - s4*s4 FROM m
        | UNION ALL SELECT 'price_c', 'disc_bp', n,
        |  n*p23 - s2*s3, n*q2 - s2*s2, n*q3 - s3*s3 FROM m
        | UNION ALL SELECT 'price_c', 'tax_bp', n,
        |  n*p24 - s2*s4, n*q2 - s2*s2, n*q4 - s4*s4 FROM m
        | UNION ALL SELECT 'disc_bp', 'tax_bp', n,
        |  n*p34 - s3*s4, n*q3 - s3*s3, n*q4 - s4*s4 FROM m)
        |ORDER BY var_a, var_b""".stripMargin,
    "q217_tvd_drift" ->
      """WITH cells AS MATERIALIZED (SELECT source AS k,
        |  n_chars // 100 AS b, count(*) AS n_kb
        | FROM documents GROUP BY 1, 2),
        |keys AS (SELECT k, CAST(sum(n_kb) AS BIGINT) AS n_k
        | FROM cells GROUP BY k),
        |bins AS (SELECT b, CAST(sum(n_kb) AS BIGINT) AS m_b
        | FROM cells GROUP BY b),
        |tot AS (SELECT CAST(sum(n_kb) AS BIGINT) AS nn FROM cells),
        |g AS (SELECT cells.k, max(n_k) AS n,
        |  CAST(sum(abs(n_kb * nn - m_b * n_k)) +
        |    (max(nn) - sum(m_b)) * max(n_k) AS BIGINT) AS tvd_num,
        |  max(nn) AS nn2
        | FROM cells JOIN bins USING (b) JOIN keys USING (k) CROSS JOIN tot
        | GROUP BY cells.k)
        |SELECT k AS source, n, tvd_num,
        |  CAST(tvd_num AS DOUBLE) / CAST(2 * n * nn2 AS DOUBLE) AS tvd
        |FROM g ORDER BY source""".stripMargin,
    "q218_ks" ->
      """WITH b AS MATERIALIZED (SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        | FROM events WHERE event_type IN ('purchase', 'click')),
        |pv AS (SELECT cents AS v,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS cb
        | FROM b GROUP BY 1),
        |cum AS (SELECT v,
        |  CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cma,
        |  CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cmb,
        |  CAST(sum(ca) OVER () AS BIGINT) AS na,
        |  CAST(sum(cb) OVER () AS BIGINT) AS nb
        | FROM pv)
        |SELECT max(na) AS n_a, max(nb) AS n_b,
        |  max(abs(cma * nb - cmb * na)) AS d_num,
        |  CAST(max(abs(cma * nb - cmb * na)) AS DOUBLE) /
        |    CAST(max(na) * max(nb) AS DOUBLE) AS d_stat
        |FROM cum""".stripMargin,
    "q219_kaplan_meier" ->
      """WITH RECURSIVE e AS MATERIALIZED (SELECT user_id AS u,
        |  event_type AS et, epoch_us(ts) AS us FROM events),
        |h AS (SELECT max(us) AS hz FROM e),
        |s AS MATERIALIZED (SELECT u, min(us) AS from_us FROM e
        | WHERE et = 'signup' GROUP BY u),
        |d AS MATERIALIZED (SELECT s.u, s.from_us, min(c.us) AS to_us
        | FROM s LEFT JOIN e c ON c.u = s.u AND c.et = 'purchase'
        |   AND c.us >= s.from_us
        | GROUP BY s.u, s.from_us),
        |dur AS (SELECT
        |  coalesce(to_us - from_us, (SELECT hz FROM h) - from_us) AS dur,
        |  to_us IS NOT NULL AS conv FROM d),
        |tm AS MATERIALIZED (SELECT dur AS t_us,
        |  CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_event,
        |  CAST(sum(CASE WHEN conv THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_censor
        | FROM dur GROUP BY 1),
        |rk AS MATERIALIZED (SELECT t_us, n_event, n_censor,
        |  CAST(sum(n_event + n_censor) OVER () -
        |    coalesce(sum(n_event + n_censor) OVER (ORDER BY t_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n_risk,
        |  CAST(row_number() OVER (ORDER BY t_us) AS BIGINT) AS i
        | FROM tm),
        |km(i, t_us, n_risk, n_event, n_censor, sv) AS (
        | SELECT i, t_us, n_risk, n_event, n_censor,
        |  (1 - CAST(n_event AS DOUBLE) / CAST(n_risk AS DOUBLE))
        | FROM rk WHERE i = 1
        | UNION ALL
        | SELECT rk.i, rk.t_us, rk.n_risk, rk.n_event, rk.n_censor,
        |  km.sv * (1 - CAST(rk.n_event AS DOUBLE) /
        |    CAST(rk.n_risk AS DOUBLE))
        | FROM km JOIN rk ON rk.i = km.i + 1)
        |SELECT t_us, n_risk, n_event, n_censor, sv AS survival
        |FROM km ORDER BY t_us""".stripMargin,
    "q220_spearman" ->
      """WITH b AS MATERIALIZED (SELECT
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS price_c
        | FROM lineitem),
        |r AS (SELECT
        |  CAST(2 * rank() OVER (ORDER BY qty) +
        |    count(*) OVER (PARTITION BY qty) - 1 AS HUGEINT) AS rx,
        |  CAST(2 * rank() OVER (ORDER BY price_c) +
        |    count(*) OVER (PARTITION BY price_c) - 1 AS HUGEINT) AS ry
        | FROM b),
        |agg AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  sum(rx) AS sx, sum(ry) AS sy, sum(rx * ry) AS sxy,
        |  sum(rx * rx) AS sxx, sum(ry * ry) AS syy FROM r)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
        |   sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) *
        |        CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) AS rho
        |FROM agg""".stripMargin,
    "q221_two_prop_z" ->
      """WITH b AS MATERIALIZED (SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) >= 5000
        |    AS hi
        | FROM events WHERE event_type IN ('purchase', 'click')),
        |agg AS (SELECT
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN event_type = 'purchase' AND hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS s_a,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN event_type = 'click' AND hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS s_b
        | FROM b)
        |SELECT n_a, s_a, n_b, s_b,
        |  (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |   CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |  sqrt((CAST(s_a + s_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |   (1.0 - CAST(s_a + s_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
        |   (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |    AS z_stat
        |FROM agg""".stripMargin,
    "q222_vocab_overlap" ->
      """WITH kt AS MATERIALIZED (SELECT DISTINCT k, token FROM (
        |  SELECT source AS k, unnest(list_filter(
        |   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
        |   AS token
        |  FROM documents)),
        |sizes AS (SELECT k, count(*) AS n_vocab FROM kt GROUP BY k),
        |p AS (SELECT a.k AS src_a, b.k AS src_b, count(*) AS inter
        | FROM kt a JOIN kt b ON a.token = b.token AND a.k < b.k
        | GROUP BY 1, 2)
        |SELECT src_a, src_b, inter, sa.n_vocab AS n_a, sb.n_vocab AS n_b,
        |  CAST(inter AS DOUBLE) /
        |    CAST(sa.n_vocab + sb.n_vocab - inter AS DOUBLE) AS jaccard
        |FROM p JOIN sizes sa ON sa.k = src_a JOIN sizes sb ON sb.k = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "q223_novelty" ->
      """WITH sh AS MATERIALIZED (SELECT doc_id AS id,
        |  unnest(list_distinct(list_transform(
        |   generate_series(1, greatest(
        |    len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(
        |    string_split_regex(lower(text), '\s+')[i:i+2], ' '))))
        |  AS shingle
        | FROM documents),
        |df AS (SELECT shingle, count(*) AS dfc FROM sh GROUP BY shingle)
        |SELECT id AS doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unique,
        |  CAST(sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS novelty
        |FROM sh JOIN df USING (shingle) GROUP BY id
        |ORDER BY doc_id""".stripMargin,
    "q224_vocab_growth" ->
      """WITH fs AS MATERIALIZED (SELECT token, min(id) AS first_id
        | FROM (SELECT doc_id AS id, unnest(list_distinct(list_transform(
        |   generate_series(1, greatest(
        |    len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(
        |    string_split_regex(lower(text), '\s+')[i:i+2], ' '))))
        |   AS token
        |  FROM documents)
        | GROUP BY token),
        |pb AS (SELECT first_id // 50 AS bucket, count(*) AS new_tokens
        | FROM fs GROUP BY 1)
        |SELECT bucket, new_tokens,
        |  CAST(sum(new_tokens) OVER (ORDER BY bucket
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS vocab_size
        |FROM pb ORDER BY bucket""".stripMargin,
    "q225_dup_size_histogram" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id AS id, unnest(list_distinct(
        |  list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0)),
        |   i -> array_to_string(string_split_regex(lower(text), '\s+')[i:i+2], ' ')))) AS shingle
        | FROM documents),
        |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        |pairs0 AS (
        | SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        | GROUP BY a.id, b.id),
        |pairs AS (
        | SELECT id_a, id_b FROM pairs0
        |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        | WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.1),
        |e AS (SELECT id_a AS u, id_b AS v FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |r(id, lab) AS (
        | SELECT u, u FROM (SELECT DISTINCT u FROM e)
        | UNION
        | SELECT e.u, r.lab FROM e JOIN r ON r.id = e.v),
        |reach AS (SELECT id, min(lab) AS component FROM r GROUP BY id),
        |cs AS (SELECT component, CAST(count(*) AS BIGINT)
        |  AS cluster_size FROM reach GROUP BY component)
        |SELECT cluster_size, count(*) AS n_clusters FROM cs
        |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "q226_user_growth" ->
      """WITH du AS MATERIALIZED (SELECT DISTINCT user_id AS u,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
        |fd AS (SELECT day, count(*) AS new_users FROM (
        |  SELECT u, min(day) AS day FROM du GROUP BY u) GROUP BY day)
        |SELECT dau.day, dau.dau,
        |  coalesce(fd.new_users, 0) AS new_users,
        |  dau.dau - coalesce(fd.new_users, 0) AS returning_users,
        |  CAST(sum(coalesce(fd.new_users, 0)) OVER (ORDER BY dau.day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_users
        |FROM dau LEFT JOIN fd USING (day) ORDER BY day""".stripMargin,
    "q227_stickiness" ->
      """WITH du AS MATERIALIZED (SELECT DISTINCT user_id AS u,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
        |wau AS (SELECT day, count(*) AS wau FROM (
        |  SELECT DISTINCT u, day + o AS day FROM du
        |   CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o))
        | GROUP BY day)
        |SELECT dau.day, dau, wau,
        |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "q228_entry_exit" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_type AS et,
        |  epoch_us(ts) AS us, event_id AS id FROM events),
        |g AS (SELECT user_id, et, us, id,
        |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
        | FROM e),
        |f AS (SELECT user_id, et, us, id,
        |  CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END
        |   AS new FROM g),
        |s AS (SELECT user_id, et, us, id,
        |  CAST(SUM(new) OVER (PARTITION BY user_id ORDER BY us)
        |   AS BIGINT) AS sess FROM f),
        |r AS (SELECT user_id, sess, et,
        |  row_number() OVER (PARTITION BY user_id, sess
        |   ORDER BY us, id) AS rn,
        |  count(*) OVER (PARTITION BY user_id, sess) AS cnt FROM s),
        |ee AS (SELECT user_id, sess,
        |  max(CASE WHEN rn = 1 THEN et END) AS entry_type,
        |  max(CASE WHEN rn = cnt THEN et END) AS exit_type,
        |  max(cnt) AS n FROM r GROUP BY 1, 2)
        |SELECT entry_type, exit_type, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_bounce
        |FROM ee GROUP BY 1, 2
        |ORDER BY entry_type, exit_type""".stripMargin,
    "q229_degree_dist" ->
      """WITH und AS MATERIALIZED (SELECT DISTINCT
        |  least(o_custkey % 200, o_orderkey % 200) AS u,
        |  greatest(o_custkey % 200, o_orderkey % 200) AS v
        | FROM orders WHERE o_orderkey < 4000
        |  AND o_custkey % 200 <> o_orderkey % 200),
        |deg AS (SELECT node, count(*) AS d FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        | GROUP BY node)
        |SELECT CAST(length(bin(d)) - 1 AS INT) AS bin,
        |  count(*) AS n_nodes,
        |  (CAST(1 AS BIGINT) << CAST(length(bin(d)) - 1 AS INT))
        |    AS degree_lo
        |FROM deg GROUP BY 1, 3 ORDER BY bin""".stripMargin,
    "q230_gap_quartiles" ->
      """WITH e AS MATERIALIZED (SELECT event_type, user_id, event_id,
        |  epoch_us(ts) AS us FROM events),
        |g AS (SELECT event_type,
        |  us - lag(us) OVER (PARTITION BY event_type, user_id
        |    ORDER BY us, event_id) AS gap FROM e),
        |b AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
        |r AS (SELECT event_type, gap,
        |  row_number() OVER (PARTITION BY event_type ORDER BY gap) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM b)
        |SELECT event_type,
        |  max(CASE WHEN rn = ((n-1)*1)//4 + 1 THEN gap END) AS p25,
        |  max(CASE WHEN rn = ((n-1)*2)//4 + 1 THEN gap END) AS p50,
        |  max(CASE WHEN rn = ((n-1)*3)//4 + 1 THEN gap END) AS p75,
        |  max(n) AS n
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** The q214 oracle: each BPE round is (weighted pair count →
    * 1-row argmax, MATERIALIZED — referenced by the rewrite AND the
    * final union — → literal-replace rewrite on the pipe-doubled
    * symbol strings). w_{r-1} feeds both p_r and w_r, so every round
    * frame is MATERIALIZED (the q116 lesson); an exhausted b_r goes
    * empty and every later round stays empty, matching the engine's
    * early stop. */
  private def bpeOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (SELECT u.a AS a, u.b AS b, sum(freq) AS weight FROM (
         | SELECT freq, unnest(list_transform(generate_series(1, len(t) - 1),
         |  i -> {'a': t[i], 'b': t[i+1]})) AS u
         | FROM (SELECT freq, string_split(trim(s, '|'), '||') AS t
         |  FROM w${r - 1})) GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT a, b, weight FROM p$r
         | ORDER BY weight DESC, a, b LIMIT 1),
         |w$r AS MATERIALIZED (SELECT w, freq,
         |  replace(s, '|' || br.a || '||' || br.b || '|',
         |    '|' || br.a || br.b || '|') AS s
         | FROM w${r - 1} CROSS JOIN b$r br)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to rounds).map { r =>
      s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, " +
        s"CAST(weight AS BIGINT) AS weight FROM b$r"
    }.mkString("\nUNION ALL ")
    s"""WITH w0 AS MATERIALIZED (SELECT w, count(*) AS freq,
       |  '|' || array_to_string(string_split(w, ''), '||') || '|' AS s
       | FROM (SELECT unnest(list_filter(
       |   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       |  FROM documents) GROUP BY w),
       |$steps
       |$sel
       |ORDER BY merge_rank""".stripMargin
  }

  /** The q215 oracle: the q214 training rounds, then each learned rule
    * replayed over the per-document word strings in rank order. An
    * unlearned round's scalar subqueries coalesce to the '|~|'
    * sentinel (outside the [a-z0-9] symbol alphabet) so the replace
    * no-ops — matching the engine, which applies only collected
    * rules. */
  private def bpeSegmentOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (SELECT u.a AS a, u.b AS b, sum(freq) AS weight FROM (
         | SELECT freq, unnest(list_transform(generate_series(1, len(t) - 1),
         |  i -> {'a': t[i], 'b': t[i+1]})) AS u
         | FROM (SELECT freq, string_split(trim(s, '|'), '||') AS t
         |  FROM w${r - 1})) GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT a, b, weight FROM p$r
         | ORDER BY weight DESC, a, b LIMIT 1),
         |w$r AS MATERIALIZED (SELECT w, freq,
         |  replace(s, '|' || br.a || '||' || br.b || '|',
         |    '|' || br.a || br.b || '|') AS s
         | FROM w${r - 1} CROSS JOIN b$r br)""".stripMargin
    }.mkString(",\n")
    val applies = (1 to rounds).map { r =>
      s"""s$r AS (SELECT doc_id, replace(s,
         |  coalesce('|' || (SELECT a FROM b$r) || '||' ||
         |    (SELECT b FROM b$r) || '|', '|~|'),
         |  coalesce('|' || (SELECT a || b FROM b$r) || '|', '|~|')) AS s
         | FROM s${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS MATERIALIZED (SELECT w, count(*) AS freq,
       |  '|' || array_to_string(string_split(w, ''), '||') || '|' AS s
       | FROM (SELECT unnest(list_filter(
       |   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       |  FROM documents) GROUP BY w),
       |$steps,
       |s0 AS MATERIALIZED (SELECT doc_id,
       |  '|' || array_to_string(string_split(w, ''), '||') || '|' AS s
       | FROM (SELECT doc_id, unnest(list_filter(
       |   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       |  FROM documents)),
       |$applies
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(len(string_split(trim(s, '|'), '||'))) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM s$rounds GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The q142 oracle: no iterative peeling to hang on (the q116
    * lesson) — 5 MATERIALIZED doublings of the reachability closure
    * (identity-seeded, so r_{k+1} ⊇ r_k and covers paths ≤ 2^k hops ≫
    * the fixture's ~15-hop diameter), then
    * scc(v) = min{w : w→*v AND v→*w} via one self-join of the closure
    * on the swapped pair. */
  /** q296 oracle: the [[sccOracle]] closure plus largest-component
    * selection and CASE-ordered in/out classification from the SAME
    * closure rows. */
  private def bowtieOracle(doublings: Int): String = {
    val steps = (1 to doublings).map { i =>
      s"""r$i AS MATERIALIZED (SELECT DISTINCT a.s, b.t
         | FROM r${i - 1} a JOIN r${i - 1} b ON a.t = b.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS MATERIALIZED (SELECT o_custkey % 64 AS ck,
       |  o_orderkey % 16 + 32 AS ok FROM orders WHERE o_orderkey < 2000),
       |ring AS MATERIALIZED (SELECT id AS s,
       |  (id // 8) * 8 + ((id % 8) + 1) % 8 AS t
       | FROM (SELECT DISTINCT ck AS id FROM base)),
       |cr AS MATERIALIZED (SELECT DISTINCT ck AS s, ok AS t FROM base
       | WHERE ck <> ok),
       |e AS MATERIALIZED (SELECT s, t FROM ring WHERE s <> t
       | UNION SELECT s, t FROM cr),
       |n AS MATERIALIZED (SELECT s AS id FROM e UNION SELECT t FROM e),
       |r0 AS MATERIALIZED (SELECT id AS s, id AS t FROM n
       | UNION SELECT s, t FROM e),
       |$steps,
       |scc AS MATERIALIZED (SELECT a.t AS node,
       |  CAST(min(a.s) AS BIGINT) AS scc
       | FROM r$doublings a JOIN r$doublings b ON a.s = b.t AND a.t = b.s
       | GROUP BY a.t),
       |big AS (SELECT scc FROM (SELECT scc, count(*) AS nn FROM scc
       |  GROUP BY scc ORDER BY nn DESC, scc LIMIT 1)),
       |lm AS (SELECT node FROM scc JOIN big USING (scc)),
       |fwd AS (SELECT DISTINCT r.t AS node FROM r$doublings r
       | JOIN lm ON lm.node = r.s),
       |bwd AS (SELECT DISTINCT r.s AS node FROM r$doublings r
       | JOIN lm ON lm.node = r.t),
       |cls AS (SELECT s.node,
       |  CASE WHEN s.scc = (SELECT scc FROM big) THEN 'scc'
       |   WHEN s.node IN (SELECT node FROM bwd) THEN 'in'
       |   WHEN s.node IN (SELECT node FROM fwd) THEN 'out'
       |   ELSE 'other' END AS bowtie_class
       | FROM scc s)
       |SELECT bowtie_class, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def sccOracle(doublings: Int): String = {
    val steps = (1 to doublings).map { i =>
      s"""r$i AS MATERIALIZED (SELECT DISTINCT a.s, b.t
         | FROM r${i - 1} a JOIN r${i - 1} b ON a.t = b.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS MATERIALIZED (SELECT o_custkey % 64 AS ck,
       |  o_orderkey % 16 + 32 AS ok FROM orders WHERE o_orderkey < 2000),
       |ring AS MATERIALIZED (SELECT id AS s,
       |  (id // 8) * 8 + ((id % 8) + 1) % 8 AS t
       | FROM (SELECT DISTINCT ck AS id FROM base)),
       |cr AS MATERIALIZED (SELECT DISTINCT ck AS s, ok AS t FROM base
       | WHERE ck <> ok),
       |e AS MATERIALIZED (SELECT s, t FROM ring WHERE s <> t
       | UNION SELECT s, t FROM cr),
       |n AS MATERIALIZED (SELECT s AS id FROM e UNION SELECT t FROM e),
       |r0 AS MATERIALIZED (SELECT id AS s, id AS t FROM n
       | UNION SELECT s, t FROM e),
       |$steps
       |SELECT a.t AS node, CAST(min(a.s) AS BIGINT) AS scc
       |FROM r$doublings a JOIN r$doublings b ON a.s = b.t AND a.t = b.s
       |GROUP BY a.t ORDER BY node""".stripMargin
  }

  /** The q143 oracle: each hop unrolled as one arg_min over the
    * frontier⋈edges candidates under the same md5 rank key the engine
    * evaluates — string-for-string (seed | walk | step | src | dst). */
  private def walksOracle(steps: Int): String = {
    val hops = (1 to steps).map { i =>
      s"""w$i AS MATERIALIZED (SELECT walk, arg_min(t, md5(concat_ws('|',
         |  'walk', CAST(walk AS VARCHAR), '${i - 1}',
         |  CAST(s AS VARCHAR), CAST(t AS VARCHAR)))) AS node
         | FROM w${i - 1} JOIN e ON e.s = w${i - 1}.node
         | GROUP BY walk)""".stripMargin
    }.mkString(",\n")
    val sel = (0 to steps).map { i =>
      s"SELECT walk, $i AS step, node FROM w$i"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey % 200 AS s,
       |  o_orderkey % 200 AS t FROM orders
       | WHERE o_orderkey < 2000 AND o_custkey % 200 <> o_orderkey % 200),
       |w0 AS MATERIALIZED (SELECT id AS walk, id AS node FROM (
       |  SELECT s AS id FROM e UNION SELECT t FROM e) WHERE id % 25 = 0),
       |$hops
       |$sel
       |ORDER BY walk, step""".stripMargin
  }

  /** The q156 oracle: shell(v) = max k with v in the k-core, each
    * k-core peeled INDEPENDENTLY from the full graph (rounds unrolled
    * MATERIALIZED — the q116 discipline; post-fixpoint rounds are
    * no-ops) — deliberately a different shape from the engine's
    * incremental onion peel, so the gate cross-checks the standard
    * equivalence rather than replaying the same loop. */
  private def kShellOracle(maxK: Int, rounds: Int): String = {
    val chains = (1 to maxK).map { k =>
      val rs = (1 to rounds).map { r =>
        s"""dg${k}_$r AS MATERIALIZED (SELECT node, count(*) AS d FROM (
           |  SELECT u AS node FROM e${k}_${r - 1}
           |  UNION ALL SELECT v FROM e${k}_${r - 1}) GROUP BY node),
           |kp${k}_$r AS MATERIALIZED (SELECT node FROM dg${k}_$r
           | WHERE d >= $k),
           |e${k}_$r AS MATERIALIZED (SELECT e.u, e.v FROM e${k}_${r - 1} e
           | JOIN kp${k}_$r a ON a.node = e.u
           | JOIN kp${k}_$r b ON b.node = e.v)""".stripMargin
      }.mkString(",\n")
      s"""e${k}_0 AS MATERIALIZED (SELECT u, v FROM und),
         |$rs""".stripMargin
    }.mkString(",\n")
    val members = (1 to maxK).map { k =>
      s"""SELECT u AS node, $k AS k FROM e${k}_$rounds
         |UNION ALL SELECT v, $k FROM e${k}_$rounds""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH und AS MATERIALIZED (SELECT DISTINCT
       |  least(o_custkey % 300, o_orderkey % 300) AS u,
       |  greatest(o_custkey % 300, o_orderkey % 300) AS v
       | FROM orders
       | WHERE o_orderkey < 1200 AND o_custkey % 300 <> o_orderkey % 300),
       |$chains
       |SELECT node, CAST(max(k) AS BIGINT) AS shell FROM (
       |$members)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** The q146 oracle: earliest-arrival relaxation unrolled round by
    * round — each aN min-merges the previous arrivals with the
    * time-respecting frontier step (t ≥ arr(src)); integer epoch
    * micros end to end. */
  private def temporalReachOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (SELECT node, min(arr) AS arr FROM (
         |  SELECT node, arr FROM a${i - 1}
         |  UNION ALL SELECT e.dst AS node, e.t AS arr
         |  FROM e JOIN a${i - 1} p ON e.src = p.node AND e.t >= p.arr)
         | GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT user_id % 50 AS src,
       |  event_id % 50 AS dst, epoch_us(ts) AS t FROM events
       | WHERE epoch_us(ts) >= 0),
       |n AS MATERIALIZED (SELECT src AS node FROM e
       | UNION SELECT dst FROM e),
       |a0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS arr FROM n
       | WHERE node % 10 = 0),
       |$steps
       |SELECT node, arr FROM a$rounds ORDER BY node""".stripMargin
  }

  /** The q136 oracle: Brandes unrolled level by level — BFS distances
    * (the q104 recursion), forward σ DP (sg0..sgD, integer), backward
    * δ DP (dlD-1..dl0, successor-sorted list_sum folds mirroring the
    * engine's exactFolds face term-for-term: (σv/σw)·(1+coalesce(δw,
    * 0))), then the source-sorted bc fold with zeros joined back. */
  private def betweennessOracle(maxHops: Int): String = {
    val sgs = (1 to maxHops).map { k =>
      s"""sg$k AS MATERIALIZED (SELECT dd.node, dd.s,
         |  CAST(sum(p.sigma) AS BIGINT) AS sigma
         | FROM d dd JOIN e ON e.dst = dd.node
         | JOIN sg${k - 1} p ON p.node = e.src AND p.s = dd.s
         | WHERE dd.dist = $k GROUP BY dd.node, dd.s)""".stripMargin
    }.mkString(",\n")
    val dls = ((maxHops - 1) to 0 by -1).map { k =>
      s"""dl$k AS MATERIALIZED (SELECT v.node, v.s, list_sum(list(
         |  (CAST(v.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))
         |   * (CAST(1 AS DOUBLE) + coalesce(dw.delta, CAST(0 AS DOUBLE)))
         |  ORDER BY w.node)) AS delta
         | FROM sg$k v JOIN e ON e.src = v.node
         | JOIN sg${k + 1} w ON w.node = e.dst AND w.s = v.s
         | LEFT JOIN dl${k + 1} dw ON dw.node = w.node AND dw.s = v.s
         | GROUP BY v.node, v.s)""".stripMargin
    }.mkString(",\n")
    val allDl = ((maxHops - 1) to 0 by -1)
      .map(k => s"SELECT * FROM dl$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE e AS (SELECT DISTINCT o_custkey % 200 AS src,
       |  o_orderkey % 200 AS dst FROM orders WHERE o_orderkey < 2000),
       |nodes AS (SELECT DISTINCT node FROM (
       | SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |seeds AS (SELECT node FROM nodes WHERE node % 50 = 0),
       |r(node, s, dist) AS (
       | SELECT node, node, 0 FROM seeds
       | UNION
       | SELECT e.dst, r.s, r.dist + 1
       | FROM r JOIN e ON e.src = r.node WHERE r.dist < $maxHops),
       |d AS MATERIALIZED (SELECT node, s, min(dist) AS dist FROM r
       | GROUP BY node, s),
       |sg0 AS MATERIALIZED (SELECT node, s, CAST(1 AS BIGINT) AS sigma
       | FROM d WHERE dist = 0),
       |$sgs,
       |dl$maxHops AS (SELECT node, s, CAST(0 AS DOUBLE) AS delta
       | FROM sg$maxHops WHERE 1 = 0),
       |$dls,
       |alld AS ($allDl),
       |bcv AS (SELECT node, list_sum(list(delta ORDER BY s)) AS bc
       | FROM alld WHERE node <> s GROUP BY node)
       |SELECT n.node, coalesce(b.bc, CAST(0 AS DOUBLE)) AS bc
       |FROM nodes n LEFT JOIN bcv b USING (node)
       |ORDER BY n.node""".stripMargin
  }

  /** The q137 oracle: k-truss peel rounds unrolled MATERIALIZED — per
    * round: degrees → degree-ordered orientation → triangle
    * enumeration → per-edge support explode/count → keep support
    * ≥ k−2. The final support joins from the LAST round's count,
    * which (post-convergence) was computed on the final edge set. */
  private def kTrussOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      val p = s"e${i - 1}"
      s"""dg$i AS MATERIALIZED (SELECT node, count(*) AS d FROM (
         |  SELECT u AS node FROM $p UNION ALL SELECT v FROM $p)
         | GROUP BY node),
         |o$i AS MATERIALIZED (SELECT
         |  CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
         |  CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
         | FROM $p e JOIN dg$i du ON du.node = e.u
         | JOIN dg$i dv ON dv.node = e.v),
         |t$i AS MATERIALIZED (SELECT w.a, w.b, w.c FROM (
         |  SELECT x.a AS a, x.b AS b, y.b AS c
         |  FROM o$i x JOIN o$i y ON y.a = x.b) w
         | JOIN o$i z ON z.a = w.a AND z.b = w.c),
         |s$i AS MATERIALIZED (SELECT least(p1, p2) AS u,
         |  greatest(p1, p2) AS v, count(*) AS supp FROM (
         |  SELECT a AS p1, b AS p2 FROM t$i
         |  UNION ALL SELECT b, c FROM t$i
         |  UNION ALL SELECT a, c FROM t$i) GROUP BY 1, 2),
         |e$i AS MATERIALIZED (SELECT e.u, e.v FROM $p e
         | LEFT JOIN s$i s ON s.u = e.u AND s.v = e.v
         | WHERE coalesce(s.supp, 0) >= $k - 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
       |  greatest(src, dst) AS v FROM (
       |  SELECT o_custkey % 100 AS src, o_orderkey % 100 AS dst
       |  FROM orders WHERE o_orderkey < 2000) WHERE src <> dst),
       |e0 AS MATERIALIZED (SELECT u, v FROM und),
       |$steps
       |SELECT e.u, e.v, coalesce(s.supp, 0) AS support
       |FROM e$rounds e LEFT JOIN s$rounds s ON s.u = e.u AND s.v = e.v
       |ORDER BY e.u, e.v""".stripMargin
  }

  /** The q232 oracle: the [[graft.operators.Similarity.semanticDedup]]
    * hash-cap rounds unrolled — per round, any cell over `cap` rows
    * re-labels each member by the depth-salted md5 residue mod
    * 2·ceil(n/cap) (the engine's md5CapHash face, byte-identical hash
    * convention); with an all-identical corpus the survivors are the
    * min id of each final cell. Bound-parity with the engine's
    * `maxCapRounds`. */
  private def semCapOracle(cap: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val d = r - 1
      s"""n$d AS (SELECT cell, count(*) AS cnt FROM c$d GROUP BY cell),
         |c$r AS MATERIALIZED (SELECT e.vec_id,
         |  CASE WHEN n.cnt > $cap THEN e.cell || '#' ||
         |   CAST(CAST(('0x' || substr(md5(
         |      CAST(e.vec_id AS VARCHAR) || '|$d'), 1, 14)) AS BIGINT)
         |    % (2 * ((n.cnt + ${cap - 1}) // $cap)) AS VARCHAR)
         |  ELSE e.cell END AS cell
         | FROM c$d e JOIN n$d n USING (cell))""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS MATERIALIZED (SELECT vec_id, '0' AS cell
       | FROM embeddings),
       |$steps
       |SELECT min(vec_id) AS vec_id FROM c$rounds GROUP BY cell
       |ORDER BY vec_id""".stripMargin
  }

  /** The q139 oracle: the q98-family weighted PageRank rounds over the
    * bigram co-occurrence graph (undirected = both directions of each
    * least/greatest pair), mirroring the engine composition
    * term-for-term: deg = Σ out-weights, contribution
    * pr·(w/deg), src-sorted list_sum folds, IEEE 1−d. */
  /** q246 oracle generator: per-day cents series, lag columns 1..maxLag,
    * exact HUGEINT moments, and per-lag the single-division ACF chain
    * with VARCHAR-mediated casts (the q216 lesson — the products pass
    * 2^53). Mirrors [[graft.operators.Stats.acf]] term-for-term. */
  /** Ljung–Box oracle: the [[acfOracle]] moment structure, each r_k
    * the same VARCHAR-mediated expression, folded in lag order and
    * scaled by n(n+2) — mirrors [[graft.operators.Stats.ljungBox]]
    * chain-for-chain. */
  private def ljungBoxOracle(maxLag: Int): String = {
    val lagCols = (1 to maxLag).map(l =>
      s"lag(x, $l) OVER (ORDER BY day) AS x$l").mkString(",\n  ")
    val momCols = (1 to maxLag).map(l =>
      s"""sum(x * x$l) AS xx$l,
         |  sum(CASE WHEN x$l IS NOT NULL THEN x END) AS t$l,
         |  sum(x$l) AS h$l""".stripMargin).mkString(",\n  ")
    val lagRows = (1 to maxLag).map(l =>
      s"""SELECT $l AS lag,
         |  CAST(CAST(n * n * xx$l - n * s * (h$l + t$l) +
         |    (n - $l) * s * s AS VARCHAR) AS DOUBLE) /
         |  CAST(CAST(n * (n * q - s * s) AS VARCHAR) AS DOUBLE) AS acf
         |FROM a""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH b AS MATERIALIZED (SELECT CAST(ts AS DATE) AS day,
       |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |    AS HUGEINT) AS x
       | FROM events GROUP BY day),
       |l AS (SELECT x,
       |  $lagCols
       | FROM b),
       |a AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS s,
       |  sum(x * x) AS q,
       |  $momCols
       | FROM l),
       |rl AS ($lagRows),
       |f AS (SELECT list_sum(list(acf * acf /
       |  CAST((SELECT CAST(n AS BIGINT) FROM a) - lag AS DOUBLE)
       |  ORDER BY lag)) AS s FROM rl)
       |SELECT CAST(a.n AS BIGINT) AS n, CAST($maxLag AS BIGINT) AS m,
       |  CAST(CAST(a.n AS VARCHAR) AS DOUBLE) *
       |  CAST(CAST(a.n + 2 AS VARCHAR) AS DOUBLE) * f.s AS q_stat
       |FROM a, f""".stripMargin
  }

  private def acfOracle(maxLag: Int): String = {
    val lagCols = (1 to maxLag).map(l =>
      s"lag(x, $l) OVER (ORDER BY day) AS x$l").mkString(",\n  ")
    val momCols = (1 to maxLag).map(l =>
      s"""sum(x * x$l) AS xx$l,
         |  sum(CASE WHEN x$l IS NOT NULL THEN x END) AS t$l,
         |  sum(x$l) AS h$l""".stripMargin).mkString(",\n  ")
    val lagRows = (1 to maxLag).map(l =>
      s"""SELECT $l AS lag,
         |  CAST(CAST(n * n * xx$l - n * s * (h$l + t$l) +
         |    (n - $l) * s * s AS VARCHAR) AS DOUBLE) /
         |  CAST(CAST(n * (n * q - s * s) AS VARCHAR) AS DOUBLE) AS acf
         |FROM a""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH b AS MATERIALIZED (SELECT CAST(ts AS DATE) AS day,
       |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |    AS HUGEINT) AS x
       | FROM events GROUP BY day),
       |l AS (SELECT x,
       |  $lagCols
       | FROM b),
       |a AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS s,
       |  sum(x * x) AS q,
       |  $momCols
       | FROM l)
       |$lagRows
       |ORDER BY lag""".stripMargin
  }

  /** q248 oracle generator: the Bahmani peel unrolled MATERIALIZED
    * round by round (the q116 convention), ε = 1 cross-multiplied
    * integer threshold, best round by NOT EXISTS over the exact
    * per-round (A, V) stats (strict improvement, earliest wins), then
    * the best round's degree census re-selected by round index. */
  private def densestOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""s${i - 1} AS (SELECT ${i - 1} AS round,
         |  CAST(coalesce(sum(deg), 0) AS BIGINT) AS a,
         |  CAST(count(*) AS BIGINT) AS v FROM d${i - 1}),
         |r${i - 1} AS MATERIALIZED (SELECT d${i - 1}.node
         | FROM d${i - 1}, s${i - 1}
         | WHERE deg * s${i - 1}.v <= 2 * s${i - 1}.a),
         |a$i AS MATERIALIZED (SELECT node, nbr FROM a${i - 1}
         | WHERE node NOT IN (SELECT node FROM r${i - 1})
         |  AND nbr NOT IN (SELECT node FROM r${i - 1})),
         |d$i AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
         | FROM a$i GROUP BY node)""".stripMargin
    }.mkString(",\n")
    val statsUnion = (0 until rounds)
      .map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    val degsUnion = (0 until rounds)
      .map(i => s"SELECT $i AS round, node, deg FROM d$i")
      .mkString(" UNION ALL ")
    s"""WITH n AS MATERIALIZED (SELECT DISTINCT o_orderkey % 200 AS i
       | FROM orders),
       |ring AS (SELECT i AS a, (i + 1) % 200 AS b FROM n),
       |cl AS (SELECT x.i AS a, y.i AS b FROM n x JOIN n y
       | ON x.i < y.i AND x.i < 20 AND y.i < 20),
       |und AS MATERIALIZED (SELECT DISTINCT least(a, b) AS u,
       |  greatest(a, b) AS v
       | FROM (SELECT * FROM ring UNION ALL SELECT * FROM cl)
       | WHERE a <> b),
       |a0 AS MATERIALIZED (SELECT u AS node, v AS nbr FROM und
       | UNION ALL SELECT v, u FROM und),
       |d0 AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
       | FROM a0 GROUP BY node),
       |$steps,
       |stats AS ($statsUnion),
       |best AS (SELECT round, a, v FROM stats s
       | WHERE v > 0 AND NOT EXISTS (SELECT 1 FROM stats t
       |  WHERE t.v > 0 AND t.a * s.v > s.a * t.v)
       | ORDER BY round LIMIT 1),
       |degs AS ($degsUnion)
       |SELECT g.node, g.deg, CAST(best.round AS INT) AS best_round,
       |  best.v AS best_v, best.a // 2 AS best_e,
       |  CAST(best.a // 2 AS DOUBLE) / CAST(best.v AS DOUBLE) AS density
       |FROM degs g, best WHERE g.round = best.round
       |ORDER BY node""".stripMargin
  }

  /** q249 oracle generator: the event-type transition chain, then the
    * stationary power iteration unrolled (the q98 convention) — uniform
    * start 1/n, per-round source-SORTED list_sum folds matching the
    * engine's exactFolds contract, dangling states holding their mass
    * via the same coalesce + CASE chain. */
  private def stationaryOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""x$i AS MATERIALIZED (SELECT d.node,
         |  coalesce(s.s, 0.0) + CASE WHEN NOT d.has_out THEN x.p
         |    ELSE 0.0 END AS p
         | FROM d JOIN x${i - 1} x USING (node) LEFT JOIN (
         |  SELECT e.dst AS node,
         |   list_sum(list(x.p * (CAST(e.w AS DOUBLE) /
         |     CAST(wt.wsum AS DOUBLE)) ORDER BY e.src)) AS s
         |  FROM e JOIN wt USING (src)
         |  JOIN x${i - 1} x ON x.node = e.src
         |  GROUP BY e.dst) s USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS MATERIALIZED (SELECT
       |  lag(event_type) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS src,
       |  event_type AS dst
       | FROM events),
       |e AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       | FROM tr WHERE src IS NOT NULL GROUP BY src, dst),
       |wt AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum
       | FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |d AS (SELECT node, node IN (SELECT src FROM e) AS has_out
       | FROM nodes),
       |x0 AS (SELECT node, 1.0 / CAST(nn.n AS DOUBLE) AS p
       | FROM nodes, nn),
       |$steps
       |SELECT node, p FROM x$iters ORDER BY node""".stripMargin
  }

  private def textRankOracle(iters: Int): String = {
    val oneMinusD = "(CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))"
    val rounds = (1 to iters).map { i =>
      s"""s$i AS MATERIALIZED (SELECT e.dst AS node,
         |  list_sum(list(p.pr * (CAST(e.w AS DOUBLE) / CAST(d.deg AS DOUBLE))
         |   ORDER BY e.src)) AS s
         | FROM e JOIN deg d USING (src) JOIN p${i - 1} p ON p.node = e.src
         | GROUP BY e.dst),
         |p$i AS MATERIALIZED (SELECT n.node,
         |  $oneMinusD
         |   + CAST(0.85 AS DOUBLE) * coalesce(s.s, CAST(0 AS DOUBLE)) AS pr
         | FROM nodes n LEFT JOIN s$i s USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       | SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |  x -> x <> '') AS t FROM documents),
       |bg AS (SELECT u.w1 AS w1, u.w2 AS w2 FROM (
       | SELECT unnest(list_transform(
       |  generate_series(1, greatest(len(t) - 1, 0)),
       |  i -> {'w1': t[i], 'w2': t[i + 1]})) AS u
       | FROM toks)),
       |pw AS (SELECT least(w1, w2) AS u, greatest(w1, w2) AS v,
       |  count(*) AS w FROM bg WHERE w1 <> w2 GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM pw
       | UNION ALL SELECT v, u, w FROM pw),
       |deg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS deg
       | FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |p0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) AS pr FROM nodes),
       |$rounds
       |SELECT node AS word, pr AS score FROM p$iters ORDER BY word""".stripMargin
  }

  /** The q132 oracle: Bellman-Ford min-combine rounds unrolled
    * MATERIALIZED (the kCore/LPA convention for iterative oracles) —
    * each round unions the previous distances with one relaxation step
    * and keeps the per-(node, landmark) min. Post-convergence rounds
    * are no-ops, so over-unrolling to the engine's maxRounds pins the
    * two bounds together. */
  private def wspOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, landmark, min(dist) AS dist
         | FROM (SELECT node, landmark, dist FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst, d.landmark, d.dist + e.w
         |  FROM d${i - 1} d JOIN e ON e.src = d.node)
         | GROUP BY node, landmark)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
       | FROM (SELECT o_custkey % 200 AS src, o_orderkey % 200 AS dst,
       |  o_orderkey % 7 + 1 AS w FROM orders WHERE o_orderkey < 2000)
       | GROUP BY src, dst),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |seeds AS (SELECT node FROM nodes WHERE node % 50 = 0),
       |d0 AS MATERIALIZED (SELECT node, node AS landmark,
       | CAST(0 AS BIGINT) AS dist FROM seeds),
       |$steps
       |SELECT node, landmark, dist FROM d$rounds
       |ORDER BY node, landmark""".stripMargin
  }


  /** Shared exact baseline for the q108–q110 recall gates: brute-force
    * cosine top-10 over the `vec_id % 25` query set. A def, not a val:
    * the oracles map above initializes first. */
  private def recallBaselineOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 25 = 0),
      |scored AS (
      | SELECT q.query_id, c.vec_id AS nbr_id,
      |  list_sum(list_transform(list_zip(q.qe, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |   / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      | FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id)
      |SELECT query_id, nbr_id, cos, rank FROM (
      | SELECT query_id, nbr_id, cos,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
      | FROM scored) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Shared by q88 (direct PQ top-k) and q89 (the persisted IVF-PQ
    * index at full probe — same scores by construction). A def, not a
    * val: the oracles map above initializes first. */
  private def pqTopKOracle: String =
      """WITH sub AS (SELECT CAST(s AS INTEGER) AS s FROM generate_series(0, 7) t(s)),
        |cb AS (
        | SELECT CAST(vec_id AS INTEGER) AS j, s,
        |  list_transform(embedding[s*8+1 : s*8+8], x -> CAST(x AS DOUBLE)) AS cw
        | FROM embeddings CROSS JOIN sub WHERE vec_id < 16),
        |assg AS (
        | SELECT e.vec_id, c.s, c.j,
        |  list_sum(list_transform(list_zip(
        |    list_transform(e.embedding[c.s*8+1 : c.s*8+8], x -> CAST(x AS DOUBLE)), c.cw),
        |   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        | FROM embeddings e CROSS JOIN cb c),
        |best AS (
        | SELECT vec_id, s, j FROM (
        |  SELECT vec_id, s, j,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, j ASC) AS rn
        |  FROM assg) WHERE rn = 1),
        |deq AS (
        | SELECT b.vec_id, flatten(list(c.cw ORDER BY b.s)) AS dv
        | FROM best b JOIN cb c ON c.s = b.s AND c.j = b.j GROUP BY b.vec_id),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |scored AS (
        | SELECT q.query_id, d.vec_id AS nbr_id,
        |  list_sum(list_transform(list_zip(q.qe, d.dv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(d.dv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        | FROM deq d CROSS JOIN q WHERE d.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, cos, rank FROM (
        | SELECT query_id, nbr_id, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        | FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
}
