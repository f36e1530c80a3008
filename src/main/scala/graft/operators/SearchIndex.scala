package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Full-text index construction + token-match search (SURVEY.md §2.9
 * N1-N3), replacing the reference's ArangoSearch analyzers/views
 * (ArangoDbUtilities.py:209-358) with a materialized inverted-index
 * DataFrame — the Spark-native shape: build is one explode+distinct
 * (narrow then single shuffle for dedup), search is a filter on the
 * literal tokens, and the postings table bucketizes by token so that
 * filter prunes the scan to the queried tokens' buckets.
 *
 * Analyzers:
 *  - N1 char n-gram (min 3, max 4, preserveOriginal=true) — substring
 *    search;
 *  - N2 "text" analyzer: lowercase, accent-fold, NO stemming, word
 *    edge-n-grams 3..12 — typeahead/prefix search;
 *  - N3 the index over configured (collection, field) pairs.
 */
object SearchIndex {

  /** Accent fold for the text analyzer (reference: accent=False). */
  def deAccent(c: Column): Column =
    translate(c,
      "àáâãäåçèéêë" +
        "ìíîïñòóôõö" +
        "ùúûüý",
      "aaaaaaceeeeiiiinooooouuuuy")

  /** N1 — char n-grams of every length in [minN, maxN], plus the original
    * string when preserveOriginal (ArangoDbUtilities.py:222-234). One
    * codegen'd call per row (CharNgrams) — the per-position interpreted
    * HOF it replaces is kept as [[charNgramsHof]], spec-pinned equal. */
  def charNgrams(c: Column, minN: Int = 3, maxN: Int = 4,
                 preserveOriginal: Boolean = true): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.CharNgrams(
        org.apache.spark.sql.graft.ColumnShim.expression(c),
        minN, maxN, preserveOriginal))

  private[graft] def charNgramsHof(c: Column, minN: Int = 3, maxN: Int = 4,
                 preserveOriginal: Boolean = true): Column = {
    val grams = (minN to maxN).map { n =>
      filter(
        transform(sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
          i => when(i + (n - 1) <= length(c), c.substr(i, lit(n)))),
        x => x.isNotNull)
    }
    val all = grams.reduce(concat(_, _))
    array_distinct(if (preserveOriginal) concat(all, array(c)) else all)
  }

  /** N2 — text-analyzer tokens: lowercase, accent-fold, split on
    * non-alphanumerics, edge n-grams 3..12 of each word plus the full
    * word (ArangoDbUtilities.py:235-250). Normalization stays native
    * codegen'd expressions; the per-word prefix fan-out is one generated
    * call (EdgeNgrams), spec-pinned equal to [[edgeNgramTokensHof]]. */
  def edgeNgramTokens(c: Column, minN: Int = 3, maxN: Int = 12): Column = {
    val words = filter(split(deAccent(lower(c)), "[^a-z0-9]+"), w => w =!= "")
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.EdgeNgrams(
        org.apache.spark.sql.graft.ColumnShim.expression(words), minN, maxN))
  }

  private[graft] def edgeNgramTokensHof(c: Column, minN: Int = 3,
                                        maxN: Int = 12): Column = {
    val words = filter(split(deAccent(lower(c)), "[^a-z0-9]+"), w => w =!= "")
    array_distinct(flatten(transform(words, w =>
      concat(
        filter(
          transform(sequence(lit(minN), lit(maxN)),
            n => when(n <= length(w), w.substr(lit(1), n))),
          x => x.isNotNull),
        array(w)))))
  }

  /** N3 — inverted-index build: one posting row per distinct
    * (id, field, token). `fields` maps field column -> analyzer column
    * producing an array of tokens. */
  def postings(df: DataFrame, idCols: Seq[String],
               fields: Map[String, Column => Column]): DataFrame = {
    val perField = fields.map { case (field, analyzer) =>
      df.select(
        idCols.map(col) :+ lit(field).as("field") :+
          explode(analyzer(col(field))).as("token"): _*)
    }
    perField.reduce(_.unionByName(_)).distinct()
  }

  /** Token-match search: the postings rows of the query tokens, each
    * tagged with its token as `q` (the index's columns, then `q`). The
    * tokens are literals in the scan's filter, so over a view
    * ([[createView]]) the scan reads only the buckets they hash to; no
    * join, one job. A token repeated in `queries` matches once. */
  def search(index: DataFrame, queries: Seq[String]): DataFrame =
    index.filter(col("token").isin(queries.distinct: _*))
      .withColumn("q", col("token"))

  /** View lifecycle (ArangoDbUtilities.py:209-358 create_analyzers /
    * delete_analyzers / create_view — the delete-then-recreate management
    * the reference runs on every load): the "view" is a persisted
    * postings table bucketed+sorted by token, so a [[search]] reads only
    * the files of the buckets its tokens hash to (bucket pruning; the
    * planner may still turn the bucketed scan itself off, which keeps
    * the pruning).
    * `collections` mirrors create_view's per-database link whitelist
    * (ArangoDbUtilities.py:332-352): when set and the source has a
    * `collection` column, only whitelisted collections are indexed. */
  def createView(df: DataFrame, idCols: Seq[String],
                 fields: Map[String, Column => Column], table: String,
                 buckets: Int = 16,
                 collections: Option[Seq[String]] = None): Unit = {
    val src = collections match {
      case Some(allowed) =>
        require(df.columns.contains("collection"),
          "a collections whitelist needs a 'collection' column on the " +
            s"source frame (got: ${df.columns.mkString(", ")})")
        df.filter(col("collection").isin(allowed.map(lit): _*))
      case None => df
    }
    Scale.resetManagedTable(df.sparkSession, table)
    postings(src, idCols, fields).write.mode("overwrite")
      .bucketBy(buckets, "token").sortBy("token")
      .format("parquet").saveAsTable(table)
  }

  /** delete_analyzers semantics: ignore-missing drop. */
  def dropView(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$table`")

  /** The reference's full refresh sequence (delete analyzers + views,
    * recreate both) collapses to drop + overwrite-create. */
  def recreateView(df: DataFrame, idCols: Seq[String],
                   fields: Map[String, Column => Column], table: String,
                   buckets: Int = 16,
                   collections: Option[Seq[String]] = None): Unit = {
    dropView(df.sparkSession, table)
    createView(df, idCols, fields, table, buckets, collections)
  }

  // -----------------------------------------------------------------
  // Phrase search — ArangoSearch PHRASE() over positional postings
  // -----------------------------------------------------------------

  /** Positional postings: one row per (id, token, pos) occurrence —
    * the index shape phrase/proximity queries need (plain [[postings]]
    * deduplicates and drops positions). Narrow: one tokenize +
    * posexplode pass, no shuffle. */
  def positionalPostings(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(rankTokens(col(textCol))).as(Seq("pos", "token")))

  /** Exact phrase match (ArangoSearch `PHRASE()` semantics on the word
    * tokenizer): docs where the phrase's tokens occur CONSECUTIVELY.
    * `phrases` rows are (`pIdCol`, `pTextCol`); returns (phrase_id,
    * doc id, n_anchors = number of occurrence start positions).
    *
    * Not a k-way self-join of the postings (the textbook positional
    * intersection — k−1 joins for a k-word phrase): each phrase token j
    * matches postings at anchor = pos − j, so ONE broadcast join +
    * one count-distinct-j aggregate finds anchors where ALL k tokens
    * line up, for every phrase at once. Scales as (postings ⋈ tiny
    * phrase side) + one shuffle on (phrase, doc, anchor). */
  def phraseSearch(docs: DataFrame, phrases: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   pIdCol: String = "phrase_id",
                   pTextCol: String = "phrase"): DataFrame = {
    require(idCol != pIdCol,
      s"doc id column '$idCol' collides with the phrase id output column")
    val ptok = phrases.select(col(pIdCol).as("phrase_id"),
        posexplode(rankTokens(col(pTextCol))).as(Seq("__j", "token")))
    // match rule below counts distinct OFFSETS j, so a phrase with a
    // repeated token ("a b a") still requires every offset to line up
    val plen = ptok.groupBy("phrase_id")
      .agg((max(col("__j")) + 1).as("__len"))
    positionalPostings(docs, idCol, textCol)
      .join(broadcast(ptok), "token")
      .withColumn("__anchor", col("pos") - col("__j"))
      .filter(col("__anchor") >= 0)
      .groupBy(col("phrase_id"), col("id"), col("__anchor"))
      .agg(countDistinct(col("__j")).as("__hit"))
      .join(broadcast(plen), "phrase_id")
      .filter(col("__hit") === col("__len"))
      .groupBy(col("phrase_id"), col("id"))
      .agg(count(lit(1)).as("n_anchors"))
      .withColumnRenamed("id", idCol)
  }

  // -----------------------------------------------------------------
  // BM25 ranked retrieval — the scoring half of ArangoSearch views
  // -----------------------------------------------------------------

  /** Word tokens for ranking: lowercase alphanumeric runs — the same
    * tokenizer as [[graft.operators.Corpus.tfidfTopTerms]] (ranking
    * operates on whole words; the n-gram analyzers above serve
    * substring/typeahead MATCHING, where document frequency is
    * meaningless). */
  private def rankTokens(c: Column): Column =
    filter(split(deAccent(lower(c)), "[^a-z0-9]+"), t => t =!= "")

  /** The BM25 per-term weight over columns (tf, df, dl) and broadcast
    * stats (__n docs, avgdl):
    * `idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))`.
    * `lnIdf = true` is the production Lucene/ArangoSearch idf
    * `ln(1 + (N−df+0.5)/(df+0.5))`; `lnIdf = false` drops the ln for the
    * RATIONAL idf — every remaining operation is IEEE +,·,/ so any
    * engine computes bit-identical doubles and the result can be
    * oracle-gated (q90/q91), the same trick as the tf·(N/df) gate q58.
    * Rankings agree whenever idf ordering agrees (ln is monotone). */
  private def bm25TermScore(k1: Double, b: Double, lnIdf: Boolean): Column = {
    val idfRaw = (col("__n").cast("double") - col("df") + lit(0.5d)) /
      (col("df") + lit(0.5d))
    val idf = if (lnIdf) log1p(idfRaw) else idfRaw
    idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl").cast("double") / col("avgdl")))
  }

  /** Fail fast when a ranking id column is not integral: the top-k heap
    * aggregate packs ids into a long, so a string/decimal id would cast
    * to null and corrupt the ranking silently instead of erroring. */
  private def requireIntegralId(df: DataFrame, idCol: String,
                                what: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$what id column '$idCol' must be an integral type, got $dt " +
        "(top-k ranking packs ids as long)")
  }

  /** Shared ranking tail: per-term postings (id, token, tf, dl, df) ×
    * 1-row stats (__n, avgdl) × queries → top-`k` docs per query.
    *
    * Shape at 100 TB: the query side is tiny — broadcast onto the
    * postings so only matching terms survive the scan; the per-(query,
    * doc) term sum folds a SORTED token array (float addition ordered
    * the same on every engine AND every partitioning — a plain sum()
    * of doubles is shuffle-order-dependent); the final top-k is the
    * BoundedTopK bounded-heap aggregate, truncating to k per map task
    * BEFORE the query_id shuffle (a rank window would funnel every
    * scored doc into |queries| tasks). Ties to the lower doc id. */
  private def bm25Rank(term: DataFrame, stats: DataFrame, queries: DataFrame,
                       k: Int, k1: Double, b: Double, lnIdf: Boolean,
                       qIdCol: String, qTextCol: String): DataFrame = {
    // topKPairs packs the doc id into a long heap slot; a string or
    // decimal id would cast to null and silently corrupt the ranking
    requireIntegralId(term, "id", "bm25 corpus")
    val qtok = queries.select(col(qIdCol).as("query_id"),
      explode(array_distinct(rankTokens(col(qTextCol)))).as("token"))
    val scored = term.join(broadcast(qtok), "token")
      .crossJoin(broadcast(stats))
      .withColumn("__s", bm25TermScore(k1, b, lnIdf))
    val perDoc = scored.groupBy(col("query_id"), col("id"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("token"), col("__s").as("s")))),
        lit(0.0d), (acc, x) => acc + x.getField("s")).as("score"))
    perDoc.groupBy("query_id")
      .agg(graft.functions.VectorExpressions.topKPairs(
        struct(col("score").cast("double").as("cos"),
          col("id").cast("long").as("id")), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("r0", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        col("t.cos").as("score"), (col("r0") + 1).cast("int").as("rank"))
  }

  /** One-shot BM25 top-`k`: corpus statistics (tf, dl, df, N, avgdl) are
    * derived in-query — two partial aggs over the token stream plus a
    * vocabulary-sized df agg (Zipf-bounded). For a repeatedly-queried
    * corpus build [[createBm25View]] once instead and probe it with
    * [[bm25Query]] — same scores, no per-query corpus pass.
    * `queries` rows are (`qIdCol`, `qTextCol`). */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text",
               qIdCol: String = "query_id", qTextCol: String = "qtext",
               lnIdf: Boolean = true): DataFrame = {
    // ONE tokenize+aggregate pass over the corpus: dl (Σ tf per doc),
    // df, and avgdl (Σ tf / N — identical integers to Σ dl / N) all
    // derive from the materialized tf, never from a re-scan
    val tf = docs.select(col(idCol).as("id"),
        explode(rankTokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val stats = tf.agg(sum("tf").as("__tok")).crossJoin(n)
      .select(col("__n"),
        (col("__tok").cast("double") / col("__n")).as("avgdl"))
    bm25Rank(tf.join(dl, "id").join(dfreq, "token"), stats, queries,
      k, k1, b, lnIdf, qIdCol, qTextCol)
  }

  /** Materialized BM25 "ranked view" — the index-build half of the
    * reference's view lifecycle, extended with ranking statistics:
    * `<table>` holds the postings (id, token, tf, dl) bucketed+sorted by
    * token, `<table>_df` the document frequencies bucketed the SAME way
    * (so the probe-time df join is plan-level shuffle-free), and
    * `<table>_meta` the 1-row corpus stats (n_docs, avgdl). Build pays
    * the corpus pass once; every probe is then broadcast-join + bucketed
    * join + one bounded-top-k shuffle. */
  def createBm25View(docs: DataFrame, table: String, buckets: Int = 16,
                     idCol: String = "doc_id",
                     textCol: String = "text"): Unit = {
    requireIntegralId(docs, idCol, "bm25 corpus")
    val spark = docs.sparkSession
    // one tokenize pass; dl folds back from tf, df/avgdl read the
    // WRITTEN postings — the corpus text is scanned exactly once
    val tf = docs.select(col(idCol).as("id"),
        explode(rankTokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // dl joins tf against itself — scan once
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    Scale.writeBucketed(tf.join(dl, "id"), "token", buckets, table)
    val written = spark.table(table)
    Scale.writeBucketed(
      written.groupBy("token").agg(count(lit(1)).as("df")),
      "token", buckets, s"${table}_df")
    Scale.resetManagedTable(spark, s"${table}_meta")
    // n_tokens is avgdl's MONOID PART: avgdl itself doesn't re-combine,
    // so the incremental path ([[appendToBm25View]]) merges (n_docs,
    // n_tokens) and re-derives avgdl — the same sum/count trick as
    // Merge.mergeAggregates' non-monoid-metrics rule
    val n = docs.agg(count(lit(1)).as("__n"))
    written.agg(sum("tf").as("__tok")).crossJoin(n)
      .select(col("__n").as("n_docs"), col("__tok").as("n_tokens"),
        (col("__tok").cast("double") / col("__n")).as("avgdl"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_meta")
  }

  /** Incremental maintenance of a [[createBm25View]] index: fold a batch
    * of NEW documents in without re-reading the indexed corpus — the
    * composition of the ranked view with the monoid-merge rule
    * ([[Merge.mergeAggregates]]). Spec-pinned ≡ dropping and rebuilding
    * the view over the union (gate q111 runs the appended view under the
    * q90 oracle); the reference can only drop-and-recreate its ranked
    * views (cell-kn-mvp-etl-results/.../ArangoDbUtilities.py:209-358).
    *
    * Per table: postings are APPEND-ONLY (new doc ids touch no existing
    * row — tf and dl are per-doc facts, so delta rows land as new files
    * in their token buckets); df re-combines by `df_new = df_old +
    * df_delta` (count monoid) and the vocabulary-sized table rewrites;
    * the 1-row meta re-derives avgdl from its merged monoid parts.
    *
    * Precondition (CDC append contract): `newDocs` ids are NOT already
    * in the view — a re-sent document would double-count its tokens.
    * Updating a document is a different operation (anti-join the old
    * rows out first, or rebuild), exactly as in [[Similarity]]'s frozen-
    * quantizer appends.
    *
    * Shape at 100 TB: one tokenize pass over the DELTA only; the only
    * table rewritten is Zipf-bounded (vocabulary-sized); the corpus-
    * sized postings table is never read, never shuffled, never moved. */
  def appendToBm25View(newDocs: DataFrame, table: String, buckets: Int = 16,
                       idCol: String = "doc_id",
                       textCol: String = "text"): Unit = {
    requireIntegralId(newDocs, idCol, "bm25 corpus")
    val spark = newDocs.sparkSession
    val tf = newDocs.select(col(idCol).as("id"),
        explode(rankTokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    val delta = tf.join(dl, "id")
      .select("id", "token", "tf", "dl") // column order of the base table
    delta.write.mode("append")
      .bucketBy(buckets, "token").sortBy("token")
      .format("parquet").saveAsTable(table)
    val dfDelta = delta.groupBy("token").agg(count(lit(1)).as("df"))
    // materialize the merge BEFORE writeBucketed drops the table it reads
    val dfMerged = graft.operators.Merge.mergeAggregates(
        spark.table(s"${table}_df"), dfDelta,
        Seq("token"), Seq("df" -> "sum"))
      .localCheckpoint(true)
    Scale.writeBucketed(dfMerged, "token", buckets, s"${table}_df")
    val metaDelta = tf.agg(
      countDistinct(col("id")).as("n_docs"), sum("tf").as("n_tokens"))
    val metaMerged = spark.table(s"${table}_meta")
      .select("n_docs", "n_tokens")
      .unionByName(metaDelta)
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
      .select(col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_docs")).as("avgdl"))
      .localCheckpoint(true)
    Scale.resetManagedTable(spark, s"${table}_meta")
    metaMerged.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_meta")
  }

  /** Probe a [[createBm25View]] index: identical scores to [[bm25TopK]]
    * over the same corpus (spec-pinned; gate q91 runs under q90's
    * oracle), without re-deriving any corpus statistic. The tf ⋈ df join
    * is bucket-local — plan-asserted shuffle-free in SearchIndexSpec. */
  def bm25Query(spark: org.apache.spark.sql.SparkSession, table: String,
                queries: DataFrame, k: Int,
                k1: Double = 1.2, b: Double = 0.75,
                qIdCol: String = "query_id", qTextCol: String = "qtext",
                lnIdf: Boolean = true): DataFrame = {
    val term = spark.table(table).join(spark.table(s"${table}_df"), "token")
    val stats = spark.table(s"${table}_meta")
      .select(col("n_docs").as("__n"), col("avgdl"))
    bm25Rank(term, stats, queries, k, k1, b, lnIdf, qIdCol, qTextCol)
  }

  /** Ordered proximity search (the slop form of [[phraseSearch]], like
    * Lucene's `"a b"~N` or ArangoSearch `PHRASE(f, a, n, b)` for token
    * pairs): per (pair, doc), the number of occurrence position pairs
    * (pa, pb) with `0 < pb − pa ≤ 1 + slop` — slop 0 degenerates to
    * adjacent (phrase) matching, spec-pinned ≡ [[phraseSearch]] on
    * 2-token phrases. `pairs` rows are (pIdCol, aCol, bCol).
    *
    * Shape at 100 TB: anchors = postings ⋈ broadcast(pair side) stays
    * narrow; the candidate join is an equi-join on (doc, token) between
    * the anchor sliver and the postings — only docs containing token_a
    * participate, and the position-band filter applies on the joined
    * rows (never a range/cross join). */
  def proximitySearch(docs: DataFrame, pairs: DataFrame, slop: Int = 2,
                      idCol: String = "doc_id", textCol: String = "text",
                      pIdCol: String = "pair_id", aCol: String = "token_a",
                      bCol: String = "token_b"): DataFrame = {
    require(idCol != pIdCol,
      s"doc id column '$idCol' collides with the pair id output column")
    val post = positionalPostings(docs, idCol, textCol)
    val aSide = post
      .join(broadcast(pairs.select(col(pIdCol).as("pair_id"),
        lower(col(aCol)).as("token"), lower(col(bCol)).as("__tok_b"))),
        "token")
      .select(col("pair_id"), col("id"), col("pos").as("__pa"),
        col("__tok_b").as("token"))
    aSide.join(post, Seq("token", "id"))
      .filter((col("pos") - col("__pa")).between(1, 1 + slop))
      .groupBy(col("pair_id"), col("id"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumnRenamed("id", idCol)
  }

  /** General ordered-window search: ALL of a phrase's tokens in order
    * with every consecutive gap in [1, 1+slop] — the k-token
    * generalization of [[proximitySearch]] (slop 0 ≡ [[phraseSearch]],
    * spec-pinned). Returns (pIdCol, doc id, n_anchors = distinct
    * first-token positions starting at least one valid chain).
    *
    * Engine shape: the frontier advances one phrase-token per step —
    * (phrase, doc, start, cur) tuples DISTINCT'd each step so chain
    * multiplicity never multiplies (state is bounded by positions², not
    * by the number of chains); each step is the anchor sliver ⋈
    * broadcast(step tokens) ⋈ postings on (doc, token) with the
    * position band as a post-join filter. Steps = max phrase length
    * (phrases are config-sized); the corpus-sized postings never
    * re-shuffle their text. */
  def orderedSearch(docs: DataFrame, phrases: DataFrame, slop: Int = 1,
                    idCol: String = "doc_id", textCol: String = "text",
                    pIdCol: String = "phrase_id",
                    pTextCol: String = "phrase"): DataFrame = {
    require(idCol != pIdCol,
      s"doc id column '$idCol' collides with the phrase id output column")
    val post = positionalPostings(docs, idCol, textCol)
    val ptok = phrases.select(col(pIdCol).as("pid"),
      posexplode(rankTokens(col(pTextCol))).as(Seq("__j", "token")))
    val plen = ptok.groupBy("pid").agg((max(col("__j")) + 1).as("__len"))
    // no phrases, or none that tokenizes to any token: the max aggregate
    // is null — return the (typed) empty result instead of an NPE
    val maxLenRow = plen.agg(max(col("__len"))).head()
    if (maxLenRow.isNullAt(0))
      return phrases.select(col(pIdCol)).limit(0)
        .crossJoin(docs.select(col(idCol)).limit(0))
        .withColumn("n_anchors", lit(0L))
    val maxLen = maxLenRow.getInt(0)
    var anchors = post
      .join(broadcast(ptok.filter(col("__j") === 0).drop("__j")), "token")
      .select(col("pid"), col("id"), col("pos").as("__start"),
        col("pos").as("__cur"))
    var done = anchors.join(broadcast(plen.filter(col("__len") === 1)), "pid")
      .select(col("pid"), col("id"), col("__start"))
    for (j <- 1 until maxLen) {
      anchors = anchors
        .join(broadcast(ptok.filter(col("__j") === j).drop("__j")), "pid")
        .join(post.withColumnRenamed("pos", "__next"), Seq("token", "id"))
        .filter((col("__next") - col("__cur")).between(1, 1 + slop))
        .select(col("pid"), col("id"), col("__start"),
          col("__next").as("__cur"))
        .distinct()
      done = done.unionByName(
        anchors.join(broadcast(plen.filter(col("__len") === j + 1)), "pid")
          .select(col("pid"), col("id"), col("__start")))
    }
    done.groupBy(col("pid").as(pIdCol), col("id"))
      .agg(countDistinct(col("__start")).as("n_anchors"))
      .withColumnRenamed("id", idCol)
  }

  // -----------------------------------------------------------------
  // Hybrid retrieval — reciprocal-rank fusion of ranked lists
  // -----------------------------------------------------------------

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the standard
    * hybrid-search combiner for lexical + vector retrieval: each
    * retriever's ranked list contributes `1 / (rrfK + rank)` per (query,
    * doc), the fused score is the sum, and the fused ranking re-sorts on
    * it (ties to the lower doc id). Rank-only fusion needs no score
    * calibration across retrievers — BM25 scores and cosines never mix —
    * and every operation is IEEE +,/ folded in retriever-tag-sorted
    * order, so the q96 gate replays cell-exact in any engine.
    *
    * `rankings` pairs a tag with a (qCol, idCol, rankCol) frame — e.g.
    * `Seq("bm25" -> bm25TopK(...), "vec" -> bruteForceTopK(...))`.
    * Returns (qCol, idCol, n_retrievers, rrf_score, rank ≤ topK).
    *
    * Shape at 100 TB: inputs are already per-query top-k truncated by
    * their retrievers (BoundedTopK / bm25Rank), so the union carries
    * O(|queries|·k·|retrievers|) rows — the fusion groupBy and the
    * per-query rank window are shuffles over that small frame, never
    * over a corpus. */
  def rrfFuse(rankings: Seq[(String, DataFrame)], rrfK: Int = 60,
              topK: Int = 10, qCol: String = "query_id",
              idCol: String = "doc_id", rankCol: String = "rank")
      : DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val tagged = rankings.map { case (tag, df) =>
      df.select(col(qCol), col(idCol), lit(tag).as("__src"),
        (lit(1.0) / (lit(rrfK.toDouble) + col(rankCol).cast("double")))
          .as("__c"))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qCol).orderBy(col("rrf_score").desc, col(idCol).asc)
    tagged.groupBy(col(qCol), col(idCol))
      .agg(
        count(lit(1)).as("n_retrievers"),
        aggregate(
          sort_array(collect_list(struct(col("__src"), col("__c")))),
          lit(0.0), (acc, x) => acc + x.getField("__c")).as("rrf_score"))
      .withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= topK)
  }

  /** Retrieval-quality eval: precision@k, recall@k, and reciprocal
    * rank (within k) per query, given a ranked result table and a
    * relevance-judgment table — the standard harness for grading any
    * of the retrievers here (BM25, phrase, hybrid RRF, ANN) against
    * labeled judgments. Exact by construction: hits and judgment
    * counts are BIGINTs and each metric is ONE division of exact
    * integers (rr = 1/first_relevant_rank; 0 when no hit in the
    * top k). Queries with judgments but no hits still emit a row
    * (zeros), so macro-averaging downstream is honest.
    *
    * Scale: one (query, doc) equi-join of the top-k slice against the
    * judgments plus two small per-query censuses — nothing touches
    * document bodies. */
  def precisionRecallAtK(results: DataFrame, relevant: DataFrame, k: Int,
      queryCol: String = "query", docCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def dbl(c: Column): Column = c.cast("double")
    val topk = results.filter(col(rankCol) <= k)
      .select(col(queryCol).as("q"), col(docCol).as("d"),
        col(rankCol).as("r"))
    val rel = relevant.select(col(queryCol).as("q"), col(docCol).as("d"))
      .distinct()
    val relCount = rel.groupBy("q").agg(count(lit(1)).as("n_rel"))
    val hits = topk.join(rel, Seq("q", "d"))
      .groupBy("q")
      .agg(count(lit(1)).as("hits"), min(col("r")).as("__first"))
    relCount.join(hits, Seq("q"), "left")
      .select(col("q").as(queryCol), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (dbl(coalesce(col("hits"), lit(0L))) / lit(k.toDouble))
          .as("p_at_k"),
        (dbl(coalesce(col("hits"), lit(0L))) / dbl(col("n_rel")))
          .as("recall_at_k"),
        coalesce(lit(1.0d) / dbl(col("__first")), lit(0.0d)).as("rr"))
  }
}
