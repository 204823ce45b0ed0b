package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{EsBulkSink, SnapshotStore}

/** What one benchmark step sees: the session, the generated input directory
  * and a scratch directory the step may write under. */
final case class Ctx(spark: SparkSession, in: String, out: String)

/** One call into a layer: `build` is the operator call (everything up to
  * the DataFrame); `sink` materializes every output column, through Spark's
  * noop sink unless the step is one of the pipeline's real writes. With
  * `oracle`, `name` is a registered query whose DuckDB twin checks the
  * output.
  */
final case class Step(name: String, layer: String, build: Ctx => DataFrame,
    sink: Option[Sink] = None, oracle: Boolean = false)

/** A real write at the end of a pipeline, into the directory it is given. */
final case class Sink(layer: String, name: String, write: (Ctx, DataFrame, String) => Unit)

object Workloads {
  private val Vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row " +
    "the agg key query a scan batch").split(" ").toIndexedSeq
  private val Langs = IndexedSeq("en", "zh", "es", "fr", "de")

  /** Registered query as a step, checked against its own DuckDB twin. */
  private def q(name: String, layer: String)(fn: (SparkSession, String) => DataFrame): Step =
    Step(name, layer, c => fn(c.spark, c.in), oracle = true)

  // ------------------------------------------------------------- nightly

  private val esBulk = Sink("sources", "EsBulkSink.write",
    (_, df, dir) => EsBulkSink.write(df, dir, numFiles = 2))

  /** Tonight's snapshot into the snapshot store at `dir`, then
    * keep-last-2 retention. */
  private val snapshot = Sink("sources", "SnapshotStore.write",
    { (c, df, dir) =>
      val ts = SnapshotStore.list(c.spark, dir).headOption.getOrElse(0L) + 1
      SnapshotStore.write(df, dir, ts)
      SnapshotStore.prune(c.spark, dir, keep = 2)
    })

  /** The nightly job: refresh the search index (sync, normalize, embed,
    * and the bulk and snapshot writes), then curate the corpus (language
    * id, near-duplicate dedup, duplicate clustering). */
  val nightly: Seq[Step] = Seq(
    q("sync_diff", "SyncOps")(SyncOps.qSyncDiff),
    q("site_eea", "SiteNormalizers")(SiteNormalizers.qSiteEea),
    q("main_text_blocks", "NormOps")(NormOps.qMainTextBlocks).copy(sink = Some(snapshot)),
    q("embed_attach", "EmbedOps")(EmbedOps.qEmbedAttach),
    q("es_bulk_format", "SearchOps")(SearchOps.qEsBulkFormat).copy(sink = Some(esBulk)),
    q("lang_id", "TextAnalysis")(TextAnalysis.qLangId),
    q("dedup_minhash", "DedupOps")(DedupOps.qDedupMinhash),
    q("dedup_cluster", "GraphOps")(GraphOps.qDedupCluster))

  // --------------------------------------------------------- interactive

  /** One request of the interactive mix, built from seeded parameters. */
  final case class Request(kind: String, layer: String, build: Ctx => DataFrame)

  /** Top-k of the given vectors from the persisted IVF-PQ index, with the
    * probe widths the registered ANN query uses for this corpus. */
  def annQuery(c: Ctx, index: String, ids: Seq[Long], k: Int): DataFrame = {
    val n = graft.Tables.rowCountFromFooters(c.spark, c.in, "embeddings")
    AnnOps.ivfpqQueryIndex(c.spark, index,
      AnnOps.corpus(c.spark, c.in).filter(col("vec_id").isin(ids: _*)), k = k,
      cprobe = AnnOps.ivf2Cprobe(AnnOps.ivf2Ncoarse(n)),
      nprobeF = AnnOps.ivf2NprobeF(AnnOps.IvfCellTarget))
  }

  private val relational: IndexedSeq[(SparkSession, String) => DataFrame] = IndexedSeq(
    Relational.q1Agg, Relational.q3TopK, Relational.q12PartTypeRevenue)

  val requestKinds: Seq[String] = Seq("bm25", "multi_match", "bool", "phrase", "facet",
    "es_query", "es_agg", "semantic", "ann", "sql")

  /** A seeded request sequence in batches of one request of each kind, in
    * seeded order; every request draws its parameters (terms, filters,
    * query vectors, SQL query) from the seed. `annIds` are the vector ids
    * ANN requests may ask about. */
  def requests(seed: Long, count: Int, annIds: IndexedSeq[Long], index: String): IndexedSeq[Request] = {
    val rnd = new scala.util.Random(seed)
    def word(): String = Vocab(rnd.nextInt(Vocab.size))
    def words(n: Int): Seq[String] = Seq.fill(n)(word()).distinct
    def docs(c: Ctx): DataFrame = graft.Tables.documents(c.spark, c.in)
    Iterator.continually(rnd.shuffle(requestKinds)).flatten.take(count).map { kind =>
      kind match {
        case "bm25" =>
          val t = words(2 + rnd.nextInt(2))
          Request("bm25", "SearchOps", c => SearchOps.matchBm25TopK(docs(c), "text", t, k = 10))
        case "multi_match" =>
          val t = words(2)
          Request("multi_match", "SearchOps", c => SearchOps.multiMatchTopK(
            docs(c).select(col("doc_id"), col("text"),
              array_join(slice(split(col("text"), " "), 1, 4), " ").as("title")),
            Seq("title" -> 3.0, "text" -> 1.0), t, k = 10))
        case "bool" =>
          val (a, b, l, s, n) = (word(), word(), Langs(rnd.nextInt(5)), rnd.nextInt(20), 100 + rnd.nextInt(300))
          Request("bool", "SearchOps", c => SearchOps.boolSearch(docs(c),
            must = Seq(col("text").contains(a), col("text").contains(b)),
            mustNot = Seq(col("lang") === l), exists = Seq("n_chars"),
            should = Seq(col("source") === s"src$s", col("n_chars") > n)))
        case "phrase" =>
          val p = Seq(word(), word())
          Request("phrase", "SearchOps", c => SearchOps.phraseTopK(docs(c), "text", p, k = 10))
        case "facet" =>
          val w = word()
          Request("facet", "SearchOps", c => SearchOps.facetCounts(
            docs(c).filter(col("text").contains(w)), Seq("lang", "source"), topN = 3))
        case "es_query" =>
          val body =
            s"""{"query": {"bool": {
               |  "must": [{"match": {"text": "${words(2).mkString(" ")}"}}],
               |  "filter": [{"range": {"n_chars": {"gte": ${50 + rnd.nextInt(200)}}}}],
               |  "must_not": [{"term": {"lang": "${Langs(rnd.nextInt(5))}"}}],
               |  "should": [{"term": {"source": "src${rnd.nextInt(20)}"}}]}},
               | "size": 10, "_source": ["doc_id", "lang", "source"]}""".stripMargin
          Request("es_query", "EsQuery", c => EsQuery.search(docs(c), body))
        case "es_agg" =>
          val field = if (rnd.nextBoolean()) "lang" else "source"
          val body =
            s"""{"query": {"bool": {"filter": [{"exists": {"field": "n_chars"}}],
               |  "must": [{"match": {"text": "${word()}"}}]}},
               | "aggs": {"by_$field": {"terms": {"field": "$field", "size": 10},
               |   "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}""".stripMargin
          Request("es_agg", "EsQuery", c => EsQuery.aggregations(docs(c), body))
        case "semantic" =>
          val text = words(4).mkString(" ")
          Request("semantic", "EmbedOps", c => EmbedOps.semanticSearchTopK(docs(c), text, k = 10))
        case "ann" =>
          val ids = Seq.fill(2)(annIds(rnd.nextInt(annIds.size)))
          Request("ann", "AnnOps", c => annQuery(c, index, ids, k = 10))
        case "sql" =>
          val fn = relational(rnd.nextInt(relational.size))
          Request("sql", "Relational", c => fn(c.spark, c.in))
      }
    }.toIndexedSeq
  }

  /** The registered twins of the interactive request kinds: run once in the
    * check pass so every kind's code path is warm and oracle-checked. */
  val interactiveChecks: Seq[Step] = Seq(
    q("search_bm25", "SearchOps")(SearchOps.qSearchBm25),
    q("multi_match", "SearchOps")(SearchOps.qMultiMatch),
    q("search_bool", "SearchOps")(SearchOps.qSearchBool),
    q("search_phrase", "SearchOps")(SearchOps.qSearchPhrase),
    q("facet_counts", "SearchOps")(SearchOps.qFacetCounts),
    q("es_query", "EsQuery")(EsQuery.qEsQuery),
    q("es_agg", "EsQuery")(EsQuery.qEsAgg),
    // no oracle: its DuckDB twin re-derives every passage embedding in SQL
    Step("semantic_search", "EmbedOps", c => EmbedOps.qSemanticSearch(c.spark, c.in))) ++
    Seq("q1_agg", "q3_topk", "q12_part_type_revenue").zip(relational).map {
      case (name, fn) => q(name, "Relational")(fn)
    }
}
