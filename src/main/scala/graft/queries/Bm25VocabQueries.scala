package graft.queries

import graft.Tables
import graft.cdc.{MergeCommit, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TERM-KEYED CDC-maintained BM25 index — [[Bm25CdcQueries]] grown up:
  * that pipeline's 1-row stats hard-codes df columns for the fixed
  * 3-term query, so it can serve exactly one query. Real BM25 serving
  * keys document frequency BY TERM, so ANY query works. Three tables
  * stay current through the same document change stream:
  *
  *  - `bmv.docs` — per-document features: `dl` and the full term-count
  *    map `tc` (computed SCAN-LOCAL on batch rows via
  *    `map_from_arrays(array_distinct(words), tf per distinct word)` —
  *    no explode/shuffle for feature extraction, raw text never
  *    reaches state). Ordered merge, the standard recipe.
  *  - `bmv.vocab` — the (term → df) VOCABULARY, additive state under
  *    the [[AggCdcQueries]] telescoping-delta discipline: each batch
  *    explodes the map KEYS of old/new stored winners (±1 per term,
  *    batch keys only — a batch-sized explode, never the corpus),
  *    folds them to per-term LONG deltas, and upserts the affected
  *    vocab buckets. Terms whose df reaches 0 leave the vocabulary.
  *  - `bmv.stats` — 1-row (N, Σ|d|), the same telescoping deltas.
  *
  * The three commits of a batch are crash-atomic via
  * [[StateStore.atomically]].
  *
  * Serving an arbitrary-terms query: the query's terms semi-join the
  * vocabulary (vocab-sized scan → a |q|-row frame pivoted to ONE row
  * of df columns), crossJoin the 1-row stats, and score one scan of
  * the doc index with `element_at(tc, term)` per query term — the
  * same closed form, same IEEE fold order, as the batch scorer
  * ([[graft.ops.LlmOps.bm25TopKN]]). 100 TB: batch cost ∝ change
  * volume; vocab state ∝ vocabulary (Heaps' law, millions of rows,
  * not corpus-sized); query cost = one narrow index scan + two
  * broadcast singletons — and the query TERMS are a runtime input,
  * not a build-time constant.
  */
object Bm25VocabQueries {

  private val NBuckets = 8
  private val DocsTable = "bmv.docs"
  private val VocabTable = "bmv.vocab"
  private val StatsTable = "bmv.stats"

  /** The served query — four terms, disjoint from the fixed 3-term
    * family, proving the index answers queries it was never built for.
    */
  private[queries] val QueryTerms = Seq("spark", "stream", "merge", "query")

  private def termCounts = {
    val w = split(col("text"), " ")
    val dw = array_distinct(w)
    map_from_arrays(dw, transform(dw, t => size(filter(w, x => x === t))))
      .cast("map<string,int>")
  }

  /** One micro-batch ([[MergeCommit.mergeMaintained]]): features
    * scan-local on batch rows, then, off the merge's (pre, post) slices
    * restricted to the batch's keys, the vocabulary deltas — ±1 per
    * (stored winner, distinct term); a term whose df reaches 0 leaves
    * the vocabulary — and the scalar stats deltas, keyed by the one
    * constant `stat_id`.
    */
  private[queries] def processBatch(store: StateStore,
                                    batch: DataFrame): Unit =
    MergeCommit.mergeMaintained(store, DocsTable,
      Seq(VocabTable, StatsTable), batch, Seq("doc_id"))(_ => Seq(
        col("doc_id"), size(split(col("text"), " ")).as("dl"),
        termCounts.as("tc"))) { (featMeta, result) =>
      val keys = featMeta.select("doc_id").distinct()
      MergeCommit.commitDeltas(store, VocabTable, result, keys, Seq("term"),
        Seq("term"), dropAtZero = true)(
        _.select(explode(map_keys(col("tc"))).as("term"))
          .withColumn("df", lit(1L)))
      MergeCommit.commitDeltas(store, StatsTable, result, keys,
        Seq("stat_id"), Seq("stat_id"), dropAtZero = false)(
        _.select(lit(0).as("stat_id"), lit(1L).as("n"),
          col("dl").cast("long").as("sdl")))
    }

  private[queries] def runMaintenance(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int): StateStore =
    DrainHarness.drain(spark,
      Bm25CdcQueries.docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/bm25v", NBuckets, filesPerTrigger)(processBatch)

  /** Bench's untimed staging warmup. */
  def prestage(spark: SparkSession, sfDir: String): Unit =
    DrainHarness.stage(
      Bm25CdcQueries.docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/bm25v")

  /** The registered query: drain the log, then serve [[QueryTerms]] —
    * a query the index was never specialized for — from maintained
    * state alone: one doc-index scan + a |q|-row vocab probe pivoted
    * to a broadcast singleton.
    */
  def bm25VocabIncremental(spark: SparkSession, sfDir: String,
                           filesPerTrigger: Int = 2): DataFrame = {
    val store = runMaintenance(spark, sfDir, filesPerTrigger)
    serveTerms(spark, store, QueryTerms).localCheckpoint(eager = true)
  }

  /** The ARBITRARY-TERMS serve off a drained store — what makes the
    * term-keyed index an index: any term list, decided at query time.
    * One doc-index scan + a bucket-pruned vocab point-read pivoted to
    * a broadcast singleton + the 1-row stats; shared by the
    * registered query above and the CDC-maintained hybrid's lexical
    * leg ([[RankHybridCdcQueries]]).
    */
  private[queries] def serveTerms(spark: SparkSession, store: StateStore,
                                  terms: Seq[String]): DataFrame = {
    val feat = store.currentState(spark, DocsTable)
      .select(col("doc_id") +: col("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          coalesce(element_at(col("tc"), lit(t)), lit(0)).as(s"tf${i + 1}")
        }: _*)
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === t, col("df"))), lit(0L))
        .as(s"df${i + 1}") }
    // Bucket-pruned vocab probe: the query terms' buckets are known
    // up front (the same bucketExpr the maintainer assigns with), so
    // the df lookup reads |distinct term buckets| dirs — a point read
    // against a vocabulary of millions, not a vocab scan.
    import spark.implicits._
    val termBuckets = terms.toDF("term")
      .select(StateStore.bucketExpr(Seq("term"), NBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val dfRow = store.readBuckets(spark, VocabTable, termBuckets)
      .filter(col("term").isin(terms: _*))
      .agg(dfCols.head, dfCols.tail: _*)
    val stats = store.rawState(spark, StatsTable).select("n", "sdl")
    graft.ops.LlmOps.bm25TopKN(feat, stats.crossJoin(dfRow), terms.size)
  }

  /** Maintained-state instrument for the spec: (vocab as a map, stats
    * scalars) and their rebuilt-from-index equivalents.
    */
  private[queries] def vocabAndRebuild(spark: SparkSession,
      store: StateStore): ((Map[String, Long], Seq[Long]),
                           (Map[String, Long], Seq[Long])) = {
    val v = store.rawState(spark, VocabTable)
      .select("term", "df")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = store.rawState(spark, StatsTable)
      .select("n", "sdl").head()
    val rv = store.currentState(spark, DocsTable)
      .select(explode(map_keys(col("tc"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rs = store.currentState(spark, DocsTable)
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("sdl"))
      .head()
    ((v, Seq(s.getLong(0), s.getLong(1))),
      (rv, Seq(rs.getLong(0), rs.getLong(1))))
  }

  /** The batch BM25 body for [[QueryTerms]] over the post-change
    * corpus — the same corpus CTE as the 3-term twin.
    */
  val bm25VocabOracle: String =
    """WITH docs2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN 'row row row data'
      |         WHEN doc_id % 3 = 0 THEN text || ' data table'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |), """.stripMargin +
      graft.ops.LlmOps.bm25BodySqlFor("docs2", QueryTerms)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_bm25_vocab" -> ((s, d) => bm25VocabIncremental(s, d)))

  def oracles: Map[String, String] = Map(
    "cdc_bm25_vocab" -> bm25VocabOracle)
}
