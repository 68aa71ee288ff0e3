package graft.queries

import graft.Tables
import graft.cdc.{Envelope, MergeCommit, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC-MAINTAINED BM25 RETRIEVAL INDEX — the ranked-retrieval member
  * of the incremental-materialization family (IVF/PQ/MinHash/curate/
  * aggregate): `llm_rank_bm25`'s two-scan batch plan re-expressed as
  * maintained state, so serving a query never rescans the corpus.
  *
  * Two tables stay current through the document change stream:
  *
  *  - `bm.docs` — the per-document FEATURE index (dl, tf per query
  *    term), upserted with the ordered merge every CDC target uses.
  *    Features are computed MAP-SIDE ON BATCH ROWS ONLY
  *    ([[graft.ops.LlmOps.bm25Features]] over the flattened slice —
  *    text never reaches state, and nothing rescans the corpus).
  *  - `bm.stats` — the 1-row corpus statistics (N, Σ|d|, per-term df)
  *    maintained by TELESCOPING DELTAS off the merge's (pre, post)
  *    state slices, the [[AggCdcQueries]] discipline: −(old stored
  *    winner's contribution) + (new stored winner's), restricted to
  *    the batch's keys. A stale event that loses the merge cancels
  *    exactly; a delete subtracts; everything is LONG arithmetic, so
  *    any micro-batch slicing telescopes to bit-identical state
  *    (Bm25CdcSpec asserts it, plus rebuilt-from-index equality).
  *
  * Serving is [[graft.ops.LlmOps.bm25TopK]] over the two maintained
  * tables — the same closed form, same IEEE order, as the batch query,
  * which is why ONE oracle body ([[graft.ops.LlmOps.bm25BodySql]])
  * checks both: here it is pointed at the post-change corpus CTE.
  *
  * 100 TB: batch cost ∝ change volume (feature extraction on evented
  * rows, bucket-pruned merge, one 1-row stats commit); query cost is a
  * scan of the NARROW feature index + a 1-row broadcast — the corpus
  * text is never read at query time. This is exactly how a search
  * service keeps BM25 fresh under a document firehose.
  */
object Bm25CdcQueries {

  private val NBuckets = 8
  private val DocsTable = "bm.docs"
  private val StatsTable = "bm.stats"

  /** Deterministic document change log (ChangeGen's wave discipline):
    * a stale pre-snapshot wave that must lose the ordered merge, the
    * op='r' snapshot, an APPEND-TERMS update (%3: text + ' data
    * table' — tf and dl both move), a FULL-REPLACE update (%5: 'row
    * row row data' — dl collapses, df flips), and a delete wave (%7).
    */
  private[queries] def docChangeLog(base: DataFrame): DataFrame = {
    val src = struct(lit("corpus").as("schema"), lit("documents").as("table"))
    def image(text: org.apache.spark.sql.Column) =
      struct(col("doc_id").cast("long").as("doc_id"),
        text.cast("string").as("text"))
    val baseImage = image(col("text"))
    val nullImage = when(lit(false), baseImage)
    val pk = col("doc_id").cast("long")
    def ev(filter: org.apache.spark.sql.Column,
           before: org.apache.spark.sql.Column,
           after: org.apache.spark.sql.Column,
           op: String, ts: Long): DataFrame =
      base.filter(filter).select(
        before.as("before"), after.as("after"), lit(op).as("op"),
        lit(ts).as("ts_ms"), pk.as("seq"), src.as("source"))
    val stale = ev(pk % 2 === 0, baseImage, image(lit("stale stale")),
      Envelope.OpUpdate, 500L)
    val snap = ev(lit(true), nullImage, baseImage, Envelope.OpRead, 1000L)
    val u1 = ev(pk % 3 === 0, baseImage,
      image(concat(col("text"), lit(" data table"))),
      Envelope.OpUpdate, 2000L)
    val u2 = ev(pk % 5 === 0, baseImage, image(lit("row row row data")),
      Envelope.OpUpdate, 3000L)
    val del = ev(pk % 7 === 0, baseImage, nullImage,
      Envelope.OpDelete, 4000L)
    // Interleaved out of commit order, like ChangeGen.
    u2.unionAll(stale).unionAll(del).unionAll(snap).unionAll(u1)
  }

  /** One micro-batch ([[MergeCommit.mergeMaintained]]): feature-project
    * the compacted slice map-side (text stays out of state),
    * ordered-merge into the feature index, then the 1-row stats deltas
    * off the returned (pre, post) slices: −old winner + new winner over
    * the batch's keys, LONG sums keyed by the one constant `stat_id` —
    * stale-loser pairs cancel exactly, slicings telescope.
    */
  private[queries] def processBatch(store: StateStore,
                                    batch: DataFrame): Unit =
    MergeCommit.mergeMaintained(store, DocsTable, Seq(StatsTable), batch,
      Seq("doc_id"))(_ => col("doc_id") +: graft.ops.LlmOps.bm25FeatureCols) {
      (featMeta, result) =>
        MergeCommit.commitDeltas(store, StatsTable, result,
          featMeta.select("doc_id").distinct(), Seq("stat_id"),
          Seq("stat_id"), dropAtZero = false)(
          _.select(lit(0).as("stat_id"), lit(1L).as("n"),
            col("dl").cast("long").as("sdl"),
            when(col("tf1") > 0, 1L).otherwise(0L).as("df1"),
            when(col("tf2") > 0, 1L).otherwise(0L).as("df2"),
            when(col("tf3") > 0, 1L).otherwise(0L).as("df3")))
    }

  private[queries] def runMaintenance(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int): StateStore =
    DrainHarness.drain(spark,
      docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/bm25", NBuckets, filesPerTrigger)(processBatch)

  /** Bench's untimed staging warmup. */
  def prestage(spark: SparkSession, sfDir: String): Unit =
    DrainHarness.stage(
      docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/bm25")

  /** The registered query: drain the log, then serve the same top-20
    * BM25 ranking as the batch query — from maintained state alone.
    */
  def bm25Incremental(spark: SparkSession, sfDir: String,
                      filesPerTrigger: Int = 2): DataFrame = {
    val store = runMaintenance(spark, sfDir, filesPerTrigger)
    val feat = store.currentState(spark, DocsTable)
      .select("doc_id", "dl", "tf1", "tf2", "tf3")
    val stats = store.rawState(spark, StatsTable)
      .select("n", "sdl", "df1", "df2", "df3")
    graft.ops.LlmOps.bm25TopK(feat, stats)
      .localCheckpoint(eager = true)
  }

  /** Maintained-state instrument for the spec: the stats row and the
    * rebuilt-from-index equivalent.
    */
  private[queries] def statsAndRebuild(spark: SparkSession,
      store: StateStore): (Seq[Long], Seq[Long]) = {
    val s = store.rawState(spark, StatsTable)
      .select("n", "sdl", "df1", "df2", "df3").head()
    val r = store.currentState(spark, DocsTable)
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("sdl"),
        coalesce(sum(when(col("tf1") > 0, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("tf2") > 0, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("tf3") > 0, 1L).otherwise(0L)), lit(0L)))
      .head()
    ((0 to 4).map(s.getLong), (0 to 4).map(r.getLong))
  }

  /** The batch BM25 body over the post-change corpus. */
  val bm25IncrementalOracle: String =
    """WITH docs2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN 'row row row data'
      |         WHEN doc_id % 3 = 0 THEN text || ' data table'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |), """.stripMargin + graft.ops.LlmOps.bm25BodySql("docs2")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_bm25_incremental" -> ((s, d) => bm25Incremental(s, d)))

  def oracles: Map[String, String] = Map(
    "cdc_bm25_incremental" -> bm25IncrementalOracle)
}
