package graft.queries

import graft.Tables
import graft.cdc.{MergeCommit, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC-MAINTAINED BOILERPLATE-LINE CENSUS — [[graft.ops.LlmOps
  * .dedupLines]]'s C4 rewrite kept fresh under the document change
  * stream: the corpus-wide (line-digest → distinct-doc count) census
  * is ADDITIVE state maintained by telescoping deltas (the
  * [[Bm25VocabQueries]] vocabulary discipline with line digests for
  * terms), so the boilerplate set a curation pipeline scrubs against
  * is always current without ever re-censusing the corpus.
  *
  * Two tables through the same document change log:
  *
  *  - `ln.docs` — per-document LINE ARRAYS (the planted multi-line
  *    text split map-side on batch rows; one shared
  *    [[graft.ops.LlmOps.plantLines]] definition with the batch pass).
  *  - `ln.census` — (digest → n_docs), ±1 per (stored winner,
  *    DISTINCT digest) over batch keys; stale losers cancel, deletes
  *    subtract, a digest reaching 0 leaves the census.
  *
  * Both commits of a batch are crash-atomic via [[StateStore.atomically]].
  *
  * Serving reuses the batch pass's mark/rewrite/rollup verbatim
  * ([[graft.ops.LlmOps.dedupLinesRollup]]): the census rows above the
  * threshold broadcast as the frequent set, the doc state explodes
  * and reassembles doc-locally. The change stream makes the corpus
  * GROW a boilerplate line organically: the %5 full-replace wave puts
  * the same body in ~1/5 of surviving docs, so a line no plant ever
  * introduced crosses the threshold and those docs rewrite to EMPTY —
  * the all-lines-removed edge, oracle-checked.
  *
  * 100 TB: batch cost ∝ change volume (digest deltas over batch
  * keys); census state ∝ the corpus's distinct-line vocabulary with
  * recurrence, not the corpus; the serve scans the doc index once.
  */
object LinesCdcQueries {

  private val NBuckets = 8
  private val DocsTable = "ln.docs"
  private val CensusTable = "ln.census"

  /** One micro-batch ([[MergeCommit.mergeMaintained]]): features
    * map-side on batch rows — plant, split, derive source (the fixture
    * invariant source = 'src' || doc_id % 20; events carry only
    * (doc_id, text)); the cast pins containsNull so the parquet
    * round-trip can't trip the A11 widen guard — then ±1 per (stored
    * winner, DISTINCT line digest), the exact increment of a
    * count(DISTINCT doc_id) census.
    */
  private[queries] def processBatch(store: StateStore,
                                    batch: DataFrame): Unit =
    MergeCommit.mergeMaintained(store, DocsTable, Seq(CensusTable), batch,
      Seq("doc_id"))(_ => Seq(col("doc_id"),
        concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source"),
        split(graft.ops.LlmOps.plantLines(col("text")), "\n")
          .cast("array<string>").as("lines"))) { (featMeta, result) =>
      MergeCommit.commitDeltas(store, CensusTable, result,
        featMeta.select("doc_id").distinct(), Seq("d"), Seq("d"),
        dropAtZero = true)(
        _.select(explode(array_distinct(
            transform(col("lines"), l => md5(l)))).as("d"))
          .withColumn("nd", lit(1L)))
    }

  private[queries] def runMaintenance(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int): StateStore =
    DrainHarness.drain(spark,
      Bm25CdcQueries.docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/lnd", NBuckets, filesPerTrigger)(processBatch)

  /** Bench's untimed staging warmup. */
  def prestage(spark: SparkSession, sfDir: String): Unit =
    DrainHarness.stage(
      Bm25CdcQueries.docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/lnd")

  /** The registered query: drain the log, then run the C4 rewrite off
    * maintained state alone — census rows above the shared threshold
    * broadcast as the frequent set, doc state reassembles doc-locally,
    * the rollup is the batch pass's own.
    */
  def linesIncremental(spark: SparkSession, sfDir: String,
                       filesPerTrigger: Int = 2): DataFrame = {
    val store = runMaintenance(spark, sfDir, filesPerTrigger)
    val lines = store.currentState(spark, DocsTable)
      .select(col("doc_id"), col("source"),
        posexplode(col("lines")).as(Seq("pos", "line")))
    val frequent = store.rawState(spark, CensusTable)
      .filter(col("nd") > graft.ops.LlmOps.linesMinDocs)
      .select("d")
    graft.ops.LlmOps.dedupLinesRollup(lines, frequent)
      .localCheckpoint(eager = true)
  }

  /** Maintained-state instrument for the spec: (census map, rebuilt
    * census map).
    */
  private[queries] def censusAndRebuild(spark: SparkSession,
      store: StateStore): (Map[String, Long], Map[String, Long]) = {
    val c = store.rawState(spark, CensusTable)
      .select("d", "nd")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val r = store.currentState(spark, DocsTable)
      .select(col("doc_id"), explode(array_distinct(
        transform(col("lines"), l => md5(l)))).as("d"))
      .groupBy("d").agg(countDistinct("doc_id").as("nd"))
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    (c, r)
  }

  /** The batch rewrite over the post-change corpus — the same shared
    * SQL body as the batch oracle, pointed at the post-change CTE.
    */
  val linesIncrementalOracle: String =
    """WITH docs2 AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 5 = 0 THEN 'row row row data'
      |         WHEN doc_id % 3 = 0 THEN text || ' data table'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |), """.stripMargin +
      graft.ops.LlmOps.dedupLinesBodySql("docs2")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_lines_incremental" -> ((s, d) => linesIncremental(s, d)))

  def oracles: Map[String, String] = Map(
    "cdc_lines_incremental" -> linesIncrementalOracle)
}
