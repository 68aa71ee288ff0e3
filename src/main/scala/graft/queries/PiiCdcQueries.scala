package graft.queries

import graft.Tables
import graft.cdc.{MergeCommit, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PII census MAINTAINED under CDC (VERDICT r16 #6) — the
  * curation-stage completion of the batch/stream/CDC symmetry the PII
  * family started: `llm_pii_scrub` is the batch pass,
  * `stream_pii_scrub` its micro-batch fold, and this maintainer keeps
  * the same per-source census current through the document change
  * stream by TELESCOPING DELTAS, the [[AggCdcQueries]] discipline
  * applied to the PII counters (which were DESIGNED additive — every
  * census column is a LONG sum of per-doc scan-local counters,
  * [[graft.ops.LlmOps.piiDocCounters]]).
  *
  * Two tables ride the drain:
  *
  *  - `pii.docs` — per-document counters (email/phone/IP hits, the
  *    post-scrub residual, the scrubbed-text digest), computed
  *    SCAN-LOCAL on batch rows at merge time; raw text never reaches
  *    state (the [[LinesCdcQueries]] rule). Ordered merge, the
  *    standard recipe.
  *  - `pii.census` — the per-source rollup, maintained by ±(stored
  *    winner's counters) deltas over each batch's keys, grouped by
  *    the 20-value source key. A stale event that loses the merge
  *    telescopes to a zero delta; a delete subtracts its doc's
  *    counters; the %5 full-replace wave moves each doc's digest
  *    contribution in one two-sided step.
  *
  * Both commits of a batch are crash-atomic via [[StateStore.atomically]].
  *
  * 100 TB: batch cost ∝ change volume (feature extraction is
  * scan-local on batch rows; the delta rollup shuffles |batch keys|
  * rows into 20 groups); census state is 20 rows regardless of corpus
  * size; the serve is a metadata-sized census read. The zero-residual
  * audit rides the maintained row exactly as it rides the batch row.
  */
object PiiCdcQueries {

  private val NBuckets = 8
  private val DocsTable = "pii.docs"
  private val CensusTable = "pii.census"

  /** One micro-batch ([[MergeCommit.mergeMaintained]]): features
    * map-side on batch rows — plant + detect + scrub-digest scan-local,
    * source re-derived from the fixture invariant (source = 'src' ||
    * doc_id % 20 — events carry only the key and text, like the
    * sibling maintainers); text is DROPPED here — then ±(stored
    * winner's counters) per source.
    */
  private[queries] def processBatch(store: StateStore,
                                    batch: DataFrame): Unit =
    MergeCommit.mergeMaintained(store, DocsTable, Seq(CensusTable), batch,
      Seq("doc_id"))(_ => Seq(col("doc_id"),
        concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source")) ++
        graft.ops.LlmOps.piiDocCounters(col("doc_id"), col("text"))) {
      (featMeta, result) =>
        MergeCommit.commitDeltas(store, CensusTable, result,
          featMeta.select("doc_id").distinct(), Seq("source"),
          Seq("source"), dropAtZero = false)(
          _.select(col("source"), lit(1L).as("n_docs"),
            when(col("e") + col("p") + col("i") > 0, 1L).otherwise(0L)
              .as("docs_with_pii"),
            col("e").cast("long").as("n_email"),
            col("p").cast("long").as("n_phone"),
            col("i").cast("long").as("n_ip"),
            col("resid").cast("long").as("n_residual"),
            col("ck").as("scrub_checksum")))
    }

  /** From-scratch census recompute off the docs counters — the
    * spec's equality baseline, committed whole
    * ([[MergeCommit.commitRebuilt]]).
    */
  private[queries] def rebuildCensus(spark: SparkSession,
                                     store: StateStore): Int =
    MergeCommit.commitRebuilt(store, CensusTable,
      store.currentState(spark, DocsTable).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("e") + col("p") + col("i") > 0, 1L).otherwise(0L))
            .as("docs_with_pii"),
          sum(col("e").cast("long")).as("n_email"),
          sum(col("p").cast("long")).as("n_phone"),
          sum(col("i").cast("long")).as("n_ip"),
          sum(col("resid").cast("long")).as("n_residual"),
          sum("ck").as("scrub_checksum")),
      Seq("source"))

  private[queries] def runMaintenance(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int): StateStore =
    DrainHarness.drain(spark,
      Bm25CdcQueries.docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/piid", NBuckets, filesPerTrigger)(processBatch)

  /** Bench's untimed staging warmup. */
  def prestage(spark: SparkSession, sfDir: String): Unit =
    DrainHarness.stage(
      Bm25CdcQueries.docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/piid")

  private[queries] def readCensus(spark: SparkSession,
      store: StateStore): DataFrame =
    store.rawState(spark, CensusTable)
      .filter(col("n_docs") > 0)
      .select("source", "n_docs", "docs_with_pii", "n_email", "n_phone",
        "n_ip", "n_residual", "scrub_checksum")
      .orderBy("source")

  /** The registered query: drain the log, read the delta-maintained
    * census back.
    */
  def piiIncremental(spark: SparkSession, sfDir: String,
                     filesPerTrigger: Int = 2): DataFrame =
    readCensus(spark, runMaintenance(spark, sfDir, filesPerTrigger))
      .localCheckpoint(eager = true)

  /** The batch PII census over the post-change corpus — the same
    * census SQL as `llm_pii_scrub`'s oracle, pointed at the document
    * log's final state.
    */
  val piiIncrementalOracle: String = {
    val batch = graft.ops.LlmOps.piiScrubOracle
    val from = "FROM documents"
    require(batch.contains(from))
    // stripMargin BEFORE splicing the batch census in: its own text
    // contains `||` concatenations a second stripMargin would mangle.
    val docs2 =
      """WITH docs2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 5 = 0 THEN 'row row row data'
        |         WHEN doc_id % 3 = 0 THEN text || ' data table'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |), """.stripMargin
    docs2 + batch.replace(from, "FROM docs2").stripPrefix("WITH ")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_pii_incremental" -> ((s, d) => piiIncremental(s, d)))

  def oracles: Map[String, String] = Map(
    "cdc_pii_incremental" -> piiIncrementalOracle)
}
