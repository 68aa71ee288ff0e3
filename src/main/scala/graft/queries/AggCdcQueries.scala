package graft.queries

import graft.Tables
import graft.cdc.{Envelope, MergeCommit, StateStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental MATERIALIZED-AGGREGATE maintenance under CDC updates —
  * the relational sibling of [[IvfCdcQueries]]: a per-nation summary
  * (member count, account-balance total) of the customer table is kept
  * current through the change stream by TELESCOPING DELTAS, never by
  * re-aggregating the corpus.
  *
  * Each micro-batch (a) upserts the evented keys into the bucket-pruned
  * `agg.state` table with the ordered merge every CDC target uses, and
  * (b) applies (new stored winner − old stored winner) contribution
  * deltas to the tiny `agg.summary` table. A row MOVING BETWEEN GROUPS
  * (the change log's nation-move wave) is handled with no special case:
  * its old contribution is subtracted from the old group and the new
  * one added to the new group by the same two-sided delta. Batch cost
  * scales with CHANGE volume, not table size — at 100 TB the summary
  * of a billion-row table stays fresh for the price of each batch's
  * evented keys, where a re-aggregation would scan everything.
  *
  * Unlike the IVF centroids (double sums, epsilon drift re-zeroed by
  * periodic rebuild), this summary is EXACTLY drift-free: balances are
  * maintained as integer cents (`round(bal*100)` per row), so delta
  * sums are associative/commutative long arithmetic — any micro-batch
  * slicing of the log telescopes to bit-identical state, which the
  * spec asserts and the production practice (sum money as scaled
  * integers, not floats) requires anyway.
  */
object AggCdcQueries {

  private val NBuckets = 8
  private val StateTable = "agg.state"
  private val SummaryTable = "agg.summary"

  /** Per-row contribution to the balance total, in integer cents. */
  private def centsExpr(bal: Column): Column =
    round(bal * 100).cast("long")

  /** Deterministic account change log (envelope schema, ChangeGen's
    * wave discipline) with a GROUP-MOVE wave: stale pre-snapshot
    * updates that must lose the ordered merge, the op='r' snapshot,
    * a balance-only update wave, a wave that changes BOTH the balance
    * and the grouping key (nation += 25 — the re-grouping case a naive
    * incremental aggregator corrupts), and a delete wave.
    */
  private[queries] def accountChangeLog(base: DataFrame): DataFrame = {
    val src = struct(lit("commerce").as("schema"), lit("account").as("table"))
    def image(nation: Column, bal: Column): Column =
      struct(col("c_custkey").cast("long").as("c_custkey"),
        nation.cast("int").as("c_nationkey"),
        bal.cast("double").as("c_acctbal"))
    val baseImage = image(col("c_nationkey"), col("c_acctbal"))
    val nullImage = when(lit(false), baseImage)
    val pk = col("c_custkey").cast("long")
    def ev(filter: Column, before: Column, after: Column, op: String,
           ts: Long): DataFrame =
      base.filter(filter).select(
        before.as("before"), after.as("after"), lit(op).as("op"),
        lit(ts).as("ts_ms"), pk.as("seq"), src.as("source"))
    val stale = ev(pk % 2 === 0, baseImage,
      image(col("c_nationkey"), lit(-999.0)), Envelope.OpUpdate, 500L)
    val snap = ev(lit(true), nullImage, baseImage, Envelope.OpRead, 1000L)
    val u1 = ev(pk % 3 === 0, baseImage,
      image(col("c_nationkey"), col("c_acctbal") + 100.0),
      Envelope.OpUpdate, 2000L)
    val move = ev(pk % 5 === 0, baseImage,
      image(col("c_nationkey") + 25, col("c_acctbal") + 200.0),
      Envelope.OpUpdate, 3000L)
    val del = ev(pk % 7 === 0, baseImage, nullImage, Envelope.OpDelete, 4000L)
    // Interleaved out of commit order, like ChangeGen.
    move.unionAll(stale).unionAll(del).unionAll(snap).unionAll(u1)
  }

  /** One micro-batch ([[MergeCommit.mergeMaintained]]): ordered merge
    * into `agg.state`, then the summary delta pass over the returned
    * (pre, post) state slices — a group move subtracts from the old
    * nation and adds to the new one.
    */
  private[queries] def processBatch(store: StateStore,
                                    batch: DataFrame): Unit =
    MergeCommit.mergeMaintained(store, StateTable, Seq(SummaryTable), batch,
      Seq("c_custkey"))(MergeCommit.rowColumns) { (batchMeta, result) =>
      MergeCommit.commitDeltas(store, SummaryTable, result,
        batchMeta.select("c_custkey").distinct(), Seq("c_nationkey"),
        Seq("c_nationkey"), dropAtZero = false)(
        _.select(col("c_nationkey"), lit(1L).as("n"),
          centsExpr(col("c_acctbal")).as("cents")))
    }

  /** Drain the staged change log through the maintainer; returns the
    * store so callers can read either maintained table.
    */
  private[queries] def runMaintenance(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int): StateStore =
    DrainHarness.drain(spark,
      accountChangeLog(Tables.load(spark, sfDir, "customer")),
      s"$sfDir/agg", NBuckets, filesPerTrigger)(processBatch)

  /** Stage this family's change log without draining it — Bench's
    * untimed warmup, so staging I/O never lands in a timed repeat.
    */
  def prestage(spark: SparkSession, sfDir: String): Unit =
    DrainHarness.stage(
      accountChangeLog(Tables.load(spark, sfDir, "customer")),
      s"$sfDir/agg")

  private[queries] def readSummary(spark: SparkSession,
      store: StateStore): DataFrame =
    store.rawState(spark, SummaryTable)
      .filter(col("n") > 0)
      .select(col("c_nationkey"), col("n"),
        round(col("cents") / 100.0, 2).as("sum_bal"))
      .orderBy("c_nationkey")

  /** The registered query: drain the log, read the delta-maintained
    * summary back.
    */
  def aggIncremental(spark: SparkSession, sfDir: String,
                     filesPerTrigger: Int = 2): DataFrame =
    readSummary(spark, runMaintenance(spark, sfDir, filesPerTrigger))

  /** Compaction-time hygiene (here: an EQUALITY check, not a drift
    * re-zero — long cents can't drift): recompute the summary from
    * `agg.state` from scratch and commit it as a fresh version. The
    * spec asserts rebuilt == delta-maintained bit-for-bit.
    */
  private[queries] def rebuildSummary(spark: SparkSession,
      store: StateStore): Int =
    MergeCommit.commitRebuilt(store, SummaryTable,
      store.currentState(spark, StateTable).groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(centsExpr(col("c_acctbal"))).as("cents")),
      Seq("c_nationkey"))

  /** Batch aggregate over the merged final log — what re-aggregating
    * the post-CDC table from scratch computes. Cents are cast to
    * BIGINT (DuckDB SUM(BIGINT) returns HUGEINT otherwise — r3
    * verdict's dtype lesson).
    */
  val aggIncrementalOracle: String =
    """WITH final AS (
      |  SELECT CASE WHEN c_custkey % 5 = 0 THEN c_nationkey + 25
      |              ELSE c_nationkey END AS c_nationkey,
      |    CAST(ROUND((c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 200.0
      |                                 WHEN c_custkey % 3 = 0 THEN 100.0
      |                                 ELSE 0.0 END) * 100) AS BIGINT) AS cents
      |  FROM customer WHERE c_custkey % 7 <> 0
      |)
      |SELECT c_nationkey, count(*) AS n,
      |       ROUND(CAST(SUM(cents) AS BIGINT) / 100.0, 2) AS sum_bal
      |FROM final GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_agg_incremental" -> ((s, d) => aggIncremental(s, d)))

  def oracles: Map[String, String] = Map(
    "cdc_agg_incremental" -> aggIncrementalOracle)
}
