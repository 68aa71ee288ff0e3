package graft.queries

import graft.{BatchFaults, SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance contracts: the delta-maintained
  * summary must be BIT-IDENTICAL (long cents — no epsilon anywhere)
  * across micro-batch slicings and to a from-scratch rebuild, and the
  * group totals must account for every surviving key exactly once even
  * through the group-move wave.
  */
class AggCdcSpec extends SparkTestBase {

  private def summarize(filesPerTrigger: Int): Map[Int, (Long, Double)] =
    AggCdcQueries.aggIncremental(spark, sf, filesPerTrigger).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("summary state is bit-identical across micro-batch slicings") {
    val oneAtATime = summarize(1)
    val allAtOnce = summarize(4)
    assert(oneAtATime.nonEmpty)
    assert(oneAtATime === allAtOnce,
      "telescoping long-cents deltas must not depend on log slicing")
  }

  test("torn batch recovers on retry for BOTH crash points (after " +
      "state commit; after summary commit) via the meta-stamp mismatch") {
    val store = AggCdcQueries.runMaintenance(spark, sf, 2)
    val clean = BatchFaults.twin(store)
    def img(nation: org.apache.spark.sql.Column,
            bal: org.apache.spark.sql.Column) =
      struct(col("c_custkey").cast("long").as("c_custkey"),
        nation.cast("int").as("c_nationkey"),
        bal.cast("double").as("c_acctbal"))
    def wave(m: Int, delta: Double, ts: Long) = graft.cdc.Envelope.flatten(
      Tables.load(spark, sf, "customer")
        .filter(col("c_custkey") % m === 1).select(
          img(col("c_nationkey"), col("c_acctbal")).as("before"),
          img(col("c_nationkey"), col("c_acctbal") + delta).as("after"),
          lit(graft.cdc.Envelope.OpUpdate).as("op"), lit(ts).as("ts_ms"),
          col("c_custkey").cast("long").as("seq"),
          struct(lit("commerce").as("schema"),
            lit("account").as("table")).as("source")))
    // Non-mutating consistency probe: the maintained summary vs an
    // independent recompute off agg.state (NOT rebuildSummary, whose
    // commit would itself move the versions under test).
    def consistent(): Boolean = {
      val maintained = AggCdcQueries.readSummary(spark, store).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val expected = store.currentState(spark, "agg.state")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("cents"))
        .select(col("c_nationkey"), col("n"),
          round(col("cents") / 100.0, 2).as("sum_bal"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
      maintained == expected
    }

    // Crash point 1: state committed, summary not.
    val b1 = wave(11, 50.0, 9000L)
    BatchFaults.crashAtCommit(store, "agg.summary")(
      AggCdcQueries.processBatch(store, b1))
    assert(!consistent(), "torn batch must leave the summary stale")
    AggCdcQueries.processBatch(store, b1) // the streaming retry
    assert(consistent(),
      "retry must re-run the batch against the reset pre-batch state")

    // Crash point 2: the state commit itself fails. (A crash after the
    // summary commit, with the batch record still open, is out of a
    // filesystem fault's reach; BatchScopeSpec covers it.)
    val b2 = wave(13, -30.0, 9500L)
    BatchFaults.crashAtCommit(store, "agg.state")(
      AggCdcQueries.processBatch(store, b2))
    AggCdcQueries.processBatch(store, b2) // the retry re-applies safely
    assert(consistent(),
      "the retry must never double-apply the delta")

    // And the delta path works again after recovery.
    val b3 = wave(17, 10.0, 9900L)
    AggCdcQueries.processBatch(store, b3)
    assert(consistent(), "post-recovery batches telescope correctly")

    Seq(b1, b2, b3).foreach(AggCdcQueries.processBatch(clean, _))
    BatchFaults.assertSameTables(spark, store, clean,
      Seq("agg.state", "agg.summary"))
  }

  test("delta-maintained summary equals a from-scratch rebuild, and " +
      "group totals cover every surviving key once") {
    val store = AggCdcQueries.runMaintenance(spark, sf, 2)
    val deltas = AggCdcQueries.readSummary(spark, store).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val v = AggCdcQueries.rebuildSummary(spark, store)
    assert(v > 0, "rebuild must commit a fresh version")
    val rebuilt = AggCdcQueries.readSummary(spark, store).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rebuilt === deltas,
      "delta-maintained and rebuilt summaries must agree exactly")

    // Every surviving key (pk%7!=0) contributes to exactly one group —
    // the move wave re-grouped, never duplicated or dropped.
    val survivors = Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") % 7 =!= 0).count()
    assert(deltas.values.map(_._1).sum === survivors,
      "summary membership must equal the surviving key count")
    // Moved groups exist (nation+25 ids) — the re-grouping case fired.
    assert(deltas.keySet.exists(_ >= 25),
      "group-move wave should populate shifted nation ids")
  }
}
