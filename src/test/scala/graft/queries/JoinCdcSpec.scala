package graft.queries

import graft.{BatchFaults, SparkTestBase, Tables}
import graft.cdc.Envelope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental join-view contracts: the maintained view must be
  * identical across micro-batch slicings of the log, must equal the
  * join of the two maintained base tables (the from-scratch
  * recomputation), and the secondary index must stay consistent with
  * the orders state through the move and delete waves. A batch that
  * crashes at any of its four commits recovers on retry to the tables
  * of a run that never crashed.
  */
class JoinCdcSpec extends SparkTestBase {

  private def key(df: DataFrame): Map[Long, (Long, Double, Int, Double)] =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2), r.getInt(3), r.getDouble(4))).toMap

  test("view state is identical across micro-batch slicings") {
    val oneAtATime = key(JoinCdcQueries.joinIncremental(spark, sf, 1))
    val allAtOnce = key(JoinCdcQueries.joinIncremental(spark, sf, 4))
    assert(oneAtATime.nonEmpty)
    assert(oneAtATime === allAtOnce,
      "recompute-from-state repair must not depend on log slicing")
  }

  test("maintained view equals the join of the maintained base tables, " +
      "and the index mirrors the orders state") {
    val store = JoinCdcQueries.runMaintenance(spark, sf, 2)
    val view = key(JoinCdcQueries.readView(spark, store))

    val cust = store.currentState(spark, "jv.customer")
    val ord = store.currentState(spark, "jv.orders")
    val recomputed = key(ord.join(cust,
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("c_nationkey"), round(col("c_acctbal"), 2).as("c_acctbal"))
      .orderBy("o_orderkey"))
    assert(view === recomputed,
      "incremental repair must converge to the batch join of the states")

    // The move wave fired: some view rows sit on a shifted custkey.
    val moved = view.collect {
      case (ok, (ck, _, _, _)) if ok % 6 == 0 => ck
    }
    assert(moved.nonEmpty, "move-wave orders should survive in the view")

    // Index live entries == orders-state (custkey, orderkey) pairs:
    // retirement tombstones kept up with moves and deletes.
    val idx = store.currentState(spark, "jv.orders_by_cust")
      .select("c_custkey", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromOrders = ord.select(col("o_custkey"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idx === fromOrders,
      "secondary index must mirror the orders state exactly")
  }

  /** An order-move wave over a drained store: every touched order moves
    * to another customer, so the index must retire its old entry.
    */
  private def orderMoves(): DataFrame = {
    def img(custkey: Column) = struct(
      lit(null).cast("long").as("c_custkey"),
      lit(null).cast("int").as("c_nationkey"),
      lit(null).cast("double").as("c_acctbal"),
      col("o_orderkey").cast("long").as("o_orderkey"),
      custkey.cast("long").as("o_custkey"),
      col("o_totalprice").cast("double").as("o_totalprice"))
    Envelope.flatten(Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") % 5 === 1).select(
        img(col("o_custkey")).as("before"),
        img(col("o_custkey") + 2).as("after"),
        lit(Envelope.OpUpdate).as("op"), lit(9000L).as("ts_ms"),
        col("o_orderkey").cast("long").as("seq"),
        struct(lit("commerce").as("schema"),
          lit("orders").as("table")).as("source")))
  }

  /** Crash the move wave at `table`'s commit, retry it, and compare with
    * an uncrashed copy. The index comes first: a stale index shows as a
    * row difference there before any later table is compared.
    */
  private def crashAndRetry(table: String): Unit = {
    val store = JoinCdcQueries.runMaintenance(spark, sf, 2)
    val clean = BatchFaults.twin(store)
    val batch = orderMoves()
    BatchFaults.crashAtCommit(store, table)(
      JoinCdcQueries.processBatch(store, batch))
    JoinCdcQueries.processBatch(store, batch) // the streaming retry
    JoinCdcQueries.processBatch(clean, batch)
    BatchFaults.assertSameTables(spark, store, clean,
      Seq("jv.orders_by_cust", "jv.view", "jv.customer", "jv.orders"))
  }

  test("torn batch: a crash at the index commit recovers on retry to the " +
      "uncrashed tables") {
    // Orders committed, index not: the retry must re-run the batch
    // against the pre-batch orders, or it retires no moved entry.
    crashAndRetry("jv.orders_by_cust")
  }

  test("torn batch: a crash at the view commit recovers on retry to the " +
      "uncrashed tables") {
    crashAndRetry("jv.view")
  }
}
