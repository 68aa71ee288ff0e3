package graft.queries

import graft.Tables
import graft.cdc.{Envelope, MergeCommit, StateStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental JOIN-VIEW maintenance under CDC updates — the third
  * member of the incremental-materialization family ([[IvfCdcQueries]]:
  * vector index; [[AggCdcQueries]]: aggregate; here: an enriched
  * orders ⋈ customer view, the denormalized table a consumer of the
  * reference's CDC sink (SURVEY §2 Tier B — "full ANSI SQL over the
  * CDC-maintained tables") would otherwise recompute with a full join
  * per refresh.
  *
  * ONE wire stream carries BOTH tables' events (the A7 topic-regex
  * subscription shape); each micro-batch splits by `source.table`,
  * ordered-merges each table into its bucketed state, then repairs the
  * view for exactly the AFFECTED order keys:
  *
  *   ΔV keys = (evented orders) ∪ (orders referencing evented customers)
  *
  * The second term is the classic FK-side amplification — at 100 TB
  * "which orders reference these customers?" must not scan the orders
  * table. The engine maintains a SECONDARY INDEX table
  * (`c_custkey, o_orderkey`, bucketed by c_custkey) alongside the view:
  * customer-driven lookups read only the index buckets their keys hash
  * to, so batch cost stays change-volume-scaled end to end. Order moves
  * (o_custkey UPDATE) retire their old index entry with a tombstone
  * carrying the new winner's (ts, seq) — a stale replay telescopes to a
  * no-op. Affected view rows are then RECOMPUTED from the two
  * current states (never patched from the delta images), so the view is
  * correct under any micro-batch slicing of the log by construction —
  * JoinCdcSpec asserts slicing-independence and view == join-of-states.
  */
object JoinCdcQueries {

  private val NBuckets = 8
  private val CustTable = "jv.customer"
  private val OrdTable = "jv.orders"
  private val IdxTable = "jv.orders_by_cust"
  private val ViewTable = "jv.view"

  /** Deterministic two-table change log in ONE envelope stream: the row
    * image is the union of both tables' columns (each event fills its
    * own table's fields), `source.table` routes. Waves: a stale
    * pre-snapshot customer update that must lose the merge, both
    * snapshots, a customer balance wave, an order price wave, an order
    * MOVE wave (o_custkey reassignment — the index-retirement case),
    * then customer and order delete waves. Interleaved out of commit
    * order, like ChangeGen.
    */
  private[queries] def joinChangeLog(cust: DataFrame, ord: DataFrame): DataFrame = {
    val cSrc = struct(lit("commerce").as("schema"), lit("customer").as("table"))
    val oSrc = struct(lit("commerce").as("schema"), lit("orders").as("table"))
    val nullL = lit(null).cast("long")
    val nullI = lit(null).cast("int")
    val nullD = lit(null).cast("double")
    def cImage(bal: Column): Column =
      struct(col("c_custkey").cast("long").as("c_custkey"),
        col("c_nationkey").cast("int").as("c_nationkey"),
        bal.cast("double").as("c_acctbal"),
        nullL.as("o_orderkey"), nullL.as("o_custkey"),
        nullD.as("o_totalprice"))
    def oImage(custkey: Column, price: Column): Column =
      struct(nullL.as("c_custkey"), nullI.as("c_nationkey"),
        nullD.as("c_acctbal"),
        col("o_orderkey").cast("long").as("o_orderkey"),
        custkey.cast("long").as("o_custkey"),
        price.cast("double").as("o_totalprice"))
    def ev(base: DataFrame, filter: Column, before: Column, after: Column,
           op: String, ts: Long, seq: Column, src: Column): DataFrame =
      base.filter(filter).select(before.as("before"), after.as("after"),
        lit(op).as("op"), lit(ts).as("ts_ms"), seq.cast("long").as("seq"),
        src.as("source"))
    val cpk = col("c_custkey").cast("long")
    val opk = col("o_orderkey").cast("long")
    val cBase = cImage(col("c_acctbal"))
    val cNull = when(lit(false), cBase)
    def cEv(f: Column, b: Column, a: Column, op: String, ts: Long) =
      ev(cust, f, b, a, op, ts, cpk, cSrc)
    // Order images reflect every wave already applied to the row (a
    // real CDC after-image is the full current row, not a patch).
    val priceNow =
      col("o_totalprice") + when(opk % 4 === 0, 50.0).otherwise(0.0)
    val oBase = oImage(col("o_custkey"), col("o_totalprice"))
    val oNull = when(lit(false), oBase)
    def oEv(f: Column, b: Column, a: Column, op: String, ts: Long) =
      ev(ord, f, b, a, op, ts, opk, oSrc)
    val cStale = cEv(cpk % 2 === 0, cBase, cImage(lit(-999.0)),
      Envelope.OpUpdate, 500L)
    val cSnap = cEv(lit(true), cNull, cBase, Envelope.OpRead, 1000L)
    val cU1 = cEv(cpk % 3 === 0, cBase, cImage(col("c_acctbal") + 100.0),
      Envelope.OpUpdate, 2000L)
    val cDel = cEv(cpk % 7 === 0, cBase, cNull, Envelope.OpDelete, 4000L)
    val oSnap = oEv(lit(true), oNull, oBase, Envelope.OpRead, 1200L)
    val oPrice = oEv(opk % 4 === 0, oBase,
      oImage(col("o_custkey"), col("o_totalprice") + 50.0),
      Envelope.OpUpdate, 2500L)
    val oMove = oEv(opk % 6 === 0, oBase,
      oImage(col("o_custkey") + 1, priceNow), Envelope.OpUpdate, 3000L)
    val oDel = oEv(opk % 9 === 0, oBase, oNull, Envelope.OpDelete, 4500L)
    oMove.unionAll(cStale).unionAll(oDel).unionAll(cSnap)
      .unionAll(oPrice).unionAll(cU1).unionAll(oSnap).unionAll(cDel)
  }

  private def bucketIdsOf(df: DataFrame, keyCols: Seq[String]): Seq[Int] =
    df.select(StateStore.bucketExpr(keyCols, NBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  private val live = !col(StateStore.DeletedCol)

  /** One micro-batch ([[MergeCommit.mergeMaintained]] over two
    * primaries, whose merges run concurrently): split by
    * `source.table` → merge both base tables → repair the secondary
    * index and recompute the view for affected order keys, also
    * concurrently (the view never reads the index table). All four
    * commits of a batch are crash-atomic.
    */
  private[queries] def processBatch(store: StateStore,
                                    batch: DataFrame): Unit = {
    def primary(table: String, source: String, cols: Seq[String]) = // pk first
      MergeCommit.Primary(table, Seq(cols.head),
        batch.filter(col("_cdc.source.table") === source),
        _ => cols.map(col))
    MergeCommit.mergeMaintained(store, Seq(
        primary(CustTable, "customer",
          Seq("c_custkey", "c_nationkey", "c_acctbal")),
        primary(OrdTable, "orders",
          Seq("o_orderkey", "o_custkey", "o_totalprice"))),
      Seq(IdxTable, ViewTable)) { case Seq((custB, _), (ordB, ordSlices)) =>
      graft.Par.run(Seq(
        () => ordSlices.foreach(repairIndex(store, _)),
        () => recomputeView(store, custB, ordB, ordSlices)))
      ()
    }
  }

  /** Secondary-index repair for the evented order keys: live entries
    * upserted under the winner's (ts, seq); entries whose (custkey,
    * orderkey) no longer holds (move or delete) tombstoned under the
    * SAME new (ts, seq), so replays telescope.
    */
  private def repairIndex(store: StateStore,
                          slices: MergeCommit.Result): Unit = {
    val (oldOrd, newOrd) = (slices.preSlice, slices.postSlice)
    val entry = (df: DataFrame) => df.filter(live)
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
    val newLive = newOrd.filter(live).select(
      col("o_custkey").as("c_custkey"), col("o_orderkey"),
      col(StateStore.TsCol), col(StateStore.SeqCol))
    val gone = entry(oldOrd)
      .join(newLive.select("c_custkey", "o_orderkey"),
        Seq("c_custkey", "o_orderkey"), "left_anti")
      .join(newOrd.select(col("o_orderkey"), col(StateStore.TsCol),
        col(StateStore.SeqCol)), Seq("o_orderkey"))
    val idxBatch = newLive
      .withColumn(StateStore.DeletedCol, lit(false))
      .unionByName(gone.withColumn(StateStore.DeletedCol, lit(true)))
      .withColumn(StateStore.BucketCol,
        StateStore.bucketExpr(Seq("c_custkey"), NBuckets))
    // Nothing reads the index merge's slices: it commits as a delta.
    MergeCommit.appendBatchMeta(store, IdxTable, idxBatch,
      Seq("c_custkey", "o_orderkey"))
    ()
  }

  /** Recompute the view rows of the affected order keys (evented orders
    * ∪ orders referencing evented customers) from the two committed
    * states.
    */
  private def recomputeView(store: StateStore, custB: DataFrame,
                            ordB: DataFrame,
                            ordSlices: Option[MergeCommit.Result]): Unit = {
    val spark = custB.sparkSession
    // Orders referencing evented customers, off the index. The index
    // only changes for orders evented in THIS batch, whose keys the
    // ordB term already holds — so whether this read resolves the index
    // before or after the concurrent repair commits, the affected set
    // is the same (committed version dirs are immutable).
    val custKeys = custB.select("c_custkey").distinct()
    val idxHits =
      if (store.exists(IdxTable))
        store.readBuckets(spark, IdxTable,
            bucketIdsOf(custKeys, Seq("c_custkey"))).filter(live)
          .join(custKeys, Seq("c_custkey"), "left_semi")
          .select("o_orderkey")
      else custKeys.select(lit(0L).as("o_orderkey")).limit(0)
    val affectedOk = ordB.select("o_orderkey").union(idxHits)
      .distinct().persist()
    try {
      val okBuckets = bucketIdsOf(affectedOk, Seq("o_orderkey"))
      if (okBuckets.nonEmpty) {
        // Recompute affected rows from the two committed states: the
        // customer read prunes to the buckets of the custkeys the
        // affected orders reference. Inner join: a dangling FK yields
        // no view row.
        //
        // The ORDERS side never re-reads buckets the merge just wrote:
        // `ordSlices.postSlice` — persisted anyway for the index
        // repair — IS the committed content of every bucket the batch
        // touched (the merged frame handed to the commit), so only the
        // idxHits-only buckets (orders referencing evented customers
        // without being evented themselves, landing OUTSIDE the
        // batch's bucket set) pay a store read. At scale that turns
        // the view phase's orders scan from |affected buckets| into
        // |FK-fan-in-only buckets| — zero when a batch only updates
        // orders.
        val ordBuckets = ordSlices.toSeq.flatMap(_.affected).toSet
        val extraBuckets = okBuckets.filterNot(ordBuckets)
        val ordCols = (df: DataFrame) => df.filter(live)
          .join(affectedOk, Seq("o_orderkey"), "left_semi")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        // Non-empty by construction: okBuckets non-empty means ordB or
        // idxHits contributed keys — ordB non-empty ⇒ ordSlices is
        // Some; ordB empty ⇒ ordBuckets empty ⇒ extraBuckets ==
        // okBuckets (non-empty).
        val ordSlice = (ordSlices.map(s => ordCols(s.postSlice)).toSeq ++
          (if (extraBuckets.nonEmpty)
            Seq(ordCols(store.readBuckets(spark, OrdTable, extraBuckets)))
          else Seq.empty))
          .reduce(_ unionByName _)
          .persist()
        try {
          // Customer buckets WITHOUT materializing ordSlice first: every
          // custkey an affected order references is either (a) the
          // post-merge custkey of a batch-evented order — in postSlice —
          // or (b) for an idxHits-only order, the evented customer its
          // index entry named (the order wasn't evented, so its
          // committed custkey is the index's c, and c ∈ custKeys by
          // idxHits' semi-join). A superset is safe — the inner join
          // drops customers nothing references — and ordSlice
          // materializes once, inside the view commit.
          val ckKeyFrames = ordSlices.map(s => s.postSlice.filter(live)
              .join(affectedOk, Seq("o_orderkey"), "left_semi")
              .select(col("o_custkey").as("c_custkey"))).toSeq :+ custKeys
          val ckBuckets = bucketIdsOf(ckKeyFrames.reduce(_ unionByName _),
            Seq("c_custkey"))
          val custCols = (df: DataFrame) => df.filter(live)
            .select("c_custkey", "c_nationkey", "c_acctbal")
          val custSlice =
            if (store.exists(CustTable) && ckBuckets.nonEmpty)
              custCols(store.readBuckets(spark, CustTable, ckBuckets))
            else MergeCommit.emptyLike(custCols(custB))
          val liveView = ordSlice
            .join(custSlice, col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              col("c_nationkey"), col("c_acctbal"))
            .withColumn(StateStore.BucketCol,
              StateStore.bucketExpr(Seq("o_orderkey"), NBuckets))
          val oldView =
            if (store.exists(ViewTable))
              store.readBuckets(spark, ViewTable, okBuckets)
            else MergeCommit.emptyLike(liveView)
          val next = oldView.join(affectedOk, Seq("o_orderkey"), "left_anti")
            .unionByName(liveView)
          store.commit(spark, ViewTable, next, okBuckets)
        } finally ordSlice.unpersist(blocking = false)
      }
    } finally affectedOk.unpersist(blocking = false)
  }

  /** Drain the staged two-table log through the maintainer; returns the
    * store so callers can read the view, the index, or either base.
    */
  private[queries] def runMaintenance(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int): StateStore =
    DrainHarness.drain(spark,
      joinChangeLog(Tables.load(spark, sfDir, "customer"),
        Tables.load(spark, sfDir, "orders")),
      s"$sfDir/jv", NBuckets, filesPerTrigger)(processBatch)

  /** Stage this family's change log without draining it — Bench's
    * untimed warmup, so staging I/O never lands in a timed repeat.
    */
  def prestage(spark: SparkSession, sfDir: String): Unit =
    DrainHarness.stage(
      joinChangeLog(Tables.load(spark, sfDir, "customer"),
        Tables.load(spark, sfDir, "orders")),
      s"$sfDir/jv")

  private[queries] def readView(spark: SparkSession,
      store: StateStore): DataFrame =
    store.rawState(spark, ViewTable)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("c_nationkey"), round(col("c_acctbal"), 2).as("c_acctbal"))
      .orderBy("o_orderkey")

  /** The registered query: drain the log, read the maintained view. */
  def joinIncremental(spark: SparkSession, sfDir: String,
                      filesPerTrigger: Int = 2): DataFrame =
    readView(spark, runMaintenance(spark, sfDir, filesPerTrigger))

  /** Batch join over the merged final log — what recomputing the view
    * from scratch on the post-CDC tables computes.
    */
  val joinIncrementalOracle: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey,
      |    ROUND(c_acctbal + CASE WHEN c_custkey % 3 = 0 THEN 100.0
      |                           ELSE 0.0 END, 2) AS c_acctbal
      |  FROM customer WHERE c_custkey % 7 <> 0
      |), ord AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 6 = 0 THEN o_custkey + 1
      |         ELSE o_custkey END AS o_custkey,
      |    ROUND(o_totalprice + CASE WHEN o_orderkey % 4 = 0 THEN 50.0
      |                              ELSE 0.0 END, 2) AS o_totalprice
      |  FROM orders WHERE o_orderkey % 9 <> 0
      |)
      |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
      |       c.c_nationkey, c.c_acctbal
      |FROM ord o JOIN cust c ON o.o_custkey = c.c_custkey
      |ORDER BY o.o_orderkey""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_join_incremental" -> ((s, d) => joinIncremental(s, d)))

  def oracles: Map[String, String] = Map(
    "cdc_join_incremental" -> joinIncrementalOracle)
}
