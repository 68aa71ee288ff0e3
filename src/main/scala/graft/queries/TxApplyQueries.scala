package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.Tables
import graft.cdc.{ChangeGen, Envelope, MergeCommit, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WHOLE-TRANSACTION APPLY — the consumer-side contract
  * [[CdcQueries.transactions]]' metadata exists for: a target must
  * never expose a state in which SOME of a source transaction's rows
  * are applied and others are not. Debezium's recipe (the
  * `provide.transaction.metadata` buffering pattern) is reproduced
  * here under micro-batch streaming: END markers ride the stream
  * carrying each transaction's expected event_count; every batch
  * unions its events with the HELD-BACK store, applies exactly the
  * transactions whose observed event count equals their marker's
  * expectation, and holds everything else — so a transaction sliced
  * across micro-batches (or whose marker arrives BEFORE its last event;
  * the fixture stages both cases deliberately) waits, and the target
  * only ever moves in whole-transaction steps.
  *
  * Scale shapes: completeness is decided by a per-tx_id
  * partial-aggregated count (transaction-cardinality, tiny) broadcast
  * back onto the event stream; the apply path is the shared
  * bucket-pruned [[MergeCommit]] ordered merge; the held-back store
  * carries only incomplete transactions' rows — bounded by open-tx
  * volume, not corpus size. TxApplySpec drives the four staged batches
  * and asserts the apply schedule batch by batch, including the
  * marker-present-but-incomplete holdback.
  */
object TxApplyQueries {

  private val NBuckets = 8
  private val TargetTable = "tx.customer"

  /** The customer change log plus per-wave END markers: op='t',
    * ts_ms = the wave (the transaction id — each generated wave IS one
    * source transaction), seq = the wave's event count (Debezium's
    * `event_count` on the END event). Markers carry null images.
    */
  private def logWithMarkers(spark: SparkSession,
      sfDir: String): DataFrame = {
    val log = ChangeGen.changeLog(Tables.load(spark, sfDir, "customer"),
      "c_custkey", "c_acctbal", "commerce", "customer")
    val markers = log.groupBy("ts_ms")
      .agg(count(lit(1)).as("n"))
      .select(
        lit(null).cast(log.schema("before").dataType).as("before"),
        lit(null).cast(log.schema("after").dataType).as("after"),
        lit("t").as("op"), col("ts_ms"), col("n").as("seq"),
        struct(lit("commerce").as("schema"), lit("customer").as("table"))
          .as("source"))
    log.unionAll(markers)
  }

  /** Stage the four deterministic micro-batch files. The slicing is
    * engineered so every holdback mode occurs:
    *   b0: half of tx 1000 (even keys) + its END marker  → marker
    *       present, count short: HELD (the count-based case).
    *   b1: rest of tx 1000; all of tx 500, NO marker     → 1000
    *       applies, 500 held (marker-absent case).
    *   b2: marker(500); tx 2000 complete + marker; half of tx 3000
    *       → 500 + 2000 apply, 3000 held.
    *   b3: rest of 3000 + marker; tx 4000 + marker       → 3000 +
    *       4000 apply; nothing left pending.
    */
  private def stageBatches(spark: SparkSession, sfDir: String): String =
    graft.Scratch.staged("graft-txlog-", sfDir) { dir =>
      val all = logWithMarkers(spark, sfDir).persist()
      val ev = col("op") =!= "t"
      val mk = col("op") === "t"
      val ts = col("ts_ms")
      val even = col("seq") % 2 === 0
      val slices = Seq(
        (ts === 1000L && ((ev && even) || mk)),
        ((ts === 1000L && ev && !even) || (ts === 500L && ev)),
        ((ts === 500L && mk) || ts === 2000L || (ts === 3000L && ev && even)),
        ((ts === 3000L && ((ev && !even) || mk)) || ts === 4000L))
      try graft.Scratch.orderedSlices(slices.map(p => all.filter(p)), dir)
      finally all.unpersist(blocking = false)
    }.toString

  /** Stage the engineered micro-batch files without running the apply
    * loop — Bench's untimed warmup, so staging I/O never lands in a
    * timed repeat.
    */
  def prestage(spark: SparkSession, sfDir: String): Unit = {
    stageBatches(spark, sfDir)
    ()
  }

  /** One micro-batch: union held-back rows with the batch, decide
    * completeness per transaction, apply complete ones through the
    * shared ordered merge, persist the rest back to the held store.
    */
  private def processBatch(store: StateStore, pendingDir: String,
      applied: scala.collection.mutable.Map[Long, Seq[Long]],
      batchId: Long, batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    val pendingPath = Paths.get(pendingDir, "rows")
    val pending =
      if (Files.exists(pendingPath))
        spark.read.parquet(pendingPath.toString)
      else batch.limit(0)
    val all = batch.unionByName(pending).persist()
    try {
      // Transaction-cardinality frames: observed event count vs the
      // marker's expected count; complete ⇔ marker seen AND counts
      // agree. (A marker can arrive before its last event — the
      // staged b0 does — so marker presence alone must NOT apply.)
      val status = all.groupBy("ts_ms")
        .agg(count(when(col("op") =!= "t", 1)).as("have"),
          max(when(col("op") === "t", col("seq"))).as("want"))
      val complete = status
        .filter(col("want").isNotNull && col("have") === col("want"))
        .select(col("ts_ms"))
      applied.synchronized {
        applied(batchId) = complete.collect().map(_.getLong(0)).toSeq.sorted
      }
      val completeRows = all.join(broadcast(complete), Seq("ts_ms"))
      val toApply = Envelope.flatten(
        completeRows.filter(col("op") =!= "t"))
      // Held-back rewrite: everything NOT in a complete transaction
      // (events and markers) waits for the next batch.
      val rest = all.join(broadcast(complete), Seq("ts_ms"), "left_anti")
        .select("before", "after", "op", "ts_ms", "seq", "source")
      val tmp = Paths.get(pendingDir, "rows_next")
      // The apply (store table) and the holdback rewrite (pending dir)
      // write DISJOINT locations off the same persisted frame — run
      // them as concurrent Spark actions, both joined before a failure
      // is rethrown. Only the `rest` parquet write to the TEMP path
      // overlaps the apply: the pending dir — the sole durable copy of
      // complete transactions' events until the apply commits — is
      // wiped and atomically replaced ONLY after the apply has
      // succeeded. (The reverse order would lose those events
      // permanently if the apply failed or the process crashed in the
      // window; the old sequential apply-then-rewrite only ever risked
      // an idempotent re-apply.)
      graft.Par.run(Seq(
        () => { MergeCommit.mergeFlattened(store, TargetTable, toApply,
          Seq("c_custkey")); () },
        () => rest.write.mode("overwrite").parquet(tmp.toString)))
      // Apply durable — NOW retire the holdback.
      graft.Scratch.delete(pendingPath)
      Files.move(tmp, pendingPath, StandardCopyOption.ATOMIC_MOVE)
    } finally all.unpersist(blocking = false)
  }

  /** Drain the staged batches; returns the store plus the per-batch
    * applied-transaction schedule (spec instrumentation).
    */
  private[queries] def runTxApply(spark: SparkSession, sfDir: String)
      : (StateStore, Map[Long, Seq[Long]]) = {
    val logDir = stageBatches(spark, sfDir)
    val whDir = graft.Scratch.fresh("graft-txwh-", sfDir).toString
    val ckptDir = graft.Scratch.fresh("graft-txckpt-", sfDir).toString
    val pendDir = graft.Scratch.fresh("graft-txpend-", sfDir).toString
    val store = new StateStore(whDir, NBuckets)
    val applied = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    val envSchema = logWithMarkers(spark, sfDir).schema
    val src = spark.readStream.schema(envSchema)
      .option("maxFilesPerTrigger", 1).parquet(logDir)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = src.writeStream
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, id: Long) =>
          processBatch(store, pendDir, applied, id, b)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    (store, applied.toMap)
  }

  /** The registered query: the target after the whole-transaction
    * drain — identical to the batch merge of the full log (every
    * transaction eventually completes), which is exactly what the
    * shared merged-state oracle checks.
    */
  def txApply(spark: SparkSession, sfDir: String): DataFrame = {
    val (store, _) = runTxApply(spark, sfDir)
    store.currentState(spark, TargetTable)
      .filter(!col(StateStore.DeletedCol))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val txApplyOracle: String = ChangeGen.mergedOracleSql(
    "customer", "c_custkey", "c_acctbal",
    Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_tx_apply" -> txApply)

  def oracles: Map[String, String] = Map(
    "cdc_tx_apply" -> txApplyOracle)
}
