package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.Tables
import graft.cdc.{ChangeGen, Envelope, Merge, MergeCommit, StateStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CROSS-TABLE whole-transaction apply — [[TxApplyQueries]] extended to
  * the multi-collection contract Debezium's transaction metadata
  * actually carries (`data_collections`: per-collection event counts on
  * the END marker): a source transaction touching SEVERAL tables is
  * applied only once it is complete in ALL of them, so no target ever
  * commits part of a transaction.
  *
  * What this does NOT yet give is cross-table reader isolation: each
  * target commits through its own `_VERSION` swap, so a reader between
  * the per-table swaps of one batch can see a transaction in one table
  * and not yet in the other. A shared group pointer for the targets is
  * still open (ROADMAP aim 3).
  *
  * One stream carries both tables' events in WIRE FORMAT (the A8/A15
  * JSON envelope — exactly what a multi-topic Kafka consumer sees);
  * END markers are one row per (transaction, collection) carrying that
  * collection's expected count. Each micro-batch:
  *
  *  1. parses ONLY the metadata head (op, ts_ms, seq, source) — the
  *     row images stay opaque strings, so completeness accounting is
  *     schema-agnostic and the held-back store buffers raw wire bytes
  *     (a consumer can hold transactions for tables whose schema it
  *     hasn't even loaded yet);
  *  2. decides completeness per transaction across ALL its
  *     collections — every (tx, table) group must have its marker AND
  *     the observed count must equal it (a marker arriving before its
  *     last event, or one table complete while the other is short —
  *     both staged deliberately — hold the WHOLE transaction);
  *  3. routes each complete transaction's rows per source.table,
  *     parses them FAILFAST against that table's schema, and applies
  *     through the shared bucket-pruned ordered merge into the
  *     per-table target.
  *
  * Scale shapes: completeness is decided on transaction×collection
  * cardinality frames (tiny) broadcast back onto the wire stream; the
  * held-back store carries only open transactions' wire rows — bounded
  * by in-flight tx volume, not corpus size; each table's apply is the
  * same [[MergeCommit]] path as every other CDC target.
  */
object TxApplyMultiQueries {

  private val NBuckets = 8

  private case class Target(table: String, pk: String, fixture: String)
  private val Targets = Seq(
    Target("txm.customer", "c_custkey", "customer"),
    Target("txm.supplier", "s_suppkey", "supplier"))

  private val MetaSchema =
    "op string, ts_ms long, seq long, " +
      "source struct<schema: string, `table`: string>"

  private def changeLog(spark: SparkSession, sfDir: String,
                        t: Target): DataFrame =
    ChangeGen.changeLog(Tables.load(spark, sfDir, t.fixture), t.pk,
      if (t.fixture == "customer") "c_acctbal" else "s_acctbal",
      "commerce", t.fixture)

  /** Both tables' envelope logs plus one END-marker row per
    * (transaction, collection) with that collection's event count —
    * the per-collection form of Debezium's `data_collections`.
    */
  private def logWithMarkers(spark: SparkSession, sfDir: String,
                             t: Target): DataFrame = {
    val log = changeLog(spark, sfDir, t)
    val markers = log.groupBy("ts_ms")
      .agg(count(lit(1)).as("n"))
      .select(
        lit(null).cast(log.schema("before").dataType).as("before"),
        lit(null).cast(log.schema("after").dataType).as("after"),
        lit("t").as("op"), col("ts_ms"), col("n").as("seq"),
        struct(lit("commerce").as("schema"), lit(t.fixture).as("table"))
          .as("source"))
    log.unionAll(markers)
  }

  /** Stage four wire-format micro-batch files engineered so every
    * cross-table holdback mode occurs:
    *   b0: customer tx1000 COMPLETE with marker; supplier tx1000 half
    *       with marker → one collection complete, the other short:
    *       the whole tx HOLDS (the cross-table case).
    *   b1: rest of supplier tx1000; both tables' tx500 events, NO
    *       markers → 1000 applies to BOTH targets; 500 held.
    *   b2: both markers(500); tx2000 complete both + markers;
    *       customer half of tx3000 → 500 + 2000 apply; 3000 held.
    *   b3: rest of 3000 both tables + markers; tx4000 complete both
    *       → 3000 + 4000 apply; nothing pending.
    */
  /** Stage the engineered wire micro-batch files without running the
    * apply loop — Bench's untimed warmup, so staging I/O never lands
    * in a timed repeat.
    */
  def prestage(spark: SparkSession, sfDir: String): Unit = {
    stageBatches(spark, sfDir)
    ()
  }

  private def stageBatches(spark: SparkSession, sfDir: String): String =
    graft.Scratch.staged("graft-txmlog-", sfDir) { dir =>
      val cust = logWithMarkers(spark, sfDir, Targets(0)).persist()
      val supp = logWithMarkers(spark, sfDir, Targets(1)).persist()
      val ev = col("op") =!= "t"
      val mk = col("op") === "t"
      val ts = col("ts_ms")
      val even = col("seq") % 2 === 0
      // Per-table slices serialize to wire BEFORE the union — the two
      // envelope types differ (that's the point of the wire format).
      def w(df: DataFrame): DataFrame = Envelope.toWire(df)
      def slices(c: DataFrame, s: DataFrame): Seq[DataFrame] = Seq(
        w(c.filter(ts === 1000L))
          .unionAll(w(s.filter(ts === 1000L && ((ev && even) || mk)))),
        w(s.filter(ts === 1000L && ev && !even))
          .unionAll(w(c.filter(ts === 500L && ev)))
          .unionAll(w(s.filter(ts === 500L && ev))),
        w(c.filter((ts === 500L && mk) || ts === 2000L ||
            (ts === 3000L && ev && even)))
          .unionAll(w(s.filter((ts === 500L && mk) || ts === 2000L))),
        w(c.filter((ts === 3000L && ((ev && !even) || mk)) || ts === 4000L))
          .unionAll(w(s.filter(ts === 3000L || ts === 4000L))))
      try graft.Scratch.orderedSlices(slices(cust, supp), dir)
      finally Seq(cust, supp).foreach(_.unpersist(blocking = false))
    }.toString

  /** One micro-batch over raw wire rows: metadata-only parse, ALL-
    * collections completeness, per-table FAILFAST parse + ordered
    * merge for complete transactions, raw-wire holdback for the rest.
    */
  private def processBatch(store: StateStore, pendingDir: String,
      rowSchemas: Map[String, StructType],
      applied: scala.collection.mutable.Map[Long, Seq[Long]],
      batchId: Long, batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    val pendingPath = Paths.get(pendingDir, "rows")
    val pending =
      if (Files.exists(pendingPath))
        spark.read.parquet(pendingPath.toString)
      else batch.limit(0)
    val all = batch.unionByName(pending)
      .select(col("value"),
        from_json(col("value"), StructType.fromDDL(MetaSchema),
          Map("mode" -> "FAILFAST")).as("m"))
      .persist()
    try {
      // (tx, collection)-cardinality status, then tx-cardinality
      // verdict: complete ⇔ EVERY collection seen for the tx has its
      // marker and the counts agree.
      val perColl = all.groupBy(col("m.ts_ms").as("ts_ms"),
          col("m.source.table").as("tbl"))
        .agg(count(when(col("m.op") =!= "t", 1)).as("have"),
          max(when(col("m.op") === "t", col("m.seq"))).as("want"))
      val complete = perColl.groupBy("ts_ms")
        .agg(min(when(col("want").isNotNull && col("have") === col("want"),
          1).otherwise(0)).as("ok"))
        .filter(col("ok") === 1)
        .select("ts_ms")
      applied.synchronized {
        applied(batchId) = complete.collect().map(_.getLong(0)).toSeq.sorted
      }
      val completeRows = all
        .join(broadcast(complete), col("m.ts_ms") === col("ts_ms"))
      // Each target writes its OWN store table (disjoint dirs —
      // single-writer per table holds trivially), so the per-table
      // applies run as CONCURRENT Spark actions; the atomic commit
      // point stays per table, and the transaction boundary is already
      // enforced above by the completeness gate, not by apply order.
      val applies = Targets.map { t => graft.Par.future {
        val toApply = Envelope.fromWire(
          completeRows.filter(col("m.op") =!= "t" &&
            col("m.source.table") === t.fixture).select("value"),
          rowSchemas(t.fixture))
        val compacted = Merge.compactKeepTombstones(
          Envelope.flatten(toApply), Seq(t.pk)).persist()
        try {
          val meta = MergeCommit.toBatchMeta(compacted, Seq(t.pk), NBuckets)
          MergeCommit.mergeBatchMeta(store, t.table, meta, Seq(t.pk))
            .foreach(_.unpersist())
        } finally compacted.unpersist(blocking = false)
      } }
      // Raw-wire holdback: incomplete transactions' rows (events AND
      // markers) wait as opaque strings — only the TEMP-path write
      // overlaps the applies; the pending dir (the sole durable copy
      // of complete transactions' events until every per-table apply
      // commits) is wiped and atomically replaced ONLY after ALL
      // applies succeeded. Par.awaitAll also joins every apply before
      // rethrowing a failure, so a crash/retry never races stray
      // in-flight table writers (A17).
      val rest = all.join(broadcast(complete),
          all("m.ts_ms") === complete("ts_ms"), "left_anti")
        .select("value")
      val tmp = Paths.get(pendingDir, "rows_next")
      rest.write.mode("overwrite").parquet(tmp.toString)
      graft.Par.awaitAll(applies) // all applies durable — retire holdback
      graft.Scratch.delete(pendingPath)
      Files.move(tmp, pendingPath, StandardCopyOption.ATOMIC_MOVE)
    } finally all.unpersist(blocking = false)
  }

  /** Drain the staged wire batches; returns the store plus the
    * per-batch applied-transaction schedule (spec instrumentation).
    */
  private[queries] def runTxApplyMulti(spark: SparkSession, sfDir: String)
      : (StateStore, Map[Long, Seq[Long]]) = {
    val logDir = stageBatches(spark, sfDir)
    val whDir = graft.Scratch.fresh("graft-txmwh-", sfDir).toString
    val ckptDir = graft.Scratch.fresh("graft-txmckpt-", sfDir).toString
    val pendDir = graft.Scratch.fresh("graft-txmpend-", sfDir).toString
    val store = new StateStore(whDir, NBuckets)
    val applied = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    val rowSchemas = Targets.map(t =>
      t.fixture -> Tables.load(spark, sfDir, t.fixture).schema).toMap
    val src = spark.readStream
      .schema(StructType.fromDDL("value string"))
      .option("maxFilesPerTrigger", 1).parquet(logDir)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = src.writeStream
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (b: DataFrame, id: Long) =>
          processBatch(store, pendDir, rowSchemas, applied, id, b)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    (store, applied.toMap)
  }

  /** The registered query: both targets after the drain, summarized as
    * (table, row count, exact balance cents) — every transaction
    * eventually completes, so each target must equal the batch merge
    * of its own full log.
    */
  def txApplyMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val (store, _) = runTxApplyMulti(spark, sfDir)
    Targets.map { t =>
      val bal = if (t.fixture == "customer") "c_acctbal" else "s_acctbal"
      store.currentState(spark, t.table)
        .filter(!col(StateStore.DeletedCol))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col(bal), 2) * 100).cast("long").as("bal_cents"))
        .select(lit(t.fixture).as("tbl"), col("n_rows"), col("bal_cents"))
    }.reduce(_.unionAll(_)).orderBy("tbl")
  }

  val txApplyMultiOracle: String = {
    def part(fixture: String, pk: String, bal: String,
             others: Seq[String]): String =
      s"""SELECT '$fixture' AS tbl, count(*) AS n_rows,
        |  CAST(sum($bal * 100) AS BIGINT) AS bal_cents
        |FROM (${ChangeGen.mergedOracleSql(fixture, pk, bal, others)})"""
        .stripMargin
    part("customer", "c_custkey", "c_acctbal",
      Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")) +
      "\nUNION ALL\n" +
      part("supplier", "s_suppkey", "s_acctbal",
        Seq("s_name", "s_nationkey", "s_acctbal")) +
      "\nORDER BY tbl"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_tx_apply_multi" -> txApplyMulti)

  def oracles: Map[String, String] = Map(
    "cdc_tx_apply_multi" -> txApplyMultiOracle)
}
