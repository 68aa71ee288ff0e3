package graft.queries

import graft.{BatchFaults, SparkTestBase}
import graft.ops.LlmOps
import org.apache.spark.sql.functions._

/** CDC-maintained BM25 index ([[Bm25CdcQueries]]): micro-batch
  * slicing independence of BOTH maintained tables, delta-maintained
  * stats equal to a from-scratch rebuild off the feature index (long
  * arithmetic — bit-for-bit, no epsilon), deleted documents absent,
  * and the served ranking equal to the batch scorer run over the
  * post-change corpus computed independently in Spark.
  */
class Bm25CdcSpec extends SparkTestBase {

  private def featState(store: graft.cdc.StateStore) =
    store.currentState(spark, "bm.docs")
      .select("doc_id", "dl", "tf1", "tf2", "tf3")
      .orderBy("doc_id").collect().map(_.toSeq.toList).toList

  test("state is independent of micro-batch slicing; stats equal the " +
      "rebuilt index aggregate; deletes absent") {
    val s1 = Bm25CdcQueries.runMaintenance(spark, sf, filesPerTrigger = 1)
    val f1 = featState(s1)
    val (stats1, rebuilt1) = Bm25CdcQueries.statsAndRebuild(spark, s1)
    assert(stats1 == rebuilt1,
      "delta-maintained stats must equal a from-scratch rebuild " +
        s"bit-for-bit: $stats1 vs $rebuilt1")
    assert(f1.nonEmpty)
    // Deletes: no %7 doc survives in the feature index.
    assert(!f1.exists(r => r.head.asInstanceOf[Long] % 7 == 0))

    val s3 = Bm25CdcQueries.runMaintenance(spark, sf, filesPerTrigger = 3)
    assert(featState(s3) == f1,
      "feature state must be identical across micro-batch slicings")
    val (stats3, _) = Bm25CdcQueries.statsAndRebuild(spark, s3)
    assert(stats3 == stats1,
      "stats must telescope identically across slicings")
  }

  test("torn batch (docs committed, stats not) recovers on the retry: " +
      "stats rebuilt from the index instead of freezing the zero delta") {
    val store = Bm25CdcQueries.runMaintenance(spark, sf, 2)
    val clean = BatchFaults.twin(store)
    val (s0, r0) = Bm25CdcQueries.statsAndRebuild(spark, store)
    assert(s0 == r0, "healthy drain: stats == rebuild")

    // A late wave, crashed between the two commits: the docs merge
    // lands, the stats commit never runs.
    val base = graft.Tables.load(spark, sf, "documents")
    def img(text: org.apache.spark.sql.Column) =
      struct(col("doc_id").cast("long").as("doc_id"),
        text.cast("string").as("text"))
    val wave = base.filter(col("doc_id") % 11 === 1).select(
      img(col("text")).as("before"),
      img(lit("fresh update data table")).as("after"),
      lit(graft.cdc.Envelope.OpUpdate).as("op"), lit(9000L).as("ts_ms"),
      col("doc_id").cast("long").as("seq"),
      struct(lit("corpus").as("schema"),
        lit("documents").as("table")).as("source"))
    val batch = graft.cdc.Envelope.flatten(wave)
    BatchFaults.crashAtCommit(store, "bm.stats")(
      Bm25CdcQueries.processBatch(store, batch))
    val (s1, r1) = Bm25CdcQueries.statsAndRebuild(spark, store)
    assert(s1 != r1, "the torn batch must leave stats stale (the bug)")

    // The streaming RETRY re-processes the SAME batch. Re-merged onto
    // the torn docs it would telescope a zero delta (events already in
    // state); the batch scope resets docs to its pre-batch version
    // first, so the retry's delta is the whole batch's.
    Bm25CdcQueries.processBatch(store, batch)
    val (s2, r2) = Bm25CdcQueries.statsAndRebuild(spark, store)
    assert(s2 == r2,
      s"retry stats must equal the rebuild from the index: $s2 vs $r2")

    // And the pipeline continues healthily on the delta path after.
    val wave2 = base.filter(col("doc_id") % 13 === 1).select(
      img(col("text")).as("before"),
      img(lit("row data row")).as("after"),
      lit(graft.cdc.Envelope.OpUpdate).as("op"), lit(9500L).as("ts_ms"),
      col("doc_id").cast("long").as("seq"),
      struct(lit("corpus").as("schema"),
        lit("documents").as("table")).as("source"))
    val batch2 = graft.cdc.Envelope.flatten(wave2)
    Bm25CdcQueries.processBatch(store, batch2)
    val (s3, r3) = Bm25CdcQueries.statsAndRebuild(spark, store)
    assert(s3 == r3, "post-recovery batches telescope correctly again")

    Seq(batch, batch2).foreach(Bm25CdcQueries.processBatch(clean, _))
    BatchFaults.assertSameTables(spark, store, clean,
      Seq("bm.docs", "bm.stats"))
  }

  test("served ranking equals the batch scorer over the post-change " +
      "corpus") {
    val docs2 = graft.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, lit("row row row data"))
          .when(col("doc_id") % 3 === 0, concat(col("text"),
            lit(" data table")))
          .otherwise(col("text")))
    val expected = LlmOps.bm25TopK(
      LlmOps.bm25Features(docs2)
        .select("doc_id", "dl", "tf1", "tf2", "tf3"),
      LlmOps.bm25Stats(docs2)).collect().map(_.toSeq.toList).toList
    val served = Bm25CdcQueries.bm25Incremental(spark, sf)
      .collect().map(_.toSeq.toList).toList
    assert(served == expected,
      "maintained-state ranking must equal the batch scorer on the " +
        "post-change corpus")
  }
}
