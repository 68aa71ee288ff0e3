package graft.queries

import graft.{BatchFaults, SparkTestBase}
import org.apache.spark.sql.functions._

/** CDC-maintained boilerplate-line census ([[LinesCdcQueries]]): the
  * per-digest recurrence telescopes identically across micro-batch
  * slicings and equals a from-scratch recount; torn batches recover
  * on retry; the organically-grown boilerplate (the %5 full-replace
  * body) crosses the threshold; and the served rewrite equals the
  * batch pass run over the post-change corpus.
  */
class LinesCdcSpec extends SparkTestBase {

  test("census telescopes across slicings and equals the recount; the " +
      "grown boilerplate line crosses the threshold") {
    val s1 = LinesCdcQueries.runMaintenance(spark, sf, filesPerTrigger = 1)
    val (c1, r1) = LinesCdcQueries.censusAndRebuild(spark, s1)
    assert(c1.nonEmpty)
    assert(c1 == r1, "delta-maintained census must equal the recount")
    // The %5 full-replace wave gives ~1/5 of surviving docs the SAME
    // body — a boilerplate line no plant introduced. Its digest must
    // sit in the census at exactly the surviving-%5 count.
    val grown = graft.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 5 === 0 && col("doc_id") % 7 =!= 0).count()
    val d = spark.sql("SELECT md5('row row row data')").head().getString(0)
    assert(c1.get(d).contains(grown),
      s"grown boilerplate digest must census at $grown, got ${c1.get(d)}")
    assert(grown > graft.ops.LlmOps.linesMinDocs,
      "fixture sanity: the grown line is over the threshold")

    val s3 = LinesCdcQueries.runMaintenance(spark, sf, filesPerTrigger = 3)
    val (c3, _) = LinesCdcQueries.censusAndRebuild(spark, s3)
    assert(c3 == c1, "census must be independent of micro-batch slicing")
  }

  test("torn batch (docs committed, census not) recovers on retry") {
    val store = LinesCdcQueries.runMaintenance(spark, sf, 2)
    val clean = BatchFaults.twin(store)
    def img(text: org.apache.spark.sql.Column) =
      struct(col("doc_id").cast("long").as("doc_id"),
        text.cast("string").as("text"))
    val wave = graft.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 11 === 2).select(
        img(col("text")).as("before"),
        img(lit("totally novel body line")).as("after"),
        lit(graft.cdc.Envelope.OpUpdate).as("op"), lit(9000L).as("ts_ms"),
        col("doc_id").cast("long").as("seq"),
        struct(lit("corpus").as("schema"),
          lit("documents").as("table")).as("source"))
    val batch = graft.cdc.Envelope.flatten(wave)
    BatchFaults.crashAtCommit(store, "ln.census")(
      LinesCdcQueries.processBatch(store, batch))
    val (c1, r1) = LinesCdcQueries.censusAndRebuild(spark, store)
    assert(c1 != r1, "the torn batch must leave the census stale")

    LinesCdcQueries.processBatch(store, batch) // the streaming retry
    val (c2, r2) = LinesCdcQueries.censusAndRebuild(spark, store)
    assert(c2 == r2, "the retry's census must equal the recount")
    val d = spark.sql("SELECT md5('totally novel body line')")
      .head().getString(0)
    assert(c2.get(d).contains(graft.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 11 === 2).count()),
      "the new body's digest counts every updated (incl. revived) doc")
    LinesCdcQueries.processBatch(clean, batch)
    BatchFaults.assertSameTables(spark, store, clean,
      Seq("ln.docs", "ln.census"))
  }

  test("recovery stays total when the wave empties census buckets") {
    // VERDICT r16 #3: a delete-every-document wave empties the whole
    // line census; the retry must commit the emptied buckets as EMPTY
    // and converge instead of refusing on "orphaned" buckets.
    val store = LinesCdcQueries.runMaintenance(spark, sf, 2)
    val clean = BatchFaults.twin(store)
    def img(text: org.apache.spark.sql.Column) =
      struct(col("doc_id").cast("long").as("doc_id"),
        text.cast("string").as("text"))
    val wave = graft.Tables.load(spark, sf, "documents").select(
      img(col("text")).as("before"),
      img(col("text")).as("after"),
      lit(graft.cdc.Envelope.OpDelete).as("op"), lit(9500L).as("ts_ms"),
      col("doc_id").cast("long").as("seq"),
      struct(lit("corpus").as("schema"),
        lit("documents").as("table")).as("source"))
    val batch = graft.cdc.Envelope.flatten(wave)
    BatchFaults.crashAtCommit(store, "ln.census")(
      LinesCdcQueries.processBatch(store, batch))   // the crash
    LinesCdcQueries.processBatch(store, batch)        // the retry
    val (c2, r2) = LinesCdcQueries.censusAndRebuild(spark, store)
    assert(c2.isEmpty && c2 == r2,
      "the recovered census is empty and equals the recount")
    LinesCdcQueries.processBatch(clean, batch)
    BatchFaults.assertSameTables(spark, store, clean,
      Seq("ln.docs", "ln.census"))
  }

  test("served rewrite equals the batch pass over the post-change corpus") {
    val docs2 = graft.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, lit("row row row data"))
          .when(col("doc_id") % 3 === 0, concat(col("text"),
            lit(" data table")))
          .otherwise(col("text")))
      .select(col("doc_id"), col("source"),
        graft.ops.LlmOps.plantLines(col("text")).as("t"))
    val lines = docs2.select(col("doc_id"), col("source"),
      posexplode(split(col("t"), "\n")).as(Seq("pos", "line")))
    val expected = graft.ops.LlmOps.dedupLinesRollup(lines,
      graft.ops.LlmOps.linesFrequent(lines))
      .collect().map(_.toSeq.toList).toList
    val served = LinesCdcQueries.linesIncremental(spark, sf)
      .collect().map(_.toSeq.toList).toList
    assert(served == expected,
      "maintained-state rewrite must equal the batch pass on the " +
        "post-change corpus")
  }
}
