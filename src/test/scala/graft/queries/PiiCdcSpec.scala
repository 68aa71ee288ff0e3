package graft.queries

import graft.{BatchFaults, SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** CDC-maintained PII census contracts ([[PiiCdcQueries]]): the
  * delta-maintained census is bit-identical across micro-batch
  * slicings and to a from-scratch rebuild (all counters are LONG
  * sums — no epsilon anywhere), the zero-residual audit holds on the
  * maintained row, and torn batches recover at both crash points to
  * the tables of an uncrashed run.
  */
class PiiCdcSpec extends SparkTestBase {

  private def census(filesPerTrigger: Int): Map[String, Seq[Long]] =
    PiiCdcQueries.piiIncremental(spark, sf, filesPerTrigger).collect()
      .map(r => r.getString(0) -> (1 to 7).map(r.getLong)).toMap

  test("census is bit-identical across micro-batch slicings and " +
      "zero-residual on maintained state") {
    val oneAtATime = census(1)
    val allAtOnce = census(4)
    assert(oneAtATime.nonEmpty)
    assert(oneAtATime === allAtOnce,
      "telescoping long deltas must not depend on log slicing")
    // The redaction audit rides the maintained census: residual = 0.
    assert(oneAtATime.values.map(_(5)).sum == 0L,
      "maintained census must carry a zero residual")
    // Survivor accounting: every doc with doc_id%7!=0 counts once.
    val survivors = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 7 =!= 0).count()
    assert(oneAtATime.values.map(_(0)).sum == survivors)
  }

  test("torn batch recovers on retry at both crash points") {
    val store = PiiCdcQueries.runMaintenance(spark, sf, 2)
    val clean = BatchFaults.twin(store)
    def img(text: org.apache.spark.sql.Column) =
      struct(col("doc_id").cast("long").as("doc_id"),
        text.cast("string").as("text"))
    def wave(m: Int, suffix: String, ts: Long) =
      graft.cdc.Envelope.flatten(
        Tables.load(spark, sf, "documents")
          .filter(col("doc_id") % m === 1).select(
            img(col("text")).as("before"),
            img(concat(col("text"), lit(suffix))).as("after"),
            lit(graft.cdc.Envelope.OpUpdate).as("op"), lit(ts).as("ts_ms"),
            col("doc_id").cast("long").as("seq"),
            struct(lit("corpus").as("schema"),
              lit("documents").as("table")).as("source")))
    // Non-mutating consistency probe: maintained census vs an
    // independent recompute off pii.docs (NOT rebuildCensus, whose
    // commit would move the versions under test).
    def consistent(): Boolean = {
      val maintained = PiiCdcQueries.readCensus(spark, store).collect()
        .map(r => r.getString(0) -> (1 to 7).map(r.getLong)).toMap
      val expected = store.currentState(spark, "pii.docs")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("e") + col("p") + col("i") > 0, 1L).otherwise(0L))
            .as("docs_with_pii"),
          sum(col("e").cast("long")).as("n_email"),
          sum(col("p").cast("long")).as("n_phone"),
          sum(col("i").cast("long")).as("n_ip"),
          sum(col("resid").cast("long")).as("n_residual"),
          sum("ck").as("scrub_checksum"))
        .collect()
        .map(r => r.getString(0) -> (1 to 7).map(r.getLong)).toMap
      maintained == expected
    }

    // Crash point 1: docs committed, census not.
    val b1 = wave(11, " torn pii wave", 9000L)
    BatchFaults.crashAtCommit(store, "pii.census")(
      PiiCdcQueries.processBatch(store, b1))
    assert(!consistent(), "torn batch must leave the census stale")
    PiiCdcQueries.processBatch(store, b1) // the streaming retry
    assert(consistent(),
      "retry must re-run the batch against the reset pre-batch state")

    // Crash point 2: the docs commit itself fails. (A crash after the
    // census commit, with the batch record still open, is out of a
    // filesystem fault's reach; BatchScopeSpec covers it.)
    val b2 = wave(13, " second torn wave", 9500L)
    BatchFaults.crashAtCommit(store, "pii.docs")(
      PiiCdcQueries.processBatch(store, b2))
    PiiCdcQueries.processBatch(store, b2) // the retry re-applies safely
    assert(consistent(), "the retry must never double-apply the delta")

    // And the delta path works again after recovery.
    val b3 = wave(17, " post recovery", 9900L)
    PiiCdcQueries.processBatch(store, b3)
    assert(consistent(), "post-recovery batches telescope correctly")

    Seq(b1, b2, b3).foreach(PiiCdcQueries.processBatch(clean, _))
    BatchFaults.assertSameTables(spark, store, clean,
      Seq("pii.docs", "pii.census"))
  }

  test("delta-maintained census equals a from-scratch rebuild") {
    val store = PiiCdcQueries.runMaintenance(spark, sf, 2)
    val deltas = PiiCdcQueries.readCensus(spark, store).collect()
      .map(r => r.getString(0) -> (1 to 7).map(r.getLong)).toMap
    val v = PiiCdcQueries.rebuildCensus(spark, store)
    assert(v > 0, "rebuild must commit a fresh version")
    val rebuilt = PiiCdcQueries.readCensus(spark, store).collect()
      .map(r => r.getString(0) -> (1 to 7).map(r.getLong)).toMap
    assert(rebuilt === deltas,
      "delta-maintained and rebuilt censuses must agree exactly")
  }
}
