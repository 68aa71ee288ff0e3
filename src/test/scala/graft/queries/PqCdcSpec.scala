package graft.queries

import graft.{BatchFaults, SparkTestBase, Tables}
import graft.cdc.Envelope
import graft.ops.ClusterOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Incremental PQ code maintenance: codes are a pure function of the
  * merged per-key state given snapshot codebooks, so the drained state
  * must be identical under any micro-batch slicing, and the delete
  * wave's keys must vanish from the codes table.
  */
class PqCdcSpec extends SparkTestBase {

  test("codes state is independent of micro-batch slicing") {
    def run(filesPerTrigger: Int) =
      PqCdcQueries.pqIncremental(spark, sf, filesPerTrigger).collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
        .toMap
    val oneAtATime = run(1)
    val allAtOnce = run(4)
    assert(oneAtATime.nonEmpty)
    assert(oneAtATime === allAtOnce,
      "per-key codes must not depend on how the log slices into batches")
  }

  test("tombstoned keys leave the codes table; survivors carry valid codes") {
    val rows = PqCdcQueries.pqIncremental(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 7 != 0L),
      "every %7 key was deleted by the last wave and must not re-appear")
    val ks = rows.flatMap(r => Seq(r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4)))
    assert(ks.forall(k => k >= 0 && k < 8),
      s"codes must index the ${ClusterOps.PqM} 8-codeword codebooks")
  }

  test("torn batch: a crash between the assignments and codes commits " +
      "recovers on retry to the uncrashed tables") {
    val store = PqCdcQueries.runMaintenance(spark, sf, 2)
    val clean = BatchFaults.twin(store)
    val books = PqCdcQueries.codebooks(spark, sf)
    val embD = transform(col("embedding"), x => x.cast("double"))
    def img(label: Column, emb: Column) =
      struct(col("vec_id").cast("long").as("vec_id"),
        label.cast("int").as("label"), emb.as("emb"))
    // A sign-flip wave: every touched vector changes label and values.
    val batch = Envelope.flatten(Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 11 === 1).select(
        img(col("label"), embD).as("before"),
        img(col("label") + 2000, transform(embD, x => -x)).as("after"),
        lit(Envelope.OpUpdate).as("op"), lit(9000L).as("ts_ms"),
        col("vec_id").cast("long").as("seq"),
        struct(lit("vectors").as("schema"),
          lit("embeddings").as("table")).as("source")))

    // Assignments committed, codes not: the retry must re-run the batch
    // against the pre-batch assignments.
    BatchFaults.crashAtCommit(store, "pq.codes")(
      PqCdcQueries.processBatch(books)(store, batch))
    PqCdcQueries.processBatch(books)(store, batch) // the streaming retry
    PqCdcQueries.processBatch(books)(clean, batch)
    BatchFaults.assertSameTables(spark, store, clean,
      Seq("pq.assignments", "pq.codes"))
  }
}
