package graft.queries

import graft.{BatchFaults, SparkTestBase, Tables}
import graft.cdc.Envelope
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Incremental IVF maintenance vs a from-scratch rebuild: after the
  * change log drains (snapshot, stale wave, cluster moves, deletes),
  * the delta-maintained (label, dim) sums/counts must equal what a
  * batch quantizer computes directly on the final corpus — the
  * "incremental == rebuild" contract that makes delta maintenance safe
  * to trust at scales where a rebuild is unaffordable.
  */
class IvfCdcSpec extends SparkTestBase {

  test("delta-maintained index equals a batch rebuild on the final corpus") {
    val inc = IvfCdcQueries.ivfIncremental(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val embD = transform(col("embedding"), x => x.cast("double"))
    val moved = col("vec_id") % 3 === 0
    val finalCorpus = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 7 =!= 0)
      .select(
        when(moved, col("label") + 1000).otherwise(col("label")).as("label"),
        when(moved, transform(embD, x => x * 1.5)).otherwise(embD).as("emb"))
    val batch = finalCorpus
      .select(col("label"), posexplode(col("emb")).as(Seq("p", "v")))
      .groupBy(col("label"), (col("p") + 1).as("i"))
      .agg(count(lit(1)).as("n"), round(avg("v"), 6).as("m"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(inc.keySet === batch.keySet, "index rows differ from rebuild")
    assert(inc.nonEmpty)
    inc.foreach { case (k, (n, m)) =>
      assert(batch(k)._1 === n, s"member count diverged at $k")
      assert(math.abs(batch(k)._2 - m) < 1e-9,
        s"centroid component diverged at $k: rebuild=${batch(k)._2} inc=$m")
    }
  }

  test("index state is independent of micro-batch slicing") {
    // Telescoping deltas must converge to the same index whether the
    // 4 staged log files drain as 4 micro-batches or as 1 — the waves
    // (stale/snapshot/move/delete) interleave across batches
    // differently in each case.
    def run(filesPerTrigger: Int) =
      IvfCdcQueries.ivfIncremental(spark, sf, filesPerTrigger).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
    val oneAtATime = run(1)
    val allAtOnce = run(4)
    assert(oneAtATime.keySet === allAtOnce.keySet)
    assert(oneAtATime.nonEmpty)
    oneAtATime.foreach { case (k, (n, m)) =>
      assert(allAtOnce(k)._1 === n, s"count differs at $k across slicings")
      assert(math.abs(allAtOnce(k)._2 - m) < 1e-9,
        s"centroid differs at $k across slicings")
    }
  }

  test("compaction-time index rebuild matches the delta-maintained state") {
    val store = IvfCdcQueries.runMaintenance(spark, sf, 2)
    val deltas = IvfCdcQueries.readIndex(spark, store).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val v = IvfCdcQueries.rebuildIndex(spark, store)
    assert(v > 0, "rebuild must commit a fresh version")
    val rebuilt = IvfCdcQueries.readIndex(spark, store).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rebuilt.keySet === deltas.keySet)
    assert(rebuilt.nonEmpty)
    rebuilt.foreach { case (k, (n, m)) =>
      assert(deltas(k)._1 === n, s"count differs at $k after rebuild")
      assert(math.abs(deltas(k)._2 - m) < 1e-9,
        s"centroid differs at $k after rebuild (drift beyond epsilon)")
    }
  }

  test("torn batch: a crash between the assignments and index commits " +
      "recovers on retry to the uncrashed tables") {
    val store = IvfCdcQueries.runMaintenance(spark, sf, 2)
    val clean = BatchFaults.twin(store)
    val embD = transform(col("embedding"), x => x.cast("double"))
    def img(label: Column, emb: Column) =
      struct(col("vec_id").cast("long").as("vec_id"),
        label.cast("int").as("label"), emb.as("emb"))
    // A cluster-move wave: every touched vector changes label and values.
    val batch = Envelope.flatten(Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 11 === 1).select(
        img(col("label"), embD).as("before"),
        img(col("label") + 2000, transform(embD, x => x * 2.0)).as("after"),
        lit(Envelope.OpUpdate).as("op"), lit(9000L).as("ts_ms"),
        col("vec_id").cast("long").as("seq"),
        struct(lit("vectors").as("schema"),
          lit("embeddings").as("table")).as("source")))

    // Assignments committed, index not: the retry must re-run the batch
    // against the pre-batch assignments, or its deltas cancel.
    BatchFaults.crashAtCommit(store, "ivf.index")(
      IvfCdcQueries.processBatch(store, batch))
    IvfCdcQueries.processBatch(store, batch) // the streaming retry
    IvfCdcQueries.processBatch(clean, batch)
    BatchFaults.assertSameTables(spark, store, clean,
      Seq("ivf.assignments", "ivf.index"))
  }

  test("no raw index row keeps a member count of 0") {
    // The stale wave's label -1 keys are put in and taken out again; a
    // dead key must leave the table, not linger with the roundoff of
    // its cancelled double sums.
    val store = IvfCdcQueries.runMaintenance(spark, sf, 2)
    val raw = store.rawState(spark, "ivf.index")
    assert(raw.count() > 0)
    assert(raw.filter(col("n") === 0).count() === 0,
      "ivf.index keeps (label, i) rows whose count fell to 0")
  }
}
