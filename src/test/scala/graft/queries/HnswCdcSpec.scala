package graft.queries

import graft.{BatchFaults, SparkTestBase}
import org.apache.spark.sql.functions._

/** Incremental HNSW maintenance contracts ([[HnswCdcQueries]]): the
  * maintained graph's walk stays within a stated recall bound of the
  * from-scratch rebuild's on the identical final corpus; deleted
  * vectors are unreachable (the tombstone mask); edge lists respect
  * the fanout bound; and torn batches recover at every commit
  * boundary to the tables of an uncrashed run.
  */
class HnswCdcSpec extends SparkTestBase {

  test("maintained walk recall within 0.3 of the rebuilt graph's; " +
      "audit row internally consistent") {
    val row = HnswCdcQueries.hnswRecall(spark, sf).head()
    assert(row.getInt(0) == 10)
    val (hitsInc, recInc) = (row.getLong(1), row.getDouble(2))
    val (hitsReb, recReb) = (row.getLong(3), row.getDouble(4))
    assert(math.abs(recInc - hitsInc / 10.0) < 1e-9)
    assert(math.abs(recReb - hitsReb / 10.0) < 1e-9)
    // The stated bound: incremental linking may lose SOME navigability
    // vs a full rebuild (A-internal edges were cut before the insert
    // wave arrived), but not collapse. 0.3 = three beam slots at k=10.
    assert(recInc >= recReb - 0.3,
      s"maintained recall $recInc fell more than 0.3 below rebuilt $recReb")
  }

  test("the recall audit leaves the caller thread's job description " +
      "as it found it") {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    try {
      sc.setJobDescription("caller: before recall")
      HnswCdcQueries.hnswRecall(spark, sf).collect()
      assert(sc.getLocalProperty(key) === "caller: before recall")
    } finally sc.setJobDescription(prev)
  }

  test("deleted vectors never appear in the walk; fanout bound holds") {
    val store = HnswCdcQueries.runMaintenance(spark, sf)
    val top = HnswCdcQueries.hnswIncremental(spark, sf)
      .collect().map(_.getLong(1))
    assert(top.nonEmpty)
    assert(top.forall(v => v % 9 != 0),
      "tombstoned vectors must be masked out of every beam")
    // Edge lists: fanout <= 8 per (layer, node) — the layered table
    // carries base (0) and L1 (1) lists side by side — and no DELETED
    // node owns rows in either layer.
    val edges = store.rawState(spark, "hnsw.edges")
    val overFanout = edges.groupBy("layer", "vec_id")
      .agg(count(lit(1)).as("deg")).filter(col("deg") > 8).count()
    assert(overFanout == 0, "re-linking must re-cut to the fanout bound")
    assert(edges.filter(col("vec_id") % 9 === 0).count() == 0,
      "a deleted vector's own edge rows drop at its delete batch")
    // Insert-wave vectors are linked INTO the graph: surviving B
    // vectors own edge rows (they had band mates by construction).
    val bOwned = edges.filter(col("vec_id") % 4 === 3).count()
    assert(bOwned > 0, "insert-wave vectors must be linked in")
    // And A-side nodes point AT insert-wave vectors — the neighbor
    // side of the re-link rule fired.
    assert(edges.filter(col("vec_id") % 4 =!= 3 &&
      col("neighbor") % 4 === 3).count() > 0,
      "existing neighborhoods must accumulate the new arrivals")
  }

  test("torn batches recover on retry at every commit boundary") {
    // Drive the three waves by hand so a crash can be injected mid
    // sequence: bootstrap cleanly, then crash the insert wave at each
    // boundary and retry.
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val waves = HnswCdcQueries.changeWaves(emb)
      .map(w => graft.cdc.Envelope.flatten(w))
    val wh = graft.Scratch.dir("graft-hnsw-crash-").toString
    val store = new graft.cdc.StateStore(wh, 8)
    HnswCdcQueries.processBatch(store, waves(0)) // clean bootstrap
    val clean = BatchFaults.twin(store)

    def edgesNow(): Map[Long, Seq[(Long, Double)]] =
      store.rawState(spark, "hnsw.edges")
        .filter(col("layer") === 0).select("vec_id", "neighbor", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, v) =>
          k -> v.map(t => (t._2, t._3)).toSeq.sorted }

    // Crash after the vectors merge only: edges/census stale.
    BatchFaults.crashAtCommit(store, "hnsw.census")(
      HnswCdcQueries.processBatch(store, waves(1)))
    HnswCdcQueries.processBatch(store, waves(1)) // retry
    val afterRetry = edgesNow()
    // The retry relinks against the reset pre-batch graph — it must
    // not silently keep the stale bootstrap graph.
    assert(afterRetry.keys.exists(_ % 4 == 3),
      "recovered graph must contain the insert wave")

    // Crash after census (edges not yet relinked), then retry.
    BatchFaults.crashAtCommit(store, "hnsw.edges")(
      HnswCdcQueries.processBatch(store, waves(2)))
    HnswCdcQueries.processBatch(store, waves(2)) // retry
    assert(store.rawState(spark, "hnsw.edges")
      .filter(col("vec_id") % 9 === 0).count() == 0,
      "recovery must still drop deleted vectors' edge rows")
    // Census agrees with a recount off live vector state.
    val census = store.rawState(spark, "hnsw.census")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val live = store.currentState(spark, "hnsw.vectors")
    val recount = live.select(explode(array(col("b1"), col("b2"),
        col("b3"))).as("band"))
      .groupBy("band").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census == recount,
      "recovered census must equal the recount off vector state")
    waves.drop(1).foreach(HnswCdcQueries.processBatch(clean, _))
    BatchFaults.assertSameTables(spark, store, clean,
      Seq("hnsw.vectors", "hnsw.census", "hnsw.edges"))
  }
}
