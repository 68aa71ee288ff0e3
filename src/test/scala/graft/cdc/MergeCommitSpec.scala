package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintained-family batch step ([[MergeCommit.mergeMaintained]])
  * over a primary table keyed by `k` and a parity census derived from
  * it: a `derive` that throws leaves nothing persisted and its batch
  * rolled back on the next entry; an empty batch derives nothing and
  * commits to no table. Over two primaries, a primary the batch leaves
  * alone reaches `derive` as `None` and gets no commit.
  */
class MergeCommitSpec extends SparkTestBase {
  import spark.implicits._

  private val Primary = "m.primary"
  private val Census = "m.census"

  private final class Crash extends RuntimeException("injected derive failure")

  private def freshStore(): StateStore =
    new StateStore(graft.Scratch.dir("graft-merge-maintained-").toString,
      nBuckets = 4)

  /** A flattened batch of (k, v) upserts at commit instant `ts`. */
  private def batch(ts: Long, rows: (Long, Long)*): DataFrame =
    batchOf("t", ts, rows: _*)

  /** [[batch]] with its events sourced from `table`. */
  private def batchOf(table: String, ts: Long, rows: (Long, Long)*): DataFrame =
    Envelope.flatten(rows.toDF("k", "v").select(
      lit(null).cast("struct<k:bigint,v:bigint>").as("before"),
      struct(col("k"), col("v")).as("after"),
      lit(Envelope.OpUpdate).as("op"), lit(ts).as("ts_ms"),
      col("k").as("seq"),
      struct(lit("s").as("schema"), lit(table).as("table")).as("source")))

  private def step(store: StateStore, b: DataFrame)
                  (derive: (DataFrame, MergeCommit.Result) => Unit): Unit =
    MergeCommit.mergeMaintained(store, Primary, Seq(Census), b, Seq("k"))(
      MergeCommit.rowColumns)(derive)

  /** Count of live rows per parity of `v`. */
  private def census(store: StateStore)
                    (meta: DataFrame, result: MergeCommit.Result): Unit =
    MergeCommit.commitDeltas(store, Census, result,
      meta.select("k").distinct(), Seq("g"), Seq("g"), dropAtZero = false)(
      _.select((col("v") % 2).as("g"), lit(1L).as("n")))

  private val Second = "m.second"

  /** The step over two primaries: `t`-sourced events merge into
    * [[Primary]], `u`-sourced ones into [[Second]].
    */
  private def twoStep(store: StateStore, b: DataFrame)
                     (derive: Seq[(DataFrame, Option[MergeCommit.Result])]
                       => Unit): Unit = {
    def primary(table: String, source: String) = MergeCommit.Primary(table,
      Seq("k"), b.filter(col("_cdc.source.table") === source),
      MergeCommit.rowColumns)
    MergeCommit.mergeMaintained(store,
      Seq(primary(Primary, "t"), primary(Second, "u")), Seq(Census))(derive)
  }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a derive that throws leaves nothing persisted, and the next entry " +
      "puts the primary table back at its pre-batch version") {
    val store = freshStore()
    step(store, batch(1000L, 1L -> 10L, 2L -> 20L, 3L -> 31L))(census(store))
    assert(store.currentVersion(Primary) === 0)
    assert(store.currentVersion(Census) === 0)
    val before = persisted
    intercept[Crash] {
      step(store, batch(2000L, 1L -> 11L, 4L -> 40L)) { (meta, result) =>
        census(store)(meta, result)
        assert((persisted -- before).nonEmpty,
          "precondition: the step's frames are persisted while derive runs")
        throw new Crash
      }
    }
    assert(persisted -- before === Set.empty[Int],
      "every frame the step persisted is unpersisted")
    assert(store.currentVersion(Primary) === 1, "the merge committed")
    assert(store.currentVersion(Census) === 1, "the derived commit landed")
    step(store, batch(3000L))((_, _) => fail("an empty batch derives"))
    assert(store.currentVersion(Primary) === 0)
    assert(store.currentVersion(Census) === 0)
    assert(store.currentState(spark, Primary).as[(Long, Long)].collect()
      .sorted.toSeq === Seq(1L -> 10L, 2L -> 20L, 3L -> 31L))
  }

  test("an empty batch calls no derive and commits to no table") {
    val store = freshStore()
    var derived = 0
    step(store, batch(1000L)) { (_, _) => derived += 1 }
    assert(!store.exists(Primary) && !store.exists(Census))
    step(store, batch(1000L, 1L -> 10L)) { (m, r) =>
      derived += 1
      census(store)(m, r)
    }
    step(store, batch(2000L)) { (_, _) => derived += 1 }
    assert(derived === 1)
    assert(store.currentVersion(Primary) === 0)
    assert(store.currentVersion(Census) === 0)
  }

  test("several primaries: a batch for the second alone derives with no " +
      "result for the first and commits nothing to it, and a derive that " +
      "throws leaves nothing persisted") {
    val store = freshStore()
    var seen = Seq.empty[(Long, Option[Int])]
    twoStep(store, batchOf("u", 1000L, 1L -> 10L, 2L -> 20L)) { results =>
      seen = results.map { case (meta, r) => (meta.count(), r.map(_.version)) }
    }
    assert(seen === Seq((0L, None), (2L, Some(0))))
    assert(!store.exists(Primary) && !store.exists(Census))
    assert(store.currentState(spark, Second).as[(Long, Long)].collect()
      .sorted.toSeq === Seq(1L -> 10L, 2L -> 20L))
    val before = persisted
    intercept[Crash] {
      twoStep(store, batchOf("t", 2000L, 3L -> 30L)
          .unionByName(batchOf("u", 2000L, 1L -> 11L))) { results =>
        assert(results.map(_._2.map(_.version)) === Seq(Some(0), Some(1)))
        assert((persisted -- before).nonEmpty,
          "precondition: the step's frames are persisted while derive runs")
        throw new Crash
      }
    }
    assert(persisted -- before === Set.empty[Int],
      "every frame the step persisted is unpersisted")
  }
}
