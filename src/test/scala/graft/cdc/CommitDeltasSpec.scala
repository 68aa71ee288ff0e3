package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The additive counter-table upsert ([[MergeCommit.commitDeltas]]) on
  * hand-built (pre, post) slices of a source table keyed by `k`: the
  * table it creates, its zero-row policy either way, and the buckets it
  * leaves alone.
  */
class CommitDeltasSpec extends SparkTestBase {
  import spark.implicits._

  /** Source slice rows: (key, group, value, tombstone). */
  private def slice(rows: (Long, String, Long, Boolean)*): DataFrame =
    rows.toDF("k", "g", "x", StateStore.DeletedCol)

  private def keys(ks: Long*): DataFrame = ks.toDF("k")

  private def freshStore(): StateStore =
    new StateStore(graft.Scratch.dir("graft-commit-deltas-").toString,
      nBuckets = 4)

  /** Per-group count and value total of the live source rows. */
  private def totals(df: DataFrame): DataFrame =
    df.select(col("g"), lit(1L).as("n"), col("x").as("total"))

  private def census(df: DataFrame): DataFrame =
    df.select(col("g"), lit(1L).as("n"))

  private def upsert(store: StateStore, pre: DataFrame, post: DataFrame,
                     batch: DataFrame, dropAtZero: Boolean)
                    (contrib: DataFrame => DataFrame): Unit =
    MergeCommit.commitDeltas(store, "c", MergeCommit.Result(pre, post, 0, Nil),
      batch, Seq("g"), Seq("g"), dropAtZero)(contrib)

  private def table(store: StateStore): Map[String, Seq[Long]] =
    store.rawState(spark, "c").drop(StateStore.BucketCol).collect()
      .map(r => r.getString(0) -> (1 until r.length).map(r.getLong)).toMap

  test("the first commit creates the table in the schema contrib derives") {
    val store = freshStore()
    upsert(store, slice(),
      slice((1L, "a", 10L, false), (2L, "a", 5L, false),
        (3L, "b", 7L, false), (4L, "b", 1L, true)),
      keys(1L, 2L, 3L, 4L), dropAtZero = false)(totals)
    assert(store.currentVersion("c") === 0)
    assert(store.schemaOf("c").map(f => f.name -> f.dataType) ===
      Seq("g" -> StringType, "n" -> LongType, "total" -> LongType))
    assert(table(store) === Map("a" -> Seq(2L, 15L), "b" -> Seq(1L, 7L)),
      "tombstones contribute nothing")
  }

  test("with dropAtZero a count reaching 0 leaves the table, and a batch " +
      "whose deltas cancel commits nothing") {
    val store = freshStore()
    val a1 = (1L, "a", 0L, false)
    val b3 = (3L, "b", 0L, false)
    upsert(store, slice(), slice(a1, (2L, "a", 0L, false), b3),
      keys(1L, 2L, 3L), dropAtZero = true)(census)
    // Key 3 deleted: group b's count reaches 0.
    upsert(store, slice(b3), slice((3L, "b", 0L, true)), keys(3L),
      dropAtZero = true)(census)
    assert(store.currentVersion("c") === 1)
    assert(table(store) === Map("a" -> Seq(2L)))
    // A stale event that lost the merge: pre == post, no delta.
    upsert(store, slice(a1), slice(a1), keys(1L), dropAtZero = true)(census)
    assert(store.currentVersion("c") === 1, "a cancelled batch must not commit")
  }

  test("without dropAtZero a zero row stays") {
    val store = freshStore()
    val b3 = (3L, "b", 4L, false)
    upsert(store, slice(), slice((1L, "a", 2L, false), b3),
      keys(1L, 3L), dropAtZero = false)(totals)
    upsert(store, slice(b3), slice((3L, "b", 4L, true)), keys(3L),
      dropAtZero = false)(totals)
    assert(table(store) === Map("a" -> Seq(1L, 2L), "b" -> Seq(0L, 0L)))
  }

  test("buckets the deltas do not touch keep their manifest entries") {
    val store = freshStore()
    val rows = (0 until 12).map(i => (i.toLong, s"g$i", 1L, false))
    upsert(store, slice(), slice(rows: _*), keys(rows.map(_._1): _*),
      dropAtZero = false)(totals)
    val before = store.manifest("c")
    assert(before.size > 1, "precondition: groups span several buckets")
    val touched = Seq("g0").toDF("g")
      .select(StateStore.bucketExpr(Seq("g"), 4)).head().getInt(0)
    upsert(store, slice(rows.head), slice((0L, "g0", 5L, false)), keys(0L),
      dropAtZero = false)(totals)
    val after = store.manifest("c")
    assert(after - touched === before - touched)
    assert(after(touched) !== before(touched))
    assert(table(store)("g0") === Seq(1L, 5L))
  }
}
