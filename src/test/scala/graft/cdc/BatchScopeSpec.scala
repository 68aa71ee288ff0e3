package graft.cdc

import java.nio.file.{Files, Paths}

import graft.{BatchFaults, SparkTestBase}
import org.apache.spark.sql.functions._

/** [[StateStore.atomically]] — the crash-atomic multi-table batch:
  *   1. a body that throws before, between or after its commits leaves
  *      an open record; the next scope entry moves every listed table
  *      back to its pre-batch version, and the retried body ends with
  *      exactly the tables of a run that never crashed;
  *   2. a table first created inside the crashed batch reads as absent
  *      after the reset;
  *   3. a clean batch leaves no record behind;
  *   4. a commit made outside any scope is never rolled back.
  */
class BatchScopeSpec extends SparkTestBase {
  import spark.implicits._

  private val NBuckets = 2
  private val Tables = Seq("s.a", "s.b", "s.c")

  private final class Crash extends RuntimeException("injected crash")

  private def newStore(): StateStore =
    new StateStore(graft.Scratch.dir("graft-scope-spec-").toString, NBuckets)

  /** A delta-style table step, like a maintainer's summary pass: every
    * row's value goes up by one (20 seeded keys when absent), so a
    * retry against post-crash state would visibly double-apply.
    */
  private def bump(store: StateStore, t: String): Unit = {
    val next =
      if (store.exists(t))
        store.rawState(spark, t).withColumn("v", col("v") + 1)
      else (0L until 20L).toDF("k").withColumn("v", col("k") * 10)
        .withColumn(StateStore.TsCol, lit(0L))
        .withColumn(StateStore.SeqCol, lit(0L))
        .withColumn(StateStore.DeletedCol, lit(false))
        .withColumn(StateStore.BucketCol,
          StateStore.bucketExpr(Seq("k"), NBuckets))
    store.commit(spark, t, next, 0 until NBuckets)
  }

  /** The batch under test: bump every table in order inside one scope,
    * throwing once `crashAt` commits have landed (-1 = never). Returns
    * the versions the body saw on entry.
    */
  private def batch(store: StateStore, crashAt: Int = -1): Seq[Int] =
    store.atomically(Tables) {
      val seen = Tables.map(store.currentVersion)
      Tables.zipWithIndex.foreach { case (t, i) =>
        if (i == crashAt) throw new Crash
        bump(store, t)
      }
      if (crashAt == Tables.size) throw new Crash
      seen
    }

  test("a crash before, between or after the commits is reset at the " +
      "next scope entry, and the retry equals an uncrashed run") {
    val clean = newStore()
    batch(clean); batch(clean)
    for (crashAt <- 0 to Tables.size) {
      val store = newStore()
      batch(store)
      val pre = Tables.map(store.currentVersion)
      intercept[Crash](batch(store, crashAt))
      assert(Tables.map(store.currentVersion) ==
        pre.zipWithIndex.map { case (v, i) => if (i < crashAt) v + 1 else v },
        s"crash at $crashAt: readers see the torn state until the retry")
      assert(batch(store) == pre,
        s"crash at $crashAt: scope entry must restore the pre-batch versions")
      withClue(s"crash at $crashAt: ") {
        BatchFaults.assertSameTables(spark, store, clean, Tables)
      }
    }
  }

  test("a table first created inside the crashed batch reads as absent " +
      "after the reset") {
    val store = newStore()
    intercept[Crash](batch(store, crashAt = 2))
    assert(store.exists("s.a") && store.exists("s.b"))
    store.atomically(Nil)(()) // the next scope entry
    assert(Tables.forall(t => !store.exists(t)),
      "tables created by the crashed batch must lose their pointer")
    assert(store.rawState(spark, "s.a").count() == 0L)
    assert(batch(store) == Seq(-1, -1, -1))
    val clean = newStore()
    batch(clean)
    BatchFaults.assertSameTables(spark, store, clean, Tables)
  }

  test("a clean batch leaves no record behind") {
    val store = newStore()
    val record = Paths.get(store.warehouse, StateStore.BatchFile)
    assert(store.atomically(Tables)(Files.exists(record)),
      "the record is open while the body runs")
    batch(store)
    assert(!Files.exists(record), "the commit point deletes the record")
  }

  test("a compactTable committed between two clean batches is not " +
      "rolled back") {
    val store = newStore()
    batch(store)
    val compacted = store.compactTable(spark, "s.a")
    assert(batch(store).head == compacted,
      "a commit outside any scope must survive the next scope entry")
    assert(store.currentVersion("s.a") == compacted + 1)
    // A later crash resets to the post-compaction version, not before.
    intercept[Crash](batch(store, crashAt = Tables.size))
    assert(batch(store).head == compacted + 1)
    val clean = newStore()
    batch(clean); batch(clean); batch(clean)
    Tables.foreach { t =>
      def rows(s: StateStore) =
        s.currentState(spark, t).collect().map(_.toString).sorted.toSeq
      assert(rows(store) == rows(clean), s"$t rows after the compaction")
    }
  }
}
