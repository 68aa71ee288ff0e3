package graft.queries

import graft.Tables
import graft.cdc.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimistic concurrent-writer maintenance as a registered,
  * oracle-checked query — [[graft.cdc.StateStore.commitOptimistic]]
  * exercised end to end with REAL thread interleaving, shaped so the
  * outcome is deterministic anyway: two committers apply balance
  * adjustments to DISJOINT key sets (even/odd custkey) of one state
  * table, each round re-reading committed state inside its merge
  * function. Whatever order the commits interleave in, every
  * adjustment lands exactly once (a conflict retries with the merge
  * recomputed), so the final state equals the batch expression the
  * DuckDB oracle computes.
  *
  * Scale shape: each commit round is one bucket-partitioned state
  * rewrite; the claim/verify/swap critical section is three metadata
  * operations independent of data size (the Iceberg commit argument),
  * so writer concurrency costs retries — change-volume re-merges —
  * never table rewrites beyond the committed ones.
  */
object OccQueries {

  private val NBuckets = 8
  private val Rounds = 2

  private def withMeta(df: DataFrame): DataFrame =
    df.withColumn(StateStore.TsCol, lit(0L))
      .withColumn(StateStore.SeqCol, lit(0L))
      .withColumn(StateStore.DeletedCol, lit(false))
      .withColumn(StateStore.BucketCol,
        StateStore.bucketExpr(Seq("c_custkey"), NBuckets))

  def concurrentCommit(spark: SparkSession, sfDir: String): DataFrame = {
    val store = new StateStore(
      graft.Scratch.dir("graft-occ-q-").toString, NBuckets)
    val target = "occ.customer"
    val init = withMeta(Tables.load(spark, sfDir, "customer")
      .select("c_custkey", "c_acctbal"))
    store.commit(spark, target, init, 0 until NBuckets)

    def adjust(parity: Int, delta: Double): Int =
      store.commitOptimistic(spark, target) { _ =>
        val merged = store.rawState(spark, target)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 2 === parity,
              col("c_acctbal") + delta).otherwise(col("c_acctbal")))
          // Pin the snapshot read under `prev` before the write job
          // runs post-claim; the rows are change-volume state, the
          // same materialization every commit already performs.
          .localCheckpoint(true)
        (merged, 0 until NBuckets)
      }

    // Par: blocking-marked futures joined ALL-before-rethrow — if one
    // committer fails, the sibling must not still be committing when
    // the caller unwinds (the same stray-writer discipline as the
    // pipeline fan-outs, even though contention is the POINT here).
    val a = graft.Par.future { (1 to Rounds).foreach(_ => adjust(0, 50.0)) }
    val b = graft.Par.future { (1 to Rounds).foreach(_ => adjust(1, 5.0)) }
    // Bounded join (ADVICE r15): this demo deliberately provokes claim
    // contention; a livelocked claim loop should fail THIS query after
    // 5 minutes, not hang the whole bench/correctness run forever.
    graft.Par.awaitAll(Seq(a, b),
      scala.concurrent.duration.Duration(5, "min"))
    require(store.currentVersion(target) == 2 * Rounds,
      "each committer round must allocate exactly one version")

    store.currentState(spark, target)
      .select(col("c_custkey"),
        round(col("c_acctbal"), 2).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  val concurrentCommitOracle: String =
    s"""SELECT c_custkey,
      |  ROUND(c_acctbal + CASE WHEN c_custkey % 2 = 0
      |                         THEN ${Rounds * 50.0}
      |                         ELSE ${Rounds * 5.0} END, 2) AS c_acctbal
      |FROM customer ORDER BY c_custkey""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_concurrent_commit" -> concurrentCommit)

  def oracles: Map[String, String] = Map(
    "cdc_concurrent_commit" -> concurrentCommitOracle)
}
