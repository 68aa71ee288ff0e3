package graft

import org.apache.spark.sql.SparkSession

/** Untimed staging pass for the bench harness (VERDICT r7 #3).
  *
  * Several query families stage a deterministic input once per JVM
  * (streaming fixture copies, generated change logs, engineered
  * micro-batch files). Lazily that write lands inside the FIRST timed
  * repeat, and its trailing I/O drags the second — round 7 measured
  * cdc_pipeline_fanout's 3-run median at 2.6× its steady state from
  * exactly this. Bench calls [[all]] once before timing so every
  * staged input already exists; each module's `prestage` goes through
  * the same [[Scratch.staged]] pair as its query body, so the bytes
  * are identical no matter which path stages first, and the call is
  * a no-op when already staged.
  */
object Prestage {
  def all(spark: SparkSession, sfDir: String): Unit = {
    ops.StreamingOps.prestage(spark, sfDir)
    ops.LlmOps.prestage(spark, sfDir)
    ops.Relational.prestageDpp(spark, sfDir)
    ops.Relational.prestageBucketed(spark, sfDir)
    queries.PipelineQueries.prestage(spark, sfDir)
    queries.TxApplyQueries.prestage(spark, sfDir)
    queries.TxApplyMultiQueries.prestage(spark, sfDir)
    queries.AggCdcQueries.prestage(spark, sfDir)
    queries.Bm25CdcQueries.prestage(spark, sfDir)
    queries.Bm25VocabQueries.prestage(spark, sfDir)
    queries.LinesCdcQueries.prestage(spark, sfDir)
    queries.PiiCdcQueries.prestage(spark, sfDir)
    queries.HnswCdcQueries.prestage(spark, sfDir)
    queries.IvfCdcQueries.prestage(spark, sfDir)
    queries.MinhashCdcQueries.prestage(spark, sfDir)
    queries.JoinCdcQueries.prestage(spark, sfDir)
    queries.PqCdcQueries.prestage(spark, sfDir)
    queries.Scd2CdcQueries.prestage(spark, sfDir)
    queries.MaintenanceQueries.prestage(spark, sfDir)
  }
}
