package graft.queries

import graft.Tables
import graft.cdc.{Envelope, MergeCommit, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental IVF index maintenance under CDC updates (VERDICT r5 #7):
  * the similarity stack tied to the engine's own CDC pipeline. A change
  * log of embedding upserts — including CLUSTER MOVES (a vector's label
  * changes) and deletes — streams through foreachBatch, which maintains
  * two StateStore tables:
  *
  *  - `ivf.assignments` (vec_id → label, embedding, merge metadata):
  *    the postings, upserted with the same bucket-pruned, (ts,seq)-
  *    ordered merge as every CDC target — only buckets containing
  *    evented keys are rewritten.
  *  - `ivf.index` (label, dim → member count, running sum): the coarse
  *    quantizer state, updated by DELTAS — each batch subtracts the
  *    evented keys' OLD contributions (read from assignment state
  *    before the merge) and adds their NEW ones. Un-evented vectors
  *    are never touched: batch cost scales with the CHANGE volume, not
  *    the corpus, which is the whole point at 100 TB (re-centroiding a
  *    billion-vector index because 1 000 vectors moved is the failure
  *    mode this operator exists to avoid).
  *
  * Both commits of a batch are crash-atomic via [[StateStore.atomically]].
  *
  * Slicing independence is by TELESCOPING: every batch's delta for a
  * key is (new stored winner − previous stored winner), so any
  * partition of the log into micro-batches sums to (final winner −
  * nothing). A stale event that loses the ordered merge produces a
  * zero delta (old row = new row), not a corruption. Double-precision
  * sums drift only at machine epsilon per reorder; centroids are
  * rounded to 6dp at read, and a production deployment periodically
  * rebuilds the tiny index table from assignments during compaction
  * (the same hygiene as StateStore.compactTable).
  *
  * The oracle is the BATCH quantizer over the merged final log — the
  * drained incremental index must equal what [[graft.ops.LlmOps]]'s
  * labelCentroids would compute from scratch on the final corpus.
  */
object IvfCdcQueries {

  /** Fixture embedding dimensionality (TESTDATA.md: 64-dim floats). */
  private val EmbDim = 64
  private val NBuckets = 8
  private val AssignTable = "ivf.assignments"
  private val IndexTable = "ivf.index"

  /** Deterministic embedding change log (envelope schema, ChangeGen's
    * wave discipline): a pre-snapshot stale wave that must lose the
    * ordered merge, the op='r' snapshot, a cluster-move wave (label +
    * values change — the re-assignment case), and a delete wave.
    * Images carry the embedding as array<double> (exact float→double
    * widening, and `x * 1.5` is exact in double for every float x, so
    * Spark and DuckDB compute bit-identical images).
    */
  private[queries] def embeddingChangeLog(base: DataFrame): DataFrame = {
    val src = struct(lit("vectors").as("schema"), lit("embeddings").as("table"))
    // Labels are the fixture's int cluster ids; the move wave targets a
    // NEW cluster id (label + 1000) so re-assignment crosses clusters.
    def image(label: org.apache.spark.sql.Column,
              emb: org.apache.spark.sql.Column) =
      struct(col("vec_id").cast("long").as("vec_id"),
        label.cast("int").as("label"), emb.as("emb"))
    val embD = transform(col("embedding"), x => x.cast("double"))
    val baseImage = image(col("label"), embD)
    val nullImage = when(lit(false), baseImage)
    val pk = col("vec_id").cast("long")
    def ev(filter: org.apache.spark.sql.Column,
           before: org.apache.spark.sql.Column,
           after: org.apache.spark.sql.Column, op: String, ts: Long) =
      base.filter(filter).select(
        before.as("before"), after.as("after"), lit(op).as("op"),
        lit(ts).as("ts_ms"), pk.as("seq"), src.as("source"))
    val stale = ev(pk % 2 === 0, baseImage,
      image(lit(-1), transform(embD, x => x * 9.9)),
      Envelope.OpUpdate, 500L)
    val snap = ev(lit(true), nullImage, baseImage, Envelope.OpRead, 1000L)
    val move = ev(pk % 3 === 0, baseImage,
      image(col("label") + 1000, transform(embD, x => x * 1.5)),
      Envelope.OpUpdate, 2000L)
    // Deletes carry the key in `before` (flatten coalesces after→before),
    // like ChangeGen's delete wave.
    val del = ev(pk % 7 === 0, baseImage, nullImage, Envelope.OpDelete, 3000L)
    // Interleaved out of commit order, like ChangeGen.
    move.unionAll(stale).unionAll(del).unionAll(snap)
  }

  /** One micro-batch ([[MergeCommit.mergeMaintained]]): ordered merge
    * into assignments plus the index delta pass over the returned
    * (pre, post) state slices: per (label, dim), the evented keys' old
    * components leave and their new ones join
    * ([[MergeCommit.commitDeltas]]; index rows bucket by label alone).
    * A (label, dim) whose member count reaches 0 leaves the index, so
    * dead keys never linger with the roundoff of cancelled double sums.
    */
  private[queries] def processBatch(store: StateStore,
                                    batch: DataFrame): Unit =
    MergeCommit.mergeMaintained(store, AssignTable, Seq(IndexTable), batch,
      Seq("vec_id"))(MergeCommit.rowColumns) { (batchMeta, result) =>
      MergeCommit.commitDeltas(store, IndexTable, result,
        batchMeta.select("vec_id").distinct(), Seq("label", "i"),
        Seq("label"), dropAtZero = true)(
        _.select(col("label"), posexplode(col("emb")).as(Seq("p", "v")))
          .select(col("label"), (col("p") + 1).as("i"), lit(1L).as("n"),
            col("v").as("s")))
    }

  /** The registered query: stream the staged embedding change log
    * through the incremental maintainer, then read the final index
    * back as (label, dim, member count, centroid component).
    * `filesPerTrigger` controls micro-batch slicing (4 staged files /
    * 2 per trigger → 2 batches for the registered query; IvfCdcSpec
    * drives 1 and 4 to prove the telescoping deltas are
    * slicing-independent).
    */
  def ivfIncremental(spark: SparkSession, sfDir: String,
                     filesPerTrigger: Int = 2): DataFrame =
    readIndex(spark, runMaintenance(spark, sfDir, filesPerTrigger))

  /** Drain the staged change log through the maintainer; returns the
    * store so callers (the registered query, the rebuild spec) can read
    * either maintained table.
    */
  private[queries] def runMaintenance(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int): StateStore =
    DrainHarness.drain(spark,
      embeddingChangeLog(Tables.load(spark, sfDir, "embeddings")),
      s"$sfDir/ivf", NBuckets, filesPerTrigger)(processBatch)

  /** Stage this family's change log without draining it — Bench's
    * untimed warmup, so staging I/O never lands in a timed repeat.
    */
  def prestage(spark: SparkSession, sfDir: String): Unit =
    DrainHarness.stage(
      embeddingChangeLog(Tables.load(spark, sfDir, "embeddings")),
      s"$sfDir/ivf")

  private[queries] def readIndex(spark: SparkSession,
      store: StateStore): DataFrame =
    store.rawState(spark, IndexTable)
      .filter(col("n") > 0)
      .select(col("label"), col("i"), col("n"),
        round(col("s") / col("n"), 6).as("m"))
      .orderBy("label", "i")

  /** The compaction-time hygiene pass the delta path's scaladoc
    * promises: recompute the (label, i → n, s) index from the
    * assignments table from scratch and commit it as a fresh version.
    * Run periodically on a real deployment to re-zero double-precision
    * drift (deltas accumulate machine epsilon per reorder); the rebuild
    * spec asserts delta-maintained and rebuilt states agree, which is
    * what makes the incremental path safe to trust between rebuilds.
    * Cost: one scan of assignments — the same work as one initial
    * snapshot batch, amortized over however many incremental batches
    * ran since the last rebuild.
    */
  private[queries] def rebuildIndex(spark: SparkSession,
      store: StateStore): Int =
    MergeCommit.commitRebuilt(store, IndexTable,
      store.currentState(spark, AssignTable)
        .select(col("label"), posexplode(col("emb")).as(Seq("p", "v")))
        .groupBy(col("label"), (col("p") + 1).as("i"))
        .agg(count(lit(1)).as("n"), sum("v").as("s")),
      Seq("label"))

  /** Batch quantizer over the merged final log — what a from-scratch
    * labelCentroids rebuild would produce on the post-CDC corpus.
    */
  val ivfIncrementalOracle: String =
    s"""WITH final AS (
      |  SELECT vec_id,
      |    CASE WHEN vec_id % 3 = 0 THEN label + 1000 ELSE label END AS label,
      |    CASE WHEN vec_id % 3 = 0
      |         THEN list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5)
      |         ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS emb
      |  FROM embeddings WHERE vec_id % 7 <> 0
      |)
      |SELECT label, CAST(i.i AS INT) AS i, count(*) AS n,
      |  ROUND(avg(emb[i.i]), 6) AS m
      |FROM final, (SELECT unnest(generate_series(1, $EmbDim)) AS i) i
      |GROUP BY label, i.i ORDER BY label, i""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_ivf_incremental" -> ((s, d) => ivfIncremental(s, d)))

  def oracles: Map[String, String] = Map(
    "cdc_ivf_incremental" -> ivfIncrementalOracle)
}
