package graft.queries

import graft.Tables
import graft.cdc.{MergeCommit, StateStore}
import graft.ops.ClusterOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental PRODUCT-QUANTIZATION code maintenance under CDC updates —
  * the PQ twin of [[IvfCdcQueries]], completing the pattern the IVF
  * maintainer started: the similarity index's per-vector artifact
  * (here the M compact codes, there the postings/centroid state) stays
  * current under a change stream WITHOUT touching un-evented vectors.
  *
  * The division of labor is the production one:
  *
  *  - CODEBOOKS are a model artifact. They train ONCE on the snapshot
  *    corpus ([[ClusterOps.pqCodebook]] — K×M×PqDim doubles, metadata
  *    at any corpus scale), ship to executors as literals inside the
  *    encode expression, and do NOT drift with the stream. (Production
  *    retrains codebooks out of band and re-encodes during compaction;
  *    codes-vs-codebook staleness is a rebuild concern, not a per-batch
  *    one — exactly like the IVF maintainer's rebuildIndex hygiene.)
  *  - CODES are per-vector state. Each micro-batch runs the shared
  *    ordered-merge commit into `pq.assignments` (the same
  *    [[MergeCommit]] recipe as every CDC target), then re-encodes
  *    ONLY this batch's keys from the post-merge state slice — an
  *    in-row literal argmax, map-only — and rewrites only the affected
  *    buckets of `pq.codes`: survivors of the batch keep their new
  *    codes, tombstoned keys drop out, untouched keys ride along
  *    bucket-locally. Batch cost scales with CHANGE volume, never the
  *    corpus — re-encoding a billion-vector index because 1 000
  *    vectors changed is the failure mode this operator exists to
  *    avoid.
  *
  * Slicing independence holds because encoding is STATELESS given the
  * merged row: whatever micro-batch partitioning delivers the events,
  * the ordered merge makes the per-key final state identical, and the
  * code is a pure function of that state — no telescoping argument
  * needed (the spec drives filesPerTrigger 1 and 4 to prove it). A
  * stale event that loses the merge re-encodes the unchanged winner to
  * the same codes: idempotent, not corrupting.
  *
  * The oracle re-derives snapshot codebooks AND final-corpus codes
  * entirely in DuckDB SQL (the shared [[ClusterOps.pqBookCtes]] CTEs,
  * same 6-dp-rounded arithmetic), applying the change-log waves as
  * CASE arithmetic — the drained incremental state must equal the
  * from-scratch batch encode of the final corpus.
  */
object PqCdcQueries {

  private val NBuckets = 8
  private val AssignTable = "pq.assignments"
  private val CodesTable = "pq.codes"

  /** Snapshot-trained codebooks, one per (JVM, sfDir) — the model
    * artifact. Training reads the base embeddings table (= the op='r'
    * snapshot wave's content), so it is deterministic and independent
    * of micro-batch slicing.
    */
  private val bookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Seq[Double]]]]()

  private[queries] def codebooks(spark: SparkSession,
                                 sfDir: String): Seq[Seq[Seq[Double]]] =
    bookCache.computeIfAbsent(sfDir, { _ =>
      val e = ClusterOps.embD(spark, sfDir).persist()
      try (0 until ClusterOps.PqM).map(m => ClusterOps.pqCodebook(e, m))
      finally e.unpersist(blocking = false)
    })

  /** One micro-batch ([[MergeCommit.mergeMaintained]]): ordered merge
    * into assignments, then re-encode exactly this batch's keys from
    * the post-merge slice and rewrite the affected `pq.codes` buckets
    * (batch-key rows replaced, tombstones dropped, untouched keys
    * carried). Both commits of a batch are crash-atomic.
    */
  private[queries] def processBatch(books: Seq[Seq[Seq[Double]]])
                                   (store: StateStore,
                                    batch: DataFrame): Unit =
    MergeCommit.mergeMaintained(store, AssignTable, Seq(CodesTable), batch,
      Seq("vec_id"))(MergeCommit.rowColumns) { (batchMeta, result) =>
      val spark = batch.sparkSession
      val keys = batchMeta.select("vec_id").distinct()
      val newCodes = result.postSlice
        .join(keys, Seq("vec_id"), "left_semi")
        .filter(!col(StateStore.DeletedCol))
        .select(col("vec_id") +: (0 until ClusterOps.PqM).map(m =>
          ClusterOps.pqEncode(ClusterOps.pqSub(col("emb"), m), books(m))
            .as(s"k$m")): _*)
        .withColumn(StateStore.BucketCol,
          StateStore.bucketExpr(Seq("vec_id"), NBuckets))
        .persist()
      try {
        // Codes share the assignments' bucketing: the merge's buckets.
        val codesState =
          if (store.exists(CodesTable))
            store.readBuckets(spark, CodesTable, result.affected)
          else MergeCommit.emptyLike(newCodes)
        store.commit(spark, CodesTable,
          codesState.join(keys, Seq("vec_id"), "left_anti")
            .unionByName(newCodes), result.affected)
      } finally newCodes.unpersist(blocking = false)
    }

  /** Drain the staged embedding change log (shared with the IVF
    * maintainer — same waves: stale loser, snapshot, cluster move with
    * 1.5× re-scale, deletes) through the code maintainer; returns the
    * store.
    */
  private[queries] def runMaintenance(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int): StateStore =
    DrainHarness.drain(spark,
      IvfCdcQueries.embeddingChangeLog(Tables.load(spark, sfDir,
        "embeddings")),
      s"$sfDir/pq", NBuckets, filesPerTrigger)(
      processBatch(codebooks(spark, sfDir)))

  /** The registered query: drain the log, then read the final codes
    * back.
    */
  def pqIncremental(spark: SparkSession, sfDir: String,
                    filesPerTrigger: Int = 2): DataFrame =
    readCodes(spark, runMaintenance(spark, sfDir, filesPerTrigger))

  /** Stage this family's change log without draining it — Bench's
    * untimed warmup, so staging I/O never lands in a timed repeat.
    */
  def prestage(spark: SparkSession, sfDir: String): Unit =
    DrainHarness.stage(
      IvfCdcQueries.embeddingChangeLog(Tables.load(spark, sfDir,
        "embeddings")),
      s"$sfDir/pq")

  private[queries] def readCodes(spark: SparkSession,
                                 store: StateStore): DataFrame =
    store.rawState(spark, CodesTable)
      .select("vec_id", "k0", "k1", "k2", "k3")
      .orderBy("vec_id")

  /** Batch encode of the FINAL corpus against SNAPSHOT codebooks —
    * what a from-scratch re-encode would produce after the log fully
    * applies. Codebook CTEs are [[ClusterOps.pqBookCtes]] verbatim;
    * the final corpus applies the move wave's exact 1.5× double
    * re-scale and the delete wave's key drop (cosine is
    * scale-invariant, so moved vectors keep their codes up to the
    * shared 6-dp rounding — the delete wave is what visibly shrinks
    * the table).
    */
  val pqIncrementalOracle: String = {
    val books = (0 until ClusterOps.PqM).map(ClusterOps.pqBookCtes)
      .mkString(",\n")
    val encode = (0 until ClusterOps.PqM).map { m =>
      s"""enc$m AS (
        |  SELECT vec_id, k FROM (
        |    SELECT f.vec_id, c.k,
        |      row_number() OVER (PARTITION BY f.vec_id
        |                         ORDER BY ROUND(list_dot_product(f.sv, c.cw) /
        |        (sqrt(list_dot_product(f.sv, f.sv)) *
        |         sqrt(list_dot_product(c.cw, c.cw))), 6) DESC, c.k) AS rn
        |    FROM (SELECT vec_id,
        |            v2[${ClusterOps.pqLo(m)}:${ClusterOps.pqHi(m)}] AS sv
        |          FROM final) f, c$m c)
        |  WHERE rn = 1
        |)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until ClusterOps.PqM)
      .map(m => s"JOIN enc$m ON enc$m.vec_id = enc0.vec_id").mkString(" ")
    val ks = (0 until ClusterOps.PqM)
      .map(m => s"CAST(enc$m.k AS INT) AS k$m").mkString(", ")
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |),
      |$books,
      |final AS (
      |  SELECT vec_id,
      |    CASE WHEN vec_id % 3 = 0
      |         THEN list_transform(v, x -> x * 1.5)
      |         ELSE v END AS v2
      |  FROM e WHERE vec_id % 7 <> 0
      |),
      |$encode
      |SELECT enc0.vec_id, $ks
      |FROM enc0 $joins
      |ORDER BY enc0.vec_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_pq_incremental" -> ((s, d) => pqIncremental(s, d)))

  def oracles: Map[String, String] = Map(
    "cdc_pq_incremental" -> pqIncrementalOracle)
}
