package graft.queries

import graft.Tables
import graft.cdc.{Envelope, MergeCommit, StateStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental MinHash-LSH signature index under CDC — the near-dup
  * DEDUP index tied to the engine's own pipeline, completing the
  * incremental-materialization family (IVF and PQ maintain the ANN
  * indexes; this maintains the dedup index). A change log of document
  * edits streams through foreachBatch, and each batch:
  *
  *  1. computes the banded-MinHash signature FOR THE BATCH ROWS ONLY,
  *     as a map-side projection of the flattened envelope (the
  *     codegen'd [[graft.functions.ShingleSet]] →
  *     [[graft.functions.BandedMinHash]] fold — zero shuffle, change-
  *     volume-sized: re-signing a billion-doc corpus because 1 000
  *     docs changed is the failure mode this operator avoids);
  *  2. merges (doc_id → 4 band minima) into the `mh.signatures` state
  *     table through the SAME ordered bucket-pruned MERGE as every
  *     CDC target — stale events lose on (ts, seq), deletes tombstone
  *     the signature, only buckets containing evented docs rewrite.
  *
  * The LSH index is therefore *just another CDC-maintained table*
  * whose row image is derived in flight — no rebuild step, no
  * separate index maintenance job; a curation pipeline reads the
  * current signatures and band-joins for candidates exactly as the
  * batch [[graft.ops.LlmOps.dedupMinhash]] does.
  *
  * Slicing independence: the signature of a doc is a pure function of
  * its LATEST text, and the ordered merge picks the same winner under
  * any micro-batch slicing — no telescoping needed (unlike the IVF
  * delta path), because the derived row replaces rather than
  * accumulates. The oracle recomputes the signatures from the final
  * corpus state in SQL (md5-slice band minima, the exact
  * [[graft.functions.BandedMinHash]] semantics).
  */
object MinhashCdcQueries {

  private val NBuckets = 8

  /** Deterministic document change log (envelope schema, ChangeGen's
    * wave discipline): a pre-snapshot stale wave that must lose the
    * ordered merge (its boilerplate text would collapse every even
    * doc's signature to one bucket — the oracle proves it lost), the
    * op='r' snapshot, an EDIT wave appending new shingles (%3), and a
    * delete wave (%7).
    */
  private[queries] def docChangeLog(base: DataFrame): DataFrame = {
    val src = struct(lit("corpus").as("schema"), lit("documents").as("table"))
    // lang rides every image (unchanged by the waves): the signature
    // maintainer ignores it, the curation maintainer needs it.
    def image(text: Column): Column =
      struct(col("doc_id").cast("long").as("doc_id"),
        col("lang").as("lang"), text.as("text"))
    val baseImage = image(col("text"))
    val nullImage = when(lit(false), baseImage)
    val pk = col("doc_id").cast("long")
    def ev(filter: Column, before: Column, after: Column, op: String,
           ts: Long): DataFrame =
      base.filter(filter).select(
        before.as("before"), after.as("after"), lit(op).as("op"),
        lit(ts).as("ts_ms"), pk.as("seq"), src.as("source"))
    val stale = ev(pk % 2 === 0, baseImage,
      image(lit("stale boilerplate row stale boilerplate row")),
      Envelope.OpUpdate, 500L)
    val snap = ev(lit(true), nullImage, baseImage, Envelope.OpRead, 1000L)
    val edit = ev(pk % 3 === 0, baseImage,
      image(concat(col("text"), lit(" data table row data table row"))),
      Envelope.OpUpdate, 2000L)
    val del = ev(pk % 7 === 0, baseImage, nullImage,
      Envelope.OpDelete, 4000L)
    // Interleaved out of commit order, like ChangeGen.
    edit.unionAll(stale).unionAll(del).unionAll(snap)
  }

  /** One micro-batch: swap the row image (doc_id, text) for the
    * derived (doc_id, ms) signature image — scan-local, batch-sized —
    * then the shared ordered merge. Delete events carry a null text
    * (null-propagates to a null signature) and keep only their
    * tombstone metadata, like every CDC target.
    */
  private def processBatch(store: StateStore, batch: DataFrame): Unit = {
    val sigged = batch.withColumn("row",
      struct(col("row.doc_id").as("doc_id"),
        graft.functions.BandedMinHash.bandedMinhash(
          graft.functions.ShingleSet.shingleSet(
            split(col("row.text"), " ")))
          // parquet reads arrays back with nullable elements; derive
          // the column at that shape so the post-read state aligns
          // with later batches instead of tripping the A11 widen guard
          .cast("array<string>").as("ms")))
    MergeCommit.mergeFlattened(store, "mh.signatures", sigged, Seq("doc_id"))
    ()
  }

  /** The registered query: drain the staged change log through the
    * maintainer, read the final signature table back exploded to one
    * (doc_id, band, mh) row per band. 4 staged files / 2 per trigger →
    * 2 micro-batches, so cross-batch ordering is really exercised.
    */
  def minhashIncremental(spark: SparkSession, sfDir: String,
                         filesPerTrigger: Int = 2): DataFrame = {
    val store = DrainHarness.drain(spark,
      docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/minhash", NBuckets, filesPerTrigger)(processBatch)
    store.currentState(spark, "mh.signatures")
      .select(col("doc_id"), posexplode(col("ms")).as(Seq("band", "mh")))
      .select(col("doc_id"), col("band").cast("int").as("band"), col("mh"))
      .orderBy("doc_id", "band")
  }

  /** Stage the change logs without draining — Bench's untimed warmup. */
  def prestage(spark: SparkSession, sfDir: String): Unit = {
    val log = docChangeLog(Tables.load(spark, sfDir, "documents"))
    DrainHarness.stage(log, s"$sfDir/minhash")
    DrainHarness.stage(log, s"$sfDir/curate-incr")
    ()
  }

  /** Batch recompute over the post-CDC corpus: final text per
    * surviving doc (edit applied, deletes gone, stale wave lost),
    * distinct word 3-gram shingles, band minima over disjoint
    * 8-hex-char md5 slices — [[graft.functions.BandedMinHash]]'s
    * published wire semantics (the streaming curate oracle uses the
    * same spelling).
    */
  val minhashIncrementalOracle: String =
    """WITH final AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0
      |         THEN text || ' data table row data table row'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |), w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM final
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    w[i.i] || ' ' || w[i.i + 1] || ' ' || w[i.i + 2] AS s
      |  FROM w,
      |    LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) i
      |), sig AS (
      |  SELECT doc_id, b.band, min(substr(md5(s), b.band * 8 + 1, 8)) AS mh
      |  FROM sh, LATERAL (SELECT unnest(range(4)) AS band) b
      |  GROUP BY doc_id, b.band
      |)
      |SELECT doc_id, CAST(band AS INT) AS band, mh
      |FROM sig ORDER BY doc_id, band""".stripMargin

  /** One micro-batch of the CURATION maintainer: the SAME flattened
    * slice feeds two derived state tables — the doc row image
    * (`cur.docs`: doc_id, lang, text) and the banded-MinHash
    * signature (`cur.signatures`), both through the shared ordered
    * bucket-pruned merge. The expensive per-doc derivation
    * (signatures) happens map-side on batch rows only; nothing here
    * rescans the corpus.
    */
  private def processCurateBatch(store: StateStore,
                                 batch: DataFrame): Unit = {
    // Two DIFFERENT derived tables off one slice — disjoint dirs, so
    // the merges run as concurrent Spark actions (the per-table
    // single-writer invariant holds trivially), both joined before a
    // failure is rethrown.
    val sigged = batch.withColumn("row",
      struct(col("row.doc_id").as("doc_id"),
        graft.functions.BandedMinHash.bandedMinhash(
          graft.functions.ShingleSet.shingleSet(
            split(col("row.text"), " ")))
          .cast("array<string>").as("ms")))
    graft.Par.run(Seq(
      () => MergeCommit.mergeFlattened(store, "cur.docs", batch,
        Seq("doc_id")),
      () => MergeCommit.mergeFlattened(store, "cur.signatures", sigged,
        Seq("doc_id"))))
    ()
  }

  /** INCREMENTAL CURATION UNDER CDC — the capstone composition: the
    * curate pipeline's answer stays current as DOCUMENTS CHANGE,
    * without re-deriving the corpus. The drain maintains `cur.docs`
    * and `cur.signatures` per micro-batch (change-volume work); the
    * read side then assembles the curated set from STATE alone:
    * quality gate (map over docs), exact-dedup keepers (digest-only
    * group-by), LSH candidates from the MAINTAINED signatures
    * (band-censused equi-join — no re-signing), and Jaccard
    * verification on candidate pairs only. Semantics are pinned to
    * the batch [[graft.ops.LlmOps.curate]] by construction — the
    * signature table is filtered to the exact-kept set BEFORE the
    * band census, exactly the population batch curate signs — and
    * the oracle is literally the batch curate SQL over the post-CDC
    * corpus.
    *
    * 100 TB split: maintenance cost ∝ change volume (the per-doc
    * signature work never re-runs); assembly cost is the CHEAP part
    * of curate — a digest shuffle, a signature-table band join, and
    * pair-proportional verification — with the per-doc heavy lifting
    * amortized into the pipeline.
    */
  def curateIncremental(spark: SparkSession, sfDir: String,
                        filesPerTrigger: Int = 2): DataFrame = {
    import graft.ops.LlmOps
    val store = DrainHarness.drain(spark,
      docChangeLog(Tables.load(spark, sfDir, "documents")),
      s"$sfDir/curate-incr", NBuckets, filesPerTrigger)(processCurateBatch)
    val docs = store.currentState(spark, "cur.docs")
    val qualified = docs.filter(LlmOps.qualityPred)
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(col("text"), " ")).as("n_words"))
    val keepers = qualified
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val exactKept = qualified.join(keepers, Seq("doc_id"), "left_semi")
      .persist()
    try {
      // Candidates from the MAINTAINED signature index, restricted to
      // the exact-kept population before the band census (the batch
      // pipeline signs exactly this set).
      val inb = store.currentState(spark, "cur.signatures")
        .join(exactKept.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), posexplode(col("ms")).as(Seq("band", "mh")))
      val ok = inb.groupBy("band", "mh").agg(count(lit(1)).as("bn"))
        .filter(col("bn").between(2, 100)).select("band", "mh")
      val pruned = inb.join(ok, Seq("band", "mh"))
      val cands = pruned.select(col("band"), col("mh"),
          col("doc_id").as("d1"))
        .join(pruned.select(col("band"), col("mh"),
          col("doc_id").as("d2")), Seq("band", "mh"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2").distinct()
      val ss = LlmOps.shingleSets(exactKept).persist()
      try {
        val jac = graft.functions.JaccardSim.jaccardSim(col("sa"), col("sb"))
        val dropped = cands
          .join(ss.select(col("doc_id").as("d1"), col("sset").as("sa")),
            Seq("d1"))
          .join(ss.select(col("doc_id").as("d2"), col("sset").as("sb")),
            Seq("d2"))
          .filter(round(jac, 6) >= 0.5)
          .select(col("d2").as("doc_id")).distinct()
        exactKept.join(dropped, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "n_words")
          .orderBy("doc_id")
          .localCheckpoint(true) // materialize before unpersist
      } finally ss.unpersist()
    } finally exactKept.unpersist()
  }

  /** Batch curate over the post-CDC corpus: the SAME SQL body as the
    * batch `llm_curate` oracle, pointed at the edited/deleted final
    * corpus — incremental maintenance must converge to it exactly.
    */
  val curateIncrementalOracle: String =
    """WITH final_docs AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 3 = 0
      |         THEN text || ' data table row data table row'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |), curated AS (
      |""".stripMargin +
      graft.ops.LlmOps.curateBody("final_docs") +
      """
      |)
      |SELECT doc_id, lang, n_words FROM curated
      |ORDER BY doc_id""".stripMargin

  /** CURATION MEMBERSHIP DELTA — "what did this change wave do to my
    * training set": the curated set over the PRE-CDC corpus compared
    * against the incrementally maintained post-CDC set
    * ([[curateIncremental]]), classified `entered` (now curated:
    * edits pushed a doc over the quality bar, or removed the doc
    * that was shadowing it as an exact/near dup) vs `left` (deleted,
    * quality-degraded, or newly shadowed). This is the audit a
    * training-data owner reviews before re-training on a refreshed
    * corpus; both sides are full curate semantics, so the delta
    * carries cascade effects (a delete un-shadowing a near-dup) that
    * a per-event view cannot.
    */
  def curateDelta(spark: SparkSession, sfDir: String): DataFrame = {
    // The before-set (batch curate over the pre-change corpus) and the
    // after-set (the incremental maintainer's drain) are independent
    // computations — materialize the before-set concurrently with the
    // drain instead of folding its whole assembly into the final join
    // action.
    val beforeF = graft.Par.future {
      graft.ops.LlmOps.curate(spark, sfDir).select("doc_id")
        .localCheckpoint(true)
    }
    val after = curateIncremental(spark, sfDir).select("doc_id")
    val before = graft.Par.await(beforeF)
    val entered = after.join(before, Seq("doc_id"), "left_anti")
      .withColumn("change", lit("entered"))
    val left = before.join(after, Seq("doc_id"), "left_anti")
      .withColumn("change", lit("left"))
    entered.unionByName(left).orderBy("doc_id", "change")
  }

  val curateDeltaOracle: String =
    """WITH final_docs AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 3 = 0
      |         THEN text || ' data table row data table row'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |), cur_before AS (
      |  SELECT doc_id FROM (
      |""".stripMargin +
      graft.ops.LlmOps.curateBody("documents") +
      """
      |)
      |), cur_after AS (
      |  SELECT doc_id FROM (
      |""".stripMargin +
      graft.ops.LlmOps.curateBody("final_docs") +
      """
      |)
      |)
      |SELECT doc_id, 'entered' AS change FROM cur_after
      |WHERE doc_id NOT IN (SELECT doc_id FROM cur_before)
      |UNION ALL
      |SELECT doc_id, 'left' FROM cur_before
      |WHERE doc_id NOT IN (SELECT doc_id FROM cur_after)
      |ORDER BY doc_id, change""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_minhash_incremental" -> ((s, d) => minhashIncremental(s, d)),
    "cdc_curate_incremental" -> ((s, d) => curateIncremental(s, d)),
    "cdc_curate_delta" -> curateDelta)

  def oracles: Map[String, String] = Map(
    "cdc_minhash_incremental" -> minhashIncrementalOracle,
    "cdc_curate_incremental" -> curateIncrementalOracle,
    "cdc_curate_delta" -> curateDeltaOracle)
}
