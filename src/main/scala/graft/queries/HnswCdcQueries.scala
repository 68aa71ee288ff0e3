package graft.queries

import graft.Tables
import graft.cdc.{Envelope, MergeCommit, StateStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental HNSW graph maintenance under CDC (VERDICT r16 #5) —
  * the ANN family's strongest index freed from its batch-only build:
  * the layered navigable-small-world graph of
  * [[graft.ops.LlmOps.simHnsw]] is MAINTAINED under insert waves by
  * re-linking affected neighborhoods only, with deletes handled as a
  * tombstone mask at query time — exactly how a serving HNSW ages
  * (inserts link against the graph as it exists; deletes never
  * rewrite neighbors' edge lists, they just stop being visitable).
  *
  * Three state tables ride one drain:
  *  - `hnsw.vectors` — (vec_id, v, b1..b3 band keys), the ordered
  *    merge every CDC target uses; bands computed scan-local.
  *  - `hnsw.census` — (band → n) LSH-bucket occupancy, additive ±1
  *    deltas per (stored winner, band) — the [[LinesCdcQueries]]
  *    census pattern; it is what lets a batch know which of ITS bands
  *    are within the [2, 200] pair-join cap without scanning the
  *    corpus.
  *  - `hnsw.edges` — fanout-8 adjacency for BOTH layers in one
  *    layered table (`layer` 0 = base, 1 = L1), bucketed by vec_id so
  *    a node's lists co-locate and each batch commits the graph ONCE.
  *    Per batch: candidate pairs form ONLY between the
  *    batch's vectors and stored vectors sharing a cap-eligible band
  *    (a batch-keys × bucket-mates equi-join — never all-pairs, never
  *    the corpus); a BATCH vector's list is rebuilt from its fresh
  *    candidates, a NEIGHBOR-side vector's list is its stored top-8
  *    unioned with the new candidates and re-cut to 8 — the
  *    "re-link affected neighborhoods" rule. A deleted vector's own
  *    rows drop; edges POINTING at it stay and are masked at walk
  *    time by the live-scored join (updates = delete + insert, the
  *    HNSW convention).
  *
  * INSERTION-ORDER DEPENDENCE is inherent to HNSW (each vector links
  * against the graph as of its arrival), so unlike the telescoping
  * families this maintainer PINS its micro-batch slicing: the change
  * log stages one file per wave ([[DrainHarness.stageWaves]]) and
  * drains wave-per-batch, which is what gives the oracle a closed
  * form (A-internal edges cut under A's bucket census, then unioned
  * with the insert wave's candidates under the grown census and
  * re-cut). The three commits of a batch are crash-atomic via
  * [[StateStore.atomically]].
  *
  * What incremental linking COSTS versus a full rebuild is measured,
  * not assumed: `cdc_hnsw_recall` publishes the maintained graph's
  * walk recall@10 beside the same walk over a from-scratch rebuild
  * on the identical final corpus.
  *
  * 100 TB: batch cost = |batch| × (≤ cap bucket-mates) × 3 bands
  * candidate rows + bucket-pruned reads of the touched nodes' edge
  * buckets; walk cost = hops × beam × fanout point lookups. A
  * serving deployment additionally keys a (band → members) postings
  * twin by band (the [[Bm25VocabQueries]] pattern) so the candidate
  * probe prunes at the manifest; the vectors table here is bucketed
  * by its merge key, so that probe is one scan-level equi-join — the
  * scale note, not a correctness difference.
  */
object HnswCdcQueries {

  private val NBuckets = 8
  private val VecTable = "hnsw.vectors"
  private val CensusTable = "hnsw.census"
  // ONE layered edge table (VERDICT r17 #3): base layer = 0, L1 = 1,
  // bucketed by vec_id so both layers of a node share a bucket. The
  // former two-table layout committed twice per batch (two manifest
  // writes, two affected-bucket collects, two state reads); a layer
  // column makes the relink ONE window pass and ONE commit for the
  // identical per-(layer, vec_id) lists.
  private val EdgeTable = "hnsw.edges"
  private val BaseLayer = 0
  private val L1Layer = 1
  private val Fanout = 8
  private val CapLo = 2
  private val CapHi = 200

  private val BandDims = Seq("1" -> (1 to 6), "2" -> (7 to 12),
    "3" -> (13 to 18))

  /** Sign-pattern band keys off the (double) embedding, prefixed per
    * band group so groups can share one census table.
    */
  private def bandExpr(v: Column, g: String, dims: Range): Column =
    concat(lit(s"$g:") +: dims.map(i =>
      when(element_at(v, i) >= 0d, lit("1")).otherwise(lit("0"))): _*)

  // ----------------------------------------------------- change log

  /** Three waves: the op='r' bootstrap of ~3/4 of the corpus, an
    * insert wave for the rest (the re-link case), and a delete wave
    * (the tombstone-mask case). No update wave by design — HNSW
    * updates are delete + insert.
    */
  private[queries] def changeWaves(base: DataFrame): Seq[DataFrame] = {
    val src = struct(lit("vectors").as("schema"), lit("embeddings").as("table"))
    val embD = transform(col("embedding"), x => x.cast("double"))
    val image = struct(col("vec_id").cast("long").as("vec_id"),
      embD.as("emb"))
    val nullImage = when(lit(false), image)
    val pk = col("vec_id").cast("long")
    def ev(filter: Column, before: Column, after: Column, op: String,
           ts: Long): DataFrame =
      base.filter(filter).select(
        before.as("before"), after.as("after"), lit(op).as("op"),
        lit(ts).as("ts_ms"), pk.as("seq"), src.as("source"))
    Seq(
      ev(pk % 4 =!= 3, nullImage, image, Envelope.OpRead, 1000L),
      ev(pk % 4 === 3, nullImage, image, Envelope.OpCreate, 2000L),
      ev(pk % 9 === 0, image, nullImage, Envelope.OpDelete, 3000L))
  }

  // --------------------------------------------------- micro-batch

  /** Run `body` under the phase label `hnsw: s` for the UI / JobProf
    * (guide §1.5). The label is thread-local, so it marks every action
    * `body` launches on this thread; the thread's previous label comes
    * back however `body` ends, so no caller (a bench or verify thread,
    * a pooled [[graft.Par]] thread) inherits an HNSW label.
    */
  private def labelled[T](spark: SparkSession, s: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"hnsw: $s")
    try body finally sc.setJobDescription(prev)
  }

  /** One micro-batch ([[MergeCommit.mergeMaintained]]): bands
    * scan-local on batch rows, then the census deltas — ±1 per (stored
    * winner, band); a band whose occupancy reaches 0 leaves the census
    * — and the relink.
    */
  private[queries] def processBatch(store: StateStore,
                                    batch: DataFrame): Unit =
    labelled(batch.sparkSession, "merge batch") {
      MergeCommit.mergeMaintained(store, VecTable,
        Seq(CensusTable, EdgeTable), batch, Seq("vec_id"))(_ =>
          Seq(col("vec_id"), col("emb").as("v")) ++
            BandDims.map { case (g, dims) =>
              bandExpr(col("emb"), g, dims).as(s"b$g") }) {
        (featMeta, result) =>
          labelled(featMeta.sparkSession, "census deltas") {
            MergeCommit.commitDeltas(store, CensusTable, result,
              featMeta.select("vec_id").distinct(), Seq("band"),
              Seq("band"), dropAtZero = true)(
              _.select(explode(array(BandDims.map { case (g, _) =>
                  col(s"b$g") }: _*)).as("band"))
                .withColumn("n", lit(1L)))
          }
          labelled(featMeta.sparkSession, "candidate pairs") {
            linkBatch(store, featMeta, result)
          }
      }
    }

  /** Candidate pairs — batch live winners × stored bucket mates over
    * cap-eligible bands of THIS batch — then the layered [[relink]].
    */
  private def linkBatch(store: StateStore, featMeta: DataFrame,
                        result: MergeCommit.Result): Unit = {
    val spark = featMeta.sparkSession
    val newLive = result.postSlice.filter(!col(StateStore.DeletedCol))
      .select("vec_id", "v", "b1", "b2", "b3").persist()
    def postings(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("v"),
        explode(array(BandDims.map { case (g, _) => col(s"b$g") }: _*))
          .as("band"))
    val batchBandBuckets = postings(newLive).select("band").distinct()
      .select(StateStore.bucketExpr(Seq("band"), NBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val allowed =
      if (batchBandBuckets.isEmpty) newLive.select("vec_id").limit(0)
        .select(col("vec_id").cast("string").as("band"))
      else store.readBuckets(spark, CensusTable, batchBandBuckets)
        .filter(col("n").between(CapLo, CapHi)).select("band")
    val stateLive = store.currentState(spark, VecTable)
    val cand0 = postings(newLive).join(broadcast(allowed), Seq("band"))
      .select(col("band"), col("vec_id").as("a"), col("v").as("va"))
      .join(postings(stateLive)
        .select(col("band"), col("vec_id").as("b"), col("v").as("vb")),
        Seq("band"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(graft.ops.LlmOps.cosine(col("va"), col("vb")), 6)
          .as("cos"))
    // Both layers ride ONE candidate frame: base rows tagged
    // layer 0, the L1 subsample tagged layer 1 — the layered
    // relink below cuts each (layer, vec_id) group independently,
    // exactly what the two per-table relinks computed, in one
    // window pass and one commit.
    val cand = cand0
      .select(col("a").as("vec_id"), col("b").as("neighbor"), col("cos"))
      .unionAll(cand0.select(col("b").as("vec_id"),
        col("a").as("neighbor"), col("cos")))
      .dropDuplicates("vec_id", "neighbor")
      .persist()
    try {
      val candL = cand.withColumn("layer", lit(BaseLayer))
        .unionAll(cand.filter(col("vec_id") % 5 === 1 &&
            col("neighbor") % 5 === 1)
          .withColumn("layer", lit(L1Layer)))
        .select("layer", "vec_id", "neighbor", "cos")
      val batchKeys = featMeta.select("vec_id").distinct()
      labelled(spark, "relink")(relink(spark, store, candL, batchKeys))
    } finally {
      cand.unpersist(blocking = false)
      newLive.unpersist(blocking = false)
    }
  }

  /** The re-link rule: batch vectors REBUILD their lists from fresh
    * candidates (their value is new — old edges, if any, are void);
    * neighbor-side vectors accumulate the new candidates into their
    * stored top-8 and re-cut; deleted batch vectors' rows drop.
    * One commit over the touched nodes' buckets, untouched bucket
    * rows carried.
    */
  private def relink(spark: SparkSession, store: StateStore,
                     candL: DataFrame,
                     batchKeys: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    // Affected buckets: every node whose list can change — candidate
    // endpoints plus every batch key (a batch key's stored rows drop
    // even when it drew no candidates). The L1 candidate set is a
    // subset of the base set, so the base layer's endpoints cover
    // both layers, and the bucket space is shared (hash(vec_id)).
    val affected = candL.select("vec_id").unionByName(batchKeys)
      .select(StateStore.bucketExpr(Seq("vec_id"), NBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) return
    val existing =
      if (store.exists(EdgeTable)) store.readBuckets(spark, EdgeTable, affected)
        .select("layer", "vec_id", "neighbor", "cos")
      else MergeCommit.emptyLike(candL)
    // ONE window pass over (stored-minus-batch-keys ∪ candidates)
    // replaces the former keep/accumulate/recut three-way split (six
    // shuffles, ~17 jobs per relink in the r17 JobProf): batch keys'
    // stored rows drop IN BOTH LAYERS (their lists rebuild from cand
    // alone, the re-link rule); every OTHER stored row is already
    // within the fanout cut of this same window (lists are only ever
    // committed pre-cut), so the re-cut is the identity on untouched
    // nodes and they no longer need to be split out and unioned back.
    // The batch-key anti-join broadcasts (batch-sized frame), keeping
    // the state side unshuffled; the explicit repartition on vec_id
    // lets the pair-dedup AND the window share ONE exchange — vec_id
    // is a SUBSET of both the dedup key (layer, vec_id, neighbor) and
    // the window partition key (layer, vec_id), so hash(vec_id)
    // satisfies both clusterings (guide §2.4), for both layers at
    // once. Dedup guards the stored-row/new-candidate overlap (same
    // pair, same cos — no update wave exists, so duplicate pairs
    // always carry equal cos and the arbitrary keep is exact).
    val pool = existing
      .join(broadcast(batchKeys), Seq("vec_id"), "left_anti")
      .unionByName(candL)
      .repartition(col("vec_id"))
      .dropDuplicates("layer", "vec_id", "neighbor")
    val byCos = Window.partitionBy("layer", "vec_id")
      .orderBy(col("cos").desc, col("neighbor"))
    val next = pool.withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= Fanout)
      .select("layer", "vec_id", "neighbor", "cos")
      .withColumn(StateStore.BucketCol,
        StateStore.bucketExpr(Seq("vec_id"), NBuckets))
    store.commit(spark, EdgeTable, next, affected)
    ()
  }

  /** Batch graph build over a live vectors frame — the recall
    * audit's rebuilt baseline. Caps use
    * the frame's OWN census (what a from-scratch build would see).
    * Returns (base edges, L1 edges).
    */
  private[queries] def buildEdges(vectors: DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    def postings(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("v"),
        explode(array(BandDims.map { case (g, _) => col(s"b$g") }: _*))
          .as("band"))
    val post = postings(vectors)
    val ok = post.groupBy("band").agg(count(lit(1)).as("n"))
      .filter(col("n").between(CapLo, CapHi)).select("band")
    val pairs = post.join(ok, Seq("band"))
      .select(col("band"), col("vec_id").as("a"), col("v").as("va"))
      .join(post.select(col("band"), col("vec_id").as("b"),
        col("v").as("vb")), Seq("band"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(graft.ops.LlmOps.cosine(col("va"), col("vb")), 6).as("cos"))
      .dropDuplicates("a", "b")
    val sym = pairs
      .select(col("a").as("vec_id"), col("b").as("neighbor"), col("cos"))
      .unionAll(pairs.select(col("b").as("vec_id"), col("a").as("neighbor"),
        col("cos")))
    val byCos = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("neighbor"))
    def cut(df: DataFrame): DataFrame =
      df.withColumn("rank", row_number().over(byCos))
        .filter(col("rank") <= Fanout)
        .select("vec_id", "neighbor", "cos")
    (cut(sym),
      cut(sym.filter(col("vec_id") % 5 === 1 && col("neighbor") % 5 === 1)))
  }

  // -------------------------------------------------------- serve

  /** The hierarchical descent over a given edge pair, mirroring the
    * batch walk hop for hop (L2 scan → 2 L1 hops at beam 8 → 3 base
    * hops at beam 16 → top-10). `scored` must already be live-only —
    * the tombstone mask: dead candidates simply have no score row.
    */
  private def walk(scored: DataFrame, baseEdges: DataFrame,
                   l1Edges: DataFrame, ownScored: Boolean = true,
                   label: String = "walk"): DataFrame =
    labelled(scored.sparkSession, label) {
      import org.apache.spark.sql.expressions.Window
      // `ownScored = false`: the caller persists/unpersists the shared
      // scored frame (the recall audit runs two walks CONCURRENTLY over
      // one scored cache — r17's deferred persist-ownership blocker).
      val scoredP = if (ownScored) scored.persist() else scored
      // Persist the edge frames: every hop's candidate join re-evaluates
      // its edges argument, and for the recall audit's REBUILT graph that
      // argument is the whole buildEdges pipeline (banded pair join +
      // fanout window) — r17 JobProf measured the walks at 18 s of the
      // 27 s cdc_hnsw_recall wall precisely because 5 hops × 2 walks
      // recomputed it per hop. One materialization each, dropped on exit.
      val baseP = baseEdges.persist()
      val l1P = l1Edges.persist()
      // Per-hop eager localCheckpoint is load-bearing: an attempted lazy
      // five-hop lineage (one action at walk end) re-timed SLOWER
      // (24.5 s vs 17.7 s for cdc_hnsw_incremental) — the nested
      // limit-inside-join tree costs the optimizer more than the per-hop
      // driver round-trips save (guide §1.1's "ideal plan is usually
      // slower at first" case). The hop inputs (scores, edges) stay
      // persisted above, which is where the real win was.
      def expand(beam0: DataFrame, edges: DataFrame, hops: Int,
                 width: Int): DataFrame = {
        var beam = beam0
        for (_ <- 1 to hops) {
          val c = beam.select("vec_id")
            .join(edges, Seq("vec_id"))
            .select(col("neighbor").as("vec_id")).distinct()
          beam = beam.unionByName(c.join(scoredP, Seq("vec_id"))).distinct()
            .orderBy(col("cos").desc, col("vec_id")).limit(width)
            .localCheckpoint(true)
        }
        beam
      }
      val entry = scoredP.filter(col("vec_id") % 25 === 1)
        .orderBy(col("cos").desc, col("vec_id")).limit(4)
      val l1Beam = expand(entry, l1P, hops = 2, width = 8)
      val out = expand(l1Beam, baseP, hops = 3, width = 16)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
        .select("rank", "vec_id", "cos")
        .orderBy("rank")
        .localCheckpoint(true)
      if (ownScored) scoredP.unpersist(blocking = false)
      baseP.unpersist(blocking = false)
      l1P.unpersist(blocking = false)
      out
    }

  private def scoredLive(spark: SparkSession, sfDir: String,
                         store: StateStore): DataFrame = {
    val probe = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(graft.ops.LlmOps.vecD(col("embedding")).as("probe"))
    store.currentState(spark, VecTable)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(graft.ops.LlmOps.cosine(col("v"), col("probe")), 6).as("cos"))
  }

  private[queries] def runMaintenance(spark: SparkSession,
      sfDir: String): StateStore =
    DrainHarness.drainWaves(spark,
      changeWaves(Tables.load(spark, sfDir, "embeddings")),
      s"$sfDir/hnswd", NBuckets, filesPerTrigger = 1)(processBatch)

  /** Bench's untimed staging warmup. */
  def prestage(spark: SparkSession, sfDir: String): Unit =
    DrainHarness.stageWaves(
      changeWaves(Tables.load(spark, sfDir, "embeddings")),
      s"$sfDir/hnswd")

  /** The registered query: drain wave-per-batch, walk the MAINTAINED
    * graph over the live corpus, publish the beam's top-10.
    */
  /** The two layers of the maintained graph, off one state read. */
  private def maintainedLayers(spark: SparkSession,
      store: StateStore): (DataFrame, DataFrame) = {
    val e = store.rawState(spark, EdgeTable)
    (e.filter(col("layer") === BaseLayer).select("vec_id", "neighbor"),
      e.filter(col("layer") === L1Layer).select("vec_id", "neighbor"))
  }

  def hnswIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val store = runMaintenance(spark, sfDir)
    val (base, l1) = maintainedLayers(spark, store)
    walk(scoredLive(spark, sfDir, store), base, l1)
  }

  /** The audit row: walk recall@10 vs the exact top-10 for BOTH the
    * maintained graph and a from-scratch rebuild on the identical
    * final corpus — what incremental linking costs, published.
    */
  def hnswRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val store = runMaintenance(spark, sfDir)
    val scored = scoredLive(spark, sfDir, store).persist()
    // The exact top-10 doubles as the scored cache's materializing
    // action, so the two concurrent walks below read a built cache
    // instead of racing to compute it.
    val exact = labelled(spark, "exact top-10") {
      scored.orderBy(col("cos").desc, col("vec_id"))
        .limit(10).select("vec_id").localCheckpoint(true)
    }
    // The maintained walk and the rebuilt-baseline walk are independent
    // given the drain and the shared (read-only) scored cache, so they
    // run CONCURRENTLY (guide §2.6 — VERDICT r17 #2; r17 measured them
    // at ~5 s each SEQUENTIAL). `ownScored = false` resolves the
    // persist-ownership blocker: this method owns the cache, neither
    // walk unpersists it. Each walk's OWN edge frames stay private.
    // Both walks end in an eager localCheckpoint, so both thunks
    // return fully materialized frames.
    val walked = graft.Par.run(Seq(
      () => {
        val (base, l1) = maintainedLayers(spark, store)
        walk(scored, base, l1,
          ownScored = false, label = "walk maintained")
          .select("vec_id")
      },
      () => labelled(spark, "rebuild baseline") {
        val live = store.currentState(spark, VecTable).persist()
        val (rb, rl1) = buildEdges(live)
        val out = walk(scored, rb.select("vec_id", "neighbor"),
          rl1.select("vec_id", "neighbor"),
          ownScored = false, label = "walk rebuilt")
          .select("vec_id")
        live.unpersist(blocking = false)
        out
      }))
    val (maintained, rebuilt) = (walked(0), walked(1))
    val out = exact.join(maintained, Seq("vec_id"))
      .agg(count(lit(1)).as("hits_inc"))
      .crossJoin(exact.join(rebuilt, Seq("vec_id"))
        .agg(count(lit(1)).as("hits_rebuilt")))
      .select(lit(10).as("k"),
        col("hits_inc"),
        round(col("hits_inc").cast("double") / 10, 2).as("recall_inc"),
        col("hits_rebuilt"),
        round(col("hits_rebuilt").cast("double") / 10, 2)
          .as("recall_rebuilt"))
      .localCheckpoint(eager = true)
    scored.unpersist(blocking = false)
    out
  }

  // ------------------------------------------------------- oracles

  /** Closed-form SQL for the maintained graph: A-internal edges cut
    * under A's census, unioned per node with the insert wave's
    * candidates (formed under the grown A∪B census, one endpoint in
    * B) and re-cut to 8, then delete-wave source rows dropped; the
    * walk is the batch walk over the live corpus.
    */
  private def bandSql(alias: String, dims: Range): String =
    dims.map(d =>
      s"CASE WHEN $alias.embedding[$d] >= 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ",\n      ", ")")

  private def pairSql(rel: String, extra: String): String =
    BandDims.map { case (g, _) =>
      s"""  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    ROUND(list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) *
         |       sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         |  FROM $rel a JOIN $rel b ON a.b$g = b.b$g AND a.vec_id < b.vec_id
         |  JOIN ok$rel$g ON ok$rel$g.b$g = a.b$g$extra""".stripMargin
    }.mkString("\n  UNION\n")

  private def okSql(rel: String): String =
    BandDims.map { case (g, _) =>
      s"""ok$rel$g AS (
         |  SELECT b$g FROM $rel GROUP BY b$g
         |  HAVING count(*) BETWEEN $CapLo AND $CapHi
         |)""".stripMargin
    }.mkString(", ")

  private def hopSql(n: Int, edges: String, width: Int): String =
    s"""hcand$n AS (
       |  SELECT DISTINCT e.neighbor AS vec_id
       |  FROM hb${n - 1} b JOIN $edges e ON e.vec_id = b.vec_id
       |), hb$n AS (
       |  SELECT vec_id, cos FROM (
       |    SELECT vec_id, cos FROM hb${n - 1}
       |    UNION
       |    SELECT s.vec_id, s.cos FROM hcand$n JOIN scored s USING (vec_id)
       |  ) ORDER BY cos DESC, vec_id LIMIT $width
       |)""".stripMargin

  private def cutSql(src: String, name: String, l1: String): String =
    s"""$name AS (
       |  SELECT vec_id, neighbor FROM $src
       |  WHERE vec_id % 9 <> 0$l1
       |  WINDOW w AS (PARTITION BY vec_id ORDER BY cos DESC, neighbor)
       |  QUALIFY row_number() OVER w <= $Fanout
       |)""".stripMargin

  private val graphSql: String =
    s"""WITH e AS (
       |  SELECT x.vec_id, x.embedding::DOUBLE[] AS v,
       |    ${bandSql("x", 1 to 6)} AS b1,
       |    ${bandSql("x", 7 to 12)} AS b2,
       |    ${bandSql("x", 13 to 18)} AS b3
       |  FROM embeddings x
       |), ea AS (
       |  SELECT * FROM e WHERE vec_id % 4 <> 3
       |), ${okSql("ea")}, ${okSql("e")}, pa AS (
       |${pairSql("ea", "")}
       |), pb AS (
       |${pairSql("e",
          "\n  WHERE a.vec_id % 4 = 3 OR b.vec_id % 4 = 3")}
       |), syma AS (
       |  SELECT v1 AS vec_id, v2 AS neighbor, cos FROM pa
       |  UNION ALL SELECT v2, v1, cos FROM pa
       |), edgesa AS (
       |  SELECT vec_id, neighbor, cos FROM syma
       |  WINDOW w AS (PARTITION BY vec_id ORDER BY cos DESC, neighbor)
       |  QUALIFY row_number() OVER w <= $Fanout
       |), edgesa1 AS (
       |  SELECT vec_id, neighbor, cos FROM syma
       |  WHERE vec_id % 5 = 1 AND neighbor % 5 = 1
       |  WINDOW w AS (PARTITION BY vec_id ORDER BY cos DESC, neighbor)
       |  QUALIFY row_number() OVER w <= $Fanout
       |), symb AS (
       |  SELECT v1 AS vec_id, v2 AS neighbor, cos FROM pb
       |  UNION ALL SELECT v2, v1, cos FROM pb
       |), pool AS (
       |  SELECT vec_id, neighbor, cos FROM edgesa
       |  UNION
       |  SELECT vec_id, neighbor, cos FROM symb
       |), pool1 AS (
       |  SELECT vec_id, neighbor, cos FROM edgesa1
       |  UNION
       |  SELECT vec_id, neighbor, cos FROM symb
       |  WHERE vec_id % 5 = 1 AND neighbor % 5 = 1
       |), ${cutSql("pool", "knn", "")},
       |${cutSql("pool1", "l1knn", "")}, probe AS (
       |  SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = 0
       |), scored AS (
       |  SELECT vec_id,
       |    ROUND(list_dot_product(embedding::DOUBLE[], p) /
       |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
       |       sqrt(list_dot_product(p, p))), 6) AS cos
       |  FROM embeddings, probe WHERE vec_id <> 0 AND vec_id % 9 <> 0
       |), hb0 AS (
       |  SELECT vec_id, cos FROM scored WHERE vec_id % 25 = 1
       |  ORDER BY cos DESC, vec_id LIMIT 4
       |),
       |${hopSql(1, "l1knn", 8)},
       |${hopSql(2, "l1knn", 8)},
       |${hopSql(3, "knn", 16)},
       |${hopSql(4, "knn", 16)},
       |${hopSql(5, "knn", 16)}""".stripMargin

  val hnswIncrementalOracle: String =
    graphSql + "\n" +
      """SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT)
        |    AS rank, vec_id, cos
        |FROM hb5 ORDER BY rank LIMIT 10""".stripMargin

  /** [[hopSql]] renamed into the rebuilt walk's rbN / rcandN CTE
    * space — digit-anchored so "neighbor" (which contains "hb")
    * survives.
    */
  private def rehop(n: Int, edges: String, width: Int): String =
    """hb(\d)""".r.replaceAllIn(
      hopSql(n, edges, width).replace("hcand", "rcand"),
      m => "rb" + m.group(1))

  val hnswRecallOracle: String =
    graphSql + s""", el AS (
       |  SELECT * FROM e WHERE vec_id % 9 <> 0
       |), ${okSql("el")}, pl AS (
       |${pairSql("el", "")}
       |), syml AS (
       |  SELECT v1 AS vec_id, v2 AS neighbor, cos FROM pl
       |  UNION ALL SELECT v2, v1, cos FROM pl
       |), ${cutSql("syml", "rknn", "")},
       |${cutSql("syml", "rl1knn", "\n    AND vec_id % 5 = 1 AND neighbor % 5 = 1")},
       |rb0 AS (SELECT vec_id, cos FROM hb0),
       |${rehop(1, "rl1knn", 8)},
       |${rehop(2, "rl1knn", 8)},
       |${rehop(3, "rknn", 16)},
       |${rehop(4, "rknn", 16)},
       |${rehop(5, "rknn", 16)},
       |exact AS (
       |  SELECT vec_id FROM scored ORDER BY cos DESC, vec_id LIMIT 10
       |), minc AS (
       |  SELECT vec_id FROM hb5
       |  ORDER BY cos DESC, vec_id LIMIT 10
       |), mreb AS (
       |  SELECT vec_id FROM rb5
       |  ORDER BY cos DESC, vec_id LIMIT 10
       |)
       |SELECT 10 AS k,
       |  (SELECT count(*) FROM exact JOIN minc USING (vec_id)) AS hits_inc,
       |  ROUND(CAST((SELECT count(*) FROM exact JOIN minc USING (vec_id))
       |    AS DOUBLE) / 10, 2) AS recall_inc,
       |  (SELECT count(*) FROM exact JOIN mreb USING (vec_id))
       |    AS hits_rebuilt,
       |  ROUND(CAST((SELECT count(*) FROM exact JOIN mreb USING (vec_id))
       |    AS DOUBLE) / 10, 2) AS recall_rebuilt""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_hnsw_incremental" -> ((s, d) => hnswIncremental(s, d)),
    "cdc_hnsw_recall" -> ((s, d) => hnswRecall(s, d)))

  def oracles: Map[String, String] = Map(
    "cdc_hnsw_incremental" -> hnswIncrementalOracle,
    "cdc_hnsw_recall" -> hnswRecallOracle)
}
