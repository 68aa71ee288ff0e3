package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A12 — keyed upsert (MERGE) semantics: apply c/u/d/r events by the
  * table's `id-columns`, latest event per key wins, deletes remove the
  * key (reference: connect-iceberg-sink.json:30,32 declare the id
  * columns; delta-mode upsert implied by :10-13).
  *
  * Scale design: compaction is a single hash aggregation
  * (`groupBy(pk).agg(max_by(event, (ts_ms, seq)))`), NOT a window —
  * `max_by` gets map-side partial aggregation, so at 100 TB only one
  * pre-combined row per key per input partition crosses the shuffle,
  * whereas `row_number() OVER (PARTITION BY pk)` would shuffle every
  * event and sort whole partitions. Ordering ties are impossible by
  * construction: (ts_ms, seq) is unique per key (seq is the log offset).
  */
object Merge {

  /** Latest-per-key compaction over flattened events
    * ([[Envelope.flatten]] output: `row` struct + `_cdc` struct).
    * Keeps delete tombstones (callers that materialize state drop them;
    * callers that merge into existing state need them).
    */
  def compactKeepTombstones(flattened: DataFrame, pkCols: Seq[String]): DataFrame = {
    val keys = pkCols.map(c => col(s"row.$c"))
    flattened
      .groupBy(keys: _*)
      .agg(max_by(struct(col("row"), col("_cdc")),
        struct(col("_cdc.ts_ms"), col("_cdc.seq"))).as("latest"))
      .select(col("latest.row").as("row"), col("latest._cdc").as("_cdc"))
  }

  /** Full compaction to current state: latest per key, tombstones
    * dropped, row struct exploded back to top-level columns.
    */
  def compact(flattened: DataFrame, pkCols: Seq[String]): DataFrame =
    compactKeepTombstones(flattened, pkCols)
      .filter(col("_cdc.op") =!= Envelope.OpDelete)
      .select(col("row.*"))

  /** Merge one compacted micro-batch (WITH tombstones) into an existing
    * current-state table: state rows whose key has no event survive,
    * evented keys take the event image, tombstoned keys disappear.
    * Both inputs are plain top-level-column frames except `batch`, which
    * is [[compactKeepTombstones]] output.
    *
    * Implemented as left-anti + union rather than a full outer join:
    * the anti join broadcasts the (small) batch key set when AQE sees it
    * fits, so steady-state micro-batches never shuffle the big state.
    */
  def mergeIntoState(state: DataFrame, batch: DataFrame,
                     pkCols: Seq[String]): DataFrame = {
    val batchRows = batch.select(col("row.*"), col("_cdc.op").as("_op"))
    val widened = SchemaEvolution.align(state, batchRows.drop("_op"))
    val keys = batchRows.select(pkCols.map(col): _*).distinct()
    val survivors = widened.join(keys, pkCols, "left_anti")
    val upserts = SchemaEvolution.align(
      batchRows.filter(col("_op") =!= Envelope.OpDelete).drop("_op"),
      widened)
    survivors.unionByName(upserts, allowMissingColumns = true)
  }

  /** Order-aware merge for the streaming pipeline: state rows and batch
    * rows both carry ([[StateStore.TsCol]], [[StateStore.SeqCol]]) merge
    * metadata; the winner per key is re-decided by (ts, seq) on every
    * merge, so an out-of-order event arriving in a LATER micro-batch
    * can never overwrite a newer image already in state (file-stream
    * micro-batches don't guarantee log order across batches the way a
    * Kafka partition does — this makes the result independent of batch
    * slicing, which the differential test asserts).
    *
    * Same scale shape as [[compact]]: union + one `max_by` hash
    * aggregation (map-side combinable), over affected buckets only.
    */
  def mergeOrdered(state: DataFrame, batch: DataFrame,
                   pkCols: Seq[String]): DataFrame = {
    val all = state.unionByName(batch, allowMissingColumns = true)
    val keys = pkCols.map(col)
    val order = struct(col(StateStore.TsCol), col(StateStore.SeqCol))
    val payload = struct(all.columns.map(col): _*)
    all.groupBy(keys: _*)
      .agg(max_by(payload, order).as("latest"))
      .select(col("latest.*"))
  }
}

/** A11 — schema evolution on write (reference:
  * connect-iceberg-sink.json:16 `iceberg.tables.evolve-schema-enabled`)
  * plus the sink's deliberate INT→long PK widening (§1.2 of SURVEY.md;
  * reference declares `user_id:long` / `product_id:long` at
  * connect-iceberg-sink.json:31,33 over INT source columns).
  */
object SchemaEvolution {

  /** The reference's widening lattice: integers widen to long, floats to
    * double. Applied when either side of a merge disagrees.
    */
  private val integral: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)
  private val fractional: Set[DataType] = Set(FloatType, DoubleType)

  /** Widening is restricted to the numeric lattice — the reference sink
    * only evolves compatible primitives; anything else (date vs
    * timestamp, struct vs struct, array vs scalar) is a genuine schema
    * conflict and must fail loudly rather than coerce-to-string and
    * silently mangle data.
    */
  def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (x, y) if integral(x) && integral(y) => LongType
    case (x, y) if (integral(x) || fractional(x)) &&
                   (integral(y) || fractional(y)) => DoubleType
    // Decimal PRECISION widening at equal scale — the Iceberg
    // `decimal(P,S) → decimal(P',S)` evolution rule (the only decimal
    // promotion its spec allows): values re-encode exactly, no
    // rounding can occur. A scale change or a decimal↔float mix is a
    // genuine conflict — rescaling rounds, so it must fail loudly.
    case (x: DecimalType, y: DecimalType) if x.scale == y.scale =>
      DecimalType(math.max(x.precision, y.precision), x.scale)
    case (x, y) => throw new IllegalArgumentException(
      s"incompatible schema evolution: cannot widen $x vs $y " +
        "(numeric widening and equal-scale decimal precision growth " +
        "only, per the reference sink)")
  }

  /** Align `df` to the union of its schema with `target`'s: add missing
    * columns as typed nulls, widen conflicting numeric types. Column
    * order follows `df` then new columns in `target` order.
    */
  /** Name matching is case-insensitive, mirroring Spark's default
    * resolution (`spark.sql.caseSensitive=false`) — a batch column
    * differing only in case must widen the existing column, not be
    * added as a duplicate.
    */
  def align(df: DataFrame, target: DataFrame): DataFrame =
    alignTo(df, target.schema)

  def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val tTypes = target
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    val dfNames = df.columns.map(_.toLowerCase).toSet
    require(dfNames.size == df.columns.length,
      s"case-insensitive duplicate columns in ${df.columns.mkString(",")}")
    val existing = df.schema.map { f =>
      tTypes.get(f.name.toLowerCase) match {
        case Some(t) if t != f.dataType =>
          col(f.name).cast(widen(f.dataType, t)).as(f.name)
        case _ => col(f.name)
      }
    }
    val missing = target
      .filterNot(f => dfNames.contains(f.name.toLowerCase))
      .map(f => lit(null).cast(f.dataType).as(f.name))
    df.select(existing ++ missing: _*)
  }
}
