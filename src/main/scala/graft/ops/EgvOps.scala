package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.GlucoseRange

/** Reference-parity operators (SURVEY.md §2), as composable
  * `DataFrame => DataFrame` combinators. Each works identically on batch
  * and streaming DataFrames unless noted.
  */
object EgvOps {

  /** Reference threshold: StreamsFilterEgvs.java:30 (`value >= 200`). */
  val HighThreshold = 200

  /** F1 — stateless threshold filter (StreamsFilterEgvs.java:28-31).
    * Narrow map-side op; the predicate is pushed to the parquet scan.
    */
  def filterHigh(events: DataFrame, valueCol: String = "value",
                 threshold: Double = HighThreshold): DataFrame =
    events.filter(col(valueCol) >= threshold)

  /** P1 — lenient JSON scalar extraction: NPE-to-default in the reference
    * (StreamsFilterEgvs.java:43-52) becomes an explicit coalesce-to-default.
    */
  def lenientJsonInt(json: Column, path: String, default: Int = 0): Column =
    coalesce(get_json_object(json, path).cast("int"), lit(default))

  /** F2 — static-rule categorization (CategorizeWithSimpleRule.java:66-69):
    * in-range ⇔ lower <= v <= upper, emitted as the reference's string
    * "true"/"false" for sink parity.
    */
  def categorizeSimple(df: DataFrame, valueCol: String = "value",
                       lower: Int = 75, upper: Int = 180): DataFrame =
    df.withColumn("in_range", inRange(col(valueCol), lit(lower), lit(upper)))

  /** U2 — seconds-of-day from a timestamp. The reference parses
    * `systemTime.split("T")[1]` with a lenient 12-hour SimpleDateFormat
    * (EgvTransformer.java:39-49); we use the correct 24-hour semantics.
    */
  def secondsOfDay(ts: Column): Column =
    hour(ts) * 3600 + minute(ts) * 60 + second(ts)

  /** J1 — stream–table interval lookup join + dynamic categorization
    * (CategorizeWithKTableLookup.java:65-75 / EgvTransformer.java:38-84).
    *
    * The ranges side is dimension-sized, so we broadcast: Catalyst plans a
    * BroadcastNestedLoopJoin — the reference's scan-all-ranges algorithm,
    * but vectorized, codegen'd, and with zero shuffle of the (large) event
    * side. Unmatched events are dropped (inner join) — the well-defined
    * version of the reference's null-then-NPE behavior (F4). This is the
    * batch plan (`ref_categorize_lookup`). A streaming query re-plans every
    * trigger and so rebuilds a static side's broadcast on every micro-batch
    * (one more Spark job plus a TorrentBroadcast per batch); the stream
    * topology therefore inlines driver-local, disjoint ranges with
    * [[inlineRangeLookup]] and joins here only for every other ranges frame.
    *
    * With non-overlapping ranges (the reference fixture; the realistic
    * config) each event matches at most once and no tie-break is needed.
    * For overlapping ranges the reference takes the FIRST match in key
    * order (EgvTransformer.java:74-79); set `firstMatchOnly=true` to
    * reproduce that. The tie-break is fully deterministic and retry-safe:
    * identical event rows are indistinguishable, so first-match is a
    * function of the DISTINCT event row — events aggregate to distinct
    * rows with a multiplicity count, the min-by-range_id winner is picked
    * per distinct row, and multiplicity re-expands. (A generated
    * monotonically_increasing_id key would renumber rows if a speculative
    * or retried task recomputes the pre-window stage, duplicating or
    * dropping a first match in rare recovery scenarios.) Costs one
    * shuffle on the distinct event row — only pay it when ranges overlap.
    */
  def categorizeWithLookup(events: DataFrame, ranges: DataFrame,
                           tsCol: String = "ts", valueCol: String = "value",
                           firstMatchOnly: Boolean = false): DataFrame = {
    val e0 = events.withColumn("tod", secondsOfDay(col(tsCol)))
    val cond = col("tod") >= col("start_sec") && col("tod") <= col("end_sec")
    val picked =
      if (!firstMatchOnly) e0.join(broadcast(ranges), cond, "inner")
      else {
        val evCols = e0.columns.toSeq
        // range_id leads the struct so min() == first match in key order.
        val rCols = "range_id" +: ranges.columns.filterNot(_ == "range_id").toSeq
        val grouped = e0.groupBy(evCols.map(col): _*)
          .agg(count(lit(1)).as("__mult"))
        grouped.join(broadcast(ranges), cond, "inner")
          .groupBy((evCols :+ "__mult").map(col): _*)
          .agg(min(struct(rCols.map(col): _*)).as("__m"))
          .withColumn("__i", explode(sequence(lit(1L), col("__mult"))))
          .selectExpr(evCols ++ Seq("__m.*"): _*)
      }
    picked.withColumn("in_range",
      inRange(col(valueCol), col("lower_bound"), col("upper_bound")))
      .drop("tod")
  }

  /** J1 stream path — [[categorizeWithLookup]]'s rows and columns (names,
    * order, types) from one [[firstMatch]] CASE chain, or `None` unless
    * `ranges` is driver-local (its optimized plan is a `LocalRelation`, as
    * `Seq(...).toDF` makes) and its non-null `[start_sec, end_sec]`
    * intervals are pairwise disjoint, so that first match is every match.
    * The rows are read once, here (they already live on the driver), into
    * literals. Disjointness is decided for integral bounds, and literals
    * are built for flat column types; other frames get `None`. A row with
    * a null bound, or start > end, never matches the join and stays out of
    * the chain.
    */
  def inlineRangeLookup(events: DataFrame, ranges: DataFrame, tsCol: String = "ts",
                        valueCol: String = "value"): Option[DataFrame] = {
    val schema = ranges.schema
    val flat = schema.forall(_.dataType match {
      case _: ArrayType | _: MapType | _: StructType | _: UserDefinedType[_] => false
      case _ => true
    })
    val integralBounds = Seq("start_sec", "end_sec").forall(n =>
      schema.find(_.name == n).exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }))
    if (!flat || !integralBounds ||
        !ranges.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) None
    else {
      val (si, ei) = (schema.fieldIndex("start_sec"), schema.fieldIndex("end_sec"))
      def bound(r: Row, i: Int): Long = r.getAs[Number](i).longValue
      val live = ranges.collect()
        .filter(r => !r.isNullAt(si) && !r.isNullAt(ei) && bound(r, si) <= bound(r, ei))
        .sortBy(bound(_, si))
      val disjoint = live.lazyZip(live.drop(1)).forall((a, b) => bound(a, ei) < bound(b, si))
      Option.when(disjoint)(firstMatch(events, tsCol, valueCol, schema,
        live.toSeq.map(r => (r.get(si), r.get(ei), struct(schema.fields.toSeq.zipWithIndex.map {
          case (f, i) => lit(r.get(i)).cast(f.dataType).as(f.name)
        }: _*)))))
    }
  }

  /** J1 fast path — zero-shuffle, zero-join first-match lookup for a
    * driver-side ranges list: exactly the reference's
    * first-match-in-key-order `break` (EgvTransformer.java:79) as one
    * [[firstMatch]] chain.
    */
  def lookupFirstMatch(events: DataFrame, ranges: Seq[GlucoseRange],
                       tsCol: String = "ts", valueCol: String = "value"): DataFrame =
    firstMatch(events, tsCol, valueCol,
      StructType.fromDDL("range_id int, lower_bound int, upper_bound int"),
      ranges.sortBy(_.rangeId).map(r => (r.startSec, r.endSec, struct(
        lit(r.rangeId).as("range_id"),
        lit(r.lowerBound).as("lower_bound"),
        lit(r.upperBound).as("upper_bound")))))

  /** The when-chain behind both driver-side lookups: `arms` are closed
    * `[start, end]` seconds-of-day intervals, each with the struct of range
    * columns it yields (typed as `payload`), tried in order. The chain is one
    * codegen'd CASE per row: no join, no shuffle, and no interpreted
    * higher-order functions (an array-literal + `filter(arr, pred)` variant
    * measured 10× slower — HOFs fall out of codegen). Each arm yields a
    * one-element array that `inline` expands into the range columns; no arm
    * yields null, so `inline` emits no row and unmatched events are dropped
    * (F4). A `Filter` on the match would do the same, but the optimizer
    * pushes it below the projections that parse the event, and evaluates
    * the parse again for every bound it compares.
    */
  private def firstMatch(events: DataFrame, tsCol: String, valueCol: String,
                         payload: StructType, arms: Seq[(Any, Any, Column)]): DataFrame = {
    val noMatch = lit(null).cast(ArrayType(payload, containsNull = false))
    val hits = arms.map { case (start, end, p) => (col("__tod").between(start, end), array(p)) }
    val matched = hits.headOption.fold(noMatch) { case (hit, m) =>
      hits.tail.foldLeft(when(hit, m)) { case (chain, (hit, m)) => chain.when(hit, m) }
        .otherwise(noMatch)
    }
    events.withColumn("__tod", secondsOfDay(col(tsCol)))
      .select(events.columns.toSeq.map(c => col(s"`$c`")) :+ inline(matched): _*)
      .withColumn("in_range", inRange(col(valueCol), col("lower_bound"), col("upper_bound")))
  }

  /** In range ⇔ lower <= value <= upper, as the reference's "true"/"false"
    * string. */
  private def inRange(value: Column, lower: Column, upper: Column): Column =
    when(value.between(lower, upper), "true").otherwise("false")

  /** S6 — KTable semantics: latest value per key, ordered by (orderCol,
    * tieCol). `max_by(struct(payload), struct(order, tie))` is a single
    * aggregation with map-side partial combine — no window shuffle of the
    * full row set; the exchange carries one row per key per map partition.
    * (Struct-valued buffers are not hash-aggregable, so Spark plans
    * SortAggregate: per-partition sorts, but the shuffle volume — the
    * thing that matters at 100 TB — is still one row per key per mapper.)
    */
  def latestByKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  tieCol: String): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    val ord = struct(col(orderCol), col(tieCol))
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, ord).as("__latest"))
      .select(df.columns.map(c => col(s"__latest.$c")): _*)
  }

  /** Ingest-side explode of the API envelope
    * (DexcomEgvsResponse.egvs: ARRAY<STRUCT>, DexcomEgvsResponse.java:8). */
  def explodeEgvs(responses: DataFrame): DataFrame =
    responses.select(explode(col("egvs")).as("egv")).select("egv.*")
}
