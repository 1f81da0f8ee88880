package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact per-group rank and running sums at any scale: the distributed
  * form of `row_number()` and running `sum(...)` windows partitioned by
  * `group` and ordered by `order`, without a window whose partition holds
  * a whole group.
  *
  *   1. Range-partition on the full (group, order) key and sort each
  *      partition by it. Every partition (a slice) is a contiguous run of
  *      the total order, bounded by rows/slices; the rows of one group
  *      inside one slice form one run.
  *   2. One pass over each sorted slice numbers the rows of each run and
  *      keeps its running sums. A run gets an id of (slice, index within
  *      the slice), so ordering runs by id is ordering them by the key.
  *   3. Per-run partials (row count, sums) get exclusive offsets and
  *      group totals from a window partitioned by group and ordered by
  *      run id. Only a slice boundary splits a group, so that window runs
  *      over at most slices + groups − 1 rows, never more than
  *      slices × groups.
  *   4. The offsets broadcast-join back on the run id: rank = local rank
  *      + offset, cum = local cum + offset.
  *
  * The slices are pinned once: the run frame (step 2) is lazily marked
  * by [[Materialize.lazily]], so the partials and the join read ONE slice
  * layout. RangePartitioner seeds its boundary sample from the RDD id,
  * and a second range exchange (exchange reuse off or defeated) could cut
  * other boundaries and misrank rows. The mark is lazy because the
  * partials' broadcast job materializes it anyway; an eager mark would
  * cost one more job.
  *
  * The operator suits few groups × many rows: the broadcast offsets hold
  * one row per run. Slice boundaries come from the range exchange's
  * SAMPLE of the key, so a pathological distribution can land uneven
  * slices; the result does not change (the key is unique, and the
  * offset algebra does not depend on where slices split), only the
  * largest slice's sort gets slower.
  * `spark.sql.execution.rangeExchange.sampleSizePerPartition` tightens
  * the bounds when that matters.
  *
  * @param order a strict total order within each group (end it in a
  *              unique tiebreak); slices split between any two rows
  * @param sums  non-null integral columns; their running sums are exact
  *              LONG adds
  * @return `df`'s columns plus `rank` (1-based within the group), `n`
  *         (the group's row count), and `cum_<s>` (inclusive running sum)
  *         and `total_<s>` for each `s` in `sums`
  */
object PrefixScan {
  private[graft] val Run = "__prefix_run"
  private val LocalRank = "__prefix_rank"
  private def localCum(s: String) = s"__prefix_cum_$s"

  def apply(df: DataFrame, group: Seq[String], order: Seq[Column], sums: Seq[String] = Nil): DataFrame = {
    val schema = df.schema
    sums.foreach { s =>
      require(
        Seq(LongType, IntegerType, ShortType, ByteType).contains(schema(s).dataType),
        s"PrefixScan sums must be integral: $s is ${schema(s).dataType}")
    }
    val keys = group.map(col) ++ order
    val runSchema = StructType(
      schema.fields ++ (Run +: LocalRank +: sums.map(localCum)).map(StructField(_, LongType, nullable = false)))
    val runs = df
      .repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .mapPartitions(scan(group.map(schema.fieldIndex).toArray, sums.map(schema.fieldIndex).toArray))(
        Encoders.row(runSchema))
      .transform(Materialize.lazily)
    val g = group.map(col)
    val byRun = Window.partitionBy(g: _*).orderBy(Run)
    val upTo = byRun.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = byRun.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // (per-run partial, its running value in the run frame, output names)
    val scans = (count(lit(1)), LocalRank, "rank", "n") +:
      sums.map(s => (sum(s), localCum(s), s"cum_$s", s"total_$s"))
    val parts = scans.map { case (part, _, cum, _) => part.as(cum) }
    val offsets = runs
      .groupBy(g :+ col(Run): _*)
      .agg(parts.head, parts.tail: _*)
      .select(col(Run) +: scans.flatMap { case (_, _, cum, total) =>
        Seq((sum(cum).over(upTo) - col(cum)).as(s"${cum}_off"), sum(cum).over(whole).as(total))
      }: _*)
    runs
      .join(broadcast(offsets), Run)
      .select(df.columns.toSeq.map(col) ++ scans.flatMap { case (_, local, cum, total) =>
        Seq((col(local) + col(s"${cum}_off")).as(cum), col(total))
      }: _*)
  }

  /** Step 2 over one sorted slice: appends the run id, the rank within
    * the run and the running sums within the run to every row.
    */
  private def scan(groupIdx: Array[Int], sumIdx: Array[Int])(rows: Iterator[Row]): Iterator[Row] = {
    val slice = TaskContext.getPartitionId().toLong << 32
    var run = -1L
    var key: Array[Any] = null
    var rank = 0L
    val cum = new Array[Long](sumIdx.length)
    rows.map { row =>
      if (key == null || groupIdx.indices.exists(j => key(j) != row.get(groupIdx(j)))) {
        key = groupIdx.map(row.get)
        run += 1
        rank = 0L
        java.util.Arrays.fill(cum, 0L)
      }
      rank += 1
      for (j <- sumIdx.indices) cum(j) = Math.addExact(cum(j), row.getAs[Number](sumIdx(j)).longValue)
      Row.fromSeq(row.toSeq ++ ((slice | run) +: rank +: cum.toSeq))
    }
  }
}
