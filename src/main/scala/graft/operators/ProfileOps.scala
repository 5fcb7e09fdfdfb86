package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [EXT] Data-profiling operator: one pass over the table computing
  * per-column null counts, distincts (exact or HLL sketch), min/max —
  * the pre-flight check of every large-scale training-data run.
  * One aggregate, all columns at once: a single scan + single (tiny)
  * shuffle regardless of column count.
  */
object ProfileOps {

  /** Wide one-row profile: for each column — nulls, distinct, min, max
    * (stringified for heterogeneous output). `approx` switches distinct
    * counting to HyperLogLog++ (rsd 5%), the only sane choice at 100 TB. */
  def profile(df: DataFrame, columns: Seq[String], approx: Boolean = false)
      : DataFrame = {
    val aggs = columns.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        (if (approx) approx_count_distinct(col(c))
         else countDistinct(col(c))).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Long-layout profile (column, nulls, n_distinct, min, max) — the
    * reporting shape; built by unpivoting the wide one-row result on the
    * driver side (the wide row is O(columns), not data-sized). */
  def profileLong(df: DataFrame, columns: Seq[String], approx: Boolean = false)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val row = profile(df, columns, approx).head()
    columns.map { c =>
      (c,
        row.getAs[Long](s"${c}__nulls"),
        row.getAs[Long](s"${c}__distinct"),
        row.getAs[String](s"${c}__min"),
        row.getAs[String](s"${c}__max"))
    }.toDF("column", "nulls", "n_distinct", "min", "max")
  }

  /** Exact interpolated per-group percentiles for the HIGH-CARDINALITY
    * regime the `percentile` aggregate cannot survive. The aggregate's
    * final merge materializes and sorts a whole group's value→count map
    * in ONE task (`Percentile.getPercentile` — single-threaded O(D log D)
    * memory and time per group, D = distinct values): past ~10⁷ distinct
    * values per group that task is the job's OOM. This form's per-task
    * state never exceeds ~D/P:
    *
    *   1. hash-agg to per-(group, value) counts — distributed;
    *   2. range-repartition the D count rows by (group, value) and
    *      locally cumulative-sum per group inside each sorted partition
    *      (one mapPartitions pass, O(D/P) rows per task, per-task state =
    *      one running counter);
    *   3. per-(partition, group) subtotal prefix offsets — a P×G-row
    *      table, windowed and broadcast back;
    *   4. global rank span [lo, hi] per distinct value = offset + local
    *      cumsum; straddling-rank lookup per requested percentile.
    *
    * No stage sorts or holds a whole group in one task — the r13-watch
    * windowed form (`Window.partitionBy(group)`) put each group in a
    * single partition and was quietly the same scale ceiling as the
    * aggregate; this replaces it (round 14, measured in NOTES_r14.md).
    *
    * The interpolation replicates
    * `catalyst.expressions.aggregate.Percentile.getPercentile` op for op
    * — position = p·(n−1) in double, floor/ceil straddling ranks,
    * `(hi−pos)·vlo + (pos−lo)·vhi` — INCLUDING its two special cases
    * (integral position; equal straddling values, where the two-product
    * form can differ 1 ulp from the bare value), so results are
    * bit-identical to the aggregate (PropertySpec percentile identity on
    * random multisets with ties). Values pass through as double, exactly
    * as the aggregate's eval does. Returns one row per group:
    * (groupCol, <name per requested percentile>), unrounded.
    *
    * Constants note (NOTES_r14.md, min-of-3, one JVM): at sf0.1/1/10 on
    * the synthetic corpus — whose distinct-value count does NOT grow
    * with SF — the plain aggregate wins (1.06 s vs the old windowed
    * form's 1.32 s at sf0.1), so `stats_percentiles` deploys the
    * aggregate below the cardinality ceiling and this op above it. */
  def exactPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                       pcts: Seq[(Double, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val spark = df.sparkSession
    val counts = df.groupBy(col(groupCol), col(valueCol).cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // local per-group cumulative counts inside range-sorted partitions:
    // groups are contiguous after the sort, so one running counter and a
    // group-change reset suffice — O(1) state per task
    val ranged = counts.repartitionByRange(parts, col(groupCol), col("v"))
      .sortWithinPartitions(col(groupCol), col("v"))
    val cumSchema = ranged.schema.add("pid", IntegerType).add("local_cum", LongType)
    val withCum = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var curGroup: Any = null
      var running = 0L
      it.map { r =>
        val g = r.get(0)
        if (g != curGroup) { curGroup = g; running = 0L }
        running += r.getLong(2)
        org.apache.spark.sql.Row(g, r.get(1), r.getLong(2), pid, running)
      }
    }(org.apache.spark.sql.Encoders.row(cumSchema))
      // pid is only meaningful for ONE materialization: a re-executed
      // range exchange may sample different boundaries, and the offsets
      // are keyed by (pid, group) — pin the lineage so the subtotal pass
      // and the rank join see the same partitioning
      .transform(graft.core.Lineage.cut(_))

    // P×G-row subtotal table: prefix offset of each (partition, group)
    // slice and the group total — tiny, windowed anywhere, broadcast back
    val totals = withCum.groupBy(col("pid"), col(groupCol))
      .agg(max(col("local_cum")).as("part_total"))
    val byPid = Window.partitionBy(col(groupCol)).orderBy(col("pid"))
    val whole = Window.partitionBy(col(groupCol))
    val offsets = totals
      .withColumn("offset", sum(col("part_total")).over(byPid) - col("part_total"))
      .withColumn("n", sum(col("part_total")).over(whole))
      .drop("part_total")

    val ranked = withCum
      .join(broadcast(offsets), Seq("pid", groupCol))
      .withColumn("hi", col("offset") + col("local_cum"))
      .withColumn("lo", col("hi") - col("cnt") + 1)
    val aggs = pcts.map { case (p, name) =>
      val pos = lit(p) * (col("n") - lit(1)) // double, as Percentile does
      val lower = floor(pos) + 1             // 1-based straddling ranks
      val higher = ceil(pos) + 1
      val vlo = max(when(col("lo") <= lower && lower <= col("hi"), col("v")))
      val vhi = max(when(col("lo") <= higher && higher <= col("hi"), col("v")))
      val interp = (ceil(pos) - pos) * vlo + (pos - floor(pos)) * vhi
      when(ceil(pos) === floor(pos) || vlo === vhi, vlo).otherwise(interp)
        .as(name)
    }
    ranked
      // n is functionally dependent on the group (one total per group);
      // grouping on it makes it referencable inside the rank math
      .groupBy(col(groupCol), col("n"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("n")
  }
}
