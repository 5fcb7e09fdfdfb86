package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The SURVEY §2C relational transform library: pure DataFrame => DataFrame
  * functions, no state, no driver-side row iteration. Each maps 1:1 to a
  * reference behavior (file:line cited per function into /root/reference/).
  */
object RelationalOps {

  /** F1: projection + type cast + rename (industry_code_glue_job.py:35-47).
    * `casts` maps column name -> target Spark type name; `renames` old->new. */
  def conform(df: DataFrame, keep: Seq[String],
              casts: Map[String, String] = Map.empty,
              renames: Map[String, String] = Map.empty): DataFrame = {
    val projected = df.select(keep.map { c =>
      val cast = casts.get(c).map(t => col(c).cast(t)).getOrElse(col(c))
      cast.as(renames.getOrElse(c, c))
    }: _*)
    projected
  }

  /** F1 extended with a QUARANTINE channel (the Delta-Live-Tables
    * "expectations" shape a real bronze→silver conform needs): every row
    * is kept, tagged `is_valid` plus a deterministic `reject_reasons`
    * string — `cast_failed:<col>` when a non-null input fails its
    * `try_cast`, `null:<col>` when a required column is null — so ONE scan
    * feeds both the clean table (`is_valid`) and the quarantine sink
    * (`!is_valid`, reasons attached for triage). Reasons concatenate in a
    * fixed order (cast columns in `keep` order, then `required`), so the
    * channel is exactly reproducible cross-engine. Conformed columns carry
    * the try_cast result (null where failed); scan-local, codegen'd, no
    * shuffle — the split itself costs nothing at 100 TB. */
  def conformWithQuarantine(df: DataFrame, keep: Seq[String],
                            casts: Map[String, String],
                            required: Seq[String] = Seq.empty,
                            renames: Map[String, String] = Map.empty)
      : DataFrame = {
    val reasonCols =
      keep.filter(casts.contains).map { c =>
        when(col(c).isNotNull &&
            expr(s"try_cast($c AS ${casts(c)})").isNull,
          lit(s"cast_failed:$c"))
      } ++ required.map(c => when(col(c).isNull, lit(s"null:$c")))
    val conformed = keep.map { c =>
      casts.get(c).map(t => expr(s"try_cast($c AS $t)")).getOrElse(col(c))
        .as(renames.getOrElse(c, c))
    }
    df.select(conformed :+
        concat_ws(",", array_compact(array(reasonCols: _*))).as("reject_reasons"): _*)
      .withColumn("is_valid", col("reject_reasons") === "")
  }

  /** F4: unpivot wide -> long (yfinance_operator.py:110-113, pandas .stack).
    * Spark-native `unpivot` — stays in whole-stage codegen, no shuffle. */
  def unpivotWide(df: DataFrame, ids: Seq[String], values: Seq[String],
                  varName: String, valName: String): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valName)

  /** F5: anti-join completeness check (yfinance_operator.py:118-127):
    * requested keys with no fetched row. Broadcast-friendly: the requested
    * side is usually a small dim — Catalyst broadcasts it automatically. */
  def missingKeys(requested: DataFrame, fetched: DataFrame,
                  keys: Seq[String]): DataFrame =
    requested.join(fetched, keys, "left_anti")

  /** F8: derived column from string slicing — `matures_in` =
    * last-4-digit year minus the 4 digits 5 back (bonds extractors.py:83). */
  def maturesIn(key: Column): Column =
    (substring(key, -4, 4).cast("int") - substring(key, -9, 4).cast("int"))
      .as("matures_in")

  /** F11: bucket rows by code length ∈ {2,4,6,8} -> GICS category
    * (industry_code extractors.py:85-97). */
  def bucketByCodeLength(code: Column): Column =
    when(length(code) === 2, "sector")
      .when(length(code) === 4, "industry_group")
      .when(length(code) === 6, "industry")
      .when(length(code) === 8, "sub_industry")
      .otherwise("unknown")

  /** F13: zero-fill for missing series points (bonds extractors.py:62-75):
    * left-join the expected key grid to actuals, coalesce value columns to 0. */
  def zeroFill(expected: DataFrame, actual: DataFrame, keys: Seq[String],
               valueCols: Seq[String]): DataFrame = {
    val joined = expected.join(actual, keys, "left_outer")
    valueCols.foldLeft(joined) { (df, c) =>
      val dt = df.schema(c).dataType
      df.withColumn(c, coalesce(col(c), lit(0).cast(dt)))
    }
  }

  /** F14: key normalization (bonds_meta extractors.py:43-49):
    * strip/replace-space-with-underscore/lower. */
  def normalizeKey(c: Column): Column =
    lower(regexp_replace(trim(c), " ", "_"))

  /** F16: literal tagging (index/msci/coin/bonds extractors). */
  def tagLit(df: DataFrame, name: String, value: String): DataFrame =
    df.withColumn(name, lit(value))

  /** F9: group-by-day regroup (bonds extractors.py:53-95) — a `ymd` column
    * derived from the leading 10 chars of an ISO timestamp string; the
    * "grouping" is the shuffle implied by a partitioned write on it. */
  def withYmd(df: DataFrame, tsStringCol: String): DataFrame =
    df.withColumn("ymd", substring(col(tsStringCol), 1, 10))

  /** SCD Type-2 history build from an ordered change log: collapse runs
    * of identical attribute values per key (null-safe compare), then
    * `effective_to` = the order value of the NEXT change (half-open
    * interval; NULL = current row). `orderCol` itself is the
    * effective-from. Both window passes share one (key) shuffle and one
    * (order, tie) sort — Spark reuses the exchange for the second pass.
    * Partitioned by key, so no global window at any scale. */
  def scd2(df: DataFrame, keyCol: String, orderCol: String, tieCol: String,
           attrCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val attrs = struct(attrCols.map(col): _*)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol), col(tieCol))
    df.withColumn("_prev_attrs", lag(attrs, 1).over(w))
      .filter(col("_prev_attrs").isNull || !(col("_prev_attrs") <=> attrs))
      .drop("_prev_attrs")
      .withColumn("effective_to", lead(col(orderCol), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
  }

  /** CDC apply: collapse a change log (insert/update/delete ops per key)
    * to CURRENT TABLE STATE — the companion to [[scd2]] (full history)
    * and the semantics of a warehouse MERGE fed by a CDC feed. Last
    * writer wins per key under (orderCol, tieCol); a key whose latest op
    * is `deleteOp` is a tombstone and drops out entirely (even if
    * re-inserted EARLIER — only the latest op counts; a later re-insert
    * resurrects it, which is exactly Debezium-snapshot semantics). One
    * shuffle on the key, bounded per-key window state — MERGE-at-scale
    * shape, no join against the target needed when the log is complete. */
  def applyCdc(changes: DataFrame, keyCol: String, orderCol: String,
               tieCol: String, opCol: String,
               deleteOp: String = "D"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).desc, col(tieCol).desc)
    changes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col(opCol) =!= deleteOp)
      .drop("_rn")
  }

  /** CDC incremental upsert: fold one micro-batch of a change log into
    * the CURRENT STATE maintained by [[applyCdc]] — the streaming MERGE.
    * State rows are themselves the latest surviving ops (they keep
    * orderCol/tieCol/opCol), so the merge re-collapses (touched state ∪
    * batch) with the same last-writer-wins rule: a newer batch op
    * replaces the state row, a delete tombstones it, and a key whose
    * only ops are older than the state row is a no-op. Same in-order
    * contract as [[scd2UpsertBatch]] (per key, batches arrive in
    * nondecreasing (orderCol, tieCol) order).
    *
    * Scale posture: the micro-batch's key set is broadcast into a
    * semi/anti join pair — the state table is never shuffled, and only
    * touched keys pay the window re-collapse. */
  def cdcUpsertBatch(state: DataFrame, batch: DataFrame, keyCol: String,
                     orderCol: String, tieCol: String, opCol: String,
                     deleteOp: String = "D"): DataFrame = {
    val cols = state.columns.map(col)
    val keys = batch.select(col(keyCol)).distinct()
    val touched = state.join(broadcast(keys), Seq(keyCol), "left_semi")
    val untouched = state.join(broadcast(keys), Seq(keyCol), "left_anti")
    val merged = applyCdc(
      touched.select(cols: _*).unionByName(batch.select(cols: _*)),
      keyCol, orderCol, tieCol, opCol, deleteOp)
    untouched.unionByName(merged)
  }

  /** SCD2 incremental upsert: fold one micro-batch of change rows into an
    * existing history built by `scd2`. History segments ARE the collapsed
    * change log (`orderCol` is each segment's effective-from), so the
    * merge re-runs `scd2` over (existing segments ∪ new rows) for the
    * batch's keys only — collapsing already-collapsed runs is a no-op;
    * new rows extend, close, or absorb into the current segment exactly as
    * the full batch build would — while untouched keys pass through.
    * Contract: per key, changes arrive across batches in nondecreasing
    * (orderCol, tieCol) order (the CDC-log assumption — a row absorbed
    * into a run cannot be resurrected by a later out-of-order insert
    * between its neighbors). At scale one micro-batch touches few keys,
    * so the key side is explicitly broadcast into both the semi and anti
    * join — the history table is never shuffled. */
  def scd2UpsertBatch(history: DataFrame, batch: DataFrame, keyCol: String,
                      orderCol: String, tieCol: String,
                      attrCols: Seq[String]): DataFrame = {
    val logCols = (Seq(keyCol, orderCol, tieCol) ++ attrCols).map(col)
    val keys = batch.select(col(keyCol)).distinct()
    val touched = history.join(broadcast(keys), Seq(keyCol), "left_semi")
    val untouched = history.join(broadcast(keys), Seq(keyCol), "left_anti")
    val merged = scd2(
      touched.select(logCols: _*).unionByName(batch.select(logCols: _*)),
      keyCol, orderCol, tieCol, attrCols)
    untouched.unionByName(merged)
  }

  /** Snapshot reconciliation: classify every key of two table versions as
    * `added` / `removed` / `changed` (unchanged keys drop out), with the
    * null-safe list of differing columns. The data-migration acceptance
    * check: "what did the new pipeline version change?".
    *
    * One full-outer sort-merge join on the key — each side shuffles once,
    * comparisons are per-row expressions (null-safe `<=>`), so the op is
    * two scans + one exchange pair at any scale. `changed_cols` is a
    * comma-joined string (portable to oracle comparison). */
  def diffByKey(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                compareCols: Seq[String]): DataFrame = {
    val keyed = keyCols.map(col)
    val av = a.select((keyed :+ struct(compareCols.map(col): _*).as("__a")): _*)
    val bv = b.select((keyed :+ struct(compareCols.map(col): _*).as("__b")): _*)
    val diffs = concat(compareCols.map { c =>
      when(!(col(s"__a.$c") <=> col(s"__b.$c")), array(lit(c)))
        .otherwise(array().cast("array<string>"))
    }: _*)
    av.join(bv, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("__a").isNull, "added")
          .when(col("__b").isNull, "removed")
          .when(!(col("__a") <=> col("__b")), "changed"))
      .filter(col("change_type").isNotNull)
      .withColumn("changed_cols",
        when(col("change_type") === "changed", array_join(diffs, ",")))
      .drop("__a", "__b")
  }
}
