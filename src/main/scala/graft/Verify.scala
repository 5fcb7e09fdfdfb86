package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // dev affordance: trailing args restrict the dump to named queries
    // (the driver passes exactly two and gets the full registry)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the thread count dominates large-SF dump time (an sf3 run at the
    // default 4 is ~6x slower than at 24) — say it loud in every log
    System.err.println(s"[verify] master=local[$cpus] " +
      "(SPARK_GRAFT_CPUS to change), sfDir=" + sfDir)
    new java.io.File(outDir).mkdirs()
    // GRAFT_ORACLE_ONLY=1 skips the parquet dumps and writes just the
    // oracle entries for the (sub)set — for backfilling oracle_sql.json
    // over result dirs a parallel/killed staged pass already produced
    // (assemble full-registry maps with scripts/merge_oracle.py).
    // only "1"/"true" enable (case-insensitive): =0/=false must NOT
    // silently skip every result dump
    val oracleOnly = sys.env.get("GRAFT_ORACLE_ONLY")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    if (oracleOnly) System.err.println("[verify] GRAFT_ORACLE_ONLY set — " +
      "skipping result dumps, writing oracle entries only")
    else SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // static twins plus the data-dependent ones (PQ codebook literals
    // etc.) evaluated against THIS sf dir — merged so the driver's DuckDB
    // compare treats them identically. Per-builder failures surface as
    // sentinel oracles (guaranteed FAIL rows in the correctness artifact,
    // never a silent coverage drop); anything thrown past that is a bug
    // in the merge itself and must crash Verify, not be swallowed.
    val dynamic = SparkEntry.dynamicOracleSql(spark, sfDir)
    // A subset re-dump into an existing full dump MERGES into the prior
    // oracle file instead of replacing it — overwriting with the filtered
    // map silently downgrades every other query to a rows-only check.
    // The prior file is PARSED into a map and subset keys overwritten in
    // place (never string-concatenated: duplicate keys depend on
    // last-wins readers, grow the file on every rerun, and let a
    // malformed prior propagate silently — a malformed prior crashes
    // here instead).
    val oraclePath = Paths.get(s"$outDir/oracle_sql.json")
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (only.nonEmpty && Files.exists(oraclePath)) {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(oraclePath))
      require(node.isObject, s"$oraclePath: prior oracle dump is not a JSON object")
      node.fields().forEachRemaining(e => merged += e.getKey -> e.getValue.asText())
    }
    (SparkEntry.oracleSql ++ dynamic)
      .filter { case (k, _) => only.isEmpty || only(k) }
      .foreach { case (k, v) => merged += k -> v }
    Files.writeString(oraclePath,
      merged.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
