package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: a Spark implementation plus (when
  * SQL-expressible) a DuckDB oracle twin producing identical column names,
  * types, and values (doubles pre-rounded on both sides so hash comparison
  * is stable).
  *
  * `oracleFor` is the DATA-DEPENDENT oracle channel: some twins must embed
  * values that only exist after looking at the data dir (e.g. the seeded
  * PQ codebook fits serialized as literal tables). Verify evaluates these
  * against its sf dir and merges them into `oracle_sql.json`, so the
  * driver's DuckDB compare sees a full rows+schema+hash oracle; the static
  * `SparkEntry.oracleSql` map carries only the dir-independent twins.
  *
  * `gate` marks verification-gate queries (in-plan invariant checks like
  * sim_pq_invariants, whose cost is the deliberate brute-force identity
  * check, not a deployed search path): Bench reports them in a separate
  * subtotal so the deployed subtotal reflects what a user would run.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    oracleFor: Option[(SparkSession, String) => String] = None,
    gate: Boolean = false)
