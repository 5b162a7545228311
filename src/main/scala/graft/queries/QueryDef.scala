package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: a named builder and the DuckDB-equivalent
  * oracle that gates its result. Queries are grouped by family in this
  * package; [[graft.SparkEntry]] registers every family.
  *
  * Conventions shared by every query/oracle pair (driver hash-compares
  * after sorting columns by name):
  *  - identical column aliases on both sides;
  *  - deterministic result sets: every window/limit has a total tiebreak
  *    order, double outputs are rounded, temporal outputs are formatted
  *    to strings (removes timestamp-encoding ambiguity between engines);
  *  - cross-engine hashing uses the first 12 hex digits of md5 (exact in
  *    48 bits — reproducible bit-for-bit in DuckDB).
  *
  * @param name      `qNN_snake_case`, unique across all families
  * @param build     builds the result over the parquet tables of a
  *                  scale-factor directory
  * @param oracleSql DuckDB SQL over the same tables, expected to return
  *                  the same rows
  * @param eagerSink the BUILDER executes side effects — the sink IS the
  *                  query's subject, so constructing the DataFrame runs
  *                  real DML (TxLog merges/deletes) before returning the
  *                  lazy read-back plan. Runtime consumers (Verify, Bench)
  *                  pay that by design; PLAN-ONLY consumers (PlanAudit,
  *                  ContractSpec's all-query plan gates) must consult
  *                  [[graft.SparkEntry.eagerSinks]] and skip, so that
  *                  "build every plan" is side-effect-free. The skipped
  *                  queries' scale shape is audited by their own specs
  *                  (TxLogSpec races the commit path; the read-back plan
  *                  is a plain parquet scan + keyed agg). */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    eagerSink: Boolean = false)
