package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, its plan over the parquet tables in a
  * scale-factor dir, and the DuckDB SQL that must return the same rows
  * on the same tables. The family object that declares it
  * (`RelationalQueries`, `ScriptQueries`, …) is its family;
  * `SparkEntry.all` concatenates the families.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
