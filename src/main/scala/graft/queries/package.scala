package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A named query over the fixture tables in `sfDir` (TESTDATA.md). */
  type Query = (SparkSession, String) => DataFrame

  /** One declared query: its name, its Spark plan, and the DuckDB SQL
    * that replays the identical computation (column aliases matching the
    * plan's output exactly). The object that declares it is its family.
    */
  final case class Declared(name: String, plan: Query, oracleSql: String)
}
