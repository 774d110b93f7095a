package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark implementation over a
  * testdata directory, and the DuckDB SQL the oracle gate runs for it.
  * The SQL is built on the first read of `oracle`, so looking a query up
  * to run it builds no SQL.
  */
final class QuerySpec(val name: String,
                      val run: (SparkSession, String) => DataFrame,
                      sql: => String) {
  lazy val oracle: String = sql
}

/** A family of registered queries. Each `query(...)` call, written right
  * after the query's implementation, declares that query once and adds
  * it to `specs` in declaration order.
  */
abstract class QueryFamily {
  private val declared = Vector.newBuilder[QuerySpec]

  protected def query(name: String, run: (SparkSession, String) => DataFrame,
                      oracle: => String): QuerySpec = {
    val spec = new QuerySpec(name, run, oracle)
    declared += spec
    spec
  }

  /** This family's queries; read only after the family object is built. */
  lazy val specs: Seq[QuerySpec] = declared.result()
}
