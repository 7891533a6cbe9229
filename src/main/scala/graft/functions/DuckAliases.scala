package graft.functions

import org.apache.spark.sql.SparkSession

/** SQL-name parity with the DuckDB function surface the reference's tests
  * exercise (ref: /root/reference/test/sql/list_type_support.test:96-133 —
  * `len(list)`, `list[i]` 1-based, `list_contains`, `unnest`).
  *
  * Spark equivalents exist under different names (`size`, `element_at`,
  * `array_contains`, `explode`); we register thin aliases in the session
  * FunctionRegistry so the reference's SQL runs verbatim. `element_at` is
  * already 1-based, matching DuckDB list indexing.
  * `register` is the functions-only entry point for a session built
  * without [[graft.GraftExtensions]].
  */
object DuckAliases {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.GraftExtensions.functions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
