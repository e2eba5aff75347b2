package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * pivot → totals both axes → percentage view (the reference's canonical
    * pipeline, readme.md:27). */
  def entry(spark: SparkSession): DataFrame =
    Queries.all("q10_pct_grand")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2, plus the
    * training-data-pipeline extensions (ExtQueries). The callers build
    * their own sessions, with or without the extension, so each entry wires
    * its session ([[GraftExtensions.register]]) before it runs. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Queries.all ++ ExtQueries.all).map { case (name, q) =>
      name -> { (spark: SparkSession, dir: String) =>
        GraftExtensions.register(spark)
        q(spark, dir)
      }
    }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.oracle ++ ExtQueries.oracle ++ ExtQueries.dynamicOracle
}
