package graft

import graft.plans.GraftExtensions
import graft.queries.Catalog
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real catalog lives in [[graft.queries.Catalog]]; this object is the
  * stable facade the driver calls.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftExtensions.install(spark)
    Catalog.all("q01_agg").build(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each builder
    * installs the graft kernels first, so any session works.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map { case (name, q) =>
      name -> { (s: SparkSession, d: String) =>
        GraftExtensions.install(s)
        q.build(s, d)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check.
    */
  def oracleSql: Map[String, String] =
    Catalog.all.collect { case (name, q) if q.oracle.isDefined => name -> q.oracle.get }
}
