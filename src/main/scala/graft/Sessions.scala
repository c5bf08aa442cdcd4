package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one session factory: every main, spec and diagnostic builds its
  * session here, so all run under the same settings and get the kernels
  * through [[GraftExtensions.install]].
  */
object Sessions {

  /** `cpus` local cores (a `spark.master` system property, e.g. a
    * deployment's cluster URL, overrides them), `partitions` shuffle
    * partitions. */
  def local(cpus: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      // ObjectHashAggregateExec (every collectCapped/TypedImperative
      // posting-list build: q41/q43/q44/q45) falls back to SORT-based
      // aggregation after only 128 distinct keys per task (Spark
      // default) — i.e. the whole exploded shingle stream gets sorted
      // twice. 128k keys/task × small capped buffers is ~tens of MB:
      // keep the hash regime at our scale, keep the fallback as the
      // OOM backstop beyond it.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }
}
