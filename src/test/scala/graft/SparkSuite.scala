package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one lazy [[Sessions.local]] session per suite, small
  * shuffle fan-out for local test data.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4, 8)
    // Spark's default aggregation fallback, not the factory's 131072: on
    // 4 cores that hash regime made ScaleExponentSpec's q45 256x point
    // ~0.9 s slower (t256 4.75-5.16 s vs 3.90-4.06 s) and its 1.45
    // exponent pin fail 1 run in 5
    s.conf.unset("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    s
  }

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }
}
