package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** The on-disk recurrence contract of the incremental dedup gates
  * (SURVEY §2.3 P8/P17), proven against REAL bucketed tables rather
  * than asserted: the corpus-side artifact — q97's sha2 digest set,
  * q106's (band, bsig) band index — written once via
  * [[graft.sinks.CorpusSink.writeBucketed]], and every recurring batch
  * gate joins it with NO Exchange and NO Sort on the corpus side (the
  * bucketed, bucket-sorted scan already satisfies the join's required
  * distribution and ordering). At 100 TB this is the difference between
  * a per-batch corpus SHUFFLE (re-partitioning terabytes for every
  * incoming batch) and a per-batch corpus SCAN; ScaleProbe
  * `--bucketgate` measures the growth rate. AQE is disabled inside the
  * tests so the physical tree is directly traversable — the property
  * (bucketed scan satisfies the join distribution) is planning-time and
  * unaffected; the merge hint pins SMJ because at fixture scale AQE/
  * planner would broadcast the small index and hide the property under
  * test.
  */
class BucketedGateSpec extends SparkSuite {

  private def withoutAqe[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // Spark 3.0+ stopped reporting bucket sortBy order from scans by
    // default (a bucket split over several files has no global order).
    // writeBucketed guarantees ONE file per bucket, exactly the case
    // this conf re-enables sorted-scan awareness for — with it the
    // corpus side sheds its Sort too, not just its Exchange.
    val prevOrd = spark.conf
      .get("spark.sql.legacy.bucketedTableScan.outputOrdering")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try f finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevOrd)
    }
  }

  /** The SMJ whose RIGHT (corpus-artifact) side joins on `key`. */
  private def smjOn(df: DataFrame, key: String): SortMergeJoinExec = {
    val plan = df.queryExecution.executedPlan
    plan.collectFirst {
      case j: SortMergeJoinExec
          if j.rightKeys.exists(_.toString.startsWith(key + "#")) => j
    }.getOrElse(fail(s"no SortMergeJoin on $key in:\n$plan"))
  }

  private def assertCorpusSideExchangeFree(j: SortMergeJoinExec): Unit = {
    val corpus = j.right
    val ex = corpus.collect { case e: ShuffleExchangeExec => e }
    assert(ex.isEmpty, s"corpus side of the recurring join re-shuffles:\n$corpus")
    val sorts = corpus.collect { case s: SortExec => s }
    assert(sorts.isEmpty,
      s"corpus side re-sorts (bucket sortBy metadata not honored — " +
        s"likely >1 file per bucket):\n$corpus")
    assert(corpus.toString.contains("Bucketed: true"),
      s"corpus scan is not bucketed:\n$corpus")
  }

  test("q97 digest gate against a bucketed digest table: corpus side has no exchange and no sort") {
    val docs = Tables(spark, sf(), "documents")
    val existingInline = docs.filter(col("doc_id") % 10 < 8)
      .select(sha2(col("text"), 256).as("h")).distinct()
    val dir = tmpDir("bucketed_digests")
    try {
      sinks.CorpusSink.writeBucketed(
        existingInline, "bg_digests", s"$dir/t", Seq("h"), 8)
      withoutAqe {
        val batch = docs.filter(col("doc_id") % 10 >= 8)
        val gate = queries.Pipeline.exactDedupGate(
          batch, spark.table("bg_digests").hint("merge"))
        assertCorpusSideExchangeFree(smjOn(gate, "h"))
        // and the bucketed recurrence returns exactly the inline result
        val inline = queries.Pipeline.exactDedupGate(batch, existingInline)
        assert(gate.collect().map(_.toSeq).toSet ==
          inline.collect().map(_.toSeq).toSet)
        assert(gate.count() > 0)
      }
    } finally spark.sql("DROP TABLE IF EXISTS bg_digests")
  }

  test("q106 fuzzy gate against a bucketed band index: corpus side has no exchange and no sort") {
    val docs = Tables(spark, sf(), "documents")
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val idxInline = queries.Dedup.bandIndex(corpus, queries.Dedup.BucketCap)
    val dir = tmpDir("bucketed_bands")
    try {
      sinks.CorpusSink.writeBucketed(
        idxInline, "bg_bands", s"$dir/t", Seq("band", "bsig"), 8)
      withoutAqe {
        val batch = docs.filter(col("doc_id") % 10 >= 8)
        val gate = queries.Dedup.fuzzyProbe(
          batch, spark.table("bg_bands").hint("merge"))
        assertCorpusSideExchangeFree(smjOn(gate, "band"))
        val inline = queries.Dedup.fuzzyProbe(batch, idxInline)
        assert(gate.collect().map(_.toSeq).toSet ==
          inline.collect().map(_.toSeq).toSet)
        assert(gate.count() > 0)
      }
    } finally spark.sql("DROP TABLE IF EXISTS bg_bands")
  }
}
