package graft

import java.sql.Timestamp

import graft.plans.{GraftExtensions, RewriteVectorHofs}
import graft.streaming.StatefulOps
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The graft kernels are mandatory and every operator has one code path:
  * [[GraftExtensions.install]] makes a session built WITHOUT the
  * extension run the same kernels, and no dispatch on function presence
  * or interpreted `*Hof` fallback may reappear in main.
  */
class KernelInstallSpec extends SparkSuite {

  /** A fresh session on the shared SparkContext with no extension, built
    * by hiding the suite's session from the builder and restoring it
    * afterwards.
    */
  private def withPlainSession[T](body: SparkSession => T): T = {
    val ext = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val plain = SparkSession.builder()
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      assert(plain ne ext, "builder returned the extension session")
      body(plain)
    } finally {
      SparkSession.setDefaultSession(ext)
      SparkSession.setActiveSession(ext)
    }
  }

  private def rows(s: SparkSession, name: String): Seq[Row] =
    SparkEntry.queries(name)(s, sf()).collect().toSeq.sortBy(_.toString)

  test("install registers the kernels on a plain session exactly once") {
    withPlainSession { plain =>
      assert(!plain.catalog.functionExists("graft_topk"))
      GraftExtensions.install(plain)
      GraftExtensions.install(plain)
      assert(plain.catalog.functionExists("graft_topk"))
      assert(plain.experimental.extraOptimizations.count(_ eq RewriteVectorHofs) == 1)
      val top = plain.sql(
        "SELECT graft_topk(CAST(id AS DOUBLE), id, 2) AS t FROM range(5)").head()
      assert(top.getSeq[Row](0).map(_.getLong(1)) == Seq(4L, 3L))
    }
    // the extension session already has everything: install is a no-op
    GraftExtensions.install(spark)
    assert(!spark.experimental.extraOptimizations.contains(RewriteVectorHofs))
  }

  test("SparkEntry queries on a plain session match the extension session") {
    val names = Seq("q65_heavy_hitters", "q92_stratified_sample", "q52_ann_lsh")
    val expected = names.map(n => n -> rows(spark, n)).toMap
    withPlainSession { plain =>
      names.foreach { n =>
        val got = rows(plain, n)
        assert(got.nonEmpty, s"$n returned no rows")
        assert(got == expected(n), s"$n differs on a plain session")
      }
    }
  }

  test("a StatefulOps kernel operator runs on a plain session") {
    withPlainSession { plain =>
      implicit val sqlCtx = plain.sqlContext
      import plain.implicits._
      val in = MemoryStream[(Long, String, Timestamp)]
      val deduped = StatefulOps.simhashDedup(
        in.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "10 seconds")
      val q = deduped.writeStream.format("memory").queryName("plain_simhash")
        .outputMode("append").start()
      try {
        val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
        in.addData(
          (1L, "alpha beta gamma delta", t0),
          (2L, "delta gamma beta alpha", t0), // word-permuted: same SimHash
          (3L, "entirely different words here", t0))
        q.processAllAvailable()
        val ids = plain.table("plain_simhash").select("doc_id").as[Long]
          .collect().toSet
        assert(ids.size == 2 && ids.contains(3L), s"$ids")
      } finally q.stop()
    }
  }

  test("main has one code path: no functionExists dispatch, no *Hof forms") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val offenders = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      // the body of GraftExtensions.install: its def line through the
      // first closing brace at the def's indentation
      val allowed: Set[Int] = lines.indexWhere(_.contains("def install(")) match {
        case -1 => Set.empty
        case start =>
          val indent = lines(start).takeWhile(_ == ' ')
          val end = lines.indexWhere(_ == indent + "}", start)
          (start to end).toSet
      }
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("functionExists") && !allowed(i) =>
          s"$f:${i + 1}: $l"
        case (l, i) if "def\\s+\\w+Hof\\b".r.findFirstIn(l).isDefined =>
          s"$f:${i + 1}: $l"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
