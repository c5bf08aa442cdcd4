package graft

import java.sql.Timestamp

import graft.plans.{GraftExtensions, RewriteVectorHofs}
import graft.streaming.StatefulOps
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The graft kernels are mandatory and every operator has one code path:
  * [[GraftExtensions.install]] makes a session built WITHOUT the
  * extension run the same kernels, and no dispatch on function presence
  * or interpreted `*Hof` fallback may reappear in main. The suite session
  * comes from [[Sessions.local]], which installs; the extension class is
  * exercised on purpose here, on a fresh session of its own.
  */
class KernelInstallSpec extends SparkSuite {

  /** A fresh session on the shared SparkContext — plain, or with the
    * extension — built by hiding the suite's session from the builder and
    * restoring it afterwards.
    */
  private def withFreshSession[T](extension: Boolean)(body: SparkSession => T): T = {
    val suite = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val builder = SparkSession.builder()
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
      if (extension) builder.withExtensions(new GraftExtensions)
      val fresh = builder.getOrCreate()
      assert(fresh ne suite, "builder returned the suite session")
      body(fresh)
    } finally {
      SparkSession.setDefaultSession(suite)
      SparkSession.setActiveSession(suite)
    }
  }

  private def rows(s: SparkSession, name: String): Seq[Row] =
    SparkEntry.queries(name)(s, sf()).collect().toSeq.sortBy(_.toString)

  test("install registers the kernels on a plain session exactly once") {
    withFreshSession(extension = false) { plain =>
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
    withFreshSession(extension = true) { ext =>
      GraftExtensions.install(ext)
      assert(!ext.experimental.extraOptimizations.contains(RewriteVectorHofs))
    }
    // the suite session is the factory's: kernels from install, not the extension
    assert(spark.experimental.extraOptimizations.count(_ eq RewriteVectorHofs) == 1)
    assert(spark.catalog.functionExists("graft_topk"))
  }

  test("SparkEntry queries on a plain session match the extension session") {
    val names = Seq("q65_heavy_hitters", "q92_stratified_sample", "q52_ann_lsh")
    val expected = withFreshSession(extension = true) { ext =>
      names.map(n => n -> rows(ext, n)).toMap
    }
    withFreshSession(extension = false) { plain =>
      names.foreach { n =>
        val got = rows(plain, n)
        assert(got.nonEmpty, s"$n returned no rows")
        assert(got == expected(n), s"$n differs on a plain session")
      }
    }
  }

  test("a StatefulOps kernel operator runs on a plain session") {
    withFreshSession(extension = false) { plain =>
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
    def sources(dir: String): Seq[(java.nio.file.Path, IndexedSeq[String])] = {
      val root = java.nio.file.Paths.get(dir)
      val files = java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
      assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
      files.map(f => f -> java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq)
    }
    // the lines of `def <name>`: its def line through the first closing
    // brace at the def's indentation
    def body(lines: IndexedSeq[String], name: String): Set[Int] =
      lines.indexWhere(_.contains(s"def $name")) match {
        case -1 => Set.empty
        case start =>
          val indent = lines(start).takeWhile(_ == ' ')
          (start to lines.indexWhere(_ == indent + "}", start)).toSet
      }
    val mainSources = sources("src/main/scala")
    val dispatch = mainSources.flatMap { case (f, lines) =>
      val allowed = body(lines, "install(")
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("functionExists") && !allowed(i) =>
          s"$f:${i + 1}: $l"
        case (l, i) if "def\\s+\\w+Hof\\b".r.findFirstIn(l).isDefined =>
          s"$f:${i + 1}: $l"
      }
    }
    // one session factory: a builder only in Sessions and in this spec's
    // fresh-session helper
    val builders = (mainSources ++ sources("src/test/scala")).flatMap { case (f, lines) =>
      val allowed = f.getFileName.toString match {
        case "Sessions.scala" => lines.indices.toSet
        case "KernelInstallSpec.scala" => body(lines, "withFreshSession[")
        case _ => Set.empty[Int]
      }
      lines.zipWithIndex.collect {
        case (l, i) if """SparkSession\.builder""".r.findFirstIn(l).isDefined && !allowed(i) =>
          s"$f:${i + 1}: $l"
      }
    }
    val offenders = dispatch ++ builders
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
