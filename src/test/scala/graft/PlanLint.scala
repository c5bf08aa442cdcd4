package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The duplicate-subtree lint kernel (round-15 verdict item 2), enforced
  * by PlanSpec; its fact-scan counts are also what PlanDump records into
  * PLANS.md, so the pins and the record can never drift.
  *
  * The q228/q233 class: a corpus-sized join/aggregate subtree
  * referenced from two places in a query builds TWICE in the physical
  * plan (no ReusedExchange) — at 100 TB that doubles the dominant
  * fact-scan + exchange cost.
  */
object PlanLint {

  /** Fact-sized tables: the ones whose double-scan is a 100 TB outage.
    * region/nation/supplier/customer/part are dims here
    * (broadcast-class).
    */
  val FactTables: Seq[String] = Seq("lineitem", "orders", "events",
    "documents", "embeddings")

  /** Fact match anchored on the PATH COMPONENT, not a bare substring of
    * the full path (round-16 verdict #3). Two requirements pull in
    * opposite directions: a file that merely CONTAINS a fact name
    * (`fake_lineitem.parquet`, the old substring false positive) must
    * not trip the lint, while a renamed fact VARIANT
    * (`events_v2.parquet` — same corpus rescanned under a new fixture
    * name) must not dodge it. So: exact `<table>.parquet`, or
    * `<table>` followed by a `_`/`-`/`.` separator and still ending in
    * `.parquet`. Erring strict: a small fixture named like a fact
    * variant makes the lint conservative, never lax.
    */
  def isFactFile(name: String): Boolean =
    name.endsWith(".parquet") && FactTables.exists { t =>
      name == t + ".parquet" ||
        (name.startsWith(t) && name.length > t.length &&
          "_-.".contains(name.charAt(t.length)))
    }

  def scansFact(p: LogicalPlan): Boolean =
    p.collectLeaves().exists {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(rp => isFactFile(rp.getName))
          case _ => false
        }
      case _ => false
    }

  /** Which fact table (if any) a scanned file belongs to. */
  def factTableOf(fileName: String): Option[String] =
    FactTables.find(t => isFactFile(fileName) &&
      (fileName == t + ".parquet" || fileName.startsWith(t)))

  private def lastComponent(rootPaths: Seq[org.apache.hadoop.fs.Path]): Seq[String] =
    rootPaths.map(_.getName)

  /** Fact-table scans in a PHYSICAL plan (cache interiors), by file. */
  private def physScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        lastComponent(f.relation.location.rootPaths)
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Nil // a cache READ is free — the cache's own build is counted once
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        physScans(a.inputPlan)
    }.flatten

  /** Per-fact-table scan counts for an optimized logical plan,
    * descending into caches: each DISTINCT cache build is counted once
    * (however many times the cache is read), because that is the I/O a
    * 100 TB run actually pays. This is the round-16 verdict-#2 pin
    * kernel — PlanDump records the counts into PLANS.md and PlanSpec
    * asserts them, so a scan-count regression (the q228/q233 recompute
    * class and anything subtler) fails the suite.
    */
  def factScanCounts(lp: LogicalPlan): Map[String, Int] = {
    val seen = scala.collection.mutable.Set.empty[LogicalPlan]
    val files = lp.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            lastComponent(fs.location.rootPaths)
          case _ => Nil
        }
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        if (seen.add(imr.canonicalized.asInstanceOf[LogicalPlan]))
          physScans(imr.cachedPlan)
        else Nil
    }.flatten
    files.flatMap(factTableOf).groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Canonical one-line rendering of [[factScanCounts]] for PLANS.md
    * (`lineitem=2 orders=1`, tables sorted; `-` when no fact scan).
    */
  def renderScanCounts(counts: Map[String, Int]): String =
    if (counts.isEmpty) "-"
    else counts.toSeq.sortBy(_._1).map { case (t, n) => s"$t=$n" }.mkString(" ")

  def isHeavy(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p.exists {
      case _: Aggregate | _: Join | _: Window | _: Distinct => true
      case _ => false
    }
  }

  /** Identity under which two subtrees are "the same computation".
    * Column pruning rewrites an Aggregate's OUTPUT list per consumer
    * (one arm keeps (pk, sk, cost), the other just (pk, cost)), so
    * EVERY aggregate is keyed by (grouping, child) instead of full
    * canonical equality: two aggregates with the same grouping over the
    * same input are one pass — whether they kept different output
    * subsets (the q228 distinct class) or carry different aggregate
    * functions entirely (the q244 class: the histogram and its totals
    * frame should re-aggregate one materialization, or fuse into one
    * agg). Everything else must match exactly.
    */
  def dupKey(n: LogicalPlan): Any = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    n.canonicalized match {
      case a: Aggregate => ("agg", a.groupingExpressions, a.child)
      case other => other
    }
  }

  /** Maximal subtrees that occur ≥2 times (by [[dupKey]]) in the plan
    * and are heavy + fact-bearing. Top-down: a duplicated parent
    * subsumes its (necessarily duplicated) children.
    */
  def duplicatedFactSubtrees(lp: LogicalPlan): Seq[LogicalPlan] = {
    val counts = scala.collection.mutable.Map.empty[Any, Int]
    lp.foreach { n =>
      if (isHeavy(n) && scansFact(n)) {
        val c = dupKey(n)
        counts(c) = counts.getOrElse(c, 0) + 1
      }
    }
    val dupForms = counts.collect { case (k, v) if v >= 2 => k }.toSet
    val out = scala.collection.mutable.Buffer.empty[LogicalPlan]
    def walk(n: LogicalPlan): Unit =
      if (dupForms(dupKey(n))) out += n
      else n.children.foreach(walk)
    walk(lp)
    out.toSeq
  }
}
