package graft

import graft.functions.VectorFns
import org.apache.spark.sql.functions._

/** Native codegen vector expressions vs the interpreted HOF formulation:
  * must agree bit-for-bit (same sequential fold), and handle NULL /
  * length-mismatch the same way.
  */
class VectorExprSpec extends SparkSuite {

  test("native dot and cosine are bit-identical to the HOF formulation") {
    val e = Tables(spark, sf(), "embeddings")
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("v"))
    val pairs = e.select(col("vec_id").as("ida"), col("v").as("va"))
      .join(e.select(col("vec_id").as("idb"), col("v").as("vb")),
        col("ida") === col("idb") - 1)
    val diff = pairs.select(
        VectorFns.dot(col("va"), col("vb")).as("d_native"),
        HofRefs.dotHof(col("va"), col("vb")).as("d_hof"),
        VectorFns.cosine(col("va"), col("vb")).as("c_native"),
        HofRefs.cosineHof(col("va"), col("vb")).as("c_hof"))
      .filter(col("d_native") =!= col("d_hof") || col("c_native") =!= col("c_hof"))
    assert(diff.count() == 0)
  }

  test("native expressions are registered and usable from SQL") {
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c," +
        " graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 11.0)
  }

  test("optimizer rule rewrites HOF dot/cosine into the native expressions") {
    val e = Tables(spark, sf(), "embeddings")
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("v"))
      .limit(20)
    val pairs = e.select(col("vec_id").as("ida"), col("v").as("va"))
      .join(e.select(col("vec_id").as("idb"), col("v").as("vb")),
        col("ida") === col("idb") - 1)
    // written with the portable HOF forms — no call_function anywhere
    val df = pairs.select(
      HofRefs.cosineHof(col("va"), col("vb")).as("c"),
      HofRefs.dotHof(col("va"), col("vb")).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_cosine"), optimized)
    assert(optimized.contains("graft_dot"), optimized)
    assert(!optimized.contains("aggregate("), optimized)
    // and the rewritten plan still computes the same values
    val viaNative = pairs.select(
      VectorFns.cosine(col("va"), col("vb")).as("c"),
      VectorFns.dot(col("va"), col("vb")).as("d"))
    assert(df.collect().map(_.toSeq).toSeq == viaNative.collect().map(_.toSeq).toSeq)
  }

  test("null and length-mismatch semantics match zip_with padding") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d), array(1.0d, 2.0d)) AS mismatch," +
        " graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS nul").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("NULL array elements poison the result exactly like the HOF fold") {
    import spark.implicits._
    // containsNull = true element type: the kernels must return NULL
    // (the HOF's null-poisoned sum), not NPE or read 0
    val df = Seq(
      (Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(2.0), Some(3.0))),
      (Seq[Option[Double]](Some(1.0), Some(2.0)), Seq[Option[Double]](Some(2.0), Some(3.0))))
      .toDF("a", "b")
    val rows = df.select(
        HofRefs.dotHof(col("a"), col("b")).as("d_hof"),
        HofRefs.cosineHof(col("a"), col("b")).as("c_hof"),
        call_function("graft_dot", col("a"), col("b")).as("d_native"),
        call_function("graft_cosine", col("a"), col("b")).as("c_native"))
      .collect()
    val withNull = rows(0)
    assert(withNull.isNullAt(0) && withNull.isNullAt(1) &&
      withNull.isNullAt(2) && withNull.isNullAt(3))
    val clean = rows(1)
    assert(clean.getDouble(0) == clean.getDouble(2))
    assert(clean.getDouble(1) == clean.getDouble(3))
    // and the auto-rewrite of the HOF shape over nullable-element arrays
    // stays value-identical (it may rewrite — the kernel now reproduces
    // the NULL result)
    val viaRewrite = df.select(HofRefs.dotHof(col("a"), col("b")).as("d")).collect()
    assert(viaRewrite(0).isNullAt(0))
    assert(viaRewrite(1).getDouble(0) == clean.getDouble(0))
  }
}
