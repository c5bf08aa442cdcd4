package graft

import org.apache.spark.scheduler._

/** Diagnostic main (test scope): run one catalog entry N times and print
  * every Spark job's wall-clock, stage count and task count — the
  * "where do the seconds go" view the bench total cannot give. Usage:
  *
  *   sbt "Test/runMain graft.ProfJobs <entry> [reps=3] [probe]"
  *   sbt "Test/runMain graft.ProfJobs q45_simhash_hamming 3"
  *
  * `probe` times the entry's probe (serving) thunk instead of its build.
  * Env: `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS` as for the bench;
  * `PROF_STAGES` set also prints every completed stage.
  */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt, cpus.toInt)

    final case class J(id: Int, t0: Long, var t1: Long = 0L,
                       var stages: Int = 0, var tasks: Int = 0,
                       var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val stageDetail = sys.env.contains("PROF_STAGES")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageDetail) {
          val si = e.stageInfo
          val ms = for {a <- si.completionTime; b <- si.submissionTime} yield a - b
          println(f"    stage ${si.stageId}%3d ${ms.getOrElse(-1L)}%5d ms tasks=${si.numTasks} ${si.name.split("\n")(0).take(100)}")
        }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val last = e.stageInfos.sortBy(_.stageId).lastOption
          .map(s => s.name.split("\n")(0).take(90)).getOrElse("")
        jobs.put(e.jobId, J(e.jobId, e.time, stages = e.stageInfos.size,
          tasks = e.stageInfos.map(_.numTasks).sum, desc = last))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
    })

    val q = queries.Catalog.all(name)
    val probeMode = q.probe.isDefined && args.lift(2).contains("probe")
    val thunk: () => org.apache.spark.sql.DataFrame =
      if (probeMode) q.probe.get(spark, sfDir) else () => q.build(spark, sfDir)
    (1 to reps).foreach { r =>
      order.clear(); jobs.clear()
      val t0 = System.nanoTime()
      thunk().write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      if (!probeMode) {
        graft.Caches.release(spark)
        spark.sharedState.cacheManager.clearCache()
      }
      println(f"== $name rep $r: wall $wall%.3f s, jobs ${order.size()}")
      var acc = 0.0
      order.forEach { id =>
        val j = jobs.get(id)
        val sec = (j.t1 - j.t0) / 1e3
        acc += sec
        println(f"  job ${j.id}%3d  ${sec}%7.3f s  stages=${j.stages} tasks=${j.tasks}  ${j.desc}")
      }
      println(f"  sum-of-jobs $acc%.3f s (gaps = driver/planning time)")
    }
    spark.stop()
  }
}
