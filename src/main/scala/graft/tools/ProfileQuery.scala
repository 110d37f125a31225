package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev profiling main (guide §1): per-JOB wall breakdown of named
  * queries under the exact Bench session config, so the gap between a
  * query's wall time and the sum of its job times (driver planning /
  * codegen / analysis) is visible, not guessed.
  *
  * `runMain graft.tools.ProfileQuery q_a,q_b [reps]`
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object ProfileQuery {
  private case class JobRec(id: Int, ms: Long, stages: Int, tasks: Int)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession(defaultCpus = 32)

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    @volatile var taskCount = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(), js.stageInfos.size))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        taskCount += sc.stageInfo.numTasks
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, nStages) =>
          jobs.add(JobRec(je.jobId, (System.nanoTime() - t0) / 1000000,
            nStages, 0))
        }
      }
    })

    def run(name: String): Unit = {
      jobs.clear(); taskCount = 0
      val t0 = System.nanoTime()
      SparkEntryRef.query(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1000000
      Thread.sleep(200) // let listener drain
      val recs = jobs.toArray(Array.empty[JobRec]).sortBy(_.id)
      val jobMs = recs.map(_.ms).sum
      println(f"[profile] $name wall=${wallMs}ms jobs=${recs.size} " +
        f"jobTime=${jobMs}ms driverGap=${wallMs - jobMs}ms tasks=$taskCount")
      val top = recs.sortBy(-_.ms).take(12)
      println("  slowest jobs: " + top.map(r =>
        s"#${r.id}:${r.ms}ms/${r.stages}st").mkString(" "))
    }

    // warmup as in Bench
    SparkEntryRef.query("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    for (r <- 1 to reps; n <- names) {
      graft.core.Memos.clearAll()
      spark.catalog.clearCache()
      println(s"-- rep $r --")
      run(n)
    }
    spark.stop()
  }
}

private object SparkEntryRef {
  def query(n: String) = graft.SparkEntry.queries(n)
}
