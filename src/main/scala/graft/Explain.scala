package graft

/** Plan-audit helper: `runMain graft.Explain <query>[,<query>…] [sfDir]`
  * prints each query's formatted physical plan — the same surface the
  * per-round plan audits and PlanRegressionSpec read. With no args it
  * audits every registered query; a failure in one query is reported and
  * the audit continues. Runs on [[SparkEntry.localSession]] with
  * SPARK_GRAFT_CPUS cores (default 4).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = SparkEntry.localSession(defaultCpus = 4)
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, dir).explain("formatted")
      catch {
        case e: Exception =>
          println(s"[explain failed] $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
