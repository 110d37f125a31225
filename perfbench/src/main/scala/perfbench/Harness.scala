package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.datasets.ScaleData

/** JVM side of the benchmark (driven by `run.py`, which owns the workload
  * definitions, the oracle check and the metric arithmetic).
  *
  *   gen DIR=N …                   write each data set: sf0.01 row counts × N,
  *                                 one file per table when N = 1, one file
  *                                 per range partition otherwise
  *   oracles out=FILE              write the DuckDB oracle SQL of every query
  *                                 as one JSON object
  *   run data=DIR out=DIR orders=q1,q2,…;q2,q1,… seconds=S trace=0|1 cpus=C
  *                                 set up a session and warm it up with one
  *                                 pass over the queries, then run timed
  *                                 passes until S seconds have passed; pass
  *                                 k runs the queries in the k-th order
  *                                 (cyclically)
  *
  * `run` writes every query result of every pass as parquet under
  * `out/p<k>/<query>/` and the raw timings to `out/run.json`; a traced run
  * also writes `out/trace.json` (see [[Trace]]).
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opts = args.drop(1).map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    mode match {
      case "gen" => gen(opts.toSeq.map { case (dir, f) => dir -> f.toInt })
      case "oracles" =>
        Files.writeString(Paths.get(opts("out")), Json.obj(SparkEntry.oracleSql.toSeq))
      case "run" => run(opts)
      case _ =>
        System.err.println("usage: Harness gen|run key=value ...")
        sys.exit(2)
    }
  }

  /** The session of `graft.Bench`, with C cores and C shuffle partitions. */
  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---- data ----------------------------------------------------------

  /** Write each `dir=factor` data set and mark it complete. */
  def gen(targets: Seq[(String, Int)]): Unit = {
    targets.foreach(t => Files.createDirectories(Paths.get(t._1)))
    val spark = session(Runtime.getRuntime.availableProcessors,
      targets.head._1 + "/../.spark-gen")
    targets.foreach { case (out, factor) =>
      val f = factor.toLong
      val (nCust, nOrd, nPart, nSupp) = (1500L * f, 15000L * f, 2000L * f, 100L * f)
      val tables: Seq[(String, DataFrame)] = Seq(
        "region" -> ScaleData.region(spark),
        "nation" -> ScaleData.nation(spark),
        "supplier" -> ScaleData.supplier(spark, nSupp),
        "customer" -> ScaleData.customer(spark, nCust),
        "part" -> ScaleData.part(spark, nPart),
        "orders" -> ScaleData.orders(spark, nOrd, nCust),
        "lineitem" -> ScaleData.lineitem(spark, 60000L * f, nOrd, nPart, nSupp),
        "events" -> ScaleData.events(spark, 10000L * f, nUsers = 200L * f),
        "documents" -> documents(spark, 500L * f),
        "embeddings" -> ScaleData.embeddings(spark, 500L * f))
      tables.foreach { case (name, df) =>
        (if (factor == 1) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
      Files.writeString(Paths.get(s"$out/_COMPLETE"), "")
    }
    spark.stop()
  }

  /** ScaleData's corpus with near-duplicates added. ScaleData draws every
    * document independently, so the dedup gates would find no pairs and
    * their oracle check would compare two empty results. As in the
    * repository's reference test data, one document in twenty (by hash)
    * instead repeats an earlier document's text followed by "dup".
    */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = ScaleData.documents(spark, n)
    val id = col("doc_id")
    val src = when(pmod(xxhash64(lit("dup"), id), lit(20L)) === 0 && id > 0,
      pmod(xxhash64(lit("dup-src"), id), id))
    val texts = docs.select(id.as("src_id"), col("text").as("src_text"))
    docs.withColumn("src_id", src)
      .join(texts, Seq("src_id"), "left")
      .withColumn("text", coalesce(concat(col("src_text"), lit("dup")), col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  // ---- timed run -----------------------------------------------------

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMs: Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += b.getCollectionTime)
    t
  }

  /** Bytes of RDD blocks held (memory, disk), from the driver's block manager. */
  private def storage(spark: SparkSession): (Long, Long, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum, infos.length)
  }

  /** Collect garbage and wait for the ContextCleaner to release the blocks
    * of RDDs nothing references any more, then return the storage held. */
  private def settledStorage(spark: SparkSession): (Long, Long, Int) = {
    System.gc()
    Thread.sleep(150) // the cleaner polls its reference queue every 100 ms
    var last = storage(spark)
    var now = last
    var waited = 0
    do {
      Thread.sleep(50)
      waited += 50
      last = now
      now = storage(spark)
    } while (now != last && waited < 1000)
    now
  }

  def run(o: Map[String, String]): Unit = {
    val data = o("data")
    val out = o("out")
    val orders = o("orders").split(";").toSeq.map(_.split(",").toSeq)
    val seconds = o("seconds").toDouble
    val traceOn = o("trace") == "1"
    val cpus = o("cpus").toInt
    val localDir = out + "/.spark"
    Files.createDirectories(Paths.get(localDir))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cpus, localDir)
    // table open: file listing and parquet schema of every table
    graft.core.Tables.names.foreach(t => graft.core.Tables.load(spark, data, t))
    val sc = spark.sparkContext
    val trace = new Trace
    var nextSpan = 0
    def newSpan(): Int = { nextSpan += 1; nextSpan }

    case class QueryRun(name: String, buildS: Double, execS: Double, cpuS: Double,
        error: String)
    case class Pass(traced: Boolean, wallS: Double, cpuS: Double, gcS: Double,
        peakBytes: Long, peakMemBytes: Long, endBytes: Long, endRdds: Int,
        blockPeakBytes: Long, runs: Seq[QueryRun])

    /** One closed-loop pass: every query built, then written as parquet. */
    def pass(k: Int, traced: Boolean): Pass = {
      graft.core.Memos.clearAll()
      spark.catalog.clearCache()
      if (traced) {
        trace.pass = s"p$k"
        sc.addSparkListener(trace)
        spark.listenerManager.register(trace)
        trace.takeBlockPeak()
      }
      val passSpan = newSpan()
      val p0 = nowMs
      var gcTotal = 0L
      var peak = 0L
      var peakMem = 0L
      val runs = orders((k - 1) % orders.size).map { q =>
        val qSpan = newSpan()
        val cpu0 = osBean.getProcessCpuTime
        val gc0 = gcMs
        val t0 = nowMs
        var t1 = t0
        var err: String = null
        var df: DataFrame = null
        val bSpan = newSpan()
        sc.setLocalProperty(Trace.SpanKey, bSpan.toString)
        try df = SparkEntry.queries(q)(spark, data)
        catch { case e: Throwable => err = s"build: $e" }
        t1 = nowMs
        val eSpan = newSpan()
        if (df != null) {
          sc.setLocalProperty(Trace.SpanKey, eSpan.toString)
          try df.write.mode("overwrite").parquet(s"$out/p$k/$q")
          catch { case e: Throwable => err = s"exec: $e" }
        }
        sc.setLocalProperty(Trace.SpanKey, null)
        val t2 = nowMs
        val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
        gcTotal += gcMs - gc0
        if (k > 1) { // the warm-up pass is not sampled
          val (mem, disk, _) = settledStorage(spark)
          peak = math.max(peak, mem + disk)
          peakMem = math.max(peakMem, mem)
        }
        if (traced) {
          trace.span(qSpan, passSpan, "query", q, t0, t2)
          trace.span(bSpan, qSpan, "build", q, t0, t1)
          trace.span(eSpan, qSpan, "exec", q, t1, t2)
        }
        if (err != null) System.err.println(s"[perfbench] $q failed: ${err.linesIterator.next()}")
        QueryRun(q, (t1 - t0) / 1e3, (t2 - t1) / 1e3, cpuS, err)
      }
      val p1 = nowMs
      val (mem, disk, rdds) = storage(spark)
      var blockPeak = 0L
      if (traced) {
        trace.span(passSpan, 0, "pass", s"p$k", p0, p1)
        org.apache.spark.perfbench.Bus.drain(sc)
        blockPeak = trace.takeBlockPeak()
        sc.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
      }
      // the storage samples are not part of the pass: wall and CPU time
      // cover the queries only
      Pass(traced, runs.map(r => r.buildS + r.execS).sum, runs.map(_.cpuS).sum, gcTotal / 1e3,
        peak, peakMem, mem + disk, rdds, blockPeak, runs)
    }

    // Set-up ends with an untimed warm-up pass (pass 1), so that it
    // includes whatever the first pass pays once per JVM. Then timed
    // passes: at least four, and more while another pass of the last one's
    // length still fits in `seconds`. A traced run traces every other timed
    // pass, so that it measures its own overhead against the untraced ones.
    val ready = nowMs
    val passes = scala.collection.mutable.ArrayBuffer(pass(1, traced = false))
    val setupS = (ready - jvmStart) / 1e3 + passes.head.wallS
    val m0 = nowMs
    while (passes.size < 5 || (nowMs - m0) / 1e3 + passes.last.wallS <= seconds) {
      val k = passes.size + 1
      passes += pass(k, traced = traceOn && k % 2 == 0)
    }
    val measuredS = (nowMs - m0) / 1e3

    val host = Map(
      "cpus" -> cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"))
    val passJson = passes.map { p =>
      Map("traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "gc_s" -> p.gcS, "peak_storage_bytes" -> p.peakBytes,
        "peak_storage_mem_bytes" -> p.peakMemBytes,
        "end_storage_bytes" -> p.endBytes, "end_rdds" -> p.endRdds,
        "block_peak_bytes" -> p.blockPeakBytes,
        "queries" -> p.runs.map(r => Map("name" -> r.name, "build_s" -> r.buildS,
          "exec_s" -> r.execS, "cpu_s" -> r.cpuS, "error" -> r.error)))
    }
    graft.core.Memos.clearAll()
    spark.stop()
    Files.writeString(Paths.get(s"$out/run.json"), Json.obj(Seq(
      "host" -> host, "setup_s" -> setupS, "measured_s" -> measuredS,
      "passes" -> passJson)))
    if (traceOn) Files.writeString(Paths.get(s"$out/trace.json"), trace.json)
  }
}
