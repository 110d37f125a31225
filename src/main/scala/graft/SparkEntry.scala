package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.QueryPack

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by per-module [[graft.core.QueryPack]]s; each
  * pack covers one slice of SURVEY.md §2's operator inventory and supplies
  * matching DuckDB oracle SQL where the semantics are SQL-expressible.
  */
object SparkEntry {

  private def packs: Seq[QueryPack] = Seq(
    graft.relational.RelationalQueries,
    graft.preprocessing.PreprocessingQueries,
    graft.metrics.MetricsQueries,
    graft.llmdata.LlmDataQueries,
    graft.llmdata.AnnQueries,
    graft.llmdata.DedupQueries,
    graft.quality.ProfilingQueries,
    graft.cluster.EstimatorQueries,
    graft.modelselection.AdaptiveSearchQueries,
    graft.featureextraction.TextFeatureQueries,
    graft.wrappers.ModelQueries
  )

  /** The session every main runs on: `local[cpus]` with `cpus` shuffle
    * partitions, UTC, no UI, Spark logging at ERROR. `cpus` is
    * SPARK_GRAFT_CPUS, else the calling main's default. The driver heap
    * is fixed at JVM launch (build.sbt's -Xmx), so it is not set here.
    */
  def localSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The end-to-end LLM training-data pipeline (quality/language filter →
    * fingerprint dedup → content-hash split → context-window chunks) —
    * every stage an exactly-gated operator composed in one plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    // the round-8 flagship: TRAINED quality-classifier filter →
    // benchmark decontamination → fingerprint dedup → exact-substring
    // duplication filter → LM-perplexity scoring → DSIR importance
    // selection → domain-mixture sampling → per-shard sequence packing
    // → deterministic EPOCH SHUFFLE (Feistel bijection: every doc's
    // (epoch, trainer shard, position) — the pipeline ends where
    // training begins, read order reproducible from the salt alone).
    // v8 (the SURVEY flagship) extends v7 by WRITING the packed corpus
    // through the audited z-bucketed shard sink and proving parquet
    // pruning on the written files — a side-effecting run, so the
    // driver's read-only smoke entry deliberately stays on v7: same
    // pipeline, no files written outside the driver's control.
    queries("q_llm_pipeline_v7")(spark, dir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap
}
