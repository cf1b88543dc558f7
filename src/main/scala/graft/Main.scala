package graft

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp

import graft.io.{Sinks, Sources}

/** End-to-end incremental pipeline binary — the rebuilt
  * `IncrementalAutocomplete.main` (reference:
  * `IncrementalAutocomplete.java:21-61` parses 6 args + config.properties;
  * here: CLI args only, state in parquet dirs instead of MySQL tables).
  *
  *   Usage: graft.Main <logsGlob> <stateDir> <topKDir> <k>
  *
  * Differences from the reference, all deliberate (SURVEY §2.11):
  *  - accepts a glob, so the documented-but-unimplemented "last 24 hourly
  *    files" behavior is one argument;
  *  - state read → merge → overwrite has no read-overwrite race: the merge
  *    is persisted, and both sinks go through staging+swap
  *    (`Sinks.overwriteSafely`);
  *  - both output tables carry `last_updated` (the production shape,
  *    `IncrementalAutocomplete.java:107,129`) — excluded from oracle
  *    queries only because it is nondeterministic.
  */
object Main {

  def withLastUpdated(df: DataFrame): DataFrame =
    df.withColumn("last_updated", current_timestamp())

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: graft.Main <logsGlob> <stateDir> <topKDir> <k>")
    val Array(logsGlob, stateDir, topKDir, kStr) = args
    val k = kStr.toInt

    // spark-submit injects spark.master; standalone invocation (sbt
    // runMain, plain java) falls back to all local cores.
    val master = sys.props.getOrElse("spark.master",
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
    val spark = GraftSession.builder("graft-incremental-autocomplete",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .master(master)
      .getOrCreate()

    try runOnce(spark, logsGlob, stateDir, topKDir, k)
    finally spark.stop()
  }

  /** One incremental batch: read logs, merge into parquet state, write
    * state + top-K through the staging swap ([[mergeAndPublish]]), then
    * read the published top-K back for its row count. Factored out so
    * tests can replay it without a JVM fork.
    */
  def runOnce(spark: SparkSession, logsGlob: String, stateDir: String,
              topKDir: String, k: Int): (Long, Long) = {
    val stateRows = mergeAndPublish(Sources.textLines(spark, logsGlob),
      stateDir, topKDir, k)
    val topKRows = spark.read.parquet(topKDir).count()
    println(s"[graft] state=$stateRows rows, topK=$topKRows prefixes")
    (stateRows, topKRows)
  }

  /** The incremental step shared by the hourly job ([[runOnce]]) and its
    * streaming backfill (`StreamingPipeline.runAvailableNow`, once per
    * micro-batch): merge `lines` into the parquet state at `stateDir`
    * (empty when absent), then overwrite state and top-K, both with
    * `last_updated`, through the staging swap. Returns the merged state's
    * row count.
    */
  def mergeAndPublish(lines: DataFrame, stateDir: String, topKDir: String,
                      k: Int): Long = {
    val spark = lines.sparkSession
    val state =
      if (new Path(stateDir).getFileSystem(
          spark.sessionState.newHadoopConf()).exists(new Path(stateDir)))
        spark.read.parquet(stateDir).select("prefix", "query", "frequency")
      else Pipeline.emptyState(spark)

    val (merged, topK) = Pipeline.incrementalRun(lines, state, k)
    try {
      val stateRows = merged.count() // materialize BEFORE touching state dir
      Sinks.overwriteSafely(withLastUpdated(merged), stateDir)
      Sinks.overwriteSafely(withLastUpdated(topK), topKDir)
      stateRows
    } finally merged.unpersist()
  }
}
