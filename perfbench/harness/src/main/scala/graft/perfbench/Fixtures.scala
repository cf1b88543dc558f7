package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.queries.StreamStaging

/** Fixture staging for the benchmark's set-up: lands the staged stream
  * source files a list of queries reads, as `graft.Bench` does before its
  * timers. The staging is `private[graft]`, hence this one object inside
  * the graft package.
  */
object Fixtures {

  /** Staged source layout of each streaming query the benchmark runs. */
  private val layouts = Map("q_stream_dedup_update" -> "docs8")

  def stage(spark: SparkSession, tables: String, queries: Seq[String]): Unit =
    queries.flatMap(layouts.get).distinct
      .foreach(StreamStaging.dir(spark, tables, _))
}
