package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops._

/** The rebuilt `IncrementalAutocomplete` dataflow (SURVEY.md §3.1):
  *
  *   text lines → filter/normalize (P1,P2) → prefix-expand (G1) →
  *   per-batch counts (A1) → merge with cumulative state (J1) →
  *   top-K per prefix (W1,P4) → JSON completions (A3).
  *
  * Fixes over the reference, both load-bearing at scale:
  *  - the merged state is persisted once and feeds BOTH sinks; the reference
  *    recomputes the whole plan per sink and overwrites the JDBC table it is
  *    lazily reading (read-overwrite race, SURVEY §2.11.1). Here state I/O is
  *    the caller's concern (`io.Sinks.overwriteSafely` does staging+swap).
  *  - deterministic rank ties and collect order (SURVEY §2.11.2/3).
  */
object Pipeline {

  /** Stateless per-batch counts: lines → (prefix, query, cnt).
    * This is the legacy `TrendingAutocomplete` core (SURVEY §3.2).
    *
    * The aggregation is pushed BELOW the prefix generator: prefixes are a
    * deterministic function of the query, so count(prefix, query) ==
    * count(query). Counting per query first means the one wide shuffle
    * moves one row per input line (map-side combined to one per distinct
    * query per task) instead of the ≤59× exploded fan-out, and the
    * generator runs post-shuffle over distinct queries only — identical
    * output to aggregating the exploded pairs, at a fraction of the
    * shuffle volume. At 100 TB this is the difference between shuffling
    * the corpus once and shuffling it 59 times.
    */
  def batchCounts(lines: DataFrame, col: String = "value",
                  minLen: Int = 2, maxLen: Int = 60): DataFrame = {
    val norm = Normalize(lines, col, "query", minLen)
    val freq = FrequencyAgg.counts(norm, Seq("query"), "frequency")
    freq.select(
      explode(PrefixExpand.prefixArray(freq("query"), minLen, maxLen))
        .as("prefix"),
      freq("query"), freq("frequency"))
  }

  /** One incremental run: merge batch counts into `state`, return
    * (newState, topK) — newState persisted so both sinks share one compute.
    */
  def incrementalRun(lines: DataFrame, state: DataFrame, k: Int = 10)
      : (DataFrame, DataFrame) = {
    val merged = Merge(batchCounts(lines), state,
      Seq("prefix", "query"), "frequency")
      .persist(StorageLevel.MEMORY_AND_DISK)
    (merged, topCompletions(merged, k))
  }

  /** (prefix, query, frequency) → (prefix, completions-json) top-K table.
    *
    * Skew (SURVEY §4.3): relies on the native Partial+Final
    * WindowGroupLimit — each map task ships only k rows per prefix, so a
    * hot 2-char prefix shuffles k×tasks rows, not its fan-in (plan-audited
    * on a skewed fixture in PlanAuditSpec). Deployments where k×tasks on
    * one reducer is itself a straggler (100k-task clusters) can rank with
    * [[TopK.salted]] instead, which additionally spreads the hot prefix's
    * FINAL pass over several reducers, and pack with [[JsonPack.flat]] —
    * identical output.
    */
  def topCompletions(freq: DataFrame, k: Int): DataFrame =
    JsonPack.flat(
      TopK(freq, Seq("prefix"), freq("frequency"), Seq(freq("query")), k),
      "prefix", "rnk", "query")

  /** Empty cumulative state with the canonical schema. */
  def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Tables.freqTable)
}
