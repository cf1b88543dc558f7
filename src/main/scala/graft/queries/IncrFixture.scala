package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** Per-JVM memoized "24 hourly log files" text fixture backing
  * `q_pipeline_incremental` (SURVEY §2.11.5: the reference documents an
  * hourly-file last-24h window it never shipped; the declared query
  * exercises the glob/list read + double `Pipeline.incrementalRun` over
  * exactly that file layout).
  *
  * Round-7 verdict/advice fix: the fixture write used to live INSIDE the
  * timed query body — a 24-way small-file `partitionBy` write of the whole
  * documents table per invocation, into a fresh never-deleted temp dir.
  * That (a) billed fixture I/O to the operator under test (the one bench
  * flag a rerun did not clear), and (b) leaked a full text copy of the
  * corpus to /tmp per sweep/determinism run. Now:
  *
  *  - ONE destination per (source dir, documents fingerprint) under the
  *    per-JVM [[StagingStore]] root, deleted when the JVM exits —
  *    re-runs reuse it instead of leaking or re-splitting; a rewritten
  *    documents table misses structurally (fingerprint in the leaf
  *    name), rebuilds and deletes the older generation, same staleness
  *    contract as [[SharedBases]];
  *  - the returned path list keeps only the `h=` partitions that EXIST:
  *    `pmod(doc_id, 24)` residues can be sparse on tiny/sparse-id
  *    corpora, and a hard-coded 24-path list would make
  *    `spark.read.text` throw on the missing ones.
  *
  * Benchmark accounting: `Bench` builds the fixture in the TIMED
  * shared-base phase (published as `shared_base_build`, included in the
  * headline total — nothing untimed), so the per-query timer measures the
  * glob read + two incremental runs: the operator, not fixture setup.
  */
private[graft] object IncrFixture {

  private val cache = scala.collection.mutable.HashMap.empty[String, Seq[String]]

  /** Existing `h=` partition paths of the fixture for `dir`, building it
    * on first use per (dir, documents-fingerprint). Newlines are
    * flattened before the file write so file lines == table rows and the
    * parquet-side oracle sees the identical corpus.
    */
  def paths(s: SparkSession, dir: String): Seq[String] = synchronized {
    val fp = SharedBases.fingerprint(s, dir)
    cache.getOrElseUpdate(s"$dir@$fp", {
      val dest = StagingStore.stage(dir, "incr24", fp) { tmp =>
        Tables.table(s, dir, "documents")
          .select(pmod(col("doc_id"), lit(24)).cast("int").as("h"),
            regexp_replace(col("text"), "[\\r\\n]+", " ").as("value"))
          .write.partitionBy("h").mode("overwrite").text(tmp)
      }
      val fs = new org.apache.hadoop.fs.Path(dest)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      (0 until 24).map(h => s"$dest/h=$h")
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    })
  }
}
