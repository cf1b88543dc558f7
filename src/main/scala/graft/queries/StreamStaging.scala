package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Memoized staged source directories for the streaming gate entries —
  * the IncrFixture/FormatFixture rule applied to the stream sources:
  * the entries time the STREAM (drain, state merging, sink writes), and
  * the one-off corpus staging write is fixture I/O that builds once per
  * (sfDir, testdata-fingerprint) in each JVM and bills the bench's
  * shared-base phase. Before this memo every streaming entry rewrote its staged
  * corpus inside its own timer on every invocation (bench repeats,
  * reruns, verify sweeps — each paid a full corpus copy per entry).
  *
  * Checkpoint directories are NOT memoized — every invocation must
  * re-drain the whole stream; only the immutable source files are
  * shared.
  *
  * Layouts ("kind"):
  *  - docs8: documents, 8 random files (dedup/top-K entries — no
  *    event-time semantics, arrival order irrelevant);
  *  - events8range: events range-partitioned on ts with file mtimes
  *    PINNED to slice order — FileStreamSource picks batches by mtime,
  *    and for watermarked consumers out-of-order slices silently drop
  *    data; complete-mode sessionize shares it (no watermark there, the
  *    pinning just makes batch composition deterministic);
  *  - events8sentinel: events8range plus the watermark-heartbeat
  *    sentinel row in the last slice (append-mode sessionize);
  *  - cdc8: the deterministic CDC change feed, 8 random files;
  *  - emb8: embeddings, 8 random files (per-row cell assignment — no
  *    event-time semantics, arrival order irrelevant).
  */
private[graft] object StreamStaging {

  private val cache = scala.collection.mutable.HashMap.empty[String, String]

  private def events(s: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(s, sfDir, "events")
    ev.select(ev("user_id"), ev("event_id"),
      timestamp_micros(expr("ts div 1000")).as("ts"),
      ev("event_type"))
  }

  private def pinMtimes(s: SparkSession, dest: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(dest)
    val fs = hPath.getFileSystem(s.sessionState.newHadoopConf())
    val parts = fs.listStatus(hPath).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val t0 = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (p, i) =>
      fs.setTimes(p, t0 + i * 1000L, -1L)
    }
  }

  /** The parquet table each layout derives from — the fingerprint must
    * track THAT table, not documents unconditionally: a mid-session
    * events rewrite that leaves documents untouched would otherwise
    * serve stale events8range/events8sentinel stages silently.
    */
  private def sourceTable(kind: String): String = kind match {
    case "events8range" | "events8sentinel" => "events.parquet"
    case "emb8"                             => "embeddings.parquet"
    case _                                  => "documents.parquet"
  }

  /** The staged directory for `kind` over `sfDir`, building on first use
    * per testdata fingerprint (a regenerated corpus re-stages). Layouts
    * live under the per-JVM [[StagingStore]] root and are deleted when
    * the JVM exits.
    */
  def dir(s: SparkSession, sfDir: String, kind: String): String =
    synchronized {
      val fp = SharedBases.fingerprint(s, sfDir, sourceTable(kind))
      cache.getOrElseUpdate(s"$kind:$sfDir@$fp", {
        StagingStore.stage(sfDir, s"stream_$kind", fp) { dest =>
          kind match {
            case "docs8" =>
              Tables.table(s, sfDir, "documents")
                .repartition(8).write.mode("overwrite").parquet(dest)
            case "events8range" =>
              events(s, sfDir).repartitionByRange(8, col("ts"))
                .write.mode("overwrite").parquet(dest)
              pinMtimes(s, dest)
            case "events8sentinel" =>
              val ev = events(s, sfDir)
              val gapUs = 43_200_000_000L
              val maxRow = ev.agg(max(unix_micros(col("ts")))).head()
              // empty events: no sessions exist — stage the (empty) table
              // without a sentinel instead of NPE-ing on the null max
              val withSentinel =
                if (maxRow.isNullAt(0)) ev
                else ev.unionByName(s.range(1).select(
                  lit(-1L).as("user_id"), lit(-1L).as("event_id"),
                  timestamp_micros(
                    lit(maxRow.getLong(0) + gapUs + 7_200_000_000L))
                    .as("ts"),
                  lit("__sentinel__").as("event_type")))
              withSentinel.repartitionByRange(8, col("ts"))
                .write.mode("overwrite").parquet(dest)
              pinMtimes(s, dest)
            case "cdc8" =>
              MaintenanceQueries.cdcChangesFor(s, sfDir)
                .repartition(8).write.mode("overwrite").parquet(dest)
            case "emb8" =>
              // per-row assignment — arrival order irrelevant, like docs8
              Tables.table(s, sfDir, "embeddings")
                .repartition(8).write.mode("overwrite").parquet(dest)
            case other =>
              throw new IllegalArgumentException(s"unknown kind $other")
          }
        }
      })
    }

  /** Pre-build every staged layout for `sfDir` (Bench's shared-base
    * phase calls this so the fixture I/O bills there, not inside the
    * first streaming entry's timer).
    */
  def prebuild(s: SparkSession, sfDir: String): Unit =
    Seq("docs8", "events8range", "events8sentinel", "cdc8", "emb8")
      .foreach(dir(s, sfDir, _))
}
