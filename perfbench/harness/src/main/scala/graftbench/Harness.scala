package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{BoundChecks, GraftSession, Main, SparkEntry, Tables}
import graft.perfbench.Fixtures
import graft.queries.SharedBases
import graft.streaming.StreamingPipeline

/** One benchmark run of one workload in a fresh JVM.
  *
  *   graftbench.Harness <workload> <inputDir> <outDir> <trace 0|1>
  *                      <seconds> <cores> <op,op,...>
  *
  * Set-up builds the session and stages the fixtures; then a cold pass
  * (the first in this JVM, what every scheduled tick pays) and warm passes
  * of identical work until `seconds` of warm time are spent, at least one.
  * With trace 1 there are at least three, untraced, traced, untraced, so
  * the tracing overhead is not confounded with JIT warm-up across passes.
  * Operations are calls into the program's public entry points; outputs
  * land under `outDir/pass-N` for the caller to check. Each autocomplete
  * pass starts from a copy of the generated history state
  * (`inputDir/state`), made outside the timers. With trace 1 the
  * warm passes alternate untraced and traced, the tracer's listeners
  * attached only to the traced ones. Everything measured is written to
  * `outDir/result.json`.
  */
object Harness {

  /** Completions kept per prefix (the reference job's K). */
  val TopK = 10

  final case class Op(name: String, start: Double, end: Double,
                      cpuS: Double, ok: Boolean, error: String, rows: Long)
  final case class Pass(index: Int, kind: String, traced: Boolean,
                        start: Double, end: Double, basesS: Double,
                        basesCpuS: Double, ops: Seq[Op])

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def peakRssKb(): Long = {
    val lines = new String(Files.readAllBytes(
      Paths.get("/proc/self/status")), UTF_8).split("\n")
    lines.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, outDir, traceArg, secondsArg, coresArg,
      opsArg) = args
    val trace = traceArg == "1"
    val seconds = secondsArg.toDouble
    val names = opsArg.split(",").toSeq.filter(_.nonEmpty)
    val tables = s"$inputDir/tables"
    val spans = new Spans

    val spark = spans("session.build") {
      val s = GraftSession.local("graft-perfbench", coresArg.toInt)
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val tracer = new Tracer(spark)
    if (trace) tracer.attach()

    // staging: resolve each input table's schema (parquet footers) once,
    // so the first query does not pay the first touch, and land the
    // streaming source files the drains read
    spans("queries.staging") {
      if (workload == "similarity_sweep") {
        Seq("documents", "embeddings")
          .foreach(Tables.table(spark, tables, _).schema)
        Fixtures.stage(spark, tables, names)
      }
    }
    val setupEnd = Clock.now()

    // Between operations and outside the timers: drop per-query cached
    // blocks and nudge a GC, so one operation's leftovers do not bill the
    // next (the same hygiene as graft.Bench between queries).
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      val keep = SharedBases.retainedRddIds
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => keep.contains(Integer.valueOf(r.id)))
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // an operation's wall and process CPU time; cleanup() is not in either
    def op(name: String)(body: => Long): Op = {
      val c0 = cpuSeconds()
      val t0 = Clock.now()
      val (ok, err, rows) =
        try spans(s"op.$name") { (true, "", body) }
        catch { case e: Throwable =>
          (false, (e.getClass.getSimpleName + ": " + e.getMessage).take(300),
            -1L)
        }
      val t1 = Clock.now()
      val cpu = cpuSeconds() - c0
      cleanup()
      Op(name, t0, t1, cpu, ok, err, rows)
    }

    def autocompletePass(dir: String): Seq[Op] = {
      FileUtils.copyDirectory(new java.io.File(s"$inputDir/state"),
        new java.io.File(s"$dir/state"))
      val logs = Files.list(Paths.get(s"$inputDir/logs")).toArray
        .map(_.toString).filter(_.endsWith(".txt")).sorted.toSeq
      val hourly = logs.zipWithIndex.map { case (log, h) =>
        op(f"hour$h%02d") {
          spans("main.runOnce") {
            Main.runOnce(spark, log, s"$dir/state", s"$dir/topk", TopK)._1
          }
        }
      }
      hourly :+ op("backfill") {
        spans("streaming.runAvailableNow") {
          StreamingPipeline.runAvailableNow(spark, s"$inputDir/logs",
            s"$dir/backfill_state", s"$dir/backfill_topk", TopK,
            s"$dir/backfill_ckpt")
        }
      }
    }

    // returns the operations and the shared-index build's (wall, CPU) s
    def queryPass(dir: String): (Seq[Op], (Double, Double)) = {
      val c0 = cpuSeconds()
      val t0 = Clock.now()
      spans("queries.shared_bases") {
        SharedBases.invalidateAll(spark)
        SharedBases.jaccardPairs(spark, tables) // q_dedup_clusters' base
      }
      val bases = ((Clock.now() - t0) / 1e3, cpuSeconds() - c0)
      val ops = names.map { name =>
        op(name) {
          val df = spans("queries.build") {
            SparkEntry.queries(name)(spark, tables)
          }
          spans("queries.run") {
            df.write.mode("overwrite").parquet(s"$dir/$name")
          }
          0L
        }
      }
      (ops, bases)
    }

    val passes = mutable.ArrayBuffer[Pass]()
    def runPass(kind: String, traced: Boolean): Pass = {
      val p = passes.size
      if (traced) tracer.attach() else tracer.detach()
      spans.run = p
      val dir = s"$outDir/pass-$p"
      val t0 = Clock.now()
      val (ops, (basesS, basesCpuS)) = spans("pass") {
        if (workload == "autocomplete_hourly")
          (autocompletePass(dir), (0.0, 0.0))
        else queryPass(dir)
      }
      val pass = Pass(p, kind, traced, t0, Clock.now(), basesS, basesCpuS,
        ops)
      passes += pass
      pass
    }

    runPass("cold", trace)
    var warmSpent = 0.0
    while (passes.size < (if (trace) 4 else 2) ||
        warmSpent < seconds * 1000) {
      val p = runPass("warm", trace && passes.size % 2 == 0)
      warmSpent += p.end - p.start
    }
    tracer.detach()

    // bound envelopes of the approximate queries, outside every timer
    val bounds = for {
      p <- passes.toSeq if workload == "similarity_sweep"
      (n, b) <- BoundChecks.run(spark, tables, s"$outDir/pass-${p.index}",
        p.ops.filter(_.ok).map(_.name).toSet)
    } yield Map("key" -> s"${p.index}/$n", "ok" -> b.ok)

    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      names.contains(k) }
    val out = Map(
      "workload" -> workload,
      "cores" -> coresArg.toInt,
      "setup_end_ms" -> setupEnd,
      "peak_rss_kb" -> peakRssKb(),
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "kind" -> p.kind, "traced" -> p.traced,
        "start" -> p.start, "end" -> p.end, "bases_s" -> p.basesS,
        "bases_cpu_s" -> p.basesCpuS,
        "ops" -> p.ops.map(o => Map("name" -> o.name,
          "start" -> o.start, "end" -> o.end, "cpu_s" -> o.cpuS,
          "ok" -> o.ok, "error" -> o.error, "rows" -> o.rows)))),
      "k" -> TopK,
      "bounds" -> bounds,
      "oracle_sql" -> oracle.toSeq.sortBy(_._1).map { case (k, v) =>
        Map("name" -> k, "sql" -> v) },
      "spans" -> spans.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run" -> s.run, "start" -> s.start,
        "end" -> s.end)),
      "jobs" -> tracer.jobs.values.toSeq.map(j => Map(
        "start" -> j.start, "end" -> j.end,
        "failed_tasks" -> j.failedTasks, "run_ms" -> j.runMs,
        "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "spill" -> j.spill, "bytes_out" -> j.bytesOut)),
      "sql" -> tracer.sql.values.toSeq.map(s => Map(
        "start" -> s.start, "end" -> s.end, "details" -> s.details)),
      // each trigger's StreamingQueryProgress, as its own JSON text
      "progress" -> tracer.progress.toSeq)
    Files.write(Paths.get(s"$outDir/result.json"),
      Serialization.write(out)(DefaultFormats).getBytes(UTF_8))
    spark.stop()
  }
}
