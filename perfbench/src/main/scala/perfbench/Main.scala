package perfbench

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}
import scala.collection.mutable

/** Benchmark entry point (perfbench/run.py builds and launches it):
  *
  *   Main --workload <search-bow|index-lifecycle>
  *        --seed <n> --seconds <s> --trace <0|1> --work <dir> [--spans <file>]
  *
  * Prints one JSON line last on stdout: the end-to-end metrics untraced,
  * the per-layer metrics traced. Exits 1 after printing if any answer was
  * wrong.
  */
object Main {

  /** End-to-end metrics, printed by every untraced run. `op_p50_ms` and
    * `alt_p50_ms` are a workload's two paths: exact and WAND queries on
    * search-bow; build + ingest and merge + delete on index-lifecycle.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "alt_p50_ms" -> "ms",
    "live_heap_mb" -> "MB")

  /** Per-layer metrics, printed by every traced run (0 where a workload
    * never enters the layer).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "query.parse_ms" -> "ms", "index.stats_ms" -> "ms", "query.lower_ms" -> "ms",
    "query.analyze_ms" -> "ms", "query.optimize_ms" -> "ms",
    "query.physplan_ms" -> "ms", "query.plan_ms" -> "ms",
    "query.execute_ms" -> "ms", "query.self_ms" -> "ms",
    "query.layers_sum_ms" -> "ms", "query.traced_p50_ms" -> "ms",
    "query.untraced_p50_ms" -> "ms", "trace.overhead_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_ms" -> "ms", "spark.task_run_ms" -> "ms",
    "spark.sched_delay_ms" -> "ms", "spark.input_mb" -> "MB",
    "spark.shuffle_write_kb" -> "KB",
    "wand.plan_ms" -> "ms", "wand.execute_ms" -> "ms", "wand.jobs" -> "count",
    "wand.tasks" -> "count", "wand.shuffle_kb" -> "KB", "wand.p50_ms" -> "ms",
    "build.fused_s" -> "s", "build.termstats_s" -> "s", "build.docstats_s" -> "s",
    "build.collstats_s" -> "s", "build.task_cpu_s" -> "s",
    "build.cpu_util" -> "ratio", "build.shuffle_write_mb" -> "MB",
    "build.spill_mb" -> "MB", "build.gc_s" -> "s",
    "build.merge_task_skew" -> "ratio", "build.docs_per_s" -> "1/s",
    "index.postings" -> "count", "index.segments" -> "count",
    "index.segment_mb" -> "MB", "index.terms" -> "count",
    "index.store_mb" -> "MB",
    "ingest.batch_ms" -> "ms", "ingest.seal_s" -> "s",
    "ingest.jobs_per_batch" -> "count", "ingest.docs_per_s" -> "1/s",
    "merge.wall_s" -> "s", "merge.jobs" -> "count", "merge.task_cpu_s" -> "s",
    "merge.write_mb" -> "MB",
    "delete.wall_s" -> "s", "delete.jobs" -> "count",
    "delete.task_cpu_s" -> "s", "delete.read_mb" -> "MB",
    "delete.touched_segments_ratio" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "jvm.peak_rss_mb" -> "MB")

  val Workloads = Seq("search-bow", "index-lifecycle")

  def parseArgs(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  /** The result line, keys in the documented order. A value that is not a
    * finite number prints as null, which no reader takes for a measurement.
    */
  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String =
    compact(render(JObject(
      "correct" -> JBool(correct), "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "metrics" -> JObject(metrics.map { case (k, v, u) =>
        k -> JObject("value" -> (if (v.isNaN || v.isInfinite) JNull else JDouble(v)),
          "unit" -> JString(u))
      }.toList))))

  /** Runs the benchmark; any exception ends the JVM with code 1 before a
    * result line is printed.
    */
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val o = parseArgs(args.toSeq)
    val workload = o("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val traced = o("trace") == "1"
    val work = Paths.get(o("work"))
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = graft.run.Mains.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    System.err.println(s"[perfbench] session start (s): $sessionS")
    val ctx = new Ctx(spark, work, new Inputs(o("seed").toLong),
      o("seconds").toInt, traced)
    val m: mutable.Map[String, Double] = scala.collection.mutable.Map.empty
    val (attempted, failed) = workload match {
      case "search-bow" =>
        Search.run(ctx, m)
      case "index-lifecycle" =>
        Lifecycle.run(ctx, m)
    }
    m.get("setup_s").foreach(s => m("setup_s") = sessionS + s)
    m("jvm.peak_rss_mb") = Jvm.peakRssMb()
    m("live_heap_mb") = Jvm.liveHeapMb()
    System.err.println(s"[perfbench] peak_rss_mb=${m("jvm.peak_rss_mb")} " +
      s"live_heap_mb=${m("live_heap_mb")}")
    for (t <- m.get("query.traced_p50_ms"); u <- m.get("query.untraced_p50_ms"))
      m("trace.overhead_ms") = t - u
    if (traced) o.get("spans").foreach(p => ctx.tracer.writeJsonl(Paths.get(p)))

    val wrong = ctx.wrong
    wrong.take(20).foreach(w => System.err.println(s"[perfbench] WRONG: $w"))
    val names = if (traced) PerLayer else EndToEnd
    val metrics = names.map { case (k, u) => (k, m.get(k).getOrElse(0.0), u) }
    spark.stop()
    println(resultJson(wrong.isEmpty, attempted, failed, metrics))
    System.out.flush()
    System.exit(if (wrong.isEmpty) 0 else 1)
  }
}
