package graft

import org.json4s.{DefaultFormats, jackson}
import java.nio.file.{Files, Paths}
import java.nio.file.StandardOpenOption.{APPEND, CREATE}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.status.api.v1
import scala.collection.mutable
import scala.util.control.NonFatal

/** The engine's diagnostic main: where a query's plan and seconds go.
  *
  *  - `plan <sfDir> [query...]` prints each query's formatted physical
  *    plan (default: the headline set), to review its shuffle,
  *    broadcast and pushdown posture.
  *  - `layers <sfDir> <out.json> [query...]` runs each query (default:
  *    every declared one, in name order; a name may repeat) once
  *    untimed, then once measured with `collect()`, and appends one JSON
  *    line per query to `out.json`: wall time; the returned frame's
  *    Catalyst phases (`QueryExecution.tracker`); the jobs, stages,
  *    tasks, scheduler delay, run / CPU / GC time, shuffle and spill of
  *    the jobs it ran, attributed by job group (Spark's status store); the blocks it still
  *    holds after `clearCache()` ([[GraftBridge.Residue]]); its ten
  *    longest jobs with their descriptions; or the exception it threw,
  *    after which the next query runs. Metric names are the
  *    benchmark's per-layer names (perfbench).
  *
  * Usage: `runMain graft.Measure plan|layers ...`; the session has
  * SPARK_GRAFT_CPUS cores (see [[localSession]]). */
object Measure {
  def main(args: Array[String]): Unit = {
    val spark = localSession(4)
    try args.toSeq match {
      case "plan" +: dir +: names =>
        (if (names.isEmpty) SparkEntry.headline else names).foreach { n =>
          println(s"\n===== $n =====")
          SparkEntry.queries(n)(spark, dir).explain("formatted")
        }
      case "layers" +: dir +: out +: names =>
        (if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names)
          .zipWithIndex.foreach { case (n, i) => Files.writeString(Paths.get(out),
            jackson.Serialization.write(layers(spark, dir, n, i))(DefaultFormats) + "\n",
            CREATE, APPEND) }
      case _ => sys.error("usage: Measure plan <sfDir> [query...] | " +
        "Measure layers <sfDir> <out.json> [query...]")
    } finally spark.stop()
  }

  /** One query's record: a warm-up rep (page cache, codegen), then the
    * measured rep under its own job group. */
  private def layers(spark: SparkSession, dir: String, n: String,
                     seq: Int): mutable.Map[String, Any] = {
    val sc = spark.sparkContext
    val group = s"measure-$seq-$n"
    val rec = mutable.LinkedHashMap[String, Any]("query" -> n, "seq" -> seq,
      "cores" -> sc.defaultParallelism)
    try {
      SparkEntry.queries(n)(spark, dir).collect()
      spark.catalog.clearCache()
      val residue = new GraftBridge.Residue(sc)
      sc.setJobGroup(group, null)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, dir)
      df.collect()
      rec("wall_ms") = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      rec("storage.rdds_held") = residue.held
      val phase = df.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs }
      rec ++= Seq("catalyst.analysis_ms" -> phase.getOrElse("analysis", 0L),
        "catalyst.optimizer_ms" -> phase.getOrElse("optimization", 0L),
        "catalyst.planning_ms" -> phase.getOrElse("planning", 0L))
    } catch { case NonFatal(e) => rec("error") = s"${e.getClass.getName}: ${e.getMessage}" }
    finally { sc.clearJobGroup(); spark.catalog.clearCache(); GraftBridge.drain(sc) }
    val (jobs, stages) = GraftBridge.jobsIn(sc, group)
    def sum(f: v1.StageData => Long): Long = stages.map(s => f(s._1)).sum
    def ms(j: v1.JobData): Long =
      j.completionTime.zip(j.submissionTime).fold(0L) { case (e, s) => e.getTime - s.getTime }
    println(s"$n: ${rec.getOrElse("wall_ms", "-")} ms, ${jobs.size} jobs")
    rec ++= Seq("scheduler.jobs" -> jobs.size, "scheduler.stages" -> stages.size,
      "scheduler.tasks" -> sum(_.numCompleteTasks),
      "scheduler.task_delay_ms" -> stages.map(_._2).sum,
      "executor.run_ms" -> sum(_.executorRunTime),
      "executor.cpu_ms" -> sum(_.executorCpuTime) / 1e6,
      "executor.gc_ms" -> sum(_.jvmGcTime),
      "shuffle.write_bytes" -> sum(_.shuffleWriteBytes),
      "shuffle.read_bytes" -> sum(_.shuffleReadBytes),
      "spill.disk_bytes" -> sum(_.diskBytesSpilled),
      "top_jobs" -> jobs.sortBy(-ms(_)).take(10).map(j => Map("job" -> j.jobId,
        "ms" -> ms(j), "stages" -> j.numCompletedStages,
        "tasks" -> j.numCompletedTasks, "desc" -> j.description.getOrElse(j.name))))
  }
}
