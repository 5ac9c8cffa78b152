package perfbench

import graft.SparkEntry
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's engine-side runner. `run.py` writes a plan file (the
  * seeded operation stream and the run settings); this program builds
  * the Spark session, warms it up, runs the stream from one closed-loop
  * client and writes one JSON record per line to the results file, which
  * `run.py` turns into the reported metrics.
  *
  * Usage: perfbench.Main <plan file> <results file>
  *
  * Each operation goes through the engine's public entry point: the
  * constructor `SparkEntry.queries(name)(spark, dir)` (build), then the
  * output digest's `queryExecution.executedPlan` (plan), then its
  * `collect()` (action). Its latency is the sum of the three. */
object Main {
  final case class Op(kind: String, name: String)

  final case class Plan(settings: Map[String, String], warmup: Seq[String],
                        passes: Seq[Seq[Op]], record: Seq[String]) {
    def apply(k: String): String = settings.getOrElse(k,
      throw new IllegalArgumentException(s"plan has no '$k'"))
  }

  def readPlan(path: String): Plan = {
    val settings = mutable.Map.empty[String, String]
    var warmup = Seq.empty[String]
    var record = Seq.empty[String]
    val passes = mutable.ArrayBuffer.empty[Seq[Op]]
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty)
      .foreach { line =>
        val words = line.split("\\s+").toSeq
        words.head match {
          case "warmup" => warmup = words.tail
          case "record" => record = words.tail
          case "pass" => passes += words.tail.map { w =>
            val Array(kind, name) = w.split(":", 2)
            Op(kind, name)
          }
          case key => settings(key) = words.tail.mkString(" ")
        }
      }
    Plan(settings.toMap, warmup, passes.toSeq, record)
  }

  // ---- clock: nanoTime for durations, mapped to epoch ms for spans ----
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def epochMs(nano: Long): Double = baseEpochMs + (nano - baseNano) / 1e6

  def json(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case Some(x) => json(x)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
  }

  /** The results file: one JSON record per line, flushed as written. */
  final class Records(path: String) {
    private val out = new PrintWriter(path, "UTF-8")
    def apply(fields: (String, Any)*): Unit = {
      out.println(json(mutable.LinkedHashMap(fields: _*)))
      out.flush()
    }
    def close(): Unit = out.close()
  }

  def session(p: Plan): SparkSession = {
    val cores = p("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", p("local_dir"))
      .config("spark.sql.warehouse.dir", p("warehouse_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** This guest's busy CPU ticks and its steal ticks (time a vCPU was
    * ready to run but the hypervisor ran something else), summed over
    * all CPUs, from the first line of /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal ...
    (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
  }

  /** Share of the runnable CPU time between two cpuTicks() readings that
    * the hypervisor stole. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val steal = to._2 - from._2
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }

  /** One built, planned and executed operation. */
  final class Outcome(val name: String) {
    var digest: String = null
    var error: String = null
    var t0, t1, t2, t3 = 0L
    var steal = 0.0
    var analysisMs, optimizerMs, planningMs = 0L
    def latencyMs: Double = (t3 - t0) / 1e6
  }

  def runOp(spark: SparkSession, name: String, dir: String,
            group: String): Outcome = {
    val o = new Outcome(name)
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val ticks = cpuTicks()
    o.t0 = System.nanoTime()
    o.t1 = o.t0; o.t2 = o.t0
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      o.t1 = System.nanoTime()
      val digestDf = Digest.frame(df)
      digestDf.queryExecution.executedPlan
      o.t2 = System.nanoTime()
      val row = digestDf.collect().head
      o.t3 = System.nanoTime()
      o.digest = Digest.format(row, df)
      def phase(t: org.apache.spark.sql.catalyst.QueryPlanningTracker,
                n: String): Long = t.phases.get(n).map(_.durationMs).getOrElse(0L)
      val built = df.queryExecution.tracker
      val digested = digestDf.queryExecution.tracker
      o.analysisMs = phase(built, "analysis") + phase(digested, "analysis")
      o.optimizerMs = phase(digested, "optimization")
      o.planningMs = phase(digested, "planning")
    } catch {
      case NonFatal(e) =>
        o.t3 = System.nanoTime()
        o.error = s"${e.getClass.getName}: ${e.getMessage}"
    } finally sc.clearJobGroup()
    o.steal = stealShare(ticks, cpuTicks())
    o
  }

  /** Regular files under root. Spark's cleaner deletes shuffle files
    * concurrently, so a file or directory may vanish mid-walk: java.io.File
    * then reads as empty instead of throwing. */
  def files(root: File): Iterator[File] =
    Option(root.listFiles()).iterator.flatten.flatMap { f =>
      if (f.isDirectory) files(f) else Iterator(f)
    }

  def dirBytes(root: File): Long = files(root).map(_.length).sum

  /** Files the operation wrote under the IO root (checksum files aside). */
  def filesWrittenSince(root: File, sinceEpochMs: Double): Int =
    files(root).count { f =>
      !f.getName.endsWith(".crc") && f.lastModified >= sinceEpochMs - 1000
    }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  /** Memory the session still holds: heap in use after a full
    * collection, plus non-heap in use (classes, generated and JIT code).
    * The pause between the two collections lets Spark's ContextCleaner
    * drop the blocks whose references the first one cleared. */
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: perfbench.Main <plan file> <results file>")
    val plan = readPlan(args(0))
    val emit = new Records(args(1))
    if (plan.record.nonEmpty) record(plan, emit)
    else stream(plan, emit)
    emit.close()
  }

  /** Expected-digest recording: each listed operation once per data dir,
    * plus a parquet dump of the large-scale output and the oracle SQL,
    * in the layout `tools/check.py` compares against DuckDB. */
  def record(plan: Plan, emit: Records): Unit = {
    val spark = session(plan)
    val dump = plan("dump_dir")
    for (scale <- Seq("data", "tiny"); name <- plan.record) {
      val o = runOp(spark, name, plan(scale), name)
      if (scale == "data" && o.error == null)
        SparkEntry.queries(name)(spark, plan(scale)).coalesce(1)
          .write.mode("overwrite").parquet(s"$dump/$name")
      spark.catalog.clearCache()
      emit("type" -> "record", "scale" -> scale, "name" -> name,
        "digest" -> o.digest, "error" -> o.error, "ms" -> o.latencyMs)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => plan.record.contains(k) }
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), json(oracle))
    spark.stop()
  }

  def stream(plan: Plan, emit: Records): Unit = {
    val seconds = plan("seconds").toDouble
    val minPasses = plan("min_passes").toInt
    val traced = plan("trace") == "1"
    val localDir = new File(plan("local_dir"))
    // the engine's scratch-table root (graft.ops.ioDir), private to the run
    val ioRoot = new File("/tmp/graft_io")

    // set-up: session build plus the first answer to a probe query on
    // the small tables, several times; the first one is timed from JVM
    // start, the others from a fresh session
    var spark: SparkSession = null
    for (k <- 1 to plan("setups").toInt) {
      val startMs =
        if (k == 1) ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
        else epochMs(System.nanoTime())
      val ticks = cpuTicks()
      if (spark != null) spark.stop()
      spark = session(plan)
      val o = runOp(spark, plan("probe"), plan("tiny"), s"setup-$k")
      spark.catalog.clearCache()
      emit("type" -> "setup", "s" -> (epochMs(System.nanoTime()) - startMs) / 1000,
        "steal" -> stealShare(ticks, cpuTicks()),
        "name" -> o.name, "digest" -> o.digest, "error" -> o.error)
    }
    // warm-up: one pass over the workload's operations on the benchmark
    // tables, so first executions (class loading, code generation, the
    // first JIT tiers) fall outside the timed passes
    plan.warmup.foreach { name =>
      val o = runOp(spark, name, plan("data"), s"warmup-$name")
      spark.catalog.clearCache()
      emit("type" -> "warmup", "name" -> name, "ms" -> o.latencyMs,
        "steal" -> o.steal, "digest" -> o.digest, "error" -> o.error)
    }

    val sc = spark.sparkContext
    val listener = new LayerListener
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 0L
    def span(parent: Long, trace: Long, name: String, s: Double, e: Double): Long = {
      nextSpan += 1
      spans += Span(nextSpan, parent, trace, name, s, e)
      nextSpan
    }
    val order = plan.warmup.zipWithIndex.toMap
    val streamStart = System.nanoTime()
    var p = 0
    var seq = 0L
    while (p < plan.passes.size &&
           (p < minPasses || (System.nanoTime() - streamStart) / 1e9 < seconds)) {
      plan.passes(p).foreach { op =>
        seq += 1
        // tracing alternates per operation between passes, so each
        // operation is timed both ways and the overhead can be read off
        val on = traced && (p + order.getOrElse(op.name, 0)) % 2 == 0
        if (on) sc.addSparkListener(listener)
        val group = s"op-$seq"
        val o = runOp(spark, op.name, plan("data"), group)
        spark.catalog.clearCache()
        val fields = mutable.ArrayBuffer[(String, Any)](
          "type" -> "op", "pass" -> p, "seq" -> seq, "name" -> op.name,
          "kind" -> op.kind, "traced" -> on, "ms" -> o.latencyMs, "steal" -> o.steal,
          "digest" -> o.digest, "error" -> o.error)
        if (on) {
          PerfbenchBus.drain(sc)
          sc.removeSparkListener(listener)
          fields += "layers" -> layers(spark, o, listener.take(group), seq, span,
            localDir, ioRoot)
        }
        emit(fields.toSeq: _*)
      }
      p += 1
    }
    if (traced) writeSpans(plan("trace_out"), spans.toSeq)
    emit("type" -> "end", "peak_rss_mb" -> peakRssMb(), "retained_mb" -> retainedMb())
    spark.stop()
  }

  /** One traced operation's spans (op, its build / plan / action phases
    * and its jobs under the phase they started in) and layer record. The
    * residue probe runs here, after the operation's clearCache() and
    * outside its timed span. */
  def layers(spark: SparkSession, o: Outcome, c: LayerCounters, seq: Long,
             span: (Long, Long, String, Double, Double) => Long,
             localDir: File, ioRoot: File): mutable.LinkedHashMap[String, Double] = {
    val sc = spark.sparkContext
    val (s0, s1, s2, s3) = (epochMs(o.t0), epochMs(o.t1), epochMs(o.t2), epochMs(o.t3))
    val root = span(0, seq, s"op:${o.name}", s0, s3)
    val phases = Seq((s0, s1, span(root, seq, "build", s0, s1)),
      (s1, s2, span(root, seq, "plan", s1, s2)),
      (s2, s3, span(root, seq, "action", s2, s3)))
    val jobs = c.jobSpans.toSeq.map { case (id, a, b) => (id, a.toDouble, b.toDouble) }
    jobs.foreach { case (id, a, b) =>
      val parent = phases.find { case (ps, pe, _) => a >= ps && a <= pe }
        .map(_._3).getOrElse(root)
      span(parent, seq, s"job:$id", a, b)
    }
    val opMs = s3 - s0
    val cores = sc.defaultParallelism
    mutable.LinkedHashMap[String, Double](
      "ops.build_ms" -> (s1 - s0),
      "ops.build_jobs" -> jobs.count { case (_, a, _) => a <= s1 }.toDouble,
      "catalyst.analysis_ms" -> o.analysisMs.toDouble,
      "catalyst.optimizer_ms" -> o.optimizerMs.toDouble,
      "catalyst.planning_ms" -> o.planningMs.toDouble,
      "exec.action_ms" -> (s3 - s2),
      "scheduler.jobs" -> c.jobs.toDouble,
      "scheduler.stages" -> c.stagesRun.size.toDouble,
      "scheduler.stages_skipped" -> (c.stagesDeclared -- c.stagesRun).size.toDouble,
      "scheduler.tasks" -> c.tasks.toDouble,
      "scheduler.task_failures" -> c.taskFailures.toDouble,
      "scheduler.task_delay_ms" -> c.taskDelayMs.toDouble,
      "scheduler.idle_ms" -> (opMs - Spans.covered(jobs.map(j => (j._2, j._3)), s0, s3)),
      "executor.run_ms" -> c.runMs.toDouble,
      "executor.cpu_ms" -> c.cpuNs / 1e6,
      "executor.gc_ms" -> c.gcMs.toDouble,
      "executor.busy_ratio" -> (if (opMs > 0) c.runMs / (opMs * cores) else 0.0),
      "shuffle.write_bytes" -> c.shuffleWriteBytes.toDouble,
      "shuffle.read_bytes" -> c.shuffleReadBytes.toDouble,
      "shuffle.fetch_wait_ms" -> c.fetchWaitMs.toDouble,
      "spill.disk_bytes" -> c.spillDiskBytes.toDouble,
      "io.read_bytes" -> c.ioReadBytes.toDouble,
      "io.write_bytes" -> c.ioWriteBytes.toDouble,
      "io.files_out" -> filesWrittenSince(ioRoot, s0).toDouble,
      "storage.rdds_held" -> sc.getPersistentRDDs.size.toDouble,
      "storage.mem_mb" -> sc.getExecutorMemoryStatus.values
        .map { case (max, free) => (max - free).toDouble }.sum / (1 << 20),
      "storage.shuffle_dir_mb" -> dirBytes(localDir) / (1 << 20).toDouble)
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val children = spans.groupBy(_.parent)
    val w = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(json(mutable.LinkedHashMap(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs,
        "self_ms" -> Spans.selfMs(s, children.getOrElse(s.id, Nil)))))
    } finally w.close()
  }
}
