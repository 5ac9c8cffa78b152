package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import java.util.concurrent.ConcurrentHashMap

/** Measurement tool (guide §1): runs declared queries once (after a
  * warm-up rep) with a listener that attributes wall-clock to Spark JOBS,
  * so "where do the seconds go" is answered at job granularity — the unit
  * that exposes per-materialization scheduling overhead in iterative
  * operators (each localCheckpoint / AQE stage submission is its own job).
  *
  * Usage: runMain graft.Profile <sfDir> <query> [query...]
  * Prints, per query: total wall, job count, stage count, task count, and
  * the top jobs by duration with their descriptions.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [query...]")
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = localSession(32)

    case class Job(id: Int, start: Long, var end: Long = -1L,
                   var stages: Int = 0, var tasks: Int = 0,
                   desc: String)
    val jobs = new ConcurrentHashMap[Int, Job]()
    // stage → owning job, from SparkListenerJobStart.stageIds (r13,
    // ADVICE r12 #4): the former latest-live-job heuristic misattributed
    // stages when a single query ran concurrent jobs (broadcast-exchange
    // jobs race the main job under AQE)
    val stageOwner = new ConcurrentHashMap[Integer, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, e.time, desc = d))
        e.stageIds.foreach(sid =>
          stageOwner.put(Integer.valueOf(sid), Integer.valueOf(e.jobId)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val owner = stageOwner.get(Integer.valueOf(e.stageInfo.stageId))
        val j = if (owner != null) jobs.get(owner.intValue()) else null
        if (j != null) { j.stages += 1; j.tasks += e.stageInfo.numTasks }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      // warm-up rep: page cache + codegen, untimed
      SparkEntry.queries(n)(spark, sfDir).count()
      spark.catalog.clearCache()
      // drain the async listener bus before clearing, or late warm-up
      // job events re-insert themselves into the timed rep's map
      Thread.sleep(500)
      jobs.clear()
      stageOwner.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // let listener events drain (the bus is private[spark]; a short
      // sleep suffices for a measurement tool)
      Thread.sleep(500)
      val js = jobs.values().toArray(Array.empty[Job]).sortBy(_.id)
      val jobSum = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      println(f"\n===== $n: wall $wall%.2f s, ${js.length} jobs " +
        f"(sum ${jobSum}%.2f s), ${js.map(_.stages).sum} stages, " +
        f"${js.map(_.tasks).sum} tasks =====")
      js.foreach { j =>
        val d = math.max(0L, j.end - j.start) / 1e3
        println(f"  job ${j.id}%4d ${d}%6.3f s  stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d  ${j.desc.take(90)}")
      }
    }
    spark.stop()
  }
}
