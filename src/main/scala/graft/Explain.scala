package graft

/** Plan-audit main: prints the formatted physical plan of each headline
  * query (or the names passed as extra args) so shuffle/broadcast/pushdown
  * posture can be reviewed. Usage: runMain graft.Explain <sfDir> [names...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.headline
    val spark = localSession(4)
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
