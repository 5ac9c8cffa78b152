package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared conventions for the declared-query modules.
  *
  * Each `*Queries` object declares its queries once, in one
  * `Seq[Query]`: a name, the plan the driver runs, and the DuckDB SQL
  * that must return the same rows. Its `queries` (name → plan) and
  * `oracle` (name → SQL) maps, which `SparkEntry` concatenates, are
  * derived from that list by [[registry]], so a plan cannot lose its
  * gate and a repeated name throws instead of silently replacing an
  * entry. */
package object ops {

  /** One declared query. `oracle` is required: every query is gated by
    * DuckDB SQL over the same fixture tables. */
  final case class Query(
      name: String,
      plan: (SparkSession, String) => DataFrame,
      oracle: String)

  /** A module's declarations as the name → plan and name → SQL maps
    * `SparkEntry` reads; throws IllegalArgumentException if a name is
    * declared twice. */
  private[graft] def registry(declared: Seq[Query])
      : (Map[String, (SparkSession, String) => DataFrame],
         Map[String, String]) = {
    val twice = declared.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    require(twice.isEmpty,
      s"query declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    (declared.map(q => q.name -> q.plan).toMap,
     declared.map(q => q.name -> q.oracle).toMap)
  }

  /** Scratch directory for queries that exercise a real write+read-back
    * (sources, sinks, persisted indexes). One path convention for the
    * whole suite: the SF token keeps its dot so distinct SFs never
    * collide ("/tmp/graft_io/<name>-0.01"). */
  private[graft] def ioDir(dir: String, name: String): String = {
    val sf = dir.replaceAll("[^0-9.]", "")
    s"/tmp/graft_io/$name-$sf"
  }
}
