package graft

import org.apache.spark.sql.functions._

/** Diagnostic: the ANN cell-size distribution knnGraph/semDedup
  * actually get at a given SF — the sizing-law instrument (usage:
  * runMain graft.CellDiag <sfDir>). */
object CellDiag {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = localSession(32)
    import graft.llm.KMeans
    val e = table(spark, dir, "embeddings")
    val q = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), KMeans.quantize(col("v")).as("qv"))
      .localCheckpoint()
    val n = q.count()
    val effK = math.max(8L, n / 64).toInt
    val t0 = System.nanoTime()
    val cb = KMeans.codebook2Q(q.select("vec_id", "qv"), effK)
      .localCheckpoint()
    val kGot = cb.count()
    println(f"n=$n effK=$effK codebookRows=$kGot " +
      f"train=${(System.nanoTime() - t0) / 1e9}%.1f s")
    val t1 = System.nanoTime()
    val members = q.crossJoin(broadcast(cb))
      .select(col("vec_id"),
              KMeans.sqDist(col("qv"), col("cv")).as("dist"), col("cid"))
      .groupBy("vec_id")
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))
    val sizes = members.groupBy("cid").agg(count(lit(1)).as("sz"))
      .localCheckpoint()
    println(f"assign=${(System.nanoTime() - t1) / 1e9}%.1f s")
    val stats = sizes.agg(count(lit(1)).as("cells"), max("sz").as("max"),
      avg("sz").as("avg"),
      expr("percentile(sz, 0.99)").as("p99")).head()
    println(s"cells=${stats.getLong(0)} maxCell=${stats.getLong(1)} " +
      f"avg=${stats.getDouble(2)}%.1f p99=${stats.getDouble(3)}%.0f")
    sizes.orderBy(col("sz").desc).limit(10).collect()
      .foreach(r => println(s"  cell ${r.get(0)} -> ${r.getLong(1)}"))
    val pairs = sizes.agg(sum(col("sz") * col("sz"))).head().getLong(0)
    println(s"pairJoinRows=$pairs")
    spark.stop()
  }
}
