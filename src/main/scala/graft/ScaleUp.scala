package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 soak-data generator: replicate an existing SF dir `copies`×
  * with COPY-DISJOINT keys, writing one parquet FILE per table (the
  * layout the DuckDB comparator reads). Used for the scale soak only —
  * the driver's own sf dirs stay untouched and authoritative.
  *
  * Replication rules (each chosen so the workload SCALES LINEARLY in
  * data volume instead of inheriting artifacts of naive duplication):
  *  - `lineitem`: l_orderkey shifts by copy·(max+1) — copies are
  *    key-disjoint; modular patterns (cell ids, planted skew) repeat
  *    per copy, which is the intent: 10× the fact rows over the same
  *    bounded raster domain.
  *  - `documents`: doc_id shifts; every TOKEN gets a copy prefix
  *    (`cK_`). A per-copy injective token map preserves within-copy
  *    word-shingle Jaccard/containment/substring structure EXACTLY
  *    while zeroing cross-copy shingle overlap — without it, every doc
  *    would gain copies−1 exact twins and near-dup pair counts would
  *    grow QUADRATICALLY in copies, poisoning the scaling measurement.
  *  - `embeddings`: vec_id shifts; the vector gets a tiny copy-scaled
  *    rotation-free perturbation on one coordinate so cross-copy
  *    cosine twins don't blow up ANN candidate sets the same way.
  *  - small dims (`region nation customer supplier part orders
  *    events`): copied through unchanged — the soak queries don't
  *    scale them, and oracle SQL needs the tables present.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <dstDir> <copies>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val spark = localSession(16)
    spark.sparkContext.setLogLevel("WARN")

    /** Write df as a SINGLE parquet file at dst/<name>.parquet (the
      * file-per-table layout the DuckDB comparator expects). */
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/.tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val hconf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(hconf)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      val target = new org.apache.hadoop.fs.Path(s"$dst/$name.parquet")
      fs.delete(target, false)
      require(fs.rename(part, target), s"rename failed for $name")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      System.err.println(s"[scaleup] $name: ${fs.getFileStatus(target).getLen} bytes")
    }

    def replicate(df: DataFrame, transform: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until copies).map(k => transform(df, k)).reduce(_ unionByName _)

    // lineitem: copy-shifted order keys
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val liShift = li.agg(max("l_orderkey")).head.getLong(0) + 1
    writeOne(replicate(li, (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * liShift))),
      "lineitem")

    // documents: copy-shifted ids + injective per-copy token map
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docShift = docs.agg(max("doc_id")).head.getLong(0) + 1
    writeOne(replicate(docs, (d, k) =>
      d.select(
        (col("doc_id") + lit(k * docShift)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          w => concat(lit(s"c${k}_"), w))).as("text"),
        col("lang"), col("source"))
       .withColumn("n_chars", length(col("text")))),
      "documents")

    // embeddings: copy-shifted ids, first coordinate nudged per copy
    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val vecShift = embs.agg(max("vec_id")).head.getLong(0) + 1
    writeOne(replicate(embs, (d, k) =>
      d.select(
        (col("vec_id") + lit(k * vecShift)).as("vec_id"),
        transform(col("embedding"),
          (v, i) => when(i === 0, v + lit(k * 0.37f)).otherwise(v))
          .as("embedding"),
        col("label"))),
      "embeddings")

    // pass-through tables so oracle SQL and Tables.register resolve
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "events").foreach { t =>
      writeOne(spark.read.parquet(s"$src/$t.parquet"), t)
    }
    spark.stop()
  }
}
