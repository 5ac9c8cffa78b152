import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, Row, SparkSession}

/** graft — a Spark-native (Scala) analytics engine with the query and
  * data-processing capabilities of Esri/weighted-raster-overlay-service-toolbox
  * (reference, read-only at /root/reference), extended with the operator
  * surface a 100 TB training-data pipeline needs (dedup, similarity search,
  * text analysis, streaming).
  *
  * Design: declarative DataFrame/Dataset plans that Catalyst can optimize
  * (pushdown, pruning, broadcast, AQE); custom Catalyst expressions only
  * where built-ins genuinely can't express the semantics (RFC-4180 decode).
  */
package object graft {
  /** Load a driver fixture table (TESTDATA.md) from a scale-factor dir.
    *
    * `events.ts` has shipped in two physical encodings across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4's vectorized
    * reader rejects outright — read as a long via legacy nanosAsLong and
    * rebuilt below) and plain TIMESTAMP(MICROS) isAdjustedToUTC=false
    * (which Spark reads as TIMESTAMP_NTZ). `rebuildEventTs` normalizes
    * either to session-zone TimestampType at microsecond precision so
    * every downstream operator sees one type regardless of generation.
    *
    * The session must be built with
    * `spark.sql.legacy.parquet.nanosAsLong=true` (all graft mains and the
    * test harness do) — setting it here per-read would mutate session-global
    * state at plan-build time, racy under concurrent plan construction.
    *
    * The schema comes from the table file's parquet footer, read on the
    * driver and converted by Spark's own footer-to-schema path — what
    * inference would find, without inference's Spark job. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read
      .schema(org.apache.spark.sql.execution.datasources.parquet
        .GraftFooters.schema(spark, path))
      .parquet(path)
    if (name == "events") rebuildEventTs(df) else df
  }

  /** The session of the measurement and diagnostic mains: `local[n]`
    * with n = SPARK_GRAFT_CPUS (else `defaultCpus`) cores and as many
    * shuffle partitions, UTC, `nanosAsLong` (see [[table]]), no UI,
    * ERROR logging — the confs the driver-contract mains (Bench,
    * BenchFew, Verify) set on their own sessions. */
  private[graft] def localSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run `body` in a clone of `spark` carrying `confs`
    * ([[GraftBridge.cloneSession]]), its jobs described as `op` (the
    * caller's description is restored afterwards); a DataFrame it
    * returns is re-homed into `spark`, so its later lazy plans run at
    * the caller's confs. Engine code never sets a conf on a session it
    * did not clone: a plan another thread materializes on `spark`
    * meanwhile (a concurrent request, a streaming micro-batch) plans at
    * the caller's confs.
    *
    * Confs act where a plan is planned and run, so `body` builds in the
    * clone, or re-homes into it ([[GraftBridge.rehome]]), whatever it
    * MATERIALIZES (checkpoint, action or write) before it returns. A
    * join plans in its receiver's session: a caller-session receiver
    * inside `body` still plans at the caller's confs. The iterative
    * operators' loop scope ([[Fixpoint.scoped]]), triangles (llm.Graph),
    * the AQE skew demo (ops.WroQueries), layout maintenance (ops.Layout)
    * and the file-rolling snapshot writes of snk22/snk26
    * (ops.RelQueries) run through it; j17 (ops.RelQueries) plans its
    * lazy result in a clone it keeps. */
  private[graft] def inClone[T](spark: SparkSession, op: String,
      confs: Map[String, String])(body: SparkSession => T): T =
    described(spark, op)(body(GraftBridge.cloneSession(spark, confs)) match {
      case df: Dataset[Row @unchecked] => GraftBridge.rehome(df, spark).asInstanceOf[T]
      case t => t
    })

  /** Run `body` with its jobs, those AQE and broadcast threads submit
    * included, described as `desc`; the caller's description is
    * restored afterwards. */
  private[graft] def described[T](spark: SparkSession, desc: String)(body: => T): T = {
    val caller = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(desc)
    try body finally spark.sparkContext.setJobDescription(caller)
  }

  /** Conditional scan-spread (optimization guide §2.5: "input skew — one
    * huge unsplittable file … repartition immediately after the read"):
    * hash-repartition `df` by `key` to the session's default parallelism
    * IFF its planned parallelism is below that. Compute-heavy per-row
    * derivations (shingling, gram explosion, hashed-feature folds,
    * multi-distinct Expand) otherwise run at the SCAN's split count —
    * the fixture tables are single-row-group parquet, so that is 2-6
    * tasks regardless of cores, and any production table arriving as a
    * few unsplittable files hits the same wall. At scale the condition
    * is a structural no-op (a large table has orders of magnitude more
    * splits than cores), so this is data-adaptive, never a local[32]
    * constant. The exchange moves the scan projection once, BEFORE the
    * k-times-larger derived stream exists; the EXPLICIT partition count
    * keeps AQE from byte-coalescing the small-bytes/heavy-compute stage
    * back to one task (the d24_triangles lesson), and hashing on a real
    * key keeps the assignment deterministic under task retry (guide
    * §2.5 rand-repartition caveat).
    *
    * SAFE ON ANY FRAME: the parallelism probe plans the frame, and on a
    * frame containing its own shuffle that planning would materialize
    * query stages under AQE — running the upstream jobs once EXTRA just
    * to be counted (stage reuse is per-QueryExecution, so the probe's
    * work would NOT be shared with the real run). Frames that are not
    * scan-level (anything beyond scans / local or checkpointed
    * relations / projections / filters / unions / aliases) are
    * therefore returned unchanged: their parallelism already comes
    * from an exchange, the very thing this helper substitutes for. */
  private[graft] def spreadScan(df: DataFrame, key: org.apache.spark.sql.Column)
      : DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def scanLevel(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: Union | _: SubqueryAlias =>
        p.children.forall(scanLevel)
      case leaf if leaf.children.isEmpty => true
      case _ => false
    }
    if (!scanLevel(df.queryExecution.analyzed)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target, key) else df
    }
  }

  /** Normalize the `ts` column to microsecond TimestampType — shared by
    * the batch reader above and streaming file sources (the rebuild must
    * be identical or batch-equivalence checks drift). Long = legacy
    * nanos-as-long (FLOOR division to us, not `div` truncation: DuckDB's
    * epoch_us() on TIMESTAMP_NS floors, and the two differ by 1us on
    * pre-epoch nanos). TIMESTAMP_NTZ = the micros generation; the cast to
    * session-zone timestamp is wall-clock identity under the UTC session
    * every graft main pins. */
  def rebuildEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
}
