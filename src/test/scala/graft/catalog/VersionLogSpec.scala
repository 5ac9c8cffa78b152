package graft.catalog

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import scala.util.Try

/** [[SnapshotTable]] and [[SnapshotGroup]] read one version log: built
  * from the same commit-timestamp sequence, a table (whatever its
  * checkpoint seam or folded summary) and a group resolve every as-of
  * timestamp to the same version, and the table's history reports the
  * same effective clock, as a reference fold written out here. */
class VersionLogSpec extends SparkSpec {

  private def freshRoot(kind: String): String =
    java.nio.file.Files.createTempDirectory("vlog").toString + "/" + kind

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Both writers' manifest formats, hand-rolled (no data writes): only
    * the log is read. None = a ts-less manifest (an old writer). */
  private def build(ts: Seq[Option[Long]]): (String, String) = {
    val table = freshRoot("t")
    val group = freshRoot("g")
    val schema = java.util.Base64.getEncoder
      .encodeToString("k BIGINT".getBytes("UTF-8"))
    ts.zipWithIndex.foreach { case (t, i) =>
      val v = i + 1L
      val tsField = t.map(x => s""","ts":$x""").getOrElse("")
      SnapshotTable.createManifestExclusive(fs(table), table, v,
        (s"""{"version":$v,"base":${v - 1}$tsField,""" +
          s""""entries":["data-fake-$v"],"schema":"$schema"}""")
          .getBytes("UTF-8"), None)
      SnapshotTable.createManifestExclusive(fs(group), group, v,
        (s"""{"version":$v,"base":${v - 1}$tsField,"tables":""" +
          s"""{"t":{"dir":"data-fake-$v/t","schema":"$schema"}}}""")
          .getBytes("UTF-8"), None)
    }
    (table, group)
  }

  /** The effective clock, folded from the raw sequence: the first
    * recorded timestamp, then max(raw, previous + 1); a ts-less version
    * has none and leaves the clock where it was. */
  private def effective(ts: Seq[Option[Long]]): Seq[Option[Long]] =
    ts.scanLeft((Option.empty[Long], Option.empty[Long])) {
      case ((clock, _), raw) =>
        val e = raw.map(r => clock.fold(r)(c => math.max(r, c + 1)))
        (e.orElse(clock), e)
    }.tail.map(_._2)

  /** Resolution from the reference clock: the latest version whose
    * effective timestamp is ≤ probe, walking until the clock reaches the
    * probe; a ts-less version met before that, or no such version,
    * refuses. */
  private def expected(ts: Seq[Option[Long]], probe: Long): Either[String, Long] = {
    val eff = effective(ts)
    var clock = Option.empty[Long]
    var best = 0L
    var i = 0
    while (!clock.exists(_ >= probe) && i < ts.length) {
      if (eff(i).isEmpty) return Left("ts-less")
      if (eff(i).get <= probe) best = i + 1L
      clock = eff(i)
      i += 1
    }
    if (best > 0) Right(best) else Left("precedes")
  }

  private def outcome(resolve: => Long): Either[String, Long] =
    Try(resolve).toEither.left.map {
      case _: IllegalArgumentException => "precedes"
      case e => if (e.getMessage.contains("records no commit timestamp"))
        "ts-less" else e.toString
    }

  /** Seeded commit-timestamp sequences: clock skew, ties, a clock that
    * runs backwards, each with a ts-less tail of 0-3 versions. All are
    * epoch millis ≥ 0, the only timestamps a commit records. */
  private def sequences(seed: Int): Seq[(String, Seq[Option[Long]])] = {
    val rnd = new scala.util.Random(seed)
    val n = 12 + rnd.nextInt(12)
    val run = 2 + rnd.nextInt(3)
    def tail = Seq.fill(rnd.nextInt(4))(Option.empty[Long])
    Seq(
      "skewed" -> ((1 to n).map(i => Some(10000L + 1000L * i + rnd.nextInt(3001) - 1500L)) ++ tail),
      "tied" -> ((1 to n).map(i => Some(5000L + 1000L * (i / run))) ++ tail),
      "decreasing" -> ((1 to n).map(i => Some(100000L - 700L * i)) ++ tail))
  }

  /** Every raw and effective timestamp, one either side, and the ends. */
  private def probes(ts: Seq[Option[Long]]): Seq[Long] = {
    val pts = (ts.flatten ++ effective(ts).flatten).distinct
    (pts.flatMap(p => Seq(p - 1, p, p + 1)) ++
      Seq(pts.min - 1000L, pts.max + 1000L)).distinct.sorted
  }

  test("a table with a checkpoint at any seam and a group resolve every " +
       "timestamp alike; history's effective_ts is the reference clock") {
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed * 31)
      sequences(seed).foreach { case (shape, ts) =>
        val (table, group) = build(ts)
        val seam = rnd.nextInt(ts.length + 1) // 0 = no checkpoint
        if (seam > 0) assert(SnapshotTable.writeCheckpoint(fs(table), table, seam))
        probes(ts).foreach { p =>
          val want = expected(ts, p)
          assert(outcome(SnapshotTable.versionAsOf(spark, table, p)) == want,
            s"$shape seed $seed seam $seam: table as-of $p")
          assert(outcome(SnapshotGroup.versionAsOf(spark, group, p)) == want,
            s"$shape seed $seed: group as-of $p")
        }
        val hist = SnapshotTable.history(spark, table).collect()
          .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
        assert(hist.toSeq == effective(ts).zipWithIndex.map { case (e, i) =>
          (i + 1L) -> e }, s"$shape seed $seed seam $seam: history")
      }
    }
  }

  test("a table whose checkpoint folds vacuumed records into its summary " +
       "still resolves like the group wherever the version survives") {
    val prevCap = SnapshotTable.checkpointRecordCap
    try {
      SnapshotTable.checkpointRecordCap = 3
      (1 to 4).foreach { seed =>
        sequences(seed).foreach { case (shape, ts) =>
          val (table, group) = build(ts)
          val n = ts.length.toLong
          // drop all but the last 6 versions, then roll again: records
          // beyond the cap that were vacuumed fold into the summary
          SnapshotTable.vacuum(spark, table, keepLast = 6, minAgeMs = 0L)
          assert(SnapshotTable.writeCheckpoint(fs(table), table, n))
          val ck = SnapshotTable.latestCheckpoint(fs(table), table).get
          assert(ck.summV > 0L, s"$shape seed $seed: nothing folded: $ck")
          val firstLive = n - 5
          probes(ts).foreach { p =>
            val want = expected(ts, p)
            assert(outcome(SnapshotGroup.versionAsOf(spark, group, p)) == want)
            val got = outcome(SnapshotTable.versionAsOf(spark, table, p))
            want match {
              case Right(v) if v < firstLive =>
                // the version was vacuumed: every survivor is later
                assert(got == Left("precedes"), s"$shape seed $seed: as-of $p")
              case _ =>
                assert(got == want, s"$shape seed $seed: table as-of $p")
            }
          }
          val hist = SnapshotTable.history(spark, table).collect()
            .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
          assert(hist.toSeq == effective(ts).zipWithIndex.map { case (e, i) =>
            (i + 1L) -> e }.filter(_._1 >= firstLive),
            s"$shape seed $seed: folded history")
        }
      }
    } finally SnapshotTable.checkpointRecordCap = prevCap
  }
}
