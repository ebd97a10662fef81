package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Pins the physical properties `table_snapshot`'s oracle can't see:
  * copy-on-write file sharing between versions, immutability of
  * superseded files, and snapshot isolation of the v0 read. */
class SnapshotSpec extends SparkSpec {

  test("snapshot_skipping: every manifest line carries footer stats, " +
      "a quartile-wide range query reads FEWER files than live (the " +
      "scan's numFiles metric = the pruned count), and the pruned " +
      "read equals the unpruned filter row-for-row") {
    val path = Layout.snapshotSkipBuild(spark, sf)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = CommitLog.readManifest(fs, new Path(root, "_graft_log/v0.txt")).entries
    assert(entries.nonEmpty && entries.forall(_._2.isDefined),
      "every committed file must carry min/max stats")
    val stats = entries.flatMap(_._2)
    val (mn, mx) = (stats.map(_._1).min, stats.map(_._2).max)
    val lo = mn + (mx - mn) / 4
    val hi = mn + 3L * (mx - mn) / 8

    val (pruned, nRead, nLive) = Layout.readSnapshotPruned(spark, path, 0, lo, hi)
    assert(nRead < nLive, s"pruning must skip files: read $nRead of $nLive")
    assert(nRead >= 1, "the slice overlaps at least one file")

    val prunedRows = pruned
      .filter(s"event_id >= $lo AND event_id <= $hi")
      .orderBy("event_id").collect()
    // physical pin: the scan was PLANNED over only the kept files
    val scanned = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }
    assert(scanned === Seq(nRead),
      s"scan file count $scanned must equal the pruned count $nRead")
    // correctness pin: pruning lost nothing a full read would return
    val full = spark.read.parquet(path)
      .filter(s"event_id >= $lo AND event_id <= $hi")
      .orderBy("event_id").collect()
    assert(prunedRows.toSeq === full.toSeq)

    // degrade-to-correct: a stat-less manifest line is never pruned
    val plain = entries.map(_._1)
    val p2 = new Path(root, "_graft_log/v99.txt")
    val os = fs.create(p2, true)
    os.write(plain.mkString("\n").getBytes("UTF-8"))
    os.close()
    val (_, nRead2, nLive2) = Layout.readSnapshotPruned(spark, path, 99, lo, hi)
    assert(nRead2 === nLive2, "missing stats must keep every file")
  }

  test("table_snapshot: v1 shares every untouched partition file with " +
      "v0 (copy-on-write), superseded click files stay on disk, and " +
      "the v0 read after the v1 commit is still exactly the base state") {
    val path = Layout.snapshotBuild(spark, sf)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val v0 = CommitLog.readManifest(fs, new Path(root, "_graft_log/v0.txt")).files
    val v1 = CommitLog.readManifest(fs, new Path(root, "_graft_log/v1.txt")).files
    val (v0Click, v0Rest) = v0.partition(_.startsWith("event_type=click/"))
    val (v1Click, v1Rest) = v1.partition(_.startsWith("event_type=click/"))

    // COW cheapness: every untouched-partition file is SHARED, not
    // copied — the two manifests reference the same physical files.
    assert(v0Rest.toSet === v1Rest.toSet,
      "untouched partition files must be shared between versions")
    // The rewritten partition got fresh files...
    assert(v0Click.nonEmpty && v1Click.nonEmpty &&
      v0Click.toSet.intersect(v1Click.toSet).isEmpty,
      "v1 must replace, not reuse, the rewritten partition's files")
    // ...and the superseded v0 files were never deleted (time travel
    // depends on it).
    v0Click.foreach(f =>
      assert(fs.exists(new Path(root, f)), s"superseded file $f deleted"))

    // Snapshot isolation: v0 read AFTER the v1 commit == base state.
    val base = graft.Tables.events(spark, sf)
      .selectExpr("event_id", "user_id",
        "CAST(round(value * 100) AS BIGINT) AS cents", "event_type")
      .orderBy("event_id").collect()
    val snap0 = Layout.readSnapshot(spark, path, 0)
      .selectExpr("event_id", "user_id", "cents", "event_type")
      .orderBy("event_id").collect()
    assert(snap0.toSeq === base.toSeq)

    // v1 = the update: click cents doubled, everything else untouched.
    val snap1 = Layout.readSnapshot(spark, path, 1)
      .selectExpr("event_id", "user_id", "cents", "event_type")
      .orderBy("event_id").collect()
    assert(snap1.length === base.length)
    base.zip(snap1).foreach { case (b, s) =>
      val factor = if (b.getString(3) == "click") 2L else 1L
      assert(s.getLong(2) === b.getLong(2) * factor)
    }
  }

  test("snapshot_expire: vacuum deletes exactly the v0-only files (a " +
      "pure manifest set-difference), never live bytes; the v1 read " +
      "survives unchanged") {
    val path = Layout.snapshotBuild(spark, sf)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = CommitLog.readManifest(fs, new Path(root, "_graft_log/v0.txt")).files
    val v1 = CommitLog.readManifest(fs, new Path(root, "_graft_log/v1.txt")).files
    val before = Layout.readSnapshot(spark, path, 1)
      .orderBy("event_id").collect()

    val deleted = Layout.vacuumBelow(spark, path, keep = 1)

    // exactly the superseded set, nothing else
    assert(deleted.toSet === v0.toSet -- v1.toSet)
    deleted.foreach(f =>
      assert(!fs.exists(new Path(root, f)), s"live-looking file $f kept?"))
    v1.foreach(f =>
      assert(fs.exists(new Path(root, f)), s"live file $f deleted"))
    assert(!fs.exists(new Path(root, "_graft_log/v0.txt")))
    // the surviving version reads byte-identically after the vacuum
    val after = Layout.readSnapshot(spark, path, 1)
      .orderBy("event_id").collect()
    assert(after.toSeq === before.toSeq)
  }

  test("snapshot_concurrent: both writers race the SAME v1 slot, exactly " +
      "one loses and retries onto v2, the winner's v1 is a consistent " +
      "single-rewrite snapshot, and v2 carries BOTH rewrites") {
    val stats = Layout.snapConcBuild(spark, sf)
    val root = new Path(stats.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // exactly one conflict: the barrier makes both writers attempt v1,
    // so the winner commits in 1 attempt, the loser in 2 — never 0 or
    // 2 conflicts
    assert(stats.committed.values.toSeq.sorted === Seq(1, 2),
      s"committed=${stats.committed}")
    assert(stats.attempts.values.toSeq.sorted === Seq(1, 2),
      s"attempts=${stats.attempts}")
    val winner = stats.committed.collectFirst { case (p, 1) => p }.get
    val loser = stats.committed.collectFirst { case (p, 2) => p }.get
    assert(stats.attempts(winner) === 1 && stats.attempts(loser) === 2)

    val v0 = stats.v0.toSet
    val v1 = CommitLog.readManifest(fs, new Path(root, "_graft_log/v1.txt")).files
      .toSet
    val v2 = CommitLog.readManifest(fs, new Path(root, "_graft_log/v2.txt")).files
      .toSet
    def part(files: Set[String], p: String): Set[String] =
      files.filter(_.startsWith(s"event_type=$p/"))

    // v1 = the winner's single rewrite on base: its partition swapped
    // to its fresh files, every other file (including the loser's
    // still-uncommitted partition) shared with v0
    assert(part(v1, winner) === stats.files(winner).toSet)
    assert(v1 -- part(v1, winner) === v0 -- part(v0, winner),
      "v1 must share every untouched file with v0")
    // v2 = the loser's rebase on v1: BOTH rewrites present, every
    // untouched partition still shared with v0
    assert(part(v2, winner) === stats.files(winner).toSet)
    assert(part(v2, loser) === stats.files(loser).toSet)
    assert(v2 -- part(v2, winner) -- part(v2, loser)
      === v0 -- part(v0, winner) -- part(v0, loser))
    // optimistic concurrency never deletes: all of v0 stays on disk
    stats.v0.foreach(f =>
      assert(fs.exists(new Path(root, f)), s"v0 file $f deleted"))
    // and no version beyond v2 was ever committed
    assert(!fs.exists(new Path(root, "_graft_log/v3.txt")))
  }

  test("merge_concurrent: the version CAS detects the write-write " +
      "conflict, the loser RECOMPUTES its merge on the winner's base " +
      "(never rebases stale output), aborted stages vanish, and no " +
      "update is lost") {
    import org.apache.spark.sql.functions._
    val stats = Layout.mergeConcBuild(spark, sf)
    val root = new Path(stats.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // exactly one conflict: winner commits v1 in 1 attempt, loser v2
    // in 2
    assert(stats.committed.values.toSeq.sorted === Seq(1, 2),
      s"committed=${stats.committed}")
    assert(stats.attempts.values.toSeq.sorted === Seq(1, 2),
      s"attempts=${stats.attempts}")
    // lost-update-impossible MECHANICS: the loser computed its merge
    // TWICE — the output built on the replaced base was discarded and
    // re-derived from the winner's committed state, not rebased
    assert(stats.computes.values.toSeq.sorted === Seq(1, 2),
      s"computes=${stats.computes}")
    val winner = stats.committed.collectFirst { case (p, 1) => p }.get
    val loser = stats.committed.collectFirst { case (p, 2) => p }.get
    assert(stats.computes(loser) === 2 && stats.computes(winner) === 1)

    // v2 references ONLY the loser's second stage (full-rewrite merge
    // on the winner's base); the aborted first stage is deleted
    val v2 = CommitLog.readManifest(fs, new Path(root, "_graft_log/v2.txt")).files
      .toSet
    assert(v2.nonEmpty && v2.forall(_.startsWith(s"stage_${loser}_1/")),
      s"v2=$v2")
    assert(!fs.exists(new Path(root, s"stage_${loser}_0")),
      "the loser's aborted stage must be deleted on conflict")
    // v1 = the winner's merge over v0
    val v1 = CommitLog.readManifest(fs, new Path(root, "_graft_log/v1.txt")).files
      .toSet
    assert(v1.nonEmpty && v1.forall(_.startsWith(s"stage_${winner}_0/")))
    assert(!fs.exists(new Path(root, "_graft_log/v3.txt")))

    // the final-state check the oracle also hashes, asserted row-wise
    // here: EVERY id carries both increments over base (mod-15 ids got
    // +110) — a lost update would leave the winner's or loser's delta
    // missing on the overlap
    val base = graft.Tables.events(spark, sf)
      .select(col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("b"))
    val fin = Layout.readSnapshot(spark, stats.path, 2)
      .select(col("event_id"), col("cents"))
    val bad = fin.join(base, "event_id")
      .filter(col("cents") =!= col("b")
        + when(pmod(col("event_id"), lit(3)) === 0, 10L).otherwise(0L)
        + when(pmod(col("event_id"), lit(5)) === 0, 100L).otherwise(0L))
      .count()
    assert(bad === 0L, s"$bad rows lost an update")
  }

  test("an empty events table: every snapshot key returns zero rows " +
      "with its usual columns (a version listing no files reads with " +
      "the table's schema, an empty stats list prunes to nothing)") {
    val dir = testDir("snapshot_empty_").toString
    spark.read.parquet(s"$sf/events.parquet").limit(0)
      .write.parquet(s"$dir/events.parquet")
    val cols = Seq("event_id", "user_id", "cents", "event_type")
    Seq("table_snapshot" -> (cols :+ "version"), "snapshot_expire" -> cols,
        "snapshot_skipping" -> cols, "snapshot_concurrent" -> cols,
        "merge_concurrent" -> cols).foreach { case (key, want) =>
      val df = graft.SparkEntry.queries(key)(spark, dir)
      assert(df.columns.toSeq === want, key)
      assert(df.count() === 0L, key)
    }
  }
}
