package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}

/** Pins the commit log's contract: the line format, the two atomic
  * publish modes and what `latest`/`readManifest` take for a version. */
class CommitLogSpec extends SparkSpec {

  private def table(prefix: String): (Path, FileSystem) = {
    val root = new Path(testDir(prefix).toString)
    (root, root.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  test("a zero-line manifest is an empty version at once — the racing " +
      "commit loop runs over an empty table without waiting") {
    val (root, fs) = table("graft_log_empty_")
    assert(CommitLog.publish(fs, root, 0, Nil))
    assert(CommitLog.readManifest(fs, CommitLog.manifestPath(root, 0)) ===
      CommitLog.Manifest(Nil, Nil))

    // snapshot_concurrent over an events table with no rows: its
    // partitioned write leaves no data files, so v0 lists none and both
    // racing writers must read that empty v0 as a complete version
    val dir = testDir("graft_log_empty_sf_").toString
    graft.Tables.events(spark, sf).limit(0)
      .write.parquet(s"$dir/events.parquet")
    val t0 = System.nanoTime()
    val stats = Layout.snapConcBuild(spark, dir)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(stats.v0.isEmpty)
    assert(stats.committed.values.toSeq.sorted === Seq(1, 2))
    assert(stats.attempts.values.toSeq.sorted === Seq(1, 2))
    val sroot = new Path(stats.path)
    (0 to 2).foreach { v =>
      assert(CommitLog.readManifest(fs, CommitLog.manifestPath(sroot, v))
        .files.isEmpty)
    }
    assert(secs < 10.0, s"the race took $secs s over an empty table")
  }

  test("an exclusive publish to a taken slot returns false and leaves " +
      "the slot's bytes and the log dir unchanged") {
    val (root, fs) = table("graft_log_excl_")
    assert(CommitLog.publish(fs, root, 1, Seq("b.parquet", "a.parquet"),
      Map("a.parquet" -> (1L, 5L))))
    val mf = java.nio.file.Paths.get(CommitLog.manifestPath(root, 1).toUri.getPath)
    val before = Files.readAllBytes(mf)
    assert(new String(before, UTF_8) === "a.parquet\t1\t5\nb.parquet")
    assert(!CommitLog.publish(fs, root, 1, Seq("c.parquet")))
    assert(Files.readAllBytes(mf).toSeq === before.toSeq)
    assert(Files.list(mf.getParent).count() === 1L,
      "a lost publish must remove its temp file")
  }

  test("latest ignores in-flight temp files and is -1 on an empty log") {
    val (root, fs) = table("graft_log_latest_")
    assert(CommitLog.latest(fs, root) === -1)
    assert(CommitLog.publish(fs, root, 0, Seq("a.parquet")))
    assert(CommitLog.publish(fs, root, 1, Seq("b.parquet")))
    // a publish of v2 and a replace of v7 caught mid-flight: body
    // staged, not yet linked/renamed into its slot
    Seq(2, 7).foreach { v =>
      val tmp = CommitLog.tempPath(CommitLog.manifestPath(root, v))
      val os = fs.create(tmp, false)
      os.write("c.parquet".getBytes(UTF_8)); os.close()
    }
    assert(CommitLog.latest(fs, root) === 1)
  }

  test("AnnIndexStore manifest golden: the fingerprint header line, " +
      "then one `relpath\\tmin\\tmax` line per data file, sorted, " +
      "newline-separated with no trailing newline") {
    import org.apache.spark.sql.functions.{max, min}
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_annidx_specgold_${graft.Util.pathTag(sf)}")
    graft.Util.deleteRecursively(root)
    try {
      import spark.implicits._
      val fp = "specgold-params\nfile-a:1:2"
      AnnIndexStore.commit(spark, "specgold", sf,
        Seq((3L, 30L), (1L, 10L), (7L, 70L)).toDF("v", "w"), "v", fp)
      val files = {
        val walk = Files.walk(root)
        try walk.iterator().asScala.toSeq finally walk.close()
      }.filter(_.getFileName.toString.matches("part-.*\\.parquet"))
        .map(root.relativize(_).toString).sorted
      assert(files.nonEmpty)
      val lines = files.map { f =>
        val r = spark.read.parquet(root.resolve(f).toString)
          .agg(min("v"), max("v")).head()
        s"$f\t${r.getLong(0)}\t${r.getLong(1)}"
      }
      val golden =
        (s"#fp_sha256=${graft.Util.sha256Hex(fp)}" +: lines).mkString("\n")
      val got = new String(Files.readAllBytes(
        root.resolve("_graft_log").resolve("v0.txt")), UTF_8)
      assert(got === golden)
    } finally graft.Util.deleteRecursively(root)
  }
}
