package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one on-disk table format of the engine: a directory of
  * immutable parquet files plus `_graft_log/vN.txt` version manifests,
  * each listing exactly the files visible at version N — the scheme
  * Delta/Iceberg implement under their metadata formats. The lakehouse
  * keys in [[Layout]] and every committed ANN index ([[AnnIndexStore]])
  * write, publish and read their manifests here and nowhere else.
  *
  * Line format: `relpath` or `relpath\tmin\tmax` (per-file column
  * stats that let a read prune files before listing them); lines
  * starting with `#` are headers (an index's fingerprint), never files.
  *
  * Publishing is one atomic step in both modes: the body goes to a
  * private temp file, then appears under its final name whole, so a
  * manifest that can be listed is complete and a torn write leaves
  * only an ignored temp file. [[Exclusive]] is the optimistic-commit
  * CAS for versioned slots: a POSIX hard link locally (fails on an
  * existing target like O_CREAT|O_EXCL), a no-overwrite
  * `FileContext.rename` elsewhere (HDFS create-no-overwrite, an object
  * store's conditional PUT). [[Replace]] swaps a single slot (an
  * index's `v0`): nio ATOMIC_MOVE locally, `Rename.OVERWRITE`
  * elsewhere — readers see the old body or the new one, never a
  * missing or partial file.
  *
  * All log IO runs on the raw (checksum-free) filesystem: the local FS
  * Spark hands back leaves a `.name.crc` sidecar per create, and an
  * atomic replace of just the data file would leave a stale sidecar
  * that fails the next checksummed open.
  */
object CommitLog {

  sealed trait Mode
  /** Versioned slot: the publish fails (returns false) if it is taken. */
  case object Exclusive extends Mode
  /** Single slot: the publish atomically replaces any previous body. */
  case object Replace extends Mode

  private val LogDir = "_graft_log"
  private val Version = """v(\d+)\.txt""".r

  /** One manifest: its header lines and its (relpath, optional
    * (min, max)) file entries. */
  final case class Manifest(headers: Seq[String],
      entries: Seq[(String, Option[(Long, Long)])]) {
    def files: Seq[String] = entries.map(_._1)
  }

  def manifestPath(root: Path, v: Int): Path =
    new Path(new Path(root, LogDir), s"v$v.txt")

  /** The table's schema, kept beside the manifests. */
  private def schemaPath(root: Path): Path =
    new Path(new Path(root, LogDir), "schema.json")

  /** Where a publish of `dst` stages its body: dot-prefixed and
    * `.tmp`-suffixed, so neither [[latest]] nor a parquet read takes it
    * for a version or a data file. */
  private[operators] def tempPath(dst: Path): Path =
    new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")

  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** Relative paths of all data files under `root`, sorted. */
  def dataFiles(fs: FileSystem, root: Path): Seq[String] = {
    val it = fs.listFiles(root, true)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val prefix = root.toUri.getPath + "/"
    while (it.hasNext) {
      val f = it.next().getPath.toUri.getPath
      if (f.endsWith(".parquet") && !f.contains(LogDir))
        out += f.stripPrefix(prefix)
    }
    out.toSeq.sorted
  }

  /** Per-file (min, max) of a BIGINT column read from the parquet
    * FOOTERS — no data scan. The local stand-in for stats a real
    * engine's write tasks return with their commit message; reading
    * footers at commit time is what Delta's stats-collection backfill
    * and Iceberg's `add_files` do for pre-existing files. */
  def footerStats(spark: SparkSession, root: Path, files: Seq[String],
      column: String): Map[String, (Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(root, f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var mn = Long.MaxValue
        var mx = Long.MinValue
        r.getFooter.getBlocks.forEach { b =>
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == column) {
              val st = c.getStatistics
              mn = math.min(mn, st.genericGetMin.asInstanceOf[Number].longValue)
              mx = math.max(mx, st.genericGetMax.asInstanceOf[Number].longValue)
            }
          }
        }
        // a zero-row part file has no column statistics — emit a
        // stat-less manifest line for it (the parser tolerates both;
        // ADVICE r16: the old require made an empty artifact a crash)
        if (mn <= mx) Some(f -> (mn, mx)) else None
      } finally r.close()
    }.toMap
  }

  def readFile(fs: FileSystem, p: Path): String = {
    val in = raw(fs).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** The manifest at `p`. A zero-line manifest is an empty version. */
  def readManifest(fs: FileSystem, p: Path): Manifest = {
    val (headers, lines) = readFile(fs, p).split("\n").toSeq
      .filter(_.nonEmpty).partition(_.startsWith("#"))
    Manifest(headers, lines.map { line =>
      line.split('\t') match {
        case Array(f, mn, mx) => f -> Some((mn.toLong, mx.toLong))
        case _ => line.takeWhile(_ != '\t') -> None
      }
    })
  }

  /** Highest published version under `root`, -1 if none. */
  def latest(fs: FileSystem, root: Path): Int = {
    val (rfs, log) = (raw(fs), new Path(root, LogDir))
    if (!rfs.exists(log)) -1
    else rfs.listStatus(log).map(_.getPath.getName)
      .collect { case Version(v) => v.toInt }.maxOption.getOrElse(-1)
  }

  /** Atomically publishes `body` as `dst` (see the modes above).
    * Returns false only when an [[Exclusive]] slot is already taken;
    * the temp file is removed on every path. */
  def publishFile(fs: FileSystem, dst: Path, body: String,
      mode: Mode): Boolean = {
    val rfs = raw(fs)
    val tmp = tempPath(dst)
    // via the URI, not FileSystem.getScheme — RawLocalFileSystem
    // doesn't implement the latter (base class throws)
    val local = Option(rfs.getUri.getScheme).forall(_ == "file")
    def nio(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)
    try {
      val os = rfs.create(tmp, false)
      try os.write(body.getBytes(UTF_8)) finally os.close()
      (mode, local) match {
        case (Exclusive, true) => java.nio.file.Files.createLink(nio(dst), nio(tmp))
        case (Replace, true) =>
          java.nio.file.Files.move(nio(tmp), nio(dst),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        case _ =>
          // HDFS: FileContext rename is the atomic primitive
          // (FileSystem.rename refuses an existing destination)
          org.apache.hadoop.fs.FileContext.getFileContext(rfs.getUri, rfs.getConf)
            .rename(tmp, dst,
              if (mode == Replace) org.apache.hadoop.fs.Options.Rename.OVERWRITE
              else org.apache.hadoop.fs.Options.Rename.NONE)
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
          _: org.apache.hadoop.fs.FileAlreadyExistsException
          if mode == Exclusive => false
    } finally rfs.delete(tmp, false)
  }

  /** Publishes the table's schema, so a version that lists no data
    * files still reads back with it ([[read]]). */
  def publishSchema(fs: FileSystem, root: Path, schema: StructType): Unit =
    publishFile(fs, schemaPath(root), schema.json, Replace)

  /** The frame of `files` (root-relative; partition columns recovered
    * from the paths). Zero files read as an empty frame with the
    * published schema — None when the table published none. */
  def read(spark: SparkSession, fs: FileSystem, root: Path,
      files: Seq[String]): Option[DataFrame] =
    if (files.nonEmpty)
      Some(spark.read.option("basePath", root.toString)
        .parquet(files.map(f => s"$root/$f"): _*))
    else if (!raw(fs).exists(schemaPath(root))) None
    else Some(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      DataType.fromJson(readFile(fs, schemaPath(root))).asInstanceOf[StructType]))

  /** Publishes version `v` of the table at `root`: `headers` first,
    * then one line per file (sorted), with its stats where it has any. */
  def publish(fs: FileSystem, root: Path, v: Int, files: Seq[String],
      stats: Map[String, (Long, Long)] = Map.empty,
      headers: Seq[String] = Nil, mode: Mode = Exclusive): Boolean = {
    val lines = files.sorted.map { f =>
      stats.get(f).map { case (mn, mx) => s"$f\t$mn\t$mx" }.getOrElse(f)
    }
    publishFile(fs, manifestPath(root, v), (headers ++ lines).mkString("\n"),
      mode)
  }
}
