package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import graft.SparkEntry
import graft.operators.Caches

/** One benchmark run in one JVM.
  *
  * Order: one set-up (session start and a generic warm-up query); one
  * cold pass over the workload's keys, fingerprinting each result
  * untimed; then warm passes until the window has run for `--seconds`
  * and holds enough executions. Passes that start in the window's first
  * [[SettleShare]] settle the JIT and are marked `settle`; the metrics
  * leave them out.
  * Every key execution is preceded by `Caches.releaseAll()`, timed on
  * its own, so no execution reads a cache an earlier one left.
  *
  * With `--trace 1` the measured passes alternate untraced and traced; the
  * traced ones carry the listener's spans and counters, and the pair
  * gives the tracing overhead. The run writes its raw observations as
  * JSON to `--out`; `run.py` turns them into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *   --fixtures DIR --work DIR --out FILE
  */
object Main {
  /** The share of `--seconds` whose passes only settle the JIT. After
    * the cold pass, warm passes ran 30-60% slower for the first ten
    * seconds and were still falling at fifteen on a loaded host. */
  val SettleShare = 1.0 / 2
  /** The warm window closes at the first pass boundary after `--seconds`
    * once its measured (not settling) passes hold this many key
    * executions (so p75 has ten samples beyond it) and number at least
    * [[MinPasses]]. */
  val MinExecutions = 40
  val MinPasses = 5
  /** A traced run's window: at least this many traced and as many
    * untraced passes (their pairing gives the tracing overhead). */
  val TracedPasses = 3
  /** No warm pass starts this long after JVM start, whatever the sample
    * count, so a slow program still ends inside the run's time limit. */
  val HardStopS = 130.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, fixtures: String, work: Path, out: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("fixtures"),
      Paths.get(need("work")), Paths.get(need("out")))
  }

  /** Bench's session confs, plus scratch locations inside the run's work
    * directory. */
  def confs(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> math.max(2, cores / 4).toString,
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** One key execution: construct, the three Catalyst phases, the noop
    * action, run inside `span` (a traced key span or none). The release
    * before it is timed apart from it, and so are the JIT and GC time
    * spent during it. With `fingerprint`, the result is then
    * fingerprinted, untimed, from the same constructed frame. */
  private def execute(spark: SparkSession, key: String, dir: String,
      span: (Phases => Option[String]) => Option[String],
      fingerprint: Boolean = false): Map[String, Any] = {
    val (_, releaseS) = timed(Caches.releaseAll())
    var df: DataFrame = null
    val (jit0, gc0) = (jitMs(), gcMs())
    val t0 = System.nanoTime()
    val error = span { phases =>
      try {
        df = phases.phase("construct")(SparkEntry.queries(key)(spark, dir))
        phases.phase("catalyst.analyze")(df.queryExecution.analyzed)
        phases.phase("catalyst.optimize")(df.queryExecution.optimizedPlan)
        phases.phase("catalyst.physical")(df.queryExecution.executedPlan)
        phases.phase("action")(df.write.format("noop").mode("overwrite").save())
        None
      } catch { case e: Throwable => Some(message(e)) }
    }
    val s = seconds(t0)
    val jvm = Map("jit_s" -> (jitMs() - jit0) / 1e3, "gc_s" -> (gcMs() - gc0) / 1e3)
    val fp = if (!fingerprint || error.isDefined) Map.empty else Map("fingerprint" ->
      (try Fingerprint.of(df) catch { case e: Throwable => "error: " + message(e) }))
    Map("key" -> key, "s" -> s, "release_s" -> releaseS, "error" -> error.orNull) ++ jvm ++ fp
  }
  private val untraced: (Phases => Option[String]) => Option[String] = _(Phases.Untraced)

  /** Bytes and files of each table under `dir`. */
  private def inputSizes(dir: String): Map[String, Any] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq.map { p =>
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      p.getFileName.toString.stripSuffix(".parquet") ->
        Map("bytes" -> files.map(Files.size).sum, "files" -> files.size)
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.all.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val jvmStart = System.nanoTime()
    Files.createDirectories(a.work)

    val dir = a.fixtures
    val (spark, sessionS) = timed {
      val b = SparkSession.builder()
      confs(a.cores, a.work).foreach { case (k, v) => b.config(k, v) }
      b.getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val (_, warmupS) = timed {
      spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag")
        .agg(sum(col("l_quantity"))).write.format("noop").mode("overwrite").save()
    }
    val setup = Map("session_s" -> sessionS, "warmup_s" -> warmupS)

    def order(pass: Int): Seq[String] = Workloads.order(w.keys, a.seed, pass)

    val coldExecs = order(0).map(k => execute(spark, k, dir, untraced, fingerprint = true))
    // the pass without the untimed fingerprints
    def total(f: String) = coldExecs.map(_(f).asInstanceOf[Double]).sum
    val cold = Map("wall_s" -> (total("s") + total("release_s")),
      "execs" -> coldExecs.map(_ - "fingerprint"),
      "jit_s" -> total("jit_s"), "gc_s" -> total("gc_s"))
    val fingerprints = coldExecs.map(e => e("key") -> e.getOrElse("fingerprint",
      "not computed: the execution failed")).toMap

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val spans = ArrayBuffer.empty[Map[String, Any]]
    val windowStart = System.nanoTime()
    def enough: Boolean = {
      val (traced, plain) = passes.filter(_("settle") == false).partition(_("traced") == true)
      val execs = plain.map(_("execs").asInstanceOf[Seq[_]].size).sum
      seconds(windowStart) >= a.seconds &&
        (if (a.trace) traced.size >= TracedPasses && plain.size >= TracedPasses
        else plain.size >= MinPasses && execs >= MinExecutions)
    }
    var p = 1
    var measured = 0
    while (!enough && seconds(jvmStart) < HardStopS) {
      val settle = seconds(windowStart) < a.seconds * SettleShare
      val traced = tracer.filter(_ => !settle && measured % 2 == 1)
      // per key of a traced pass: the release and what stayed cached
      val cache = scala.collection.mutable.Map.empty[Any, Map[String, Any]]
      val (execs, wall) = timed(order(p).map { k =>
        traced match {
          case Some(t) =>
            val e = execute(spark, k, dir, t.key(p, k))
            val stored = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
            cache(k) = Map("release_s" -> e("release_s"),
              "cache_stored_bytes" -> stored.map(r => r.memSize + r.diskSize).sum,
              "cache_rdds" -> stored.length)
            e
          case None => execute(spark, k, dir, untraced)
        }
      })
      val layers = traced.map { t =>
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        val (rows, passSpans) = t.flush()
        spans ++= passSpans.map(_.toMap)
        rows.map(r => r ++ cache(r("key")))
      }
      passes += Map("pass" -> p, "settle" -> settle, "traced" -> traced.isDefined,
        "wall_s" -> wall, "execs" -> execs, "layers" -> layers.getOrElse(Nil))
      p += 1
      if (!settle) measured += 1
    }
    Caches.releaseAll()

    val result = Map(
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace, "cores" -> a.cores,
      "keys" -> w.keys, "confs" -> confs(a.cores, a.work).toMap,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "input" -> Map("dir" -> dir, "tables" -> inputSizes(dir)),
      "setup" -> setup, "cold" -> cold, "fingerprints" -> fingerprints,
      "passes" -> passes.toSeq, "spans" -> spans.toSeq,
      "heap_peak_mb" -> heapPeakMb(), "jvm_s" -> seconds(jvmStart))
    spark.stop()
    Files.writeString(a.out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(result))
  }
}
