package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Records spans around the calls a key execution makes into each
  * layer, and Spark job, stage and task counters under them.
  *
  * The benchmark thread opens a key span and, inside it, one span per
  * phase (construct, catalyst.*, action). While a phase runs, its span
  * id sits in a Spark local property, so every job started in that
  * phase, by this thread or by a thread it spawned (broadcasts),
  * carries it and is filed under the phase. Jobs
  * without the property, e.g. from untraced passes, are ignored.
  *
  * Spans and counters stay in memory; [[flush]] turns them into
  * per-key rows and span records after each traced pass.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val keys = mutable.ArrayBuffer.empty[KeySpan]

  private final class Job(val id: Long, val parent: Long, val start: Long) {
    var end: Long = start
    val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)] // id, tasks, submit, end
    val c = new Counters
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]

  sc.addSparkListener(this)

  /** Runs one key execution under a key span. */
  def key[T](pass: Int, name: String)(body: Phases => T): T = {
    val k = new KeySpan(ids.incrementAndGet(), pass, name, nowUs())
    try body(k) finally {
      k.end = nowUs()
      keys += k
    }
  }

  final class KeySpan(val id: Long, val pass: Int, val name: String, val start: Long)
      extends Phases {
    var end: Long = start
    val phases = mutable.ArrayBuffer.empty[Span]
    def phase[T](phase: String)(body: => T): T = {
      val id = ids.incrementAndGet()
      val t0 = nowUs()
      sc.setLocalProperty(SpanProperty, id.toString)
      try body finally {
        sc.setLocalProperty(SpanProperty, null)
        phases += Span(id, phase, t0, nowUs(), this.id, trace)
      }
    }
    def trace: String = s"$pass/$name"
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).foreach { parent =>
      jobs(e.jobId) = new Job(ids.incrementAndGet(), parent.toLong, e.time * 1000)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    if (stageJob.contains(i.stageId))
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).flatMap(jobs.get).foreach { j =>
      val submit = i.submissionTime.getOrElse(0L)
      j.stages += ((i.stageId, i.numTasks, submit * 1000,
        i.completionTime.getOrElse(submit) * 1000))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val c = j.c
      val info = e.taskInfo
      c.tasks += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
        c.delayMs += math.max(0L, info.launchTime - s)
      }
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.scanRecords += m.inputMetrics.recordsRead
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.writeBytes += m.outputMetrics.bytesWritten
        c.writeRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Per-key layer rows and span records for every key span recorded
    * since the last flush. Call only once the listener bus is drained. */
  def flush(): (Seq[Map[String, Any]], Seq[Span]) = synchronized {
    val spans = mutable.ArrayBuffer.empty[Span]
    val byPhase = jobs.values.groupBy(_.parent)
    val rows = keys.toSeq.map { k =>
      spans += Span(k.id, "key", k.start, k.end, 0L, k.trace)
      spans ++= k.phases
      def phaseS(name: String): Double =
        k.phases.filter(_.name == name).map(_.durationS).sum
      val phaseJobs = k.phases.map(p => p -> byPhase.getOrElse(p.id, Nil).toSeq)
      // a phase's self time: its span minus the part its job spans cover
      def selfS(name: String): Double = phaseJobs.filter(_._1.name == name).map { case (p, js) =>
        val covered = js.map(j => (math.max(j.start, p.start), math.min(j.end, p.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            (sum + math.max(0L, b - math.max(a, reach)), math.max(reach, b))
          }._1
        p.durationS - covered / 1e6
      }.sum
      val all = phaseJobs.flatMap(_._2)
      phaseJobs.foreach { case (p, js) => js.foreach { j =>
        spans += Span(j.id, "job", j.start, j.end, p.id, k.trace)
        j.stages.foreach { case (sid, _, s, e) =>
          spans += Span(ids.incrementAndGet(), s"stage $sid", s, e, j.id, k.trace)
        }
      } }
      val construct = phaseJobs.filter(_._1.name == "construct").flatMap(_._2)
      val total = Counters.sum(all.map(_.c))
      val stages = all.flatMap(_.stages)
      Map[String, Any](
        "pass" -> k.pass, "key" -> k.name,
        "key_s" -> (k.end - k.start) / 1e6,
        "construct_s" -> phaseS("construct"),
        "analyze_s" -> phaseS("catalyst.analyze"),
        "optimize_s" -> phaseS("catalyst.optimize"),
        "physical_s" -> phaseS("catalyst.physical"),
        "action_s" -> phaseS("action"),
        "construct_self_s" -> selfS("construct"),
        "action_self_s" -> selfS("action"),
        "construct_jobs" -> construct.size,
        "construct_task_cpu_s" -> construct.map(_.c.cpuNs).sum / 1e9,
        "jobs" -> all.size,
        "job_s" -> all.map(j => j.end - j.start).sum / 1e6,
        "stages" -> stages.size,
        "single_task_stages" -> stages.count(_._2 == 1),
      ) ++ total.toMap
    }
    keys.clear(); jobs.clear(); stageJob.clear(); stageSubmit.clear()
    (rows, spans.toSeq)
  }
}

/** A key execution's phase hook: [[Tracer.KeySpan]] records a span,
  * [[Phases.Untraced]] only runs the body. */
trait Phases {
  def phase[T](name: String)(body: => T): T
}

object Phases {
  object Untraced extends Phases {
    def phase[T](name: String)(body: => T): T = body
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Wall-clock microseconds with `nanoTime` resolution, on the same
    * clock as Spark's event times. */
  def nowUs(): Long = (System.nanoTime() + epochOffsetNs) / 1000

  /** A span: times in epoch microseconds; `trace` is the shared id of
    * one (pass, key) execution. */
  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long,
      trace: String) {
    def durationS: Double = (end - start) / 1e6
    def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "start_us" -> start,
      "end_us" -> end, "parent" -> parent, "trace" -> trace)
  }

  final class Counters {
    var tasks, delayMs, runMs, cpuNs, gcMs, scanRecords, scanBytes, shuffleWriteBytes,
      shuffleReadBytes, fetchWaitMs, spillBytes, writeBytes, writeRecords: Long = 0L
    def add(o: Counters): Unit = {
      tasks += o.tasks; delayMs += o.delayMs; runMs += o.runMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; scanRecords += o.scanRecords; scanBytes += o.scanBytes
      shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
      fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
      writeBytes += o.writeBytes; writeRecords += o.writeRecords
    }
    def toMap: Map[String, Any] = Map(
      "tasks" -> tasks, "delay_s" -> delayMs / 1e3, "task_s" -> runMs / 1e3,
      "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "scan_records" -> scanRecords,
      "scan_bytes" -> scanBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_s" -> fetchWaitMs / 1e3,
      "spill_bytes" -> spillBytes, "write_bytes" -> writeBytes,
      "write_records" -> writeRecords)
  }
  object Counters {
    def sum(cs: Iterable[Counters]): Counters = {
      val t = new Counters
      cs.foreach(t.add)
      t
    }
  }
}
