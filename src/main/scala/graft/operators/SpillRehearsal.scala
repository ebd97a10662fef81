package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Spill rehearsal (VERDICT r8 item 1): every run to date fit in the
  * 128 GiB heap, so the spill machinery the 100 TB design leans on
  * (UnsafeExternalSorter, hash-agg fallback, shuffle spill — SURVEY.md
  * §4 "no spill / no shuffle" row) had never actually engaged. This
  * main runs the most expensive keys against the ScaleGen sf10 set
  * under a deliberately small execution-memory pool (small -Xmx via
  * SPARK_DRIVER_MEM + `spark.memory.fraction` via SPARK_GRAFT_MEMFRAC)
  * and MEASURES per-key spill via a stage-metrics listener — proving
  * the plans degrade to disk instead of failing, and at what cost.
  *
  * Result correctness under the same constrained session is asserted
  * separately: `graft.Verify` run with the identical memory confs at
  * the bench sf, compared by the DuckDB oracle (SCALING.md records
  * both).
  *
  * Usage:
  *   SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 SPARK_GRAFT_MEMFRAC=0.15 \
  *     scripts/run_main.sh graft.operators.SpillRehearsal \
  *     target/scale/sf10 [key,key,...]
  */
object SpillRehearsal {

  /** The sf10 rehearsal set (SCALING.md "Second decade") minus the
    * documented Ω(N²) dedup_embedding. */
  private val DefaultKeys = Seq(
    "dedup_spans", "dedup_components", "pipeline_corpus", "graph_pagerank",
    "dedup_near", "dedup_ngram", "join_bloom", "seq_pack", "vocab_topk",
    "ts_resample")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/scale/sf10")
    val keys =
      if (args.length > 1) args(1).split(",").toSeq else DefaultKeys
    // Fail fast on malformed env (ADVICE r9): these values are spliced
    // into the machine-parsed JSON summary line, so garbage like "15%"
    // must die here, not emit invalid JSON after a long run.
    val memFrac =
      sys.env.getOrElse("SPARK_GRAFT_MEMFRAC", "0.15").toDouble.toString
    val b = graft.Session.builder()
      // the constraint under test: a small unified pool forces the
      // sorters/aggregates to overflow to disk exactly as a saturated
      // 100 TB executor would
      .config("spark.memory.fraction", memFrac)
    // More shuffle partitions than cores is the first lever a memory-
    // constrained cluster pulls: per-task state shrinks linearly. The
    // default (= cores) reproduces the bench layout; the rehearsal
    // raises it for keys whose per-partition hash state has an
    // in-memory floor (see SCALING.md "Spill rehearsal").
    sys.env.get("SPARK_GRAFT_SHUFFLE").foreach(v =>
      b.config("spark.sql.shuffle.partitions", v.toInt.toString))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val memSpilled = new AtomicLong(0L)
    val diskSpilled = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    def mb(b: Long): Double = math.round(b / 1048576.0 * 10) / 10.0
    val results = keys.map { k =>
      val (m0, d0) = (memSpilled.get, diskSpilled.get)
      val t0 = System.nanoTime()
      val err =
        try { graft.SparkEntry.queries(k)(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(120)) }
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(700) // listener bus drains async; rehearsal-grade wait
      val row = (k, sec, mb(memSpilled.get - m0), mb(diskSpilled.get - d0), err)
      println(f"[spill] $k%-18s ${row._2}%8.2f s  mem_spill=${row._3}%10.1f MB" +
        f"  disk_spill=${row._4}%9.1f MB  ${err.getOrElse("")}")
      Caches.releaseAll()
      row
    }
    val json = results.map { case (k, sec, m, d, err) =>
      // error text must be JSON-escaped: a multi-line / quote-bearing
      // Spark message would split or break the one parsed line
      val e = err.map("\"" + graft.Util.jsonEscape(_) + "\"").getOrElse("null")
      s""""$k":{"sec":${math.round(sec * 1000) / 1000.0},"mem_spill_mb":$m,""" +
      s""""disk_spill_mb":$d,"error":$e}"""
    }.mkString("{", ",", "}")
    println(s"""{"spill_rehearsal":$json,"heap":"${Runtime.getRuntime.maxMemory / 1048576} MB","mem_fraction":$memFrac,"sf":"$sfDir"}""")
    spark.stop()
  }
}
