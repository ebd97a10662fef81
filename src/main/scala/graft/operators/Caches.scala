package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for data an operator keeps past its own construct:
  * persisted frames ([[persist]]), memoized index frames ([[memo]]) and
  * escaped eager checkpoints ([[registerCheckpoint]]) all live until the
  * next [[releaseAll]]. `graft.Bench` and perfbench release before EVERY
  * key (each key times its own working set, cold build included) and at
  * shutdown; `graft.Verify` at shutdown. Every query's terminal action
  * has run at those points; between them the caches stay shared —
  * CacheManager dedups identical plans, so `dedup_near`/`dedup_ngram`/
  * `graph_pagerank` reuse ONE hashed-shingle cache entry (ADVICE r4).
  * `releaseAll` keeps `Tables`' loader, row-group and metadata-scalar
  * memos (plans and driver scalars, no data), committed ANN indexes on
  * disk (`AnnIndexStore`) and the NN-Descent spec counters.
  */
object Caches {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val checkpoints = scala.collection.mutable.ArrayBuffer
    .empty[java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]
  private val memos = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Any]

  /** Persist `df` at MEMORY_AND_DISK (oversized frames spill, never
    * evict-and-recompute) until the next [[releaseAll]]. For frames an
    * operator consumes more than once, and the PRE-SORT persist (r20):
    * a terminal contract sort's range sampler re-executes its whole
    * child subtree a second time per action, so persisting the narrow
    * pre-sort frame makes the sample pass fill the cache and the sort
    * read it. persist, not localCheckpoint: the checkpoint variant pays
    * ~0.25 s of physical planning at CONSTRUCT (A/B'd on
    * multimodal_decode). SCALING.md §"Operator cache lifecycle" has
    * the sf0.1 A/B that keeps it. Below `graft.TerminalSort`'s gate no
    * sampler runs, yet the persist still acts: the cache is a stage
    * boundary that keeps the stage under the sort at AQE width (the
    * rule's non-shuffling `Coalesce(1)` would pull it into one task),
    * and its materialized size lets the rule fire on warm passes. Where
    * that stage is one task anyway it only costs the cache write
    * (SCALING.md §"Pre-sort persist below the TerminalSort gate"). */
  private[graft] def persist[T <: Dataset[_]](df: T): T = synchronized {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    frames += df
    df
  }

  /** `build` memoized per (session, dir, name) until the next
    * [[releaseAll]], which must drop it: a memoized frame may be
    * checkpoint-backed, and released blocks are unrecomputable. Keyed
    * on the session like `Tables.load` (a plan born on one session
    * cannot execute on another). TrieMap's `getOrElseUpdate` runs
    * `build` outside the map, so builds may nest (`deletedGraph` builds
    * through `refreshedGraph`), which `computeIfAbsent` rejects. */
  private[graft] def memo[V](spark: SparkSession, dir: String, name: String)(
      build: => V): V =
    memos.getOrElseUpdate((spark, dir, name), build).asInstanceOf[V]

  /** Queue an eager `localCheckpoint` frame that ESCAPED to a caller
    * (e.g. `join_bloom`'s result) for release at the next
    * `releaseAll()`. Unlike [[releaseCheckpoint]], this is safe for
    * returned frames: the blocks are only dropped at a harness
    * boundary, where every query's terminal action has already run
    * (ADVICE r7: releasing the previous invocation's result on the
    * NEXT call could break a caller still holding it). Outside a
    * harness (e.g. a test JVM that never calls releaseAll) the queue
    * holds the checkpoint's backing RDD only WEAKLY (ADVICE r8: a
    * strong ref here would pin the blocks forever — ContextCleaner can
    * only reclaim them once the RDD object is unreachable). The weak
    * referent is the RDD, NOT the Dataset wrapper: callers typically
    * hold a DERIVED frame (e.g. the operator's `orderBy` view), which
    * keeps the RDD strongly reachable through its plan while the inner
    * Dataset object itself is garbage — an entry must stay releasable
    * exactly as long as any such view is alive. */
  private[graft] def registerCheckpoint[T <: Dataset[_]](df: T): T =
    synchronized {
      val rdds = df.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      // A frame with NO LogicalRDD is not a checkpoint: registering it
      // would silently void the release guarantee (ADVICE r9), so the
      // contract is fail-fast. Multi-checkpoint plans (e.g. a join of
      // two checkpointed sides) register EVERY backing RDD.
      require(rdds.nonEmpty,
        "registerCheckpoint: plan contains no LogicalRDD — frame is not " +
          "an eager (local)checkpoint, nothing would be released")
      rdds.foreach { rdd =>
        checkpoints +=
          new java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]](rdd)
      }
      df
    }

  /** Drop every memo, unpersist every [[persist]]ed frame and release
    * every registered checkpoint. */
  def releaseAll(): Unit = synchronized {
    memos.clear()
    frames.foreach(_.unpersist(false))
    frames.clear()
    // entries already GC-cleared were reclaimed by ContextCleaner.
    // blocking=true: checkpoint blocks are UNRECOMPUTABLE, so release
    // must be a synchronous point of no return — an async removal
    // leaves a window where a re-read silently succeeds, turning the
    // documented fail-loudly contract (CheckpointContractSpec) into a
    // race.
    checkpoints.foreach(r => Option(r.get()).foreach(_.unpersist(true)))
    checkpoints.clear()
  }

  /** Release the storage blocks behind a SUPERSEDED eager
    * `localCheckpoint` frame (VERDICT r6 item 4). An eager local
    * checkpoint materializes the frame's rows as storage blocks; once
    * the iterative loops (connected components, PageRank) replace a
    * round's frame with the next, the old blocks are dead weight that
    * only ContextCleaner reclaims — at JVM GC time, so a long verify /
    * bench session accumulates rounds × blocks of executor storage.
    * `Dataset.unpersist` can't release them (CacheManager never knew
    * about a checkpoint), so this digs the backing RDD out of the
    * frame's `LogicalRDD` plan node and unpersists it directly.
    *
    * The frame must NEVER be read again after this call: the checkpoint
    * truncated its lineage, so the dropped blocks are unrecomputable —
    * only call on a round's frame after the NEXT round has materialized
    * (eager checkpoint) and never on the loop's final result. */
  private[graft] def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))
}
