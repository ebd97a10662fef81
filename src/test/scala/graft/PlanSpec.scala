package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max, min}

/** Physical-plan assertions — the scale contract (SURVEY.md §4, scale
  * notes in each operator file). These lock in the plan shapes that
  * matter at 100 TB: filters reach the parquet scan, projections prune
  * the read schema, small dimensions broadcast, top-k never global
  * sorts, and the as-of join stays join-free with a single hash
  * exchange. A regression that silently flips one of these (e.g. a
  * broadcast falling back to sort-merge) fails here, not just in the
  * bench numbers.
  *
  * AQE is disabled around plan construction so the executed plan prints
  * its exchanges and codegen spans statically (with AQE on, stages
  * materialize lazily and the toString hides them).
  */
class PlanSpec extends SparkSpec {

  private def withoutAQE[T](f: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def plan(df: => DataFrame): String = {
    // Per-pin cache isolation (r20): operators persist frames (shingle
    // caches, the pre-sort Caches.persist), and a cache MATERIALIZED by
    // an earlier test renders differently (CacheManager may substitute
    // another canonically-equal plan's cached block), making operator
    // counts order-dependent. Releasing first pins every plan in the same
    // fresh-cache state the bench's per-key releaseAll gives it.
    operators.Caches.releaseAll()
    withoutAQE { df.queryExecution.executedPlan.toString }
  }

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("join_salted: union of two joins — salted hot path with the " +
      "×S explode confined to the hot build subset, plain cold path") {
    val p = plan(operators.Relational.joinSalted(spark, sf))
    // two-path shape: exactly one Union over exactly two joins (the
    // r16 verdict item: whole-build-side ×8 replication was the
    // pattern's own scale-killer; only the ≤HotK-key subset replicates)
    assert(count(p, "Union") === 1, p.linesIterator
      .filter(_.contains("Union")).mkString("\n"))
    assert(count(p, "Join") === 2, p.linesIterator
      .filter(_.contains("Join")).mkString("\n"))
    // the replication explode sits under a hot-key `isin` filter, so
    // its input is bounded by HotK keys — never the whole build side
    val lines = p.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(genIdx >= 0, p)
    // the isin renders as `IN (…)` in a Filter node or `In(o_orderkey,
    // …)` once pushed into the parquet scan's PushedFilters — either
    // proves the explode's input is the bounded hot-key subset
    assert(lines.drop(genIdx).exists(l =>
      (l.contains("o_orderkey") && l.contains("IN (")) ||
        l.contains("In(o_orderkey")),
      s"×S explode must sit above the hot-key isin filter:\n$p")
  }

  test("q6: filters pushed to parquet, read schema pruned to 4 columns") {
    val p = plan(operators.Relational.q6(spark, sf))
    // plan toString truncates long filter lists — match stable prefixes
    assert(p.contains("PushedFilters: [IsNotNull"))
    assert(p.contains("GreaterThanOrEqual(l_shipda"))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"))
    assert(!p.contains("l_orderkey") && !p.contains("l_returnflag"))
  }

  test("scan_project: read schema contains only the projected columns") {
    val p = plan(operators.Relational.scanProject(spark, sf))
    assert(p.contains("l_orderkey") && p.contains("l_extendedprice"))
    assert(!p.contains("l_shipdate") && !p.contains("l_returnflag"))
  }

  test("join_broadcast: dimension joins broadcast, no sort-merge") {
    val p = plan(operators.Relational.joinBroadcast(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("sort_limit_topk: TakeOrderedAndProject, never a global sort") {
    val p = plan(operators.Analytic.sortLimitTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(count(p, "Exchange") === 0)
  }

  test("join_asof: join-free union-timeline with one hash exchange") {
    val p = plan(operators.Relational.joinAsof(spark, sf))
    assert(!p.contains("Join"), "as-of must not plan any join")
    // one hashpartitioning exchange for the window + the terminal
    // rangepartitioning for ORDER BY event_id — nothing else
    assert(count(p, "Exchange") === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("Window"))
  }

  test("agg_group: partial + final hash aggregation (map-side combine)") {
    val p = plan(operators.Relational.aggGroup(spark, sf))
    assert(count(p, "HashAggregate") >= 2)
    assert(p.contains("partial_sum") || p.contains("partial_"))
  }

  test("agg_hist: binning is map-side projection + partial agg — the " +
      "shuffle carries (group, bin) partials, never rows") {
    val p = plan(operators.Analytic.aggHist(spark, sf))
    assert(count(p, "HashAggregate") >= 2)
    assert(p.contains("partial_"))
    // FLOOR arithmetic stays in the codegen'd projection — no UDF node
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("agg_filtered: all FILTER conditions ride ONE scan and ONE " +
      "partial aggregation — no per-condition subquery") {
    val exec = withoutAQE {
      operators.Analytic.aggFiltered(spark, sf).queryExecution.executedPlan
    }
    val leaves = exec.collectLeaves()
    assert(leaves.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
      === 1, "each FILTER clause must not replan its own scan")
    val p = exec.toString
    assert(count(p, "HashAggregate") >= 2 && p.contains("partial_"))
  }

  test("rollup_time_grain: three grains ride ONE scan through an Expand " +
      "— never three queries") {
    val exec = withoutAQE {
      operators.Analytic.rollupTimeGrain(spark, sf)
        .queryExecution.executedPlan
    }
    assert(exec.collectLeaves().count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
      === 1, "multi-grain rollup re-scanned the log")
    val p = exec.toString
    assert(p.contains("Expand"), "grouping sets lost the Expand plan")
    assert(count(p, "HashAggregate") >= 2 && p.contains("partial_"),
      "grain aggregation must partial-combine map-side")
  }

  test("graph_triangles: wedge probe is an equi SEMI join; persisted " +
      "oriented/degree frames feed every consumer — no re-derivation") {
    // the scalar combines are single-row broadcast BNLJs (fine); what
    // must NOT happen is the SEMI probe itself going nested-loop (that
    // would compare every wedge to every edge) or any consumer
    // re-deriving the edge list from the parquet scan
    val (p, leaves) = withoutAQE {
      val qe = operators.Graph.graphTriangles(spark, sf).queryExecution
      (qe.executedPlan.toString, qe.executedPlan.collectLeaves())
    }
    assert(p.contains("LeftSemi"), "triangle probe lost its semi join")
    assert(!p.contains("BroadcastNestedLoopJoin LeftSemi") &&
      !p.contains("CartesianProduct"),
      "wedge→edge probe must stay an equi hash/sort-merge join")
    val fileScans = leaves.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    val cacheScans = leaves.count(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
    assert(fileScans === 0,
      s"$fileScans consumer(s) re-derived the graph from the corpus scan")
    assert(cacheScans >= 5, // wedges ×2 + semi probe + edge/vertex/wedge aggs
      s"expected ≥5 cached-frame consumers, got $cacheScans")
  }

  test("ts_interpolate: spine and lerp consume the cached hourly agg; " +
      "both neighbor passes ride ONE type-keyed sort") {
    operators.Caches.releaseAll()
    val exec0 = withoutAQE {
      operators.EventAnalytics.tsInterpolate(spark, sf)
        .queryExecution.executedPlan
    }
    // unwrap the r20 pre-sort Caches.persist cache: the pinned
    // computation now lives in the top cache's cachedPlan (the outer
    // plan is just InMemoryTableScan -> Sort)
    val exec = exec0.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
        if s.relation.cachedPlan.toString.contains("Window") =>
          s.relation.cachedPlan
    }.getOrElse(exec0)
    val leaves = exec.collectLeaves()
    val fileScans = leaves.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(fileScans === 0, "a consumer bypassed the cached hourly agg")
    assert(leaves.count(_.isInstanceOf[
      org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]) >= 3)
    // last-before (preceding frame) and first-after (following frame)
    // share the (event_type)×(h) window spec: one Window operator, one
    // underlying sort — a second sort would mean a second pass
    val p = exec.toString
    assert(count(p, "Window") === 1,
      "neighbor lookups split into multiple window passes")
  }

  test("sim_topk: probe side broadcasts; candidates never shuffle for scoring") {
    val p = plan(operators.Similarity.simTopk(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("dedup_embedding: blocked tile equi-join, never a nested-loop/cartesian") {
    // Exact all-pairs-similarity distributes its N² comparisons over a
    // G×G tile grid joined on the tile key — the plan must contain a
    // hash-partitionable join and no broadcast-memory-bound all-pairs
    // operator (the scale contract from VERDICT r3 item 3).
    val p = plan(operators.Similarity.dedupEmbedding(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), "all-pairs BNLJ is back")
    assert(!p.contains("CartesianProduct"), "cartesian is the same trap")
    assert(p.contains("Join"), "tile pairing must still be a join")
  }

  test("dedup_near: hashed-shingle frame is cached — consumers read the cache") {
    // The signature pass, per-doc counts and both verify-join sides all
    // consume hashedShingles; without the persist the corpus would be
    // re-shingled once per consumer (~5 scans at 100 TB). The executed
    // plan must read InMemoryTableScan at those sites.
    val p = plan(operators.Dedup.dedupNear(spark, sf))
    assert(count(p, "InMemoryTableScan") >= 3, "shingle cache not in plan")
  }

  test("dedup_exact: map-side hash, one pre-agg exchange + terminal sort only") {
    val p = plan(operators.Dedup.dedupExact(spark, sf))
    assert(count(p, "HashAggregate") >= 2, "needs partial aggregation")
    assert(count(p, "Exchange") === 2)
  }

  test("embed_cluster: centroid table broadcasts; argmax is a partial agg, no window") {
    // Routing must stay a map-only k-way expansion + map-side struct-max:
    // a window (or sort-merge join) here would sort N·k rows to pick
    // one of 8 centroids per vector.
    val p = plan(operators.Similarity.embedCluster(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), "centroids must broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("Window"), "argmax must be an aggregation, not a window")
    assert(p.contains("partial_max") || p.contains("partial_"),
      "struct-max must have a map-side partial")
  }

  test("join_temporal: interval probe stays an equi join with a residual, " +
      "never a cartesian") {
    val p = plan(operators.Relational.joinTemporal(spark, sf))
    assert(!p.contains("CartesianProduct"), "interval join went cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "equi component lost — BNLJ compares every event to every version")
    assert(p.contains("Join"))
  }

  test("sessionize_batch: both windows and the session agg ride ONE " +
      "user-keyed exchange") {
    // lag (start flags) and the running sum share the (user_id) sort;
    // the (user_id, session_id) groupBy is satisfied by the same hash
    // partitioning (subset rule) — so the only exchanges are that one
    // hash plus the terminal ORDER BY's range partitioning. A third
    // exchange means the agg re-shuffled data it already owned.
    val p = plan(operators.EventAnalytics.sessionizeBatch(spark, sf))
    assert(count(p, "Exchange") === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("Window"))
  }

  test("anomaly_zscore / funnel: per-key stats via aggregation, never a full-log window") {
    val pz = plan(operators.EventAnalytics.anomalyZscore(spark, sf))
    assert(!pz.contains("Window"), "moments must be a two-pass agg+join")
    val pf = plan(operators.EventAnalytics.funnelConversion(spark, sf))
    assert(!pf.contains("Window"), "funnel stages must not sort per user")
  }

  test("dedup_spans: window hashing is a plain codegen projection, not a HOF lambda") {
    // The md5-per-window hash must stay a Project above the offset
    // Generate (whole-stage codegen) — a transform(...) reformulation
    // would reintroduce interpreted per-element eval (measured 1.30 s
    // vs 0.95 s at sf0.1; SCALING.md).
    val p = plan(operators.Dedup.dedupSpans(spark, sf))
    assert(!p.toLowerCase.contains("lambdafunction"),
      "window hashing regressed to an interpreted higher-order function")
    assert(count(p, "Generate") === 1, "expected exactly one explode")
  }

  test("text_repetition: unigrams and bigrams ride ONE generator") {
    // The fused formulation carries both gram streams through a single
    // explode — two Generates would mean two corpus scans.
    val p = plan(operators.TextAnalysis.textRepetition(spark, sf))
    assert(count(p, "Generate") === 1, "expected exactly one explode")
  }

  test("eval_bleu: one generator per side, clip join is hash-partitionable, " +
      "no cartesian") {
    val p = plan(operators.TextAnalysis.evalBleu(spark, sf))
    // ONE tagged gram stream for BOTH sides (r20): a single explode
    // emits struct(gram, side) and the (pid, g) agg pivots the tag
    // into aligned (cc, rc) — the former per-side streams and their
    // full-outer clip join are gone. A 2nd Generate would mean the
    // fused stream split again.
    assert(count(p, "Generate") === 1,
      s"gram stream fragmented: ${count(p, "Generate")} explodes")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "pair machinery went all-pairs")
  }

  test("ts_forecast_holt: one series exchange, fold is map-side — " +
      "no join, no window") {
    val p = plan(operators.EventAnalytics.tsForecastHolt(spark, sf))
    assert(count(p, "Exchange hashpartitioning") === 1,
      "the (user_id) series agg must be the only hash exchange")
    assert(!p.contains("Join"), "the fold needs no join")
    assert(!p.contains("Window"), "the fold needs no window")
  }

  test("sim_filtered: the label predicate composes INTO the probe join " +
      "as its equi key — pre-filter, never a post-filtered global top-k") {
    // The filtered-search contract: candidates are label-matched
    // BEFORE scoring (a global top-10 post-filtered would underfill
    // when the predicate is selective). Physically that means the
    // broadcast probe join is HASH-keyed on the label equality with
    // the self-exclusion as residual — not a nested loop over the
    // corpus with a filter above it.
    val p = plan(operators.Similarity.simFiltered(spark, sf))
    assert(p.contains("BroadcastHashJoin [label"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "filtered scoring fell back to an all-pairs join")
  }

  test("sim_filtered_graph: the collection branch's label predicate " +
      "filters BELOW its CosineSim scoring projection; navigation " +
      "stays broadcast-shaped, nothing corpus-sized nest-loops") {
    // The filtered-descent contract (VERDICT r18 item 3): navigation
    // walks the UNfiltered graph (a FilterExec must NOT sit under the
    // beam-ranking path), while the result COLLECTION branch applies
    // the predicate to the frontier's inline label column BEFORE its
    // scoring projection evaluates — structurally: there exists a
    // FilterExec whose condition binds lw/plabel and whose own subtree
    // contains no cosine_sim, i.e. the filter is not a post-scoring
    // strain.
    val df = operators.Similarity.simFilteredGraph(spark, sf)
    // The hop beams are persisted, so the predicate's node lives
    // inside InMemoryRelation cachedPlans — walk into them (and into
    // AQE wrappers) or the assertion sees only InMemoryTableScan
    // placeholders. Catalyst may also legally ABSORB the filter into
    // the broadcast join's condition (lw is an index column, plabel a
    // probe column) — that placement is before scoring too, so both
    // node shapes satisfy the pin.
    import org.apache.spark.sql.execution.SparkPlan
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val here = p.collect { case x => x }
      here ++ here.flatMap {
        case s: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec => allNodes(s.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case _ => Nil
      }
    }
    val nodes = allNodes(df.queryExecution.executedPlan)
    def hasPred(s: String) = s.contains("lw") && s.contains("plabel")
    // Catalyst promotes the equality predicate all the way into the
    // broadcast join's HASH KEYS (lw on the index side = plabel on the
    // probe side) — the strongest possible placement, the filter IS
    // the join — so the pin accepts keys, residual condition, or a
    // plain FilterExec.
    val predNodes: Seq[(SparkPlan, Seq[SparkPlan])] = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if hasPred(f.condition.toString) => (f, Seq(f.child))
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if hasPred((j.leftKeys ++ j.rightKeys).mkString(",") +
          j.condition.map(_.toString).getOrElse("")) =>
        (j, j.children)
    }
    assert(predNodes.nonEmpty,
      "no label-vs-plabel Filter/join-condition in the collection branch")
    // the positive structural pin: a cosine_sim scoring PROJECTION
    // sits DIRECTLY above a predicate-keyed node — this hop's
    // collection scores the already-filtered join output. (A subtree
    // negative-check doesn't work here: prior hops' beams carry their
    // own legitimate scoring history below the join.)
    def isPredNode(p: SparkPlan): Boolean = p match {
      case f: org.apache.spark.sql.execution.FilterExec =>
        hasPred(f.condition.toString)
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        hasPred((j.leftKeys ++ j.rightKeys).mkString(",") +
          j.condition.map(_.toString).getOrElse(""))
      case _ => false
    }
    def overPred(p: SparkPlan, depth: Int): Boolean =
      isPredNode(p) || (depth > 0 && p.children.size == 1 &&
        overPred(p.children.head, depth - 1))
    val scoredOverPred = nodes.exists {
      case pr: org.apache.spark.sql.execution.ProjectExec =>
        pr.projectList.mkString(",").toLowerCase.contains("cosine_sim") &&
          overPred(pr.child, 2)
      case _ => false
    }
    assert(scoredOverPred,
      "no scoring projection directly above the label predicate — " +
        "the collection branch post-filters (the Q287 underfill trap)")
    val flat = nodes.map(_.nodeName).toSet
    assert(flat.exists(_.contains("BroadcastHashJoin")), "beam must broadcast")
    assert(!flat.exists(_.contains("CartesianProduct")),
      "filtered descent went all-pairs")
    assert(!flat.exists(_.contains("SortMergeJoin")),
      "stat-less iterative frames must not fall to sort-merge")
  }

  test("sim_hnsw: descent beams broadcast over committed layer edges; " +
      "the only unconditioned join is the 10×entry cross — no " +
      "sort-merge, nothing corpus-sized meets a nested loop") {
    // The layer-0 half inherits sim_graph_search's shape (beam
    // broadcasts, cached index map-side); the descent half must keep
    // the same discipline: layer edge lists and beams are broadcast
    // sides, the per-round lineage is CUT by localCheckpoint (plan
    // shows LogicalRDD scans, not a 7-round nested-broadcast chain —
    // the 77 s/pass r16 lesson), and the probes×top-layer entry cross
    // is the single deliberate BNLJ (10 × a-handful rows).
    val p = plan(operators.Similarity.simHnsw(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "beam must broadcast")
    assert(!p.contains("CartesianProduct"), "descent went all-pairs")
    assert(!p.contains("SortMergeJoin"),
      "stat-less iterative frames must not fall to sort-merge")
    assert(count(p, "BroadcastNestedLoopJoin") <= 1,
      "only the bounded entry cross may nest-loop")
  }

  test("sim_graph_search: beam broadcasts, the index never shuffles — " +
      "no cartesian, no sort-merge") {
    // The mult-100 lesson: a shuffle_hash hint on the frontier join
    // re-shuffled the whole index every hop (~790 s + executor OOM at
    // 200k vectors). The beam is ≤ queries·Beam rows by construction,
    // so it broadcasts and the cached index is scanned map-side.
    val p = plan(operators.Similarity.simGraphSearch(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "beam must broadcast")
    assert(p.contains("InMemoryTableScan"),
      "persisted index/beam frames must be consumed from cache")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "beam expansion went all-pairs")
    assert(!p.contains("SortMergeJoin"),
      "stat-less iterative frames must not fall to sort-merge")
  }

  test("scan_partitioned: partition filter prunes to the o_year=1998 directory") {
    withoutAQE {
    val df = sources.FormatSources.scanPartitioned(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // The year predicate must bind to the partition directory, not the
    // row data: a PartitionFilters entry on the scan node, and NO
    // pushed data filter on o_year (it isn't a data column).
    assert(p.contains("PartitionFilters: ["), "no partition filter on scan")
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("o_year")), p)
    // Runtime proof of pruning (df.inputFiles would list the whole
    // relation — it ignores partition filters): execute the captured
    // plan and read the scan's own numFiles metric. Expected = the
    // ACTUAL parquet file count under the o_year=1998/ directory, not
    // a literal 1 — a writer-parallelism change must not fail a test
    // about PRUNING (VERDICT r6 item 2); the pruning claim is "only
    // 1998's files were opened", however many the writer produced.
    val partDir = java.nio.file.Paths.get(
      sources.FormatSources.exportPath("partitioned", sf), "o_year=1998")
    val expected = scala.jdk.CollectionConverters
      .IteratorHasAsScala(java.nio.file.Files.list(partDir).iterator())
      .asScala.count(_.getFileName.toString.endsWith(".parquet"))
    assert(expected > 0, s"no parquet files under $partDir")
    val exec = df.queryExecution.executedPlan
    val scan = exec.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    exec.execute().count()
    assert(scan.metrics("numFiles").value === expected,
      s"scan read ${scan.metrics("numFiles").value} files, " +
        s"o_year=1998/ holds $expected — pruning lost")
    }
  }

  test("corpus_mix: rates broadcast; the corpus itself never shuffles") {
    // The mix is a map-only keep over the corpus: lang-rate table joins
    // via broadcast, the hash-Bernoulli filter is per-row. The only
    // exchanges allowed are on the TINY lang-count side (pre-broadcast
    // aggregation) and the terminal ORDER BY — never a corpus-sized
    // hash exchange of documents.
    val p = plan(operators.TextAnalysis.corpusMix(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "rate table must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("cdc_upsert: compaction is a partial agg, never a per-key window sort") {
    val p = plan(operators.EventAnalytics.cdcUpsert(spark, sf))
    assert(!p.contains("Window"), "last-writer-wins must be an aggregation")
    // struct-ordered max_by plans as SortAggregate (struct buffers
    // aren't hash-agg-compatible) — what matters at scale: a map-side
    // partial_max_by and exactly ONE key exchange (plus the terminal
    // range sort)
    assert(p.contains("partial_max_by"), "needs map-side partial max_by")
    assert(count(p, "Exchange hashpartitioning") === 1, p)
  }

  test("scan_dpp: dim-side filter reaches the fact scan as a dynamic pruning subquery") {
    withoutAQE {
      val df = sources.FormatSources.scanDpp(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("dynamicpruning"),
        s"expected dynamicpruningexpression in:\n$p")
      assert(p.contains("BroadcastHashJoin"))
    }
  }

  test("join_bucketed: sort-merge over bucketed layout, no join exchange") {
    val p = plan(operators.Layout.joinBucketed(spark, sf))
    assert(p.contains("SortMergeJoin"), p)
    // the terminal ORDER BY's range partitioning is the ONLY exchange —
    // the join itself reads both bucketed layouts co-located
    assert(!p.contains("Exchange hashpartitioning"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(count(p, "Exchange") === 1)
  }

  test("doc_chunk: tokenization runs once per doc, not once per chunk row") {
    val p = plan(operators.TextAnalysis.docChunk(spark, sf))
    // the split() must live BELOW the Generate (projected to the bound
    // attribute w that explode and the chunk slice both read); a split
    // above the Generate would re-tokenize the doc for every chunk row
    assert(count(p, "split(") === 1, p)
    val (above, below) = p.split("Generate", 2) match {
      case Array(a, b) => (a, b)
    }
    assert(!above.contains("split("), "split re-evaluated above Generate")
    assert(below.contains("split("), p)
  }

  test("scd2_history: both windows share one exchange and one sort") {
    val p = plan(operators.EventAnalytics.scd2History(spark, sf))
    // lag-filter and lead-close declare the same (user_id × ts,event_id)
    // ordering — the plan must pay the changelog shuffle once; the only
    // other exchange is the terminal ORDER BY's range partitioning
    assert(count(p, "Exchange hashpartitioning") === 1, p)
    assert(count(p, "Exchange rangepartitioning") === 1, p)
    assert(count(p, "Window") === 2, p)
  }

  test("layout_sorted: row-group min/max skipping — sorted scan emits " +
      "only matching groups, unsorted emits everything") {
    withoutAQE {
      val matched = operators.Layout.layoutSorted(spark, sf).count()
      val total = Tables.lineitem(spark, sf).count()
      def scanRows(d: org.apache.spark.sql.DataFrame): Long = {
        val exec = d.queryExecution.executedPlan
        val scan = exec.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get
        exec.execute().count()
        scan.metrics("numOutputRows").value
      }
      // clustered layout: the predicate's min/max envelope eliminates
      // whole files/row groups — the scan emits close to the match
      // count (measured on the sort-free read: the terminal sort's
      // range-sampling pass would re-execute the scan and double-count)
      val clustered = scanRows(operators.Layout.layoutSortedRead(spark, sf))
      // the same filter over the original (unsorted, single-row-group)
      // file can eliminate nothing: every row reaches the post-scan filter
      val unsorted = scanRows(
        Tables.lineitem(spark, sf)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp")))
      assert(matched > 0 && matched < total)
      assert(unsorted === total,
        s"unsorted baseline expected to emit all $total rows, got $unsorted")
      assert(clustered < total / 2,
        s"clustered scan emitted $clustered of $total — nothing skipped")
    }
  }

  test("layout_zorder: z-clustered scan skips row groups on BOTH " +
      "dimensions; a single-column sort cannot skip on the second") {
    withoutAQE {
      val matched = operators.Layout.layoutZorder(spark, sf).count()
      val total = Tables.lineitem(spark, sf).count()
      def scanRows(d: org.apache.spark.sql.DataFrame): Long = {
        val exec = d.queryExecution.executedPlan
        val scan = exec.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get
        exec.execute().count()
        scan.metrics("numOutputRows").value
      }
      assert(matched > 0 && matched < total)
      // the ~1/16 box over both dimensions: the z envelope eliminates
      // most files/row groups before any page read
      val box = scanRows(operators.Layout.zorderRead(spark, sf))
      assert(box < total / 2,
        s"z-order box scan emitted $box of $total — nothing skipped")
      // the second dimension ALONE still skips: a contiguous z range
      // fixes high suppkey bits too, so each file's suppkey envelope
      // covers only a fraction of the domain
      val dim2 = scanRows(operators.Layout.zorderReadDim2(spark, sf))
      // baseline: the same data clustered on l_partkey only — every
      // file's suppkey envelope spans the whole domain, so the same
      // suppkey box eliminates nothing
      val singleDimPath = graft.sources.FormatSources
        .exportPath("zorder_singledim", sf)
      operators.Layout.zorderRead(spark, sf).sparkSession.read
        .parquet(operators.Layout.zorderPath(sf))
        .repartitionByRange(8, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .option("parquet.block.size", 256 * 1024)
        .parquet(singleDimPath)
      val (sLoHi) = {
        val r = Tables.lineitem(spark, sf)
          .agg(min("l_suppkey"), max("l_suppkey")).head()
        (r.getLong(0), r.getLong(1))
      }
      val (smin, smax) = sLoHi
      val (sLo, sHi) = (smin + (smax - smin) / 4, smin + (smax - smin) / 2)
      val singleDim = scanRows(
        spark.read.parquet(singleDimPath)
          .filter(col("l_suppkey") >= lit(sLo) && col("l_suppkey") < lit(sHi)))
      // Near-total, not exact: parquet column-index page skipping is on
      // by default, so a page whose suppkey envelope happens to be
      // narrow in the partkey-sorted file may legitimately be pruned
      // (ADVICE r9). The z-order claim is carried by the dim2 bound.
      assert(singleDim >= total * 95 / 100,
        s"single-dim baseline expected to emit ~all $total rows, got $singleDim")
      assert(dim2 * 4 <= singleDim * 3,
        s"z-order second-dim scan emitted $dim2 vs single-dim $singleDim — " +
          "no cross-dimension envelope")
      info(s"total=$total box=$box dim2=$dim2 singleDim=$singleDim")
    }
  }

  test("ts_resample: spine and fill consume the cached grain agg, " +
      "never re-scanning the log") {
    // bounds, type dimension and gap fill must all read the persisted
    // grain aggregation — without it Catalyst rewrites min/max/distinct
    // onto the raw log and plans THREE corpus scans (measured). Tree
    // assertion, not string-counting: an InMemoryTableScan is a LEAF of
    // the consumer plan (the cached plan is not part of this tree), so
    // the leaves must hold the three cache scans and zero file scans.
    val leaves = withoutAQE {
      operators.EventAnalytics.tsResample(spark, sf)
        .queryExecution.executedPlan.collectLeaves()
    }
    val cacheScans = leaves.count(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
    val fileScans = leaves.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(cacheScans >= 3, s"expected 3 cache consumers, got $cacheScans")
    assert(fileScans === 0,
      s"$fileScans consumer(s) bypassed the cached grain agg")
  }

  test("vocab_topk: partial counts pre-shuffle, top-k never a global sort") {
    val p = plan(operators.TextAnalysis.vocabTopk(spark, sf))
    assert(p.contains("partial_count"),
      "exploded token stream must collapse map-side before the exchange")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      "top-k must not plan a global sort")
  }

  test("join_bloom: runtime bloom filter probes the lineitem side pre-shuffle") {
    operators.Relational.withBloomConf(spark) {
      withoutAQE {
        val p = operators.Relational.joinBloomPlan(spark, sf)
          .queryExecution.executedPlan.toString
        // InjectRuntimeFilter builds a BloomFilterAggregate subquery over
        // the filtered orders keys and pushes might_contain(l_orderkey)
        // into the probe side below its shuffle — the row-level DPP.
        assert(p.contains("might_contain"),
          s"expected a bloom might_contain probe in:\n$p")
        assert(p.contains("SortMergeJoin"), p)
      }
    }
  }

  test("compact_files: small-file input layout compacts to at most 4 files") {
    operators.Layout.compactFiles(spark, sf)
    def parquetFiles(dir: String): Int = {
      val d = java.nio.file.Paths.get(dir)
      scala.jdk.CollectionConverters
        .IteratorHasAsScala(java.nio.file.Files.list(d).iterator())
        .asScala.count(_.getFileName.toString.endsWith(".parquet"))
    }
    val small = parquetFiles(sources.FormatSources.exportPath("smallfiles", sf))
    val compacted = parquetFiles(sources.FormatSources.exportPath("compacted", sf))
    // repartition(64) hashes doc_id — empty hash partitions write no
    // file, so assert a many-small-files threshold, not exactly 64
    assert(small > 16 && small <= 64,
      s"small-file input layout holds $small files (want 17..64)")
    assert(compacted > 0 && compacted <= 4,
      s"compaction produced $compacted files (want 1..4)")
  }

  test("seq_pack: doc-level cumsum windows by (lang, shard), never lang alone") {
    val p = plan(operators.TextAnalysis.seqPack(spark, sf))
    // Two-level prefix sum: the per-doc running window must partition
    // by (lang, shard) so parallelism scales with corpus size, not
    // |languages|. The only lang-partitioned window allowed is the
    // one-row-per-shard offset frame (ordered by shard, not doc_id).
    // pipeline_corpus stage 5 shares TextAnalysis.packBins, so this
    // pins both.
    assert("windowspecdefinition\\(lang#\\d+, shard#\\d+L?, doc_id"
      .r.findFirstIn(p).nonEmpty, p)
    assert("windowspecdefinition\\(lang#\\d+, doc_id"
      .r.findFirstIn(p).isEmpty,
      "per-lang doc-level window — the bounded-key scale trap:\n" + p)
    assert(count(p, "Window") === 2, p)
  }

  test("join_skew_aqe: the adaptive path splits the skewed partition " +
      "(the automatic counterpart of join_salted's manual recipe)") {
    // The knob a 100 TB user turns FIRST for shuffle-join skew:
    // spark.sql.adaptive.skewJoin splits an oversized partition into
    // advisory-sized slices and duplicates the matching build
    // partition — same result, no manual salting. The declared key's
    // oracle certifies the RESULT equals the plain join; this test
    // certifies the split actually HAPPENS in the adaptive plan.
    operators.Relational.withSkewConf(spark) {
      val j = operators.Relational.joinSkewPlan(spark, sf)
      // AQE finalizes the plan during execution — materialize THIS
      // dataframe's own queryExecution (a write would plan a fresh one)
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected a skew-split sort-merge join in the adaptive plan:\n$p")
    }
  }

  test("join_full_outer: shuffled sort-merge FullOuter — broadcast is " +
      "impossible (both sides null-extend)") {
    val p = plan(operators.Relational.joinFullOuter(spark, sf))
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"expected SortMergeJoin FullOuter:\n$p")
    assert(!p.contains("Broadcast"),
      "a FullOuter side must never be replicated")
  }

  test("subquery_correlated: decorrelated — no cartesian, the orders log " +
      "is aggregated ONCE (reused exchange), EXISTS is a semi-join") {
    val p = plan(operators.Relational.subqueryCorrelated(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"correlated subquery was not decorrelated:\n$p")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a semi-join")
    // CollapseProject inlines the avg_cents alias into its filter and
    // project use sites, so the decorrelated aggregate appears as two
    // join builds — but the EXPENSIVE work must not double: exactly
    // one partial aggregation of the orders log, the second build
    // consuming its shuffle via ReusedExchange. (Asserting join count
    // here would pin a Catalyst inlining quirk, not the scale claim.)
    assert(count(p, "partial_avg") === 1,
      "orders must be partial-aggregated exactly once")
    assert(p.contains("ReusedExchange"),
      "second aggregate build must reuse the first shuffle")
  }

  test("win_range_frames: RANGE frame rides one user-keyed exchange " +
      "plus the terminal sort only") {
    val p = plan(operators.Analytic.winRangeFrames(spark, sf))
    assert(p.contains("RangeFrame"),
      s"expected a RANGE (value-distance) window frame:\n$p")
    assert(count(p, "Exchange") === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("unpivot_melt: the melt is ONE Expand node fed map-side — no " +
      "shuffle before the contract sort") {
    val p = plan(operators.Analytic.unpivotMelt(spark, sf))
    assert(count(p, "Expand") === 1,
      p.linesIterator.filter(_.contains("Expand")).mkString("\n"))
    // the terminal ORDER BY's range partitioning is the only exchange:
    // filter + project + expand all run in the scan stage
    assert(count(p, "Exchange") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("agg_mode: count shuffles once on the (group, value) pair; the " +
      "pick window runs over the aggregated set, not the corpus") {
    val p = plan(operators.Analytic.aggMode(spark, sf))
    // customer is a dimension: the enrich join must broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // partial+final count on (c_mktsegment, o_orderpriority)
    assert(p.contains("partial_count") || p.contains("partial count") ||
      count(p, "HashAggregate") >= 2, p)
    // the window sorts AFTER aggregation — its input is |groups|·|values|
    // rows; plan order check: the (window) sort appears above the
    // aggregate in the tree string (executed after)
    val winIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"window must consume the aggregate (win@$winIdx, agg@$aggIdx):\n$p")
  }

  test("win_distinct_count: both frames share ONE Window node and one " +
      "user-keyed exchange") {
    val p = plan(operators.Analytic.winDistinctCount(spark, sf))
    assert(count(p, "Window") === 1,
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    // one hashpartitioning(user_id) + the terminal sort only
    assert(count(p, "Exchange") === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("join_lateral: LIMIT-in-LATERAL decorrelates to a window rank + " +
      "equi join — never a per-outer-row re-execution") {
    val p = plan(operators.Relational.joinLateral(spark, sf))
    // the correlated ORDER BY ... LIMIT 2 must become ONE windowed rank
    // over o_custkey (row_number / rank on the correlation key) ...
    assert(p.contains("Window"), s"expected decorrelation window in:\n$p")
    // ... feeding an equi join back to the probe — not a nested-loop
    // replay of the subquery per customer
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.linesIterator.filter(l =>
        l.contains("Join") || l.contains("Cartesian")).mkString("\n"))
  }

  test("win_ignore_nulls: both IGNORE NULLS expressions share one Window " +
      "node and one user-keyed exchange") {
    val p = plan(operators.Analytic.winIgnoreNulls(spark, sf))
    assert(count(p, "Window") === 1,
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    // one hash exchange for the partition key + the terminal sort only
    assert(count(p, "Exchange") === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("variant_explode: interpreted variant consumers sit ABOVE the " +
      "global sort (range-sampling must not execute them twice)") {
    val p = plan(operators.SemiStructured.variantExplode(spark, sf))
    // to_json / try_variant_get have no codegen — orderBy's range
    // partitioner samples its child plan, so placing them under the
    // sort runs them twice (measured 3.7 s vs 1.6 s at sf0.1). The
    // projection must come after Sort, with no exchange between.
    val lines = p.linesIterator.toSeq
    val consumerIdx = lines.indexWhere(_.contains("try_variant_get"))
    // r20 wideSorted: on the fixture the contract sort is a LOCAL sort
    // above an explicit range exchange (identical total order — range
    // partitions concatenate in index order); on splittable layouts it
    // stays the plain global Sort. Accept either, but a local sort must
    // have the range exchange below it.
    val sortIdx = lines.indexWhere(_.contains("Sort [event_id"))
    assert(consumerIdx >= 0 && sortIdx >= 0, p)
    if (lines(sortIdx).contains("false"))
      assert(lines.drop(sortIdx + 1).exists(_.contains("rangepartitioning")),
        s"local contract sort without a range exchange below it:\n$p")
    // r17: the plan-time-typed positions (0, 1) take the typed fast
    // path off the carried kk column — variant eval is confined to the
    // runtime-mixed position 2 behind lazy CASE branches
    assert(lines(consumerIdx).contains("CASE WHEN"),
      s"typed fast path (CASE over pos) missing from the consumer " +
        s"Project:\n$p")
    assert(consumerIdx < sortIdx,
      s"variant consumers (line $consumerIdx) must be above the global " +
        s"sort (line $sortIdx):\n$p")
    // order-preserving: nothing between the consumer Project and Sort
    assert(!lines.slice(consumerIdx + 1, sortIdx)
      .exists(_.contains("Exchange")),
      s"exchange between consumer Project and Sort breaks ordering:\n$p")
  }

  test("whole-stage codegen fuses the q6 pipeline into one span") {
    // `*(n)` markers are codegen span ids: filter, project and partial
    // aggregate must share span 1 — the generated analogue of the
    // reference's hand-fused row loop (TpchQuery6.java:30-35).
    val p = plan(operators.Relational.q6(spark, sf))
    assert(p.contains("*(1) Filter"))
    assert(p.contains("*(1) Project"))
    assert(p.contains("*(1) HashAggregate"))
  }

  test("text_perplexity: the LM broadcasts to the scoring join; token " +
      "counts collapse map-side before the shuffle") {
    val p = plan(operators.TextAnalysis.textPerplexity(spark, sf))
    // the top-16 LM reaches the token stream as a broadcast hash join —
    // a sort-merge here would shuffle the whole exploded corpus by token
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // partial aggregation before both the (tok) and (doc_id) exchanges
    assert(p.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial_count")) >= 2, p)
  }

  test("join_null_aware: NOT IN plans the null-aware anti join — " +
      "BroadcastHashJoin LeftAnti with the NAAJ flag, no nested loop") {
    val p = plan(operators.Relational.joinNullAware(spark, sf))
    // the poisoned variant's NOT IN must become a null-aware broadcast
    // hash anti join (the trailing `true` in the exec's argument list is
    // isNullAwareAntiJoin), not a BroadcastNestedLoopJoin evaluating
    // the null-tolerant disjunction per probe row
    assert(p.contains("LeftAnti, BuildRight, true"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("write_rebalance: the hint plans an AQE-managed REBALANCE " +
      "exchange over the skewed partitioning") {
    // deliberately NOT under withoutAQE: REBALANCE is an AQE feature —
    // the initial adaptive plan prints the rebalance exchange
    val p = operators.Layout.rebalFrame(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("REBALANCE_PARTITIONS_BY_NONE"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // ... and it SUPERSEDES the upstream skewed repartition entirely:
    // Catalyst collapses adjacent exchanges, so exactly ONE exchange
    // remains and the hand-set hashpartitioning(l_returnflag) is gone
    // — the frame pays one shuffle, not two
    assert(!p.contains("hashpartitioning(l_returnflag"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(count(p, "Exchange") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("id_assign: the corpus-side window partitions by (lang, shard) — " +
      "only the offsets frame rides a single-partition window") {
    val p = plan(operators.TextAnalysis.idAssign(spark, sf))
    // exactly two Window nodes: the sharded local row_number and the
    // tiny offsets prefix sum
    assert(count(p, "Window") === 2, p)
    // the corpus window's spec leads with the (lang, shard) partition
    assert(p.contains("windowspecdefinition(lang"),
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("str_edit_distance: the quadratic term runs over the broadcast " +
      "distinct name domain, never the row corpus") {
    val p = plan(operators.TextAnalysis.strEditDistance(spark, sf))
    // the block self-join is a broadcast hash join of two distinct()
    // frames (vocabulary-bounded), not a shuffled row-level join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("levenshtein"), p)
  }

  test("ts_timezone: map-only conversion — the only exchange is the " +
      "contract sort's range partitioning") {
    val p = plan(operators.Analytic.tsTimezone(spark, sf))
    assert(count(p, "Exchange") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("rangepartitioning"), p)
  }

  test("join_interval_overlap: the grid join is an EQUI join on cell — " +
      "never a broadcast nested loop / cartesian theta plan") {
    val p = plan(operators.Relational.joinIntervalOverlap(spark, sf))
    // the manufactured cell key must carry the join; a nested-loop or
    // cartesian plan means the grid didn't take and the operator
    // degenerates to the quadratic theta join it exists to avoid
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") && p.contains("cell"), p)
    assert(p.contains("Generate"), p) // the bounded cell explode
  }

  test("text_html_strip: map-only regex projection — the only exchange " +
      "is the contract sort") {
    val p = plan(operators.TextAnalysis.textHtmlStrip(spark, sf))
    assert(count(p, "Exchange") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("rangepartitioning"), p)
  }

  test("ts_ewma: one user-keyed window sort feeds the whole lag chain — " +
      "a single hash exchange, eight lags, no self-joins") {
    val p = plan(operators.EventAnalytics.tsEwma(spark, sf))
    // 2 exchanges total: the window's hashpartitioning(user_id) and
    // the contract sort's range partitioning; any Join in the plan
    // means the lag chain decomposed into self-joins
    assert(count(p, "Exchange") === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("tpch_q3: segment+date filters pushed to the scans, customer " +
      "broadcasts, top-10 is TakeOrderedAndProject — no global sort") {
    val p = plan(operators.Relational.tpchQ3(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
  }

  test("tpch_q18: lineitem aggregates BEFORE the join — the HashAggregate " +
      "sits under the orders join, so only survivors shuffle") {
    val p = plan(operators.Relational.tpchQ18(spark, sf))
    // the qty aggregate must appear below the first join in the plan
    // tree: the first Join line comes AFTER (deeper than) an aggregate
    // on l_orderkey when printed top-down — assert order of appearance
    val lines = p.linesIterator.toSeq
    val aggIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("l_orderkey"))
    val joinIdx = lines.indexWhere(_.contains("Join"))
    assert(aggIdx > joinIdx && joinIdx >= 0,
      s"agg@$aggIdx join@$joinIdx\n$p")
  }

  test("seq_pattern: one hash exchange on user_id builds the sequence — " +
      "no window sort, no join") {
    val p = plan(operators.EventAnalytics.seqPattern(spark, sf))
    // 2 exchanges: hashpartitioning(user_id) for the agg + the
    // terminal ORDER BY's range partitioning
    assert(count(p, "Exchange") === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join"), p)
  }

  test("dedup_url: map-side canonicalization, one partial-agg shuffle " +
      "on the canonical key — no join, no window") {
    val p = plan(operators.Dedup.dedupUrl(spark, sf))
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // partial aggregation before the exchange (map-side combine)
    assert(count(p, "HashAggregate") >= 2, p)
  }

  test("join_grid_2d: the radius join is an equi hash join on grid " +
      "cells — no BroadcastNestedLoop, no CartesianProduct") {
    val p = plan(operators.Relational.joinGrid2d(spark, sf))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("HashJoin"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("cbo_reorder: the optimizer recovers the join chain from the " +
      "worst syntactic order (no cartesian), and ANALYZE actually fed " +
      "it (rowCount statistics present on the managed tables)") {
    val (cust, ord, nat) = operators.Relational.cboTables(spark, sf)
    operators.Relational.withCboConf(spark) {
      val df = operators.Relational.cboReorderPlan(spark, sf)
      val p = plan(df)
      assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
      // stats reached the optimizer: every managed table reports the
      // ANALYZE row count (not a size-only estimate)
      Seq(cust, ord, nat).foreach { t =>
        val stats = spark.table(t).queryExecution.optimizedPlan.stats
        assert(stats.rowCount.isDefined, s"$t has no rowCount stats")
      }
    }
  }

  test("win_top_per_group: the rank filter plans as WindowGroupLimit — " +
      "a partial group-limit below the exchange and a final one above, " +
      "so the shuffle carries O(groups x N), not the table") {
    val p = plan(operators.Analytic.winTopPerGroup(spark, sf))
    assert(count(p, "WindowGroupLimit") >= 2,
      p.linesIterator.filter(_.contains("WindowGroupLimit")).mkString("\n"))
  }

  test("tpch_q1: shipdate filter pushed to the scan, one partial+final " +
      "hash aggregate pair — the shuffle carries ~6 rows of partial " +
      "state per task, then only the contract sort exchanges") {
    val p = plan(operators.Relational.tpchQ1(spark, sf))
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
    assert(count(p, "HashAggregate") === 2, p)
    assert(count(p, "Exchange") === 2, // agg hash + contract sort range
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join"), p)
  }

  test("agg_regression: the regr_* family plans as one partial+final " +
      "hash aggregate on moment state — no join, no second pass") {
    val p = plan(operators.Analytic.aggRegression(spark, sf))
    assert(count(p, "HashAggregate") === 2, p)
    assert(count(p, "Exchange") === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join"), p)
  }

  test("agg_multi_distinct: multiple distinct columns rewrite through " +
      "Expand with map-side partial dedup — one table scan, no " +
      "self-join of k single-distinct aggregates") {
    val p = plan(operators.Analytic.aggMultiDistinct(spark, sf))
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join"), p)
    assert(count(p, "Scan parquet") === 1,
      p.linesIterator.filter(_.contains("Scan parquet")).mkString("\n"))
  }

  test("sql_pipe: the pipe chain lowers to the classic plan — filter " +
      "pushed to the scan, partial+final hash aggregate, no join") {
    val p = plan(operators.Relational.sqlPipe(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate"), p)
    assert(count(p, "HashAggregate") === 2, p)
    assert(!p.contains("Join"), p)
  }

  test("agg_weighted: weighted stats are plain moment sums — one " +
      "partial+final hash aggregate, no special machinery, no join") {
    val p = plan(operators.Analytic.aggWeighted(spark, sf))
    assert(count(p, "HashAggregate") === 2, p)
    assert(!p.contains("Join"), p)
  }

  test("join_band_bnlj: the pure non-equi band join IS " +
      "BroadcastNestedLoopJoin with the bounded side built — probe " +
      "streams with zero pre-aggregate exchanges") {
    val p = plan(operators.Relational.joinBandBnlj(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Inner"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // one BroadcastExchange (the 5-row dim) and the only SHUFFLES are
    // the aggregate hash + terminal sort range — the probe side
    // reaches the join without shuffling
    assert(count(p, "BroadcastExchange") === 1, p)
    assert(count(p, "Exchange hashpartitioning") +
        count(p, "Exchange rangepartitioning") === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("tpch_q5: date filter pushed into the orders scan, the bounded " +
      "dimension chain broadcasts, no cartesian anywhere in the " +
      "six-table tree") {
    val p = plan(operators.Relational.tpchQ5(spark, sf))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("skyline_2d: bounded-bucket prune broadcasts into a map-side " +
      "filter and the exact scan is windows over survivors — never the " +
      "quadratic dominance self-join") {
    val p = plan(operators.Relational.skyline2d(spark, sf))
    // the only join is the broadcast prune-bound join; a SortMergeJoin
    // or cartesian means the dominance test decomposed into pairs
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian") &&
      !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("Window"), p)
  }

  test("rank_bm25: df table and corpus scalars broadcast into the " +
      "scoring join — the only hash shuffles carry (doc,term) partials " +
      "and doc-keyed rows, never the corpus cross anything large") {
    val p = plan(operators.TextAnalysis.rankBm25(spark, sf))
    assert(count(p, "BroadcastExchange") >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("scan_file_metadata: provenance columns come from reader state — " +
      "the data read schema stays pruned to doc_id, no extra pass") {
    val p = plan(sources.FormatSources.scanFileMetadata(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:"), p)
    assert(!p.contains("text") && !p.contains("Join"), p)
  }

  test("tpch_q7: two-nation prune broadcasts both endpoint dimensions; " +
      "the nation-pair disjunction is a map-side filter, never a " +
      "cartesian blowup; shipdate window pushed into the lineitem scan") {
    val p = plan(operators.Relational.tpchQ7(spark, sf))
    assert(p.contains("GreaterThanOrEqual(l_shipda"), p)
    assert(count(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("tpch_q8: part prunes to one type BEFORE its join (pushed " +
      "filter), dimensions broadcast, the share is one pass — a single " +
      "aggregate, no self-join") {
    val p = plan(operators.Relational.tpchQ8(spark, sf))
    assert(p.contains("EqualTo(p_type,STANDARD)"), p)
    assert(count(p, "BroadcastHashJoin") >= 3, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    // numerator and denominator share ONE pass over the fact table —
    // a share formulated as two separate aggregates joined back would
    // scan lineitem twice
    assert(count(p, "lineitem.parquet") === 1, p)
  }

  test("tpch_q10: top-20 executes as TakeOrderedAndProject (per-" +
      "partition heaps), never a global sort; returnflag and quarter " +
      "filters pushed to their scans") {
    val p = plan(operators.Relational.tpchQ10(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderda"), p)
    assert(!p.contains("GlobalLimit"), p)
  }

  test("tpch_q13: customer LEFT OUTER survives to the physical plan " +
      "(the zero-order bucket depends on it) and both aggregates carry " +
      "map-side partials") {
    val p = plan(operators.Relational.tpchQ13(spark, sf))
    assert(p.contains("LeftOuter"), p)
    assert(count(p, "HashAggregate") >= 4, p)  // 2 aggs × partial+final
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q14: single-row CASE-aggregate — part broadcasts whole " +
      "(no type prune: the CASE needs both branches), month window " +
      "pushed into the lineitem scan, one aggregate pair") {
    val p = plan(operators.Relational.tpchQ14(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipda"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tpch_q15: the global max joins back as a broadcast (1-row " +
      "build side), so every-supplier-at-the-max costs no second " +
      "lineitem scan beyond the revenue aggregate's reuse") {
    val p = plan(operators.Relational.tpchQ15(spark, sf))
    assert(count(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("tpch_q17: the per-part average is a partition window — " +
      "lineitem is scanned ONCE (the join-back formulation scans the " +
      "fact twice); brand prune broadcasts") {
    val p = plan(operators.Relational.tpchQ17(spark, sf))
    assert(count(p, "lineitem.parquet") === 1, p)
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q19: the brand/size disjunction pushes into the part " +
      "scan (OR'd PushedFilters), the pruned dimension broadcasts, one " +
      "lineitem scan") {
    val p = plan(operators.Relational.tpchQ19(spark, sf))
    assert(p.contains("Or(And("), p)
    assert(p.contains("EqualTo(p_brand,Brand#12)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(count(p, "lineitem.parquet") === 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q22: no-recent-orders is a LEFT ANTI against the date-" +
      "pruned orders scan (pushed filter), the global average joins as " +
      "a 1-row broadcast, nation broadcasts into the rollup") {
    val p = plan(operators.Relational.tpchQ22(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderda"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("win_ntile: one window pass per segment partition, rollup onto " +
      "the bounded 5×10 key space with map-side partials") {
    val p = plan(operators.Analytic.winNtile(spark, sf))
    assert(p.contains("Window"), p)
    assert(count(p, "HashAggregate") >= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("text_readability: map-only regex projection — a single " +
      "documents scan, no hash exchange (only the terminal sort), " +
      "read schema pruned to doc_id + text") {
    val p = plan(operators.TextAnalysis.textReadability(spark, sf))
    assert(count(p, "documents.parquet") === 1, p)
    assert(count(p, "Exchange hashpartitioning") === 0, p)
    assert(p.contains("ReadSchema: struct<doc_id:"), p)
    assert(!p.contains("Join"), p)
  }

  test("stat_chi2: the fact collapses map-side onto the bounded 20-key " +
      "contingency agg — a single events scan, windows only over the " +
      "bounded frame, no join") {
    val p = plan(operators.EventAnalytics.statChi2(spark, sf))
    assert(count(p, "events.parquet") === 1, p)
    assert(count(p, "HashAggregate") >= 2, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("corpus_drift: both slice counts build in ONE pass over a " +
      "persisted vocab frame — a single documents scan, the totals " +
      "branch reads the cache (InMemoryTableScan), 1-row totals " +
      "broadcast") {
    val p = plan(operators.TextAnalysis.corpusDrift(spark, sf))
    try {
      // BOTH consumers (totals branch and final projection) read the
      // cached vocab frame — the plan printer inlines the cached
      // build's lineage under each InMemoryRelation, so count cache
      // reads, not the rendered parquet string
      assert(count(p, "InMemoryTableScan") >= 2, p)
      assert(p.contains("BroadcastNestedLoop") ||
        p.contains("BroadcastHashJoin"), p)
      // the corpus-sized work (explode + partial agg) appears only
      // inside the cached build, never outside it
      assert(count(p, "Generate explode") === 2, p) // once per inlined render
    } finally operators.Caches.releaseAll()
  }

  test("stat_ks: the global CDF is a TWO-LEVEL prefix sum over a " +
      "persisted distinct-value frame — bucket offsets broadcast, the " +
      "per-bucket windows partition by bucket, never one global sort " +
      "partition") {
    val p = plan(operators.EventAnalytics.statKs(spark, sf))
    try {
      assert(count(p, "InMemoryTableScan") >= 2, p)
      // the probe window partitions by bkt (two-level), not a bare
      // global ORDER BY over the data
      assert(p.contains("Window [") && p.contains("bkt"), p)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoop"), p)
    } finally operators.Caches.releaseAll()
  }

  test("corpus_gini: the global length rank is a TWO-LEVEL prefix sum — " +
      "bucket offsets broadcast, the corpus window partitions by bkt, " +
      "never one global sort partition") {
    val p = plan(operators.TextAnalysis.corpusGini(spark, sf))
    // exactly two Window nodes: the per-bucket local row_number and the
    // tiny bucket-offset prefix sum
    assert(count(p, "Window") === 2, p)
    // the corpus window's spec leads with the bkt partition
    assert(p.contains("windowspecdefinition(bkt"),
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    // offsets ride a broadcast join back onto the corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("tpch_q2: dimensions broadcast and the per-part min is a window " +
      "over the dimension-scale catalog — one partkey shuffle, no " +
      "join-back second pass, no cartesian") {
    val p = plan(operators.Relational.tpchQ2(spark, sf))
    assert(p.contains("windowspecdefinition(ps_partkey"),
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // top-100 under a total order is TakeOrderedAndProject, never a
    // global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tpch_q4: the EXISTS is a LEFT SEMI hash join on orderkey with " +
      "the lateness inequality as the join residual — never a " +
      "decorrelated second aggregate or a cartesian") {
    val p = plan(operators.Relational.tpchQ4(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // the date filter on orders pushes to the scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("tpch_q20: lineitem is scanned ONCE — the per-part total is a " +
      "window over the already-aggregated (part, supplier) frame, not " +
      "a second fact scan") {
    val p = plan(operators.Relational.tpchQ20(spark, sf))
    assert(count(p, "lineitem.parquet") === 1,
      p.linesIterator.filter(_.contains("lineitem")).mkString("\n"))
    assert(p.contains("windowspecdefinition(l_partkey"),
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("tpch_q21: the double-EXISTS correlation collapses to ONE " +
      "lineitem scan (per-order aggregate rewrite) — the textbook " +
      "plan's two lineitem self-joins never appear") {
    val p = plan(operators.Relational.tpchQ21(spark, sf))
    assert(count(p, "lineitem.parquet") === 1,
      p.linesIterator.filter(_.contains("lineitem")).mkString("\n"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("stat_mannwhitney: the doubled-midrank cumulative is the same " +
      "two-level prefix sum as stat_ks — persisted distinct-value " +
      "frame, bucket offsets broadcast, per-bucket exclusive windows, " +
      "never one global sort partition") {
    val p = plan(operators.EventAnalytics.statMannWhitney(spark, sf))
    try {
      assert(count(p, "InMemoryTableScan") >= 2, p)
      assert(p.contains("Window [") && p.contains("bkt"), p)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoop"), p)
    } finally operators.Caches.releaseAll()
  }

  test("dq_expectations: the whole rule suite costs TWO fact scans — " +
      "one aggregate pass for the five row-local rules + uniqueness, " +
      "one broadcast LEFT ANTI for referential integrity — never a " +
      "scan per rule") {
    val p = plan(operators.Pipeline.dqExpectations(spark, sf))
    assert(count(p, "orders.parquet") === 2,
      p.linesIterator.filter(_.contains("orders")).mkString("\n"))
    assert(p.contains("LeftAnti"), p)
    // uniqueness rides the SAME aggregate pass (Catalyst's
    // single-distinct rewrite: partial per-orderkey grouping under the
    // global merge), not a third scan
    assert(p.contains("count(distinct o_orderkey"), p)
  }

  test("agg_countmin: the sketch broadcasts to the probe side and the " +
      "(j,bucket) build agg carries a map-side partial — the shuffle is " +
      "bounded by d*w counters, never by key cardinality") {
    val p = plan(operators.EventAnalytics.aggCountMin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // partial_count under the (j, b) grouping = per-partition collapse
    // to <= d*w rows before the exchange
    assert(p.contains("partial_count"), p)
  }

  test("rank_rrf: the three lang-partitioned windows share ONE hash " +
      "exchange, and the top-10 cut prunes via WindowGroupLimit before " +
      "the terminal order") {
    val p = plan(operators.TextAnalysis.rankRrf(spark, sf))
    assert(count(p, "Exchange hashpartitioning(lang") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("stat_ttest: the whole Welch test is ONE conditional-moment " +
      "aggregate pass — map-side partial sums, one fact scan, no join " +
      "or window") {
    val p = plan(operators.EventAnalytics.statTtest(spark, sf))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(p.contains("partial_sum") || p.contains("partial_"), p)
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("eval_retrieval: the ranking window and the per-lang metric agg " +
      "share ONE lang hash exchange — the agg rides the window's " +
      "partitioning") {
    val p = plan(operators.TextAnalysis.evalRetrieval(spark, sf))
    assert(count(p, "Exchange hashpartitioning(lang") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("Window ["), p)
  }

  test("eval_ndcg: the rank window and the per-lang DCG agg share ONE " +
      "lang hash exchange; the discount lookup is literal CASE work — " +
      "no join, no second corpus pass") {
    val p = plan(operators.TextAnalysis.evalNdcg(spark, sf))
    assert(count(p, "Exchange hashpartitioning(lang") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("Window ["), p)
    assert(!p.contains("Join"), p)
    assert(count(p, "documents.parquet") === 1, p)
  }

  test("corpus_budget_cut: the running token sum and the budget filter " +
      "ride ONE lang hash exchange — bounded per-lang window " +
      "partitions, never a global single-partition window") {
    val p = plan(operators.TextAnalysis.corpusBudgetCut(spark, sf))
    assert(count(p, "Exchange hashpartitioning(lang") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window ["), p)
    assert(count(p, "documents.parquet") === 1, p)
  }

  test("event_transitions: ONE fact-sized user_id exchange feeds the lag " +
      "window; the pair agg and row-conditional window run on the " +
      "bounded |types|^2 space — no join, one scan") {
    val p = plan(operators.EventAnalytics.eventTransitions(spark, sf))
    assert(count(p, "Exchange hashpartitioning(user_id") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join"), p)
    assert(count(p, "events.parquet") === 1, p)
  }

  test("eval_kappa: the contingency cells collapse map-side (partial agg " +
      "before the bounded-key exchange) into ONE cached <=25-row cell " +
      "frame; marginals, totals and the P_e join all fold that cache — " +
      "the fact is scanned once, and both joins are broadcast over " +
      "bounded class/scalar frames, never a fact-sized shuffle join") {
    val p = plan(operators.EventAnalytics.evalKappa(spark, sf))
    assert(p.contains("HashAggregate"), p)
    // three consumers of the cached cell frame: a-marginals, b-marginals
    // and the n/n_agree totals (the printer inlines the cache-build
    // lineage under each scan — count the scans, not the parquet path)
    assert(count(p, "InMemoryTableScan") === 3, p)
    // marginal join + the 1-row cross join are both broadcast
    assert(count(p, "BroadcastHashJoin") + count(p, "BroadcastNestedLoopJoin") === 2,
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("agg_moments: ONE fact scan, power sums collapse map-side onto " +
      "the bounded returnflag space — no join, no window, and the " +
      "decimal moment algebra is scalar work on 3 rows") {
    val p = plan(operators.Analytic.aggMoments(spark, sf))
    assert(count(p, "lineitem.parquet") === 1, p)
    assert(!p.contains("Join") && !p.contains("Window ["), p)
    assert(count(p, "Exchange hashpartitioning(l_returnflag") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("dq_referential: each FK edge is ONE left-anti join (child " +
      "without surviving parent), no cartesian anywhere, and the " +
      "parent sides read only their key column") {
    val p = plan(operators.Pipeline.dqReferential(spark, sf))
    assert(count(p, "LeftAnti") === 3, p)
    assert(!p.contains("CartesianProduct"), p)
    // parent scans pruned to the single key column
    assert(p.contains("ReadSchema: struct<c_custkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<p_partkey:bigint>"), p)
  }

  test("ts_decompose: the fact collapses map-side onto the time-bounded " +
      "(hour x type) grid before any window; both decomposition windows " +
      "run on bounded per-type partitions — no single-partition window, " +
      "no join, one scan") {
    val p = plan(operators.EventAnalytics.tsDecompose(spark, sf))
    assert(count(p, "events.parquet") === 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(count(p, "Window [") >= 2, p)
    assert(p.contains("partial"), p) // map-side collapse before exchange
  }

  test("eval_auc: the rank-sum AUC reuses the two-level prefix machinery " +
      "— persisted distinct-score frame, bucket offsets broadcast, " +
      "per-bucket exclusive windows, never one global sort partition") {
    val p = plan(operators.EventAnalytics.evalAuc(spark, sf))
    try {
      assert(count(p, "InMemoryTableScan") >= 2, p)
      assert(p.contains("Window [") && p.contains("bkt"), p)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoop"), p)
    } finally operators.Caches.releaseAll()
  }

  test("sample_stratified: the stratum count and the permutation rank " +
      "are two windows over ONE shared lang hash exchange — no " +
      "self-join, no second scan, no driver quota table") {
    val p = plan(operators.TextAnalysis.sampleStratified(spark, sf))
    assert(count(p, "Exchange hashpartitioning(lang") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(count(p, "documents.parquet") === 1,
      p.linesIterator.filter(_.contains("documents")).mkString("\n"))
    assert(!p.contains("Join"), p)
  }

  test("join_spatial_knn: the kNN radius join is a cell-key EQUI-join " +
      "over the constant 3x3 neighborhood explode with a per-probe " +
      "WindowGroupLimit cut — never a cartesian or nested-loop pass") {
    val p = plan(operators.Relational.joinSpatialKnn(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("Generate explode"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("eval_calibration: the whole reliability diagram is ONE " +
      "map-side-partial aggregate pass into a 10-row bounded group-by " +
      "— one fact scan, no join, no window") {
    val p = plan(operators.EventAnalytics.evalCalibration(spark, sf))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("ts_autocorr: the lag window and the per-user moment agg share " +
      "ONE user_id hash exchange — the agg rides the window's " +
      "partitioning") {
    val p = plan(operators.EventAnalytics.tsAutocorr(spark, sf))
    assert(count(p, "Exchange hashpartitioning(user_id") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("Window ["), p)
    assert(!p.contains("Join"), p)
  }

  test("dq_kanonymity: one QI-domain-bounded aggregate pass + a 1-row " +
      "total broadcast — one customer scan for the classes, never a " +
      "join against the fact") {
    val p = plan(operators.Pipeline.dqKanonymity(spark, sf))
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("eval_confusion: the four cells are ONE conditional-count " +
      "aggregate pass — one scan, no join, no window") {
    val p = plan(operators.EventAnalytics.evalConfusion(spark, sf))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("stat_bootstrap: the 20 replicates are one constant explode into " +
      "a B-bounded group-by with map-side partials — one scan, one " +
      "tiny shuffle, no join") {
    val p = plan(operators.EventAnalytics.statBootstrap(spark, sf))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(p.contains("Generate explode"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Join"), p)
  }

  test("feat_minmax: the per-type range table is a bounded agg " +
      "broadcast back over the fact — never a window over the full " +
      "log for two scalars per key") {
    val p = plan(operators.EventAnalytics.featMinmax(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window ["), p)
    assert(p.contains("partial_min") || p.contains("partial_max"), p)
  }

  test("ts_changepoint: all four windows (index, running sum, totals, " +
      "argmax pick) ride ONE user_id hash exchange — no join, no " +
      "second scan") {
    val p = plan(operators.EventAnalytics.tsChangepoint(spark, sf))
    assert(count(p, "Exchange hashpartitioning(user_id") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(!p.contains("Join"), p)
  }

  test("event_attribution: one user timeline window then a " +
      "channel-bounded agg with map-side partials — the log is never " +
      "joined against itself") {
    val p = plan(operators.EventAnalytics.eventAttribution(spark, sf))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(p.contains("Window [") && p.contains("partial_count"), p)
    assert(!p.contains("Join"), p)
  }

  test("eval_regression: the regression metrics are ONE " +
      "conditional-moment aggregate pass — one scan, no join, no " +
      "window") {
    val p = plan(operators.EventAnalytics.evalRegression(spark, sf))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("ts_seasonal_profile: one agg pass into a 7-row bounded " +
      "group-by + a 1-row global broadcast — never a second fact scan") {
    val p = plan(operators.EventAnalytics.tsSeasonalProfile(spark, sf))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(p.contains("BroadcastNestedLoop") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("assoc_rules: the log collapses ONCE to the distinct (user, " +
      "item) frame, the pair join is user-keyed, and every measure " +
      "join is broadcast — never log x log") {
    val p = plan(operators.EventAnalytics.assocRules(spark, sf))
    assert(count(p, "BroadcastHashJoin") >= 2 ||
      (count(p, "BroadcastHashJoin") >= 1 &&
        p.contains("BroadcastNestedLoop")), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("feat_target_encode: the per-type (sum, count) table is a " +
      "bounded agg broadcast back over the fact — the two-pass " +
      "discipline, no window over the full log") {
    val p = plan(operators.EventAnalytics.featTargetEncode(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window ["), p)
  }

  test("dq_profile: all columns profile in ONE pass — the multi-distinct " +
      "Expand plan over a single orders scan, never a pass per column") {
    val p = plan(operators.Pipeline.dqProfile(spark, sf))
    assert(count(p, "orders.parquet") === 1,
      p.linesIterator.filter(_.contains("orders")).mkString("\n"))
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("pipeline_events: the five-stage flow (sessionize window, " +
      "session agg, user rollup) shares ONE user_id hash exchange, " +
      "plus only the bounded final decile agg") {
    val p = plan(operators.Pipeline.pipelineEvents(spark, sf))
    assert(count(p, "Exchange hashpartitioning(user_id") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(!p.contains("Join"), p)
  }

  test("embed_matryoshka: probes broadcast (candidates never shuffle " +
      "for scoring) and the two rank windows + per-probe agg share one " +
      "probe_id hash exchange") {
    val p = plan(operators.Similarity.embedMatryoshka(spark, sf))
    assert(p.contains("BroadcastNestedLoop") ||
      p.contains("BroadcastHashJoin"), p)
    assert(count(p, "Exchange hashpartitioning(probe_id") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("ts_interarrival: the lag window partitions on the bounded " +
      "(user, type) key and the final agg is type-bounded — never a " +
      "global or per-type-global sort") {
    val p = plan(operators.EventAnalytics.tsInterarrival(spark, sf))
    assert(p.contains("Exchange hashpartitioning(user_id"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(!p.contains("Join"), p)
  }

  test("text_ttr: map-only — no exchange except the terminal " +
      "presentation sort, no join, no window, no aggregate") {
    val p = plan(operators.TextAnalysis.textTtr(spark, sf))
    assert(count(p, "Exchange hashpartitioning") === 0,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("stat_gini_impurity: one conditional-count agg pass into a " +
      "type-bounded group-by — one scan, no join, no window") {
    val p = plan(operators.EventAnalytics.statGiniImpurity(spark, sf))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("anomaly_rolling_z: the constant-width frame sums ride ONE " +
      "user_id hash exchange — no join, no second scan") {
    val p = plan(operators.EventAnalytics.anomalyRollingZ(spark, sf))
    assert(count(p, "Exchange hashpartitioning(user_id") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(!p.contains("Join"), p)
  }

  test("eval_pr_curve: all 10 thresholds cost ONE conditional-count " +
      "aggregate pass + a 10-row stack — never a pass per threshold") {
    val p = plan(operators.EventAnalytics.evalPrCurve(spark, sf))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("stat_benford: one agg pass into a 9-row bounded group-by + a " +
      "1-row total broadcast — one fact scan for the digit counts") {
    val p = plan(operators.EventAnalytics.statBenford(spark, sf))
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastNestedLoop") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_code_detect: map-only — no hash exchange, no join, no " +
      "window, no aggregate") {
    val p = plan(operators.TextAnalysis.textCodeDetect(spark, sf))
    assert(count(p, "Exchange hashpartitioning") === 0,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("sample_tiered: map-only — no hash exchange, no join, no " +
      "window; the tiered keep is one predicate per row") {
    val p = plan(operators.TextAnalysis.sampleTiered(spark, sf))
    assert(count(p, "Exchange hashpartitioning") === 0,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join") && !p.contains("Window ["), p)
  }

  test("stat_runs: the moments window, lag window and per-user agg all " +
      "ride ONE user_id hash exchange — no join, one scan") {
    val p = plan(operators.EventAnalytics.statRuns(spark, sf))
    assert(count(p, "Exchange hashpartitioning(user_id") === 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(count(p, "events.parquet") === 1,
      p.linesIterator.filter(_.contains("events")).mkString("\n"))
    assert(!p.contains("Join"), p)
  }

  test("sim_ivfpq: probe-lists broadcast, the corpus-sized code scan " +
      "joins on list_id as a broadcast-hash join — no cartesian, no " +
      "sort-merge over float32 storage in the shortlist tier") {
    val p = plan(operators.Similarity.simIvfPq(spark, sf))
    // the ONLY unconditioned join is the deliberate probes × centroids
    // cross (10 × 32 rows, the probe-list build — sim_ann's shape);
    // nothing corpus-sized ever meets a nested loop or a sort-merge
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(count(p, "BroadcastNestedLoopJoin") === 1, p)
    // centroid table + probe-list frame both broadcast
    assert(count(p, "BroadcastExchange") >= 2, p)
    // the tier-1 scan joins the broadcast probe lists on the list id
    assert(p.contains("BroadcastHashJoin [list_id"), 
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("snapshot_skipping: the residual range predicate is PUSHED to " +
      "the (already manifest-pruned) parquet scan — the two skipping " +
      "tiers compose instead of one replacing the other") {
    val p = plan(operators.Layout.snapshotSkipping(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(event_id), " +
      "GreaterThanOrEqual(event_id"), p)
    assert(!p.contains("Join"), p)
  }

  test("multimodal_decode: ONE documents scan, container synthesis and " +
      "the typed mapPartitions parse are map-only — the only exchange " +
      "is the terminal sort's range partitioning") {
    val p = plan(operators.Multimodal.multimodalDecode(spark, sf))
    assert(count(p, "documents.parquet") === 1, p)
    assert(!p.contains("Join"), p)
    assert(p.contains("MapPartitions"), p)
    assert(count(p, "Exchange hashpartitioning") === 0, p)
    assert(count(p, "Exchange rangepartitioning") === 1, p)
  }

  test("census meta: every SURVEY §2B row promising a PlanSpec pin has a " +
      "matching named PlanSpec test") {
    // The census test (GoldenSpec) stops KEY-count drift; nothing
    // stopped PLAN-PROMISE drift — a §2B row claiming "PlanSpec
    // asserts X" whose test was never written (or later renamed away).
    // Contract: a §2B row that promises a plan pin mentions "PlanSpec"
    // literally, and the matching test's NAME leads with (or contains)
    // the row's key, which every existing pin already follows.
    import java.nio.file.{Files => F, Paths => P}
    def read(rel: String): String = {
      val p = Seq(P.get(rel), P.get(sys.props("user.dir")).resolve(rel))
        .find(F.exists(_))
        .getOrElse(fail(s"cannot locate $rel from ${sys.props("user.dir")}"))
      new String(F.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
    }
    val promised = read("SURVEY.md").linesIterator
      .filter(l => l.startsWith("| Q") && l.contains("PlanSpec"))
      .map(_.split("\\|").map(_.trim).apply(2).stripPrefix("`").stripSuffix("`"))
      .toSeq
    // format-drift guard: a SURVEY reformat that empties the parse must
    // fail loudly, not vacuously pass
    assert(promised.size >= 15, s"§2B parse found only $promised")
    val src = read("src/test/scala/graft/PlanSpec.scala")
    // test headers, with "+"-concatenated string literals joined
    val names = """(?s)test\((.*?)\)\s*\{""".r.findAllMatchIn(src)
      .map(_.group(1)
        .replaceAll("\"\\s*\\+\\s*\"", "")
        .replaceAll("^\\s*\"|\"\\s*$", ""))
      .toSeq
    val missing = promised.filterNot(k => names.exists(_.contains(k)))
    assert(missing.isEmpty,
      s"SURVEY §2B promises a PlanSpec pin with no matching test: $missing")
  }
}
