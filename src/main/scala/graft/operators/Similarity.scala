package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the `embeddings` table (64-dim unit-norm
  * float vectors, 10 cluster labels) — north-star LLM-pipeline
  * operators; no reference analogue (the reference is a single-table
  * scalar-aggregate engine, README.md:6-15).
  *
  * Two regimes:
  *  - `simTopk` — brute-force cosine top-k: the exact baseline, and the
  *    formulation the DuckDB oracle replays (SURVEY.md §2B Q39);
  *  - `simAnn`  — IVF (inverted-file) ANN top-k: the 100 TB scale path.
  *    A sampled k-means fit learns coarse centroids; vectors are routed
  *    to their nearest-centroid list and probes score only their
  *    nprobe closest lists (the FAISS IVF-Flat shape — see the block
  *    comment at `simAnn` for the full argument).
  *
  * Scale notes (100 TB design intent):
  *  - the probe set is small and BROADCAST — the candidate side never
  *    shuffles; scoring is map-only over the candidate scan;
  *  - dot products run as zip_with + aggregate (sequential fold inside
  *    codegen'd higher-order builtins) — no posexplode row blowup
  *    (N×dim rows) and no UDF;
  *  - per-probe top-k uses one window over probe_id; with k probes the
  *    sort is over N·p/k rows per partition. At 1B+ candidates, cut the
  *    pre-sort volume with the ANN bucket filter (`simAnn`), which is
  *    exactly why it exists;
  *  - LSH hyperplanes are a deterministic seeded matrix compiled into
  *    the plan as literals — no fit step, no driver state, identical
  *    signatures on every executor.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double, sequential left-to-right fold (deterministic). */
  private[graft] def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** ‖a‖₂ in double. */
  private[graft] def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  private val K = 10        // neighbours per probe
  private val NProbes = 10  // probe vectors: vec_id < 10

  // Q39 `sim_topk` — exact cosine top-10 for each of the 10 probe
  // vectors over all other embeddings. The scoring inner loop is the
  // native codegen'd CosineSim expression (one fused loop per pair, no
  // zipped intermediate array — graft.functions.CosineSim); numerics
  // are identical to the zip_with+aggregate formulation. round(·,4)
  // before ranking so Spark and the oracle rank identically despite
  // last-ulp summation differences; ties broken by cand_id.
  //
  // The scoring call goes through the SQL FUNCTION REGISTRY
  // (`expr("cosine_sim(...)")` after CosineSim.register) rather than
  // the Column helper, so the extension-surface registration path —
  // what a spark.sql user of the library actually hits — is covered by
  // this key's oracle, not just a unit test. Both routes construct the
  // same Catalyst expression.
  def simTopk(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val probes = broadcast(
      emb.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe")))
    val scored = emb.join(probes, col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(expr("cosine_sim(pe, embedding)"), 4)
          .as("cosine"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("probe_id", "cand_id", "cosine")
      .orderBy("probe_id", "cand_id")
  }

  // `sim_filtered` — FILTERED vector search (r16): top-k restricted to
  // candidates satisfying a metadata predicate — here the probe's own
  // cluster label, the tenant/category-scoped search every production
  // vector store serves (the pre-filter vs post-filter problem:
  // post-filtering a global top-k UNDERFILLS when the predicate is
  // selective — a global top-10 may contain 0 same-label rows — so the
  // predicate must compose INTO the search). Exact tier, declared with
  // a DuckDB oracle (the sim_topk formulation + the label equi-join):
  // probes broadcast WITH their label, the candidate scan applies the
  // predicate map-side BEFORE any scoring — the scan shrinks by the
  // predicate's selectivity (10× here), nothing shuffles. At scale the
  // same predicate pushes into the IVF tier as a list-level filter
  // (the committed inverted file carries label alongside list_id, so
  // filtered-ANN = filter lists' members, then the identical shortlist
  // + rerank) — the exact key pins the SEMANTICS that composition must
  // reproduce.
  def simFiltered(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val probes = broadcast(
      emb.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          col("label").as("plabel")))
    val scored = emb
      .join(probes,
        col("probe_id") =!= col("vec_id") && col("label") === col("plabel"))
      .select(col("probe_id"), col("vec_id").as("cand_id"), col("label"),
        round(graft.functions.CosineSim.cosineSim(col("pe"), col("embedding")), 4)
          .as("cosine"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("probe_id", "cand_id", "label", "cosine")
      .orderBy("probe_id", "cand_id")
  }

  // `dq_embedding` — embedding data-quality profile (r16): the checks
  // an LLM pipeline runs BEFORE trusting a vector column — per label
  // (the natural shard/tenant grain): row count, wrong-dimension
  // count, any-NaN count, all-zero count, out-of-unit-norm count
  // (|‖v‖²−1| > 0.01 — the corpus contract is unit-norm), and the
  // observed ‖v‖² range. A bad embedding batch (truncated arrays, NaN
  // from an fp16 overflow, zero rows from a failed encoder) poisons
  // every downstream ANN/dedup/cluster pass silently — this is the
  // gate that catches it at ingest. All-integer counts + 4-dp norm
  // renders ⇒ exact DuckDB oracle; single map-side pass over the
  // corpus, one bounded-key partial agg, no joins, no shuffle beyond
  // the 10-label rollup.
  def dqEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val norm2 = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    emb.select(col("label"),
        size(col("embedding")).as("dim"),
        exists(col("embedding"), x => isnan(x)).as("has_nan"),
        forall(col("embedding"), x => x === 0.0f).as("all_zero"),
        round(norm2, 4).as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("dim") =!= PcaDims, 1L).otherwise(0L)).as("n_bad_dim"),
        sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_nan"),
        sum(when(col("all_zero"), 1L).otherwise(0L)).as("n_zero"),
        sum(when(abs(col("n2") - 1.0d) > 0.01d, 1L).otherwise(0L))
          .as("n_off_unit"),
        min(col("n2")).as("min_norm2"),
        max(col("n2")).as("max_norm2"))
      .orderBy("label")
  }

  /** Exact cosine top-[[K]] over the corpus for an ARBITRARY probe
    * frame (`probe_id`, `pe`) — the brute-force ground truth the
    * out-of-sample recall pins compare the ANN tiers against (VERDICT
    * r15 item 4). Same shape as [[simTopk]]: probes broadcast, the
    * corpus never shuffles, one (probe_id)-window ranks. */
  private[operators] def bruteTopkFor(spark: SparkSession, dir: String,
      probes: DataFrame): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val scored = emb.join(broadcast(probes), col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(graft.functions.CosineSim.cosineSim(col("pe"), col("embedding")), 4)
          .as("cosine"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("probe_id", "cand_id", "cosine")
      .orderBy("probe_id", "cand_id")
  }

  // `dedup_embedding` — embedding-cosine pair detection: every vector
  // pair with cosine ≥ 0.4 (threshold applied to the 4-dp rounded value
  // in both engines so a last-ulp boundary pair cannot diverge).
  //
  // Why this is a BLOCKED SYMMETRIC SELF-JOIN and not an LSH/IVF
  // candidate pass: the 0.4 threshold sits in the smooth upper tail of
  // the background cosine distribution — measured on the driver data,
  // qualifying pairs run continuously down to exactly 0.4000 (sf0.1:
  // 920 pairs in [0.4000, 0.601]; 99.9th pct of ALL pairs is 0.376) and
  // only ~9% share a cluster label. There is no similarity gap, so NO
  // sub-quadratic candidate scheme can be exact-complete here: random-
  // hyperplane bits collide at p=0.63 for cos=0.4 vs p=0.55 for the
  // 0.3 background — any banding admitting all boundary pairs admits
  // ~the whole corpus. Exact all-pairs at a low threshold is inherently
  // Ω(N²) comparisons; the scalable EXACT shape is to distribute those
  // comparisons evenly, which is what the G×G tile grid does:
  //  - each vector hash-blocks into one of G groups and is shuffled to
  //    the G+1 tiles (bi, bj), bi ≤ bj, that its group participates in —
  //    shuffle volume O(N·G), never O(N²);
  //  - pairs materialize ONLY as the streamed output of a shuffled
  //    equi-join on the tile key (no BroadcastNestedLoopJoin, no
  //    CartesianProduct, no broadcast-memory wall — asserted in
  //    PlanSpec), scored by the fused codegen CosineSim loop and
  //    filtered before anything is buffered;
  //  - G tunes task granularity: G ≈ sqrt(2·tasks_wanted); at 1B
  //    vectors pick G so a tile side (N/G rows) fits an executor core's
  //    memory. Work per tile is uniform by construction (hash blocks).
  // When the contract is genuinely near-duplicate (cos ≥ 0.9, a real
  // gap), the banded-LSH two-phase shape of `dedupNear` applies — that
  // regime is demonstrated there; this operator keeps the exact-tail
  // contract the oracle can replay.
  private val Grid = 8 // 36 tiles ≈ balanced tasks at local[32]
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val blk = pmod(xxhash64(col("vec_id")), lit(Grid)).cast("int")
    // row-role: a vector in block g feeds tiles (g, j) for j ≥ g
    val a = emb
      .select(col("vec_id").as("id_a"), col("embedding").as("ea"), blk.as("ti"))
      .withColumn("tj", explode(sequence(col("ti"), lit(Grid - 1))))
    // col-role: a vector in block g feeds tiles (i, g) for i ≤ g
    val b = emb
      .select(col("vec_id").as("id_b"), col("embedding").as("eb"), blk.as("tj"))
      .withColumn("ti", explode(sequence(lit(0), col("tj"))))
    // off-diagonal tiles see each unordered pair once (row-block ≠
    // col-block); diagonal tiles see both orderings → keep id_a < id_b
    // there, then normalize ids (cosine is symmetric, so swapping the
    // embeddings with the ids is free).
    //
    // shuffle_hash hint, measured 2.4× over the default sort-merge
    // (1.21s vs 2.88s at sf0.1): with G²/2 heavy tile keys the SMJ
    // per-partition sorts buy nothing — every key's pairs are crossed
    // anyway — while the hash build avoids the sorted-buffer row
    // copies. Same reasoning holds at scale: tile keys are few and
    // deliberately uniform, exactly the shuffled-hash sweet spot.
    a.join(b.hint("shuffle_hash"), Seq("ti", "tj"))
      .filter(col("ti") =!= col("tj") || col("id_a") < col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"),
        round(graft.functions.CosineSim.cosineSim(col("ea"), col("eb")), 4)
          .as("cosine"))
      .filter(col("cosine") >= 0.4)
      .orderBy("vec_a", "vec_b")
  }

  // `embed_cluster` — nearest-centroid assignment of every vector to a
  // fixed centroid table (k = 8, the embeddings with vec_id < 8 — a
  // deterministic stand-in for trained centroids so the assignment is
  // exactly SQL-replayable; with trained centroids this is the E-step
  // of distributed k-means and the routing step of IVF partitioning).
  // Shape: broadcast the k×dim centroid table, score with the fused
  // codegen CosineSim loop, per-vector argmax as ONE struct-max
  // aggregation (max on (cosine, -cid) → highest cosine, ties to the
  // smallest centroid id) — map-side partial, no window, no sort.
  // The build side is k = 8 rows, so the broadcast cross join is a
  // map-only k-way expansion (cost N·k scores), NOT an all-pairs join;
  // at 100 TB this is the canonical "route every row" pass: one scan,
  // zero candidate shuffles, one (vec_id)-keyed reduce.
  private val NCentroids = 8
  def embedCluster(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = broadcast(
      emb.filter(col("vec_id") < NCentroids)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("ce")))
    emb.crossJoin(cents)
      .select(col("vec_id"), col("cid"),
        round(graft.functions.CosineSim.cosineSim(col("ce"), col("embedding")), 4)
          .as("cos"))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("cid")).as("ncid"))).as("best"))
      .select(col("vec_id"), (-col("best.ncid")).as("cluster_id"),
        col("best.cos").as("cosine"))
      .orderBy("vec_id")
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) approximate nearest neighbour
  // ------------------------------------------------------------------
  private val NLists = 32   // k-means partitions (IVF lists)
  private val NProbe = 8    // lists searched per probe

  // Q39b `sim_ann` — IVF approximate top-10 (the FAISS-style scale
  // path): k-means partitions the corpus into NLists inverted lists;
  // every candidate is scored only if it lives in one of the NProbe
  // lists whose centroids are nearest the probe. Searching NProbe/NLists
  // of the corpus cuts scored pairs 4× here (and 100× at scale with
  // NLists ~ sqrt(N)).
  //
  // Chosen over random-hyperplane LSH deliberately: this corpus's true
  // top-10 neighbours sit at cosine 0.24-0.49 (weakly clustered), where
  // sign-bit signatures collide with probability ~0.6 per bit — a
  // 16-bit bucket join surfaces almost nothing. IVF degrades gracefully
  // instead: recall is bounded below by the probed share of the corpus.
  //
  // Determinism: fixed seed + fixed data → fixed sample → fixed
  // centroids → fixed output. Approximate ⇒ no SQL oracle;
  // SimilaritySpec asserts recall@10 vs `simTopk`.
  //
  // Index-build vs search separation (the 100 TB shape): k-means is
  // TRAINING, not querying — it runs on a seeded 20% SAMPLE (centroid
  // quality needs cluster geometry, not every point; at 1B vectors you
  // fit on ~1M) and the fitted centroids + list assignment COMMIT as
  // lakehouse tables (AnnIndexStore), so repeated queries against the
  // same corpus — across sessions and JVMs — pay the fit ONCE, like
  // any trained ANN index. Search is then pure dataflow: centroids are
  // k×dim (tiny → broadcast), list assignment is the committed
  // inverted file, and each probe's candidate scoring is a
  // broadcast-hash join on the list id — no all-pairs anywhere.
  private def ivfParams = s"ivf.v1:k=$NLists:seed=42:sample=0.2"

  /** Centroid table (`list_id`, `centroid: array<double>`) +
    * list-assigned corpus frame of the per-dir IVF index. Factored out
    * of [[simAnn]] so the list-SKEW pin (SimilaritySpec) can read the
    * index structure: search cost is bounded by the probed lists'
    * sizes, so a degenerate fit (one mega-list) would silently
    * reintroduce brute force while recall stayed green.
    *
    * PERSISTED (VERDICT r15 item 3): the k-means fit runs once per
    * (corpus, params) and both tables commit through [[AnnIndexStore]]
    * — centroids are the trained model's weights, the assignment is
    * the inverted file. A cold session reads the committed tables and
    * never refits; the `list_id`-range file layout + manifest footer
    * stats mean a probe of NProbe/NLists lists prunes the file set in
    * the same proportion (the IVF promise pushed down to the storage
    * tier). Serving is pure dataflow from here — no driver-held
    * KMeansModel survives the fit. */
  private[operators] def ivfIndex(spark: SparkSession, dir: String):
      (DataFrame, DataFrame) =
    Caches.memo(spark, dir, "ivf") {
      val fpCent = AnnIndexStore.fingerprint(spark, dir, ivfParams + ":cent")
      val fpList = AnnIndexStore.fingerprint(spark, dir, ivfParams + ":list")
      (AnnIndexStore.readCommitted(spark, "ivfcent", dir, fpCent),
        AnnIndexStore.readCommitted(spark, "ivflist", dir, fpList)) match {
        case (Some(c), Some(l)) => (c, l)
        case _ =>
          import org.apache.spark.ml.clustering.KMeans
          import org.apache.spark.ml.functions.array_to_vector
          val emb = Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding"),
              array_to_vector(col("embedding")).as("fv"))
          val km = new KMeans().setK(NLists).setSeed(42L)
            .setFeaturesCol("fv").setPredictionCol("list_id")
          val model =
            km.fit(emb.sample(withReplacement = false, 0.2, seed = 7L))
          val spark2 = spark
          import spark2.implicits._
          val cents = model.clusterCenters.zipWithIndex
            .map { case (c, i) => (i, c.toArray) }.toSeq
            .toDF("list_id", "centroid")
          val listed = model.transform(emb)
            .select(col("vec_id"), col("embedding"), col("list_id"))
          (AnnIndexStore.commit(spark, "ivfcent", dir, cents,
              "list_id", fpCent),
            AnnIndexStore.commit(spark, "ivflist", dir, listed,
              "list_id", fpList))
      }
    }

  /** Per-list vector counts of the IVF index, ascending by list id. */
  private[operators] def ivfListSizes(spark: SparkSession, dir: String): Seq[Long] =
    ivfIndex(spark, dir)._2.groupBy("list_id").count()
      .orderBy("list_id").collect().map(_.getLong(1)).toSeq
  def simAnn(spark: SparkSession, dir: String): DataFrame = {
    val (cents, listed) = ivfIndex(spark, dir)

    // Centroid table: k×dim — tiny, broadcast. Served from the
    // committed index (the trained model's weights as a table).
    val centroids = broadcast(cents)

    // Each probe ranks centroids and keeps its NProbe nearest lists —
    // by the SAME metric k-means assigned candidates with (Euclidean):
    // argmin ‖p−c‖² = argmin(‖c‖² − 2·p·c), ‖p‖² constant per probe.
    // Ranking by raw dot product alone would reorder lists whose
    // centroid norms differ (tight vs diffuse clusters) and probe the
    // wrong lists.
    val probes = listed.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val cn2 = aggregate(col("centroid"), lit(0.0), (acc, x) => acc + x * x)
    val wc = Window.partitionBy("probe_id")
      .orderBy(col("cdist").asc, col("list_id"))
    val probeLists = broadcast(
      probes.crossJoin(centroids)
        .withColumn("cdist", cn2 - lit(2.0) * dot(col("pe"), col("centroid")))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= NProbe)
        .select("probe_id", "pe", "list_id"))

    // Score only candidates in probed lists (broadcast-hash join on the
    // list id), then per-probe top-k. Scoring uses the native codegen'd
    // CosineSim expression (same numerics as the HOF formulation).
    val scored = listed.join(probeLists, Seq("list_id"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(graft.functions.CosineSim.cosineSim(col("pe"), col("embedding")), 4)
          .as("cosine"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("probe_id", "cand_id", "cosine")
      .orderBy("probe_id", "cand_id")
  }

  // `embed_quantize` — symmetric int8 quantization of the embedding
  // store (per-vector scale = max|xᵢ|, code qᵢ = round(xᵢ/scale·127)):
  // the standard 4×-shrink for a billion-vector ANN shortlist tier
  // (float32 → int8; rerank the shortlist at full precision). Map-only
  // expression work over one scan — no shuffle, no UDF.
  //
  // Oracle exactness: xᵢ/scale·127 is the same left-to-right double
  // expression in both engines over identical float inputs — no
  // summation reassociation anywhere — so the doubles are bit-identical
  // and round() (ties away from zero in both) picks the same code. All
  // emitted aggregates of the codes (sum/min/max) are integer-exact;
  // only the display copy of the scale is round(·,4)-pinned.
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), v => abs(v.cast("double"))))
          .as("scale"))
      .select(col("vec_id"), col("scale"),
        // a zero vector (scale = 0) quantizes to all-zero codes in BOTH
        // engines — without the guard Spark's 0/0 → NaN non-ANSI-casts
        // to 0 while DuckDB's CAST(NaN) errors (engine-divergent)
        transform(col("embedding"),
          v => when(col("scale") === 0.0, lit(0))
            .otherwise(round(v.cast("double") / col("scale") * 127, 0)
              .cast("int")))
          .as("q"))
      .select(col("vec_id"),
        round(col("scale"), 4).as("scale_r"),
        size(col("q")).cast("long").as("n_dims"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))
      .orderBy("vec_id")

  // `embed_rp` — random-projection dimensionality reduction 64 → 8
  // (Achlioptas 2001 / Johnson-Lindenstrauss, public): y_j =
  // Σᵢ s(i,j)·xᵢ / √d with a DETERMINISTIC ±1 hyperplane matrix derived
  // from md5 parity — s(i,j) = −1 iff the first hex digit of
  // md5("i:j") is odd. The database-friendly RP: no gaussian sampling,
  // no stored matrix, both engines (and any future reader of the
  // projected table) re-derive the identical matrix from the formula.
  // This is the pre-step that makes 100 TB embedding workloads cheap —
  // downstream clustering/ANN runs on 8 floats instead of 64.
  //
  // Scale shape: posexplode × a sequence(0..7) generator give the
  // (i, j) grid inside whole-stage codegen (the repo's measured HOF
  // lesson: exploded codegen beats interpreted lambda aggregation);
  // each vector's 512 terms stay in its partition, so the partial
  // aggregation collapses to 8 rows per vector BEFORE the (vec_id, j)
  // shuffle. Long output format (vec_id, j, y) keeps the oracle a
  // plain GROUP BY replay.
  //
  // Determinism: each x is quantized ONCE to exact integer micro-units
  // (round(x·1e6) as BIGINT) before summation, so the per-(vec, j) sum
  // is exact integer arithmetic — partition count / summation order
  // cannot move the result by even one ulp. The single double division
  // (/ 8e6) and round(·,4) happen once at render, on identical exact
  // inputs in both engines. (r12 lesson: the float-sum variant flipped
  // a last-ulp round boundary under the driver's 32-thread layout.)
  // Embedding dim bound for embedRp's sign table, memoized per
  // (session, dir) — ADVICE r19: the previous hard-coded 1024 silently
  // DROPPED dimensions >= 1024 on the inner join for wider models
  // (1536/3072-dim). One bounded 1-row driver scalar (max array size)
  // per dir derives the true bound; like the r19 corpus-count memo it
  // caches metadata, never data. An empty table has no max: 0 dims,
  // so the sign table and the result are empty.
  private def rpDims(spark: SparkSession, dir: String): Long =
    Tables.scalar(spark, dir, "rpDims")(
      Tables.embeddings(spark, dir)
        .select(coalesce(max(size(col("embedding"))), lit(0)))
        .head().getInt(0).toLong)

  def embedRp(spark: SparkSession, dir: String): DataFrame = {
    // s(i,j): -1 iff the first hex digit of md5("i:j") is odd — the
    // identical draw the oracle replays, but materialized ONCE as a
    // bounded (dims×8)-row broadcast sign table (r19): the inlined
    // form re-evaluated md5 per (vec_id, i, j) — a million interpreted
    // hashes per pass for 512 distinct values, the key's dominant
    // cost. The join on i also carries j, replacing the ×8 explode.
    // The bound is measured from the data (rpDims), never assumed.
    val signs = broadcast(spark.range(0L, rpDims(spark, dir) * 8L).select(
      (col("id") / 8L).cast("int").as("i"),
      pmod(col("id"), lit(8L)).as("j"))
      .withColumn("sign", expr(
        "CASE WHEN instr('13579bdf', substring(md5(concat(" +
          "cast(i AS string), ':', cast(j AS string))), 1, 1)) > 0 " +
        "THEN -1L ELSE 1L END")))
    // fanned (r20, guide §2.5): the posexplode(dim) + sign join +
    // partial agg above the single-row-group fixture scan ran in one
    // task; hash-spread on vec_id parallelizes it (no-op at scale).
    Tables.fanned(spark, dir, "embeddings", "vec_id")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("xm"))
      .join(signs, Seq("i"))
      .groupBy("vec_id", "j")
      // exact integer micro-unit sum, NO division at render: /8e6 (not
      // a power of ten) lands sums on .xxxx5 half-way boundaries where
      // Java's BigDecimal.valueOf round and C's binary-expansion round
      // disagree on the SAME double (caught by the r13 sf0.1 sweep:
      // -1087600/8e6 = -0.13595 → Spark -0.136, DuckDB -0.1359). An
      // integer output surface has no boundary to disagree on; the
      // /8·10⁶ normalization is a display concern for the consumer.
      .agg(sum(col("sign") * col("xm")).cast("long").as("y_micro8"))
      .orderBy("vec_id", "j")
  }
  // `sim_pq` — quantized-shortlist + exact-rerank top-k, the SECOND ANN
  // regime next to the IVF routing of `sim_ann` (VERDICT r13 stretch 7):
  // the two compose in production (IVF prunes WHICH lists to read, the
  // code tier prunes HOW MUCH precision the scan pays — FAISS IVFPQ).
  // Tier 1 scores every candidate from its int8 CODES (the
  // embed_quantize formulation: per-vector scale = max|xᵢ|,
  // qᵢ = round(xᵢ/scale·127)) against the full-precision probe — the
  // asymmetric-distance shape: at 1B vectors the shortlist pass reads a
  // 4×-smaller code table and never touches float32 storage. Tier 2
  // fetches full vectors for ONLY the per-probe top-100 shortlist (a
  // 1000-row join however big the corpus) and reranks exactly.
  //
  // The rank key needs no dequantization: cos(p, ĉ) = Σpᵢqᵢ·(scale/127)
  // / (‖ĉ‖·‖p‖) where ‖ĉ‖ = (scale/127)·√Σqᵢ² — the per-vector scale
  // CANCELS, so quantized cosine = cos(p, q) over the raw codes, and
  // the hot scoring loop is the NATIVE codegen'd CosineSim expression
  // over the float-cast codes (int8 values are float-exact) — the
  // sim_ann discipline: no interpreted HOF fold touches the
  // corpus-sized side (CodegenAuditSpec); the one transform() lambda
  // left is the map-only code-table build (the embed_quantize
  // machinery, its approved exemption argument).
  //
  // Determinism: the codes are integer-exact cross-engine (the proven
  // embed_quantize contract); both rank keys round to 4 dp before
  // ranking with cand_id tie-breaks (the sim_topk convention), so the
  // shortlist boundary at rank 100 and the final top-10 cut are both
  // deterministic — which is what makes THIS ANN tier fully
  // DuckDB-oracleable where sim_ann (trained k-means) cannot be.
  // SimilaritySpec additionally pins recall@10 vs the exact sim_topk
  // baseline at ≥ 0.9 — the number that justifies the 4× IO cut.
  private val ShortList = 100
  def simPq(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // the code table: (vec_id, q) ONLY — the full vector deliberately
    // does not travel with the shortlist scan (at scale it lives in a
    // separate 4×-larger store the rerank join fetches from)
    val codes = emb
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), v => abs(v.cast("double"))))
          .as("scale"))
      .select(col("vec_id"),
        transform(col("embedding"),
          v => when(col("scale") === 0.0, lit(0))
            .otherwise(round(v.cast("double") / col("scale") * 127, 0)
              .cast("int"))
            .cast("float"))
          .as("qf"))
    val probes = broadcast(
      emb.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe")))
    val short = codes.join(probes, col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("pe"), col("vec_id").as("cand_id"),
        round(graft.functions.CosineSim.cosineSim(col("pe"), col("qf")), 4)
          .as("qscore"))
    val ws = Window.partitionBy("probe_id")
      .orderBy(col("qscore").desc, col("cand_id"))
    val shortlist = short.withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= ShortList)
      .select("probe_id", "pe", "cand_id")
    // rerank fetch: 100 rows per probe join back to full precision
    val reranked = shortlist
      .join(emb.select(col("vec_id").as("cand_id"), col("embedding")),
        Seq("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(graft.functions.CosineSim.cosineSim(col("pe"), col("embedding")), 4)
          .as("cosine"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    reranked.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("probe_id", "cand_id", "cosine")
      .orderBy("probe_id", "cand_id")
  }

  // `sim_ivfpq` — the two ANN tiers COMPOSED (VERDICT r14 item 4): IVF
  // list routing prunes WHICH vectors the scan reads (sim_ann's
  // machinery — trained k-means lists, probes score only their
  // NProbePq nearest lists by the same Euclidean metric the assignment
  // used) and the int8 code tier prunes HOW MUCH precision that scan
  // pays (sim_pq's machinery — asymmetric full-precision-probe ×
  // quantized-candidate scoring, per-vector scale cancelling out of
  // the cosine). Shortlist → exact top-100 rerank → top-10. This is
  // the FAISS IVFPQ shape: at 1B vectors the shortlist pass reads
  // NProbePq/NLists of a 4×-smaller code table — both pruning ratios
  // multiply — and only ~100 rows per probe ever touch float32.
  //
  // nprobe = 16 of 32 (vs sim_ann's 8): the composed key's contract is
  // recall@10 ≥ 0.9 (the production bar that justifies deploying the
  // composition), and this corpus is weakly clustered — true
  // neighbours sit at cosine 0.24-0.49, so routing must cast a wider
  // net than the 0.7-recall demo tier. That is exactly how production
  // IVFPQ is tuned: nprobe is THE recall/cost dial, set per-corpus
  // against a brute-force sample. Probing half the lists still halves
  // the scan, and the code tier keeps its full 4× on top.
  //
  // Trained k-means ⇒ approximate regime, no SQL oracle by design
  // (the sim_ann class); SimilaritySpec pins recall@10 ≥ 0.9 vs the
  // exact sim_topk baseline at sf0.001 AND sf0.1, plus that reported
  // cosines are the exact-rerank values.
  private val NProbePq = 16
  def simIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val (_, listed) = ivfIndex(spark, dir)
    ivfPqFor(spark, dir,
      listed.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe")))
  }

  /** IVFPQ search for an ARBITRARY probe frame (`probe_id`, `pe`) —
    * the OOS entry (VERDICT r15 item 4): list routing ranks centroids
    * against the query embedding and the self-drop filter is a no-op
    * for non-corpus probe ids, so a held-out query follows the
    * identical plan. */
  private[operators] def ivfPqFor(spark: SparkSession, dir: String,
      probes: DataFrame): DataFrame = {
    val (cents, listed) = ivfIndex(spark, dir)
    // code table WITH the list id: (vec_id, list_id, qf) — the
    // embed_quantize formulation; the full vector deliberately does
    // not travel with the shortlist scan
    val codes = listed
      .select(col("vec_id"), col("list_id"), col("embedding"),
        array_max(transform(col("embedding"), v => abs(v.cast("double"))))
          .as("scale"))
      .select(col("vec_id"), col("list_id"),
        transform(col("embedding"),
          v => when(col("scale") === 0.0, lit(0))
            .otherwise(round(v.cast("double") / col("scale") * 127, 0)
              .cast("int"))
            .cast("float"))
          .as("qf"))
    val centroids = broadcast(cents)
    val cn2 = aggregate(col("centroid"), lit(0.0), (acc, x) => acc + x * x)
    val wc = Window.partitionBy("probe_id")
      .orderBy(col("cdist").asc, col("list_id"))
    val probeLists = broadcast(
      probes.crossJoin(centroids)
        .withColumn("cdist", cn2 - lit(2.0) * dot(col("pe"), col("centroid")))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= NProbePq)
        .select("probe_id", "pe", "list_id"))
    // tier 1: quantized asymmetric scoring, probed lists only
    // (broadcast-hash join on the list id — the candidate side never
    // shuffles); the hot loop is the native codegen'd CosineSim
    val short = codes.join(probeLists, Seq("list_id"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("pe"), col("vec_id").as("cand_id"),
        round(graft.functions.CosineSim.cosineSim(col("pe"), col("qf")), 4)
          .as("qscore"))
    val ws = Window.partitionBy("probe_id")
      .orderBy(col("qscore").desc, col("cand_id"))
    val shortlist = short.withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= ShortList)
      .select("probe_id", "pe", "cand_id")
    // tier 2: exact rerank — ≤100 full-precision fetches per probe
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("cand_id"), col("embedding"))
    val reranked = shortlist.join(emb, Seq("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(graft.functions.CosineSim.cosineSim(col("pe"), col("embedding")), 4)
          .as("cosine"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    reranked.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("probe_id", "cand_id", "cosine")
      .orderBy("probe_id", "cand_id")
  }

  // `sim_nndescent` — k-NN GRAPH construction via NN-Descent (Dong,
  // Charikar & Li, WWW 2011, public) — the graph-ANN half of the
  // landscape next to the IVF/PQ partition tier (VERDICT r14 "what's
  // missing" 2: HNSW-class). HNSW itself is a sequential insert-time
  // algorithm (each insert greedily searches the graph built so far —
  // inherently serial); NN-Descent is the DISTRIBUTED way to the same
  // artifact, the k-NN neighbor graph those methods search: start from
  // pseudo-random neighbors and iterate "a neighbor of my neighbor is
  // probably my neighbor" — each round is pure joins/aggregations, the
  // MapReduce-able graph build (the paper's own framing).
  //
  // Round shape — the paper's own MapReduce formulation (§4 of Dong et
  // al.), which scores candidate pairs AT THE PIVOT instead of joining
  // embeddings onto an exploded pair list:
  //  1. symmetrize the current graph (forward ∪ reverse edges), attach
  //     each member's embedding (one bounded hash join of 2n·k rows
  //     against the corpus), and collect a per-pivot adjacency ARRAY
  //     capped at 2k by score (the paper's reverse-sample ρ — an
  //     unbounded hub would otherwise quadratically blow up its pivot;
  //     the cap is an array_sort+slice inside the agg, no window sort);
  //  2. neighbors-of-neighbors: a positional double-explode of the
  //     adjacency array emits each unordered pair once and scores it
  //     IN PLACE with the native codegen'd CosineSim over the carried
  //     vectors — map-only, zero joins, and the embeddings drop out of
  //     the row immediately after the fused scoring expression;
  //     the paper's INCREMENTAL rule prunes the volume: a pair whose
  //     endpoints were both already neighbors of this pivot in an
  //     earlier round (fresh=false ∧ fresh=false) was already generated
  //     the round one of them arrived, so only fresh×any pairs ship;
  //  3. merge the skinny (v,w,cos) candidates with the current edges in
  //     ONE exchange: repartition by v, then groupBy(v,w) max (hash
  //     partitioning on v satisfies the (v,w) clustering — no second
  //     shuffle) dedupes multi-pivot hits and computes the next fresh
  //     flag as min(fresh) (an edge seen from the current graph wins
  //     false; a truly new edge is unanimously true), then groupBy(v)
  //     keeps top-k via array_sort — again inside the same exchange.
  // Rounds run to CONVERGENCE (update count ≤ 0.001·n·k, the paper's
  // §2.3 criterion, cap via nndRoundCapFor): fixed counts do not
  // survive scale — 4 rounds read graph-recall 0.94 at 20k vectors
  // and 0.49 at 200k (gossip mixing time grows with n).
  // The DEGREE is the recall lever, and it too must scale (r17
  // mult-100 trace): at degree 20 the 200k build genuinely CONVERGES
  // (fresh count under the δ target by round 12) yet plateaus at 0.70
  // from round 7 on — a local optimum of the gossip that no round
  // budget escapes; degree 10 plateaued at 0.66 at bench SFs the same
  // way. This gap-less corpus starves neighbourhood overlap (the same
  // measured property that rules out LSH here — see dedup_embedding),
  // and overlap grows superlinearly in k (Dong et al.'s own
  // observation) — so the build degree scales with log10(n)
  // (graphKFor: 20 at ≤20k, 32 at 200k → recall 0.94, converged in 10
  // rounds, per-round candidate volume ×~2.6). The per-round cost
  // stays linear in n and lands on the ONE-TIME committed build
  // (AnnIndexStore), never on a serving session. Determinism: init
  // neighbors are md5-derived (no sampling, no seed state), scores
  // round to 4 dp before ranking with id tie-breaks (the sim_topk
  // convention) — the whole trajectory is deterministic, but the
  // output is the approximate-graph regime, so no SQL oracle (the
  // sim_ann class; the declared result is the probes' adjacency).
  //
  // 100 TB shape: candidate volume is linear in n — n·4k² pairs/round
  // worst case, cut by the incremental rule (only pairs with a fresh
  // endpoint). Dong et al.'s ρ-SAMPLING refinement was implemented in
  // full (per-direction pending flags, sampled new'×(new'∪old') pair
  // rule) and MEASURED AGAINST at mult-100:
  // on this overlap-starved corpus the volume is either conserved
  // (new-side-only ρ: −7 % total) or bought with recall (paper rule:
  // 0.94 → 0.69) — the three-arm A/B is in VERIFY_sf1.md r18, so the
  // build runs ρ=1 (bit-identical trajectory to r17). Every
  // stage is a bounded hash join or a single-exchange agg — no
  // sequential insert order, no driver state beyond the init modulus.
  // At 1B vectors this is how production builds the graph (NN-Descent/
  // GraphBLAS variants); the query tier greedy-searches it
  // (`sim_graph_search`). The adjacency array carries one 64-dim
  // embedding per member (2k·dim per pivot through one shuffle/round) —
  // the deliberate trade from the edge-join formulation: the 4k²-pair
  // candidate stream never touches a join, and the per-pivot state is
  // a constant ~20 KB regardless of corpus size.
  private val NndMaxRounds = 12
  private val GraphK = 20 // base build degree (output truncates to K=10)

  /** Build DEGREE as a function of corpus size — the r17 mult-100
    * lesson: the 200k build CONVERGES at degree 20 (fresh-count under
    * the δ target by round 12) yet plateaus at graph-recall 0.70 from
    * round 7 on — a genuine local optimum of the gossip, which no
    * round budget escapes (measured: rounds 7–12 all read 0.700).
    * Degree is the escape: neighborhood overlap grows superlinearly
    * in k (Dong et al.'s observation, already used at r15 to fix the
    * 0.66 plateau at degree 10), so the degree scales with log10(n)
    * past the converged-at-20k scale. Per-round candidate volume grows
    * ~k² — the cost lands on the one-time committed build. */
  private def graphKFor(n: Long): Int =
    GraphK + 12 * math.max(0, (math.log10(n.toDouble / 20000.0)).ceil.toInt)

  /** Convergence-round CAP as a function of corpus size — the r16
    * mult-100 lesson, taken to its conclusion (VERDICT r16 item 1):
    * gossip mixing time grows with n, so a fixed cap that converges a
    * 20k corpus (0.94 graph recall) starves a 200k one (0.70 at cap
    * 12, fresh-count still above the δ target). The cap scales with
    * log(n): one extra "decade allowance" of rounds per 10× corpus
    * growth past the bench scale, so the δ-convergence criterion — not
    * the cap — is what normally terminates the build. */
  private def nndRoundCapFor(n: Long): Int =
    NndMaxRounds + 8 * math.max(0, (math.log10(n.toDouble / 2000.0)).ceil.toInt)

  // The graph as a COMMITTED index (VERDICT r15 item 3): the first
  // build per (corpus, params) runs NN-Descent, commits the result as
  // a `_graft_log`-manifested lakehouse table (AnnIndexStore — stable
  // path, footer stats, fingerprint staleness check) and every later
  // serve — in this session, after Caches.releaseAll, or in a COLD
  // JVM — reads the committed files. That is the production split at
  // 100 TB: the build is a scheduled job, query sessions only read.
  // The session memo on top only dedups the (cheap) manifest check +
  // scan plan; the served frame is a parquet read (recomputable file-
  // scan lineage), so there are no checkpoint blocks to invalidate —
  // the memo clear at releaseAll is hygiene, not a safety boundary.
  // Staleness: the fingerprint carries the embeddings source files and
  // the build params, so a regenerated corpus or a GraphK/convergence
  // change rebuilds; the build is deterministic (md5-seeded init,
  // integer-stable comparator), so a committed read and a fresh build
  // are row-identical — `sim_nndescent`'s oracle holds on either path.
  // The params keep the r18 ρ-sampling tags (`rho=1.0`, `oldsamp`,
  // `conv=1e-3xrho`): the build runs at ρ=1 (the NN-Descent note above),
  // and unchanged strings keep committed indexes valid.
  private def knnParams =
    "knng.v10:kfn=log12:conv=1e-3xrho:dirflags:oldsamp:capfn=log8:rho=1.0:init=ivfhalf(ivf.v1)"
  private[operators] def knnGraph(spark: SparkSession, dir: String): DataFrame =
    Caches.memo(spark, dir, "knng") {
      val fp = AnnIndexStore.fingerprint(spark, dir, knnParams)
      AnnIndexStore.readCommitted(spark, "knng", dir, fp).getOrElse {
        val built = buildKnnGraph(spark, dir)
        val served = AnnIndexStore.commit(spark, "knng", dir, built, "v", fp)
        // the build's terminal localCheckpoint is now redundant — the
        // parquet commit IS the durable copy; free the blocks instead
        // of carrying them to the next releaseAll (ADVICE r15: the old
        // memo overwrite leaked superseded checkpoints)
        Caches.releaseCheckpoint(built)
        served
      }
    }

  def simNndescent(spark: SparkSession, dir: String): DataFrame = {
    val graph = knnGraph(spark, dir)
    val wk = Window.partitionBy("v").orderBy(col("cos").desc, col("w"))
    graph.filter(col("v") < NProbes)
      .withColumn("rn", row_number().over(wk)).filter(col("rn") <= K)
      .select(col("v").as("probe_id"), col("w").as("cand_id"), col("cos").as("cosine"))
      .orderBy("probe_id", "cand_id")
  }

  // `sim_index_refresh` — INCREMENTAL index maintenance (r16): the
  // committed-index story is incomplete if corpus growth forces a full
  // rebuild — at 100 TB the index is maintained by a scheduled job
  // that folds the day's NEW vectors into yesterday's committed graph,
  // not by re-gossiping a billion settled vertices. Rehearsal: the
  // first 90% of the corpus is "yesterday" (its graph builds and
  // commits as `knngbase`), the last 10% is the delta; the refresh
  // WARM-STARTS NN-Descent from the committed base — base edges enter
  // round 0 as current (fresh=false), only delta vertices draw md5
  // init edges — so the incremental rule (fresh×any pairs only) makes
  // each round's candidate volume proportional to the DELTA's
  // neighborhoods (SimilaritySpec pins the update stream: Σ per-round
  // fresh-edge work is a fraction of a full rebuild's — measured 4.5×
  // less at a 10% delta — AND delta-probe recall ≥ 0.9 vs brute
  // force, so the newcomers are genuinely integrated, not just
  // present). The
  // refreshed graph commits as `knngref`: versions of a maintained
  // artifact, exactly the lakehouse table-update shape applied to an
  // index. Approximate regime ⇒ no SQL oracle (the sim_ann class);
  // output is the probes' top-10 for the 10 standard probes AND 10
  // delta probes, so the declared rows exercise both populations.
  private def refreshParams =
    "knngref.v8:kfn=log12:conv=1e-3xrho:dirflags:oldsamp:capfn=log8:split=0.9:rho=1.0"
  private[operators] def refreshedGraph(spark: SparkSession,
      dir: String): DataFrame =
    Caches.memo(spark, dir, "knngref") {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val n0 = emb.count() * 9 / 10
      val fpB = AnnIndexStore.fingerprint(spark, dir, refreshParams + ":base")
      val base = AnnIndexStore.readCommitted(spark, "knngbase", dir, fpB)
        .getOrElse {
          val built = buildKnnGraphFrom(spark, s"base:$dir",
            emb.filter(col("vec_id") < n0), None)
          val served =
            AnnIndexStore.commit(spark, "knngbase", dir, built, "v", fpB)
          Caches.releaseCheckpoint(built)
          served
        }
      val fpR = AnnIndexStore.fingerprint(spark, dir, refreshParams + ":ref")
      AnnIndexStore.readCommitted(spark, "knngref", dir, fpR).getOrElse {
        val built = buildKnnGraphFrom(spark, s"refresh:$dir", emb, Some(base))
        val served =
          AnnIndexStore.commit(spark, "knngref", dir, built, "v", fpR)
        Caches.releaseCheckpoint(built)
        served
      }
    }

  def simIndexRefresh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"))
    val n0 = emb.count() * 9 / 10
    val graph = refreshedGraph(spark, dir)
    val wk = Window.partitionBy("v").orderBy(col("cos").desc, col("w"))
    graph.filter(col("v") < NProbes ||
        (col("v") >= n0 && col("v") < n0 + NProbes))
      .withColumn("rn", row_number().over(wk)).filter(col("rn") <= K)
      .select(col("v").as("probe_id"), col("w").as("cand_id"),
        col("cos").as("cosine"))
      .orderBy("probe_id", "cand_id")
  }

  // `sim_index_delete` — the RETENTION/GDPR path of the maintained
  // index tier (VERDICT r18 item 6): `sim_index_refresh` folds
  // additions; this key folds a 5% tombstone set OUT of both committed
  // artifact tiers. A production vector store must not serve a deleted
  // id from ANY tier — the inverted file (IVF lists) and the k-NN
  // adjacency both have to forget it — and dropping edges alone is not
  // enough: a live vertex that pointed at deleted neighbors is left
  // with a shrunken list, and enough shrunken lists degrade graph
  // connectivity (and thus search recall) corpus-wide. Repair is the
  // refresh machinery pointed at damage instead of growth: surviving
  // live–live edges warm-start NN-Descent as current state, and the
  // DAMAGED vertices (those that lost ≥1 out-edge) re-enter the gossip
  // with fresh init draws (`reseedVerts`), so the update stream is
  // proportional to the tombstone set's neighborhoods — never a full
  // rebuild. Tombstones are a pure id predicate here (vec_id ≡ 7
  // mod 20); production would join a tombstone table — same plan, the
  // predicate becomes a broadcast anti-join. Approximate regime ⇒ no
  // SQL oracle (the sim_ann class); SimilaritySpec pins (a) no deleted
  // id in any served artifact or result, (b) post-delete recall ≥ 0.9
  // against brute force over the LIVE corpus on standard AND damaged
  // probes, (c) the repair's update stream is delta-sized.
  private def deleteParams =
    s"knngdel.v1:tomb=mod20eq7:repair=reseed:base=$refreshParams"
  /** The 5% tombstone predicate — deterministic, engine-replayable. */
  private[operators] def tombstoned(c: Column): Column =
    pmod(c, lit(20)) === 7

  /** Post-delete inverted file: the committed IVF lists minus
    * tombstoned members, committed as its own versioned artifact (the
    * lakehouse delete-commit applied to an index tier). */
  private[operators] def ivfListsDeleted(spark: SparkSession,
      dir: String): DataFrame =
    AnnIndexStore.serve(spark, "ivfdellist", dir,
      ivfParams + ":del=mod20eq7", "list_id")(
      ivfIndex(spark, dir)._2.filter(!tombstoned(col("vec_id"))))

  /** Post-delete repaired k-NN graph, committed as `knngdel`. */
  private[operators] def deletedGraph(spark: SparkSession,
      dir: String): DataFrame =
    Caches.memo(spark, dir, "knngdel") {
      val fp = AnnIndexStore.fingerprint(spark, dir, deleteParams)
      AnnIndexStore.readCommitted(spark, "knngdel", dir, fp).getOrElse {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
        val live = emb.filter(!tombstoned(col("vec_id")))
        val base = refreshedGraph(spark, dir)
        val keep = base.filter(
          !tombstoned(col("v")) && !tombstoned(col("w")))
        val damaged = base
          .filter(!tombstoned(col("v")) && tombstoned(col("w")))
          .groupBy(col("v"))
          .agg(count(lit(1)).cast("int").as("lost"))
          .select(col("v").as("vec_id"), col("lost"))
        val built = buildKnnGraphFrom(spark, s"delete:$dir", live,
          Some(keep), reseedVerts = Some(damaged))
        val served =
          AnnIndexStore.commit(spark, "knngdel", dir, built, "v", fp)
        Caches.releaseCheckpoint(built)
        served
      }
    }

  def simIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    // both tiers must forget: materialize (and commit) the post-delete
    // inverted file alongside the repaired graph
    ivfListsDeleted(spark, dir)
    val graph = deletedGraph(spark, dir)
    val wk = Window.partitionBy("v").orderBy(col("cos").desc, col("w"))
    // probes: the live ids of the first 2·NProbes — wide enough to
    // include vertices damaged by the delete (id 7's ex-neighbors)
    graph.filter(col("v") < 2 * NProbes && !tombstoned(col("v")))
      .withColumn("rn", row_number().over(wk)).filter(col("rn") <= K)
      .select(col("v").as("probe_id"), col("w").as("cand_id"),
        col("cos").as("cosine"))
      .orderBy("probe_id", "cand_id")
  }

  /** Full k-NN graph build (NN-Descent): directed top-[[GraphK]] edges
    * (v, w, cos) per vertex as an eager localCheckpoint frame.
    * The MAIN build seeds half of each vertex's init edges from its own
    * committed IVF list (`seedDir`) — see the init comment in
    * [[buildKnnGraphFrom]]; the refresh-tier builds keep pure random
    * init (their params/artifacts are unchanged by r18). */
  private def buildKnnGraph(spark: SparkSession, dir: String): DataFrame =
    buildKnnGraphFrom(spark, "full:" + dir,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      warmStart = None, seedDir = Some(dir))

  /** Stopping round and total update work (Σ per-round fresh-edge
    * counts — the gossip volume the convergence counter meters) of the
    * last build per label. The spec surface for the warm-start claim:
    * a refresh's UPDATE STREAM must be the delta's, not the corpus's
    * (round counts alone don't discriminate at tiny n — a throttled
    * delta can take as many rounds as a global build while doing a
    * fraction of the work per round). */
  private[operators] val buildRounds =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  private[operators] val buildWork =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** NN-Descent over an arbitrary dense-id embedding frame.
    * `warmStart`: an existing (v, w, cos) graph over a SUBSET of the
    * vertices — the incremental-maintenance entry ([[simIndexRefresh]]):
    * warm edges enter round 0 as CURRENT (fresh=false), only the new
    * vertices draw md5 init edges (fresh=true), and the first round's
    * symmetrize gossips the newcomers into the converged neighborhoods
    * (a new vertex's random edge makes it a fresh MEMBER of a base
    * pivot's adjacency, so base lists adopt good newcomers and vice
    * versa). Convergence then terminates in the few rounds the delta
    * actually needs instead of the full build's budget. */
  private[operators] def buildKnnGraphFrom(spark: SparkSession, label: String,
      emb: DataFrame, warmStart: Option[DataFrame],
      seedDir: Option[String] = None,
      reseedVerts: Option[DataFrame] = None): DataFrame = {
    // init modulus: a bounded driver scalar (the compact_files advisory
    // pattern) — vec_ids are dense 0..n-1 in this corpus
    val n = emb.count()
    val kDeg = graphKFor(n) // scale-aware build degree (see graphKFor)
    // deterministic desc-by-cos, asc-by-id comparator for array_sort —
    // the sim_topk ranking convention, applied inside the agg so the
    // per-vertex cap never needs a window sort
    val byCosDesc = (l: Column, r: Column) =>
      when(l("cos") > r("cos"), -1).when(l("cos") < r("cos"), 1)
        .when(l("w") < r("w"), -1).when(l("w") > r("w"), 1).otherwise(0)
    // SHUFFLE_HASH on the embedding joins: the round frames are
    // stat-less localCheckpoint outputs, so the CBO would sort-merge
    // everything (the graph_kcore lesson) — and broadcast would be
    // illegal at scale: emb IS the corpus.
    val embV = emb.select(col("vec_id").as("v"), col("embedding").as("ev"))
    val embW = emb.select(col("vec_id").as("w"), col("embedding").as("ew"))
    // k md5-derived init neighbors per vertex (self-hits drop; a vertex
    // starts with ≥ k-1 — the first round's reverse union refills),
    // scored by the one edge-level embedding join of the whole build.
    // Warm start: only vertices the warm graph does NOT cover draw
    // init edges; warm edges enter as the round-0 graph (fresh=false).
    // `reseedVerts` (r19, the tombstone-delete repair): a (vec_id,
    // lost) frame of vertices that ARE warm-covered but lost `lost`
    // out-edges to a delete. They additionally draw min(kDeg, 2·lost)
    // fresh init edges — their surviving warm edges stay current while
    // the fresh draws re-open their neighborhoods to gossip. The draw
    // count is DAMAGE-proportional on purpose: with k ≈ 20 and a 5%
    // tombstone set, ~64% of vertices lose ≥ 1 edge (1 − 0.95^k), so a
    // full-kDeg redraw per damaged vertex would re-gossip most of the
    // corpus; 2·lost fresh edges keep the update stream sized to the
    // edges actually destroyed (~2·0.05·n·k), not to n·k.
    val coverInit = warmStart match {
      case None => emb.select(col("vec_id"))
      case Some(warm) => emb.select(col("vec_id"))
        .join(warm.select(col("v").as("vec_id")).distinct(),
          Seq("vec_id"), "left_anti")
    }
    val initVerts = reseedVerts match {
      case None => coverInit.withColumn("n_init", lit(kDeg))
      case Some(rs) => coverInit.withColumn("n_init", lit(kDeg))
        .unionByName(rs.select(col("vec_id"),
          least(lit(kDeg), col("lost") * 2).cast("int").as("n_init")))
        .groupBy("vec_id").agg(max(col("n_init")).as("n_init"))
    }
    // Init neighbor draw. Pure random (md5 over a dense-id modulus) for
    // the refresh-tier builds; the MAIN build (seedDir set) seeds HALF
    // of each vertex's init edges from its own committed IVF list
    // (r18): round 1 of NN-Descent over random init gossips
    // neighborhoods that are uniformly wrong (probe recall 0.01 after
    // round 1 at 200k) — its n·4k² pairs are the single biggest build
    // cost and almost all wasted. Same-list members are
    // centroid-screened plausible neighbors, so the flood rounds start
    // from real structure; the OTHER half stays random because
    // cluster-seeded-only init would localize the gossip (boundary
    // vertices whose true neighbors sit in the adjacent list need the
    // global mixing random edges provide). Element picks happen inside
    // transform() BEFORE the explode, so the per-list member array is
    // never copied into exploded rows. The 32-row (list → members)
    // table broadcasts (≤ n ids total); at 1B vectors the per-list
    // arrays outgrow a broadcast and this becomes a plain hash join on
    // list_id — same shape, bigger exchange. Determinism: the IVF
    // assignment is a COMMITTED artifact (fingerprint-addressed), and
    // the picks are xxhash64 of (v, i) — the whole init is a pure
    // function of (corpus, committed index), no RNG state.
    val halfK = kDeg / 2
    val randFrom = seedDir.map(_ => halfK).getOrElse(0)
    // sequence end = n_init − 1: kDeg for cover vertices (identical to
    // the pre-r19 draw — artifacts and params unchanged), 2·lost for
    // reseeds. Reseeds only arise with seedDir = None, so randFrom = 0
    // and the sequence can never run descending (the halfK trap).
    val randomInit = initVerts.select(col("vec_id").as("v"),
        explode(sequence(lit(randFrom),
          col("n_init").cast("int") - 1)).as("i"))
      .select(col("v"),
        pmod(conv(substring(md5(concat(lit("nnd:"), col("v"), lit(":"),
          col("i"))), 1, 12), 16, 10).cast("long"), lit(n)).as("w"))
    val initPairs = seedDir match {
      // kDeg ≥ GraphK = 20, so halfK ≥ 10 and sequence(0, halfK - 1)
      // never runs descending
      case Some(d) =>
        val listed = ivfIndex(spark, d)._2
          .select(col("vec_id"), col("list_id"))
        val listArr = broadcast(listed.groupBy("list_id")
          .agg(sort_array(collect_list(col("vec_id"))).as("members")))
        val seeded = initVerts.join(listed, Seq("vec_id"))
          .join(listArr, Seq("list_id"))
          .select(col("vec_id").as("v"),
            explode(transform(sequence(lit(0), lit(halfK - 1)), i =>
              element_at(col("members"),
                (pmod(xxhash64(lit("nndseed"), col("vec_id"), i),
                  size(col("members"))) + 1).cast("int")))).as("w"))
        seeded.unionByName(randomInit)
      case None => randomInit
    }
    val freshInit = initPairs
      .filter(col("v") =!= col("w")).distinct()
      .join(embV.hint("shuffle_hash"), Seq("v"))
      .join(embW.hint("shuffle_hash"), Seq("w"))
      .select(col("v"), col("w"),
        round(graft.functions.CosineSim.cosineSim(col("ev"), col("ew")), 4)
          .as("cos"),
        lit(true).as("freshF"), lit(true).as("freshR"),
        lit(true).as("isNew"))
    val init = warmStart match {
      case None => freshInit
      case Some(warm) => freshInit.unionByName(
        warm.select(col("v"), col("w"), col("cos"),
          lit(false).as("freshF"), lit(false).as("freshR"),
          lit(false).as("isNew")))
    }
    // Edge flags (r18): novelty is tracked PER DIRECTION — `freshF` =
    // this edge has not yet gossiped in v's neighborhood, `freshR` = not
    // yet in w's. `isNew` = first entered the graph THIS round (the
    // paper's update counter — what the δ-convergence criterion meters).
    // At ρ=1 every membership gossips the round it is fresh, so the
    // three flags coincide; they stay separate columns so the round
    // frames keep the schema the committed builds were made with.
    // merge → dedupe → top-k in ONE exchange: hash partitioning on v
    // satisfies both the (v,w) and the (v) clustering, so the pair-level
    // max/min agg and the per-vertex array cap share the repartition
    def topK(edges: DataFrame, k: Int): DataFrame =
      edges.repartition(col("v"))
        .groupBy(col("v"), col("w"))
        // an edge both current AND re-proposed by a candidate pair
        // keeps the CURRENT row's flags (no re-freshening, no phantom
        // update): (isNew=false, …) sorts below (true, …)
        .agg(max(col("cos")).as("cos"),
          min(struct(col("isNew"), col("freshF"), col("freshR")))
            .as("st"))
        .groupBy(col("v"))
        .agg(slice(array_sort(
          collect_list(struct(col("cos"), col("w"),
            col("st.freshF").as("freshF"), col("st.freshR").as("freshR"),
            col("st.isNew").as("isNew"))),
          byCosDesc), 1, k).as("top"))
        .select(col("v"), explode(col("top")).as("e"))
        .select(col("v"), col("e.w").as("w"), col("e.cos").as("cos"),
          col("e.freshF").as("freshF"), col("e.freshR").as("freshR"),
          col("e.isNew").as("isNew"))
    // Per-round eager localCheckpoint — the iterative-loop discipline
    // (dedup_components, pagerank): each round's frame feeds the next
    // round twice (symmetrize) plus the merge, so without a lineage cut
    // the logical plan grows geometrically and the optimizer/codegen
    // pass OOMs (measured: a persist-only variant of this loop
    // exhausted an 8 GB driver heap at round 3). The key is an index
    // BUILD (one-time, amortized over every query against the corpus).
    var graph = topK(init, kDeg).localCheckpoint(true)
    var lastCk = graph
    // CONVERGENCE-driven rounds (r16, the paper's own termination §2.3):
    // iterate while the round's update count c — top-k slots taken by
    // never-seen edges — exceeds δ·n·k, capped at nndRoundCapFor(n). A
    // fixed round count does not survive scale: 4 rounds read
    // graph-recall 0.94 at 20k vectors but 0.49 at 200k (the
    // neighborhood-gossip mixing time grows with n). Convergence alone
    // is NOT sufficient either — see the degree-scaling note above
    // (r17: converged-at-degree-20 still plateaus at 0.70 at 200k;
    // kDeg lifts it to 0.94). The counter is one bounded scalar
    // action per round on the already-materialized checkpoint; the
    // trajectory is deterministic, so the stopping round is a pure
    // function of the corpus — cross-run/cross-topology identity holds.
    // Cost lands only on the one-time committed BUILD, never on serves.
    val convergeTarget = math.max(1L, (n * kDeg) / 1000) // δ = 0.001
    val roundCap = nndRoundCapFor(n)
    var roundNo = 0
    var work = 0L
    var freshCount = Long.MaxValue
    while (roundNo < roundCap && freshCount > convergeTarget) {
      roundNo += 1
      // symmetrized adjacency with carried member embeddings, capped at
      // 2k per pivot by score inside the agg (the reverse-sample ρ)
      // mutual edges appear in both directions — dedupe by (v,w) before
      // the member agg (a duplicate member would both waste cap slots
      // and emit self-pairs (x,x) at cos 1.0 into the merge); the
      // repartition(v) lets the (v,w) dedupe and the per-pivot collect
      // share one exchange; each direction row carries ITS OWN pending
      // flag (freshF forward, freshR reversed), max-merged per
      // membership (bool OR over contributing directions)
      val adj = graph.select(col("v"), col("w"), col("cos"),
          col("freshF").as("fresh"))
        .union(graph.select(col("w").as("v"), col("v").as("w"),
          col("cos"), col("freshR").as("fresh")))
        .join(embW.hint("shuffle_hash"), Seq("w"))
        .repartition(col("v"))
        .groupBy(col("v"), col("w"))
        .agg(max(col("cos")).as("cos"), max(col("fresh")).as("fresh"),
          first(col("ew")).as("ew"))
        .groupBy(col("v"))
        .agg(slice(array_sort(
          collect_list(struct(col("cos"), col("w"), col("fresh"), col("ew"))),
          byCosDesc), 1, 2 * kDeg).as("members"))
      // each unordered neighbor pair once via positional explode; score
      // in place over the carried vectors; the incremental rule is the
      // paper's new × (new ∪ old) at ρ=1: a pair participates iff one
      // endpoint is a FRESH membership
      val cand = adj
        .select(col("members"), posexplode(col("members")).as(Seq("i", "a")))
        .select(col("a"),
          explode(slice(col("members"), col("i") + lit(2), lit(2 * kDeg)))
            .as("b"))
        .filter(col("a.fresh") || col("b.fresh"))
        .select(col("a.w").as("v"), col("b.w").as("w"),
          round(graft.functions.CosineSim.cosineSim(col("a.ew"), col("b.ew")), 4)
            .as("cos"))
      // both directions, merged with the current edges; every current
      // edge has gossiped at both pivots this round, so its flags clear
      // (the paper's sampled→false clear at ρ=1); candidates enter
      // pending in both directions AND new, and topK's struct-min keeps
      // the current row's flags when an edge is merely re-proposed
      val merged = graph
        .select(col("v"), col("w"), col("cos"),
          lit(false).as("freshF"), lit(false).as("freshR"),
          lit(false).as("isNew"))
        .union(cand.select(col("v"), col("w"), col("cos"),
          lit(true).as("freshF"), lit(true).as("freshR"),
          lit(true).as("isNew")))
        .union(cand.select(col("w").as("v"), col("v").as("w"), col("cos"),
          lit(true).as("freshF"), lit(true).as("freshR"),
          lit(true).as("isNew")))
      graph = topK(merged, kDeg).localCheckpoint(true)
      // convergence meters UPDATES (edges first entering the graph)
      freshCount = graph.filter(col("isNew")).count()
      work += freshCount
      Caches.releaseCheckpoint(lastCk)
      lastCk = graph
    }
    buildRounds(label) = roundNo
    buildWork(label) = work
    graph.select(col("v"), col("w"), col("cos"))
  }

  // `sim_graph_search` — the QUERY tier over the k-NN graph index: a
  // distributed best-first (beam) search, the pattern every graph-ANN
  // system (HNSW, NSG, DiskANN — all public) serves lookups with. The
  // serial formulations walk one node at a time; the DataFrame-native
  // equivalent expands a whole beam per hop: score md5-derived entry
  // points, then each hop joins the beam against the symmetrized
  // adjacency (directed top-k edges are union'd with their reverses for
  // navigability), scores the frontier against the query vector, and
  // keeps the best `Beam` nodes per query. Fixed `Hops` rounds — plan
  // depth is static (no driver-side convergence read), and every stage
  // is a bounded hash join or one (qid)-window over ≤ Beam·deg rows per
  // query.
  //
  // 100 TB shape: queries broadcast (they are the small side by
  // definition); the graph and the corpus embeddings are the big sides
  // and only ever see hash joins on node ids — per-hop volume is
  // O(queries · Beam · degree), INDEPENDENT of corpus size, which is
  // the entire point of searching a navigable graph instead of scanning
  // lists (sim_ann) or codes (sim_pq). COST is corpus-independent;
  // RECALL from random entry is not — a pure k-NN graph has no
  // long-range links, so fixed-hop reach shrinks as the corpus grows
  // (measured r16: recall 0.98 at 20k vectors, 0.10 at 200k with the
  // same 4 hops). This flat tier is the didactic baseline at bench
  // SFs; the corpus-scale production path is the committed layer
  // hierarchy (`sim_hnsw`), which held recall 1.0 at 200k by entering
  // one neighborhood away instead of hoping 4 hops cross the diameter. The index comes from the
  // memoized build (`knnGraph`) — built once per corpus, amortized, the
  // production split; the probes here are in-corpus vectors, but
  // nothing in the search uses that (an out-of-sample query vector
  // follows the identical path: seeds are hash-derived, scoring is
  // against the query embedding) — self-hits are dropped at the end
  // like every sim_* key. Approximate regime → no SQL oracle (the
  // sim_ann class); SimilaritySpec pins recall@10 vs brute force.
  private val Beam = 20  // beam width (2× the output K)
  /** Partitioning for the per-query beam frames: one partition per
    * probe, capped at session parallelism (r19) — the beam frames are
    * ≤ probes×Beam rows, and letting them default to shuffle.partitions
    * made every walk round a 32-task stage over near-empty partitions
    * (with Bench's AQE floor they can no longer coalesce; an EXPLICIT
    * user count is respected by AQE either way). The probe set is the
    * serve batch's parallel unit, so the count scales with it. */
  private def qidParts(spark: SparkSession): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, NProbes))
  private val Hops = 4   // fixed expansion rounds
  private val Seeds = 4  // md5-derived entry points per query
  def simGraphSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    graphSearchFor(spark, dir,
      emb.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
  }

  /** Corpus size for the seed-draw modulus — a bounded driver scalar
    * over an immutable fixture dir ([[graft.Tables.scalar]]), so
    * repeated serve passes skip the count job. */
  private[operators] def embCount(spark: SparkSession, dir: String): Long =
    Tables.scalar(spark, dir, "embCount")(
      Tables.embeddings(spark, dir).count())
  /** The search-ready adjacency: symmetrized k-NN edges CARRYING the
    * neighbor's embedding AND its metadata label, pre-partitioned on
    * the hop key and persisted — each hop is then ONE hash join (beam
    * side only) and the frontier scores map-side against the broadcast
    * query vector, instead of a per-hop corpus join. Persisting is the
    * minhashPairs convention (CacheManager dedups the identical plan
    * across keys and bench passes — the flat, hnsw and FILTERED
    * searches all consume this one resident frame; Caches releases at
    * the harness boundary); volume is O(n·k·dim) — the index itself,
    * the thing a production search tier keeps resident. The label
    * column rides IN the index (r19): filtered graph search needs the
    * predicate column at scoring time, and carrying it here keeps the
    * filter map-side — the production convention (vector stores store
    * filterable metadata inline with the graph) — instead of a
    * per-hop corpus-sized label join. */
  private[operators] def searchAdj(spark: SparkSession,
      dir: String): DataFrame =
    // Served as a memoized CHECKPOINT LEAF per dir (r19, the
    // Dedup.pairsLeaf rationale, measured on this tier — SCALING.md
    // §"r19 driver-planning cuts"):
    // every hop of every graph-search key referenced this frame's full
    // logical tree (union + shuffle-hash join + repartition over the
    // committed k-NN graph), so the walks' per-round plans re-analyzed
    // and re-canonicalized it Hops× per pass — the tier's job census
    // showed all-tiny jobs with the wall in driver planning between
    // them. The leaf materializes once per harness window (volume
    // O(n·k·dim) — the index itself, exactly what a production search
    // tier keeps resident), cleared with the memo at the Caches
    // boundary so each bench key still pays its own cold build.
    Caches.memo(spark, dir, "searchAdj") {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
      val graph = knnGraph(spark, dir)
      Caches.registerCheckpoint(
        graph.select(col("v"), col("w"))
          .union(graph.select(col("w").as("v"), col("v").as("w")))
          .join(emb.select(col("vec_id").as("w"), col("embedding").as("ew"),
              col("label").as("lw"))
            .hint("shuffle_hash"), Seq("w"))
          .repartition(col("v"))
          .localCheckpoint(true))
    }

  /** Beam search for an ARBITRARY probe frame (`qid`, `qe`) — the
    * declared key passes in-corpus probes; SimilaritySpec passes
    * held-out (out-of-sample) query vectors through this same entry to
    * pin that nothing in the search depends on the query being a
    * corpus member (VERDICT r15 item 4): seeds are hash-derived from
    * qid, scoring is against the query embedding, and the self-drop
    * filter is a no-op for OOS qids by construction.
    *
    * `seeds0`/`hops`: the HNSW tier ([[simHnsw]]) re-enters this same
    * layer-0 search with DESCENDED entry points instead of md5-random
    * ones and one fewer hop — the entry quality is what the layer
    * descent buys. */
  private[operators] def graphSearchFor(spark: SparkSession, dir: String,
      probes0: DataFrame, seeds0: Option[DataFrame] = None,
      hops: Int = Hops): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val n = embCount(spark, dir)
    val probes = broadcast(probes0)
    val embN = emb.select(col("vec_id").as("node"), col("embedding").as("ne"))
    val adjE = searchAdj(spark, dir)
    // (qid, node) → scored against the query vector. The NODE SET is
    // broadcast, never the corpus: a seed/beam frame is ≤ queries·Beam
    // rows by construction (the sim_topk small-side argument), so the
    // corpus scan stays map-side with ZERO shuffle. The first version
    // shuffle_hash'd the corpus side instead — at mult-100 that
    // re-shuffled the whole 2.4 GB index EVERY hop (measured: ~790 s
    // warm + an executor OOM retry vs ~3 s with the beam broadcast).
    def score(nodes: DataFrame): DataFrame =
      embN.join(broadcast(nodes), Seq("node"))
        .join(probes, Seq("qid"))
        .select(col("qid"), col("node"),
          round(graft.functions.CosineSim.cosineSim(col("qe"), col("ne")), 4)
            .as("cos"))
    // dedupe multi-path hits (cos is deterministic per (qid, node)),
    // then keep the best b per query — dedupe and cap share ONE
    // exchange (the build's topK convention: hash partitioning on qid
    // satisfies both the (qid, node) and the (qid) clustering, and the
    // cap is an array_sort inside the agg, not a window sort)
    val byCos = (l: Column, r: Column) =>
      when(l("cos") > r("cos"), -1).when(l("cos") < r("cos"), 1)
        .when(l("node") < r("node"), -1).when(l("node") > r("node"), 1)
        .otherwise(0)
    def topB(df: DataFrame, b: Int): DataFrame =
      df.repartition(qidParts(spark), col("qid"))
        .groupBy(col("qid"), col("node")).agg(max(col("cos")).as("cos"))
        .groupBy(col("qid"))
        .agg(slice(array_sort(collect_list(struct(col("cos"), col("node"))),
          byCos), 1, b).as("top"))
        .select(col("qid"), explode(col("top")).as("e"))
        .select(col("qid"), col("e.node").as("node"), col("e.cos").as("cos"))
    // Each hop's beam is consumed TWICE by the next hop (frontier join +
    // union) — persist every round or the terminal action re-executes
    // hop h's work 2^(Hops-h) times (measured: the unpersisted loop ran
    // ~4 s; persisted ~1.5 s — lazy persist suffices, both references
    // share one cached computation, no eager barrier needed; frames are
    // ≤ Beam rows/query and Caches releases them at the harness
    // boundary).
    // Descent-provided seeds arrive ALREADY scored, deduped and capped
    // (the descent's last round is itself a topB over the identical
    // round(cos, 4) scoring — r19): they ARE a valid round-0 beam, so
    // the seed re-score + re-cap round runs only for the md5-random
    // flat-tier entry.
    var beam = seeds0.getOrElse {
      val seeds = probes.select(col("qid"),
          explode(sequence(lit(0), lit(Seeds - 1))).as("i"))
        .select(col("qid"),
          pmod(conv(substring(md5(concat(lit("gs:"), col("qid"), lit(":"),
            col("i"))), 1, 12), 16, 10).cast("long"), lit(n)).as("node"))
      Caches.persist(topB(score(seeds), Beam))
    }
    // beam side broadcast (≤ queries·Beam rows) — the cached index is
    // scanned map-side once per hop, never shuffled (see score())
    def frontierOf(b: DataFrame): DataFrame = adjE
      .join(broadcast(b.select(col("qid"), col("node").as("v"))),
        Seq("v"))
      .join(probes, Seq("qid"))
      .select(col("qid"), col("w").as("node"),
        round(graft.functions.CosineSim.cosineSim(col("qe"), col("ew")), 4)
          .as("cos"))
    for (_ <- 1 until hops) {
      beam = Caches.persist(topB(beam.union(frontierOf(beam)), Beam))
    }
    // the LAST hop folds the output cap into its own round (r19): with
    // Beam ≥ K+1 and at most one self-row per query, top-K of the
    // self-dropped union equals the former topB(Beam)-then-filter-then-
    // topB(K) chain — one whole shuffle round (exchange + two aggs)
    // saved on every graph-search key.
    val last = if (hops >= 1) beam.union(frontierOf(beam)) else beam
    topB(last.filter(col("node") =!= col("qid")), K)
      .select(col("qid").as("probe_id"), col("node").as("cand_id"),
        col("cos").as("cosine"))
      .orderBy("probe_id", "cand_id")
  }

  // `sim_hnsw` — HNSW-STYLE LAYER DESCENT over the k-NN graph (Malkov
  // & Yashunin 2016, public; VERDICT r15 item 6): the flat beam search
  // (`sim_graph_search`) enters the graph at md5-random seeds, so the
  // hop count to reach a far query region scales with the graph
  // DIAMETER; HNSW fixes entry, not search — a geometric hierarchy of
  // sparser and sparser vertex samples (P(level ≥ ℓ) = 16^-ℓ here,
  // the hnsw.v2 fanout — see the LayerFanout scale-dial note below) is
  // greedily descended top-down, and each layer's best nodes seed the
  // next, so layer 0 starts ~one neighborhood away from the answer
  // after O(log n) cheap upper-layer steps. The layer-0 search is then
  // THE SAME `graphSearchFor` machinery with descended seeds and ONE
  // FEWER hop (3 vs 4) — strictly fewer scored candidates than the
  // flat tier (upper layers score ≤ LayerBeam·2·LayerK per step,
  // less than one layer-0 hop's beam·degree), at equal-or-better
  // recall (SimilaritySpec pins both sides of that trade).
  //
  // Index tier: layer assignment is a pure hash of vec_id (no state;
  // every engine re-derives it identically), and each upper layer's
  // top-[[LayerK]] edge list commits through [[AnnIndexStore]]
  // alongside the layer-0 NN-Descent graph — versioned, fingerprinted,
  // served cold. Upper layers here build brute-force WITHIN the layer
  // sample (layer 1 is n/32 — 3.5 M pairs at sf0.1, trivially the
  // cheaper plan under the stage-count regime); at 1 B+ vectors the
  // same NN-Descent build that produced layer 0 runs restricted to
  // each layer's members instead (layer 1 is then itself a ~30 M-
  // vector k-NN build — the identical MapReduce rounds, 1/32nd the
  // volume, halving again per layer up).
  //
  // Approximate regime ⇒ no SQL oracle (the sim_ann class);
  // SimilaritySpec pins recall ≥ the flat tier's at both scales.
  // Layer geometry is a SCALE dial, not a constant aesthetic (r16
  // mult-100 lesson): at fanout 32 each layer must cover a 32× member
  // jump, and 2 hops over degree-8 edges cannot cross a 6k-member
  // layer — the descent stopped landing near the query at 200k
  // vectors (recall 0.27 with a 0.70-quality base graph). Fanout 16
  // halves the per-layer population jump (one more, cheaper layer),
  // degree 12 + 3 hops give each layer enough reach to refine before
  // handing down. HNSW proper makes the same trade with mL ≈ 1/ln 2.
  private val LayerFanout = 16 // P(level >= l) = 16^-l — layer sparsity
  private val LayerK = 12      // edges per vertex on upper layers
  private val LayerBeam = 8    // descent beam width per layer
  private val LayerHops = 2    // expansion steps per upper layer
  private val HnswHops0 = 3    // layer-0 hops (flat tier uses 4)
  /** Entry-layer flattening bound (r19): the descent ENTERS at the
    * deepest layer with ≤ this many members, scoring all of them as
    * the entry beam instead of walking the trivially-small layers
    * above it (see the entry note in [[hnswDescend]]). 512 members ×
    * NProbes scored rows is one map-side broadcast — cheaper than even
    * a single descent round — and keeps the enumerated layer ~LayerK×
    * smaller than the first layer that genuinely needs walking. */
  private val EntryMax = 512L

  /** Member count above which an upper layer's edge lists build by
    * RESTRICTED NN-DESCENT instead of the within-layer brute-force
    * join (r19, the mult-1000 wall): brute force scores |layer|² pairs
    * — trivially the cheaper plan under the stage-count regime at
    * bench SFs (layer 1 at sf0.1 is ~125 members), but at 2 M vectors
    * layer 1 is ~125 k members = 1.6e10 pairs, a 100× blow-past of the
    * mult-100 cost. Past this threshold the layer's members remap to
    * dense ids and run the SAME NN-Descent build that produced layer 0
    * (O(m·k²) per round, converged) at 1/f^ℓ volume — the SURVEY Q285
    * 1 B-vector claim, now implemented and measured rather than
    * argued. 50 k keeps every bench SF (≤ mult-100: layer 1 ≤ 12.5 k)
    * on the bit-identical brute path. */
  private val BruteLayerMax = 50000L

  private def hnswParams =
    s"hnsw.v3:f=$LayerFanout:k=$LayerK:blm=$BruteLayerMax"
  private[operators] def hnswLayers(spark: SparkSession, dir: String): DataFrame =
    Caches.memo(spark, dir, "hnsw")(
      AnnIndexStore.serve(spark, "hnsw", dir, hnswParams, "lvl")(
        buildHnswLayers(spark, dir)))

  /** Upper-layer edge lists: (lvl, v, w, cos) directed top-[[LayerK]]
    * per member vertex, one block per level 1..⌊log16 n⌋. */
  private def buildHnswLayers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val lMax = math.max(1,
      (math.log(n.toDouble) / math.log(LayerFanout.toDouble)).toInt)
    // geometric level via md5: u uniform on (0, 1], lvl = ⌊-ln u / ln f⌋
    // (the HNSW draw, derandomized — every session assigns identically)
    val m = 1 << 20
    val u = (pmod(conv(substring(md5(concat(lit("hnswlvl:"),
        col("vec_id"))), 1, 12), 16, 10).cast("long"), lit(m)) + 1)
      .cast("double") / lit(m.toDouble)
    val levels = emb.withColumn("lvl",
      least(floor(-log(u) / math.log(LayerFanout.toDouble)), lit(lMax))
        .cast("int"))
    val byCosDesc = (l: Column, r: Column) =>
      when(l("cos") > r("cos"), -1).when(l("cos") < r("cos"), 1)
        .when(l("w") < r("w"), -1).when(l("w") > r("w"), 1).otherwise(0)
    (1 to lMax).map { l =>
      val mem = levels.filter(col("lvl") >= l)
        .select(col("vec_id"), col("embedding"))
      val m = mem.count() // bounded driver scalar: layer cardinality
      if (m > BruteLayerMax) {
        // restricted NN-Descent (see BruteLayerMax): members remap to
        // dense 0..m-1 (the build's init draw is pmod over a dense id
        // space), gossip runs at layer volume, ids map back, and the
        // layer keeps its top-LayerK edges (the build's degree
        // graphKFor(m) ≥ LayerK always — GraphK floor is 20)
        import spark.implicits._
        val dense = mem.select(col("vec_id")).orderBy("vec_id")
          .rdd.map(_.getLong(0)).zipWithIndex()
          .toDF("vec_id", "did") // deterministic: sorted input
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val embD = mem.join(dense, Seq("vec_id"))
          .select(col("did").as("vec_id"), col("embedding"))
        val g = buildKnnGraphFrom(spark, s"hnswl$l:$dir", embD, None)
        val back = g
          .join(dense.select(col("did").as("v"), col("vec_id").as("rv")),
            Seq("v"))
          .join(dense.select(col("did").as("w"), col("vec_id").as("rw")),
            Seq("w"))
          .select(col("rv").as("v"), col("rw").as("w"), col("cos"))
        // materialize the mapped-back layer eagerly so the build frame
        // and the id map can release NOW — the commit of the unioned
        // layer table happens after every layer has built, and holding
        // each layer's full-degree gossip graph that long is the leak
        val out = Caches.registerCheckpoint(back
          .groupBy(col("v"))
          .agg(slice(array_sort(collect_list(struct(col("cos"), col("w"))),
            byCosDesc), 1, LayerK).as("top"))
          .select(lit(l).as("lvl"), col("v"), explode(col("top")).as("e"))
          .select(col("lvl"), col("v"), col("e.w").as("w"),
            col("e.cos").as("cos"))
          .localCheckpoint(true))
        Caches.releaseCheckpoint(g)
        dense.unpersist()
        out
      } else {
        val a = mem.select(col("vec_id").as("v"), col("embedding").as("ev"))
        val b = mem.select(col("vec_id").as("w"), col("embedding").as("ew"))
        a.join(broadcast(b), col("v") =!= col("w"))
          .select(col("v"), col("w"),
            round(graft.functions.CosineSim.cosineSim(col("ev"), col("ew")), 4)
              .as("cos"))
          .groupBy(col("v"))
          .agg(slice(array_sort(collect_list(struct(col("cos"), col("w"))),
            byCosDesc), 1, LayerK).as("top"))
          .select(lit(l).as("lvl"), col("v"), explode(col("top")).as("e"))
          .select(col("lvl"), col("v"), col("e.w").as("w"),
            col("e.cos").as("cos"))
      }
    }.reduce(_ unionByName _)
  }

  def simHnsw(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    hnswSearchFor(spark, dir,
      emb.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
  }

  /** Layer descent + layer-0 beam search for an arbitrary probe frame
    * (`qid`, `qe`) — the OOS entry, same contract as
    * [[graphSearchFor]]. */
  private[operators] def hnswSearchFor(spark: SparkSession, dir: String,
      probes0: DataFrame): DataFrame =
    hnswDescend(spark, dir, probes0) match {
      // a corpus too small to draw any level≥1 vertex commits an EMPTY
      // layer table; the descent has nothing to descend and the search
      // IS the flat tier (ADVICE r16: getInt on a null max(lvl) NPE'd)
      case None => graphSearchFor(spark, dir, probes0)
      case Some(seeds) =>
        // layer 0: the flat machinery, descent-seeded, one fewer hop
        graphSearchFor(spark, dir, probes0, Some(seeds), HnswHops0)
    }

  /** The upper-layer descent alone: returns the layer-1 survivor beam
    * as (`qid`, `node`) seeds for a layer-0 search, or None when the
    * corpus drew no upper-layer vertices (descend-nothing fallback).
    * Split out in r19 so the FILTERED layer-0 search (`sim_filtered
    * _graph`) can reuse the identical navigation descent — the filter
    * must never prune the descent itself (upper layers navigate; only
    * layer-0 result collection filters). */
  private[operators] def hnswDescend(spark: SparkSession, dir: String,
      probes0: DataFrame): Option[DataFrame] = {
    val layers = hnswLayers(spark, dir)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val embN = emb.select(col("vec_id").as("node"), col("embedding").as("ne"))
    val probes = broadcast(probes0.select(col("qid"), col("qe")))
    def score(nodes: DataFrame): DataFrame =
      embN.join(broadcast(nodes), Seq("node"))
        .join(probes, Seq("qid"))
        .select(col("qid"), col("node"),
          round(graft.functions.CosineSim.cosineSim(col("qe"), col("ne")), 4)
            .as("cos"))
    val byCos = (l: Column, r: Column) =>
      when(l("cos") > r("cos"), -1).when(l("cos") < r("cos"), 1)
        .when(l("node") < r("node"), -1).when(l("node") > r("node"), 1)
        .otherwise(0)
    def topB(df: DataFrame, b: Int): DataFrame =
      df.repartition(qidParts(spark), col("qid"))
        .groupBy(col("qid"), col("node")).agg(max(col("cos")).as("cos"))
        .groupBy(col("qid"))
        .agg(slice(array_sort(collect_list(struct(col("cos"), col("node"))),
          byCos), 1, b).as("top"))
        .select(col("qid"), explode(col("top")).as("e"))
        .select(col("qid"), col("e.node").as("node"), col("e.cos").as("cos"))
    // entry: the top of the hierarchy is trivially SMALL (fanout-16
    // geometry: layer ℓ has n/16^ℓ members — at sf0.1 layer 3 has ~5,
    // layer 2 ~78), so descending it buys nothing over simply SCORING
    // it — each skipped round is one eager barrier saved (the r19
    // sim_hnsw decomposition, SCALING.md §"r19 second wave": at bench
    // SFs the descent is pure stage count). Enter instead at the
    // DEEPEST layer whose membership is enumerable (≤ [[EntryMax]])
    // and score ALL its members as the entry beam. Recall can only improve: members of every level ≥ ℓ
    // are members of level ℓ (levels are cumulative), so the candidates
    // any top-down walk could have accumulated by layer ℓ are a SUBSET
    // of members(ℓ) — the full-membership topB is the true layer-ℓ
    // optimum. Saves MORE at scale (2 M vectors: entry at layer 3's
    // ~500 members skips 3 rounds; the old path ran 6).
    // Index-side metadata — lTop, per-level member counts, the entry
    // layer's membership — is a pure function of the committed layer
    // table, so it is MEMOIZED per dir (r19): the first cut re-ran two
    // collect jobs + a layer scan on every serve pass, and the probe's
    // job census showed the filtered key spending its whole budget on
    // ~50 tiny jobs' scheduling, not on data. Bounded driver scalars
    // throughout (≤ log16 n count rows; ≤ EntryMax entry ids); the
    // memo clears with the layer memo at the harness cache boundary.
    // Value: (entry level, entry-layer member ids); entryLvl 0 encodes
    // "no upper layers" (the descend-nothing fallback).
    val (entryLvl, entryIds) = Caches.memo(spark, dir, "hnswEntry") {
      val lTopRow = layers.agg(max(col("lvl"))).collect()(0)
      if (lTopRow.isNullAt(0)) (0, Array.empty[Long])
      else {
        val lTop = lTopRow.getInt(0)
        val memCounts = layers.groupBy(col("lvl"))
          .agg(countDistinct(col("v")).as("m"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val eLvl = (1 to lTop)
          .find(l => memCounts.getOrElse(l, 0L) <= EntryMax)
          .getOrElse(lTop)
        (eLvl, layers.filter(col("lvl") === eLvl)
          .select(col("v")).distinct()
          .collect().map(_.getLong(0)).sorted)
      }
    }
    if (entryLvl == 0) return None
    import spark.implicits._
    val entry = probes.select(col("qid")).crossJoin(
      broadcast(entryIds.toSeq.toDF("node")))
    var beam = Caches.registerCheckpoint(
      topB(score(entry), LayerBeam).localCheckpoint(true))
    // descent: ONE round per layer — the beam's whole LayerHops-hop
    // neighborhood over the layer's (symmetrized) edges, scored in a
    // single pass, then one topB and one lineage cut. This is a
    // CANDIDATE SUPERSET of the hop-at-a-time greedy walk (N²(beam) ⊇
    // N(topB(N(beam))) — pruning between hops can only remove paths),
    // so recall is ≥ the sequential form while the barrier count drops
    // from lTop·LayerHops to lTop (each eager cut costs a fixed
    // ~0.3 s of tiny-shuffle latency — at bench SFs the descent is
    // stage-count-dominated, the standing sub-20k-row lesson). Volume
    // stays trivial: ≤ queries·LayerBeam·(2·LayerK)^LayerHops ≈ 4.6k
    // scored nodes per query per layer. Lineage still cuts per layer —
    // an UNCUT multi-layer chain re-executes its nested broadcast
    // subtrees geometrically (measured 77 s/pass at 20k vectors).
    for (l <- (entryLvl - 1) to 1 by -1) {
      val edgesL = layers.filter(col("lvl") === l)
      val sym = broadcast(
        edgesL.select(col("v"), col("w"))
          .union(edgesL.select(col("w").as("v"), col("v").as("w"))))
      var nodes = beam.select(col("qid"), col("node"))
      var frontier = nodes
      for (_ <- 1 to LayerHops) {
        frontier = frontier.select(col("qid"), col("node").as("v"))
          .join(sym, Seq("v"))
          .select(col("qid"), col("w").as("node"))
        nodes = nodes.union(frontier)
      }
      beam = Caches.registerCheckpoint(
        topB(beam.union(score(nodes)), LayerBeam).localCheckpoint(true))
    }
    // full (qid, node, cos) — the layer-0 search consumes this as its
    // round-0 beam without re-scoring (see graphSearchFor)
    Some(beam)
  }

  // `sim_filtered_graph` — PREDICATE-AWARE graph search (r19, VERDICT
  // r18 item 3): `sim_filtered` pins the filtered-search semantics on
  // the exact tier and composes the predicate into the IVF lists;
  // this key composes it into the GRAPH tier — the tenant-scoped
  // query a production vector store actually serves from its HNSW
  // index. The composition rule is filter-DURING-descent, split by
  // role (the public filtered-HNSW design):
  //   * NAVIGATION never filters. The upper-layer descent and the
  //     layer-0 beam walk the UNfiltered graph — pre-filtering the
  //     edges themselves would shatter connectivity at selective
  //     predicates (a 10%-label subgraph of a k-NN graph loses the
  //     long-range paths the walk needs), the same reason the flat
  //     tier can't post-filter a global top-k (underfill, Q287).
  //   * COLLECTION always filters. Every frontier the walk scores
  //     also feeds a label-matched RESULT accumulator — the filter
  //     applies to the frontier rows BEFORE the collection side's
  //     CosineSim evaluates (predicate on the index's inline label
  //     column, map-side; PlanSpec pins Filter below the scoring
  //     projection) — and the final top-k ranks accumulated MATCHING
  //     candidates only, so the result can never underfill while the
  //     walk stays connected.
  // Scale shape: identical to sim_hnsw (beam broadcasts, the ONE
  // resident adjacency frame is scanned map-side, per-hop volume
  // beam×degree — corpus-independent); the label rides IN the
  // committed index (searchAdj), so filtering adds zero joins and
  // zero shuffles. Approximate regime ⇒ no SQL oracle (the sim_ann
  // class); SimilaritySpec pins recall ≥ 0.9 vs the EXACT filtered
  // search (sim_filtered's brute ground truth) at sf0.01 + sf0.1 and
  // measures the filter-during vs pre-filter-then-search trade at two
  // selectivities.
  def simFilteredGraph(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val probes = emb.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("plabel"))
    filteredGraphSearchFor(spark, dir, probes)
      .orderBy("probe_id", "cand_id")
  }

  /** Filtered layer-0 beam search for (`qid`, `qe`, `plabel`) probes:
    * descent-seeded unfiltered navigation + predicate-matched
    * collection. Returns ≤ [[K]] matching candidates per probe. `pred`
    * generalizes the match (default: label equality, ~10% selective on
    * this corpus) so the selectivity trade is measurable — the spec
    * also runs a ~33%-selective coarsening. */
  private[operators] def filteredGraphSearchFor(spark: SparkSession,
      dir: String, probes0: DataFrame,
      pred: (Column, Column) => Column = _ === _): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val n = embCount(spark, dir)
    val probes = broadcast(probes0)
    val embN = emb.select(col("vec_id").as("node"),
      col("embedding").as("ne"), col("label").as("ln"))
    val adjE = searchAdj(spark, dir)
    val byCos = (l: Column, r: Column) =>
      when(l("cos") > r("cos"), -1).when(l("cos") < r("cos"), 1)
        .when(l("node") < r("node"), -1).when(l("node") > r("node"), 1)
        .otherwise(0)
    def topB(df: DataFrame, b: Int): DataFrame =
      df.repartition(qidParts(spark), col("qid"))
        .groupBy(col("qid"), col("node")).agg(max(col("cos")).as("cos"))
        .groupBy(col("qid"))
        .agg(slice(array_sort(collect_list(struct(col("cos"), col("node"))),
          byCos), 1, b).as("top"))
        .select(col("qid"), explode(col("top")).as("e"))
        .select(col("qid"), col("e.node").as("node"), col("e.cos").as("cos"))
    // node scoring used for BOTH roles at the seed step: navigation
    // keeps everything, collection keeps label matches
    def score(nodes: DataFrame): DataFrame =
      embN.join(broadcast(nodes), Seq("node"))
        .join(probes, Seq("qid"))
        .select(col("qid"), col("node"), col("ln"), col("plabel"),
          round(graft.functions.CosineSim.cosineSim(col("qe"), col("ne")), 4)
            .as("cos"))
    val seeds = hnswDescend(spark, dir,
        probes0.select(col("qid"), col("qe")))
      // this path re-scores under the label-carrying projection, so
      // only the (qid, node) columns of the descent beam are wanted
      .map(_.select(col("qid"), col("node"))).getOrElse(
      probes.select(col("qid"),
          explode(sequence(lit(0), lit(Seeds - 1))).as("i"))
        .select(col("qid"),
          pmod(conv(substring(md5(concat(lit("gs:"), col("qid"), lit(":"),
            col("i"))), 1, 12), 16, 10).cast("long"), lit(n)).as("node")))
    // MATCHED entry points: [[Seeds]] deterministic draws from each
    // label region the predicate admits — the per-label analogue of
    // the descent's entry hierarchy. The descent seeds the walk near
    // the query's GLOBAL neighborhood; when the predicate's region is
    // disjoint from it, no amount of hopping recovers (measured at
    // sf0.1's 10% predicate: 0.86 recall without matched entries, 4
    // hops — a plateau, not a budget problem). Label member lists are
    // a bounded 10-row broadcast here; at corpus scale the same role
    // is served by a bounded deterministic sample per label (the
    // slice cap below — e.g. the label's IVF list heads), never the
    // full membership.
    // index-side frame (label → bounded member sample): persisted so
    // serve passes share one materialization (CacheManager dedup, the
    // searchAdj convention) instead of re-aggregating the corpus
    val byLabel = Caches.persist(
      emb.groupBy(col("label"))
        .agg(slice(sort_array(collect_list(col("vec_id"))), 1, 4096)
          .as("members")))
    val matchedSeeds = probes
      .join(broadcast(byLabel), pred(col("label"), col("plabel")))
      .select(col("qid"), col("members"),
        explode(sequence(lit(0), lit(Seeds - 1))).as("i"))
      .select(col("qid"),
        element_at(col("members"),
          (pmod(conv(substring(md5(concat(lit("fgs:"), col("qid"),
            lit(":"), col("i"))), 1, 12), 16, 10).cast("long"),
            size(col("members"))) + 1).cast("int")).as("node"))
    // ef-widening (the filtered-HNSW rule): a selective predicate's
    // true top-K sits ~K/selectivity deep in the GLOBAL ranking, so
    // the walk must hold a candidate set sized to that depth — the
    // matched beam widens to 3×Beam (the exploration frontier the
    // filter thins is re-widened; cost stays beam×degree-bounded).
    // Measured at sf0.1's 10% predicate: 2× reads 0.90, 3× reads 0.93
    // recall@10 — the last few points are the deepest-ranked true
    // matches, bought by holding more matched frontier.
    val beamF = 3 * Beam
    val seedScored = score(seeds.unionByName(matchedSeeds))
    // DUAL beam (the filtered-HNSW widening rule, made structural):
    // the UNFILTERED beam keeps the walk connected toward the query's
    // global neighborhood; the MATCHED beam — the best label-matching
    // candidates seen so far — expands too, descending the walk into
    // the predicate's own cluster. One beam alone loses: filtered-only
    // shatters connectivity at selective predicates, unfiltered-only
    // never leaves the global top's neighborhood (measured at sf0.1's
    // 10% predicate: unfiltered-only collection read 0.67 recall;
    // dual beam 0.86; + matched entries and ef-widening 0.93 — a
    // selective filter's true top-10 sits ~1/selectivity deep in the
    // GLOBAL ranking, beyond the plain walk's horizon). The matched
    // beam doubles as the result accumulator — topB is monotone in
    // its union inputs, so the final top-K needs no separate chain.
    //
    // Both tiers live in ONE cached frame per round, tagged `m`
    // (r19): the first cut cached beamAll and beamM separately, and
    // the pair BRANCHED the uncut broadcast lineage — each round's
    // frontier references both prior frames, each of those references
    // the round before, so un-materialized cache nodes re-executed
    // their nested broadcast subtrees ~2^hops times (measured: 17–76 s
    // per bench pass at 20k vectors vs ~1.5 s for the single-beam flat
    // tier — the r16 uncut-chain lesson in dual form). One frame per
    // round restores the flat tier's LINEAR chain under the identical
    // candidate sets, and both tier caps share one exchange + one agg.
    val byCosM = (l: Column, r: Column) =>
      when(l("cos") > r("cos"), -1).when(l("cos") < r("cos"), 1)
        .when(l("node") < r("node"), -1).when(l("node") > r("node"), 1)
        .otherwise(0)
    // (qid, node, cos, m) → the union of top-Beam overall and
    // top-beamF matched, deduped — the expansion set AND accumulator
    def topBoth(df: DataFrame): DataFrame =
      df.repartition(qidParts(spark), col("qid"))
        .groupBy(col("qid"), col("node"))
        .agg(max(col("cos")).as("cos"), max(col("m")).as("m"))
        .groupBy(col("qid"))
        .agg(
          slice(array_sort(collect_list(struct(col("cos"), col("node"),
            col("m"))), byCosM), 1, Beam).as("ta"),
          slice(array_sort(collect_list(when(col("m"),
            struct(col("cos"), col("node"), col("m")))), byCosM), 1, beamF)
            .as("tm"))
        .select(col("qid"),
          explode(array_distinct(concat(col("ta"), col("tm")))).as("e"))
        .select(col("qid"), col("e.node").as("node"), col("e.cos").as("cos"),
          col("e.m").as("m"))
    var beam = Caches.persist(
      topBoth(seedScored.select(col("qid"), col("node"), col("cos"),
          pred(col("ln"), col("plabel")).as("m"))))
    // the FULL flat-tier hop budget, not the descent-discounted
    // HnswHops0: the descent seeds the walk near the query's GLOBAL
    // neighborhood, but a selective predicate's true top-10 sits past
    // it (inside the label's own region) — the walk needs its travel
    // hops back (measured at sf0.1's 10% predicate: 3 hops 0.84, 4
    // hops 0.86 before the entry/widening levers; per-hop volume
    // stays beam×degree-bounded)
    def roundOf(b: DataFrame): DataFrame = {
      val frontier = adjE
        .join(broadcast(b.select(col("qid"), col("node").as("v"))),
          Seq("v"))
        .join(probes, Seq("qid"))
      // navigation: every frontier node keeps the walk connected
      val scoredAll = frontier
        .select(col("qid"), col("w").as("node"),
          round(graft.functions.CosineSim.cosineSim(col("qe"), col("ew")), 4)
            .as("cos"), lit(false).as("m"))
      // collection: label-matched BEFORE the scoring projection — the
      // predicate binds to the index's inline label column map-side;
      // the (qid, node) dedupe's max(m) re-merges the matched rows
      val scoredMatch = frontier.filter(pred(col("lw"), col("plabel")))
        .select(col("qid"), col("w").as("node"),
          round(graft.functions.CosineSim.cosineSim(col("qe"), col("ew")), 4)
            .as("cos"), lit(true).as("m"))
      b.union(scoredAll).union(scoredMatch)
    }
    for (_ <- 1 until Hops) {
      beam = Caches.registerCheckpoint(topBoth(roundOf(beam))
        .localCheckpoint(true))
    }
    // final hop folds the matched-only output cap into its own round
    // (the graphSearchFor convention: beamF ≥ K+1, so top-K of the
    // self-dropped matched union equals the former cap chain)
    topB(roundOf(beam).filter(col("m") && col("node") =!= col("qid"))
        .select(col("qid"), col("node"), col("cos")), K)
      .select(col("qid").as("probe_id"), col("node").as("cand_id"),
        col("cos").as("cosine"))
  }

  // `embed_matryoshka` — prefix-truncation ranking fidelity (the
  // Matryoshka-representation eval, Kusupati et al. 2022): how much of
  // the FULL 64-dim cosine top-5 survives when ranking by only the
  // first 16 dims — the measurement that decides whether a pipeline
  // can store/serve truncated vectors (4× cheaper ANN) without
  // re-embedding. Per probe: rank candidates by full-dim cosine and
  // by 16-dim-prefix cosine (both 4-dp-rounded BEFORE ranking, the
  // sim_topk cross-engine contract; ties break on cand_id), emit
  // exact-integer overlap@5 and top-1 agreement. Scale shape:
  // identical to sim_topk — probes broadcast, candidates never
  // shuffle, the two rank windows AND the final per-probe agg share
  // one (probe_id)-hash exchange. Output is all-integer (the floats
  // die inside the rank), so the hash surface is exact.
  def embedMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val probes = broadcast(
      emb.filter(col("vec_id") < NProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe")))
    val scored = emb.join(probes, col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(expr("cosine_sim(pe, embedding)"), 4).as("cf"),
        round(expr("cosine_sim(slice(pe, 1, 16), slice(embedding, 1, 16))"),
          4).as("cp"))
    val wF = Window.partitionBy("probe_id")
      .orderBy(col("cf").desc, col("cand_id"))
    val wP = Window.partitionBy("probe_id")
      .orderBy(col("cp").desc, col("cand_id"))
    scored
      .withColumn("rf", row_number().over(wF))
      .withColumn("rp", row_number().over(wP))
      .groupBy("probe_id")
      .agg(
        sum(when(col("rf") <= 5 && col("rp") <= 5, 1L).otherwise(0L))
          .as("overlap_at5"),
        max(when(col("rf") === 1 && col("rp") === 1, 1L).otherwise(0L))
          .as("top1_match"))
      .orderBy("probe_id")
  }

  // `embed_pca_power` — top principal component by POWER ITERATION
  // (classic; e.g. Golub & Van Loan, public): the embedding toolkit's
  // missing LEARNED projection (embed_rp is a random rotation,
  // embed_matryoshka a fixed truncation — PCA is what a pipeline fits
  // to whiten/compress before ANN). The split is the production one:
  // the DATA-scale work — the d×d Gram/covariance sums over the whole
  // corpus — runs distributed (one generator pass emitting each row's
  // 2080 upper-triangle products, one bounded-key partial-agg shuffle
  // onto d(d+1)/2 = 2080 keys), and the d×d eigen-iteration runs on
  // the driver over the COLLECTED 2080-row Gram table (the bounded-
  // scalar convention — a 64×64 matrix fits anywhere; this is exactly
  // how production wide-matrix PCA collects the Gram matrix).
  //
  // Determinism — the whole trajectory is EXACT-INTEGER, so summation
  // order never matters anywhere:
  //  - inputs quantize to exact micro-ints q = round(e·10⁴) (the
  //    standing cents recipe);
  //  - the denominator-cleared covariance numerator C = n·Σqq' −
  //    (Σq)(Σq)' (the agg_moments trick) is exact in DECIMAL(38,0)/
  //    HUGEINT;
  //  - PcaRounds (32) power-iteration rounds stay in arbitrary-
  //    precision integers — the DuckDB oracle unrolls EXACTLY that many
  //    rounds (v1..v32 CTEs), so the constant and the oracle SQL must
  //    move in lockstep (ADVICE r15),
  //    rescaled each round by mv // max(1, max|mv| // 2²⁰) — BOTH
  //    engines truncate toward zero (BigInt `/` = DuckDB `//`,
  //    verified on negatives), so the rescale matches bit-for-bit;
  //  - the final render divides each exact v_i by sqrt(Σv²) computed
  //    from the EXACT integer Σv² (≤ 2⁵³, double-exact), one IEEE
  //    sqrt + divide + floor per row — identical both engines; the
  //    sign convention (component with the largest |loading|,
  //    smallest index on ties, is non-negative) is a pure integer
  //    comparison. The oracle replays every round as materialized
  //    CTEs over the same HUGEINT arithmetic.
  private val PcaRounds = 32
  private val PcaDims = 64
  def embedPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"),
        v => round(v.cast("double") * 10000, 0).cast("long")).as("q"))
    // one codegen'd generator to (vec, dim, value), then an id-local
    // self-join for the upper-triangle products — end-to-end codegen
    // (an interpreted 2080-struct-per-row HOF lambda measured 2× this)
    val flat = Caches.persist(emb
      .select(col("vec_id"), posexplode(col("q")).as(Seq("pos", "v")))
      .select(col("vec_id"), (col("pos") + 1).as("i"), col("v")))
    val pairSums = flat
      .join(flat.select(col("vec_id"), col("i").as("j"), col("v").as("w"))
        .hint("shuffle_hash"), Seq("vec_id"))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(sum((col("v") * col("w")).cast("decimal(38,0)")).as("sp"))
      .collect()
    val dimSums = flat.groupBy(col("i"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
      .collect()
    val n = BigInt(dimSums.head.getLong(2))
    val d = PcaDims
    val sArr = Array.fill(d)(BigInt(0))
    dimSums.foreach(r => sArr(r.getInt(0) - 1) = BigInt(r.getLong(1)))
    val cov = Array.ofDim[BigInt](d, d)
    pairSums.foreach { r =>
      val (i, j) = (r.getInt(0) - 1, r.getInt(1) - 1)
      val c = n * BigInt(r.getDecimal(2).toBigInteger) - sArr(i) * sArr(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    // BigInt `/` truncates toward zero — EXACTLY DuckDB's `//` on
    // HUGEINT (verified: -7 // 2 = -3), so the rescale divisions match
    // bit-for-bit on negative components with no adjustment
    var v = Array.fill(d)(BigInt(1))
    for (_ <- 1 to PcaRounds) {
      val mv = Array.tabulate(d)(i =>
        (0 until d).foldLeft(BigInt(0))((acc, j) => acc + cov(i)(j) * v(j)))
      val div = (mv.map(_.abs).max / (BigInt(1) << 20)).max(BigInt(1))
      v = mv.map(_ / div)
    }
    // sign convention: the largest-|loading| component (smallest index
    // on ties) points non-negative
    val k = (0 until d).maxBy(i => (v(i).abs, BigInt(-i)))
    val sg = if (v(k).signum < 0) -1 else 1
    val norm = math.sqrt(v.foldLeft(BigInt(0))((a, x) => a + x * x).toDouble)
    val out = (0 until d).map(i => (i + 1,
      math.floor(1e6 * sg * v(i).toDouble / norm).toLong))
    import spark.implicits._
    out.toDF("dim", "loading_micro").orderBy("dim")
  }
}
