package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication suite over the `documents` table — SURVEY.md §2B
  * Q37/Q38 plus the exact-n-gram and SimHash variants (north-star
  * LLM-data-pipeline operators; no reference analogue — the reference is
  * a single-table scan engine, README.md:6-15).
  *
  * Four methods, one per dedup regime:
  *  - `dedupExact`    — byte-identical (after normalization) content hash;
  *  - `dedupNgram`    — exact shingle-set Jaccard via an inverted-index
  *                      self-join (oracle-checkable; candidate generation
  *                      by shared shingle — sub-quadratic on real corpora
  *                      because only docs sharing an n-gram ever meet);
  *  - `dedupNear`     — banded MinHash-LSH, the 100 TB-scale path:
  *                      32 min-hashes per doc in one aggregation pass,
  *                      16 bands × 2 rows bucket join for candidates,
  *                      exact-Jaccard verify on collisions only — no
  *                      all-pairs comparison anywhere;
  *  - `dedupSimhash`  — 64-bit SimHash fingerprint + banded Hamming
  *                      candidate join (bitwise near-dup regime).
  *
  * All four regimes share ONE normalization — `tokens()`:
  * lowercase, trim, split on runs of whitespace — so a pair that
  * `dedupExact` treats as identical is exactly Jaccard-1.0 for the
  * shingle-based regimes.
  *
  * Scale notes (100 TB design intent):
  *  - shingling is map-only (explode after array_distinct) and never
  *    materializes per-pair state outside aggregations;
  *  - `dedupNgram`'s shingle join is the exact-verification path; its
  *    worst case (a shingle shared by k docs → k² candidate rows) is the
  *    reason the LSH/SimHash variants exist — at scale you run LSH first
  *    and exact-verify only candidate buckets;
  *  - LSH banding (16 bands × 2 rows): P[pair surfaces] = 1-(1-J²)^16 —
  *    a J≥0.8 pair is missed with p ≤ 8e-8, while a background J=0.1
  *    pair is admitted with only ~0.15 probability; low-J survivors are
  *    removed by the exact-Jaccard verify that runs only on collisions;
  *  - everything shuffles on content-derived keys (hash/shingle/band), so
  *    adding executors scales linearly; no driver-side collection.
  */
object Dedup {

  /** Shared normalization: lowercase, trim, split on whitespace runs. */
  private[operators] def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** Distinct k-word shingle array over an ALREADY-MATERIALIZED token
    * array column (k = 5 per SURVEY.md §2B Q38).
    *
    * `w` must be a bound attribute, not the split(...) expression
    * itself: a lambda-bearing higher-order function evaluates
    * interpreted, and a captured non-attribute subtree is re-evaluated
    * on every lambda element — slice(split(text),…) per shingle turns
    * an O(tokens) doc into O(tokens²) string splitting (measured ~2×
    * on the whole shingle pipeline at sf0.1). Projecting the array
    * first makes the lambda read a materialized array; CollapseProject
    * keeps the projection because `w` is referenced more than once and
    * split is not cheap. */
  private[operators] def shingleArray(w: Column, k: Int = 5): Column =
    array_distinct(
      transform(sequence(lit(0), size(w) - k),
        i => concat_ws(" ", slice(w, i + lit(1), lit(k)))))

  /** Distinct k-word shingles per document: (doc_id, s). Map-only. */
  private[operators] def shingles(docs: DataFrame, k: Int = 5): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(shingleArray(col("w"), k)).as("s"))

  /** Hashed distinct shingles per doc: (doc_id, h) — 8-byte keys, the
    * working set of every shingle-based dedup pipeline. PERSISTED:
    * each pipeline consumes this frame 3-5× (signature aggregation,
    * per-doc counts, both sides of the verify join); without the
    * persist the corpus is re-tokenized and re-shingled once per
    * consumer — at 100 TB that is ~5 full scans of the corpus instead
    * of one. MEMORY_AND_DISK so oversized corpora spill rather than
    * evict-and-recompute. Spark's CacheManager dedups identical plans,
    * so `dedup_near` and `dedup_ngram` (which share this exact
    * subtree) and repeated runs reuse ONE cache entry; registered with
    * [[Caches]] so the harness releases it once the query family is
    * done (ADVICE r4: previously resident for the whole session). */
  private[operators] def hashedShingles(docs: DataFrame): DataFrame =
    Caches.register(shingles(docs)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Canonical content hash: sha256 over the fully-normalized text
    * (NFD + mark strip + case fold + ws collapse + trim — the
    * [[graft.functions.TextNormalize]] expression; VERDICT r9 item 5).
    * Since r11 EVERY content-hash site uses this one fold —
    * dedup_exact, dedup_keep_best, dedup_incremental, pipeline_corpus
    * and the stream_static_join history index — so a composed-vs-
    * decomposed accent pair dedups identically in every key (VERDICT
    * r10 item 2 closed the lower(trim()) split). */
  private[graft] def exactHash(text: Column): Column =
    sha2(graft.functions.TextNormalize.textNormalize(text), 256)

  // Q37 `dedup_exact` — exact dedup on sha2(normalized text): one
  // surviving doc (min doc_id) per content-hash group plus the group
  // size. Single shuffle on the 256-bit hash; at 100 TB this is the
  // standard first dedup pass (hash is computed map-side, only
  // (hash, doc_id) pairs shuffle — not the text). The hash input is
  // the CANONICAL normalization ([[exactHash]]): composed vs
  // decomposed accent variants of the same content dedup together
  // (DedupSpec pins a café/café fixture pair).
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(exactHash(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("h"), col("n_copies"))
      .orderBy("doc_id")

  // Q38b `dedup_ngram` — exact 5-gram-shingle Jaccard ≥ 0.8 pairs via an
  // inverted index: explode distinct shingles, self-join on the shingle
  // (equi-join → hash join, candidates only where an n-gram is shared),
  // count intersections per pair, Jaccard from |A∩B| / (|A|+|B|-|A∩B|).
  // The driver data plants 25 true near-dup pairs (5-gram J ≥ 0.875)
  // with a clean gap below 0.3, so 0.8 separates cleanly.
  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(Tables.fannedDocuments(spark, dir))

  /** Exact shingle-Jaccard pairs over any (doc_id, text) frame —
    * factored out so DedupSpec can plant synthetic duplicates. */
  private[operators] def ngramPairs(docs: DataFrame, minJ: Double = 0.8): DataFrame = {
    // Join/aggregate on xxhash64 of the shingle, not the string: 8-byte
    // fixed-width keys through the exchange instead of ~30-byte text.
    // A cross-shingle hash collision (≈n²/2⁶⁵, ~1e-8 at sf0.1) would
    // perturb one intersection count — accepted odds for halving
    // shuffle volume.
    // (A df>=2 posting-list prefilter before the self-join was
    // HYPOTHESIZED to win on a mostly-unique-shingle web corpus. The
    // A/B (SCALING.md §"dedup_ngram posting-list A/B") measured
    // it 1.4–2.3× SLOWER on BOTH corpus shapes at 50k and 200k docs,
    // df1 share up to 0.96: pruning df=1 postings saves join input
    // whose join output was already zero, while paying an extra
    // aggregation + semi-join shuffle of the SAME posting volume —
    // for a one-shot hash equi-self-join the prefilter never recovers
    // its own cost. Decision rule: keep the plain self-join; a df
    // prune only pays when the posting list is materialized once and
    // probed repeatedly, or when postings carry wide payloads.)
    val sh  = hashedShingles(docs)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    jaccardFilter(pairIntersections(sh), cnt, minJ)
  }

  /** Posting self-join → per-pair intersection counts; ONE definition
    * shared by [[ngramPairs]] and [[containmentPairs]]. */
  private def pairIntersections(posts: DataFrame): DataFrame =
    posts.select(col("doc_id").as("doc_a"), col("h"))
      .join(posts.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"))

  /** Shared verify tail of both near-dup pipelines: given intersection
    * counts (doc_a, doc_b, c) and per-doc shingle totals (doc_id, n),
    * keep pairs with J = c/(na+nb-c) ≥ minJ. ONE definition so
    * `dedup_near` and `dedup_ngram` cannot drift apart — DedupSpec and
    * the shared oracle require their outputs identical to the digit. */
  private def jaccardFilter(inter: DataFrame, cnt: DataFrame,
      minJ: Double): DataFrame = {
    val j = col("c").cast("double") /
      (col("na") + col("nb") - col("c")).cast("double")
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(j >= minJ)
      .select(col("doc_a"), col("doc_b"), round(j, 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // `dedup_url` — URL canonicalization dedup, the zeroth dedup pass of
  // every web-corpus pipeline: the same page arrives under host-case,
  // default-port, trailing-slash, tracking-param and fragment variants,
  // and content-level dedup should never have to pay for re-fetching or
  // re-hashing them. Raw variants are synthesized deterministically
  // from events (the corpus has no URL column), then canonicalized by a
  // regexp chain — drop fragment, strip utm_* params, strip :443,
  // collapse trailing slash, lowercase scheme+host ONLY (paths are
  // case-sensitive per RFC 3986; the host regexp-extract keeps the
  // fold surgical). Scale: pure map-side string work, then one shuffle
  // on the canonical key — only (canon, id) pairs move, the standard
  // exact-dedup shape. Every regexp is Java/RE2-identical (no
  // backrefs, no lookaround) so DuckDB replays it verbatim.
  def dedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val k = get_json_object(col("props"), "$.k").cast("long")
    val raw = concat(
      lit("https://"),
      when(pmod(id, lit(2)) === 0, lit("CDN.Example.COM"))
        .otherwise(lit("cdn.example.com")),
      when(pmod(id, lit(3)) === 0, lit(":443")).otherwise(lit("")),
      lit("/Page/"), pmod(id, lit(200)).cast("string"),
      when(pmod(id, lit(5)) === 0, lit("/")).otherwise(lit("")),
      lit("?id="), pmod(coalesce(k, lit(0L)), lit(100)).cast("string"),
      when(pmod(id, lit(4)) === 1,
        lit("&utm_source=feed&utm_campaign=x")).otherwise(lit("")),
      when(pmod(id, lit(7)) === 2,
        concat(lit("#sec"), pmod(id, lit(5)).cast("string")))
        .otherwise(lit("")))
    val c1 = regexp_replace(raw, "#.*$", "")
    val c2 = regexp_replace(c1, "&utm_[a-z]+=[^&]*", "")
    val c3 = regexp_replace(c2, ":443/", "/")
    val c4 = regexp_replace(c3, "/\\?", "?")
    val canon = concat(
      lower(regexp_extract(c4, "^(https?://[^/]+)", 1)),
      regexp_extract(c4, "^https?://[^/]+(.*)$", 1))
    Tables.fannedEvents(spark, dir)
      .select(id, raw.as("raw"), canon.as("url"))
      .groupBy("url")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("raw")).as("n_variants"),
        min(id).as("first_id"))
      .orderBy("url")
  }

  // `dedup_containment` — asymmetric shingle CONTAINMENT, the metric
  // Jaccard structurally misses: when a short document is embedded in
  // a much longer one (quotation, boilerplate wrapping, page-in-site
  // scrape), |A∩B|/|A∪B| stays low because the union is dominated by
  // the long doc, while C = |A∩B| / min(|A|,|B|) → 1. Broder's
  // containment measure is the standard web-dedup complement to
  // resemblance (the same shingle machinery serves both — one
  // inverted-index self-join, no extra pass over the text). Output:
  // pairs with C ≥ 0.9, carrying Jaccard alongside so the spec can pin
  // that containment catches pairs the J ≥ 0.8 keys cannot. Scale:
  // identical shape to dedup_ngram (shared-shingle equi-join only,
  // never all-pairs); at 100 TB the candidate set would come from the
  // banded-MinHash stage instead — the verify tail is unchanged.
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.fannedDocuments(spark, dir))

  /** Containment pairs over any (doc_id, text) frame — factored out so
    * DedupSpec can plant a subset-doc pair that Jaccard misses. */
  private[operators] def containmentPairs(docs: DataFrame,
      minC: Double = 0.9): DataFrame = {
    val sh  = hashedShingles(docs)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val c   = col("c").cast("double") /
      least(col("na"), col("nb")).cast("double")
    val j   = col("c").cast("double") /
      (col("na") + col("nb") - col("c")).cast("double")
    pairIntersections(sh)
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(c >= minC)
      .select(col("doc_a"), col("doc_b"),
        round(c, 4).as("containment"), round(j, 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // Q38 `dedup_near` — MinHash-LSH near-dup detection (the scale path):
  // banded MinHash candidate generation + exact Jaccard verification on
  // candidates only. Output = exactly the J ≥ 0.8 pairs (same contract
  // as `dedup_ngram`, hence the same SQL oracle), but candidate
  // generation never goes all-pairs. Everything is xxhash64 — seedless,
  // deterministic, no fit step, no driver state.
  def dedupNear(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.fannedDocuments(spark, dir))

  /** Checkpointed LEAF view of [[minhashPairs]] over the corpus,
    * memoized per dir (r19, measured on graph_pagerank — SCALING.md
    * §"r19 driver-planning cuts"):
    * every DOWNSTREAM consumer of the pair frame re-analyzed and
    * re-canonicalized the whole LSH subtree (32 minhash aggregates,
    * self-join, verify joins) on each reference — ~1.1 s of pure
    * driver planning per warm pass, 2-3× the actual execution. The
    * pair frame is O(duplication) tiny (~25 rows at sf0.1; at 100 TB
    * it is O(near-dup pairs), never O(corpus)), so the consumers'
    * decision tier (PageRank, connected components) reads it as ONE
    * LogicalRDD leaf: the LSH tree is planned and executed once per
    * harness window, and every loop round plans leaf-sized trees. The
    * memo follows the hnswMemo convention — cleared by Caches at the
    * harness boundary, so bench keys still pay their own cold build.
    * `dedup_near` itself keeps the raw [[minhashPairs]] frame (its
    * declared plan shape IS the LSH pipeline — PlanSpec pins it). */
  private val pairsLeafMemo =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  Caches.onRelease(() => pairsLeafMemo.clear())
  private[operators] def pairsLeaf(spark: SparkSession,
      dir: String): DataFrame =
    pairsLeafMemo.getOrElseUpdate(dir,
      Caches.registerCheckpoint(
        minhashPairs(Tables.fannedDocuments(spark, dir))
          .select("doc_a", "doc_b").localCheckpoint(true)))

  /** Banded-MinHash near-dup pipeline over any (doc_id, text) frame:
    *  1. signature: bands×rows independent min-hashes, ONE aggregation
    *     pass over the PERSISTED hashed-shingle frame (min of
    *     xxhash64(i, shingle_hash) per hash — re-seeding the 8-byte
    *     shingle hash is as independent a family as re-hashing the
    *     string, and lets the signature, count and verify stages all
    *     read the same cached frame); band value = hash of its `rows`
    *     min-hashes;
    *  2. candidates: posexplode (band, value) → self equi-join →
    *     distinct pairs. Only docs sharing a full band ever meet;
    *  3. verify: exact |A∩B| via joining candidate pairs back to the
    *     hashed shingle sets — cost Σ_candidates |A|, not N².
    *
    * Banding math (b=16, r=2): a band collides with probability J^r, so
    * a pair surfaces with 1-(1-J²)^16 — a J≥0.8 pair is missed with
    * p ≤ (1-0.64)^16 ≈ 8e-8, while a background J=0.1 pair becomes a
    * candidate with only ~0.15 probability (vs 0.57 for r=1 bands,
    * which degenerate toward all-pairs on corpora with shared
    * vocabulary — r≥2 keeps the threshold sharp at scale).
    */
  private[operators] def minhashPairs(docs: DataFrame, minJ: Double = 0.8,
      bands: Int = 16, rows: Int = 2): DataFrame = {
    val hsh = hashedShingles(docs)
    val mins = (0 until bands * rows).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"mh$i"))
    val bandVals = (0 until bands).map { b =>
      xxhash64((0 until rows).map(r => col(s"mh${b * rows + r}")): _*)
    }
    val banded = hsh.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        posexplode(array(bandVals: _*)).as(Seq("band", "mh")))
    val cand = banded.select(col("doc_id").as("doc_a"), col("band"), col("mh"))
      .join(banded.select(col("doc_id").as("doc_b"), col("band"), col("mh")),
        Seq("band", "mh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val cnt = hsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(hsh.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(hsh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"))
    // The verified pair set is PERSISTED (VERDICT r14 item 2): it is
    // the hashedShingles convention one stage further up — the pair
    // frame is tiny (O(near-dup pairs), ~25 rows at every measured sf;
    // at 100 TB it is O(duplication), never O(corpus)) and it is THE
    // shared input of the whole decision tier: dedup_components,
    // dedup_keep_best and graph_pagerank all re-derive it otherwise.
    // CacheManager dedups the identical plan subtree, so one entry
    // serves every consumer in a session; Caches releases it at the
    // harness boundary like every other operator cache.
    Caches.register(jaccardFilter(inter, cnt, minJ)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  // `dedup_components` — connected components over the near-dup pair
  // graph: the step that turns pairwise J ≥ 0.8 detections into actual
  // dedup DECISIONS. Pairs alone under-delete: a~b and b~c must
  // collapse to one surviving doc even when a≁c (the chains exist in
  // this corpus: multi-degree nodes at both sf0.01 and sf0.1), and
  // every production MinHash pipeline ends with exactly this
  // pairs → components → one-canonical-doc-per-component reduction.
  //
  // Algorithm: iterative min-label propagation with pointer jumping —
  // each round sets label(v) := min over {v} ∪ N(v), then shortcuts
  // label(v) := label(label(v)). Pointer jumping halves the distance to
  // the component minimum each round → O(log diameter) rounds, the
  // DataFrame-native equivalent of the alternating-star MapReduce CC
  // algorithms (Kiveris et al., public). Per round: one neighbor-min
  // aggregation + two hash joins (all shuffles on node ids) and ONE
  // driver-side convergence COUNT — the standard iterative-graph loop
  // shape (GraphX Pregel does the same); only a scalar ever reaches the
  // driver. Frames are persisted per round and the predecessor
  // unpersisted, so lineage stays O(1) across iterations instead of
  // growing a 2^rounds plan. The hard cap (25 rounds ⇒ diameter 2^25)
  // is a runaway guard, not a correctness bound.
  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    // Edge list from the LSH scale path (proven output-identical to the
    // exact inverted-index pairs, so the exact SQL oracle still holds).
    val cc = connectedComponents(
      pairsLeaf(spark, dir))
    val sizes = cc.groupBy("comp").agg(count(lit(1)).as("n_members"))
    cc.join(sizes, Seq("comp"))
      .select(col("node").as("doc_id"), col("comp").as("component"),
        col("n_members"),
        (col("node") === col("comp")).cast("int").as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Min-label propagation + pointer jumping over an undirected edge
    * list (doc_a, doc_b); returns (node, comp) with comp = min node id
    * in the connected component. Nodes = endpoints (isolated docs are
    * their own trivial component and are omitted — the caller's
    * contract covers only docs with at least one near-dup edge).
    *
    * Round economics (this loop is action-driven, so every shuffle
    * stage counts): the init label comp₀(v) = min({v} ∪ N(v)) is FUSED
    * into one aggregation (a full relax round for free); `relaxed` is
    * persisted because the pointer-jump self-join consumes it twice;
    * convergence is detected by the LABEL SUM — labels only ever
    * decrease, so an unchanged Σcomp (decimal — overflow-safe at any
    * node count) proves the fixpoint with one map-side aggregate per
    * round instead of an old-vs-new join.
    *
    * Each round's label frame is an eager `localCheckpoint`, NOT a
    * persist: unpersisting a predecessor makes CacheManager re-plan
    * (and empty) every cached entry built on it, so a persist chain
    * recomputes the whole prefix each round (measured on the pagerank
    * twin, Graph.scala — rounds grew linearly). The checkpoint cuts
    * the lineage so `relaxed.unpersist` after it is harmless. On a
    * multi-executor cluster swap in reliable `checkpoint` where
    * executor loss matters. */
  private[operators] def connectedComponents(pairs: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .persist(lvl)
    var comp = edges.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u").as("node"), least(col("u"), col("mv")).as("comp"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum: java.math.BigDecimal = null
    var curSum = labelSum(comp)
    var rounds = 0
    while (curSum != prevSum && rounds < 25) {
      val nbrMin = edges
        .join(comp.select(col("node").as("v"), col("comp").as("vc")), Seq("v"))
        .groupBy(col("u").as("node")).agg(min(col("vc")).as("nmin"))
      val relaxed = comp.join(nbrMin, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
        .persist(lvl)
      val jumped = relaxed.as("x")
        .join(relaxed.select(col("node").as("jn"), col("comp").as("jc")).as("y"),
          col("x.comp") === col("y.jn"), "left_outer")
        .select(col("x.node").as("node"),
          coalesce(col("jc"), col("x.comp")).as("comp"))
        .localCheckpoint(true) // eager: cuts the round's lineage
      prevSum = curSum
      curSum = labelSum(jumped)
      relaxed.unpersist() // safe: jumped is checkpoint-backed
      // jumped is materialized (eager checkpoint + labelSum read it) —
      // the superseded round's checkpoint blocks are dead; release them
      // eagerly rather than waiting for ContextCleaner GC
      Caches.releaseCheckpoint(comp)
      comp = jumped
      rounds += 1
    }
    edges.unpersist()
    comp
  }

  // `dedup_keep_best` — canonical selection: exact dedup that keeps the
  // BEST copy of each duplicate group instead of the arbitrary first —
  // the form production corpus dedup actually takes (keep the longest /
  // highest-quality variant). Rank key = struct(n_chars, -doc_id):
  // struct ordering compares field by field, so max_by favors longer
  // text and breaks length ties toward the smaller doc_id — unique per
  // doc (doc_id is unique), deterministic in both engines, and correct
  // at ANY doc_id magnitude (ADVICE r4: the earlier arithmetic packing
  // n_chars·10⁷−doc_id silently misranked once doc_id ≥ 10⁷). One
  // shuffle on the content hash, map-side partial max_by: the same
  // 100 TB profile as `dedupExact`.
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(exactHash(col("text")).as("h"))
      .agg(
        max_by(col("doc_id"),
          struct(col("n_chars"), negate(col("doc_id")))).as("kept_doc"),
        max(col("n_chars")).as("kept_chars"),
        count(lit(1)).as("n_copies"))
      .select(col("kept_doc"), col("h"), col("kept_chars"), col("n_copies"))
      .orderBy("kept_doc")

  // `dedup_spans` — exact duplicated-SPAN detection: the substring-level
  // dedup signal (docs can share a long boilerplate span without being
  // near-dups as wholes — the case doc-level MinHash misses by design;
  // public method: exact-substring training-data dedup à la Lee et al.
  // 2022, at a fixed 20-token granularity instead of suffix arrays).
  // Every 20-token window is hashed; a hash seen in ≥ 2 DISTINCT docs
  // is a cross-document duplicated span. Output per span cluster:
  // occurrence/doc counts + the first (doc, pos) site.
  //
  // Scale: the corpus explodes to one row per token position (the same
  // volume a tokenizer already produces), then shuffles ONLY on the
  // 16-byte span hash — positions ride along; no pairwise comparison
  // ever happens (the inverted index IS the detector). md5 keeps the
  // hash oracle-replayable.
  // Window hashing is a PLAIN projection after exploding only the
  // OFFSETS — not a transform(...) lambda over the windows: a
  // lambda-bearing HOF evaluates interpreted per element, while here
  // md5/concat_ws/slice all stay inside whole-stage codegen (the
  // generator and the projection fuse into one span). A/B at sf0.1
  // (same session, best-of-3): lambda 1.30 s → projection 0.95 s,
  // output bit-identical (VERDICT r6 stretch item; SCALING.md).
  def dedupSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = 20
    val spans = Tables.fannedDocuments(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("w"), col("pos"), lit(k)))).as("h"))
    spansTail(spans)
  }

  private def spansTail(spans: DataFrame): DataFrame =
    spans.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("pos"))).as("s"))
      .filter(col("n_docs") >= 2)
      .select(col("h"), col("n_occ"), col("n_docs"),
        col("s.doc_id").as("first_doc"), col("s.pos").as("first_pos"))
      .orderBy("h")

  /** 64-bit SimHash per document from its distinct 5-shingles: every
    * shingle's 128-bit md5 supplies 64 vote bits (one per hex nibble
    * pair position: bit b = nibble b/4 of the hex digest, shifted by
    * b%4); each bit votes +1/-1 and the fingerprint keeps the sign.
    * Formulated as ONE aggregation with 64 vote columns (one sum per
    * bit, all map-side partial) — not a shingle×64 row explode, which
    * would push 64× the shingle count through the exchange.
    *
    * Bit source is md5, NOT the shared xxhash64 shingle hash
    * ([[hashedShingles]]): DuckDB has md5 but no xxhash64, and unlike
    * the Jaccard regimes (where the hash is an internal join key whose
    * collisions are the only observable) the SimHash OUTPUT — Hamming
    * distances — is a direct function of the hash bits, so an oracle
    * must replay the exact bit source. Deliberately decoupled from the
    * cached xxh64 frame so the switch cannot perturb
    * dedup_near/ngram/incremental (their oracles stay proven as-is);
    * the one extra tokenize+shingle pass is this key's only consumer.
    */
  private[operators] def simhash(docs: DataFrame): DataFrame = {
    // One md5 per distinct shingle, parsed as TWO 32-bit words (2 conv
    // calls, not 16 per-nibble ones — measured 2.5 s → 1.7 s on the
    // full key at sf0.1). Bit b of the vote = nibble b/4 of the hex
    // digest shifted by b%4 — identical values to the oracle's
    // per-nibble formula: substr(m, 1, 8) parses big-endian, so hex
    // char n+1 (nibble n) lands at word bits 4*(7 - n%8)..+3.
    val words = (0 until 2).map { w =>
      conv(substring(col("m"), 8 * w + 1, 8), 16, 10).cast("long").as(s"w$w")
    }
    val worded = shingles(docs)
      .select(col("doc_id"), md5(col("s")).as("m"))
      .select(col("doc_id") +: words: _*)
    // bit b of the per-shingle vote, as 0/1
    def bitOf(b: Int): Column = {
      val n = b / 4 // nibble index in the hex digest
      val shift = 4 * (7 - n % 8) + b % 4
      shiftright(col(s"w${n / 8}"), shift).bitwiseAND(lit(1L))
    }
    // PACKED lane sums (VERDICT r16 item 8 — expression-tree diet):
    // instead of 64 independent ±1-vote sum() aggregates, 16 longs
    // each accumulate 4 bit-COUNTS in 16-bit lanes (branch-free
    // shift/or per row, 16 agg buffer slots instead of 64). The ±1
    // vote recovers exactly as v_b = 2·c_b − n: bit set ⟺ v_b > 0 ⟺
    // 2·c_b > n, including the tie (v_b = 0 → clear) — identical
    // fingerprints to the per-bit formula the DuckDB oracle replays.
    // Lane bound (corrected r18, ADVICE r17): the top lane occupies
    // bits 48–63 of the SIGNED sum, so the first overflow is at
    // ≥ 32768 set shingles in lane 3 (2^15 · 2^48 = 2^63 crosses
    // Long.MaxValue — and would throw under ANSI mode), not the full
    // 16-bit 65536. Still 2–3 decimal orders above any real doc:
    // shingles are per-doc word 5-grams and doc length is bounded by
    // the ingest contract, not the corpus size.
    val packed = (0 until 16).map { j =>
      sum((0 until 4).map(l => shiftleft(bitOf(4 * j + l), 16 * l))
        .reduce(_ + _)).as(s"p$j")
    }
    // 1L << 63 wraps to Long.MinValue — the sign bit IS bit 63; the
    // oracle's UBIGINT has the identical bit pattern, and only
    // bit-pattern functions (shift-mask bands, xor, bit_count) ever
    // read the fingerprint.
    val fingerprint = (0 until 64).map { b =>
      val cb = shiftright(col(s"p${b / 4}"), 16 * (b % 4))
        .bitwiseAND(lit(65535L))
      when(cb * 2 > col("n_sh"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    worded
      .groupBy("doc_id")
      .agg(packed.head, (packed.tail :+ count(lit(1)).as("n_sh")): _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  // Q38c `dedup_simhash` — SimHash near-dup pairs: fingerprint every doc,
  // split the 64 bits into 4×16-bit bands, join on any equal band
  // (pigeonhole: Hamming ≤ 3 ⇒ at least one band identical — banding is
  // LOSSLESS for this threshold, so the DuckDB oracle replays it
  // verbatim), then exact Hamming filter ≤ 3 via bit_count(xor).
  // Candidate join is banded — never all-pairs. Deterministic (md5 is
  // seedless and stable).
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // PERSISTED (r18, VERDICT r17 item 4): the fingerprint frame feeds
    // BOTH sides of the banded self-join below, and without the persist
    // each side re-ran the whole tokenize+shingle+md5+agg pipeline —
    // the key's declared dominant cost, paid twice. The cached frame is
    // one (doc_id, long) row per document — negligible storage at any
    // corpus scale — and the shingle scan now runs exactly once.
    val fp = Caches.register(simhash(Tables.fannedDocuments(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val banded = fp.select(
      col("doc_id"), col("simhash"),
      posexplode(array(
        expr("(simhash >> 0)  & 65535"),
        expr("(simhash >> 16) & 65535"),
        expr("(simhash >> 32) & 65535"),
        expr("(simhash >> 48) & 65535"))).as(Seq("band", "bv")))
    val a = banded.select(col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"), col("band"), col("bv"))
    val b = banded.select(col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  // `dedup_incremental` — BATCH-vs-CORPUS dedup, the shape production
  // actually runs: a new crawl batch (here doc_id % 10 == 0, ~10%)
  // dedups against the already-deduped corpus (the rest), NEVER
  // corpus×corpus — at 100 TB you re-dedup the daily terabyte, not the
  // standing corpus. Per batch doc: an exact flag (normalized-sha2
  // semi-join against the corpus hash set), a near flag (∃ corpus doc
  // with 5-gram shingle Jaccard ≥ 0.8 via the cross-set inverted
  // index — same exact-verify contract as dedup_ngram, so the same
  // SQL oracle shape certifies it), and kept = neither.
  //
  // Scale notes: the corpus side of both joins is the write-once
  // artifact a standing pipeline maintains anyway (content-hash index,
  // shingle posting index — bucketed on the hash so the daily probe
  // co-locates); per-day cost is then proportional to the BATCH, and
  // the corpus index grows only by appending the kept docs' postings.
  // When exact-verify posting volume itself is too hot, the near flag
  // swaps to banded-MinHash candidates (dedup_near) with identical
  // output on a gapped corpus. Flags are computed independently (an
  // exact dup is trivially also a near dup) so each column replays as
  // its own EXISTS.
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    incrementalFlags(Tables.fannedDocuments(spark, dir))

  /** The flag pipeline over any (doc_id, text) frame — factored out so
    * DedupSpec can plant synthetic cross-set and batch-internal
    * duplicates (the driver fixtures' 8 exact-dup pairs all land on
    * the same side of the %10 split, so the exact flag is pinned by
    * the spec, not the oracle). */
  private[operators] def incrementalFlags(docs: DataFrame): DataFrame = {
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val batch  = docs.filter(isBatch)
    val corpus = docs.filter(!isBatch)
    def h(d: DataFrame) =
      d.select(col("doc_id"), exactHash(col("text")).as("h"))
    val exact = h(batch)
      .join(h(corpus).select("h").distinct(), Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("exact_dup", lit(1))
    // ONE shingle pass, filtered per side: shingles are per-doc, so
    // filtering the shared cached frame yields exactly
    // hashedShingles(batch)/(corpus) while reusing the SAME cache
    // entry dedup_near/dedup_ngram already built — two separate
    // hashedShingles(filtered) calls would re-tokenize the corpus and
    // pin a second full copy of the shingle working set.
    val sh = hashedShingles(docs)
    val bs = sh.filter(isBatch)
    val cs = sh.filter(!isBatch)
    val bcnt = bs.groupBy("doc_id").agg(count(lit(1)).as("na"))
    val ccnt = cs.groupBy("doc_id").agg(count(lit(1)).as("nb"))
    val inter = bs.select(col("doc_id").as("doc_a"), col("h"))
      .join(cs.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    val j = col("c").cast("double") /
      (col("na") + col("nb") - col("c")).cast("double")
    val near = inter
      .join(bcnt.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .join(ccnt.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
      .filter(j >= 0.8)
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("near_dup", lit(1))
    batch.select("doc_id")
      .join(exact, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(0)).as("exact_dup"),
        coalesce(col("near_dup"), lit(0)).as("near_dup"),
        (coalesce(col("exact_dup"), lit(0)) === 0 &&
          coalesce(col("near_dup"), lit(0)) === 0).cast("int").as("kept"))
      .orderBy("doc_id")
  }
}
