package graft

/** Codegen-coverage audit (VERDICT r8 item 6): every declared key's
  * physical plan is swept for stages that fell out of whole-stage
  * codegen — interpreted `Project`/`Filter` nodes, lambda-bearing HOFs
  * (`lambdafunction` in the plan: Spark HOFs are `CodegenFallback`, and
  * `CollapseCodegenStages` refuses any stage containing one — the
  * dedup_spans lesson, SCALING.md), and typed object boundaries
  * (MapPartitions / [De]SerializeFromObject).
  *
  * Keys on the exemption list are there for a REASON stated inline —
  * either the fallback is the engine's own design (no codegen JSON
  * path exists in Spark), the lambda sits on a broadcast-sized side,
  * or the key's declared contract is a typed escape hatch. The audit
  * fails in BOTH directions: a key that gains an interpreted stage
  * without an exemption (a silent 2-10× per-row regression at 100 TB),
  * and an exemption that is no longer needed (the list must stay
  * tight, or it stops meaning anything).
  */
class CodegenAuditSpec extends SparkSpec {

  /** Real multi-batch streaming runs — no batch plan to audit; their
    * semantics are covered by StreamingSpec. */
  private val streamingFixed = Set("stream_late_data", "stream_dedup",
    "stream_join", "stream_join_outer", "stream_static_join",
    "stream_sink_files", "stream_transform_state", "stream_update_mode",
    "stream_state_ttl", "stream_foreachbatch")

  /** Approved codegen-exempt keys. Kinds of fallback observed at audit
    * time are part of the pin: interp = un-codegen'd Project/Filter,
    * lambda = HOF lambdafunction, obj = typed object boundary. */
  private val exempt: Map[String, String] = Map(
    "array_funcs" -> ("HOF coverage key: transform/aggregate/element_at ARE " +
      "the declared operators; Spark HOFs are CodegenFallback by design"),
    "array_funcs2" -> "HOF coverage key: array_sort/array_union over transform",
    "json_funcs" -> ("get_json_object/from_json are CodegenFallback in Spark " +
      "— no codegen JSON path exists to switch to"),
    "decontam_overlap" -> ("shingle construction is transform() over per-doc " +
      "token arrays — bounded per doc, decade-measured (SCALING.md)"),
    "dedup_near" -> ("MinHash shingle/signature HOFs over the shared cached " +
      "shingle frame; runtime tracks pair count sub-linearly (SCALING.md " +
      "\"LSH blowup stress\")"),
    "dedup_ngram" -> "shingle-construction HOF (shares the cached shingle frame)",
    "dedup_containment" -> ("shingle-construction HOF (same shared cached " +
      "shingle frame as dedup_ngram; the containment tail itself is codegen)"),
    "dedup_incremental" -> ("shingle-construction HOF on both sides of the " +
      "cross-set probe (same machinery as dedup_ngram)"),
    "dedup_simhash" -> ("packed 16-lane bit-count fingerprint agg (r17) " +
      "over HOF-built shingle hashes"),
    "text_fingerprint" -> "rolling-hash fingerprint transform() over per-doc shingles",
    "text_repetition" -> "n-gram repetition-ratio HOFs over the shared tokenization",
    "eval_bleu" -> ("bigram construction is the text_repetition transform() " +
      "over per-pair token arrays — bounded per doc; counts, the clip join " +
      "and the per-lang pool all stay codegen"),
    "eval_rouge" -> ("same shared gram machinery as eval_bleu " +
      "(genPairPooled) — the one transform() is the bounded bigram build"),
    "ts_forecast_holt" -> ("the Holt 2-state fold IS an aggregate() lambda " +
      "by design — a recursion needs sequential evaluation, and the " +
      "interpreted fold runs once per series over the bounded per-entity " +
      "array (one (user_id) shuffle; everything else map-side)"),
    "ts_holt_winters" -> ("the 3-state seasonal fold — same aggregate() " +
      "recursion class as ts_forecast_holt, per-series bounded"),
    "text_quality" -> ("stopword-ratio exists() HOF; the regex ratios ride the " +
      "same projection, so the whole stage is interpreted — cost measured " +
      "0.6 s/sf0.1, linear per doc"),
    "embed_quantize" -> ("element-wise int8 quantize/dequantize transform(); " +
      "map-only single scan, integer-exact oracle"),
    "dq_embedding" -> ("the per-vector profile IS the HOF pass — " +
      "exists(isnan)/forall(zero)/aggregate(norm-square) over the bounded " +
      "64-element array, one map-side scan + a 10-key rollup; no codegen " +
      "alternative short of a 64x posexplode row blowup, which would " +
      "trade an interpreted per-row fold for 64x the shuffle-free volume"),
    "sim_ann" -> ("lambda only in the broadcast probe-side centroid ranking " +
      "(NProbes x k rows); hot candidate scoring is the native codegen'd " +
      "CosineSim expression"),
    "sim_pq" -> ("transform() only in the map-only int8 code-table build " +
      "(the embed_quantize machinery); the corpus-sized shortlist scoring " +
      "and the 1000-row rerank are both the native codegen'd CosineSim"),
    "sim_ivfpq" -> ("the sim_pq code-table transform() plus sim_ann's " +
      "broadcast probe-side centroid-ranking lambda (NProbes x k rows) — " +
      "the composed key inherits both approved exemptions; every " +
      "corpus-sized score is the native codegen'd CosineSim"),
    "multimodal_decode" -> ("typed mapPartitions batch decode — the declared " +
      "escape hatch for opaque binary payloads"),
    "seq_pack_greedy" -> ("typed mapGroups first-fit packer — declared escape " +
      "hatch for per-shard imperative bin packing"),
    "token_bpe" -> ("typed mapPartitions greedy merge fold over broadcast " +
      "ranks — declared escape hatch (SURVEY Q134); map-only, " +
      "per-partition word cache, measured decade"),
    "sql_recursive_cte" -> ("the engine's own WITH RECURSIVE fixpoint " +
      "machinery plans interpreted per-step projections (Spark 4 " +
      "recursion does not codegen); working set is |seeds| x ~15 steps, " +
      "measured near-flat decade (SCALING.md)"),
    "map_hof" -> ("transform_values/map_filter/map_zip_with lambdas ARE " +
      "the declared operators (the map-HOF coverage key, the array_funcs " +
      "argument); state is one <=5-entry map per user"))

  test("every key's plan stays in whole-stage codegen, or carries an approved exemption") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val findings =
      try {
        for ((k, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
             if !streamingFixed(k)) yield {
          val plan = fn(spark, sf).queryExecution.executedPlan.toString
          val interp = plan.linesIterator
            .map(_.dropWhile(c => " +-:".contains(c)))
            // bare prefixes: codegen'd nodes render as "*(n) Filter ..."
            // and keep their '*' through the dropWhile, so only
            // interpreted nodes match. "Filter " (not "Filter (") —
            // a single-predicate FilterExec prints without parentheses
            // ("Filter isnotnull(x#1)") and must not escape the audit.
            .filter(l => l.startsWith("Project [") || l.startsWith("Filter "))
            .toSeq
          val lambdas = plan.linesIterator.count(_.contains("lambdafunction"))
          val objNodes = plan.linesIterator.count(l =>
            l.contains("MapPartitions") || l.contains("DeserializeToObject") ||
              l.contains("SerializeFromObject"))
          (k, interp, lambdas, objNodes)
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val flagged = findings.collect {
      case (k, interp, lambdas, objNodes)
          if interp.nonEmpty || lambdas > 0 || objNodes > 0 =>
        k -> (s"interp=${interp.size} lambda=$lambdas obj=$objNodes " +
          interp.headOption.map(_.take(120)).getOrElse(""))
    }.toMap
    val unapproved = flagged.keySet -- exempt.keySet
    assert(unapproved.isEmpty,
      s"keys fell out of whole-stage codegen WITHOUT an approved exemption " +
        s"(interpreted per-row eval — a silent scale regression):\n" +
        unapproved.toSeq.sorted.map(k => s"  $k: ${flagged(k)}").mkString("\n"))
    val stale = exempt.keySet -- flagged.keySet
    assert(stale.isEmpty,
      s"exemptions no longer needed — remove them so the list stays " +
        s"load-bearing: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
