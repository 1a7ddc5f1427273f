package graft.tools

import java.nio.file.{Files, Paths}

import graft.Catalog

/** Writes PLANS.md: `explain("formatted")` snapshots of the
  * scale-critical queries, so plan shape is reviewable (and diffable
  * round over round) without running Spark. */
object DumpPlans {
  val Marker = "<!-- MANUAL APPENDIX — everything below survives DumpPlans regeneration -->"

  val Key: Seq[(String, String)] = Seq(
    "ref_filter_high" -> "pushed filter + pruned scan",
    "ref_categorize_lookup" -> "broadcast nested-loop interval join",
    "ref_categorize_lookup_fast" -> "zero-exchange when-chain lookup",
    "ref_latest_by_key" -> "single-exchange partial+final max_by",
    "q1_pricing_summary" -> "pushed shipdate filter, 7-column scan, partial+final hash agg",
    "q_join_facts" -> "fact-fact shuffle join (AQE-managed)",
    "q_join_dims" -> "broadcast dimension chain",
    "q_topk_orders" -> "TakeOrderedAndProject top-k",
    "dedup_minhash_lsh" -> "explode -> codegen hash -> k-min agg -> band join -> candidate verify",
    "dedup_embedding_lsh" -> "multi-table hyperplane buckets -> bucket equi-join -> exact verify (no nested loop)",
    "dedup_ngram_jaccard" -> "document-frequency-capped inverted-index self-join",
    "text_fingerprint" -> "exploded shingle/token hash aggregation (codegen md5)",
    "q_asof_join" -> "as-of join via union+window: one key shuffle, zero join nodes",
    "q_interval_selfjoin" -> "time-range join: key equi-join + range as join filter",
    "text_tfidf_topk" -> "exploded tf agg -> df join -> broadcast-scalar N -> top-k window",
    "sample_stratified_mix" -> "deterministic md5-bucket sampling, codegen when-chain rates",
    "sim_topk_brute" -> "broadcast query side + codegen array_dot + per-query top-k",
    "q_salted_join" -> "salted hot-key join",
    "q_source_sketch_sim" -> "minhash_sketch UDAF partial+final",
    "sim_topk_ivf" -> "IVF (trained): narrow-map integer-L2 cell assignment (centroid literal in-expression) -> probe equi-join -> exact verify",
    "dedup_span_rewrite" -> "span strip: ONE h-shuffle (count+rank same partition) -> linear removal explode -> doc-keyed collect -> narrow HOF rebuild",
    "sim_topk_lsh" -> "multi-table LSH: slim (vec_id,tbl,bucket) equi-join candidates, dedup, exact verify by id re-join",
    "sim_topk_pq" -> "PQ-ADC: single pq_encode node per side (codes/LUT), integer ADC above broadcast join, shortlist re-rank",
    "sim_topk_ivfpq" -> "IVF-PQ: cell-partitioned code index equi-joined to broadcast (query,cell,LUT) probes — no corpus cross join",
    "sim_index_incremental" -> "incremental index: batch-only assignment + pq_encode against frozen old-corpus centroids/codebook",
    "q_upsert_merge" -> "latest-wins merge via partial+final max_by(struct, version)",
    "pipeline_curriculum" -> "histogram deciles: distinct-score agg + tiny window + broadcast join back",
    "ref_funnel" -> "stage-anchored min-aggs: 3 user-keyed shuffles, no per-user sort",
    "q_asof_forward" -> "forward as-of via union+window (reversed frame), zero join nodes",
    "pipeline_rag_prep" -> "chunk -> embed -> quantize -> bucket: one narrow pass, zero exchanges",
    "sim_kmeans" -> "k-means output stage: narrow HOF assignment (centroids = ONE array literal) -> hash agg -> broadcast k-row centroid summary",
    "text_lm_score" -> "bigram LM: count aggs at distinct-bigram scale, ONE token-scale (w1,w2) equi-join, left-join restore",
    "text_quality_classifier" -> "linear model serving: pure narrow codegen'd map, zero exchanges",
    "graph_triangles" -> "degree-oriented triangle join: wedge + close equi-joins over the cached oriented edges (O(m^1.5) bound)",
    "text_phrase_search" -> "phrase search: broadcast phrase dim + posting-list-pruned (doc,pos+i,term) equi-joins over ONE cached tokenization",
    "ref_agp_profile" -> "AGP bands: five percentile_disc in ONE Graft kernel buffer, one hour-keyed partial+final object-hash agg",
    "ref_anomaly_mad" -> "MAD modified z: two user-keyed median aggs on Graft's percentile_disc kernel + two broadcast joins back, no full-feed window sort",
    "ref_time_in_range" -> "duration-weighted clinical bands: ONE user exchange shared by the window sort and the roll-up",
    "ref_hypo_episodes" -> "gaps-and-islands condition runs: island id from the window's running sum, roll-up on the same partitioning",
    "q_market_basket" -> "association rules: distinct-first order-keyed pair self-join, broadcast item supports, top-k cap",
    "pipeline_train_val_split" -> "cluster-grain split: narrow bucket map over the doc-keyed cluster join + slim audit equi-joins",
    "ref_modd" -> "MODD: slot-representative window -> consecutive-day lag pairing -> integer micro-unit mean (day-grain rows after the first pass)",
    "ref_mage" -> "MAGE: three lag/lead windows share ONE user exchange; single SD branch via left-join + conditional agg",
    "ref_winsorized_mean" -> "winsorize: user-keyed percentile pair in one kernel buffer + co-keyed join back + scalar clip, micro-unit mean",
    "ref_seasonal_residual" -> "seasonal residual: (user, hour) hash-agg baseline joined back on the same key — no feed-wide window",
    "q_asof_tolerance" -> "tolerance as-of: the union+window single-exchange zero-join plan + scalar integer-second freshness predicate",
    "q_snapshot_diff" -> "snapshot diff: full-outer equi-join over slim (id, digest) rows, scalar CASE classification",
    "dedup_prefix_filter" -> "prefix-filter exact Jaccard: rarest-first prefix inverted index -> candidate equi-join -> pair-keyed exact verify",
    "graph_bfs_layers" -> "BFS: frontier equi-join per round over repartition-once edges; layers localCheckpoint'ed (no exponential lineage)",
    "graph_negative_samples" -> "negative sampling: bounded query x corpus candidates, hash order, anti-join against edges",
    "sim_quantile_transform" -> "quantile transform: per-dim 9-boundary kernel agg (tiny, one buffer) broadcast back onto a narrow bucket map",
    "text_token_gini" -> "token Gini: two map-side-combinable hash-aggs, integer micro-unit output",
    "stream_cdc_classify" -> "CDC changelog classify: ONE key-partitioned lag window",
    "q_profile_table" -> "one-scan column profile: multi-distinct via Expand, stack unpivot",
    "sketch_hll_sliding" -> "sliding distinct: daily HLL partials reused across trailing windows via a day-grid join over sketch rows",
    "q_incremental_rollup" -> "IVM merge: base+delta partial aggregates combined at user grain by the count/sum/min/max merge algebra",
    "pipeline_entity_resolution" -> "entity resolution: blocked levenshtein edges -> shared CC -> canonical min-label join",
    "mm_image_patches" -> "ViT patches: narrow flatMap over real BMP bytes, one slim row per patch")

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession(4)
    val byName = Catalog.all.map(q => q.name -> q).toMap
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the scale-critical queries\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` at $d. Regenerate after any\n")
    sb.append("operator change; plan-shape invariants are enforced by PlanSpec.\n")
    for ((name, why) <- Key) {
      val df = byName(name).run(spark, d)
      sb.append(s"\n## $name — $why\n\n```\n")
      // Elide giant embedded literals (e.g. the PQ codebook matrix) so
      // the snapshot stays readable; plan SHAPE is what matters here.
      sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).trim
        .linesIterator
        .map(l => if (l.length > 400) l.take(400) + s" …(+${l.length - 400} chars)" else l)
        .mkString("\n"))
      sb.append("\n```\n")
    }
    // Hand-written sections (scale-drive records, measured-alternative
    // notes) live below the marker and survive regeneration.
    val out = Paths.get("PLANS.md")
    val appendix =
      if (Files.exists(out)) {
        val prev = Files.readString(out)
        val i = prev.indexOf(Marker)
        if (i >= 0) prev.substring(i) else ""
      } else ""
    Files.writeString(out, sb.toString + appendix)
    println(s"PLANS.md written (${Key.size} plans" +
      (if (appendix.nonEmpty) " + manual appendix)" else ")"))
    spark.stop()
  }
}
