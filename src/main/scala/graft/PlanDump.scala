package graft

/** Regenerates `PLANS.md`: the executed physical plans of the
  * heaviest / most design-relevant queries, checked in so the scale
  * claims (pushdown, broadcast, partial aggregation, bucket caps,
  * bounded top-k, no single-partition exchanges) are inspectable
  * without running anything.
  *
  * Usage: `sbt "runMain graft.PlanDump"` (writes PLANS.md in cwd).
  */
object PlanDump {
  private val Queries = Seq(
    "q2_filter_pushdown" -> "filter + projection reach the parquet scan",
    "q3_join_broadcast" -> "dimension join broadcasts, fact side never shuffles",
    "q1_agg" -> "map-side partial aggregation before the exchange",
    "dedup_minhash_lsh" -> "slim (id,band,key) bucket shuffle + size cap + verify joins",
    "dedup_embed_lsh" -> "capped hyperplane buckets, vectors rejoin per candidate",
    "txt_curation" -> "capped LSH near-dup composed with codegen'd lang/quality",
    "ann_bruteforce_topk" -> "broadcast queries, single corpus pass, bounded-heap top-k",
    "ann_ivf_topk" -> "narrow literal-matrix assignment, broadcast probes",
    "ann_pq_topk" -> "narrow codebook-literal encode + ADC, corpus never shuffles",
    "txt_repetition" -> "two keyed partial aggregations + broadcast of the tiny result",
    "txt_packing" -> "distributed two-pass prefix sum (no global window)",
    "txt_split" -> "pure narrow map: portable-hash split assignment",
    "txt_chunk_dedup" -> "agg+join chunk dedup — no window over the (skew-prone) chunk key",
    "sketch_hll_distinct" -> "map-side register reduction; only ≤m register rows cross the wire",
    "sketch_cms_topk" -> "constant-size cell table broadcast to the item probes",
    "sketch_bloom_decontaminate" -> "literal-array bloom probe in the scan; no corpus-vs-benchmark shuffle for the flag",
    "ann_hamming_topk" -> "48-bit signatures, broadcast queries, bit_count ranking, bounded-heap top-k",
    "dedup_semantic" -> "narrow literal-matrix cell assignment, slim within-cell self-join, keep-lowest-id anti-join",
    "sketch_hll_union" -> "per-group register tables merged by pointwise max — both levels partial-aggregated",
    "q40_salted_join" -> "deterministic salt splits hot keys across reducers; result identical to the plain join",
    "txt_substring_dedup" -> "gram occurrences shuffle as 8-byte hashes; islands window keyed by DOC, not the gram hash",
    "txt_substring_strip" -> "window-free removal: removed indices collapse to one array row per doc, text rebuilt scan-side",
    "txt_lm_score" -> "bigram/unigram count tables as slim keyed joins; vocab scalar broadcast",
    "samp_mixture" -> "derived keep-rates become a literal CASE filter — narrow scan, no join or window on the data path",
    "emb_label_outliers" -> "integer-quantized centroid sums broadcast back; bounded-heap bottom-k; no vector self-join",
    "txt_classifier" -> "weight map broadcast as one row; hashed features scored inside the row — no Generate, no data-side shuffle",
    "txt_keywords" -> "tf/df map-side combined; corpus size broadcast; the only window keys by DOC, bounded per doc",
    "sketch_quantile" -> "one (group,bin) count shuffle of <= numBuckets rows per group; window over the bin table, never raw values",
    "emb_knn_graph" -> "one RDD kernel job over a single projection: vectors ride the n*nTables bucket rows through one shuffle, each capped bucket scores its pairs locally, both directed edges feed a map-side-combined bounded per-node top-k; no join, no window",
    "dedup_snm_multipass" -> "two rank-and-window passes (prefix + reversed-suffix keys, eager zipWithIndex ranks), slim pair union + map-side-combined distinct, one shared exact-Jaccard verify",
    "dedup_hamming_pairs" -> "8-byte signatures banded into slim (id,band,key) rows; capped buckets; bit_count verify",
    "emb_int8_topk" -> "int8-quantized corpus scans once, never shuffles; integer dot products; broadcast queries",
    "samp_cluster_balanced" -> "narrow literal-matrix cell assignment; per-cell bounded heap — no window sorts a cell",
    "samp_key_cap" -> "per-key bounded heap: a hot domain costs the same heap as a small one",
    "txt_fuzzy_decontaminate" -> "cross-corpus band join (corpus buckets vs benchmark buckets); capped; exact-Jaccard verify",
    "meta_profile" -> "one aggregation pass; multi-distinct via Expand; collected row is schema-sized",
    "txt_entropy" -> "tokens shuffle as 8-byte hashes; (doc,hash) counts map-side combined; no window",
    "emb_linear_score" -> "plan-literal integer model; pure scan-side zip_with/aggregate — zero joins, zero data shuffles",
    "samp_dsir" -> "bucket tables config-sized; model one broadcast map row; bounded TakeOrderedAndProject selection",
    "sketch_domain_overlap" -> "k-bounded partial sketches per group; broadcast groups-by-groups pair join; no window",
    "txt_ccnet_buckets" -> "per-language thresholds from bin-bounded histogram windows, broadcast back to the doc scan",
    "evt_funnel" -> "chained slim per-user min-aggregations — no window over a user's event history",
    "evt_retention" -> "per-user first-day agg + same-key rejoin; distinct-by-aggregation; cohort sizes broadcast",
    "dedup_edit_distance" -> "LSH candidates with (id,len,band,key) rows; length pre-filter before text joins; bounded levenshtein",
    "emb_pagerank" -> "per-iteration node-keyed equi-join + map-side-combined inflow sums; integer ranks, no window",
    "dedup_containment" -> "same capped LSH candidate frame as minhash; |A∩B|/min verify on the candidate pairs only",
    "txt_novelty" -> "grams shuffle as 8-byte portable hashes; two aggregations, never rejoined on the gram key",
    "evt_attribution" -> "one equi-join + min/max-struct hash agg — no window over a user's touch history",
    "txt_canonical" -> "capped LSH → pointer-jumping CC on the graph kernel → per-cluster row_number keyed by bounded cluster ids",
    "dedup_clusters_lsh" -> "pointer-jumping CC on the graph kernel over capped LSH edges: one job per round, its changed-node count; result is a checkpointed scan",
    "txt_domain_quality" -> "checkpointed result (one text scan via persisted slim frame); shape audited at the domainQualityImpl seam",
    "evt_cooccurrence" -> "checkpointed result (one event scan via persisted distinct frame); shape audited at the cooccurrenceImpl seam",
    "evt_paths" -> "one user-keyed lead window; share rolls up the tiny path table — events scanned exactly once",
    "evt_rfm" -> "checkpointed result (one event scan via persisted per-user frame); shape audited at the rfmImpl seam",
    "dedup_triangles" -> "degree-ordered node iterator on the graph kernel over the capped LSH edge set — O(m^1.5), one job; round lineage audited in PlanAuditSpec",
    "dedup_cluster_quality" -> "one graph kernel reads the pair set once for CC + triangles; node-sized stats join, cluster-keyed rollup, integer-exact verdicts",
    "evt_active_users" -> "checkpointed result (one event scan via persisted distinct (user,day) frame); shape audited at the activeUsersImpl seam",
    "evt_conversion_lag" -> "type filters pushed to both scans; one user-keyed equi-join; window only over the bounded hour-bucket table",
    "emb_silhouette" -> "plan-literal centroids; one narrow corpus pass, vectors never shuffle; cell-sized rollup + broadcast grid join",
    "txt_zipf" -> "checkpointed result (tokens shuffle as 8-byte hashes, bounded-heap top-N); shape audited at the zipfStatsImpl seam",
    "emb_diversity" -> "O(n²) pairwise semantic in one O(n·d) scan via the moment identity — single global agg, corpus never shuffles",
    "evt_gini" -> "per-user counts map-side combined; global ranks via range-sort + zipWithIndex, never a single-partition window",
    "evt_seasonality" -> "one 168-key map-side agg; broadcast grid + scalar cross join; chi terms vs uniform",
    "evt_bots" -> "two stacked map-side aggs ((user,minute) then user); integer threshold compares; tag-don't-drop",
    "emb_recall_eval" -> "both ANN arms broadcast queries; overlap join broadcasts the k·|Q|-row approx arm; count map-side combined",
    "txt_readability" -> "pure scan-side regex counters + fixed IEEE arithmetic — no keyed shuffle, no join, no window",
    "txt_code_detect" -> "pure scan-side line/char signals, integer-exact thresholds — no keyed shuffle, no join, no window",
    "evt_lifecycle" -> "checkpointed result (one user-keyed window over persisted distinct active days); shape audited at the lifecycleImpl seam",
    "emb_dims_health" -> "one global agg (4·dim map-side moments) + inline unpivot — corpus never shuffles, no join",
    "txt_boilerplate" -> "lines shuffle as 8-byte hashes; distinct-before-count doc frequency; indexed array reassembly, no second text shuffle",
    "evt_cohort_ltv" -> "checkpointed result (persisted per-user first day feeds the age join and cohort sizes); shape audited at the cohortLtvImpl seam",
    "evt_trend" -> "two stacked map-side aggs over (type, day) counts; exact decimal regression sums, no window, no join",
    "evt_regularity" -> "one user-keyed lag window over slim (user, ts) rows; exact gap moments map-side combined",
    "meta_integrity" -> "distinct parent keys → LeftAnti orphan counts per relation; scalar one-row cross joins broadcast")

  def main(args: Array[String]): Unit = {
    val spark = graft.tools.LocalSession(cpus = 4)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of the load-bearing queries\n\n")
    sb.append(s"Generated by `sbt \"runMain graft.PlanDump\"` against `$dir`\n")
    sb.append("(AQE on; partition counts reflect the dump session, not the bench).\n")
    Queries.foreach { case (name, why) =>
      val full = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      // iterative plans (pagerank, label prop) nest every round's
      // subtree — cap each dump so PLANS.md stays reviewable
      val plan =
        if (full.length <= 64 * 1024) full
        else full.take(64 * 1024) +
          s"\n… [truncated: ${full.length} chars total — iterative plan nests per-round subtrees]\n"
      sb.append(s"\n## $name\n\n_${why}_\n\n```\n$plan```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote PLANS.md (${Queries.size} plans)")
    spark.stop()
  }
}
