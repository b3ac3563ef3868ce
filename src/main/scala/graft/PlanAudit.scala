package graft

import org.apache.spark.sql.execution.ExplainMode

import java.nio.file.{Files, Paths}

/** Dumps the physical plan of each headline query to PLANS.md and runs a
  * few mechanical assertions on plan shape (broadcasts where intended,
  * pushed filters, top-k via TakeOrderedAndProject, no cartesian products
  * outside the deliberate broadcast-nested-loop query fan-outs).
  *
  * Usage: runMain graft.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession(logLevel = "ERROR")

    // token conventions: "!X" = plan must NOT contain X; "* Op" (the
    // formatted-explain codegen star) = Op must sit INSIDE a
    // whole-stage-codegen span — the custom Catalyst expressions are only
    // worth their keep if they stay fused into generated code, so the
    // hot projection queries assert the star, not just the operator
    val audited = Seq(
      "core_pipeline" -> Seq("BroadcastHashJoin", "PushedFilters"),
      "tpch_pricing_summary" -> Seq("PushedFilters", "HashAggregate"),
      "tpch_shipping_priority" -> Seq("BroadcastHashJoin", "TakeOrderedAndProject"),
      "tpch_local_supplier" -> Seq("BroadcastHashJoin"),
      "tpch_top_orders" -> Seq("TakeOrderedAndProject"),
      "topk_oldest" -> Seq("TakeOrderedAndProject"),
      "dedup_exact" -> Seq("HashAggregate"),
      "dedup_minhash_lsh" -> Seq("BroadcastHashJoin"),
      "topk_agg" -> Seq("HashAggregate"),
      "watermark_min" -> Seq("HashAggregate"),
      "events_asof_click" -> Seq("Window"),
      // the custom physical operator, with EnsureRequirements-inserted sorts
      "events_asof_exec" -> Seq("AsofJoin", "Sort"),
      "text_tfidf" -> Seq("BroadcastHashJoin", "HashAggregate"),
      "events_distinct_users" -> Seq("HashAggregate"),
      // semi/anti joins must stay semi/anti (no inner-join+distinct rewrite)
      "tpch_order_priority" -> Seq("LeftSemi", "HashAggregate"),
      "tpch_cust_no_orders" -> Seq("LeftAnti", "HashAggregate"),
      "events_moving_avg" -> Seq("Window"),
      "events_pivot_counts" -> Seq("HashAggregate"),
      // cube = one Expand + one partial+final aggregation, not 4 passes
      "events_cube" -> Seq("Expand", "HashAggregate"),
      "emb_centroids" -> Seq("HashAggregate"),
      // banded interval join must be an equi-join (hash/merge), never a
      // nested-loop over the raw range predicate
      "events_range_join" -> Seq("HashAggregate"),
      // the NAIVE abs() form: Generate (bin explode) only appears if the
      // injected BandedRangeJoinRule rewrote the nested-loop theta join
      "events_range_join_auto" -> Seq("Generate", "HashAggregate"),
      "events_range_join_ts" -> Seq("Generate", "HashAggregate"),
      // the fractional floor(x/W) band path of the same rule
      "events_range_join_double" -> Seq("Generate", "HashAggregate"),
      // IVF assignment must be a projection (NearestCentroid) — the probe
      // join stays an explicit broadcast; no corpus-side shuffle before it
      "topk_ivf" -> Seq("BroadcastHashJoin", "nearest_centroid"),
      // the chained survivors→quality→pack pipeline: anti join from dedup,
      // histogram-bounded admission window from budgetPack
      "pipeline_dedup_pack" -> Seq("LeftAnti", "Window"),
      "emb_cohesion" -> Seq("BroadcastHashJoin", "HashAggregate"),
      // exact Lloyd rounds: the n×k candidate expansion must broadcast
      // the k-row centroid table, never shuffle the corpus cartesian
      "emb_kmeans" -> Seq("BroadcastNestedLoopJoin", "HashAggregate"),
      "dedup_lsh_pairs" -> Seq("HashAggregate"),
      "docs_budget_pack" -> Seq("Window"),
      // exact-k sample must be the bounded-heap aggregation, never a
      // per-stratum Window sort
      "docs_sample_exact_k" -> Seq("ObjectHashAggregate", "Generate"),
      // sequence packing = two-pass distributed prefix scan: range
      // exchange + partition-local MapPartitions, never a per-lang Window
      "docs_seq_pack" -> Seq("MapPartitions"),
      // gopher rules are now a PURE PROJECTION over the one-pass
      // token_stats expression — no aggregate, no shuffle at all
      "text_gopher_rules" -> Seq("token_stats", "* Project"),
      // weighted sample must be the bounded-heap aggregation, never a
      // per-stratum Window sort (same contract as docs_sample_exact_k)
      "docs_sample_weighted" -> Seq("ObjectHashAggregate", "Generate"),
      "text_heavy_hitters" -> Seq("ObjectHashAggregate", "Generate"),
      "text_unigram_logprob" -> Seq("HashAggregate"),
      // funnel stages are user-keyed aggregates/joins — no cartesian stage
      "events_funnel" -> Seq("HashAggregate"),
      // cohort overlap: bounded per-user type set (ObjectHashAggregate for
      // collect_set) + map-side pair fan-out (Generate)
      "events_cohort_overlap" -> Seq("ObjectHashAggregate", "Generate"),
      "text_bigram_logprob" -> Seq("Generate", "HashAggregate"),
      // tier assignment is a stateless projection (cutoffs are literals)
      "docs_length_tiers" -> Seq("Project"),
      // whole profile = ONE aggregation job: Expand for the distincts;
      // string min/max buffers are immutable → SortAggregate, not Hash
      "docs_profile" -> Seq("Expand", "SortAggregate"),
      // paragraph dedup: chunk fan-out (Generate), then TWO hash
      // aggregations (first-occurrence by chunk hash, reassembly by doc)
      "dedup_paragraphs" -> Seq("Generate", "HashAggregate"),
      // SemDeDup: centroid table broadcast; pair join is an equi-join on
      // the cluster key (AQE-broadcast at fixture scale)
      "dedup_semantic" -> Seq("BroadcastHashJoin", "HashAggregate"),
      // Morton key is a stateless codegen'd projection — no shuffle
      "events_zorder" -> Seq("zorder_key", "* Project"),
      // same projection-only contract as the Morton key
      "events_hilbert" -> Seq("hilbert_key", "* Project", "!Exchange"),
      // CDC: one co-partitioned full-outer merge join over (key, hash) —
      // the wide value columns never cross the exchange in diff
      "snapshot_diff" -> Seq("SortMergeJoin", "FullOuter"),
      // scd2 adds only the map-side ≤2-row explode after the same join
      "snapshot_scd2" -> Seq("SortMergeJoin", "Generate"),
      // JL projection: literal ±1 matrix baked into the plan — projection
      // + explode only, no join or aggregate
      "emb_project" -> Seq("dvec_dot", "Generate"),
      // temperature mixing: per-source agg + 1-row broadcast total, no
      // unpartitioned window
      "docs_mix_temperature" -> Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      // leakage audit groups on the 16-byte fingerprint
      "docs_split_leakage" -> Seq("HashAggregate"),
      // LOCF gap-fill: map-side grid explode + the one-shuffle as-of window
      "events_resample_locf" -> Seq("Generate", "Window"),
      // bucketed lerp: the one user-keyed exchange feeds both aggregates
      // and the lead window; the grid explode is map-side, and there is
      // no samples∪grid union and no join
      "events_resample_linear" -> Seq("Generate", "Window", "!Join", "!Union"),
      "events_lerp_panel" -> Seq("Generate", "Window", "!Join", "!Union"),
      // bucketed LOCF panel: single-pass lead+explode — the bucket agg is
      // read ONCE (no grid-bounds second branch), no join, the grid
      // explode is map-side after the one keyed window
      "events_locf_panel" -> Seq("Generate", "Window", "!Join"),
      // trapezoid integral: one keyed window (lead pairing) + one
      // aggregate reusing its partitioning — no grid explode, no join
      "events_integral_hourly" -> Seq("Window", "HashAggregate", "!Join",
        "!Generate"),
      // time-in-state: one keyed lead window, then the (day, state)
      // rollup — partial-aggregated, no join, no explode
      "events_state_durations" -> Seq("Window", "HashAggregate", "!Join",
        "!Generate"),
      // raw-moment dispersion: ONE partial-aggregated pass, no window
      "events_stddev_hourly" -> Seq("HashAggregate", "!Join", "!Window"),
      // Bollinger: bucket rollup then the RANGE frame over bucket rows —
      // no join, no second scan of the samples
      "events_bollinger" -> Seq("HashAggregate", "Window", "!Join"),
      // excursions: the bounded band table must BROADCAST to the event
      // scan — never a shuffled join of the fact stream
      "events_band_excursions" -> Seq("BroadcastHashJoin"),
      // time-weighted mean: hold intervals split map-side (Generate)
      // after the one keyed lead window; no join
      "events_twa_hourly" -> Seq("Generate", "Window", "!Join"),
      // OLS trend: one user-keyed partial-aggregated shuffle
      "events_user_trend" -> Seq("HashAggregate"),
      // retention triangle: user-keyed aggs + join, tiny final agg
      "events_retention" -> Seq("HashAggregate"),
      // anomaly scan: stats joined back unhinted (AQE broadcasts here)
      "events_anomaly" -> Seq("HashAggregate", "BroadcastHashJoin"),
      // robust scaling: constant-cardinality quantile dim broadcast back
      "events_value_scaled" -> Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      // two-stage ANN: map-side JL projection (dvec_dot), broadcast query
      // set, bounded-heap shortlist AND re-rank (ObjectHashAggregate) —
      // NO Window anywhere: a per-query row_number would funnel the whole
      // corpus through one task's sort per query
      "topk_jl" -> Seq("dvec_dot", "ObjectHashAggregate", "!Window"),
      // incremental dedup: fingerprint joins only (16-byte keys)
      "dedup_incremental" -> Seq("HashAggregate"),
      // Bloom probe: the batch side is a pure projection over the
      // broadcast bitset literal — no join anywhere in the query plan (the
      // one-row bitset build runs as its own job at plan-build time; the
      // only Exchange is fanOut's fixture repartition)
      "dedup_bloom" -> Seq("xxhash64", "* Project", "!Join"),
      // substring spans: hash-key-only join + partial-aggregated groupBys;
      // never a window over the corpus
      "dedup_substring_spans" -> Seq("md5_shingle_hashes", "HashAggregate", "!Window"),
      // Gram fold: one typed-aggregator pass, vectors never join or sort
      "emb_gram" -> Seq("ObjectHashAggregate", "!Join", "!Window"),
      // HLL: partial-aggregated (bucket, rho) max — m rows past the scan
      "docs_hll_registers" -> Seq("HashAggregate", "!Window", "!Join"),
      // PQ: codegen codeword assignment; both ranking stages are heap
      // aggregations, never a per-query Window sort
      "topk_pq" -> Seq("nearest_centroid", "ObjectHashAggregate", "!Window"),
      // CMS: token stream → (row, cell) partial agg; estimate probes ride
      // a broadcast against the counter table and the top-N pick is TopN
      "text_cms_counts" -> Seq("HashAggregate", "!Window", "!Join"),
      "docs_hll_merge" -> Seq("Union", "HashAggregate", "!Join"),
      // aggregate answered from parquet footers: the pushed aggregate list
      // must reach the scan node
      "tpch_agg_pushdown" -> Seq("PushedAggregation"),
      "text_cms_estimate" -> Seq("TakeOrderedAndProject", "BroadcastHashJoin", "!Window"),
      // RAG chunking is a pure map-side explode
      "docs_chunk_rag" -> Seq("Generate", "Project"),
      // vocab build is top-V (never a global sort); encode broadcasts it
      "docs_tokenize_ids" -> Seq("TakeOrderedAndProject", "BroadcastHashJoin"),
      // rank<=k must engage Spark's group-limit pushdown: each map task
      // keeps k rows per group BEFORE the exchange, so the shuffle carries
      // O(groups×k) — guard against a regression to full-partition sort
      "events_type_rank" -> Seq("WindowGroupLimit"),
      "events_group_topn" -> Seq("WindowGroupLimit"),
      // domain cap: the rn<=cap filter must engage group-limit pushdown so
      // a mega-domain's rows are capped map-side, before the exchange
      "docs_domain_cap" -> Seq("WindowGroupLimit"),
      // training order: per-shard windows over a hash exchange — a global
      // row_number would show a single-partition exchange here
      "docs_global_shuffle" -> Seq("Window", "!SinglePartition"),
      "docs_shard_stats" -> Seq("HashAggregate", "!Window", "!Join"),
      // hashed-feature linear scoring is a PURE PROJECTION over the
      // one-pass lr_logit expression — no explode, no aggregation (the
      // only exchange is fanOut's fixture repartition, as in gopher_rules)
      "text_quality_lr" -> Seq("lr_logit", "* Project", "!HashAggregate", "!Generate"),
      // the chained cap→score→shard pipeline keeps each stage's shape:
      // map-side group limit, codegen scoring projection, sharded windows
      "pipeline_cap_score_shard" -> Seq("WindowGroupLimit", "lr_logit", "!SinglePartition"),
      // PassJoin candidates come from an equi-join on (length, slot,
      // segment) keys — never a nested-loop over doc pairs, even though
      // the oracle is the all-pairs brute force
      "dedup_fuzzy" -> Seq("!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // prefix-filtered Jaccard: candidates come from an equi-join on
      // (rarest-prefix token, lang) — never a nested loop, even though
      // the oracle is the all-pairs posting join
      "dedup_jaccard_prefix" -> Seq("!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // at sf0.01 the graph is driver-sized, so `pageRank`'s size gate
      // runs the rounds on the driver and returns their ranks as a toDF
      // LocalRelation: the whole plan is one LocalTableScan — no edge scan
      // and no join is re-planned per round. (Past the gate the rounds
      // re-join a localCheckpointed ExistingRDD edge table instead.)
      "dedup_pagerank" -> Seq("LocalTableScan", "!CartesianProduct"),
      // the EWMA recursion folds map-side via the aggregate HOF after one
      // user-keyed aggregate — no per-user Window sort in the plan
      "events_ewma" -> Seq("!Window"),
      // journey trigram top-k never globally sorts the path counts
      "events_top_paths" -> Seq("TakeOrderedAndProject"),
      // native session_window: the merge happens inside the aggregate —
      // no lag/cumsum Window operators remain in the plan
      "events_sessionize_native" -> Seq("session_window", "!Window"),
      // semantic decontamination: the bounded holdout side broadcasts and
      // the corpus streams through the NLJ map-side — the one query where
      // BroadcastNestedLoopJoin is the INTENDED shape (irreducible
      // train×eval screen); no shuffle exchange on the train side
      "emb_contamination" -> Seq("BroadcastNestedLoopJoin", "BroadcastExchange"),
      // bucketed media near-dup: candidates come from an equi-join on the
      // (band, bkey) sign-sketch keys — never the all-pairs nested loop of
      // its exact baseline — and the pinned repartition means the second
      // side of the self-join is a ReusedExchange (features + four stacked
      // sketches computed once, not once per side)
      "media_feature_neardup_lsh" ->
        Seq("sign_sketch", "ReusedExchange", "!BroadcastNestedLoopJoin"),
      "events_last_per_user" -> Seq("WindowGroupLimit"),
      // calendar bars off the persisted partials: scan → calendar-key
      // projection → ONE partial-aggregated groupBy — no per-series
      // window (the lag chain lives in the partials build, not the read)
      "events_energy_bars_monthly_persisted" ->
        Seq("HashAggregate", "!Window", "!Join"),
      // tier-stitched statistics: TWO pushed-filter partials scans
      // unioned and finished by a pure projection — no aggregation, no
      // window, no join, and never the raw events file
      "events_statistics_range_tiered" ->
        Seq("Union", "PushedFilters", "!Window", "!Join", "!HashAggregate",
          "!events.parquet"),
      // tier-stitched counter panel: the union feeds ONE cumulative
      // bucket-level window (sum_total across the seam), still no join
      // and no raw-events scan
      "events_counter_stats_tiered" ->
        Seq("Union", "Window", "!Join", "!events.parquet"),
      // energy across the seam: union → pushed range filters → ONE
      // partial-aggregated groupBy
      "events_energy_range_tiered" ->
        Seq("Union", "PushedFilters", "HashAggregate", "!Window", "!Join",
          "!events.parquet"),
      // kNN graph scale path: multi-probe assignment is the codegen'd
      // nearest_centroids projection; candidates meet in an EQUI-join on
      // the bucket key and rank through the bounded heap — never a
      // cartesian pair blow-up or a per-source Window sort
      "knn_graph" -> Seq("nearest_centroids", "ObjectHashAggregate",
        "!Window", "!CartesianProduct", "!BroadcastNestedLoopJoin"),
      // the whole rule set is ONE conditional-aggregation pass (the
      // Generate is the per-rule stack of the single metrics row)
      "dq_rules" -> Seq("HashAggregate", "!Join", "!Window"),
      // orphan checks are key-only anti joins
      "dq_referential" -> Seq("LeftAnti"),
      // Bloom-pre-screened twin: the broadcast bitset probe (xxhash64
      // arithmetic) must gate the child side BEFORE the exact anti join
      "dq_referential_bloom" -> Seq("xxhash64", "LeftAnti"),
      // incremental rollup maintenance: survivors via anti-join, the min
      // rescan pruned to dirty groups via semi-join
      "events_agg_maintain" -> Seq("LeftSemi", "LeftAnti", "HashAggregate"),
      // sliding distinct: the window fan-out (Generate) runs over the
      // DISTINCT pair/register aggregate, never a per-window Window sort
      "events_sliding_distinct" -> Seq("Generate", "HashAggregate", "!Window"),
      "events_sliding_distinct_hll" -> Seq("Generate", "HashAggregate",
        "!Window"),
      // Markov transitions: the lead() window is user-keyed (partitioned
      // exchange), then counts live on the bounded type×type key space
      "events_transitions" -> Seq("Window", "HashAggregate", "!SinglePartition"),
      // duplicate-key alarm: one partial-aggregated shuffle per key set
      "dq_uniqueness" -> Seq("HashAggregate", "!Window"),
      // the documents/events admission gates share dq_rules' one-pass
      // conditional-aggregation shape
      "dq_docs_rules" -> Seq("HashAggregate", "!Join", "!Window"),
      "dq_events_rules" -> Seq("HashAggregate", "!Join", "!Window"),
      // events.user_id → customer orphans: key-only anti join
      "dq_events_referential" -> Seq("LeftAnti"),
      // explicit skew salting: dimension replicated per salt sub-key
      // map-side (Generate), the join stays the merge-hinted shuffle join
      // whose reducers the salt spreads — joined on (key, __graft_salt)
      "join_skew_salted" -> Seq("SortMergeJoin", "Generate", "__graft_salt"),
      // co-located bucketed fact⋈fact: join AND same-key aggregate run
      // with ZERO shuffle — no Exchange node anywhere in the plan (the
      // substring also rules out Broadcast/ReusedExchange), top-10 via
      // TakeOrderedAndProject
      "tpch_bucketed_join" -> Seq("SortMergeJoin", "TakeOrderedAndProject",
        "!Exchange"),
      // n-gram table: map-side trigram fan-out, partial-aggregated counts
      "text_ngram_counts" -> Seq("Generate", "HashAggregate", "!Window"),
      // histogram quantiles: the Window runs over the bounded (type × bin)
      // aggregate, never over events; no join anywhere
      "events_hist_quantiles" -> Seq("HashAggregate", "Window", "!Join"),
      // AUC: score AND label computed in ONE codegen projection (no join
      // back to the label query); the rank cumulative runs over the
      // bounded score histogram, not documents
      "text_quality_auc" -> Seq("lr_logit", "token_stats", "HashAggregate",
        "!Join"),
      // calibration: same one-pass projection, bounded-bin aggregation,
      // no window at all
      "text_quality_calibration" -> Seq("lr_logit", "token_stats",
        "HashAggregate", "!Join", "!Window"),
      // Q6: zero joins, predicates reach the scan
      "tpch_forecast_revenue" -> Seq("PushedFilters", "HashAggregate",
        "!Join"),
      // Q7/Q8/Q14/Q19: pre-filtered dims broadcast, fact streams map-side
      "tpch_volume_shipping" -> Seq("BroadcastHashJoin", "HashAggregate"),
      "tpch_market_share" -> Seq("BroadcastHashJoin", "HashAggregate"),
      "tpch_promo_revenue" -> Seq("BroadcastHashJoin", "HashAggregate",
        "!Window"),
      "tpch_disc_revenue" -> Seq("BroadcastHashJoin", "HashAggregate",
        "!Window"),
      // Q10: top-20 via TakeOrderedAndProject, never a global sort
      "tpch_returned_items" -> Seq("TakeOrderedAndProject", "HashAggregate"),
      // Q17 shape: decorrelated per-part threshold agg re-joined to the
      // fact — an aggregate and a join, never a per-part rescan
      "tpch_small_qty_revenue" -> Seq("HashAggregate", "Join"),
      // Q18 shape: HAVING over the fact aggregate, deterministic top-20
      "tpch_big_orders" -> Seq("HashAggregate", "TakeOrderedAndProject"),
      // Q21 shape: EXISTS + NOT EXISTS stay semi + anti (key-only joins)
      "tpch_returned_settled" -> Seq("LeftSemi", "LeftAnti"),
      // Q22 shape: the 1-row scalar-subquery broadcast + key-only anti
      "tpch_rich_idle_customers" -> Seq("BroadcastNestedLoopJoin", "LeftAnti"),
      // Q12 shape: pushed date band + one equi-join + conditional sums in
      // ONE aggregate pass (no per-band join split)
      "tpch_shipping_class" -> Seq("PushedFilters", "HashAggregate", "Join"),
      // Q13 shape: the zero bucket NEEDS the outer join; the second agg
      // runs over the bounded count histogram
      "tpch_cust_order_dist" -> Seq("LeftOuter", "HashAggregate"),
      // Q15 shape: view agg + 1-row max broadcast + equality cut — never
      // a global sort or window over the revenue view. The equality cut
      // hashes against the broadcast 1-row max (BroadcastHashJoin, better
      // than Q22's inequality which must stay a nested-loop probe)
      "tpch_top_supplier" -> Seq("BroadcastHashJoin", "HashAggregate",
        "!Window", "!SortMergeJoin"),
      // last-of-bucket downsample: two partial-aggregated shuffles, no
      // window sort anywhere
      "events_downsample_last" -> Seq("HashAggregate", "!Window", "!Join"),
      // counter rate: ONE user-keyed window (both lags share it), no join
      "events_rate" -> Seq("Window", "!Join"),
      // bucketed counter increase: the lag window is USER-keyed (a
      // partitioned exchange, never a single-partition sort) and the
      // per-bucket sum partial-aggregates above it; no join
      "events_rate_hourly" -> Seq("Window", "HashAggregate",
        "!SinglePartition", "!Join"),
      // LIKE family: one conditional-aggregation pass, four patterns in
      // one projection — no join, no window, no per-pattern rescan
      "docs_like_family" -> Seq("HashAggregate", "!Join", "!Window"),
      // counter statistics: user-keyed lag window + partial-agg'd
      // per-bucket groupBy + ONE bucket-level cumulative window; no join
      "events_counter_stats_hourly" -> Seq("Window", "HashAggregate",
        "!SinglePartition", "!Join"),
      // compaction: bucket-row regroup only — the raw-sample window and
      // hold-split Generate live in the PARTIALS side, the compact side
      // is one partial-aggregated groupBy over bucket rows
      "events_statistics_daily" -> Seq("Generate", "HashAggregate",
        "!SinglePartition"),
      // statistics migration: per-sensor meta must BROADCAST to the
      // hourly fact; one user-keyed window chain, no shuffled join
      "ha_statistics_points" -> Seq("BroadcastHashJoin", "Window",
        "!SortMergeJoin"),
      // local-midnight compaction: same regroup shape as the epoch one
      "events_statistics_daily_local" -> Seq("Generate", "HashAggregate",
        "!SinglePartition"),
      // counter compaction: bucket-row regroup + ONE bucket-level
      // cumulative window; the sample window lives in the partials side
      "events_counter_stats_daily" -> Seq("Window", "HashAggregate",
        "!SinglePartition", "!Join")) ++
      // the calendar-zone queries, one shape per family: the zone, its gap
      // or overlap resolution and the fixture shift live entirely inside
      // codegen'd projections, and a finer grid changes only bucket
      // counts, never an operator. Tiered: fine recency ∪ calendar-day
      // history, two partials scans unioned into ONE calendar-keyed
      // groupBy — no window, no join, no raw events; raw energy bars: the
      // user-keyed lag window under the calendar groupBy; raw statistics:
      // the LOCF hold split, one calendar regroup
      SparkEntry.zoneQueries.map { q =>
        q.name -> (
          if (q.tiered)
            Seq("Union", "HashAggregate", "!Window", "!Join",
              "!events.parquet")
          else if (q.energy)
            Seq("HashAggregate", "Window", "!Join", "!CartesianProduct")
          else Seq("HashAggregate", "!CartesianProduct"))
      }

    val sb = new StringBuilder
    sb.append("# Physical plan audit\n\n")
    sb.append(s"Generated by `graft.PlanAudit` on `$sfDir`. EVERY registered\n")
    sb.append("query is executed and its AQE-final plan dumped below — the\n")
    sb.append("token-audited queries (one `checked:` line each) carry the\n")
    sb.append("per-shape mechanical assertions; the remaining queries are\n")
    sb.append("plan-shape variants of an audited representative and run under\n")
    sb.append("the blanket no-CartesianProduct guard. Mechanical checks:\n")
    sb.append("broadcast joins where dimensions are bounded, parquet filter\n")
    sb.append("pushdown on scan predicates, TakeOrderedAndProject for top-k\n")
    sb.append("(never a global sort), partial+final aggregation. Queries are\n")
    sb.append("EXECUTED before explaining, so these are the AQE-final plans:\n")
    sb.append("unhinted fact-scale join sides (customer, the Jaccard\n")
    sb.append("shingle-set table) show the broadcast AQE chose from runtime\n")
    sb.append("stats, not a hard-coded hint that would OOM at 100×.\n")
    var failures = List.empty[String]
    audited.foreach { case (name, expect) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // materialize first: several joins carry NO static broadcast hint by
      // design (fact-scale sides must not hard-code a broadcast) and only
      // AQE converts them from runtime stats — audit the FINAL plan
      // drain THIS QueryExecution's RDD: Dataset.foreach would plan a
      // separate QueryExecution, leaving df.queryExecution's AQE plan
      // unfinalized (isFinalPlan=false) — and collect() would pull every
      // result row to the driver
      df.queryExecution.toRdd.foreach(_ => ())
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      expect.foreach { token =>
        // "!Token" = the plan must NOT contain Token (negative assertion)
        if (token.startsWith("!")) {
          if (plan.contains(token.drop(1)))
            failures ::= s"$name: forbidden ${token.drop(1)} present"
        } else if (!plan.contains(token)) failures ::= s"$name: missing $token"
      }
      // CartesianProduct is never acceptable; BroadcastNestedLoopJoin only
      // appears in the deliberate query-set cross joins (topk/ivf fan-out)
      if (plan.contains("CartesianProduct")) failures ::= s"$name: CartesianProduct!"
      sb.append(s"\n## $name\n\nchecked: ${expect.mkString(", ")}\n\n```\n")
      sb.append(plan.take(8000)).append("\n```\n")
    }
    // blanket guard over EVERY registered query (not just the token-audited
    // ones): a CartesianProduct anywhere is a scale bug — execute, then
    // check the AQE-final plan. Plans ARE dumped (shorter excerpt), so
    // PLANS.md carries one `##` section per registered query.
    val auditedNames = audited.map(_._1).toSet
    val rest = SparkEntry.queries.keys.filterNot(auditedNames).toSeq.sorted
    var blanketFailures = List.empty[String]
    rest.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      if (plan.contains("CartesianProduct"))
        blanketFailures ::= s"$name: CartesianProduct!"
      sb.append(s"\n## $name\n\nchecked: blanket no-CartesianProduct guard\n\n```\n")
      sb.append(plan.take(4000)).append("\n```\n")
    }
    failures :::= blanketFailures
    sb.append(
      if (blanketFailures.isEmpty)
        s"\nBlanket check: ${rest.size} further queries executed — " +
          "no CartesianProduct in any AQE-final plan.\n"
      else
        s"\nBlanket check FAILED: ${blanketFailures.mkString("; ")}\n")
    Files.writeString(Paths.get(outFile), sb.toString)
    if (failures.nonEmpty) {
      System.err.println("PLAN AUDIT FAILURES:\n" + failures.mkString("\n"))
      spark.stop(); sys.exit(1)
    }
    println(s"plan audit OK -> $outFile")
    spark.stop()
  }
}
