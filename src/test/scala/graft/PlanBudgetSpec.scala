package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate: every production-registry query has a
  * PINNED physical-plan (shuffle count, broadcast-join count) pair
  * (measured at sf0.001 via `graft.PlanAudit`). A new Exchange creeping
  * into a query — a lost broadcast, a de-optimized aggregate, an
  * accidental repartition — fails here as a one-line diff instead of
  * surfacing as a wall-clock regression three rounds later (or a 100 TB
  * incident). Broadcast counts are budgeted too: a broadcast that
  * silently degrades to a shuffle join changes BOTH numbers, and one
  * that degrades to a nested-loop or is dropped entirely previously
  * surfaced only as wall-clock. When a plan change is INTENTIONAL,
  * rerun `runMain graft.PlanAudit` and update the budget with a
  * sentence of justification in the commit.
  *
  * Budgets are exact, not upper bounds: a query that LOSES a shuffle
  * also fails, because that usually means the query stopped doing its
  * work (e.g. an aggregation folded away by a broken rewrite) — plan
  * shape is part of each operator's contract.
  */
class PlanBudgetSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    graft.plans.TopKPlanning.register(s)
    s
  }
  private val dir = TestSpark.sfDir

  /** (shuffles, broadcast joins) measured round 7 at sf0.001, AQE off
    * (PlanAudit session shape). */
  private val planBudget: Map[String, (Int, Int)] = Map(
    "ch5_q1_movies_by_genre" -> (0, 0),
    "ch5_q2_reviews_for_movie" -> (0, 0),
    "ch5_q3_movie_review_join" -> (0, 1),
    "ch5_q4_avg_rating_by_movie" -> (1, 0),
    "ch5_q5_top_movies_with_titles" -> (1, 1),
    "challenge_q1" -> (0, 0),
    "challenge_q2" -> (0, 1),
    "curate_mix_resample" -> (4, 2),
    // CC runs eagerly; final plan is the rep join
    "dedup_clusters" -> (0, 1),
    "dedup_cross_source" -> (3, 1),
    "dedup_dup_spans" -> (3, 1),
    "dedup_exact" -> (1, 0),
    // semi-join id pruning, persisted candidates; the 9 broadcasts are
    // the candidate-id semi joins and the verdict joins on both sides
    "dedup_incremental" -> (4, 9),
    // the 1 shuffle is the streamed-side repartition that parallelizes
    // the baseline's nested-loop cartesian (one task per split otherwise)
    "dedup_jaccard_brute" -> (1, 1),
    // semi-join candidate pruning (no id distinct)
    // lazy pair query: no cached-band stats adding a broadcast (6 -> 5)
    "dedup_minhash_lsh" -> (2, 5),
    "dedup_semantic" -> (0, 1), // same eager-CC shape as dedup_clusters
    "dedup_simhash" -> (1, 3),
    // r17: covered word-indices aggregate to a per-doc SET (∝ duplicated
    // spans) and the excision runs as array expressions — the word-level
    // explode/re-assembly corpus shuffle is gone (3 -> 2 shuffles)
    "dedup_span_excise" -> (2, 2),
    "denorm_embed_agg" -> (1, 1),
    "denorm_embed_many" -> (1, 1),
    "denorm_embed_one" -> (0, 1),
    "denorm_rewrite_q2" -> (0, 1),
    "events_asof_join" -> (1, 0),
    // one user_id shuffle; the three layered stage windows and the final
    // per-user collapse all reuse it
    "events_funnel" -> (1, 0),
    // the funnel's user_id shuffle + the one-row global report aggregate
    "events_funnel_rates" -> (2, 0),
    "events_hourly_agg" -> (2, 0),
    "events_hourly_top" -> (1, 0),
    "events_range_join" -> (0, 1),
    "events_sessionize" -> (1, 0),
    "events_sliding_agg" -> (1, 0),
    "events_value_quantiles" -> (1, 0),
    "events_zorder_key" -> (0, 0),
    "mm_decode_gif" -> (0, 0), // encode+decode inside the partition iterator
    // the two JPEG-family queries repartition the narrow (id, text)
    // projection before the CPU-bound codec map — codec parallelism must
    // not inherit IO-sized scan splits (the map inflates bytes ~64×)
    "mm_decode_jpeg" -> (1, 0),
    "mm_decode_jpeg_prog" -> (1, 0), // same CPU-spread repartition shape
    "mm_decode_jpeg_color" -> (1, 0), // same CPU-spread repartition shape
    "mm_decode_png" -> (0, 0), // encode+decode inside the partition iterator
    "mm_video_mjpeg" -> (1, 0),
    // same CPU-spread repartition + in-iterator full MJPEG decode
    "mm_video_mjpeg_features" -> (1, 0),
    "mm_features" -> (0, 0),
    "mm_audio_features" -> (0, 0), // encode+decode inside the partition iterator
    "mm_video_frames" -> (0, 0), // encode+sample inside the partition iterator
    "mm_video_features" -> (0, 0), // encode+full-decode inside the partition iterator
    "mm_frame_sample" -> (0, 0),
    "mm_metadata" -> (0, 0),
    "mm_resize" -> (0, 0),
    // single-scan projection; dedup window is the only shuffle, near-dup
    // drop is a broadcast anti join on the loser-id frame
    // the loser ids are a driver-side local relation: no rep join (2 -> 1)
    "pipeline_curated" -> (1, 1),
    // the lineage variant composes three more stage families on top of
    // the curated shape, each shuffle inherent to its stage and none
    // super-linear: the excision machinery (positions/ownership/word
    // reassembly — dedup_span_excise's own audited shape, run on
    // survivors), the survivors⋈excised doc_id re-attach, the
    // duplicate-proportional cluster-size aggregate, and the ≤#langs
    // resample-threshold aggregates (curate_mix_resample's audited
    // shape); provenance counters ride existing exchanges (the
    // n_exact_dups count shares the dedup window's partition)
    // r17: the exact-dedup stage is ONE min_by+count aggregation (the
    // former rank+count window pair re-derived md5(norm_text) per window
    // and paid two exchanges), and the span-excise stage lost its
    // word-level shuffle (12 -> 10 shuffles)
    "pipeline_curated_lineage" -> (10, 10),
    "q1_stock_lookup" -> (0, 0),
    "q2_brand_filter" -> (0, 0),
    "q3_orders_by_date" -> (0, 0),
    "q4_brand_stock_join" -> (0, 1),
    "q5_orders_brand_client_join" -> (0, 3),
    "q6_salted_skew" -> (2, 0),
    "q6_stock_by_product" -> (1, 0),
    "q7_orders_by_date_agg" -> (1, 0),
    "q8_rollup" -> (1, 0),
    "q9_running_total" -> (1, 0),
    "q10_pivot" -> (1, 0), // one groupBy with per-flag conditional aggregates
    "q11_except" -> (1, 1), // union-side aggregate feeding the anti join
    "q12_outer_join" -> (1, 1), // reduced fact side broadcasts; one final agg
    // per-part totals twice (mean + output) + 1-row mean
    "q13_scalar_subquery" -> (3, 1),
    "sim_ann_ivf" -> (7, 5),
    "sim_ann_ivf_sq" -> (7, 7),
    "sim_ann_ivfpq" -> (7, 7), // IVF candidates + scan-side PQ decode join
    // the persisted-index QUERY plan: training's 6 shuffles moved to
    // build time; one preselect-window shuffle remains, centroids /
    // postings / query-vector joins broadcast at fixture scale
    "sim_ann_ivfpq_indexed" -> (1, 5),
    // incremental cadence: base build + delta append run eagerly before
    // the query; the returned plan is the same 1-shuffle indexed query
    "sim_ann_index_delta" -> (1, 5),
    // external-query search: same 1-shuffle pruned-read query plan
    "sim_ann_index_search" -> (1, 5),
    // the erasure form: the indexed query's (1, 5) + two broadcast
    // ANTI joins (tombstones off the query side and the postings side)
    // — deletes add zero shuffles
    "sim_ann_index_delete" -> (1, 7),
    // the metadata filter: the search's (1, 5) + one broadcast SEMI
    // join (allowed ids onto candidate-scale rows) — zero shuffles
    "sim_ann_index_search_filtered" -> (1, 6),
    // PQ assignment is ONE scan-side projection against codebook
    // literals (the two bounded codebook-training jobs run beforehand)
    "sim_quantize_pq" -> (0, 0),
    // bucket self-join + 8-byte packed-code join + asymmetric preselect
    // + full-precision rerank pair — all broadcast at fixture scale; at
    // cluster scale the candidate joins shuffle ~32 B rows, never
    // embeddings (the round-8 stress finding). Round 17 tried fusing the
    // packed code onto the postings projection (4 broadcasts) and
    // measured it back OUT: the wider postings side flipped the
    // candidate join's build side, broadcasting the row-exploding
    // probes and streaming the postings through one AQE-coalesced
    // partition (sim_ann_lsh_capped 3.0 → 24.0 s at 10×) — the
    // ids-only candidate shape with the post-join code attach is the
    // scale-proven plan.
    "sim_ann_lsh" -> (1, 5),
    // + the per-bucket cap window's exchange on bucket (the skew fuse);
    // the candidate joins stay broadcast at fixture scale and the
    // preselect window is the other shuffle — at cluster scale the cap
    // window's bucket partitioning is the SAME key the candidate join
    // shuffles on, so the fuse costs no extra exchange on the big side.
    "sim_ann_lsh_capped" -> (2, 5),
    // persisted-index form: signature+code computation left the query
    // path (one broadcast fewer than the in-query form), bucketed
    // postings side exchange-free
    "sim_ann_lsh_indexed" -> (1, 4),
    // the indexed plan + the two tombstone anti-joins (broadcast on the
    // probes side and the neighbor side; postings side still
    // exchange-free — erasure costs no shuffle)
    "sim_ann_lsh_index_delete" -> (1, 6),
    // the capped query on the same artifact: the cap is a PUSHED scan
    // predicate on the build-stamped bucket_rank — identical plan shape
    // to the uncapped indexed query, no extra exchange
    "sim_ann_lsh_capped_indexed" -> (1, 4),
    // external-query search on the LSH artifact: same shape, queries
    // broadcast-joined onto the candidate stream
    "sim_ann_lsh_search" -> (1, 4),
    // + the allowed-id semi-join at candidate scale (broadcast at
    // fixture selectivity; Catalyst shuffles it if the slice outgrows
    // the threshold — postings side stays exchange-free either way)
    "sim_ann_lsh_search_filtered" -> (1, 5),
    // the AutoRadius dial's gate-scale plan: the brute-over-allowed
    // floor — one probe-free pass, same single shuffle as the probe
    // form (the ranking windows), broadcasts for queries/allowed/
    // tombstones/codebook joins
    "sim_ann_lsh_search_filtered_auto" -> (1, 5),
    // mid-radius dial (16 pinned planes, resolved r=4): +1 broadcast —
    // the 2 517-mask set joins as a broadcast table instead of literals
    "sim_ann_lsh_search_filtered_auto_mid" -> (1, 6),
    "sim_centroid_by_lang" -> (1, 1),
    "sim_cosine_neardup" -> (1, 1), // + streamed-side repartition (baseline)
    // streamed-side repartition on vec_id doubles as the top-k window's
    // required partitioning, so the window's own Exchange is reused
    "sim_cosine_topk" -> (1, 1),
    // + the two 8-byte packed-code joins of the symmetric-PQ prefilter
    // (round 9) — broadcast at fixture scale; at cluster scale the
    // candidate joins shuffle ~32 B rows, never embeddings
    // r17: the 8-byte codes ride the bucket projections themselves, so
    // the two candidate-scale code joins are gone (5 -> 3 broadcasts)
    "sim_neardup_lsh" -> (1, 3),
    "sim_quantize_sq" -> (0, 0),
    "sketch_distinct_hll" -> (1, 0), // native 64-byte register aggregate
    "sketch_distinct_kmv" -> (2, 0),
    "sketch_heavy_hitters" -> (3, 1),
    "sql_challenge_q1" -> (0, 0),
    "sql_challenge_q2" -> (0, 1),
    "text_bigram_familiarity" -> (2, 1),
    "text_bpe_tokens" -> (0, 0),
    "text_decontaminate" -> (2, 1),
    // + the persisted test-shingle distinct; the broadcast is the
    // exact-confirm join, the bloom itself is a scan-side literal
    "text_decontaminate_bloom" -> (2, 1),
    "text_fingerprint" -> (0, 0),
    "text_html_extract" -> (0, 0), // scan-side synthesis + native extract
    // the line-DF aggregation runs as a bounded side job at build time;
    // the output path is a pure scan through the native strip expression
    "text_line_dedup" -> (0, 0),
    "text_inverted_index" -> (2, 1),
    "text_inverted_index_capped" -> (2, 1),
    "text_lang_id" -> (0, 0),
    "text_normalize" -> (0, 0),
    "text_pii_mask" -> (0, 0),
    "text_quality_rules" -> (0, 0),
    "text_quality_score" -> (0, 0),
    "text_repetition" -> (2, 0),
    "text_seq_pack" -> (1, 0),
    "text_stats_by_source" -> (2, 0),
    "text_stratified_sample" -> (1, 0),
    "text_tfidf_topk" -> (5, 2),
    "text_token_stats" -> (0, 0),
    "text_top_quality_by_lang" -> (1, 0),
    "text_train_split" -> (0, 0),
    "text_vocab_stats" -> (2, 0),
    "text_winnow" -> (0, 0), // scan-side expression + explode, shuffle-free
    // production form is df-CAPPED (r10): + df agg + semi join over the
    // uncapped (3,1) index distinct + fp self-join + pair agg shape
    "text_winnow_matches" -> (5, 2),
    "text_winnow_matches_capped" -> (5, 2))

  test("every production query is budgeted — no unpinned query ships") {
    val unpinned = SparkEntry.productionQueries.keySet -- planBudget.keySet
    val stale = planBudget.keySet -- SparkEntry.productionQueries.keySet
    assert(unpinned.isEmpty, s"add budgets (run graft.PlanAudit): $unpinned")
    assert(stale.isEmpty, s"remove stale budgets: $stale")
  }

  test("physical-plan shuffle and broadcast counts match the budgets exactly") {
    // measured with AQE off — the same session shape as graft.PlanAudit,
    // so "rerun PlanAudit and paste" stays a one-step update. (Exchange
    // insertion precedes AQE; the off switch only changes how cached /
    // staged subtrees PRINT, not what shuffles execute.)
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val diffs = SparkEntry.productionQueries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val plan = fn(spark, dir).queryExecution.executedPlan.toString
          spark.catalog.clearCache()
          val got = (PlanAudit.shuffleCount(plan),
            PlanAudit.broadcastJoinCount(plan))
          val want = planBudget(name)
          if (got != want)
            Some(s"$name: (shuffles, broadcasts) $got (budget $want)")
          else None
      }
      assert(diffs.isEmpty,
        s"plan regressions (rerun graft.PlanAudit if intentional):\n${
          diffs.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }
}
