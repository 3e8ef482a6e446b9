package graft.tools

/** Dev scaling probe — times the near-dup trio on scaled corpora to
  * measure the growth slope (tools/ docs how the inputs are generated).
  * Usage: runMain graft.tools.ScaleProbe <dir1> [dir2 ...] */
object ScaleProbe {
  // non-documents inputs some probes need — skipped (with a note) when a
  // scaled corpus dir (tools/gen_scale_corpora.py) carries documents only
  private val needs: Map[String, String] = Map(
    "a6_connector_roundtrip" -> "events.parquet",
    "a7_partitioned_scan" -> "events.parquet",
    "j41_search_after" -> "events.parquet",
    "j42_decay_rank" -> "events.parquet",
    "j47_date_histogram" -> "events.parquet",
    "j49_pii_redact" -> "customer.parquet",
    "j53_semdedup" -> "embeddings.parquet",
    "j196_graph_ann" -> "embeddings.parquet",
    "j205_pca_power" -> "embeddings.parquet",
    "j207_matryoshka_eval" -> "embeddings.parquet",
    "j249_esql_ts" -> "events.parquet",
    "j250_esql_ts_rate" -> "events.parquet",
    "j255_esql_ts_delta" -> "events.parquet",
    "j168_eql_sequence" -> "events.parquet",
    "j199_eql_sequence_multi" -> "events.parquet",
    "j228_eql_maxspan_until" -> "events.parquet",
    "j174_sessionize" -> "events.parquet",
    "j142_cohort_retention" -> "events.parquet",
    "j258_geo_distance" -> "events.parquet",
    "j259_geotile_grid" -> "events.parquet",
    "j260_esql_st_distance" -> "events.parquet",
    "j261_geo_bounding_box" -> "events.parquet",
    "j262_rollup_stored" -> "events.parquet",
    "j264_esql_grid_fns" -> "events.parquet",
    "j265_geo_distance_sort" -> "events.parquet",
    "j266_esql_st_predicates" -> "events.parquet",
    "j267_geo_distance_rings" -> "events.parquet",
    "j268_geo_centroid" -> "events.parquet",
    "j269_esql_st_extent" -> "events.parquet",
    "j270_geo_polygon" -> "events.parquet",
    "j271_geohash_grid" -> "events.parquet",
    "j272_esql_st_centroid" -> "events.parquet",
    "j273_geo_polygon_holes" -> "events.parquet",
    "j274_geo_line" -> "events.parquet",
    "j105_embed_outliers" -> "embeddings.parquet",
    "i20_cell_lww_merge" -> "events.parquet",
    "j275_geohex_grid" -> "events.parquet",
    "j276_esql_geohex" -> "events.parquet",
    "j278_bbq_rescore" -> "embeddings.parquet",
    "j281_esql_knn" -> "embeddings.parquet",
    "j282_transition_pagerank" -> "events.parquet")

  def main(args0: Array[String]): Unit = {
    // optional trailing `only=q1,q2` arg restricts the probe list —
    // per-round runs probe the round's additions, not the full history
    val (onlyArgs, args) = args0.partition(_.startsWith("only="))
    val only: Option[Set[String]] =
      onlyArgs.headOption.map(_.stripPrefix("only=").split(",").toSet)
    val spark = LocalSession("WARN")
    // warmup: run the pipeline once on the smallest dir so JIT/codegen
    // costs don't land on the first measured point
    graft.ops.TextOps.j2(spark, args.head).count()
    spark.catalog.clearCache()
    for (d <- args; q <- Seq("j2_dedup_near_jaccard", "j12_minhash_lsh",
        "j21_dedup_clusters", "j22_decontaminate", "j28_domain_mix",
        "j29_repetition_filter", "j30_shuffle_shard",
        "j32_heavy_hitters_sketch",
        // round 4: the search suite + both connector-path scans
        "j34_bm25_search", "j35_fuzzy_search", "j36_phrase_search",
        "j37_significant_terms", "a6_connector_roundtrip",
        "a7_partitioned_scan",
        // round 4 (late): the rest of the ES query DSL
        "j38_mlt_search", "j39_prefix_search", "j40_highlight",
        "j41_search_after", "j42_decay_rank", "j43_percolate",
        "j44_composite_agg", "j45_sharded_terms_agg", "j46_rescore",
        // round 4 (final): histogram/suggest/redact/span-dedup/msm
        "j47_date_histogram", "j48_term_suggest", "j49_pii_redact",
        "j50_span_dedup", "j51_bool_msm", "j52_dsir_score",
        "j53_semdedup", "j54_stratified_sample",
        "j55_sorted_neighbor_dedup", "j56_chunk_overlap",
        "j57_temperature_mix",
        // round 6 (fourth session): the new tails worth probing on
        // scaled corpora — the span HOF family's row-local floor, the
        // two composed-dedup pipelines, and the pair-tag matrix
        "j140_cluster_split", "j145_span_not", "j148_source_overlap",
        "j155_pmi_collocations", "j158_incremental_dedup",
        "j159_span_within",
        // round 7: the document-only additions worth scaled evidence —
        // intervals/span_or position algebra, T5 masking, CDC chunking,
        // bootstrap, preference pairs (pays j21), threshold sweep
        // (pays pairStats), langid calibration (banded prefix at scale)
        "j169_intervals_query", "j173_span_or_multi",
        "j182_preference_pairs", "j183_span_corruption",
        "j190_cdc_chunks", "j191_bootstrap_ci", "j192_langid_calibration",
        "j193_jaccard_sweep",
        // round 9: the graph-ANN build slope (the r8 verdict's fixed-
        // bucket concern — plane count now grows with N, so the
        // adjacency self-join must stay ~linear x1→x10)
        "j196_graph_ann",
        // round 9 (second session): sparse retrieval (posting-bound
        // join), the PCA covariance pass (×2080 explode must stay
        // linear — it's map-combined CPU, not shuffle), the packing
        // prefix sum (banded, never single-partition), and the
        // truncation audit's triple-scored corpus scan
        "j202_sparse_vector", "j205_pca_power", "j206_pack_sequences",
        "j207_matryoshka_eval",
        // round 10: the MV-position pipeline is the round's only
        // documents-keyed addition (the other rows are events-based —
        // the scale dirs carry documents/embeddings only); row-local
        // array folds must stay corpus-linear
        "j229_esql_mv_position",
        // round 11: the documents-keyed additions — retrieve-then-
        // rerank/summarize pipelines (the LIMIT cut must keep the rank
        // window constant-cost while the scan grows), the hash/encode
        // and ROUND_TO/MV row-local folds, and the two-leg full-text
        // filter (phrase containment + KQL predicate)
        "j245_esql_rerank", "j247_esql_hash_encode",
        "j248_esql_round_to_mv", "j251_esql_fulltext_ext",
        "j253_esql_completion",
        // round 12: the scale dirs now carry a user-shifted events
        // table (series count grows, per-series density constant), so
        // the events-keyed operators the r11 verdict flagged as
        // evidence-free get measured slopes: TS rollups + delta family
        // (cell-bounded lag window must stay linear), EQL sequences
        // (per-user state machine), sessionize, cohorts, and the geo
        // family (row-local trig + bounded agg)
        "j249_esql_ts", "j250_esql_ts_rate", "j255_esql_ts_delta",
        "j168_eql_sequence", "j199_eql_sequence_multi",
        "j228_eql_maxspan_until", "j174_sessionize",
        "j142_cohort_retention",
        "j258_geo_distance", "j259_geotile_grid",
        "j260_esql_st_distance", "j261_geo_bounding_box",
        // round 12 (late): the stored rollup's serve path, the grid
        // keys (unrolled shift/mask must stay row-local flat), the
        // distance sort's TakeOrdered heap, the spatial relations, and
        // the sorted-fold centroid (the one geo op with group-sized
        // state — its slope is the d9 trade made visible)
        "j262_rollup_stored", "j264_esql_grid_fns",
        "j265_geo_distance_sort", "j266_esql_st_predicates",
        "j267_geo_distance_rings", "j268_geo_centroid",
        "j269_esql_st_extent",
        // round 13: the polygon ray casts (row-local integer arithmetic
        // behind the bbox WHERE — must stay flat), the geohash grid agg,
        // the centroid STATS, and the qsum-migrated rows (the partial-
        // aggregable sums replacing corpus-sized collected folds — the
        // slope is the migration's evidence)
        "j270_geo_polygon", "j271_geohash_grid", "j272_esql_st_centroid",
        "j273_geo_polygon_holes", "j274_geo_line",
        "j100_zipf_fit", "j105_embed_outliers", "j112_quality_decile_mix",
        "j113_bigram_entropy", "j116_unique_ngram_ratio",
        "j152_source_card",
        // round 14: per-cell LWW (one map-combined keyed agg — must stay
        // flat) and the hex grid pair (row-local key + cell-bounded agg)
        "i20_cell_lww_merge", "j275_geohex_grid", "j276_esql_geohex",
        // round 15: BBQ two-stage serve — the hamming window must stay
        // ~linear and the rescore leg constant (40 rows/query) at any N;
        // readability + URL dedup are map-only / one-window passes whose
        // slopes should be pure scan
        "j278_bbq_rescore", "j279_readability", "j280_url_canonical_dedup",
        "j281_esql_knn", "j282_transition_pagerank")
        if only.forall(_.contains(q))) {
      val missing = needs.get(q)
        .filterNot(f => new java.io.File(d, f).exists())
      if (missing.isDefined)
        println(s"[scale] $d $q skipped (no ${missing.get})")
      else {
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(q)(spark, d).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[scale] $d $q%-24s ${dt}%6.2f s  rows=$n")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
