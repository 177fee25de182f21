"""Generate QUERIES.md — the correctness-gate coverage inventory.

Usage: python -m tutorial_apache_beam_spark.inventory > QUERIES.md
"""

from __future__ import annotations

from tutorial_apache_beam_spark import registry

# Gate lineage across rounds (VERDICT r3 item 8): every current gate whose
# definition is NOT identical to its round-1 registration, mapped to the
# gates whose bench slots it absorbed and the work it added since. Bench
# comparisons across rounds must read a renamed/merged gate's time against
# the SUM of its predecessors' slots, minus/plus the noted added work.
# Gates absent from this table are unchanged since round 1 (same name,
# same definition, same bench slot).
LINEAGE: list[tuple[str, str, str]] = [
    # (current gate, replaces [round], added work since the predecessors)
    ("ann_topk_methods",
     "cosine_topk_bruteforce [r2]; ann_topk_variants [r2] "
     "(itself srp_ann_topk + ivf_ann_topk [r1])",
     "r3: int8-quantized q8 tier; ALL tiers oracle-checked (variants were "
     "rows-only). r5: + `ivf_recall` summary row (oracle-recomputed "
     "recall@5) and `ivf_recall_trained_ge_sampled` invariant row "
     "(spherical-k-means training inside the gate). r6 cost trim (same "
     "output): 2 Lloyd's rounds (was 3) with driver-side sample training, "
     "one shared persisted embeddings scan. r9: + `bm25` sparse-retrieval "
     "tier (Okapi BM25 keyword top-5 over documents, "
     "`operators/retrieval.py` — probe_id = query_id; oracle recomputes "
     "tf/df/idf in SQL). r10: + `fused` tier — reciprocal-rank fusion "
     "(k=60) of all five tiers into one hybrid ranking per keyword query, "
     "computed from the persisted top-k cache (zero extra corpus passes; "
     "exact integer RRF algebra, bit-identical cross-engine)"),
    ("text_fingerprint_suite",
     "text_analysis_suite [r2] (text_stats_quality + lang_id_heuristic "
     "[r1]); doc_fingerprints_suite [r2] (document_fingerprints + "
     "simhash_fingerprints [r1])",
     "r3: PII redaction + URL normalization columns"),
    ("lexical_neardup_pairs",
     "ngram_jaccard_near_dups [r1]; minhash_lsh_near_dups [r1]",
     "r3 merge: both branches share ONE persisted shingle-hash scan. "
     "r5: + containment branch (ngram_containment_pairs, both "
     "orientations) over the same scan; metric column renamed "
     "jaccard→score"),
    ("tpch_analog_sweep",
     "NEW in r3 (15 analogs were pytest-only)",
     "q2 q5 q7 q9 q10 q11 q13 q14 q15 q16 q17 q19 q20 q21 q22 in one "
     "tagged-union gate"),
    ("q8_market_share",
     "NEW in r3 (was pytest-only)", "promoted onto a freed slot"),
    ("demo1_malformed_split",
     "demo1_drop_malformed + demo1_dead_letter_split [r1]", "—"),
    ("sliding_session_windows",
     "sliding_window_value_sum + session_window_counts [r1]", "—"),
    ("streaming_demo2_modes",
     "streaming_demo2_counts + streaming_demo2_append [r1]",
     "r3: update-mode two-batch late-firing replay (third drain)"),
    ("customer_set_ops",
     "semi_join_customers_with_orders + anti_join_customers_without_orders "
     "+ set_ops_customer_years [r1]", "—"),
    ("topk_orders", "global_top_orders + top_orders_per_customer [r1]", "—"),
    ("window_function_surface",
     "rank_customers_by_balance + lag_lead_event_values + "
     "running_revenue_per_customer [r1]", "—"),
    ("multi_dim_aggregates",
     "rollup_revenue_by_flag_status + cube_orders_by_status_priority + "
     "grouping_sets_revenue + pivot_qty_by_flag_status + "
     "unpivot_part_measures [r1]", "—"),
    ("distinct_agg_having_suppliers",
     "distinct_agg_per_supplier + having_filter_big_suppliers [r1]", "—"),
    ("event_aggregate_surface",
     "stats_aggregates_per_type + collection_functions_per_user [r1]", "—"),
    ("json_map_functions",
     "json_props_extraction + map_functions_on_props [r1]", "—"),
    ("multimodal_pipeline",
     "multimodal_decode_metadata + multimodal_frame_samples [r1, "
     "frame-samples was rows-only]",
     "r2: frame-count invariant oracle. r5: + real-WAV roundtrip columns "
     "(audio bytes → PCM WAV container → stdlib-wave decode; oracle pins "
     "duration/rate/channels)"),
    ("split_and_pack",
     "dataset_split_assignment + pack_documents_by_token_budget [r1]",
     "r3: hash-verified token-window chunking"),
    ("sink_roundtrip_retention",
     "NEW in r2 (K1/K2 were pytest-only)",
     "r5: drains in EXACTLY-ONCE mode (stage + overwrite-by-batch-id) "
     "instead of plain append. r9: + avro-fallback round trip of the "
     "per-day aggregate (distributed deflate write partitioned by "
     "event_date, distributed read with partition recovery) — S1's "
     "no-JAR interchange leg enters the hash-checked loop. r11: the "
     "read-back goes through the Spark 4 Python DataSource surface "
     "(format('avro_fallback'), same scan plan — cost-neutral)"),
    ("near_dup_clusters", "near_dup_clusters [r1, rows-only]",
     "r2: recursive-CTE transitive-closure oracle"),
    ("embedding_cosine_near_dups", "embedding_cosine_near_dups [r1]",
     "r6: + `component`/`canonical_a` columns — semantic_dup_clusters "
     "(SemDeDup transitive clustering) folded into the hash-checked "
     "surface; oracle recomputes the closure via recursive CTE"),
    ("streaming_interval_join", "streaming_interval_join [r2, inner only]",
     "r3: + left-outer + full-outer concurrent drains (3x the r2 work). "
     "r7: all three modes derived from ONE full-outer drain (identical "
     "rows, one join state, one source replay)"),
    ("training_data_pipeline", "training_data_pipeline [r1]",
     "r3: + decontamination + curriculum stages"),
    ("streaming_discarding_panes", "streaming_discarding_panes [r1]",
     "r11: + tagged `sum` branch — Sum.perKey(event_id) panes over a "
     "composite (user_id, event_type) key via the combiner-generic "
     "discarding_pane_aggregate, a SECOND full drain alongside the historical "
     "count branch (~2x the r10 slot's work); output columns unified "
     "to (combiner, window_start, user_id, event_type, pane_value, "
     "pane_index)"),
    ("(dropped)", "approx_distinct_users [r1]",
     "HLL sketch values are engine-specific, never hash-comparable; moved "
     "to error-bound pytest (tests/test_sketches.py)"),
]


def main() -> None:
    qs = registry.queries()
    oracles = registry.oracle_sql()
    print("# QUERIES — correctness-gate inventory (generated)")
    print()
    print(
        "One row per `queries()` entry in `__spark_entry__.py`. "
        "`oracle` = hash-compared against DuckDB SQL at sf0.01; "
        "`rows-only` = driver's weaker check (approximate/impl-defined "
        "results), correctness anchored by pytest instead."
    )
    print()
    print("| query | family | check | what it covers |")
    print("|---|---|---|---|")
    for name in sorted(qs):
        fn = qs[name]
        family = fn.__module__.rsplit(".", 1)[-1]
        check = "oracle" if name in oracles else "rows-only"
        doc = (fn.__doc__ or "").strip().splitlines()
        summary = doc[0].rstrip(".") if doc else ""
        print(f"| `{name}` | {family} | {check} | {summary} |")
    n_oracle = len(oracles)
    print()
    print(f"Total: {len(qs)} queries — {n_oracle} oracle-checked, "
          f"{len(qs) - n_oracle} rows-only.")
    print()
    print(
        "Stat note (r6): headline times through BENCH_r05 are warm "
        "MEDIAN-of-3; from r6 they are warm MIN-of-3 "
        "(`extra.headline_min_of`), after measured ambient neighbor load "
        "proved larger than any code effect — raw sorted samples are in "
        "`bench_last.json` `extra.headline_samples`, so the old median is "
        "recoverable from the artifact. r10: every recorded min is "
        "corroborated within 15%, re-sampled up to adapt_max draws, or "
        "flagged via sample_counts == adapt_max (adaptive signal floor, "
        "`extra.adapt_tol`/`extra.sample_counts` — a gate that exhausts "
        "its draws records the min UNcorroborated, visibly)."
    )
    print()
    print("## Gate lineage across rounds (bench-slot equivalences)")
    print()
    print(
        "Round-over-round bench comparisons must read a merged/renamed "
        "gate's time against the SUM of its predecessors' slots, adjusted "
        "by the added work noted. Gates not listed are unchanged since "
        "round 1 (same name, definition, and bench slot)."
    )
    print()
    print("| current gate | replaces [round] | added work since |")
    print("|---|---|---|")
    for gate, replaces, added in LINEAGE:
        print(f"| `{gate}` | {replaces} | {added} |")


if __name__ == "__main__":
    main()
