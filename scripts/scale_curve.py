"""Scale curves: time registry queries at successive generator scale
factors, min-of-N each, and report the ratio between neighbouring SFs.

Ratios are computed WITHIN the generator family (``scripts/gen_sf.py``
output under ``.scratch/gen_<sf>``), so shape differences vs the test
fixtures cancel.  A ratio that stays flat or falls as data grows is
fixed overhead being amortized; one that rises is a superlinear term.
SF dirs that do not exist are skipped.

Usage:
  python scripts/scale_curve.py                       # the "curve" set
  python scripts/scale_curve.py --queries wave9       # a named set
  python scripts/scale_curve.py --sfs sf1,sf10 --queries Q1_pricing_summary,G6_pagerank
  python scripts/scale_curve.py --queries llm10 --runs 3

``--queries`` takes a set name from SETS or a comma list of query
names; ``--sfs`` overrides the set's SFs (a name ``sfX`` reads
``.scratch/gen_sfX``; anything containing ``/`` is used as a path).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: name -> (default SFs, queries).  ``None`` queries = every registered
#: TPC-H Q-query.  These are the sets SCALE.md's tables were measured on.
SETS: dict[str, tuple[tuple[str, ...], list[str] | None]] = {
    # the SHAPE: one representative op per family over three or four
    # decades, to show whether the 10x ratio falls as data
    # grows (fixed overhead) or creeps up (superlinear)
    "curve": (
        ("sf0.01", "sf0.1", "sf1", "sf10"),
        [
            "Q1_pricing_summary",     # relational scan+agg
            "J9_asof_join",           # temporal join
            "T26_tfidf_topk",         # text, tokenize+window
            "D1_neardup_clusters",    # MinHash LSH dedup + CC
            "V3_ivf_topk",            # ANN serving
            "G6_pagerank",            # iterative graph kernel
            "W4_sessionize",          # stateful sessionization
            "T37_nb_langid",          # learned filter
        ],
    ),
    # round-8 wave one order up (the §16/§17 discipline: every wave
    # ships with a 10x ratio measured inside the generator family)
    "wave8": (
        ("sf0.1", "sf1"),
        [
            "V11_filtered_recall",
            "O6_stratified_sample",
            "J11_band_join",
            "C5_retention_cohorts",
            "D11_prefix_dup",
            "T35_char_entropy",
            "PR5_numeric_corr",
            "ED5_interarrival_median",
            "O7_hash_sample_topk",
            "T36_pmi_collocations",
            "G21_degree_assortativity",
            "O8_weighted_sample",
            "D12_source_overlap",
            "ED6_type_transitions",
        ],
    ),
    # round-8 wave 2: D13 shared spans + the PQ family
    "wave8b": (
        ("sf0.1", "sf1"),
        [
            "D13_shared_spans",
            "V12_pq_adc_topk",
            "V13_pq_recall",
            "V14_pq_rerank",
            "D14_span_purge",
            "V15_ivfpq_topk",
        ],
    ),
    # round-8 wave 3: the learned-filter family (T37 NB, T38 DSIR) and
    # the k-means/purity ops
    "wave8c": (
        ("sf0.1", "sf1"),
        [
            "T37_nb_langid",
            "T38_dsir_weights",
            "V17_kmeans_refine",
            "V18_cluster_purity",
        ],
    ),
    # round-9 wave: the TPC-H completion queries, the NB-maintainer
    # registry query and the trained-PQ A/B
    "wave9": (
        ("sf0.1", "sf1"),
        [
            "Q6_forecast_revenue",
            "Q7_volume_shipping",
            "Q8_market_share",
            "Q10_returned_items",
            "Q12_priority_line_counts",
            "Q13_customer_order_distribution",
            "Q14_promo_revenue",
            "Q15_top_supplier",
            "Q18_large_volume_customer",
            "Q19_discounted_revenue",
            "Q21_sole_blame_supplier",
            "Q22_dormant_balance",
            "T41_nb_model_store",
            "V21_pq_trained_recall",
        ],
    ),
    # round-10 third decade (VERDICT r9 item 4): the five worst 10x
    # scalers of the r9 wave — a quadratic term that hides behind a
    # benign 10x ratio at decade 2 shows up as a >>10x decade-3 ratio —
    # plus the partsupp wave's first evidence above the sf0.01 fixtures
    "wave10": (
        ("sf1", "sf10"),
        [
            "Q21_sole_blame_supplier",
            "Q18_large_volume_customer",
            "Q12_priority_line_counts",
            "T41_nb_model_store",
            "V21_pq_trained_recall",
            "Q2_min_cost_supplier",
            "Q9_product_profit",
            "Q11_important_stock",
            "Q16_supplier_relationship",
            "Q20_excess_stock",
            "T45_confidence_route",
        ],
    ),
    # every registered TPC-H Q-query at decade 3 (supplement to wave10)
    "tpch10": (("sf1", "sf10"), None),
    # round-10: the corpus-proportional LLM-pipeline ops at decade 3 —
    # the operators whose work is bounded by the CORPUS (not a replay
    # window), i.e. the ones that carry a 100 TB curation run
    "llm10": (
        ("sf1", "sf10"),
        [
            "T3_fingerprint_dedup",    # exact dedup, corpus-wide
            "D11_prefix_dup",          # prefix-dup, corpus-wide
            "D13_shared_spans",        # span dedup, stride-1 shingles + df cap
            "D14_span_purge",          # coverage purge over D13's matches
            "D12_source_overlap",      # cross-source overlap
            "D6_domain_cap",           # per-domain cap
            "T8_contamination_overlap",  # bench-gram contamination scan
            "D5_contamination_purge",  # its enforcer
            "E3_simhash_neardup",      # simhash near-dup, corpus-wide
            "D2_semantic_dedup",       # embedding near-dup
            "T16_mix_sampling",        # mix sampling
            "T31_temperature_mix",     # temperature reweighting
            "O8_weighted_sample",      # weighted sampling
            "T45_confidence_route",    # router over the full NB fit+score
        ],
    ),
    # round-10: decade-3 coverage for the remaining families — graph
    # kernels, spatial, temporal/event, versioned-log, export, matrix,
    # profiling
    "rest10": (
        ("sf1", "sf10"),
        [
            "G3_connected_components",
            "G5_triangle_count",
            "G11_kcore",
            "G13_weighted_sssp",
            # GEO3 deliberately absent: the minted context model grows
            # BOTH sides linearly (points and fixed-20x10-degree areas
            # from customer keys), so the bbox-contained PAIR set is
            # quadratic by construction - measured 19.8M pairs at
            # gen_sf1, ~2.0B at gen_sf10. The per-area counts are
            # output-inherent work, not a join-shape defect (the join is
            # the cell-bucketed equi-join); SCALE section 36 records the
            # arithmetic and the production posture (areas are a bounded
            # dimension in a real deployment; density-adaptive gridding
            # + covered-cell pre-aggregation is the published upgrade
            # when both sides truly grow).
            "GEO5_density_grid",
            "W9_multires_rollup",
            "C3_rate_changepoint",
            "J8_interval_containment",
            "SD1_snapshot_diff",
            "EX2_shard_manifest",
            "M5_sparse_matmul",
            "PR1_profile_events",
            "T28_lm_perplexity",
        ],
    ),
    # round-12 GEO curve (VERDICT r11 item 3) across FOUR orders, the
    # last on the customer-subset sf40: GEO7/GEO8 were the steepest r11
    # scalers (6.18x/7.74x at decade 3); GEO7b's fractional corners
    # exercise the boundary filter-refine branch at every decade
    "geo12": (
        ("sf0.1", "sf1", "sf10", "sf40_sub"),
        [
            "GEO7_area_point_count",
            "GEO7b_area_point_count_frac",
            "GEO8_nearest_topk",
        ],
    ),
}


def _sf_dir(sf: str) -> str:
    return sf if "/" in sf else os.path.join(ROOT, ".scratch", f"gen_{sf}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--queries", default="curve",
                    help=f"a set name ({', '.join(SETS)}) or a comma list")
    ap.add_argument("--sfs", help="comma list; default: the set's SFs")
    ap.add_argument("--runs", type=int, default=2, help="min-of-N")
    args = ap.parse_args()

    from biodiversity_graph_db_spark import registry
    from biodiversity_graph_db_spark.session import get_spark

    registry.load_all()
    if args.queries in SETS:
        sfs, names = SETS[args.queries]
        metric = f"scale_{args.queries}"
    else:
        sfs, names = (), args.queries.split(",")
        metric = "scale_curve"
    if names is None:
        names = sorted(
            n for n in registry.QUERIES if n.startswith("Q") and n[1].isdigit()
        )
    if args.sfs:
        sfs = tuple(args.sfs.split(","))
    if not sfs:
        ap.error("--sfs is required with a query list")
    dirs = [_sf_dir(sf) for sf in sfs if os.path.isdir(_sf_dir(sf))]

    spark = get_spark(metric.replace("_", "-"))
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"metric": metric, "runs": args.runs}
    for name in names:
        q = registry.QUERIES[name]
        prev = None
        for d in dirs:
            tag = os.path.basename(d.rstrip("/")).removeprefix("gen_")
            ts, rows = [], 0
            for _ in range(args.runs):
                t0 = time.perf_counter()
                rows = len(q(spark, d).collect())
                ts.append(time.perf_counter() - t0)
                gc.collect()
            t = out[f"{name}_{tag}"] = round(min(ts), 3)
            out[f"{name}_{tag}_rows"] = rows
            msg = f"{name} {tag}: {t}s rows={rows}"
            if prev:
                r = out[f"{name}_{tag}_ratio"] = round(t / prev, 2)
                msg += f" ratio={r}x"
            prev = t
            print(msg, flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
