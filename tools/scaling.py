#!/usr/bin/env python3
"""Multi-SF scaling-curve artifact (round-10 verdict #7).

Reads three BENCH_FULL-style JSONs (sf0.001, sf0.01, sf0.1), groups
queries into operator families, and computes per-family time ratios and
scaling exponents for the sf0.01 -> sf0.1 leg (the only leg where the
documents/embeddings corpora actually grow; at sf0.001 -> sf0.01 they
are constant-size and only the TPC-H tables scale).

exponent = ln(t_hi / t_lo) / ln(size_ratio), where size_ratio is the
family's dominant table growth on that leg (x10 for every table except
embeddings, which grows x4 from sf0.01 to sf0.1). An exponent near 1 is
linear scaling; > 1.3 is flagged (the first place a hidden n^2 shows
before a 100x scale-up). Families with t_hi below a noise floor (2 s)
are never flagged: sub-second deltas are scheduling noise, not shape.

Usage: scaling.py <bench_sf0.001.json> <bench_sf0.01.json>
                  <bench_sf0.1.json> <out.json>
"""
import json
import math
import re
import sys

# ordered (family, regex) rules; first match wins
RULES = [
    ("streaming", r"^q_stream_"),
    ("scans", r"^q_scan_"),
    ("similarity", r"^q_(similarity|dedup_embed|centroid|quantize|pq_|"
                   r"knn_graph_embed|knn_graph_mixed|semdedup|dbscan)"),
    ("dedup_near", r"^q_(ngram_jaccard|dedup_minhash|dedup_clusters|"
                   r"dedup_keep|keep_best|minhash_calib|dedup_impact|"
                   r"cluster_sizes|sorted_neighborhood|containment|"
                   r"edit_distance|simhash|triangles|knn_graph|"
                   r"knn_clusters|source_overlap|rrf_fusion)"),
    ("dedup_exact", r"^q_(dedup_exact|dedup_delta|para_dedup|"
                    r"substring_dup|boilerplate)"),
    ("decontaminate", r"^q_contamination"),
    ("stats_ml", r"^q_(regression|nb_train|nb_classify|ab_test|"
                 r"info_gain|auc|calibration|kappa|ks_test|welch|"
                 r"spearman|bootstrap|lift|confusion|pca_|kmeans)"),
    ("tokenizers", r"^q_(bpe_train|bpe_apply|wordpiece_apply|"
                   r"unigram_viterbi|tokenizer_compare)"),
    ("selection", r"^q_(curriculum|quality_classifier|importance_resample|"
                  r"novelty|shard_tokens|skyline|ppl_bucket|token_budget|"
                  r"mix_apply|mix_weights|seq_pack|pack_stats|data_recipe|"
                  r"corpus_clean|weighted_sample|vocab_growth)"),
    ("textstats", r"^q_(textstats|token_count|quality|lang_id|fingerprint|"
                  r"repetition|char_diversity|vocab_coverage|surprisal|"
                  r"gopher_rules|"
                  r"cross_surprisal|fertility|lang_topk_terms|redact|"
                  r"normalize_entities|entity_spans)"),
    ("mining", r"^q_(bm25|pmi|inverted_index|textrank|chunk_overlap|tfidf|"
               r"bpe_pairs|ngram_lm|freq_spectrum|zipf_slope|assoc_rules|"
               r"js_div|gini|pagerank|ndcg)"),
    ("multimodal", r"^q_(multimodal|frame_sample)"),
    ("maintenance", r"^q_(cdc_merge|snapshot_diff|kanon|compaction_plan|"
                    r"zonemap|zorder|hilbert|l_diversity|constraints|quarantine)"),
    ("temporal", r"^q_(sessionize|funnel|retention|transitions|interpolate|"
                 r"resample|user_growth|scd2|asof|range_join|date_math|"
                 r"anomaly|survival|seasonality|cusum|trend_mk|xcorr|"
                 r"event_paths|dwell|attribution|rolling_actives|ltv)"),
    ("windows", r"^q_(window_frame|ntile_window|range_frame|first_last|"
                r"topk|wordcount)"),
    ("joins", r"^q_(join_|cross_join|bloom_join|fuzzy_join|tpch_)"),
    ("aggregates", r"^q_(distinct|rollup|cube|grouping_sets|count_distinct|"
                   r"approx_|hll_merge|percentile|median|heavy_hitters|"
                   r"cms_|minmax_by|collect_set|pivot|unpivot|skew_salt|"
                   r"histogram|drift|profile|outliers|benford|winsorize)"),
    ("setops_scalar", r"^q_(except|intersect|union_all|case_when|"
                      r"scalar_subquery|regex_extract|json_extract|"
                      r"null_semantics|array_ops|nested|sample|"
                      r"stratified_sample|shard_split|sort_limit)"),
    ("core", r"^q_"),
]

# dominant-table growth on the sf0.01 -> sf0.1 leg
SIZE_RATIO_HI = {"similarity": 4.0}
DEFAULT_RATIO_HI = 10.0
NOISE_FLOOR_S = 2.0
FLAG_EXPONENT = 1.3


def family_of(q):
    for fam, pat in RULES:
        if re.match(pat, q):
            return fam
    return "other"


def main():
    p001, p01, p1, out = sys.argv[1:5]
    benches = {sf: json.load(open(p))
               for sf, p in [("sf0.001", p001), ("sf0.01", p01),
                             ("sf0.1", p1)]}
    fams = {}
    for sf, b in benches.items():
        for q, t in b["queries"].items():
            if q in b.get("errors", {}):
                continue
            f = fams.setdefault(family_of(q), {})
            f.setdefault(sf, {"t": 0.0, "n": 0})
            f[sf]["t"] += t
            f[sf]["n"] += 1
    table = {}
    flagged = []
    for fam in sorted(fams):
        e = fams[fam]
        t001 = e.get("sf0.001", {}).get("t")
        t01 = e.get("sf0.01", {}).get("t")
        t1 = e.get("sf0.1", {}).get("t")
        row = {"n_queries": e.get("sf0.1", e.get("sf0.01", {})).get("n", 0),
               "t_sf0.001": round(t001, 3) if t001 is not None else None,
               "t_sf0.01": round(t01, 3) if t01 is not None else None,
               "t_sf0.1": round(t1, 3) if t1 is not None else None}
        if t01 is not None and t1 is not None and t01 > 0:
            ratio = t1 / t01
            size = SIZE_RATIO_HI.get(fam, DEFAULT_RATIO_HI)
            row["ratio_01_to_1"] = round(ratio, 2)
            row["size_ratio"] = size
            # constant overhead dominates when both legs are fast; the
            # exponent is only meaningful when real work scaled
            exp = math.log(max(ratio, 1e-9)) / math.log(size)
            row["exponent"] = round(exp, 3)
            row["flagged"] = bool(exp > FLAG_EXPONENT and t1 > NOISE_FLOOR_S)
            if row["flagged"]:
                flagged.append(fam)
        table[fam] = row
    art = {
        "metric": "scaling_curve",
        "legs": {"lo": "sf0.01", "hi": "sf0.1"},
        "size_ratios": {"default": DEFAULT_RATIO_HI,
                        "embeddings_families": SIZE_RATIO_HI},
        "noise_floor_s": NOISE_FLOOR_S,
        "flag_exponent": FLAG_EXPONENT,
        "families": table,
        "flagged": flagged,
    }
    with open(out, "w") as f:
        json.dump(art, f, indent=1, sort_keys=False)
    for fam, row in table.items():
        print(f"{fam:15s} n={row['n_queries']:3d} "
              f"t01={row['t_sf0.01']} t1={row['t_sf0.1']} "
              f"exp={row.get('exponent')} "
              f"{'FLAG' if row.get('flagged') else ''}")
    print(f"flagged: {flagged or 'none'}")


if __name__ == "__main__":
    main()
