"""No forced broadcast hints on scale-factor-growing relations.

A ``F.broadcast()`` hint overrides ``autoBroadcastJoinThreshold``
unconditionally. That is correct ONLY for sides whose size is bounded by
construction (nation=25 rows, region=5, 1-row scalar pre-aggregates, a
``limit``-capped vocab, a fixed-size query matrix). For anything that
grows with scale factor — customer/part/supplier, and any frame derived
from a fact or the corpus — the hint is right at sf0.1 and an OOM at
sf10^4: the 100 TB plan must be chosen by size statistics + AQE, which
still broadcast at test scale (test_plan_shapes asserts that) and
degrade to a shuffle join when the side no longer fits.

This test is the grep-level gate: every ``F.broadcast(<arg>)`` in
non-test source must appear in the allowlist below, with its
boundedness justification. Adding a new hint means adding an allowlist
entry — i.e. writing down WHY the side cannot grow with the data.
"""

from __future__ import annotations

import re
from pathlib import Path

SRC = Path(__file__).resolve().parent.parent / "esther_apache_spark_spark"

# (file relative to package, hinted identifier) -> why it is bounded.
ALLOWED: dict[tuple[str, str], str] = {
    # nation (25 rows) / region (5 rows) — constant-size TPC-H dims
    ("plans/parity.py", "n"): "nation, 25 rows at every sf",
    ("plans/parity.py", "r"): "region, 5 rows at every sf",
    ("plans/tpch_more.py", "nation"): "nation, 25 rows",
    ("plans/tpch_more.py", "region"): "region, 5 rows",
    ("plans/tpch_more.py", "n1"): "nation role subset",
    ("plans/tpch_more.py", "n2"): "nation role subset",
    ("plans/tpch_more.py", "n_cust"): "nation role projection",
    ("plans/tpch_more.py", "n_supp"): "nation role projection",
    ("plans/extensions.py", "load_table"): "wraps nation/region loads only",
    # 1-row scalar pre-aggregates
    ("plans/tpch_more.py", "avg_bal"): "global aggregate, 1 row",
    ("plans/tpch_more.py", "max_rev"): "global aggregate, 1 row",
    ("plans/tpch_more.py", "total"): "global aggregate, 1 row",
    ("plans/corpus_ops.py", "mean"): "global aggregate, 1 row",
    ("plans/corpus_ops.py", "n"): "global count, 1 row",
    ("plans/analytics.py", "sc"): "global count+avgdl aggregate, 1 row",
    ("plans/corpus_ops.py", "sc"): "global token-total+vocab-size aggregate, 1 row",
    ("plans/corpus_ops.py", "tot"): "global (total, k) aggregate, 1 row",
    ("operators/sampling.py", "maxq"): "global max aggregate, 1 row",
    ("plans/warehouse.py", "anchor"): "global max-orderdate aggregate, 1 row",
    ("plans/warehouse.py", "nation"): "nation, 25 rows",
    ("plans/warehouse.py", "region"): "region, 5 rows",
    ("plans/mlprep.py", "horizon"): "global max-ts aggregate, 1 row",
    ("plans/mlprep.py", "tot"): "global (ta, tb) token-total aggregate, 1 row",
    ("plans/warehouse.py", "seg_stats"): "per-segment (sum, n) pre-agg, bounded by the 5-value mktsegment domain",
    ("operators/sampling.py", "rates"): "one row per stratum value (#langs), bounded by the categorical domain",
    # explicitly capped frames
    ("plans/corpus_ops.py", "vocab"): "limit(1000) upstream",
    ("plans/corpus_ops.py", "dec_vocab"): "id->word projection of the limit(1000) vocab",
    ("operators/dedup.py", "hot"): "df-pruned stop-shingle set, capped by max_df selectivity on distinct shingles",
    # fixed-size query matrices (ANN query side is user-provided, small
    # by contract and collected to the driver anyway)
    # (raw, or bucketed by ann_topk_lsh — the same small-by-contract
    # query matrix either way)
    ("operators/similarity.py", "queries"): "query matrix, driver-collected by contract",
    # caller-gated opt-in (default off)
    ("operators/rangejoin.py", "ib"): "behind broadcast_intervals flag, caller asserts boundedness",
    # classifier weight table: one row per token-hash bucket, bounded by
    # the n_buckets MODEL constant (4096 default) — independent of sf
    ("operators/textstats.py", "weights"): "weight table, n_buckets rows (model constant)",
    # MMR rerank: both frames are slices of the BY-CONTRACT candidate
    # list (≤20 rows) / the ≤k selected ids
    ("plans/analytics.py", "b"): "MMR candidate list, ≤20 rows by contract",
    ("plans/analytics.py", "sel_ids"): "MMR selected set, ≤5 rows",
    # k-means centroid state: ONE row of k structs by construction
    # (collect_list over the k-row centroid frame; k is a model
    # constant independent of sf)
    ("operators/clustering.py", "cents1"): "collapsed centroid list, 1 row (k structs, model constant)",
    ("operators/similarity.py", "seed_ids"): "PQ seed ids, ksub rows (model constant)",
    ("operators/similarity.py", "by_sub"): "per-subspace centroid arrays, m_sub rows (model constant)",
    ("plans/mlprep.py", "nd"): "1-row day-count scalar (group-sequential look grid)",
    # Bloom filter words: ≤ ceil(m_bits/60) rows — a model constant
    # independent of how many keys were inserted
    ("operators/sketches.py", "words"): "Bloom words frame, ceil(m_bits/60) rows (model constant)",
    # FreshKart dims are fixed-size reference data (VERDICT r2: harmless)
    ("freshkart/pipeline.py", "customers_clean"): "fixed-size reference dim",
    ("freshkart/pipeline.py", "refunds_sum"): "per-order pre-agg of the fixed refunds feed",
    # AUC rank offsets: one row per score bucket, ≤1025 rows
    # (floor((score+1)*512) on scores in [-1,1] — a model constant)
    ("plans/evaluation.py", "bucket_offsets"): "score-bucket offsets, ≤1025 rows (model constant)",
}

# Identifiers that must NEVER be hinted anywhere: relations that grow
# linearly with scale factor (and their conventional aliases).
FORBIDDEN_NAMES = {
    "customer", "part", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
    "c", "s", "p", "o", "li",
    "part_avg", "bad_supp", "big", "best", "pt",
    "eval_fps", "eval_grams", "dim",
}

HINT_RE = re.compile(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)")


def _hints():
    for path in sorted(SRC.rglob("*.py")):
        rel = str(path.relative_to(SRC))
        text = path.read_text()
        for m in HINT_RE.finditer(text):
            yield rel, m.group(1)


def test_no_broadcast_hint_on_sf_scaled_relations():
    bad = [(f, ident) for f, ident in _hints() if ident in FORBIDDEN_NAMES]
    assert not bad, f"forced broadcast hints on sf-scaled relations: {bad}"


def test_every_broadcast_hint_is_allowlisted():
    unknown = [(f, ident) for f, ident in _hints() if (f, ident) not in ALLOWED]
    assert not unknown, (
        "unreviewed F.broadcast hints (add to ALLOWED with a boundedness "
        f"justification, or drop the hint): {unknown}"
    )
