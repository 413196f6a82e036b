"""Seeded input generation and the DuckDB-oracle expectations.

Each workload's inputs are synthesized from ``--seed`` alone (nothing is
read from outside the checkout), written as plain files, and cached per
(workload, size, seed, ``fingerprint``) under ``perfbench/.work/inputs``,
where the fingerprint hashes this module and the checked oracles' SQL.
Beside the files sits ``manifest.json``: input row counts and, for every
output the benchmark checks, the row count and a digest of the canonical
DuckDB oracle result over the same files. Generation and the oracle run
once per cache key, in the parent process, so neither is part of
``setup_s``.

A second seed changes contents but never sizes: row counts, the number of
planted near-duplicate clusters and their sizes are fixed per size class.
"""

from __future__ import annotations

import csv
import hashlib
import json
import math
import os
import random
import shutil
from datetime import date, timedelta

# dedup_embedding_cosine is left out: semantic_dedup_survivors runs the
# same SRP-LSH candidates and exact-cosine rerank (then CC), and a pass
# without it leaves room in the run budget for a second timed pass.
CORPUS_STEPS = (
    "dedup_minhash_lsh",
    "semantic_dedup_survivors",
    "lexical_dedup_survivors",
    "pack_training_sequences",
)
FRESHKART_STEP = "freshkart_etl"
# Written FreshKart outputs -> the catalog query whose oracle checks them.
FRESHKART_OUTPUTS = {
    "daily_city_sales_csv": "freshkart_daily_city_sales",
    "rejects_csv": "freshkart_rejects",
    "sqlite_orders_clean": "freshkart_orders_clean",
    "sqlite_daily_city_sales": "freshkart_daily_city_sales",
}

# Size classes. "full" is what BENCHMARK.json measures; "tiny" feeds the
# benchmark's own smoke tests.
SIZES = {
    "corpus_dedup": {
        # 250 documents with 12 planted copies (4.8 %): 10 pairs and one
        # triple, 23 documents (9.2 %) in clusters; 500 vectors, the
        # sf0.01 count. The quadratic DuckDB oracles bound the size (see
        # README.md).
        "full": {"docs": 250, "vecs": 500, "doc_clusters": (2,) * 10 + (3,)},
        "tiny": {"docs": 120, "vecs": 80, "doc_clusters": (2, 2, 3)},
    },
    "freshkart_etl": {
        "full": {"days": 31, "orders_per_day": 1030, "customers": 800},
        "tiny": {"days": 3, "orders_per_day": 40, "customers": 60},
    },
}

WORKLOADS = tuple(SIZES)

# ---------------------------------------------------------------------------
# canonical form shared by the oracle side and the Spark side
# ---------------------------------------------------------------------------


def _cell(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        f = round(f, 6)
        return f"{0.0 if f == 0 else f:.6f}"
    if hasattr(v, "item") and not isinstance(v, str):  # numpy scalar
        return _cell(v.item())
    return str(v)


def canon_digest(pdf) -> dict:
    """Row count, sorted column names and an order-insensitive digest of a
    pandas frame. Numbers compare as 6-decimal floats (an integer column
    on one side may read back as float on the other), NaN/None/-0.0 are
    normalized, everything else compares as its string form."""
    import pandas as pd

    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(None if (not isinstance(v, (list, tuple)) and pd.isna(v)) else v)
                    for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return {"rows": len(rows), "columns": cols, "digest": h.hexdigest()}


# ---------------------------------------------------------------------------
# corpus_dedup: documents + embeddings
#
# The shape is fitted to the corpus the package's catalog is tested and
# benchmarked on (the shared sf0.01 / sf0.1 ``documents`` and
# ``embeddings`` tables, 500 / 5,000 documents and 500 / 2,000 vectors),
# measured with DuckDB:
#
# - words per document: uniform 10..100 (min 10, quartiles 32 / 54-56 /
#   76, max 99-100, mean 54) over a 30-word vocabulary plus the copy
#   marker ``dup``;
# - ``lang``: drawn per row, en 41-44 %, zh / es / fr / de 13-15 % each;
#   ``source``: ``src{doc_id % 20}``;
# - near-duplicates: 5 % of the documents are a copy of another one with
#   `` dup`` appended (a copy of a copy appends it twice), at an unrelated
#   doc_id. At 3-gram Jaccard >= 0.5 that puts 9.4-9.5 % of the documents
#   in clusters, 96 % of the clusters pairs and the rest triples (sf0.1
#   also has one cluster of 4); unrelated documents stay below 0.14;
# - exact clones: 0 % (sf0.01) and 0.16 % (sf0.1) of the rows, so the
#   dup-mass probe of ``collapse_exact="auto"`` (threshold 10 %) takes the
#   direct, uncollapsed path on both;
# - embeddings: 64-dimensional unit vectors with no structure (mean
#   cosine 0.00 within a label and across labels, top pair cosine
#   0.51-0.60, no clones), labels 0..9 uniform. The cosine >= 0.4 pairs
#   are chance: at 500 vectors 20 % of them fall in 42 clusters, mostly
#   pairs, the largest of 8.
#
# A fixed base corpus (``_BASE_SEED``) keeps those chance structures the
# same for every seed; the seed picks which documents get copies, the
# ids and the row order.
# ---------------------------------------------------------------------------

_VOCAB = (
    "a the data spark query scan sort hash join group agg filter window row "
    "column table stream batch merge key value part line order customer "
    "vector fast slow big small"
).split()
_DUP_TOKEN = "dup"
_DOC_WORDS = (10, 100)
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_WEIGHTS = (0.42, 0.145, 0.145, 0.145, 0.145)
_N_SOURCES = 20
_BASE_SEED = 20240917  # fixed: the base corpus is the same for every seed
_EMBED_DIM = 64
_N_LABELS = 10


def _corpus(out: str, seed: int, spec: dict) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = random.Random(_BASE_SEED)
    rng = random.Random(seed)
    clusters = spec["doc_clusters"]
    n_base_docs = spec["docs"] - sum(k - 1 for k in clusters)
    texts = [
        " ".join(base.choice(_VOCAB) for _ in range(base.randint(*_DOC_WORDS)))
        for _ in range(n_base_docs)
    ]
    # Planted clusters: a cluster of k is a source and a chain of k - 1
    # copies, each appending one more marker. Every member pair keeps
    # 3-gram Jaccard >= (n - 2) / n >= 0.8 for n >= 10 words, so each
    # cluster is a k-clique whatever the seed picks.
    for src, k in zip(rng.sample(range(n_base_docs), len(clusters)), clusters):
        for j in range(1, k):
            texts.append(texts[src] + f" {_DUP_TOKEN}" * j)
    ids = list(range(len(texts)))
    rng.shuffle(ids)  # ids[i] is the doc_id of text i; copies land anywhere
    order = list(range(len(texts)))
    rng.shuffle(order)
    docs = {
        "doc_id": [ids[i] for i in order],
        "text": [texts[i] for i in order],
        "lang": rng.choices(_LANGS, _LANG_WEIGHTS, k=len(texts)),
        "source": [f"src{ids[i] % _N_SOURCES}" for i in order],
        "n_chars": [len(texts[i]) for i in order],
    }
    pq.write_table(
        pa.table(docs, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ])),
        f"{out}/documents.parquet",
    )

    # Embeddings: a fixed set of isotropic unit vectors with uniform
    # labels; the seed assigns the vec_ids and the row order.
    brng = np.random.default_rng(_BASE_SEED)
    vecs = brng.standard_normal((spec["vecs"], _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = brng.integers(0, _N_LABELS, spec["vecs"]).astype(np.int32)
    srng = np.random.default_rng(seed)
    vec_ids = srng.permutation(spec["vecs"])
    perm = srng.permutation(spec["vecs"])
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vec_ids[perm], pa.int64()),
                "embedding": pa.array([list(map(float, vecs[i])) for i in perm],
                                      pa.list_(pa.float32())),
                "label": pa.array(labels[perm], pa.int32()),
            }
        ),
        f"{out}/embeddings.parquet",
    )
    return {"documents": len(texts), "embeddings": spec["vecs"]}


# ---------------------------------------------------------------------------
# freshkart_etl: the FreshKart fixture shape (freshkart/fixture.py), scaled
# ---------------------------------------------------------------------------

_CITIES = ["Nice", "Marseille", "Paris", "Lille", "Lyon", "Toulouse", "Bordeaux", "Nantes"]
_CHANNELS = ["web", "store", "app"]
_REASONS = ["delay", "item_issue", "gesture", "coupon"]
_IS_ACTIVE_VARIANTS = [
    "1", "true", "yes", "y", "t", "TRUE", " True ", "0", "false", "no", "", "n", "False",
]


def _quarter(rng: random.Random, lo: float, hi: float) -> float:
    return rng.randrange(int(lo * 4), int(hi * 4) + 1) / 4.0


def _exact(rng: random.Random, n: int, share: float) -> set[int]:
    """Exactly round(n * share) positions of range(n), seed-chosen — so
    every dirty-data case has the same count for every seed."""
    return set(rng.sample(range(n), round(n * share)))


def _freshkart(out: str, seed: int, spec: dict) -> dict:
    """Same schema and dirty-data cases as the package's FreshKart
    fixture (dirty ``is_active`` variants, unknown customers, date-only
    ``created_at``, unpaid orders, negative prices, duplicated orders
    with exact ``created_at`` ties, uncastable refund amounts), with
    every case count fixed so sizes do not depend on the seed."""
    rng = random.Random(seed)
    n_cust = spec["customers"]
    dirty = _exact(rng, n_cust, 0.45)
    inactive = _exact(rng, n_cust, 0.2)
    with open(f"{out}/customers.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["customer_id", "first_name", "last_name", "email", "city", "is_active"])
        for i in range(n_cust):
            raw = (rng.choice(_IS_ACTIVE_VARIANTS) if i in dirty
                   else ("false" if i in inactive else "true"))
            w.writerow([f"C{i + 1:04d}", f"User{i + 1}", f"Test{i + 1}",
                        f"user{i + 1}@example.com", rng.choice(_CITIES), raw])

    start = date(2025, 3, 1)
    per_day = spec["orders_per_day"]
    paid: list[str] = []
    n_orders = 0
    for d in range(spec["days"]):
        day = start + timedelta(days=d)
        unknown = _exact(rng, per_day, 0.02)
        date_only = _exact(rng, per_day, 0.10)
        unpaid = _exact(rng, per_day, 0.15)
        dups = _exact(rng, per_day, 0.05)
        ties = set(rng.sample(sorted(dups), round(len(dups) * 0.3)))
        n_items = [1 + i % 4 for i in range(per_day)]
        rng.shuffle(n_items)
        rows = []
        for seq in range(per_day):
            order_id = f"O{day.strftime('%Y%m%d')}{seq + 1:04d}"
            cust = (f"C{rng.randint(900, 999):04d}XX" if seq in unknown
                    else f"C{rng.randint(1, n_cust):04d}")
            ts = f"{day.isoformat()} {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
            status = rng.choice(["pending", "failed", "refused"]) if seq in unpaid else "paid"
            items = [
                {
                    "sku": f"SKU{rng.randint(1, 500):04d}",
                    "qty": rng.randint(1, 5),
                    "unit_price": (-_quarter(rng, 0.25, 60.0) if rng.random() < 0.025
                                   else _quarter(rng, 0.25, 120.0)),
                }
                for _ in range(n_items[seq])
            ]
            row = {
                "order_id": order_id,
                "customer_id": cust,
                "channel": rng.choice(_CHANNELS),
                "created_at": day.isoformat() if seq in date_only else ts,
                "payment_status": status,
                "items": items,
            }
            rows.append(row)
            if status == "paid":
                paid.append(order_id)
            if seq in dups:
                dup = dict(row)
                if seq in ties:
                    dup["items"] = [{"sku": "SKU0001", "qty": 9, "unit_price": 0.25}]
                else:
                    dup["created_at"] = f"{day.isoformat()} 23:59:59"
                    dup["items"] = items[:1]
                rows.append(dup)
        n_orders += len(rows)
        with open(f"{out}/orders_{day.isoformat()}.json", "w") as f:
            json.dump(rows, f, indent=2)

    refunded = rng.sample(paid, round(len(paid) * 0.3))
    twice = set(rng.sample(refunded, round(len(refunded) * 0.2)))
    n_ref = len(refunded) + len(twice)
    bad = _exact(rng, n_ref, 0.02)
    seq = 0
    with open(f"{out}/refunds.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["refund_id", "order_id", "amount", "reason", "created_at"])
        for oid in refunded:
            for _ in range(2 if oid in twice else 1):
                amount = (rng.choice(["N/A", "err", "??"]) if seq in bad
                          else f"{-_quarter(rng, 0.25, 80.0):.2f}")
                w.writerow([f"R{seq + 1:06d}", oid, amount, rng.choice(_REASONS),
                            f"2025-04-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:"
                            f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"])
                seq += 1
    return {"orders": n_orders, "customers": n_cust, "refunds": n_ref}


# ---------------------------------------------------------------------------
# expectations
# ---------------------------------------------------------------------------


def freshkart_oracle(name: str, input_dir: str) -> str:
    """The catalog oracle of ``name`` rebound from the package's fixture
    directory to ``input_dir``."""
    from esther_apache_spark_spark.freshkart.fixture import FIXTURE_DIR
    from esther_apache_spark_spark.plans import QUERIES

    sql = QUERIES[name].oracle
    if FIXTURE_DIR not in sql:
        raise RuntimeError(f"{name}: oracle does not read the fixture dir")
    return sql.replace(FIXTURE_DIR, input_dir)


def _expectations(workload: str, input_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        if workload == "corpus_dedup":
            from esther_apache_spark_spark.plans import QUERIES

            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')"
                )
            return {s: canon_digest(con.execute(QUERIES[s].oracle).df()) for s in CORPUS_STEPS}
        out, results = {}, {}
        for output, query in FRESHKART_OUTPUTS.items():
            if query not in results:
                results[query] = con.execute(freshkart_oracle(query, input_dir)).df()
            pdf = results[query].copy()
            if output == "daily_city_sales_csv":
                # the CSV sink writes these with "%.2f"
                for c in ("items_sold", "gross_revenue_eur", "refunds_eur", "net_revenue_eur"):
                    pdf[c] = pdf[c].astype(float).round(2)
            out[output] = canon_digest(pdf)
        return out
    finally:
        con.close()


def fingerprint(workload: str) -> str:
    """Hash of everything a cached manifest depends on besides workload,
    size and seed: this module's source (the generator and the canonical
    form) and the oracle SQL of every checked output. A change to either
    misses the cache instead of checking against stale expectations."""
    from esther_apache_spark_spark.plans import QUERIES

    with open(__file__, "rb") as f:
        h = hashlib.sha256(f.read())
    names = CORPUS_STEPS if workload == "corpus_dedup" else sorted(set(FRESHKART_OUTPUTS.values()))
    for name in names:
        h.update(QUERIES[name].oracle.encode())
    return h.hexdigest()[:16]


def prepare(workload: str, seed: int, size: str, cache_root: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of one workload and seed. Returns
    the input directory and its manifest (input row counts and expected
    outputs)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    spec = SIZES[workload][size]
    version = fingerprint(workload)
    key = f"{workload}-{size}-seed{seed}-{version}"
    final = os.path.join(os.path.abspath(cache_root), key)
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return final, json.load(f)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        gen = _corpus if workload == "corpus_dedup" else _freshkart
        rows = gen(tmp, seed, spec)
        # the oracle SQL names files by absolute path: compute it over the
        # final location, so rename first
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        manifest = {
            "workload": workload, "seed": seed, "size": size, "version": version,
            "input_rows": rows, "expected": _expectations(workload, final),
        }
    except BaseException:
        shutil.rmtree(final, ignore_errors=True)
        raise
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1)
    os.rename(manifest_path + ".tmp", manifest_path)
    return final, manifest
