"""Property tests for the near-dup sketch family (SURVEY.md §7 M4).

MinHash/LSH are probabilistic; the properties verified are the ones the
constructions guarantee: exactness on identical inputs, precision-1 of
exact reranks, estimator accuracy within binomial error, and agreement
with brute-force Python reimplementations of the same definitions.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from esther_apache_spark_spark.operators import dedup as D


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )


def _py_tokenize(text):
    return [w for w in re.sub(r"[^\w\s]", "", text.lower()).strip().split() if w]


def _py_shingles(text, n=3):
    toks = _py_tokenize(text)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a, b):
    return len(a & b) / len(a | b) if a | b else 0.0


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall green trees today"
)
VARIANT = BASE.replace("lazy dog", "sleepy dog")  # near-dup
DISJOINT = (
    "completely different words about spark queries shuffles partitions "
    "joins aggregates windows caching and columnar execution engines"
)


def test_minhash_identical_docs_full_agreement(spark):
    df = _docs_df(spark, [BASE, BASE, DISJOINT])
    pairs = D.minhash_lsh_candidates(
        df, num_perm=32, bands=8, shingle_n=3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["sig_agreement"] for r in pairs}
    assert got.get((0, 1)) == 1.0  # identical docs: every signature position agrees


def test_minhash_agreement_estimates_jaccard(spark):
    """The estimator property holds for the md5 family's construction
    (60-bit base, mod-2^63 fold)."""
    texts = [BASE, VARIANT, DISJOINT]
    df = _docs_df(spark, texts)
    pairs = D.minhash_lsh_candidates(
        df, num_perm=64, bands=32, shingle_n=3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["sig_agreement"] for r in pairs}
    true_j = _jaccard(_py_shingles(BASE), _py_shingles(VARIANT))
    assert true_j > 0.5  # the variant is a genuine near-dup
    est = got.get((0, 1))
    assert est is not None, "near-dup pair not blocked by any band"
    # 64-perm binomial std: sqrt(J(1-J)/64) ~= 0.06; allow 4 sigma
    assert abs(est - true_j) < 4 * math.sqrt(true_j * (1 - true_j) / 64)


def test_ngram_jaccard_is_exact(spark):
    texts = [BASE, VARIANT, DISJOINT, BASE + " extra tail words here now"]
    df = _docs_df(spark, texts)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, shingle_n=3, threshold=0.0).collect()
    }
    sh = [_py_shingles(t) for t in texts]
    for (a, b), j in got.items():
        # exact int/int double ratio — bit-identical to the Python value
        assert j == _jaccard(sh[a], sh[b]), (a, b)
    # every overlapping pair is present (threshold 0 keeps all candidates)
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            if _jaccard(sh[a], sh[b]) > 0:
                assert (a, b) in got


def test_simhash_identical_zero_hamming(spark):
    df = _docs_df(spark, [BASE, BASE, DISJOINT])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_candidates(df).collect()
    }
    assert got.get((0, 1)) == 0
    if (0, 2) in got:  # if blocked at all, disjoint text is far away
        assert got[(0, 2)] > 8


def test_embedding_cosine_precision_and_recall(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((60, 16)).astype("float32")
    # plant 5 near-dup pairs: ids (50+i, i) with tiny noise
    for i in range(5):
        vecs[50 + i] = vecs[i] + rng.standard_normal(16).astype("float32") * 0.05
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_cosine_dups(
            df, threshold=0.9, n_planes=4, n_tables=12
        ).collect()
    }
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = norm @ norm.T
    # precision 1: every reported pair is a true >= threshold pair
    for (a, b), c in got.items():
        assert cos[a, b] >= 0.9 - 1e-4, (a, b, c, cos[a, b])
        assert c == pytest.approx(round(float(cos[a, b]), 4), abs=2e-4)
    # high recall on the planted near-identical pairs (cosine ~0.999)
    planted = [(i, 50 + i) for i in range(5) if cos[i, 50 + i] >= 0.9]
    found = sum(1 for p in planted if p in got)
    assert found >= len(planted) - 1, (found, len(planted))


def test_srp_vec_matches_expression_form(spark):
    from esther_apache_spark_spark.operators.similarity import (
        srp_table_buckets,
        srp_table_buckets_vec,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 16)).astype("float32")
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    expr = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", srp_table_buckets(F.col("embedding"), 16, 4, 12, 42).alias("b")
        ).collect()
    }
    vec = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", srp_table_buckets_vec(F.col("embedding"), 16, 4, 12, 42).alias("b")
        ).collect()
    }
    assert expr == vec


def test_simhash_vec_matches_python_vote_rule(spark):
    """``simhash_vec`` over md5 token hashes equals a pure-Python
    60-bit SimHash: bit i is set iff at least half of the tokens' hashes
    have bit i set. The empty text sets every bit."""
    from esther_apache_spark_spark.functions.text import tokenize

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "pack my box with five dozen liquor jugs",
        3: "",
        4: "a",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = dict(
        df.select(
            "doc_id",
            D.simhash_vec(
                F.transform(tokenize(F.col("text")), lambda t: D.md5_long(t))
            ).alias("fp"),
        ).collect()
    )

    def ref(text):
        hashes = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in _py_tokenize(text)]
        return sum(
            1 << i
            for i in range(60)
            if 2 * sum((h >> i) & 1 for h in hashes) >= len(hashes)
        )

    assert got == {i: ref(t) for i, t in texts.items()}
    assert got[3] == 2**60 - 1


def test_tokenize_sql_independent_of_escaped_string_literals(spark):
    """``tokenize_sql`` tokenizes exactly like ``tokenize`` whether or
    not the session parses SQL string literals with escapes."""
    from esther_apache_spark_spark.functions.text import tokenize, tokenize_sql

    conf = "spark.sql.parser.escapedStringLiterals"
    df = spark.createDataFrame([("Hello, World!\tA_b",)], "text string")
    want = df.select(tokenize(F.col("text"))).first()[0]
    assert want == ["hello", "world", "a_b"]
    old = spark.conf.getAll.get(conf)
    try:
        for setting in ("true", "false"):
            spark.conf.set(conf, setting)
            got = df.selectExpr(tokenize_sql("text")).first()[0]
            assert got == want, setting
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_minhash_vec_properties(spark):
    """Fast-path signature invariants: order-independence, identity on
    equal sets, and agreement bounded away from 1 for disjoint sets."""
    from esther_apache_spark_spark.operators.dedup import minhash_signature_vec

    df = spark.createDataFrame(
        [
            (1, [10, 20, 30, 40, 50]),
            (2, [50, 40, 30, 20, 10]),   # same set, different order
            (3, [60, 70, 80, 90, 100]),  # disjoint
            (4, []),                      # empty -> LONG_MAX sentinel
        ],
        "id long, h array<long>",
    )
    sigs = {
        r["id"]: tuple(r["s"])
        for r in df.select("id", minhash_signature_vec(F.col("h"), 32).alias("s")).collect()
    }
    assert sigs[1] == sigs[2]
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3])) / 32
    assert agree < 0.35  # true Jaccard 0; binomial tail bound
    assert all(v == 9223372036854775807 for v in sigs[4])


def test_embedding_collapse_exact_preserves_pair_set(spark, sf_dir):
    """collapse_exact must emit EXACTLY the pair set of the direct
    pipeline on a corpus with planted clone clusters (the sf1 replica
    shape: identical vectors under shifted ids)."""
    from pyspark.sql import functions as F

    from esther_apache_spark_spark.operators.dedup import embedding_cosine_dups
    from esther_apache_spark_spark.schemas import EMBEDDING_DIM, load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").limit(60)
    cloned = emb
    for i in (1, 2):
        cloned = cloned.unionByName(
            emb.select(
                (F.col("vec_id") + F.lit(1_000_000 * i)).alias("vec_id"), "embedding"
            )
        )
    kw = dict(threshold=0.4, n_planes=4, n_tables=12, dim=EMBEDDING_DIM)
    fast = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_cosine_dups(cloned, collapse_exact=True, **kw).collect()
    }
    slow = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_cosine_dups(cloned, collapse_exact=False, **kw).collect()
    }
    assert fast == slow
    assert len(fast) >= 3 * 60  # at least the intra-clone pairs exist


def test_text_collapse_preserves_pair_sets(spark, sf_dir):
    """minhash/simhash collapse_exact must emit EXACTLY the direct
    pipeline's pair set on a corpus with planted identical clones."""
    from pyspark.sql import functions as F

    from esther_apache_spark_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_candidates,
    )
    from esther_apache_spark_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(80)
    cloned = docs
    for i in (1, 2):
        cloned = cloned.unionByName(
            docs.select((F.col("doc_id") + F.lit(1_000_000 * i)).alias("doc_id"), "text")
        )

    def pairs(df):
        return {tuple(r) for r in df.collect()}

    mh_fast = pairs(minhash_lsh_candidates(cloned, collapse_exact=True))
    mh_slow = pairs(minhash_lsh_candidates(cloned, collapse_exact=False))
    assert mh_fast == mh_slow and len(mh_fast) >= 3 * 80

    sh_fast = pairs(simhash_candidates(cloned, collapse_exact=True))
    sh_slow = pairs(simhash_candidates(cloned, collapse_exact=False))
    assert sh_fast == sh_slow and len(sh_fast) >= 3 * 80


def test_embedding_collapse_zero_vector_groups_excluded(spark):
    """Zero-norm clone groups must produce NO intra pairs under
    collapse_exact (cosine undefined), matching the direct kernel's
    zero-norm exclusion; nonzero clones still pair."""
    import numpy as np
    from pyspark.sql import types as T

    from esther_apache_spark_spark.operators.dedup import embedding_cosine_dups

    rng = np.random.default_rng(11)
    v = rng.standard_normal(8)
    rows = (
        [(i, [0.0] * 8) for i in range(3)]          # zero-vector clones
        + [(10 + i, [float(x) for x in v]) for i in range(3)]  # real clones
    )
    df = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    for collapse in (True, False):
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_cosine_dups(
                df, threshold=0.4, dim=8, collapse_exact=collapse
            ).collect()
        }
        assert got == {(10, 11), (10, 12), (11, 12)}, (collapse, got)


def test_embedding_collapse_null_elements_not_conflated(spark):
    """Vectors whose element lists differ only in NULL placement must
    NOT share a collapse key: concat_ws silently drops nulls, so
    [1,2,null] and [1,null,2] would collide and the representative's
    vector would stand in for a DIFFERENT vector downstream. The
    JSON-based key encodes nulls explicitly. (The zero-norm/NaN guards
    downstream mask most external symptoms at fixed width, so this is
    a contract test on the full-operator output: null-bearing vectors
    have undefined cosine, and the only pair the operator may emit is
    between the byte-identical null-FREE clones.)"""
    from pyspark.sql import types as T

    from esther_apache_spark_spark.operators.dedup import embedding_cosine_dups

    rows = [
        (1, [1.0, 2.0, None]),   # null-bearing
        (2, [1.0, None, 2.0]),   # same multiset, different null slot
        (3, [1.0, 2.0, None]),   # exact clone of 1 (still null-bearing)
        (10, [1.0, 2.0, 3.0]),   # clean clones — the only valid pair
        (11, [1.0, 2.0, 3.0]),
    ]
    df = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_dups(
            df, threshold=0.4, dim=3, collapse_exact=True
        ).collect()
    }
    assert got == {(10, 11)}, got


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persistent_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_cache_scope_frees_storage_after_composed_pipeline(spark):
    """A pipeline composing several dedup passes in one session must be
    able to free each pass's plan-barrier caches: inside cache_scope the
    operators cache as usual; on exit every enrolled frame is
    unpersisted. Tracked by RDD ID (not count): the async ContextCleaner
    reaps stale entries from EARLIER tests at its own pace, so absolute
    counts against a pre-scope baseline are racy in a shared session."""
    from esther_apache_spark_spark.operators.dedup import (
        cache_scope,
        minhash_lsh_candidates,
        simhash_candidates,
    )

    texts = [
        f"document {i} about {'spark' if i % 2 else 'pandas'} engines "
        f"with shared middle section of recurring words and tail {i}"
        for i in range(30)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    before = _persistent_ids(spark)
    with cache_scope():
        mh = minhash_lsh_candidates(docs)
        sh = simhash_candidates(docs)
        mh.count()
        sh.count()
        created = _persistent_ids(spark) - before
        assert created  # caches live inside the scope
    assert not (_persistent_ids(spark) & created)  # and are freed on exit


def test_cache_scope_nests_and_default_unscoped_behavior_unchanged(spark):
    """Nested scopes free only their own frames; outside any scope the
    operators still cache (and the cache survives materialization, the
    pre-existing single-query behavior)."""
    from esther_apache_spark_spark.operators.dedup import (
        cache_scope,
        simhash_candidates,
    )

    docs = spark.createDataFrame(
        [(i, f"text body number {i} with words {i*3}") for i in range(10)],
        "doc_id long, text string",
    )
    # distinct input for the inner scope: Spark's CacheManager dedups
    # identical plans, so re-caching the SAME plan would not create a
    # new entry (and inner unpersist would drop the shared one)
    docs2 = spark.createDataFrame(
        [(i, f"other corpus line {i} carrying words {i*7}") for i in range(10)],
        "doc_id long, text string",
    )
    base = _n_persistent(spark)
    with cache_scope():
        simhash_candidates(docs).count()
        outer_level = _n_persistent(spark)
        with cache_scope():
            simhash_candidates(docs2).count()
            assert _n_persistent(spark) > outer_level
        assert _n_persistent(spark) == outer_level  # inner freed only its own
    assert _n_persistent(spark) == base

    # unscoped: cache persists until the caller clears it
    simhash_candidates(docs).count()
    assert _n_persistent(spark) > base
    spark.catalog.clearCache()


def test_substring_dup_spans_finds_planted_passage(spark):
    """A shared 10-token passage planted mid-document in otherwise
    unique docs is reported as one maximal span per doc, with exact
    token offsets: windows at positions p..p+2 (k=8 over 10 tokens)
    merge into (start=p, len=10)."""
    from esther_apache_spark_spark.operators.dedup import substring_dup_spans

    passage = " ".join(f"shared{i}" for i in range(10))
    rows = [
        (1, f"u1a u1b u1c {passage} u1d u1e"),          # passage at pos 3
        (2, f"{passage} v2a v2b v2c v2d"),               # passage at pos 0
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),   # no dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, substring_dup_spans(df, k=8).collect()))
    assert got == [(1, 3, 10), (2, 0, 10)]


def test_substring_dup_spans_within_doc_repeat_not_duplicated(spark):
    """A passage repeated INSIDE one document but present in no other
    doc is not a cross-doc duplicate (distinct-doc frequency gate)."""
    from esther_apache_spark_spark.operators.dedup import substring_dup_spans

    passage = " ".join(f"rep{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, f"{passage} mid1 mid2 {passage}"), (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9")],
        "doc_id long, text string",
    )
    assert substring_dup_spans(df, k=8).count() == 0


def test_substring_dup_spans_boilerplate_scale_guard(spark):
    """Scale guard: a boilerplate passage shared by 1000 docs must cost
    O(occurrences), not O(docs²) — the result is one span per doc
    (1000 rows, not ~500k pair rows) and the physical plan contains no
    cartesian/nested-loop join."""
    from esther_apache_spark_spark.operators.dedup import substring_dup_spans

    passage = " ".join(f"boiler{i}" for i in range(12))
    rows = [(i, f"unique{i}a unique{i}b {passage} unique{i}c") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = substring_dup_spans(df, k=8)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    out = res.collect()
    assert len(out) == 1000
    assert all(r["span_start"] == 2 and r["span_len"] == 12 for r in out)


def test_substring_spans_any_scope_catches_within_doc_repeat(spark):
    """scope='any': a passage repeated inside ONE document qualifies
    (total occurrences, not distinct docs) — the within-doc trimming
    variant; cross_doc scope stays blind to it."""
    from esther_apache_spark_spark.operators.dedup import substring_dup_spans

    passage = " ".join(f"rep{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, f"{passage} mid1 mid2 {passage}"), (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9")],
        "doc_id long, text string",
    )
    got = sorted(map(tuple, substring_dup_spans(df, k=8, scope="any").collect()))
    # both copies of the 8-token passage are flagged in doc 1
    assert got == [(1, 0, 8), (1, 10, 8)]
    assert substring_dup_spans(df, k=8, scope="cross_doc").count() == 0


def test_minhash_cross_matches_planted_contamination(spark):
    """Cross-corpus matcher: an exact copy of a probe doc in the corpus
    matches at full signature agreement; an edited near-copy matches
    above the threshold; unrelated docs never pair."""
    from esther_apache_spark_spark.operators.dedup import minhash_cross_matches

    eval_text = " ".join(f"evalword{i}" for i in range(30))
    # one edited LAST word → only 1 of 28 shingles differs (Jaccard
    # ≈ 0.93), far enough above the 0.5 threshold that the signatures
    # land a band meet and ≥16/32 agreement
    near = " ".join(f"evalword{i}" if i != 29 else "edited29" for i in range(30))
    other = " ".join(f"unrelated{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, eval_text), (2, near), (3, other)], "doc_id long, text string"
    )
    probes = spark.createDataFrame([(100, eval_text)], "doc_id long, text string")
    got = {
        r["id_a"]: (r["id_b"], r["n_agree"])
        for r in minhash_cross_matches(
            corpus, probes, num_perm=32, bands=8, shingle_n=3, min_agree=16
        ).collect()
    }
    assert got[1] == (100, 32)  # identical text: all positions agree
    assert 2 in got and got[2][1] >= 16  # near-copy above threshold
    assert 3 not in got  # unrelated never pairs


def test_minhash_cross_matches_rejects_bad_threshold(spark):
    from esther_apache_spark_spark.operators.dedup import minhash_cross_matches

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pt

    with _pt.raises(ValueError):
        minhash_cross_matches(df, df, num_perm=32, min_agree=33)


def test_minhash_cross_matches_empty_probe_side(spark):
    """No probes → no matches, and the plan still executes (empty build
    side must not error the band join)."""
    from esther_apache_spark_spark.operators.dedup import minhash_cross_matches

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    probes = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_cross_matches(corpus, probes, min_agree=16).count() == 0


def test_persist_storage_level_exposed(spark):
    """VERDICT r06 #6: the plan-barrier cache helper persists at
    MEMORY_AND_DISK (cache()'s own level, the right one when a cached
    frame outgrows executor memory), visible on the frame's
    storageLevel. Explicit levels live on FreshKart's
    ``dim_storage_level`` (next test)."""
    from esther_apache_spark_spark.scope import cached

    c = cached(spark.range(10).selectExpr("id * 2 AS x"))
    assert c.storageLevel.useMemory and c.storageLevel.useDisk
    c.unpersist()


def test_freshkart_dim_storage_level_param(spark):
    """The freshkart dim cache accepts an explicit StorageLevel and the
    pipeline's outputs are unchanged under it."""
    from pyspark import StorageLevel

    from esther_apache_spark_spark.freshkart import (
        ensure_fixture,
        run_freshkart_pipeline,
    )

    fix = ensure_fixture()
    default = run_freshkart_pipeline(spark, fix)
    disk = run_freshkart_pipeline(spark, fix, dim_storage_level=StorageLevel.DISK_ONLY)
    a = sorted(map(tuple, default["daily_city_sales"].collect()))
    b = sorted(map(tuple, disk["daily_city_sales"].collect()))
    assert a == b


def test_ngram_collapse_max_df_weighted_by_members(spark):
    """ADVICE r7: under collapse_exact, max_df pruning must count a
    shingle's document frequency over MEMBER docs (representative rows
    weighted by clone-group size), not distinct texts — otherwise near
    the cap the collapsed path emits pairs the direct path (and any
    df-mirroring oracle) prunes. Construction: shingle "a b c" lives in
    4 member docs (a 3-deep clone of t1, plus t2) but only 2 distinct
    texts; max_df=3 prunes it on the direct path, so the collapsed path
    must prune it too — cross-text pairs vanish, intra-clone pairs
    survive via the unpruned "b c d" (member df exactly 3)."""
    t1 = "a b c d"  # shingles {abc, bcd}
    t2 = "z a b c"  # shingles {zab, abc}; overlap with t1 = {abc} only
    df = _docs_df(spark, [t1, t1, t1, t2])

    def pairs(d):
        return {(r["id_a"], r["id_b"]) for r in d.collect()}

    kw = dict(shingle_n=3, threshold=0.3, max_df=3)
    direct = pairs(D.ngram_jaccard_pairs(df, **kw))
    collapsed = pairs(D.ngram_jaccard_pairs(df, collapse_exact=True, **kw))
    # direct: abc pruned (member df 4 > 3) → no cross pair to doc 3;
    # clones still pair through bcd (df 3)
    assert direct == {(0, 1), (0, 2), (1, 2)}
    assert collapsed == direct
    # sanity: without pruning both paths agree on the full pair set
    # (cross pairs appear — jaccard(t1,t2) = 1/3 ≥ 0.3)
    kw_full = dict(shingle_n=3, threshold=0.3, max_df=None)
    direct_full = pairs(D.ngram_jaccard_pairs(df, **kw_full))
    collapsed_full = pairs(
        D.ngram_jaccard_pairs(df, collapse_exact=True, **kw_full)
    )
    assert direct_full == collapsed_full
    assert direct_full == direct | {(0, 3), (1, 3), (2, 3)}


def test_auto_collapse_dup_mass_probe(spark):
    """VERDICT r7 #1: collapse_exact="auto" (now the default on all four
    pair-level dedup APIs) probes exact-duplicate mass with one narrow
    aggregate and flips the clone-collapse front end on only above
    AUTO_COLLAPSE_DUP_MASS. Pins: (1) the resolver's decisions on
    clone-free vs clone-heavy corpora, (2) pass-through of explicit
    True/False, (3) end-to-end pair-set equality between the auto path
    (collapse fires) and the forced-direct path on a clone-heavy corpus."""
    key = F.md5(F.coalesce(F.col("text"), F.lit("")))
    distinct = _docs_df(
        spark, [f"unique document {i} alpha beta gamma delta" for i in range(40)]
    )
    assert D._resolve_collapse_exact(distinct, key, "auto", "t") is False
    # 40 distinct texts × 5 clones each → dup mass 0.8 ≫ threshold
    heavy = distinct
    for i in (1, 2, 3, 4):
        heavy = heavy.unionByName(
            distinct.select(
                (F.col("doc_id") + F.lit(10_000 * i)).alias("doc_id"), "text"
            )
        )
    assert D._resolve_collapse_exact(heavy, key, "auto", "t") is True
    # explicit knob bypasses the probe entirely
    assert D._resolve_collapse_exact(distinct, key, True, "t") is True
    assert D._resolve_collapse_exact(heavy, key, False, "t") is False

    def pairs(d):
        return {(r["id_a"], r["id_b"]) for r in d.select("id_a", "id_b").collect()}

    # auto fires collapse on the clone-heavy corpus; output must equal
    # the forced-direct pair set (clone groups of 5 ≪ every cap)
    auto = pairs(D.simhash_candidates(heavy))
    direct = pairs(D.simhash_candidates(heavy, collapse_exact=False))
    assert auto == direct and len(auto) >= 4 * 40
    auto_ng = pairs(D.ngram_jaccard_pairs(heavy, threshold=0.5))
    direct_ng = pairs(D.ngram_jaccard_pairs(heavy, threshold=0.5, collapse_exact=False))
    assert auto_ng == direct_ng
