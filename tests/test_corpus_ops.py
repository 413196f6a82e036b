"""Behavior pins for corpus ops whose catalog oracle only proves
engine-equality, not intent: the PII scrubber on crafted PII."""

from __future__ import annotations

from pyspark.sql import functions as F


def _scrub(spark, text: str) -> str:
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.col("text"),
            r"[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.]+",
            "<EMAIL>",
        ),
        r"[0-9][0-9 .-]{6,}[0-9]",
        "<NUM>",
    )
    return df.select(clean.alias("c")).collect()[0]["c"]


def test_scrub_masks_emails(spark):
    assert (
        _scrub(spark, "contact jane.doe+spam@mail.example.org today")
        == "contact <EMAIL> today"
    )


def test_scrub_masks_phone_shapes(spark):
    assert _scrub(spark, "call 06 12 34 56 78 now") == "call <NUM> now"
    assert _scrub(spark, "acct 1234-5678-9012") == "acct <NUM>"


def test_scrub_keeps_short_numbers_and_plain_text(spark):
    assert _scrub(spark, "room 42, floor 3") == "room 42, floor 3"
    assert _scrub(spark, "no pii here") == "no pii here"


def test_freq_items_superset_of_exact_heavy_hitters(spark, sf_dir):
    """freqItems' KPS guarantee: every key with frequency > support
    appears among the candidates (over-reporting allowed)."""
    from esther_apache_spark_spark import plans

    approx = {
        r["user_id"]
        for r in plans.QUERIES["heavy_hitter_users_approx"].fn(spark, sf_dir).collect()
    }
    from esther_apache_spark_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    truly_heavy = {
        r["user_id"]
        for r in ev.groupBy("user_id")
        .count()
        .filter(F.col("count") > 0.005 * total)
        .collect()
    }
    assert truly_heavy <= approx, "freqItems missed a true heavy hitter"


# Property: rolling_hash matches a pure-Python reference fold.
import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _py_rolling_hash(tokens, mod=2147483647):
    acc = 0
    for t in tokens:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        acc = (acc * 31 + h) % mod
    return acc


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(st.text(alphabet="abcxyz0189", min_size=1, max_size=8), max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_rolling_hash_matches_python_reference(spark, docs):
    from esther_apache_spark_spark.operators.textstats import rolling_hash

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)], "id long, toks array<string>"
    )
    got = {
        r["id"]: r["rh"]
        for r in df.select("id", rolling_hash(F.col("toks")).alias("rh")).collect()
    }
    assert got == {i: _py_rolling_hash(t) for i, t in enumerate(docs)}


def test_corpus_line_dedup_keep_first_policy(spark):
    """Crafted corpus: a boilerplate segment repeated in 4 docs survives
    only at its first (doc_id, seg_idx); a 2-occurrence segment is left
    alone; within-budget docs are untouched."""
    from esther_apache_spark_spark.operators.dedup import corpus_line_dedup

    boiler = " ".join(f"b{i}" for i in range(4))  # one full 4-token segment
    pair = " ".join(f"p{i}" for i in range(4))
    rows = [
        (1, boiler + " " + pair),           # segs: [boiler, pair]
        (2, boiler + " unique two words"),  # segs: [boiler, unique...]
        (3, boiler + " " + pair),           # segs: [boiler, pair] (pair df=2: kept)
        (4, "solo text right here " + boiler),  # segs: [solo..., boiler]
        (5, ""),                            # zero segments
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in corpus_line_dedup(df, seg_tokens=4, max_df=2).collect()
    }
    # boiler occurs 4x (> max_df): only doc 1 seg 0 keeps it
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 0)
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 1)
    assert (out[3]["n_kept"], out[3]["n_dropped"]) == (1, 1)
    assert (out[4]["n_kept"], out[4]["n_dropped"]) == (1, 1)
    assert (out[5]["n_segments"], out[5]["n_kept"]) == (0, 0)
    # doc 3 keeps exactly the pair segment -> same hash as a pair-only doc
    only_pair = corpus_line_dedup(
        spark.createDataFrame([(9, pair)], "doc_id long, text string"),
        seg_tokens=4,
        max_df=2,
    ).collect()[0]["text_hash"]
    assert out[3]["text_hash"] == only_pair


def test_duplicate_fraction_values(spark):
    from esther_apache_spark_spark.operators.textstats import duplicate_fraction

    df = spark.createDataFrame(
        [(["a", "a", "a", "b"],), ([],), (["x", "y"],)], "arr array<string>"
    )
    got = [r[0] for r in df.select(duplicate_fraction(F.col("arr"))).collect()]
    assert got == [0.5, 0.0, 0.0]


def test_approx_quantiles_rank_error_bound(spark, sf_dir):
    """percentile_approx(accuracy=10000) guarantees rank error <= n/10000
    (< 1 rank at test scale, but assert the formal bound): the value it
    returns for quantile q must sit at a rank within eps*n of q*n among
    the group's sorted values."""
    from esther_apache_spark_spark import plans
    from esther_apache_spark_spark.schemas import load_table

    got = {
        r["c_mktsegment"]: (r["p25"], r["p50"], r["p75"])
        for r in plans.QUERIES["approx_quantiles_by_segment"].fn(spark, sf_dir).collect()
    }
    rows = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal"
    ).collect()
    by_seg: dict[str, list[float]] = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], []).append(r["c_acctbal"])
    for seg, vals in by_seg.items():
        vals.sort()
        n = len(vals)
        eps = 1.0 / 10000
        for q, v in zip((0.25, 0.5, 0.75), got[seg]):
            # rank interval of v among the sorted group values
            lo = sum(1 for x in vals if x < v)
            hi = sum(1 for x in vals if x <= v)
            target = q * n
            assert lo - eps * n - 1 <= target <= hi + eps * n + 1, (
                f"{seg} q={q}: value {v} occupies ranks [{lo},{hi}] of {n}, "
                f"target {target}"
            )


def test_cap_docs_per_lang_stable_under_repartitioning(spark, sf_dir):
    """The per-lang cap must select the SAME doc set whatever the
    physical partitioning (the property that separates the seeded-hash
    reservoir from ORDER BY random() / df.sample)."""
    from esther_apache_spark_spark.operators.sampling import hash_bucket
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from esther_apache_spark_spark.schemas import load_table

    def run(docs):
        w = Window.partitionBy("lang").orderBy(
            hash_bucket(F.col("doc_id"), salt="cap"), F.col("doc_id")
        )
        out = (
            docs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 100)
            .select("doc_id", "lang")
        )
        return {(r["doc_id"], r["lang"]) for r in out.collect()}

    docs = load_table(spark, sf_dir, "documents")
    base = run(docs)
    assert base == run(docs.repartition(7))
    assert base == run(docs.repartition(1))


def test_uniqueness_rule_ignores_null_keys(spark):
    """A NULL key component is not a duplicate: 3 rows with k = 1, 2,
    NULL have zero uniqueness violations (the NULL row is not_null's
    business); genuine duplicates still count."""
    from esther_apache_spark_spark.operators import expectations as E

    df = spark.createDataFrame([(1,), (2,), (None,)], "k int")
    [row] = [
        r for r in E.check(df, [], unique_keys={"u": ["k"]}).collect()
        if r["rule"] == "u"
    ]
    assert row["violations"] == 0 and bool(row["passed"])

    dup = spark.createDataFrame([(1,), (1,), (None,), (None,)], "k int")
    [row] = [
        r for r in E.check(dup, [], unique_keys={"u": ["k"]}).collect()
        if r["rule"] == "u"
    ]
    assert row["violations"] == 1 and not bool(row["passed"])


def test_bpe_learn_survives_fully_merged_word(spark, tmp_path):
    """Regression (ADVICE r3): a word that collapses to ONE symbol
    mid-training used to make F.sequence(1, size-1) emit the
    DESCENDING [1, 0] (Spark defaults step to -1) and element_at(sy, 0)
    throw. The dominant two-char word here fully merges in 2 rounds;
    the remaining 4 rounds must proceed on the other words, matching
    the oracle's empty range(1, len) contribution for 1-symbol words."""
    from pyspark.sql import functions as F

    from esther_apache_spark_spark.plans.corpus_ops import _bpe_learn
    from esther_apache_spark_spark.scope import cache_scope

    text = " ".join(["aa"] * 50 + ["bcde", "bcdf", "bcdg", "bcdh", "bcdi"] * 3)
    docs = spark.createDataFrame(
        [(1, text, "en", "t", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    with cache_scope():
        merges, final = _bpe_learn(spark, str(tmp_path))
        syms = {
            r["sym"]
            for r in final.select(F.explode(F.split(F.trim("s"), " ")).alias("sym"))
            .collect()
        }
    # 'a </w>' (ASC tiebreak) then 'a a</w>' win the first two rounds,
    # collapsing "aa" to the single symbol 'aa</w>'
    assert (merges[0][1], merges[0][2]) == ("a", "</w>")
    assert (merges[1][1], merges[1][2]) == ("a", "a</w>")
    assert len(merges) == 6  # later rounds proceeded without crashing
    assert "aa</w>" in syms


def test_quality_classifier_exact_and_edge_cases(spark):
    """The linear classifier is exact by construction (dyadic weights):
    scores are reduction-order independent, zero-token docs survive with
    score = bias, and keep == (score > 0)."""
    from esther_apache_spark_spark.operators import textstats as TS

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "...!!!"), (3, None), (4, "a a a a")],
        "doc_id long, text string",
    )
    w = TS.quality_classifier_weights(spark)
    out = {r["doc_id"]: r for r in TS.quality_classifier_score(df, w).collect()}
    assert 3 not in out  # NULL text excluded
    assert out[2]["n_tokens"] == 0 and out[2]["score"] == 0.0
    assert not out[2]["keep"]
    for r in out.values():
        assert r["keep"] == (r["score"] > 0)
        assert abs(r["quality"]) <= 1.0
    # repartition-invariance of the float score (exact dyadic sums)
    out2 = {
        r["doc_id"]: r["score"]
        for r in TS.quality_classifier_score(df.repartition(7), w).collect()
    }
    assert {k: v["score"] for k, v in out.items()} == out2


def test_length_bucket_batches_over_budget_doc(spark, tmp_path):
    """Regression (ADVICE r5, medium): a doc longer than the 4096-token
    batch budget lands in a bucket >= 8192, where floor(4096/bucket)=0
    used to divide by zero under ANSI mode. The clamp routes it as one
    doc per batch — Spark and the oracle must agree on the guarded
    arithmetic."""
    import duckdb

    from esther_apache_spark_spark import plans

    docs = spark.createDataFrame(
        [
            (1, "w " * 5000, "en", "synth", 10000),  # 5000 ws tokens -> bucket 8192
            (2, "a b c", "en", "synth", 5),
            (3, "x " * 4097, "en", "synth", 8194),  # 4097 tokens -> bucket 8192
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "sf_overbudget")
    import os

    os.makedirs(d, exist_ok=True)
    docs.coalesce(1).toPandas().to_parquet(f"{d}/documents.parquet", index=False)

    spec = plans.QUERIES["length_bucket_batches"]
    got = {
        r["bucket"]: r for r in spec.fn(spark, d).collect()
    }
    assert got[8192]["n_docs"] == 2
    assert got[8192]["n_batches"] == 2  # clamp: one over-budget doc per batch
    assert got[4]["n_batches"] == 1

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    want = {int(r[0]): r for r in con.execute(spec.oracle).fetchall()}
    con.close()
    for b, r in got.items():
        assert int(want[b][1]) == r["n_docs"]
        assert int(want[b][3]) == r["n_batches"]
