"""Data-quality expectations: violation queries, gate composition, and
observe()-based inline load metrics."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipelinerepo_spark.plans.quality import (
    accepted_values,
    check_expectations,
    duplicate_keys,
    null_keys,
    orphan_keys,
    with_load_metrics,
)


def _child(spark):
    return spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 99, "c"), (4, None, "a"), (2, 11, "zz")],
        "id long, parent_id long, tag string",
    )


def _parent(spark):
    return spark.createDataFrame([(10,), (11,)], "parent_id long")


def test_duplicate_keys(spark):
    v = duplicate_keys(_child(spark), "id").collect()
    assert [(r["id"], r["n_rows"]) for r in v] == [(2, 2)]


def test_null_and_orphan_keys(spark):
    c, p = _child(spark), _parent(spark)
    assert {r["id"] for r in null_keys(c, "parent_id").collect()} == {4}
    # NULL key is NOT an orphan; 99 is
    assert {r["id"] for r in orphan_keys(c, p, "parent_id").collect()} == {3}


def test_accepted_values(spark):
    v = accepted_values(_child(spark), "tag", ["a", "b", "c"]).collect()
    assert {r["id"] for r in v} == {2}  # the "zz" row (id 2, second copy)


def test_check_expectations_gate(spark):
    c, p = _child(spark), _parent(spark)
    results = check_expectations(
        {
            "unique_id": duplicate_keys(c, "id"),
            "fk_parent": orphan_keys(c, p, "parent_id"),
            "no_null_parent": null_keys(c, "parent_id"),
        }
    )
    by_name = {r.name: r for r in results}
    assert not by_name["unique_id"].passed and by_name["unique_id"].violations == 1
    assert by_name["fk_parent"].violations == 1
    clean = check_expectations({"unique_parent": duplicate_keys(p, "parent_id")})
    assert clean[0].passed


def test_fail_fast_stops_early(spark):
    c = _child(spark)
    results = check_expectations(
        {"dupes": duplicate_keys(c, "id"), "never_evaluated": null_keys(c, "id")},
        fail_fast=True,
    )
    assert len(results) == 1 and not results[0].passed


def test_observe_metrics_ride_the_action(spark, tmp_path):
    df, obs = with_load_metrics(_child(spark), key_cols=["parent_id", "tag"])
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the load IS the scan
    m = obs.get
    assert m["n_rows"] == 5
    assert m["null_parent_id"] == 1
    assert m["null_tag"] == 0


def test_text_operators_tolerate_null_and_empty_text(spark):
    """NULL and empty text rows must degrade (row absent, zeros, or
    keep=false), never throw — a 100 TB corpus always contains them."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datapipelinerepo_spark.operators import dedup as D
    from datapipelinerepo_spark.operators import text as T

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(
        [(1, "the quick brown fox and the dog"), (2, None), (3, "")], schema
    )
    for fn in (
        T.quality_features,
        T.language_id,
        T.fingerprint,
        T.gopher_rules,
        T.token_entropy,
        T.ngram_novelty,
        T.zipf_fit,
        T.tf_idf,
        T.unigram_perplexity,
        T.redact_pii,
        T.line_dedup,
        D.exact_dedup,
        lambda d: T.bm25_topk(d, ("the",)),
    ):
        assert fn(df).count() >= 0  # no exception is the contract
    g = {r["doc_id"]: r for r in T.gopher_rules(df).collect()}
    assert not g[2]["keep"] and not g[3]["keep"]
    assert g[3]["n_words"] == 0


def test_line_dedup_preserves_paragraph_breaks_and_null_docs(spark):
    """Blank lines are structure, not boilerplate: two docs with
    paragraph breaks keep them; a NULL-text doc still yields its row
    (code-review r5)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datapipelinerepo_spark.operators.text import line_dedup

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(
        [
            (1, "para one\n\npara two\nSHARED FOOTER"),
            (2, "other start\n\nother end\nSHARED FOOTER"),
            (3, None),
        ],
        schema,
    )
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert out[1]["clean_text"] == "para one\n\npara two"
    assert out[2]["clean_text"] == "other start\n\nother end"
    assert 3 in out  # NULL doc keeps its row
    assert out[1]["n_dropped"] == 1  # only the footer


def test_mix_samplers_keep_null_groups(spark):
    """A NULL group key is a real group: its rows sample at their own
    rate instead of silently vanishing while skewing everyone else's
    rate (code-review r5)."""
    from datapipelinerepo_spark.operators.sampling import (
        rebalance_mix,
        temperature_mix,
    )

    rows = [(i, "en") for i in range(40)] + [(100 + i, None) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    for fn in (rebalance_mix, lambda d: temperature_mix(d, alpha=0.5)):
        out = fn(df).groupBy("lang").count().collect()
        got = {r["lang"]: r["count"] for r in out}
        assert got.get(None, 0) > 0, "NULL group dropped"
        assert got.get("en", 0) > 0


def test_linear_model_score_empty_text_no_crash(spark):
    """Zero-token docs score 0.5 (no evidence) instead of an ANSI
    DIVIDE_BY_ZERO (code-review r5)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datapipelinerepo_spark.operators.text import linear_model_score

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, None)], schema)
    out = {r["doc_id"]: r["model_score"] for r in linear_model_score(df).collect()}
    assert all(v == 0.5 for v in out.values())


def test_bm25_query_terms_case_insensitive(spark):
    """Query terms are lowercased like document tokens, so 'Paris'
    matches (code-review r5)."""
    from datapipelinerepo_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [(1, "Paris is lovely in spring"), (2, "nothing relevant here")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"] for r in bm25_topk(df, ("Paris",), k=5).collect()}
    assert out == {1}


def test_gram_operators_ignore_boundary_whitespace(spark):
    """Leading/trailing whitespace must not fabricate phantom ''-token
    n-grams: counts equal those of the stripped text (code-review r5,
    the ws_tokens canon)."""
    from datapipelinerepo_spark.operators.text import (
        ngram_novelty,
        repetition_features,
    )

    clean = spark.createDataFrame([(1, "x y x y x y")], ["doc_id", "text"])
    messy = spark.createDataFrame([(1, "  x y x y x y \n")], ["doc_id", "text"])
    for fn in (lambda d: repetition_features(d, n=2), lambda d: ngram_novelty(d, n=3)):
        a = [tuple(r) for r in fn(clean).collect()]
        b = [tuple(r) for r in fn(messy).collect()]
        assert a == b


def test_python_xxhash64_matches_spark(spark):
    """functions/xxhash.py's contract: the pure-Python XXH64 must be
    BIT-EXACT with Spark's xxhash64 expression for every type the
    driver-side bucket router supports — longs (full range), ints,
    strings (every length class of the algorithm: <4, <8, <32, >=32,
    unicode, NULs), booleans, NULLs, and composite chaining — plus
    bucket parity against the store's own _kb_expr."""
    import random

    from pyspark.sql import functions as F

    from datapipelinerepo_spark.functions.xxhash import bucket_of, xxhash64

    rnd = random.Random(7)
    longs = [0, 1, -1, 2**63 - 1, -(2**63), 42] + [
        rnd.randint(-(2**63), 2**63 - 1) for _ in range(150)
    ]
    df = spark.createDataFrame([(v,) for v in longs], "v long")
    assert [r[0] for r in df.select(F.xxhash64("v")).collect()] == [
        xxhash64((v,), ("bigint",)) for v in longs
    ]
    ints = [0, 1, -1, 2**31 - 1, -(2**31)] + [
        rnd.randint(-(2**31), 2**31 - 1) for _ in range(150)
    ]
    df = spark.createDataFrame([(v,) for v in ints], "v int")
    assert [r[0] for r in df.select(F.xxhash64("v")).collect()] == [
        xxhash64((v,), ("int",)) for v in ints
    ]
    strs = [
        "", "a", "abc", "abcd", "abcdefg", "abcdefgh", "x" * 31,
        "y" * 32, "z" * 33, "w" * 100, "héllo ✓" * 5, "\x00\x01",
    ] + [
        "".join(rnd.choice("abcdefghij ") for _ in range(rnd.randint(0, 80)))
        for _ in range(80)
    ]
    df = spark.createDataFrame([(v,) for v in strs], "v string")
    assert [r[0] for r in df.select(F.xxhash64("v")).collect()] == [
        xxhash64((v,), ("string",)) for v in strs
    ]
    df = spark.createDataFrame(
        [(None, "x", 5), (3, None, None), (None, None, None), (7, "y", 8)],
        "a int, b string, c bigint",
    )
    assert [r[0] for r in df.select(F.xxhash64("a", "b", "c")).collect()] == [
        xxhash64(t, ("int", "string", "bigint"))
        for t in [(None, "x", 5), (3, None, None), (None, None, None), (7, "y", 8)]
    ]
    # bucket parity with the store's routing expression
    import tempfile

    from datapipelinerepo_spark.io import TableStore

    store = TableStore(spark, tempfile.mkdtemp(prefix="xxh_"))
    base = spark.createDataFrame(
        [(i, f"k{i}") for i in range(60)], "id long, name string"
    )
    store.overwrite_keyed(base, "t", ["id", "name"], n_buckets=7)
    kb = {
        (r["id"], r["name"]): r["_kb"]
        for r in base.withColumn(
            "_kb",
            store._kb_expr(["id", "name"], 7, store._snapshot("t").key_types),
        ).collect()
    }
    for (i, nm), b in kb.items():
        assert bucket_of((i, nm), ("bigint", "string"), 7) == b
    # lookup's driver-side router agrees and unsupported types decline
    assert TableStore._route_buckets([(5, "k5")], ["bigint", "string"], 7) == [
        bucket_of((5, "k5"), ("bigint", "string"), 7)
    ]
    assert TableStore._route_buckets([(1.5,)], ["double"], 7) is None
