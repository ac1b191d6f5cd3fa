"""Property-based tests (hypothesis): engine expressions vs pure-Python
models on generated inputs — the unit-level complement to the DuckDB
differential oracle."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from datapipeline_scripts_spark.functions.text import normalize_text
from datapipeline_scripts_spark.pipeline.retrying import retry

ASCII_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=200
)


def _py_rolling_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % 1000000007
    return h


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(ASCII_TEXT, min_size=1, max_size=8))
def test_rolling_hash_matches_python_model(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], schema=T.StructType([T.StructField("text", T.StringType())]))
    codes = F.transform(F.split("text", ""), lambda ch: F.ascii(ch).cast("long"))
    rhash = F.aggregate(codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % 1000000007)
    got = [r["h"] for r in df.select(rhash.alias("h")).collect()]
    assert got == [_py_rolling_hash(t) for t in texts]


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(ASCII_TEXT, min_size=1, max_size=8))
def test_normalize_text_matches_python_model(spark, texts):
    import re

    df = spark.createDataFrame([(t,) for t in texts], schema=T.StructType([T.StructField("text", T.StringType())]))
    got = [r["n"] for r in df.select(normalize_text(F.col("text")).alias("n")).collect()]
    want = [re.sub(r"\s+", " ", t.lower().strip()) for t in texts]
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    fail_times=st.integers(min_value=0, max_value=8),
    attempts=st.integers(min_value=1, max_value=9),
    base=st.floats(min_value=0.1, max_value=4.0),
)
def test_retry_sleep_schedule_is_exponential(fail_times, attempts, base):
    sleeps: list[float] = []
    calls = {"n": 0}

    def fn():
        calls["n"] += 1
        if calls["n"] <= fail_times:
            raise ValueError
        return "ok"

    try:
        retry(fn, attempts=attempts, base_delay_s=base, sleep=sleeps.append)
        succeeded = True
    except Exception:
        succeeded = False
    assert succeeded == (fail_times < attempts)
    expected_sleeps = min(fail_times, attempts - 1)
    assert sleeps == [base * (2.0**i) for i in range(expected_sleeps)]


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
            min_size=4,
            max_size=16,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_int8_quantization_matches_python_model(spark, vecs):
    """The knn_int8 quantization expression vs a pure-Python model:
    codes = floor(v/scale + 0.5) with scale = max|v|/127 — every code
    must land in [-127, 127] and equal the model exactly."""
    import math

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sc = (
        F.greatest(
            F.array_max(F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double")))),
            F.lit(1e-30),
        )
        / F.lit(127.0)
    )
    qz = df.select("vec_id", "embedding", sc.alias("sc")).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") / F.col("sc") + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    got = {r["vec_id"]: r["qv"] for r in qz.collect()}
    for i, v in enumerate(vecs):
        # float32 storage first — Spark reads array<float>
        import struct

        v32 = [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        s = max(max(abs(x) for x in v32), 1e-30) / 127.0
        model = [math.floor(x / s + 0.5) for x in v32]
        assert got[i] == model, (v32, got[i], model)
        assert all(-127 <= c <= 127 for c in got[i])


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_integer_quantized_aggregates_are_partition_invariant(spark, sf_dir):
    """The house determinism contract, asserted mechanically: queries
    that quantize per-row to integers before summing must produce
    IDENTICAL rows regardless of partitioning (shuffle-merge order is
    the thing the contract defends against)."""
    from datapipeline_scripts_spark.registry import get

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for key in ("tpch_q1_shape", "stats_corr_matrix", "stats_winsorize", "try_functions"):
            results = []
            # different shuffle widths genuinely change partial-agg merge
            # order — the exact hazard integer quantization defends against
            for n in ("1", "7", "64"):
                spark.conf.set("spark.sql.shuffle.partitions", n)
                results.append(_rows(get(key).build(spark, sf_dir)))
            assert results[0] == results[1] == results[2], f"{key} drifted with shuffle width"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_sampler_and_split_are_repartition_invariant(spark, sf_dir):
    from datapipeline_scripts_spark.registry import get

    for key in ("corpus_sample_weighted", "split_assign", "dedup_incremental"):
        a = _rows(get(key).build(spark, sf_dir))
        b = _rows(get(key).build(spark, sf_dir))
        assert a == b, f"{key} not reproducible across rebuilds"


def test_round3_stats_are_partition_invariant(spark, sf_dir):
    """Same contract for the round-3 statistics family: KS (integer
    cross-multiplied CDFs), autocorrelation (int128 sufficient stats →
    one float ratio), Markov probabilities (integer div), PQ-ANN (both
    ranking stages integer micro-units) must not move with shuffle
    width."""
    from datapipeline_scripts_spark.registry import get

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for key in ("stats_ks_test", "stats_autocorr", "events_markov_transitions", "knn_pq"):
            results = []
            for n in ("1", "7", "64"):
                spark.conf.set("spark.sql.shuffle.partitions", n)
                results.append(_rows(get(key).build(spark, sf_dir)))
            assert results[0] == results[1] == results[2], f"{key} drifted with shuffle width"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_incremental_forms_match_their_full_rebuilds(spark, sf_dir):
    """scd2_merge_incremental and graph_triangle_oriented share the
    same proof pattern — an alternative (incremental / degree-ordered)
    algorithm whose declared oracle IS the straightforward form's
    result — so equality with the sibling query is also asserted
    directly here, engine-side."""
    from datapipeline_scripts_spark.registry import get

    assert _rows(get("scd2_merge_incremental").build(spark, sf_dir)) == _rows(
        get("scd2_history").build(spark, sf_dir)
    )
    assert _rows(get("graph_triangle_oriented").build(spark, sf_dir)) == _rows(
        get("graph_triangle_count").build(spark, sf_dir)
    )


def test_advanced_stats_are_partition_invariant(spark, sf_dir):
    """Same contract for this round's advanced-stats family. The
    headline case is orders_abc_pareto: its distributed prefix sum
    must be IDENTICAL for any range-partition boundary placement, so
    shuffle width changing the sampled boundaries must not move a
    single class assignment. Bootstrap (conditional-aggregate
    replicate sums), the KM curve (ordered cumulative product), and
    the outlier screen (micro-unit-quantized z² totals) carry the
    same promise."""
    from datapipeline_scripts_spark.registry import get

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for key in (
            "orders_abc_pareto",
            "stats_bootstrap_ci",
            "events_survival_km",
            "embedding_outlier_score",
            "stats_anova",
            "events_rolling_active_users",
        ):
            results = []
            for n in ("1", "7", "64"):
                spark.conf.set("spark.sql.shuffle.partitions", n)
                results.append(_rows(get(key).build(spark, sf_dir)))
            assert results[0] == results[1] == results[2], f"{key} drifted with shuffle width"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_holt_linear_seed_is_data_anchored(spark, sf_dir):
    """time_holt_linear's recursion seeds at day index 1 = the DATA's
    min(ts) date (the `mn` CTE), so a fixture regeneration with a new
    start date cannot silently empty the seed (ADVICE r03: the old
    literal-date anchor would have made both engines return 0 rows —
    a vacuous hash match). Non-empty output + the seed row's zero
    initial trend are the load-bearing assertions."""
    from datapipeline_scripts_spark.registry import get

    rows = _rows(get("time_holt_linear").build(spark, sf_dir))
    assert len(rows) > 0, "holt recursion seeded nothing — day-index anchor broken"
    by_idx = {r[0]: r for r in rows}
    assert 1 in by_idx, "day index 1 (min(ts) day) missing from recursion output"
    assert by_idx[1][2] == 0, "seed row must start with zero trend state"


def test_holt_materialized_daily_matches_inline_recursion(spark, sf_dir):
    """time_holt_linear materializes the |days|-row daily series before
    the recursion (optimization r14 — a recursive CTE re-evaluates its
    referenced subqueries every iteration, so the inline form re-ran the
    corpus aggregate 60×); pin the output against the verbatim inline
    single-statement form the oracle still uses."""
    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.operators.dates import _HOLT_DAY_SPARK, _holt_sql
    from datapipeline_scripts_spark.registry import get

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_holt_pin_v")
    want = _rows(spark.sql(_holt_sql("events_holt_pin_v", _HOLT_DAY_SPARK, "div")))
    got = _rows(get("time_holt_linear").build(spark, sf_dir))
    assert sorted(got) == sorted(want)
    assert got, "holt recursion returned nothing"


def test_late_r3_stats_are_partition_invariant(spark, sf_dir):
    """Round-4 widening of the partition-invariance contract to the
    late-round-3 statistics: Spearman's histogram-derived ranks, the
    Mann-Whitney rank sums, Theil-Sen's median-of-slopes, CUSUM's
    ordered drift scan, the CUPED/DiD experiment adjustments, and the
    deterministic migration-matrix quintiles must all be bit-identical
    for ANY shuffle width — each is built on integer-quantized,
    order-independent aggregation, and a drift here would show up as a
    cross-engine hash mismatch at some future scale factor."""
    from datapipeline_scripts_spark.registry import get

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for key in (
            "stats_spearman",
            "stats_mannwhitney",
            "stats_theil_sen",
            "stats_cusum_drift",
            "events_ab_cuped",
            "events_ab_did",
            "orders_customer_migration",
            "stats_power_analysis",
        ):
            results = []
            for n in ("1", "7", "64"):
                spark.conf.set("spark.sql.shuffle.partitions", n)
                results.append(_rows(get(key).build(spark, sf_dir)))
            assert results[0] == results[1] == results[2], f"{key} drifted with shuffle width"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


# ---- shard-codec properties (round 9) -----------------------------------------

_BYTES = st.binary(min_size=0, max_size=300)


@settings(max_examples=100, deadline=None)
@given(st.lists(_BYTES, min_size=0, max_size=10))
def test_tfrecord_framing_roundtrips_any_records(records):
    from datapipeline_scripts_spark.sources import tfrecord as tfr

    shard = tfr.write_tfrecord(records)
    assert tfr.parse_tfrecord(shard) == records
    # determinism: identical inputs, identical bytes
    assert tfr.write_tfrecord(records) == shard


@settings(max_examples=100, deadline=None)
@given(st.lists(_BYTES, min_size=1, max_size=6), st.data())
def test_tfrecord_any_single_byte_flip_is_loud(records, data):
    """Per-record double-CRC makes corruption detection TOTAL: every
    possible single-byte flip anywhere in the stream refuses."""
    import pytest

    from datapipeline_scripts_spark.sources import tfrecord as tfr

    shard = bytearray(tfr.write_tfrecord(records))
    pos = data.draw(st.integers(min_value=0, max_value=len(shard) - 1))
    bit = data.draw(st.integers(min_value=0, max_value=7))
    shard[pos] ^= 1 << bit
    with pytest.raises(ValueError):
        tfr.parse_tfrecord(bytes(shard), where="prop")


_FEATURE = st.one_of(
    st.tuples(st.just("bytes"), st.lists(_BYTES, max_size=5)),
    st.tuples(
        st.just("int64"),
        st.lists(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1), max_size=5),
    ),
    st.tuples(
        st.just("float"),
        st.lists(
            # binary32-exact values so roundtrip equality is exact
            st.integers(min_value=-(1 << 24), max_value=1 << 24).map(
                lambda i: float(i) / 4.0
            ),
            max_size=5,
        ),
    ),
)
_FEATURE_NAME = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=1000), min_size=1, max_size=12
)


@settings(max_examples=100, deadline=None)
@given(st.dictionaries(_FEATURE_NAME, _FEATURE, max_size=6))
def test_tfexample_roundtrips_any_features(features):
    from datapipeline_scripts_spark.sources import tfexample as tfe

    data = tfe.encode_example(features)
    assert tfe.encode_example(features) == data
    got = tfe.decode_example(data)
    assert got == {k: (kind, list(v)) for k, (kind, v) in features.items()}


@settings(max_examples=60, deadline=None)
@given(
    st.dictionaries(_FEATURE_NAME, _FEATURE, max_size=3),
    st.dictionaries(_FEATURE_NAME, st.lists(_FEATURE, max_size=4), max_size=3),
)
def test_sequence_example_roundtrips_any_shape(context, feature_lists):
    from datapipeline_scripts_spark.sources import tfexample as tfe

    data = tfe.encode_sequence_example(context, feature_lists)
    ctx, lists = tfe.decode_sequence_example(data)
    assert ctx == {k: (kind, list(v)) for k, (kind, v) in context.items()}
    assert lists == {
        k: [(kind, list(v)) for kind, v in steps] for k, steps in feature_lists.items()
    }


_WORD = st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=6)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.lists(_WORD, min_size=0, max_size=20), min_size=1, max_size=6),
       st.integers(min_value=2, max_value=5))
def test_ngram_join_matches_python_model(spark, tok_lists, n):
    """The sliced zip_with fold (the r10 shingles rewrite) must equal
    the obvious Python n-gram construction for every array length
    >= n and every n — the property pin under the 14x-faster form."""
    from datapipeline_scripts_spark.functions.text import ngram_join

    rows = [(toks,) for toks in tok_lists if len(toks) >= n]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, schema=T.StructType([T.StructField("toks", T.ArrayType(T.StringType()))])
    )
    got = [r["g"] for r in df.select(ngram_join(F.col("toks"), n).alias("g")).collect()]
    want = [
        [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        for (toks,) in rows
    ]
    assert got == want


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.lists(_WORD, min_size=0, max_size=20), min_size=1, max_size=6))
def test_shingles_matches_python_model(spark, tok_lists):
    """shingles() semantics incl. the short-array fallback (the whole
    array joined as ONE shingle when size < 3)."""
    from datapipeline_scripts_spark.functions.text import shingles

    df = spark.createDataFrame(
        [(t,) for t in tok_lists],
        schema=T.StructType([T.StructField("toks", T.ArrayType(T.StringType()))]),
    )
    got = [r["s"] for r in df.select(shingles(F.col("toks"), 3).alias("s")).collect()]
    want = [
        [" ".join(t[i : i + 3]) for i in range(len(t) - 2)] if len(t) >= 3
        else [" ".join(t)]
        for t in tok_lists
    ]
    assert got == want


def _py_bpe_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Pure-Python model of the positional greedy merge (l != r, so
    matches cannot overlap): position i is consumed iff
    (syms[i-1], syms[i]) matches, and emits the merged symbol iff
    (syms[i], syms[i+1]) does."""
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "ab"]), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    ),
    st.sampled_from([("a", "b"), ("b", "a"), ("c", "a"), ("ab", "c")]),
)
def test_bpe_apply_merge_matches_python_model(spark, sym_lists, pair):
    """The shared trainer/apply merge expression (`_bpe_apply_merge`
    in extensions/textstats.py, also run by the fertility key) against a direct
    scan-left Python model on arbitrary symbol sequences, including
    repeated and overlapping-looking runs (aaab, abab, …). Also pins
    the two invariants the fertility accounting rests on: symbol count
    never increases, and concatenation is preserved."""
    from pyspark.sql import Row

    from datapipeline_scripts_spark.extensions.textstats import _bpe_apply_merge

    left, right = pair
    df = spark.createDataFrame(
        [Row(syms=s, idx=i) for i, s in enumerate(sym_lists)],
        schema="syms array<string>, idx long",
    )
    top = spark.createDataFrame([Row(l=left, r=right)], schema="l string, r string")
    got = {
        r["idx"]: list(r["syms"])
        for r in _bpe_apply_merge(df, top, ("idx",)).collect()
    }
    for i, s in enumerate(sym_lists):
        want = _py_bpe_merge(s, left, right)
        assert got[i] == want, (s, pair, got[i], want)
        assert len(got[i]) <= len(s)
        assert "".join(got[i]) == "".join(s)
