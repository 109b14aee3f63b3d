"""Property-based tests (hypothesis) for the engine's parity-critical
scalar semantics.  Deliberately small example counts: each property
round-trips through a Spark job."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_settings = settings(max_examples=12, deadline=None)


# str.capitalize parity expression (P4/F1 — the reference's city.capitalize()).
_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=24
)


@given(s=_text)
@_settings
def test_capitalize_expr_matches_python(spark, s):
    cap = F.concat(F.upper(F.substring("t", 1, 1)), F.lower(F.expr("substring(t, 2)")))
    df = spark.createDataFrame([(s,)], "t string").select(cap.alias("c"))
    got = df.collect()[0][0]
    # Python capitalize() also title-cases some unicode; ASCII-only here.
    assert got == s.capitalize()


# dsum determinism property: the decimal-sum pattern equals exact Decimal
# arithmetic regardless of partitioning.
_moneys = st.lists(
    st.integers(min_value=-10_000_000, max_value=10_000_000).map(lambda c: c / 100),
    min_size=1,
    max_size=40,
)


@given(xs=_moneys)
@_settings
def test_dsum_is_exact_decimal_sum(spark, xs):
    from data_engineer_coder_spark.operators._helpers import dsum

    df = spark.createDataFrame([(x,) for x in xs], "v double").repartition(4)
    got = df.agg(dsum("v").alias("s")).collect()[0][0]
    want = float(sum(Decimal(str(x)) for x in xs))
    assert got == want


# Rolling-hash fingerprint: pure modular arithmetic must match a python
# reimplementation exactly (cross-engine determinism anchor).
@given(s=st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=60))
@_settings
def test_fingerprint_matches_python(spark, s):
    chars = F.transform(F.split("t", ""), lambda c: F.ascii(c).cast("bigint"))
    fp = F.aggregate(
        F.slice(chars, 2, F.size(chars) - 1),
        F.element_at(chars, 1),
        lambda acc, c: (acc * 31 + c) % F.lit(2147483647).cast("bigint"),
    )
    df = spark.createDataFrame([(s,)], "t string").select(fp.alias("f"))
    got = df.collect()[0][0]
    acc = ord(s[0])
    for ch in s[1:]:
        acc = (acc * 31 + ord(ch)) % 2147483647
    assert got == acc


# Content-hash sampling: membership is a pure function of the data, so
# the sampled id-set must be invariant under any repartitioning.
@given(n_parts=st.integers(min_value=1, max_value=9))
@_settings
def test_deterministic_sample_invariant_under_partitioning(spark, n_parts):
    from data_engineer_coder_spark.io.tables import table as t

    ev = t(spark, "/root/testdata/sf0.001", "events").repartition(n_parts)
    hk = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
    ids = sorted(r[0] for r in ev.filter(hk < "20").select("event_id").collect())
    ev2 = t(spark, "/root/testdata/sf0.001", "events").coalesce(1)
    ids2 = sorted(r[0] for r in ev2.filter(hk < "20").select("event_id").collect())
    assert ids == ids2


# with_global_pos must agree with a driver-side sort enumeration for any
# input multiset and partition count.
@given(
    xs=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=60),
    n_parts=st.integers(min_value=1, max_value=6),
)
@_settings
def test_with_global_pos_matches_enumeration(spark, xs, n_parts):
    from data_engineer_coder_spark.operators._helpers import with_global_pos

    rows = [(i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "id long, x long").repartition(7)
    ranked = with_global_pos(df, [F.asc("x"), F.asc("id")], num_partitions=n_parts)
    got = {(r.id): r.pos for r in ranked.collect()}
    want = {
        rid: pos + 1
        for pos, (rid, _) in enumerate(sorted(rows, key=lambda r: (r[1], r[0])))
    }
    assert got == want


# The grid-blocked spatial join must find EXACTLY the pairs a brute-force
# O(n²) cross join finds — blocking is an optimization, never a filter.
def test_spatial_blocked_join_matches_brute_force(spark):
    from data_engineer_coder_spark.operators.joins import spatial_blocked_join

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        (r["id_a"], r["id_b"]) for r in spatial_blocked_join(spark, sf_dir).collect()
    )
    from data_engineer_coder_spark.io.tables import table as t

    s = t(spark, sf_dir, "supplier").select("s_suppkey")
    pts = [
        (r[0], ((r[0] * 37) % 1000) / 10.0, ((r[0] * 73) % 1000) / 10.0)
        for r in s.collect()
    ]
    want = sorted(
        (a[0], b[0])
        for i, a in enumerate(pts)
        for b in pts[i + 1 :]
        if a[0] < b[0] and (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= 25.0
    )
    assert got == want


# Repetition ratios are fractions of n-gram multiset sizes: always [0, 1),
# and a document of all-distinct tokens has both ratios exactly 0.
def test_repetition_ratio_bounds(spark):
    from data_engineer_coder_spark.operators.textops import repetition_ratio

    rows = repetition_ratio(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["dup_unigram_ratio"] < 1.0
        assert 0.0 <= r["dup_bigram_ratio"] < 1.0


# Winsorized means must lie within [group p05 cut, group p95 cut] — the
# clip bounds themselves.
def test_winsorized_mean_within_clip_bounds(spark):
    from data_engineer_coder_spark.operators.aggregates import winsorized_stats
    from data_engineer_coder_spark.io.tables import table as t

    sf_dir = "/root/testdata/sf0.001"
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    import numpy as np

    by_flag = {}
    for r in li.collect():
        by_flag.setdefault(r[0], []).append(r[1])
    for row in winsorized_stats(spark, sf_dir).collect():
        vs = sorted(by_flag[row["l_returnflag"]])
        n = len(vs)
        lo, hi = vs[int(np.ceil(n * 0.05)) - 1], vs[int(np.ceil(n * 0.95)) - 1]
        assert lo <= row["winsorized_mean"] <= hi
        assert row["n_rows"] == n


# The source-mix sampling weights are a probability distribution.
def test_source_mix_weights_sum_to_one(spark):
    from data_engineer_coder_spark.operators.textops import source_mix_report

    rows = source_mix_report(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert abs(sum(r["sample_weight"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-9


# Packing prefix-sum property: the window manifest over ANY token-count
# sequence must satisfy the conservation + boundary invariants of
# concat-and-chunk packing, and match a direct python prefix-sum
# reimplementation (the cross-engine determinism anchor for the
# assembly family).
_tok_lists = st.lists(
    st.integers(min_value=1, max_value=700), min_size=1, max_size=30
)


@given(toks=_tok_lists)
@_settings
def test_sequence_packing_matches_python_prefix_sum(spark, toks):
    from pyspark.sql import Window

    budget = 512
    rows = [(i, "s", int(t)) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    got = {
        (r.doc_id, r.wid)
        for r in df.withColumn("start", F.sum("n_tok").over(w) - F.col("n_tok"))
        .withColumn("wid", F.floor(F.col("start") / budget).cast("bigint"))
        .collect()
    }
    cum, want = 0, set()
    for i, t in enumerate(toks):
        want.add((i, cum // budget))
        cum += t
    assert got == want
    # invariants: window ids are non-decreasing with doc order and the
    # first doc always opens window 0
    wids = [wid for _, wid in sorted(want)]
    assert wids[0] == 0
    assert all(a <= b for a, b in zip(wids, wids[1:]))


# Bloom bit positions: the Spark md5-derived positions must equal a
# python hashlib reimplementation (cross-engine anchor shared with the
# DuckDB oracle's identical rebuild).
@given(key=st.integers(min_value=0, max_value=10**12))
@_settings
def test_bloom_positions_match_python_md5(spark, key):
    import hashlib

    from data_engineer_coder_spark.operators.aggregates import _BLOOM_K, _BLOOM_M

    df = spark.createDataFrame([(key,)], "k long")
    exprs = [
        (
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.lit(j), F.col("k").cast("string"))), 1, 8),
                16,
                10,
            ).cast("bigint")
            % _BLOOM_M
        ).alias(f"p{j}")
        for j in range(_BLOOM_K)
    ]
    got = list(df.select(*exprs).collect()[0])
    want = [
        int(hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:8], 16) % _BLOOM_M
        for j in range(_BLOOM_K)
    ]
    assert got == want


# ngram_array: Spark word n-grams must equal python zip-based n-grams,
# including the empty result for short docs (the sequence(1,0) guard).
@given(
    words=st.lists(
        st.text(alphabet="abcdefg", min_size=1, max_size=5), min_size=0, max_size=15
    )
)
@_settings
def test_ngram_array_matches_python(spark, words):
    from data_engineer_coder_spark.operators.textops import ngram_array

    text = " ".join(words) if words else ""
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(ngram_array(F.split("t", " "), 3).alias("g")).collect()[0][0]
    toks = text.split(" ")  # mirrors F.split: "" -> [""]
    want = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    assert got == want


# md5_bucket: the engine's split gate must equal DuckDB's sql_md5_bucket
# twin for the same key — the anchor behind every 90/10 split.
@given(key=st.integers(min_value=0, max_value=10**12))
@_settings
def test_md5_bucket_matches_duckdb_twin(spark, duck, key):
    from data_engineer_coder_spark.operators._helpers import md5_bucket, sql_md5_bucket

    got = (
        spark.createDataFrame([(key,)], "k long")
        .select(md5_bucket("k").alias("b"))
        .collect()[0][0]
    )
    want = duck.execute(f"SELECT {sql_md5_bucket(str(key))}").fetchone()[0]
    assert got == want


# --------------------------------------------------------------------------
# md5 hash-portability primitives (round 6): the entire oracle story for
# minhash/simhash now rests on three engines — Spark (conv over md5
# substrings), DuckDB (('0x'||hex)::UBIGINT), python (int(hex, 16)) —
# deriving IDENTICAL integers from the same text.  Property-check the
# triple agreement on arbitrary ASCII tokens.
# --------------------------------------------------------------------------

_token = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=16
)


@given(t=_token)
@_settings
def test_md5_hash_primitives_agree_across_engines(spark, t):
    import hashlib

    import duckdb

    hexd = hashlib.md5(t.encode()).hexdigest()
    py60 = int(hexd[:15], 16)  # the minhash 60-bit shingle hash
    py_nibs = [int(c, 16) for c in hexd[:16]]  # the simhash nibble stream

    row = (
        spark.createDataFrame([(t,)], "t string")
        .select(
            F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h60"),
            F.array(
                *[
                    F.conv(F.substring(F.md5("t"), j + 1, 1), 16, 10).cast("int")
                    for j in range(16)
                ]
            ).alias("nibs"),
        )
        .collect()[0]
    )
    assert row.h60 == py60
    assert list(row.nibs) == py_nibs

    dd = duckdb.connect().execute(
        "SELECT ('0x' || substr(md5(?), 1, 15))::UBIGINT", [t]
    ).fetchone()[0]
    assert int(dd) == py60


# --------------------------------------------------------------------------
# ln-grid portability (round 7, ADVICE r6): dsir_importance_weights keys
# its value hash on FLOOR(LN(c/d)·1e9) agreeing between JVM Math.log and
# DuckDB's libm log.  Neither is guaranteed correctly rounded, so a 1-ulp
# divergence AT A GRID BOUNDARY would flip dq by 1 — property-check the
# agreement over the count shapes dsir actually produces (Laplace
# numerators ≥ 1, denominators = corpus totals), plus the FLOOR(x+0.5)
# micro-rounding both engines now share.
# --------------------------------------------------------------------------


@given(
    c=st.integers(min_value=1, max_value=10**6),
    d=st.integers(min_value=2, max_value=10**9),
)
@_settings
def test_ln_grid_agrees_across_engines(spark, duck, c, d):
    got = (
        spark.createDataFrame([(c, d)], "c long, d long")
        .select(
            F.floor(F.log(F.col("c").cast("double") / F.col("d")) * 1e9).alias("g")
        )
        .collect()[0][0]
    )
    want = duck.execute(
        "SELECT FLOOR(LN(CAST(? AS DOUBLE) / ?) * 1e9)", [c, d]
    ).fetchone()[0]
    assert got == int(want)


@given(
    s=st.integers(min_value=-(10**13), max_value=10**13),
    n=st.integers(min_value=1, max_value=10**5),
)
@_settings
def test_micro_round_agrees_across_engines(spark, duck, s, n):
    got = (
        spark.createDataFrame([(s, n)], "s long, n long")
        .select((F.floor(F.col("s") / (F.col("n") * 1000.0) + 0.5) / 1e6).alias("m"))
        .collect()[0][0]
    )
    want = duck.execute(
        "SELECT FLOOR(? / (? * 1000.0) + 0.5) / 1e6", [s, n]
    ).fetchone()[0]
    assert got == want


# --------------------------------------------------------------------------
# UniMax closed form (round 7): the operator claims the first cap > θ
# violation along the ascending-cap prefix IS the water level.  Check
# the claim against a brute-force iterative waterfill simulator on
# adversarial count distributions (pure python — engine parity is the
# oracle's job; this guards the algebra itself).
# --------------------------------------------------------------------------


@given(
    tokens=st.lists(st.integers(min_value=1, max_value=10**6), min_size=1, max_size=40),
    budget_pct=st.integers(min_value=1, max_value=99),
)
@_settings
def test_unimax_closed_form_matches_iterative_waterfill(tokens, budget_pct):
    caps = sorted(tokens)
    b = sum(tokens) * budget_pct // 100

    # closed form (the operator's math): walk ascending caps, take the
    # cap while cap_i <= theta_i, else everyone left gets theta at the
    # first violation
    def closed(caps, b):
        n = len(caps)
        prefix = 0
        for i, cap in enumerate(caps):
            theta = max(b - prefix, 0) // (n - i)
            if cap > theta:
                return [min(c, theta) for c in caps]
            prefix += cap
        return list(caps)  # budget covers every cap

    # iterative simulator: repeatedly set theta = remaining/uncapped and
    # freeze sources whose cap is below it, until stable
    def iterative(caps, b):
        alloc = [None] * len(caps)
        active = set(range(len(caps)))
        remaining = b
        while active:
            theta = max(remaining, 0) // len(active)
            frozen = [i for i in active if caps[i] <= theta]
            if not frozen:
                for i in active:
                    alloc[i] = theta
                break
            for i in frozen:
                alloc[i] = caps[i]
                remaining -= caps[i]
                active.remove(i)
        return [a if a is not None else 0 for a in alloc]

    got = closed(caps, b)
    want = iterative(caps, b)
    assert sum(got) <= b or got == list(caps)
    assert got == want


# Ledger rows commit driver-side through ``append_rows``; for any
# partition value the result must be the Spark write path's: same
# manifest partition keys, same rows read back.  Int and string values
# take the local writer, the rest (and strings needing hive escaping)
# fall back to Spark.
_part_values = st.sampled_from([
    ("long", st.integers(min_value=-(10**12), max_value=10**12)),
    ("string", st.text(alphabet="ab_-.z =/%", max_size=4)),
    ("boolean", st.booleans()),
    ("double", st.floats(allow_nan=False, allow_infinity=False)),
]).flatmap(
    lambda c: st.tuples(
        st.just(c[0]), st.lists(st.one_of(st.none(), c[1]), min_size=1, max_size=4)
    )
)


@given(case=_part_values)
@_settings
def test_append_rows_matches_append_partitions(spark, case):
    import tempfile

    from data_engineer_coder_spark.io.acid_table import (
        append_partitions,
        append_rows,
        current_manifest,
        read_table,
    )

    ptype, keys = case
    ddl = f"k {ptype}, n long"
    rows = [(k, i) for i, k in enumerate(keys)]
    with tempfile.TemporaryDirectory(prefix="ledger_prop_") as base:
        local, ref = f"{base}/rows", f"{base}/spark"
        append_rows(spark, rows, ddl, local, ["k"], "t1")
        append_partitions(spark.createDataFrame(rows, ddl), ref, ["k"], "t1")
        assert sorted(current_manifest(local)["partitions"]) == sorted(
            current_manifest(ref)["partitions"]
        )

        def back(root):
            return sorted(
                ((r["k"], r["n"]) for r in read_table(spark, root).collect()), key=repr
            )

        assert back(local) == back(ref)
