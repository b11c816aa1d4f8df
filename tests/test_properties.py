"""Property-based tests (hypothesis): scalar-function parity against
pure-Python models over generated inputs. Each test builds ONE Spark
job from a generated batch of examples, keeping run time bounded."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from delta_data_pipelines_spark.functions.fa import (
    english_to_persian_digits,
    persian_to_english_digits,
    safe_int,
)
from delta_data_pipelines_spark.operators.dedup import jaccard

_SETTINGS = dict(max_examples=5, deadline=None)

# printable-ish text incl. digits & Persian letters, no surrogates
TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs", "Cc"), max_codepoint=0x2600
    ),
    min_size=0,
    max_size=40,
)


@settings(**_SETTINGS)
@given(st.lists(TEXT, min_size=1, max_size=50))
def test_digit_fold_round_trip(spark, samples):
    """en→fa→en digit translation restores every ASCII digit; all other
    characters pass through untouched (both directions)."""
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    out = df.select(
        persian_to_english_digits(english_to_persian_digits(F.col("s"))).alias("r"),
        "s",
    ).collect()
    fa = "۰۱۲۳۴۵۶۷۸۹"
    for r in out:
        expect = "".join(
            str(fa.index(ch)) if ch in fa else ch for ch in r["s"]
        )
        assert r["r"] == expect


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(
            st.integers(-(10**12), 10**12).map(str),
            st.floats(
                allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
            ).map(str),
            TEXT,
        ),
        min_size=1,
        max_size=50,
    )
)
def test_safe_int_matches_python_model(spark, samples):
    """safe_int == int(float(v)) with default 0 on failure
    (utils_of_searchengine.py:64-68).

    The model is pinned to the engine's (Spark try_cast) lexical
    space where CPython's float() is deliberately wider: (1) any
    Unicode decimal digit (e.g. U+1A81 TAI THAM HORA DIGIT ONE) and
    Unicode whitespace — Spark trims/parses ASCII only; (2) PEP 515
    underscores ('1_0'); (3) no long overflow in Python — Spark's
    double→long try_cast nulls past ±2^63. The reference feeds
    safe_int digit-folded Persian-market strings, so the engine path
    covers its real input space; on the wider forms the engine
    returns the default by design."""
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["i"] for r in df.select("s", safe_int(F.col("s")).alias("i")).collect()}
    for s in samples:
        try:
            expect = int(float(s)) if s.isascii() and "_" not in s else 0
            if not -(2**63) <= expect < 2**63:
                expect = 0
        except (ValueError, OverflowError):
            expect = 0
        assert got[s] == expect, (s, got[s], expect)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=8).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=20,
    )
)
def test_jaccard_bounds_symmetry_identity(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, t string"
    )
    words = df.select(
        "id", F.array_distinct(F.split(F.col("t"), " ")).alias("w")
    )
    a = words.alias("a")
    b = words.alias("b")
    pairs = (
        a.crossJoin(b)
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            jaccard(F.col("a.w"), F.col("b.w")).alias("j"),
        )
        .collect()
    )
    j = {(r["ia"], r["ib"]): r["j"] for r in pairs}
    n = len(texts)
    for i in range(n):
        assert abs(j[(i, i)] - 1.0) < 1e-12  # identity
        for k in range(n):
            assert 0.0 <= j[(i, k)] <= 1.0  # bounds
            assert abs(j[(i, k)] - j[(k, i)]) < 1e-12  # symmetry


def test_tpch_q4_interval_preserves_time_of_day(spark, tmp_path):
    """q4's late-line cutoff must be o_orderdate + INTERVAL 60 DAYS on
    the FULL timestamp: for an order placed at 12:00, a line shipped 60
    days later at 11:00 is on time. date_add would truncate the cutoff
    to midnight and wrongly flag it late — this pins the interval
    semantics the DuckDB oracle uses (queries/tpch.py ORACLE_SQL q4)."""
    import datetime as dt

    from delta_data_pipelines_spark.queries.tpch import tpch_q4

    od = dt.datetime(1996, 7, 1, 12, 0, 0)
    orders = spark.createDataFrame(
        [(1, od, "1-URGENT"), (2, od, "2-HIGH")],
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string",
    )
    lines = spark.createDataFrame(
        [
            # order 1: shipped 59d23h after order — before the intraday
            # cutoff (1996-08-30 12:00), NOT late; past midnight of the
            # truncated cutoff, so the date_add bug would count it
            (1, od + dt.timedelta(days=60, hours=-1)),
            # order 2: shipped 60d1h after — late under both readings
            (2, od + dt.timedelta(days=60, hours=1)),
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    lines.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["o_orderpriority"]: r["order_count"]
        for r in tpch_q4(spark, str(tmp_path)).collect()
    }
    assert got == {"2-HIGH": 1}


def test_tpch_q21_rejects_null_suppkey(spark, tmp_path):
    """q21 decides EXISTS / NOT EXISTS on per-order min/max supplier
    aggregates, which equal the oracle's ``<>`` predicates only when
    every line has a supplier. One NULL l_suppkey must fail the query,
    not return a silently different answer."""
    import datetime as dt

    import pytest

    from delta_data_pipelines_spark.queries.tpch import tpch_q21

    od = dt.datetime(1996, 7, 1)
    late = od + dt.timedelta(days=90)
    spark.createDataFrame(
        [(1, "F", od), (2, "F", od)],
        "o_orderkey long, o_orderstatus string, o_orderdate timestamp",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, "Supplier#1"), (2, "Supplier#2")], "s_suppkey long, s_name string"
    ).write.parquet(str(tmp_path / "supplier.parquet"))
    lines = [(1, 1, late), (1, 2, od), (2, 1, late), (2, None, od)]
    spark.createDataFrame(
        lines, "l_orderkey long, l_suppkey long, l_shipdate timestamp"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    with pytest.raises(Exception, match="NULL l_suppkey"):
        tpch_q21(spark, str(tmp_path)).collect()


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from("abc"), min_size=1, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_repetition_signals_match_python_model(spark, texts):
    """dup_token_ratio and top_bigram_ratio (sorted-run-fold form) must
    equal the obvious Counter-based model on arbitrary token streams —
    tiny alphabet forces heavy repetition, exercising run merging."""
    from collections import Counter

    from delta_data_pipelines_spark.operators.textstats import (
        dup_token_ratio,
        top_bigram_ratio,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    got = {
        r["id"]: (r["d"], r["b"])
        for r in df.select(
            "id",
            dup_token_ratio(F.col("t")).alias("d"),
            top_bigram_ratio(F.col("t")).alias("b"),
        ).collect()
    }
    for i, s in enumerate(texts):
        toks = s.split(" ")
        dup = (len(toks) - len(set(toks))) / len(toks)
        if len(toks) < 2:
            top = 0.0
        else:
            c = Counter(zip(toks, toks[1:]))
            top = max(c.values()) / (len(toks) - 1)
        assert abs(got[i][0] - dup) < 1e-8, (s, got[i][0], dup)
        assert abs(got[i][1] - top) < 1e-8, (s, got[i][1], top)


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=64),
)
def test_chunk_span_tiles_the_stream(spark, token_counts, ctx):
    """Packing invariants for any doc sizes and ctx: offsets tile the
    stream exactly, spans are well-ordered, and total chunks touched
    equals ceil(total_tokens/ctx)."""
    from delta_data_pipelines_spark.operators.ranking import chunk_span

    rows = [(i, n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "doc_id long, n bigint")
    from pyspark.sql import Window

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    cum = df.withColumn("cum", F.coalesce(F.sum("n").over(w), F.lit(0)))
    span = chunk_span("cum", "n", ctx)
    got = cum.select(
        "doc_id",
        "n",
        span["start_offset"].alias("o"),
        span["chunk_start"].alias("cs"),
        span["chunk_end"].alias("ce"),
    ).collect()
    got.sort(key=lambda r: r["doc_id"])
    running = 0
    max_chunk = -1
    for r in got:
        assert r["o"] == running
        assert r["cs"] == running // ctx
        assert r["ce"] == (running + r["n"] - 1) // ctx >= r["cs"]
        max_chunk = max(max_chunk, r["ce"])
        running += r["n"]
    assert max_chunk == (running - 1) // ctx  # ceil(total/ctx) - 1


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.text(min_size=1, max_size=6), min_size=1, max_size=30),
        min_size=2,
        max_size=4,
    )
)
def test_kmv_merge_associative_and_order_free(spark, batches):
    """Any grouping/order of partial KMV sketches merges to the sketch
    of the union — the invariant that makes incremental maintenance
    exact."""
    from functools import reduce

    from delta_data_pipelines_spark.operators.sketches import kmv_sketch
    from delta_data_pipelines_spark.streaming.sketch_state import (
        merge_sketches,
    )

    K = 16
    dfs = [
        spark.createDataFrame([("g", t) for t in b], "g string, v string")
        for b in batches
    ]
    partials = [kmv_sketch(d, ["g"], "v", k=K) for d in dfs]
    fwd = reduce(lambda a, b: merge_sketches(a, b, ["g"], K), partials)
    rev = reduce(
        lambda a, b: merge_sketches(a, b, ["g"], K), reversed(partials)
    )
    union = kmv_sketch(
        reduce(lambda a, b: a.unionByName(b), dfs), ["g"], "v", k=K
    )
    as_map = lambda df: {
        r["g"]: (tuple(r["sketch"]), r["n_est"]) for r in df.collect()
    }
    expect = as_map(union)
    assert as_map(fwd) == expect
    assert as_map(rev) == expect


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # user
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.integers(min_value=0, max_value=1000),  # seconds offset
        ),
        min_size=1,
        max_size=40,
    )
)
def test_funnel_matches_python_model(spark, events):
    """The single-shuffle windowed funnel must agree with a direct
    per-user Python simulation (first view -> first click >= it ->
    first purchase >= that) on arbitrary event streams, including
    same-timestamp events and stage skips."""
    import datetime

    from delta_data_pipelines_spark.queries.temporal_q import t_funnel_stages  # noqa: F401  (shape reference)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (u, t, base + datetime.timedelta(seconds=s)) for u, t, s in events
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    # same expression chain as t_funnel_stages, applied to this df
    w = Window.partitionBy("user_id")
    staged = (
        df.withColumn("_fv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
        .withColumn(
            "_fc",
            F.min(F.when((F.col("event_type") == "click") & (F.col("ts") >= F.col("_fv")), F.col("ts"))).over(w),
        )
        .withColumn(
            "_fp",
            F.min(F.when((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("_fc")), F.col("ts"))).over(w),
        )
    )
    got = {
        r["user_id"]: (r["fv"], r["fc"], r["fp"])
        for r in staged.groupBy("user_id")
        .agg(F.min("_fv").alias("fv"), F.min("_fc").alias("fc"), F.min("_fp").alias("fp"))
        .collect()
    }

    # python model
    expect = {}
    per_user: dict[int, list] = {}
    for u, t, ts in rows:
        per_user.setdefault(u, []).append((t, ts))
    for u, evs in per_user.items():
        views = [ts for t, ts in evs if t == "view"]
        fv = min(views) if views else None
        fc = None
        if fv is not None:
            clicks = [ts for t, ts in evs if t == "click" and ts >= fv]
            fc = min(clicks) if clicks else None
        fp = None
        if fc is not None:
            buys = [ts for t, ts in evs if t == "purchase" and ts >= fc]
            fp = min(buys) if buys else None
        expect[u] = (fv, fc, fp)
    assert got == expect


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["table", "query", "fast", "slow", "row"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=15,
    )
)
def test_bm25_matches_python_model(spark, docs):
    """BM25 scores must match a direct Python implementation (same k1,
    b, idf form) to 1e-6 on arbitrary corpora."""
    import math

    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import textstats

    K1, B = 1.2, 0.75
    TERMS = ("table", "query", "fast")
    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sized = df.select("doc_id", textstats.token_count_ws(F.col("text")).alias("dl"))
    stats = sized.agg(
        F.count("*").alias("_n"),
        (F.sum(F.col("dl").cast("decimal(20,6)")).cast("double") / F.count("*")).alias("_avgdl"),
    )
    terms = df.select("doc_id", F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token").isin(*TERMS)
    )
    tf = terms.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfq = terms.groupBy("token").agg(F.countDistinct("doc_id").alias("doc_freq"))
    scored = (
        tf.join(F.broadcast(dfq), "token")
        .join(sized, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_s",
            F.log((F.col("_n") - F.col("doc_freq") + 0.5) / (F.col("doc_freq") + 0.5) + 1.0)
            * (F.col("tf") * (K1 + 1.0))
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("_avgdl"))),
        )
    )
    got = {
        (r["doc_id"], r["token"]): r["_s"] for r in scored.collect()
    }

    n = len(docs)
    avgdl = sum(len(d) for d in docs) / n
    dfc: dict[str, int] = {}
    for d in docs:
        for t in set(d) & set(TERMS):
            dfc[t] = dfc.get(t, 0) + 1
    for i, d in enumerate(docs):
        for t in TERMS:
            c = d.count(t)
            if c == 0:
                continue
            idf = math.log((n - dfc[t] + 0.5) / (dfc[t] + 0.5) + 1.0)
            s = idf * (c * (K1 + 1.0)) / (c + K1 * (1.0 - B + B * len(d) / avgdl))
            assert abs(got[(i, t)] - s) < 1e-6, (i, t, got[(i, t)], s)


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 9), min_size=1, max_size=10),
        min_size=2,
        max_size=20,
    ),
    st.sampled_from([0.3, 0.5, 0.7, 1.0]),
)
def test_containment_prefix_filter_lossless_property(spark, docs_tokens, threshold):
    """Prefix-filter containment join must equal brute-force all-pairs
    for ANY corpus and threshold — the pigeonhole losslessness claim,
    not just the fixed fixture."""
    from delta_data_pipelines_spark.operators.dedup import (
        containment_pairs,
        shingles,
    )

    rows = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs(df, "doc_id", "text", threshold).collect()
    }
    sh = df.select("doc_id", shingles(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    brute = {
        (r["id_a"], r["id_b"], r["c"])
        for r in a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size("a.sh").cast("double"),
                9,
            ).alias("c"),
        )
        .where(F.col("c") >= threshold)
        .collect()
    }
    assert got == brute


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(1, 15)),
        min_size=1,
        max_size=4,
    )
)
def test_interleave_matches_python_model(spark, specs):
    """interleave_by_weight must equal the reference schedule: sort all
    (source, k) by (k/w, source, k) — for any weights and sizes."""
    from delta_data_pipelines_spark.operators.sampling import interleave_by_weight

    rows = []
    weights = {}
    for i, (w, n) in enumerate(specs):
        weights[f"s{i}"] = float(w)
        rows += [(i * 1000 + k, f"s{i}", float(w)) for k in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    out = interleave_by_weight(df, "source", "doc_id", "w").collect()
    got = [(r["source"], r["k"]) for r in sorted(out, key=lambda r: r["position"])]
    model = sorted(
        [
            (s, k)
            for i, (w, n) in enumerate(specs)
            for s, k in [(f"s{i}", k) for k in range(1, n + 1)]
        ],
        key=lambda sk: (sk[1] / weights[sk[0]], sk[0], sk[1]),
    )
    assert got == model


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.integers(min_value=10, max_value=10_000_000),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([1.0, 1.5, 2.0, 4.0]),
)
def test_token_budget_mix_invariants(spark, sizes, epoch_cap):
    """For ANY source-size profile: no source exceeds its epoch cap,
    total allocation never exceeds the budget (beyond 6-dp rounding),
    and when no cap binds the budget is spent in full."""
    from delta_data_pipelines_spark.operators.sampling import token_budget_mix

    per_src = spark.createDataFrame(
        [(f"s{i}", n) for i, n in enumerate(sizes)],
        "source string, t_tokens long",
    )
    rows = token_budget_mix(per_src, epoch_cap=epoch_cap).collect()
    budget = int(sum(sizes) * 0.5)
    eps = 1e-4 * max(1, len(sizes))
    for r in rows:
        assert r["epochs"] <= epoch_cap + 1e-9, r
        assert r["tokens_alloc"] >= 0
    total_alloc = sum(r["tokens_alloc"] for r in rows)
    assert total_alloc <= budget + eps
    if all(r["epochs"] < epoch_cap - 1e-9 for r in rows):
        assert abs(total_alloc - budget) <= eps


WORD = st.text(alphabet="abcde", min_size=1, max_size=3)
DOC = st.lists(WORD, min_size=1, max_size=12).map(" ".join)


@settings(max_examples=3, deadline=None)
@given(st.lists(DOC, min_size=1, max_size=25), st.integers(1, 5))
def test_bpe_train_matches_reference_on_random_corpora(spark, docs, n_merges):
    """Distributed BPE must reproduce the sequential reference merge
    list — pairs, order, AND counts — on arbitrary tiny-alphabet
    corpora, where ties are everywhere and the deterministic
    (count DESC, left, right) tie-break actually gets exercised."""
    from delta_data_pipelines_spark.operators.bpe import bpe_train
    from tests.test_operators import _bpe_reference

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               "doc_id long, text string")
    got = [
        (r["left"], r["right"], r["pair_count"])
        for r in bpe_train(df, "text", n_merges=n_merges).orderBy("rank").collect()
    ]
    assert got == _bpe_reference(docs, n_merges)


@settings(max_examples=3, deadline=None)
@given(
    st.lists(st.text(alphabet="pqrs", min_size=1, max_size=2),
             min_size=5, max_size=300),
    st.integers(2, 8),
    st.integers(1, 6),
)
def test_heavy_hitters_exact_equals_naive_on_random_streams(
    spark, items, k, parts
):
    """For ANY item stream, partition count, and k: the MG two-pass
    answer equals the naive groupBy-filter answer exactly."""
    from delta_data_pipelines_spark.operators.sketches import heavy_hitters_exact

    df = spark.createDataFrame([(i,) for i in items], "item string").repartition(
        parts
    )
    n = len(items)
    naive = {
        (r["item"], r["cnt"])
        for r in df.groupBy("item").agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > n / k).collect()
    }
    got = {
        (r["item"], r["cnt"])
        for r in heavy_hitters_exact(df, "item", k).collect()
    }
    assert got == naive


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 400)),
        min_size=2,
        max_size=40,
    )
)
def test_kmv_overlap_exact_below_k(spark, pairs):
    """Small-set regime: with every group under k distinct values the
    KMV overlap short-circuits to EXACT union/intersection/Jaccard of
    the value sets (up to md5 collisions, absent at this size)."""
    from delta_data_pipelines_spark.operators import sketches

    df = spark.createDataFrame(
        [(g, f"v{v}") for g, v in pairs], "g string, v string"
    )
    sets = {}
    for g, v in pairs:
        sets.setdefault(g, set()).add(f"v{v}")
    rows = sketches.kmv_overlap(df, "g", "v", k=64).collect()
    if len(sets) < 2:
        assert rows == []
        return
    a, b = sets["a"], sets["b"]
    r = rows[0]
    assert r["n_union_est"] == float(len(a | b))
    assert abs(r["jaccard_est"] - len(a & b) / len(a | b)) < 1e-8
    assert abs(r["n_inter_est"] - len(a & b)) < 1e-6


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=200),
    st.integers(2, 4),
    st.sampled_from([16, 64]),
)
def test_cm_sketch_one_sided_error(spark, items, d, w):
    """CM invariants on arbitrary multisets: estimate >= true count
    for every item, and the counter table never exceeds d*w rows."""
    from collections import Counter

    from delta_data_pipelines_spark.operators import sketches

    df = spark.createDataFrame([(f"i{x}",) for x in items], "it string")
    sk = sketches.cm_sketch(df, "it", d=d, w=w)
    assert sk.count() <= d * w
    truth = Counter(f"i{x}" for x in items)
    est = {
        r["item"]: r["n_est"]
        for r in sketches.cm_query(
            sk, df.select("it").distinct(), "it", d=d, w=w
        ).collect()
    }
    for item, n in truth.items():
        assert est[item] >= n, (item, est[item], n)


# URL strategy: a mix of well-formed URLs assembled from parts and
# arbitrary text (which must canonicalize to NULL, never crash)
_HOSTCHARS = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ09-."),
    min_size=1, max_size=12,
)
_PATHSEG = st.text(
    alphabet=st.sampled_from("abcXYZ019-._~"), min_size=0, max_size=8
)
_PARAM = st.tuples(
    st.sampled_from(["a", "b", "zz", "utm_source", "fbclid", "ref", "q1"]),
    st.text(alphabet=st.sampled_from("abc123"), min_size=0, max_size=4),
)


@st.composite
def _urls(draw):
    if draw(st.booleans()):
        return draw(TEXT)  # arbitrary non-URL text
    scheme = draw(st.sampled_from(["http", "HTTP", "https", "HtTpS", "ftp"]))
    host = draw(_HOSTCHARS)
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = "/".join([""] + draw(st.lists(_PATHSEG, max_size=3)))
    params = draw(st.lists(_PARAM, max_size=4))
    q = ("?" + "&".join(f"{k}={v}" for k, v in params)) if params else ""
    frag = draw(st.sampled_from(["", "#f", "#sec?x=1"]))
    return f"{scheme}://{host}{port}{path}{q}{frag}"


@settings(**_SETTINGS)
@given(st.lists(_urls(), min_size=1, max_size=40))
def test_canonical_url_idempotent_and_total(spark, urls):
    """canonical_url is IDEMPOTENT (canonicalizing a canonical form is
    a no-op — the fixed-point property that makes the canonical key a
    valid dedup key) and total (arbitrary text maps to NULL, URL-ish
    text maps to a non-NULL canonical form starting scheme://, never
    an error)."""
    from delta_data_pipelines_spark.functions.urls import canonical_url

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = df.select("u", canonical_url(F.col("u")).alias("c1"))
    out = once.select(
        "u", "c1", canonical_url(F.col("c1")).alias("c2")
    ).collect()
    for r in out:
        assert r["c1"] == r["c2"], (r["u"], r["c1"], r["c2"])
        if r["c1"] is not None:
            assert "://" in r["c1"]
            assert "#" not in r["c1"]
            assert "utm_source" not in r["c1"] and "fbclid" not in r["c1"]


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000),
                  st.floats(-50, 50, allow_nan=False)),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    st.integers(1, 20),
)
def test_gumbel_topk_subset_size_determinism(spark, rows, k):
    """gumbel_topk returns min(k, n) rows, all drawn from the input id
    set, identically across repeated evaluations (portable-md5 keys)."""
    from delta_data_pipelines_spark.operators.dsir import gumbel_topk

    df = spark.createDataFrame(rows, "doc_id: bigint, w: double")
    a = gumbel_topk(df, "doc_id", "w", k=k).collect()
    b = gumbel_topk(df, "doc_id", "w", k=k).collect()
    ids = {r[0] for r in rows}
    assert len(a) == min(k, len(rows))
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert all(r["doc_id"] in ids for r in a)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["p", "div", "h1", "li", "footer", "nav"]),
            st.lists(
                st.text(alphabet="abcxyz", min_size=1, max_size=6),
                min_size=0,
                max_size=6,
            ),
            st.booleans(),  # wrap the body in a link?
            st.booleans(),  # follow with a script block (must vanish)?
        ),
        min_size=0,
        max_size=12,
    )
)
def test_blocks_kernel_matches_render_model(blocks):
    """blocks_kernel inverts a rendered block document exactly: per
    non-empty block, (tag, text, chars, link_chars) equal the render
    model's — one text node per block, chars = node length, link
    chars = the whole node iff wrapped in <a>; empty blocks vanish;
    script bodies never leak into any block."""
    from delta_data_pipelines_spark.ingest.maincontent import blocks_kernel

    html_parts = ["<html><body>"]
    expect = []
    for tag, words, linked, with_script in blocks:
        body = " ".join(words)
        inner = f'<a href="#">{body}</a>' if linked else body
        html_parts.append(f"<{tag}>{inner}</{tag}>")
        if with_script:
            html_parts.append("<script>var leak = 'NO';</script>")
        if body:
            expect.append(
                (tag, body, len(body), len(body) if linked else 0)
            )
    html_parts.append("</body></html>")
    got = blocks_kernel("".join(html_parts))
    assert [
        (b["tag"], b["text"], b["chars"], b["link_chars"]) for b in got
    ] == expect
    assert all("NO" not in b["text"] for b in got)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=6),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=12,
    ),
    st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=6),
            min_size=1,
            max_size=3,
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_blocklist_matches_python_suffix_model(spark, hosts, entries):
    """filter_blocked_hosts == the pure-Python label-boundary model on
    random label-structured hosts and blocklist entries: a row drops
    iff some entry equals the host or a dot-suffix of it at a label
    boundary. Exercises overlapping labels (ab vs b), multi-label
    entries, and entry==host collisions the LIKE bug family gets
    wrong."""
    from delta_data_pipelines_spark.functions.urls import (
        filter_blocked_hosts,
    )

    host_strs = [".".join(h) for h in hosts]
    entry_strs = sorted({".".join(e) for e in entries})
    rows = [(i, f"http://{h}/p") for i, h in enumerate(host_strs)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    bl = spark.createDataFrame([(e,) for e in entry_strs], "domain string")

    def blocked(h: str) -> bool:
        labels = h.split(".")
        sfx = {".".join(labels[i:]) for i in range(len(labels))}
        return any(e in sfx for e in entry_strs)

    expect = {i for i, h in enumerate(host_strs) if not blocked(h)}
    got = {
        r["doc_id"] for r in filter_blocked_hosts(df, "url", bl).collect()
    }
    assert got == expect


_C4_LINES = st.one_of(
    st.text(alphabet="xy .!", min_size=0, max_size=14),
    st.sampled_from(
        [
            "we use JavaScript on this site.",   # badword (case-folded)
            "lorem ipsum dolor sit amet.",       # doc badword
            "try { render() }",                  # brace doc drop
            "x y x y x.",                        # clean 5-word line
            "x y x y x y.",                      # clean 6-word line
            "tiny.",                             # min-words reject
            "no terminal punct",                 # punct reject
        ]
    ),
)


@settings(**_SETTINGS)
@given(st.lists(st.lists(_C4_LINES, min_size=0, max_size=6),
                min_size=1, max_size=10))
def test_c4_clean_matches_python_model(spark, docs):
    """c4_clean == the pure-Python C4 rule model on random multi-line
    texts: per-line terminal-punct/min-words/badword, per-doc
    min-kept/lorem/brace. Lines mix random '.!'-terminated token runs
    with a crafted pool so every rule (including the javascript and
    lorem-ipsum badwords) fires across examples."""
    from delta_data_pipelines_spark.operators.textstats import c4_clean

    texts = ["\n".join(lines) for lines in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def line_ok(l: str) -> bool:
        if not l or l[-1] not in '.!?"':
            return False
        if len([w for w in l.split(" ") if w]) < 5:
            return False
        return "javascript" not in l.lower()

    def model(t: str):
        kept = [l for l in t.split("\n") if line_ok(l)]
        if len(kept) < 3 or "{" in t or "lorem ipsum" in t.lower():
            return None
        return (len(t.split("\n")), len(kept), "\n".join(kept))

    expect = {i: model(t) for i, t in enumerate(texts) if model(t)}
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["clean_text"])
        for r in c4_clean(df, "doc_id", "text").collect()
    }
    assert got == expect


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=14).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_gopher_repetition_devices_match_python_model(spark, texts, n):
    """top_ngram_ratio (both the plain-sorted and struct-sorted forms)
    and dup_ngram_coverage must equal the Counter/interval-union model
    on arbitrary token streams — a 2-letter alphabet forces heavy
    n-gram repetition and overlapping duplicated occurrences, the
    regime the interval union exists for."""
    from collections import Counter

    from delta_data_pipelines_spark.operators.textstats import (
        dup_ngram_coverage,
        dup_ngram_starts,
        sliding_ngrams_from_words,
        sorted_grams_with_pos,
        top_ngram_ratio_from_sorted_structs,
        top_ngram_ratio_from_words,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    s1 = df.select("id", F.split(F.col("t"), " ").alias("_w"))
    w = F.col("_w")
    s2 = s1.select(
        "id",
        F.size(w).alias("L"),
        top_ngram_ratio_from_words(w, n).alias("tp"),
        sorted_grams_with_pos(w, n).alias("_s"),
    )
    s3 = s2.select(
        "id", "L", "tp",
        top_ngram_ratio_from_sorted_structs(F.col("_s")).alias("ts"),
        dup_ngram_starts(F.col("_s")).alias("_d"),
    )
    got = {
        r["id"]: (r["tp"], r["ts"], r["cov"])
        for r in s3.select(
            "id", "tp", "ts",
            dup_ngram_coverage(F.col("_d"), n, F.col("L")).alias("cov"),
        ).collect()
    }
    for i, s in enumerate(texts):
        toks = s.split(" ")
        grams = [tuple(toks[j:j + n]) for j in range(len(toks) - n + 1)]
        if not grams:
            top, cov = 0.0, 0.0
        else:
            c = Counter(grams)
            top = max(c.values()) / len(grams)
            covered = set()
            for j, g in enumerate(grams):
                if c[g] >= 2:
                    covered.update(range(j, j + n))
            cov = len(covered) / len(toks)
        assert abs(got[i][0] - top) < 1e-8, (s, n, got[i][0], top)
        assert abs(got[i][1] - top) < 1e-8, (s, n, got[i][1], top)
        assert abs(got[i][2] - cov) < 1e-8, (s, n, got[i][2], cov)


WORD = st.sampled_from(["a", "b", "c", "d", "ab"])


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(WORD, min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=16,
    )
)
def test_kn_bigram_matches_python_model(spark, texts):
    """Interpolated-KN parity against a pure-Python model over
    generated corpora: fit on the even-index docs (+ one pinned doc so
    the type table is never empty), score everything, and compare
    n_bigrams and avg_logprob per doc to 1e-9 — exercising seen pairs,
    discount-only pairs, unseen contexts, and unseen continuations as
    hypothesis shrinks the vocabulary overlap."""
    import math
    from collections import Counter

    from delta_data_pipelines_spark.operators.textstats import kn_logprob_scores

    texts = ["a b c"] + texts  # pinned at index 0 (even -> always in ref)
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref_rows = [(i, t) for i, t in rows if i % 2 == 0]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")

    def pairs(t):
        w = t.split(" ")
        return list(zip(w, w[1:]))

    D = 0.75
    bf = Counter()
    for _, t in ref_rows:
        bf.update(pairs(t))
    c1, n1f, cont = Counter(), Counter(), Counter()
    for (w1, w2), c in bf.items():
        c1[w1] += c
        n1f[w1] += 1
        cont[w2] += 1
    B = len(bf)
    expect = {}
    for i, t in rows:
        ps = pairs(t)
        if not ps:
            continue
        s = 0
        for w1, w2 in ps:
            pc = cont.get(w2, 1) / B
            if w1 in c1:
                p = (max(bf.get((w1, w2), 0) - D, 0.0) + D * n1f[w1] * pc) / c1[w1]
            else:
                p = pc
            s += round(math.log(p), 9)
        expect[i] = (len(ps), s / len(ps))

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in kn_logprob_scores(docs, ref, 2, "doc_id", "text").collect()
    }
    assert set(got) == set(expect)
    for i, (n, lp) in expect.items():
        assert got[i][0] == n, (i, got[i], n)
        assert abs(got[i][1] - lp) < 1e-9, (i, got[i][1], lp)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(WORD, min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=12,
    )
)
def test_kn_trigram_matches_python_model(spark, texts):
    """Trigram-KN parity against a pure-Python model: the two-level
    backoff (raw counts at the trigram level, MODIFIED continuation
    counts at the bigram level, continuation distribution at the
    base) compared per doc to 1e-9 over generated corpora."""
    import math
    from collections import Counter

    from delta_data_pipelines_spark.operators.textstats import kn_logprob_scores

    texts = ["a b c d"] + texts  # pinned at index 0 -> ref never empty
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref_rows = [(i, t) for i, t in rows if i % 2 == 0]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")

    def trips(t):
        w = t.split(" ")
        return list(zip(w, w[1:], w[2:]))

    D = 0.75
    bf3 = Counter()
    for _, t in ref_rows:
        bf3.update(trips(t))
    c12, n1f3 = Counter(), Counter()
    bn = Counter()
    for (w1, w2, w3), c in bf3.items():
        c12[(w1, w2)] += c
        n1f3[(w1, w2)] += 1
        bn[(w2, w3)] += 1
    c2n, n1f2, cont = Counter(), Counter(), Counter()
    for (w2, w3), c in bn.items():
        c2n[w2] += c
        n1f2[w2] += 1
        cont[w3] += 1
    B2 = len(bn)
    expect = {}
    for i, t in rows:
        ts = trips(t)
        if not ts:
            continue
        s = 0
        for w1, w2, w3 in ts:
            pc = cont.get(w3, 1) / B2
            if w2 in c2n:
                p2 = (max(bn.get((w2, w3), 0) - D, 0.0) + D * n1f2[w2] * pc) / c2n[w2]
            else:
                p2 = pc
            if (w1, w2) in c12:
                p3 = (
                    max(bf3.get((w1, w2, w3), 0) - D, 0.0)
                    + D * n1f3[(w1, w2)] * p2
                ) / c12[(w1, w2)]
            else:
                p3 = p2
            s += round(math.log(p3), 9)
        expect[i] = (len(ts), s / len(ts))

    got = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logprob"])
        for r in kn_logprob_scores(docs, ref, 3, "doc_id", "text").collect()
    }
    assert set(got) == set(expect)
    for i, (n, lp) in expect.items():
        assert got[i][0] == n, (i, got[i], n)
        assert abs(got[i][1] - lp) < 1e-9, (i, got[i][1], lp)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(WORD, min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=16,
    )
)
def test_kn_quadgram_matches_python_model(spark, texts):
    """4-gram-KN parity against a pure-Python model: the three-level
    backoff (raw counts at the 4-gram level, MODIFIED distinct-left-
    context counts cascading through the trigram and bigram levels,
    continuation distribution at the base) compared per doc to 1e-9
    over generated corpora — every rung reachable because the scored
    half includes odd-index docs the model never saw."""
    import math
    from collections import Counter

    from delta_data_pipelines_spark.operators.textstats import kn_logprob_scores

    texts = ["a b c d a"] + texts  # pinned at index 0 -> ref never empty
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref_rows = [(i, t) for i, t in rows if i % 2 == 0]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")

    def quads(t):
        w = t.split(" ")
        return list(zip(w, w[1:], w[2:], w[3:]))

    D = 0.75
    bf4 = Counter()
    for _, t in ref_rows:
        bf4.update(quads(t))
    c123, n1f4 = Counter(), Counter()
    bn3 = Counter()
    for (w1, w2, w3, w4), c in bf4.items():
        c123[(w1, w2, w3)] += c
        n1f4[(w1, w2, w3)] += 1
        bn3[(w2, w3, w4)] += 1
    c23n, n1f3n = Counter(), Counter()
    bn2 = Counter()
    for (w2, w3, w4), c in bn3.items():
        c23n[(w2, w3)] += c
        n1f3n[(w2, w3)] += 1
        bn2[(w3, w4)] += 1
    c3n, n1f2n, cont = Counter(), Counter(), Counter()
    for (w3, w4), c in bn2.items():
        c3n[w3] += c
        n1f2n[w3] += 1
        cont[w4] += 1
    B3 = len(bn2)
    expect = {}
    for i, t in rows:
        qs = quads(t)
        if not qs:
            continue
        s = 0
        for w1, w2, w3, w4 in qs:
            pc = cont.get(w4, 1) / B3
            if w3 in c3n:
                p2 = (
                    max(bn2.get((w3, w4), 0) - D, 0.0) + D * n1f2n[w3] * pc
                ) / c3n[w3]
            else:
                p2 = pc
            if (w2, w3) in c23n:
                p3 = (
                    max(bn3.get((w2, w3, w4), 0) - D, 0.0)
                    + D * n1f3n[(w2, w3)] * p2
                ) / c23n[(w2, w3)]
            else:
                p3 = p2
            if (w1, w2, w3) in c123:
                p4 = (
                    max(bf4.get((w1, w2, w3, w4), 0) - D, 0.0)
                    + D * n1f4[(w1, w2, w3)] * p3
                ) / c123[(w1, w2, w3)]
            else:
                p4 = p3
            s += round(math.log(p4), 9)
        expect[i] = (len(qs), s / len(qs))

    got = {
        r["doc_id"]: (r["n_quadgrams"], r["avg_logprob"])
        for r in kn_logprob_scores(docs, ref, 4, "doc_id", "text").collect()
    }
    assert set(got) == set(expect)
    for i, (n, lp) in expect.items():
        assert got[i][0] == n, (i, got[i], n)
        assert abs(got[i][1] - lp) < 1e-9, (i, got[i][1], lp)
