"""Property-based differential testing: random ANSI-SQL queries
(filter / project / group-agg / order-limit over lineitem) executed by
BOTH Spark and DuckDB, results compared exactly.

This generalizes the per-query oracles: instead of 58 hand-written
query/oracle pairs, hypothesis explores the predicate/projection space
the reference's grammar covers (comparisons, conjunctions —
src/qp/parser/parser.cup:183-208) plus the aggregates it only parses
(src/qp/parser/parser.cup:225-249), catching semantic drift between
the engines (coercion, null handling, tie-breaks) that fixed examples
miss.

Aggregates are restricted to order-insensitive ones (count/min/max) so
exactness doesn't depend on the decimal-sum contract.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.oracle import compare, duckdb_run

SF = "/root/testdata/sf0.001"

NUM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"]
STR_COLS = ["l_returnflag", "l_linestatus"]
OPS = ["<", "<=", ">", ">=", "=", "<>"]

num_pred = st.builds(
    lambda c, op, v: f"{c} {op} {v}",
    st.sampled_from(NUM_COLS),
    st.sampled_from(OPS),
    st.integers(min_value=0, max_value=60),
)
str_pred = st.builds(
    lambda c, op, v: f"{c} {op} '{v}'",
    st.sampled_from(STR_COLS),
    st.sampled_from(["=", "<>"]),
    st.sampled_from(["A", "N", "R", "O", "F"]),
)
date_pred = st.builds(
    lambda op, y, m: f"l_shipdate {op} DATE '{y}-{m:02d}-01'",
    st.sampled_from(["<", ">="]),
    st.integers(min_value=1992, max_value=1998),
    st.integers(min_value=1, max_value=12),
)
predicates = st.lists(st.one_of(num_pred, str_pred, date_pred), min_size=0, max_size=3)


@st.composite
def sql_query(draw) -> str:
    preds = draw(predicates)
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    if draw(st.booleans()):
        # group-agg form
        keys = draw(
            st.lists(st.sampled_from(STR_COLS + ["l_linenumber"]), min_size=1, max_size=2,
                     unique=True)
        )
        target = draw(st.sampled_from(NUM_COLS))
        agg = draw(st.sampled_from(["COUNT(*)", f"MIN({target})", f"MAX({target})"]))
        return (
            f"SELECT {', '.join(keys)}, {agg} AS agg_val, COUNT(*) AS n "
            f"FROM lineitem{where} GROUP BY {', '.join(keys)}"
        )
    # projection form (keys included so LIMIT-less results are comparable)
    cols = draw(st.lists(st.sampled_from(NUM_COLS + STR_COLS), min_size=1, max_size=4,
                         unique=True))
    return f"SELECT {', '.join(cols)} FROM lineitem{where}"


ORDERS_NUM = ["o_orderkey", "o_custkey", "o_totalprice"]
ORDERS_STR = ["o_orderstatus"]

o_num_pred = st.builds(
    lambda c, op, v: f"{c} {op} {v}",
    st.sampled_from(ORDERS_NUM),
    st.sampled_from(OPS),
    st.integers(min_value=0, max_value=300_000),
)
o_str_pred = st.builds(
    lambda op, v: f"o_orderstatus {op} '{v}'",
    st.sampled_from(["=", "<>"]),
    st.sampled_from(["F", "O", "P"]),
)


@st.composite
def join_query(draw) -> str:
    """Random 2-table join: lineitem ⋈ orders on the real FK, with
    predicates on either side, as projection or grouped aggregate."""
    preds = draw(st.lists(st.one_of(num_pred, o_num_pred, o_str_pred), max_size=3))
    where = (" AND " + " AND ".join(preds)) if preds else ""
    if draw(st.booleans()):
        key = draw(st.sampled_from(["l_returnflag", "o_orderstatus", "l_linenumber"]))
        target = draw(st.sampled_from(NUM_COLS + ORDERS_NUM))
        agg = draw(st.sampled_from(["COUNT(*)", f"MIN({target})", f"MAX({target})"]))
        return (
            f"SELECT {key}, {agg} AS agg_val FROM lineitem JOIN orders "
            f"ON l_orderkey = o_orderkey WHERE 1=1{where} GROUP BY {key}"
        )
    cols = draw(st.lists(st.sampled_from(NUM_COLS + STR_COLS + ORDERS_NUM + ORDERS_STR),
                         min_size=1, max_size=4, unique=True))
    return (
        f"SELECT {', '.join(cols)} FROM lineitem JOIN orders "
        f"ON l_orderkey = o_orderkey WHERE 1=1{where}"
    )


@pytest.fixture(scope="module")
def views(spark):
    from database_query_processor_spark.catalog import register_tables

    register_tables(spark, SF, tables=("lineitem", "orders"))
    return spark


@given(sql=sql_query())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_spark_matches_duckdb(views, sql):
    probs = compare(views.sql(sql), duckdb_run(sql, SF))
    assert not probs, f"{sql}\n{probs}"


@given(sql=join_query())
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_join_spark_matches_duckdb(views, sql):
    probs = compare(views.sql(sql), duckdb_run(sql, SF))
    assert not probs, f"{sql}\n{probs}"


# --- reference-dialect translator differential ---------------------------
#
# Same differential idea, but the Spark side goes through the
# reference-dialect TRANSLATOR (plans/dialect.py): random queries in
# the reference grammar (comma-AND conjuncts, GROUPBY/ORDERBY
# keywords, double-quoted literals, mandatory TABLE.col qualification,
# one global DESC flag) and the structurally-equivalent ANSI for
# DuckDB — covering the translator across the grammar space instead
# of the handful of fixed testcase files.


@st.composite
def dialect_query(draw):
    """Returns (reference_dialect_sql, ansi_sql) for one random query."""
    preds = []
    for _ in range(draw(st.integers(min_value=0, max_value=3))):
        kind = draw(st.sampled_from(["num", "str", "attr"]))
        if kind == "num":
            c = draw(st.sampled_from(NUM_COLS))
            op = draw(st.sampled_from(OPS))
            v = draw(st.integers(min_value=0, max_value=60))
            preds.append((f'lineitem.{c} {op} "{v}"', f"{c} {op} {v}"))
        elif kind == "str":
            c = draw(st.sampled_from(STR_COLS))
            op = draw(st.sampled_from(["=", "<>"]))
            v = draw(st.sampled_from(["A", "N", "R", "O", "F"]))
            preds.append((f'lineitem.{c} {op} "{v}"', f"{c} {op} '{v}'"))
        else:  # attr-vs-attr, same table (reference routes to Select)
            a, b = draw(
                st.sampled_from(
                    [("l_partkey", "l_suppkey"), ("l_linenumber", "l_quantity")]
                )
            )
            op = draw(st.sampled_from(OPS))
            preds.append((f"lineitem.{a} {op} lineitem.{b}", f"{a} {op} {b}"))
    ref_where = (" WHERE " + ", ".join(p[0] for p in preds)) if preds else ""
    ansi_where = (" WHERE " + " AND ".join(p[1] for p in preds)) if preds else ""

    if draw(st.booleans()):
        # GROUPBY form — reference semantics: project list ⊆ group keys
        keys = draw(
            st.lists(st.sampled_from(STR_COLS + ["l_linenumber"]), min_size=1,
                     max_size=2, unique=True)
        )
        ref_cols = ", ".join(f"lineitem.{k}" for k in keys)
        ref = f"SELECT {ref_cols} FROM lineitem{ref_where} GROUPBY {ref_cols}"
        ansi = (
            f"SELECT {', '.join(keys)} FROM lineitem{ansi_where} "
            f"GROUP BY {', '.join(keys)}"
        )
        return ref, ansi

    cols = draw(
        st.lists(st.sampled_from(NUM_COLS + STR_COLS), min_size=1, max_size=3,
                 unique=True)
    )
    ref_cols = ", ".join(f"lineitem.{c}" for c in cols)
    order = draw(st.sampled_from([None, "asc", "desc"]))
    ref = f"SELECT {ref_cols} FROM lineitem{ref_where}"
    ansi = f"SELECT {', '.join(cols)} FROM lineitem{ansi_where}"
    if order:
        okey = cols[0]
        ref += f" ORDERBY lineitem.{okey}" + (" DESC" if order == "desc" else "")
        # order-insensitive compare: ORDER BY only changes row order,
        # which the canonical sort in compare() already neutralizes —
        # what's under test is that the translator ACCEPTS the clause
    return ref, ansi


@given(q=dialect_query())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dialect_translator_matches_duckdb(views, q):
    from database_query_processor_spark.plans.dialect import translate

    ref_sql, ansi_sql = q
    probs = compare(views.sql(translate(ref_sql)), duckdb_run(ansi_sql, SF))
    assert not probs, f"{ref_sql}\n-> {translate(ref_sql)}\n{probs}"


# --- window-function differential ----------------------------------------
#
# The c-family window queries (rank family, frames, lag/lead) are the
# lowest-risk block left for driver verification; this property test
# walks the window space (function × partition × order × frame) so a
# Spark/DuckDB semantic divergence would surface before the driver
# sweep reaches them.


@st.composite
def window_query(draw) -> str:
    part = draw(st.sampled_from(["o_orderstatus", "o_custkey % 10"]))
    okey = draw(st.sampled_from(["o_orderkey", "o_totalprice DESC, o_orderkey"]))
    fn = draw(
        st.sampled_from(
            [
                "rank()",
                "dense_rank()",
                "row_number()",
                "lag(o_orderkey, 1) ",
                "lead(o_orderkey, 2)",
                "count(*)",
                "min(o_orderkey)",
            ]
        )
    )
    frame = ""
    if fn in ("count(*)", "min(o_orderkey)") and draw(st.booleans()):
        frame = " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW"
    pred = draw(st.sampled_from(["", " WHERE o_custkey < 500", " WHERE o_orderkey < 2000"]))
    return (
        f"SELECT o_orderkey, {fn} OVER (PARTITION BY {part} ORDER BY {okey}{frame}) AS w "
        f"FROM orders{pred}"
    )


@given(sql=window_query())
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_window_spark_matches_duckdb(views, sql):
    probs = compare(views.sql(sql), duckdb_run(sql, SF))
    assert not probs, f"{sql}\n{probs}"


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=20
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=0, max_size=20
    ),
    tol=st.integers(1, 200),
)
def test_nearest_asof_matches_bruteforce(spark, lefts, rights, tol):
    """t17's union-merge nearest pick vs an O(n·m) reference on random
    per-key event sets: same match, same distance, same drop set —
    including the tie rule (equal distance → earlier right row)."""
    import datetime as dt

    from database_query_processor_spark.operators.temporal import nearest_asof_join

    T0 = dt.datetime(2024, 1, 1)
    s = lambda sec: T0 + dt.timedelta(seconds=sec)
    rights = list({(k, ts) for k, ts in rights})  # unique per (key, ts)
    ldf = spark.createDataFrame(
        [(i, k, s(ts)) for i, (k, ts) in enumerate(lefts)], ["lid", "k", "ts"]
    )
    rdf = (
        spark.createDataFrame(
            [(k, s(ts), 1000 + i) for i, (k, ts) in enumerate(rights)],
            ["k", "ts", "rid"],
        )
        if rights
        else spark.createDataFrame([], "k INT, ts TIMESTAMP, rid INT")
    )
    got = {
        r["lid"]: (r["matched_val"], r["dist_us"])
        for r in nearest_asof_join(
            ldf, rdf, key="k", left_ts="ts", right_ts="ts",
            right_val="rid", tolerance_us=tol * 1_000_000,
        ).collect()
    }
    rmap = {}
    for i, (k, ts) in enumerate(rights):
        rmap.setdefault(k, []).append((ts, 1000 + i))
    for i, (k, lts) in enumerate(lefts):
        cands = [
            (abs(rts - lts), rts, rid)
            for rts, rid in rmap.get(k, [])
            if abs(rts - lts) <= tol
        ]
        if not cands:
            assert i not in got, (i, got.get(i))
        else:
            d, _, rid = min(cands)  # min dist, then earliest rts
            assert got[i] == (rid, d * 1_000_000), (i, got[i], cands)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_substring_spans_match_bruteforce(spark, docs):
    """x55's window/run-chaining formulation vs an O(n²) reference on
    random tiny-alphabet corpora (small alphabet → dense collisions,
    exercising run merging, whole-doc spans, and same-doc repeats)."""
    from collections import Counter

    k = 3

    from database_query_processor_spark.operators.dedup import substring_dup_spans

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_tokens"])
        for r in substring_dup_spans(df, "doc_id", "text", k=k).collect()
    }
    counts = Counter(
        tuple(toks[i : i + k]) for toks in docs for i in range(len(toks) - k + 1)
    )
    want = set()
    for d, toks in enumerate(docs):
        dup = [i for i in range(len(toks) - k + 1) if counts[tuple(toks[i : i + k])] >= 2]
        run_start = None
        for j, p in enumerate(dup):
            if run_start is None:
                run_start = p
            if j + 1 == len(dup) or dup[j + 1] != p + 1:
                want.add((d, run_start + 1, p - run_start + k))
                run_start = None
    assert got == want, (sorted(got), sorted(want))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cents=st.lists(st.integers(0, 5000), min_size=1, max_size=40),
    thr_units=st.integers(1, 50),
)
def test_value_bars_match_bruteforce(spark, cents, thr_units):
    """t18's two-pass distributed prefix sum vs a sequential reference
    on random value streams (zero values, threshold-straddling events,
    thresholds smaller and larger than single events)."""
    import datetime as dt

    from database_query_processor_spark.operators.temporal import value_bars

    thr_us = thr_units * 1_000_000
    T0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(seconds=i), c / 100.0)
            for i, c in enumerate(cents)
        ],
        "event_id INT, ts TIMESTAMP, value DOUBLE",
    )
    got = {
        r["bar_id"]: (r["n_events"], r["bar_value_us"])
        for r in value_bars(df, "ts", "event_id", "value", thr_us).collect()
    }
    want = {}
    cum = 0
    for c in cents:
        v_us = c * 10_000  # cents -> micro-units, exact
        bar = cum // thr_us
        n, t = want.get(bar, (0, 0))
        want[bar] = (n + 1, t + v_us)
        cum += v_us
    assert got == want, (got, want)


@given(
    st.text(
        alphabet=st.characters(
            min_codepoint=0, max_codepoint=0x2FF  # covers all controls + latin
        ),
        max_size=200,
    )
)
@settings(max_examples=200, deadline=None)
def test_json_escape_roundtrips_arbitrary_text(text):
    """PROPERTY: for ANY text (all control chars included), the shared
    DuckDB escape chain produces a string that a strict JSON parser
    decodes back to the original — the contract the Spark side mirrors
    byte-for-byte (exercised there by the unit tests; this drives the
    chain itself through the whole input space)."""
    import json as _json

    import duckdb

    from database_query_processor_spark.operators.corpus import sql_json_escape

    con = duckdb.connect()
    escaped = con.execute(f"SELECT {sql_json_escape('?')}", [text]).fetchone()[0]
    assert _json.loads(f'"{escaped}"') == text


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=300, deadline=None)
def test_det_hash_pmod_contract_full_signed_domain(i):
    """PROPERTY: the shared deterministic hash stays in [0, HASH_MOD)
    and agrees between the Python-evaluated formula and the DuckDB
    SQL mirror for EVERY signed-64 id (the negative half is where the
    pre-fix % went negative and sampling gates collapsed)."""
    import duckdb

    from database_query_processor_spark.operators.corpus import (
        HASH_MOD,
        HASH_MULT,
        sql_det_hash,
    )

    py = (((i % HASH_MOD) + HASH_MOD) % HASH_MOD) * HASH_MULT % HASH_MOD
    con = duckdb.connect()
    (sql,) = con.execute(f"SELECT {sql_det_hash(str(i))}").fetchone()
    assert 0 <= py < HASH_MOD
    assert sql == py, (i, sql, py)


def _shim_sm():
    """Import PySpark's generated StateMessage_pb2 against the vendored
    shim runtime (idempotent; the real protobuf wins if installed)."""
    import os
    import sys

    shim = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "database_query_processor_spark", "vendor", "protoshim",
    )
    if shim not in sys.path:
        sys.path.insert(0, shim)
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    return sm


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=300, deadline=None)
def test_protoshim_varint_int64_roundtrip(v):
    """PROPERTY: every signed-64 value survives the shim's varint
    encode/decode (negative values sign-extend to 10-byte varints —
    the proto int64 contract)."""
    sm = _shim_sm()
    m = sm.TimerInfo(timestampMs=v)
    back = sm.TimerInfo()
    back.ParseFromString(m.SerializeToString())
    assert back.timestampMs == v


@given(
    st.lists(st.binary(max_size=64), max_size=8),
    st.integers(min_value=-(2**31), max_value=2**31 - 1),
    st.text(max_size=64),
    st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_protoshim_message_roundtrip(blobs, code, err, fetch):
    """PROPERTY: scalar + repeated-bytes + bool fields round-trip
    through the shim wire codec for arbitrary values, including
    empty strings/bytes and int32 extremes."""
    sm = _shim_sm()
    m = sm.StateResponseWithListGet(
        statusCode=code, errorMessage=err, value=blobs, requireNextFetch=fetch
    )
    back = sm.StateResponseWithListGet()
    back.ParseFromString(m.SerializeToString())
    assert back.statusCode == code
    assert back.errorMessage == err
    assert list(back.value) == blobs
    assert back.requireNextFetch is fetch


@given(st.lists(st.tuples(st.binary(max_size=32), st.binary(max_size=32)), max_size=6))
@settings(max_examples=200, deadline=None)
def test_protoshim_repeated_message_roundtrip(pairs):
    """PROPERTY: repeated submessages keep order and content."""
    sm = _shim_sm()
    m = sm.StateResponseWithMapIterator(
        statusCode=0,
        kvPair=[sm.KeyAndValuePair(key=k, value=v) for k, v in pairs],
    )
    back = sm.StateResponseWithMapIterator()
    back.ParseFromString(m.SerializeToString())
    assert [(p.key, p.value) for p in back.kvPair] == pairs


def test_protoshim_unknown_fields_skipped():
    """A conforming decoder skips unknown fields of every wire type:
    splice unknown varint/len/i64/i32 fields around a known field and
    the known value still parses."""
    sm = _shim_sm()
    from database_query_processor_spark.vendor.protoshim.google.protobuf import (  # noqa: E501
        _shim_impl as W,
    )

    known = sm.StateResponse(statusCode=7).SerializeToString()
    unknown = (
        W._enc_tag(99, 0) + W._enc_varint(12345)
        + W._enc_len_delim(98, b"junk")
        + W._enc_tag(97, 1) + b"\x01\x02\x03\x04\x05\x06\x07\x08"
        + W._enc_tag(96, 5) + b"\x01\x02\x03\x04"
    )
    back = sm.StateResponse()
    back.ParseFromString(unknown + known + unknown)
    assert back.statusCode == 7


@pytest.mark.parametrize("n", [3, 8])
def test_xxhash64_shingle_identity(spark, n):
    """CONTRACT: xxhash64 is injective on the corpus' distinct word
    n-grams — the 3-grams that MinHash, n-gram Jaccard and containment
    carry as 64-bit hashes (dedup.doc_shingle_hashes), and the 8-grams
    by whose hash substring_dup_spans keys its duplicated-gram window.
    With no collision, every result those operators derive from hashes
    is bit-identical to the gram-string form."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.catalog import load_table
    from database_query_processor_spark.operators import dedup as D

    docs = load_table(spark, SF, "documents")
    grams = D.doc_shingles(docs, "doc_id", "text", n=n).select(F.explode("grams"))
    hashes = D.doc_shingle_hashes(docs, "doc_id", "text", n=n).select(F.explode("hs64"))
    n_grams = grams.distinct().count()
    assert n_grams > 1000  # the corpus exercises the contract
    assert hashes.distinct().count() == n_grams
