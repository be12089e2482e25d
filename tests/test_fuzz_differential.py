"""Seeded differential fuzzing of the SQL entry path (SQLancer-lite).

Generates a few dozen random-but-deterministic filter/aggregate/join
queries from a small grammar, runs the IDENTICAL SQL text through Spark
(temp views over the testdata parquet, sources/tpch.py:register_views)
and through DuckDB, and compares row count + sorted-column value hash
with the same canonicalization the driver's correctness gate uses
(tools/diffcheck.py:canon_hash). The hand-written specs pin 100+ chosen
plans; this sweeps the combinatorial neighborhood AROUND them — dialect
divergence in predicate semantics, null handling, grouping, or numeric
widening shows up as a hash mismatch on some generated query.

Determinism rules the grammar follows:
- aggregates restricted to count/min/max plus sum over integral values
  (sums of doubles depend on reduction order; integral sums are exact),
- every aggregate/computed column aliased identically in both engines
  (they share one text), BIGINT-cast to dodge DuckDB's HUGEINT widening
  (tests/test_plan_lint.py documents that trap),
- no ORDER BY / LIMIT (the hash is order-insensitive; LIMIT without a
  total order is nondeterministic by definition).
"""

from __future__ import annotations

import random

import duckdb
import pytest

from tests.conftest import SF_ORACLE
from tools.diffcheck import canon_hash

TABLES = {
    "lineitem": {
        "int_cols": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "num_cols": ["l_quantity", "l_extendedprice", "l_discount"],
        "str_cols": ["l_returnflag", "l_linestatus"],
        "group_cols": ["l_returnflag", "l_linestatus"],
    },
    "orders": {
        "int_cols": ["o_orderkey", "o_custkey"],
        "num_cols": ["o_totalprice"],
        "str_cols": ["o_orderstatus", "o_orderpriority"],
        "group_cols": ["o_orderstatus", "o_orderpriority"],
    },
    "events": {
        "int_cols": ["event_id", "user_id"],
        "num_cols": ["value"],
        "str_cols": ["event_type"],
        "group_cols": ["event_type"],
    },
    "customer": {
        "int_cols": ["c_custkey", "c_nationkey"],
        "num_cols": ["c_acctbal"],
        "str_cols": ["c_mktsegment"],
        "group_cols": ["c_mktsegment"],
    },
}

#: literal pools — approximate quantiles of the sf0.01 data, chosen so
#: predicates are selective but rarely empty
INT_LITS = [1, 7, 50, 400, 3000, 20000]
NUM_LITS = [0.02, 0.5, 5.0, 100.0, 900.0, 20000.0]
STR_LITS = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["F", "O"],
    "o_orderstatus": ["F", "O", "P"],
    "o_orderpriority": ["1-URGENT", "3-MEDIUM", "5-LOW"],
    "event_type": ["view", "click", "purchase", "signup", "error"],
    "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"],
}


def _predicate(rng: random.Random, t: dict) -> str:
    kind = rng.choice(["int_cmp", "num_cmp", "str_eq", "str_in", "null", "between"])
    if kind == "int_cmp":
        c = rng.choice(t["int_cols"])
        return f"{c} {rng.choice(['<', '<=', '>', '>=', '=', '<>'])} {rng.choice(INT_LITS)}"
    if kind == "num_cmp":
        c = rng.choice(t["num_cols"])
        return f"{c} {rng.choice(['<', '>'])} {rng.choice(NUM_LITS)}"
    if kind == "str_eq":
        c = rng.choice(t["str_cols"])
        return f"{c} = '{rng.choice(STR_LITS[c])}'"
    if kind == "str_in":
        c = rng.choice(t["str_cols"])
        lits = rng.sample(STR_LITS[c], k=min(2, len(STR_LITS[c])))
        quoted = ", ".join(f"'{v}'" for v in lits)
        neg = rng.choice(["", "NOT "])
        return f"{c} {neg}IN ({quoted})"
    if kind == "null":
        c = rng.choice(t["int_cols"] + t["str_cols"])
        return f"{c} IS {rng.choice(['NOT NULL', 'NULL'])}"
    c = rng.choice(t["int_cols"])
    lo = rng.choice(INT_LITS)
    return f"{c} BETWEEN {lo} AND {lo * rng.choice([2, 10, 100])}"


def _gen_query(rng: random.Random) -> str:
    name = rng.choice(list(TABLES))
    t = TABLES[name]
    preds = [_predicate(rng, t) for _ in range(rng.randint(0, 3))]
    where = (" WHERE " + f" {rng.choice(['AND', 'OR'])} ".join(preds)) if preds else ""
    if rng.random() < 0.25:  # plain aggregate-free projection, hashed whole
        cols = ", ".join(
            rng.sample(t["int_cols"] + t["str_cols"], k=rng.randint(1, 3))
        )
        return f"SELECT {cols} FROM {name}{where}"
    gcols = rng.sample(t["group_cols"], k=rng.randint(0, min(2, len(t["group_cols"]))))
    aggs = ["count(*) AS n"]
    for i in range(rng.randint(0, 2)):
        fn = rng.choice(["min", "max", "sum", "count"])
        c = rng.choice(t["int_cols"])
        aggs.append(f"CAST({fn}({c}) AS BIGINT) AS a{i}")
    if rng.random() < 0.4:
        c = rng.choice(t["str_cols"])
        aggs.append(f"count(DISTINCT {c}) AS nd")
    select = ", ".join(gcols + aggs)
    group = f" GROUP BY {', '.join(gcols)}" if gcols else ""
    having = ""
    if gcols and rng.random() < 0.3:
        having = f" HAVING count(*) > {rng.choice([1, 5, 20])}"
    return f"SELECT {select} FROM {name}{group}{having}".replace(
        f"FROM {name}", f"FROM {name}{where}", 1
    )


#: dialect-shared scalar expressions over a string column (must parse AND
#: agree in both engines — the common ANSI subset)
def _scalar_expr(rng: random.Random, c: str) -> str:
    return rng.choice(
        [
            f"upper({c})",
            f"lower({c})",
            f"substr({c}, 1, 2)",
            f"length({c})",
            f"coalesce({c}, 'x')",
            f"CASE WHEN length({c}) > 4 THEN 'long' ELSE 'short' END",
            f"{c} || '_sfx'",
            f"trim({c})",
            f"replace({c}, 'A', 'z')",
            f"lpad({c}, 12, '.')",
            f"rpad({c}, 12, '.')",
            f"reverse({c})",
            f"repeat(substr({c}, 1, 1), 3)",
            f"concat_ws('-', {c}, {c})",
            f"left({c}, 3)",
            f"right({c}, 3)",
            f"contains({c}, 'A')",
            # starts_with is DuckDB-only (Spark spells it startswith);
            # LIKE is the shared-text prefix test
            f"({c} LIKE 'A%')",
            f"instr({c}, 'U')",
        ]
    )


def _gen_join_query(rng: random.Random) -> str:
    """lineitem ⋈ orders on the order key — filters on both sides, integral
    aggregates, optional group on either side's low-card columns."""
    lt, ot = TABLES["lineitem"], TABLES["orders"]
    preds = []
    if rng.random() < 0.8:
        preds.append(_predicate(rng, lt))
    if rng.random() < 0.8:
        preds.append(_predicate(rng, ot))
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    gcols = rng.sample(lt["group_cols"] + ot["group_cols"], k=rng.randint(0, 2))
    aggs = ["count(*) AS n"]
    if rng.random() < 0.7:
        aggs.append("CAST(sum(l_linenumber) AS BIGINT) AS a0")
    if rng.random() < 0.5:
        aggs.append("CAST(min(o_orderkey) AS BIGINT) AS a1")
    select = ", ".join(gcols + aggs)
    group = f" GROUP BY {', '.join(gcols)}" if gcols else ""
    return (
        f"SELECT {select} FROM lineitem JOIN orders"
        f" ON l_orderkey = o_orderkey{where}{group}"
    )


def _gen_scalar_query(rng: random.Random) -> str:
    name = rng.choice(list(TABLES))
    t = TABLES[name]
    c = rng.choice(t["str_cols"])
    exprs = [f"{_scalar_expr(rng, c)} AS e{i}" for i in range(rng.randint(1, 3))]
    preds = [_predicate(rng, t) for _ in range(rng.randint(0, 2))]
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    key = rng.choice(t["int_cols"])
    return f"SELECT {key}, {', '.join(exprs)} FROM {name}{where}"


def _gen_subquery_query(rng: random.Random) -> str:
    """IN / NOT IN / correlated EXISTS / scalar subqueries — the
    decorrelation surface (Catalyst rewrites each into a join; the specs
    pin four chosen shapes, this sweeps around them)."""
    form = rng.choice(["in", "not_in", "exists", "scalar"])
    if form in ("in", "not_in"):
        neg = "NOT " if form == "not_in" else ""
        sub_pred = _predicate(rng, TABLES["customer"])
        outer_pred = (
            f" AND {_predicate(rng, TABLES['orders'])}"
            if rng.random() < 0.5
            else ""
        )
        return (
            "SELECT o_orderstatus, count(*) AS n FROM orders"
            f" WHERE o_custkey {neg}IN"
            f" (SELECT c_custkey FROM customer WHERE {sub_pred})"
            f"{outer_pred} GROUP BY o_orderstatus"
        )
    if form == "exists":
        neg = rng.choice(["", "NOT "])
        sub_pred = _predicate(rng, TABLES["lineitem"])
        return (
            "SELECT o_orderpriority, count(*) AS n FROM orders"
            f" WHERE {neg}EXISTS (SELECT 1 FROM lineitem"
            f" WHERE l_orderkey = o_orderkey AND {sub_pred})"
            " GROUP BY o_orderpriority"
        )
    cmp = rng.choice(["<", ">"])
    agg = rng.choice(["avg", "min", "max"])
    return (
        "SELECT count(*) AS n, CAST(min(o_orderkey) AS BIGINT) AS a0"
        f" FROM orders WHERE o_totalprice {cmp}"
        f" (SELECT {agg}(o_totalprice) FROM orders)"
    )


def _gen_membership_query(rng: random.Random) -> str:
    """Membership three-valued logic (r07 grammar #17): NOT IN over a
    NULL-injecting subquery projection (ONE null in the list makes
    `x NOT IN (...)` never-true — the classic 3VL trap; both engines
    must agree row-for-row whether the threshold happened to inject
    nulls or not), IN over the same projection, expression-keyed IN,
    and EXISTS whose subquery predicate itself nests an IN. Complements
    _gen_subquery_query, whose subquery projections are always
    non-null. Quantified comparisons (> ALL / > ANY) are pinned
    separately as Spark-unsupported (test_quantified_comparison_
    unsupported_in_spark)."""
    form = rng.choice(["null_in", "null_not_in", "expr_in", "exists_in"])
    if form in ("null_in", "null_not_in"):
        neg = "NOT " if form == "null_not_in" else ""
        thresh = rng.choice([-10000, 0, 1000, 5000, 100000])
        cmpop = rng.choice(["<", ">"])
        sub_pred = _predicate(rng, TABLES["customer"])
        return (
            "SELECT o_orderstatus, count(*) AS n FROM orders"
            f" WHERE o_custkey {neg}IN"
            f" (SELECT CASE WHEN c_acctbal {cmpop} {thresh} THEN NULL"
            " ELSE c_custkey END FROM customer"
            f" WHERE {sub_pred})"
            " GROUP BY o_orderstatus"
        )
    if form == "expr_in":
        # expression-valued membership on both sides of IN (tuple-IN over
        # a subquery would be the natural multi-column form, but DuckDB
        # rejects `(a, b) IN (SELECT a, b ...)` — "Subquery returns 2
        # columns" — while Spark accepts it: a dialect asymmetry this
        # grammar documents by avoidance; the modulus expression keys
        # exercise the same non-column membership surface)
        neg = rng.choice(["", "NOT "])
        mod = rng.choice([7, 13, 100])
        return (
            "SELECT o_orderpriority, count(*) AS n FROM orders"
            f" WHERE o_custkey % {mod} {neg}IN"
            f" (SELECT c_custkey % {mod} FROM customer"
            f" WHERE {_predicate(rng, TABLES['customer'])})"
            " GROUP BY o_orderpriority"
        )
    return (
        "SELECT o_orderpriority, count(*) AS n FROM orders"
        " WHERE EXISTS (SELECT 1 FROM lineitem"
        " WHERE l_orderkey = o_orderkey AND l_partkey IN"
        f" (SELECT l_partkey FROM lineitem WHERE {_predicate(rng, TABLES['lineitem'])}))"
        " GROUP BY o_orderpriority"
    )


#: key column lists per table — appended to window ORDER BY as a tiebreak.
#: TRAP (found by the r06 frame-grammar sweep): lineitem's (l_orderkey,
#: l_linenumber) is NOT unique in this testdata (14k duplicate pairs at
#: sf0.01), so an ordering through it is not total. The row_number and
#: ORDER BY+LIMIT grammars stay deterministic anyway because their output
#: projects only TIE-INVARIANT columns (fully-tied rows share l_orderkey
#: and the order column, so permuting them never changes the output
#: multiset — pinned by test_lineitem_key_is_not_unique_but_grammars_are_
#: tie_invariant). Anything that aggregates OTHER columns over a ROWS
#: frame must use a truly-unique-key table (ROWS_SAFE_TABLES).
UNIQUE_KEY = {
    "lineitem": "l_orderkey, l_linenumber",
    "orders": "o_orderkey",
    "events": "event_id",
    "customer": "c_custkey",
}

#: tables whose UNIQUE_KEY really is unique — ROWS frames (order-sensitive
#: aggregates over non-tie-invariant values) must draw from these only
ROWS_SAFE_TABLES = ("orders", "events", "customer")


def _gen_window_query(rng: random.Random) -> str:
    name = rng.choice(list(TABLES))
    t = TABLES[name]
    g = rng.choice(t["group_cols"])
    order_col = rng.choice(t["int_cols"] + t["num_cols"])
    desc = rng.choice(["", " DESC"])
    fn = rng.choice(
        [
            "row_number()",
            f"rank() OVER (PARTITION BY {g} ORDER BY {order_col}{desc})",
        ]
    )
    if fn == "row_number()":
        fn = (
            f"row_number() OVER (PARTITION BY {g}"
            f" ORDER BY {order_col}{desc}, {UNIQUE_KEY[name]})"
        )
    pred = _predicate(rng, t)
    n = rng.choice([1, 3, 10])
    key0 = UNIQUE_KEY[name].split(",")[0].strip()
    return (
        f"SELECT g, k, rn FROM (SELECT {g} AS g, {key0} AS k,"
        f" {fn} AS rn FROM {name} WHERE {pred}) sub WHERE rn <= {n}"
    )


def _gen_frame_query(rng: random.Random) -> str:
    """Window-FRAME sweep (the surface _gen_window_query's rank top-n
    doesn't touch): integral aggregates over ROWS frames with explicit
    bounds, and RANGE frames over a possibly-tied ordering (RANGE
    aggregates all peers, so ties stay deterministic; ROWS frames get a
    unique-key tiebreak in the ORDER BY — a ROWS frame over a tied order
    is nondeterministic by definition and both engines would be 'right'
    with different answers). The ROWS branch draws from ROWS_SAFE_TABLES
    only: the first sweep of this grammar proved lineitem's declared key
    is NOT unique in this testdata, making ROWS-framed sums over it
    legitimately divergent (see the UNIQUE_KEY trap note)."""
    rows_branch = rng.random() < 0.5
    name = rng.choice(ROWS_SAFE_TABLES if rows_branch else list(TABLES))
    t = TABLES[name]
    g = rng.choice(t["group_cols"])
    key = UNIQUE_KEY[name]
    key0 = key.split(",")[0].strip()
    val = rng.choice(t["int_cols"])
    fn = rng.choice(["sum", "min", "max", "count"])
    if rows_branch:
        order = f"{rng.choice(t['int_cols'])}, {key}"  # total order for ROWS
        frame = rng.choice(
            [
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
                "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
                "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
                "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
                "ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING",
            ]
        )
    else:
        order = rng.choice(t["int_cols"])  # ties fine: RANGE takes peers
        frame = rng.choice(
            [
                "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
                "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
                "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
            ]
        )
    pred = _predicate(rng, t)
    return (
        f"SELECT {key0} AS k, CAST({fn}({val}) OVER (PARTITION BY {g}"
        f" ORDER BY {order} {frame}) AS BIGINT) AS wv"
        f" FROM {name} WHERE {pred}"
    )


def _gen_grouping_query(rng: random.Random) -> str:
    """ROLLUP / CUBE / GROUPING SETS sweep — super-aggregate rows carry
    NULL group keys and the GROUPING() marker, a surface where dialects
    classically diverge (which sets are emitted, how grouping bits are
    numbered). The hand-written specs pin one shape each (q09/q10/q39);
    this sweeps the neighborhood: random set lists, filters below the
    rollup, HAVING above the super-aggregate rows."""
    name = rng.choice(["lineitem", "orders"])  # tables with 2 group cols
    t = TABLES[name]
    a, b = t["group_cols"]
    form = rng.choice(["rollup", "cube", "sets"])
    if form == "rollup":
        group = f"ROLLUP ({a}, {b})"
    elif form == "cube":
        group = f"CUBE ({a}, {b})"
    else:
        # the full (a, b) set is always present so every selected column
        # and grouping() marker is covered: Spark's analyzer rejects
        # grouping(c) when c appears in NO chosen set
        # ([GROUPING_COLUMN_MISMATCH]) while DuckDB accepts it — an
        # analyzer-strictness gap, not a silent data divergence, so the
        # grammar stays inside the standard-valid intersection
        extra = rng.sample([f"({a})", f"({b})", "()"], k=rng.randint(1, 3))
        group = f"GROUPING SETS ({', '.join([f'({a}, {b})'] + extra)})"
    aggs = ["count(*) AS n"]
    if rng.random() < 0.7:
        c = rng.choice(t["int_cols"])
        aggs.append(f"CAST(sum({c}) AS BIGINT) AS s0")
    # the grouping marker disambiguates super-aggregate NULLs from data
    # NULLs; cast so Spark's TINYINT and DuckDB's BIGINT hash identically
    aggs.append(f"CAST(grouping({a}) AS BIGINT) AS ga")
    if rng.random() < 0.5:
        aggs.append(f"CAST(grouping({b}) AS BIGINT) AS gb")
    preds = [_predicate(rng, t) for _ in range(rng.randint(0, 2))]
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    # HAVING count(*) > 0 is mandatory, not stylistic: when the WHERE
    # empties the input, engines genuinely diverge on grouping sets that
    # include () — DuckDB (per the standard, like PostgreSQL) emits the
    # grand-total row with count 0, Spark emits no rows at all (it only
    # keeps the one-row behavior for a plain global aggregate). The
    # divergence is pinned in test_empty_input_super_aggregate_divergence
    # below; the floor drops exactly that n=0 row in both engines and
    # nothing else, so the sweep compares the agreed non-empty surface.
    having = f" HAVING count(*) > {rng.choice([0, 0, 5, 50])}"
    return (
        f"SELECT {a}, {b}, {', '.join(aggs)} FROM {name}{where}"
        f" GROUP BY {group}{having}"
    )


def _gen_orderby_query(rng: random.Random) -> str:
    """ORDER BY + LIMIT sweep (TakeOrderedAndProject's semantic surface).
    The hash comparison is order-insensitive, so what this actually
    checks is that both engines select the SAME top-n ROW SET — which
    requires a total order: every ORDER BY ends with the table's unique
    key as tiebreaker. Null placement is always EXPLICIT (NULLS FIRST /
    NULLS LAST): the engines' defaults genuinely differ — Spark sorts
    ascending NULLS FIRST, DuckDB ascending NULLS LAST (both flip for
    DESC) — so an implicit ordering over a nullable column picks
    DIFFERENT top-n sets. Pinned in test_null_ordering_default_divergence
    below; the grammar stays on the agreed explicit surface."""
    if rng.random() < 0.5:  # nullable sort key: the interesting half
        ocol = rng.choice(["v_int", "v_str"])
        direction = rng.choice(["ASC", "DESC"])
        nulls = rng.choice(["NULLS FIRST", "NULLS LAST"])
        pred = rng.choice(
            ["id >= 0", f"id % {rng.choice([2, 3, 5])} = 0", "v_int IS NOT NULL"]
        )
        n = rng.choice([5, 20, 100])
        return (
            f"SELECT id, v_int, v_str FROM nulls WHERE {pred}"
            f" ORDER BY {ocol} {direction} {nulls}, id LIMIT {n}"
        )
    name = rng.choice(list(TABLES))
    t = TABLES[name]
    ocol = rng.choice(t["int_cols"] + t["num_cols"] + t["str_cols"])
    direction = rng.choice(["ASC", "DESC"])
    pred = _predicate(rng, t)
    n = rng.choice([1, 10, 50])
    key0 = UNIQUE_KEY[name]
    cols = ", ".join(dict.fromkeys([key0.split(",")[0].strip(), ocol]))
    return (
        f"SELECT {cols} FROM {name} WHERE {pred}"
        f" ORDER BY {ocol} {direction}, {key0} LIMIT {n}"
    )


#: timestamp literals inside the events table's Jan-2024 span
TS_LITS = [
    "TIMESTAMP '2024-01-05 06:00:00'",
    "TIMESTAMP '2024-01-15 12:30:00'",
    "TIMESTAMP '2024-01-25 23:59:59'",
]


def _gen_temporal_query(rng: random.Random) -> str:
    """Date/time function sweep over events.ts — the dialect surface the
    time-bucketed specs (q13/q50/q82) build on: date_trunc buckets,
    EXTRACT fields, DATE casts, timestamp-literal ranges, and the
    shared-syntax INTERVAL form (`INTERVAL 1 HOUR` parses in both
    engines; the quoted forms differ per engine and stay out). Spark
    reads ts as TIMESTAMP_NTZ, DuckDB as naive TIMESTAMP — micros
    round-trip bit-exactly (verified), so values hash directly.

    Dialect trap this grammar surfaced (type-level, not semantic):
    DuckDB's date_trunc returns DATE for units of day and coarser
    while Spark always returns TIMESTAMP — same instant, different
    rendering, so a shared-text bucket column hash-diverges unless
    both sides go through CAST(... AS TIMESTAMP). The time-bucketed
    specs already normalize this way; the grammar does the same."""
    unit = rng.choice(["minute", "hour", "day", "week", "month"])
    field = rng.choice(["year", "month", "day", "hour", "minute"])
    pred = rng.choice(
        [
            f"ts < {rng.choice(TS_LITS)}",
            f"ts BETWEEN {TS_LITS[0]} AND {rng.choice(TS_LITS[1:])}",
            f"CAST(ts AS DATE) = DATE '2024-01-{rng.randint(10, 20)}'",
            f"ts + INTERVAL {rng.randint(1, 48)} HOUR < {rng.choice(TS_LITS)}",
            f"event_type = '{rng.choice(STR_LITS['event_type'])}'",
        ]
    )
    if rng.random() < 0.5:  # bucketed aggregate (the q13 shape)
        aggs = ["count(*) AS n"]
        if rng.random() < 0.6:
            aggs.append("CAST(sum(user_id) AS BIGINT) AS s0")
        return (
            f"SELECT CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS bucket,"
            f" {', '.join(aggs)}"
            f" FROM events WHERE {pred} GROUP BY date_trunc('{unit}', ts)"
        )
    exprs = [
        f"CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS b",
        f"CAST(extract({field} FROM ts) AS BIGINT) AS e",
    ]
    if rng.random() < 0.4:
        exprs.append("CAST(ts AS DATE) AS d")
    return f"SELECT event_id, {', '.join(exprs)} FROM events WHERE {pred}"


def _gen_numeric_query(rng: random.Random) -> str:
    """Integer-safe numeric function sweep — arithmetic, abs/mod,
    greatest/least, floor/ceil, sign, CASE math. Stays off round(x, n)
    over doubles deliberately: that's the documented FP boundary trap
    (tests/test_plan_lint.py), fixed per-spec with DECIMAL, not fuzzed.
    floor/ceil feed a BIGINT cast because Spark returns BIGINT where
    DuckDB returns DOUBLE — same value, different type."""
    name = rng.choice(list(TABLES))
    t = TABLES[name]
    c1, c2 = rng.choice(t["int_cols"]), rng.choice(t["int_cols"])
    lit = rng.choice(INT_LITS)
    exprs = rng.sample(
        [
            f"abs({c1} - {lit}) AS e0",
            f"mod({c1}, {rng.choice([3, 7, 13])}) AS e1",
            f"greatest({c1}, {c2}, {lit}) AS e2",
            f"least({c1}, {c2}) AS e3",
            f"CAST(floor({c1} / 7.0) AS BIGINT) AS e4",
            f"CAST(ceil({c1} / 7.0) AS BIGINT) AS e5",
            f"sign({c1} - {lit}) AS e6",
            f"({c1} * 3 + {c2}) AS e7",
            f"CASE WHEN {c1} % 2 = 0 THEN {c1} ELSE -{c1} END AS e8",
        ],
        k=rng.randint(2, 4),
    )
    pred = _predicate(rng, t)
    key0 = UNIQUE_KEY[name].split(",")[0].strip()
    return f"SELECT {key0}, {', '.join(exprs)} FROM {name} WHERE {pred}"


def _gen_setop_query(rng: random.Random) -> str:
    """UNION / INTERSECT / EXCEPT sweep ([ALL] and DISTINCT forms),
    optionally through a WITH clause — bag vs set semantics and CTE
    scoping around the q12 spec. Branches project the same typed column
    list from one table under different predicates, so the set algebra
    is the only thing varying."""
    name = rng.choice(list(TABLES))
    t = TABLES[name]
    cols = ", ".join(
        rng.sample(t["int_cols"] + t["str_cols"], k=rng.randint(1, 2))
    )
    p1, p2 = _predicate(rng, t), _predicate(rng, t)
    op = rng.choice(
        ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL", "EXCEPT", "EXCEPT ALL"]
    )
    b1 = f"SELECT {cols} FROM {name} WHERE {p1}"
    b2 = f"SELECT {cols} FROM {name} WHERE {p2}"
    body = f"{b1} {op} {b2}"
    if rng.random() < 0.4:  # route one branch through a CTE
        return f"WITH s1 AS ({b1}) SELECT * FROM s1 {op} {b2}"
    if rng.random() < 0.3:  # aggregate above the set op
        return f"SELECT count(*) AS n FROM ({body}) u"
    return body


def _gen_nulls_query(rng: random.Random) -> str:
    """Null-semantics sweep over the synthetic `nulls` table — the parquet
    testdata is NULL-free, so three-valued-logic divergence (NOT IN with
    NULLs, NULL groups, count vs count(col)) would otherwise go unswept."""
    preds = [
        "v_int IS NULL",
        "v_int IS NOT NULL",
        f"v_int = {rng.randint(0, 49)}",
        f"v_int <> {rng.randint(0, 49)}",
        f"v_int IN ({rng.randint(0, 20)}, {rng.randint(21, 49)})",
        f"v_int NOT IN ({rng.randint(0, 20)}, {rng.randint(21, 49)})",
        f"coalesce(v_int, -1) < {rng.randint(-1, 30)}",
        "v_str IS NULL",
        f"v_str = 's{rng.randint(0, 4)}'",
        # ANSI trap: NULL in the subquery makes NOT IN empty — both
        # engines must agree on the three-valued logic
        "id NOT IN (SELECT v_int FROM nulls)",
        "id IN (SELECT v_int FROM nulls)",
    ]
    where = " AND ".join(rng.sample(preds[:-2], k=rng.randint(1, 2)))
    if rng.random() < 0.3:
        where = rng.choice(preds[-2:])
    aggs = [
        "count(*) AS n",
        "count(v_int) AS n_nonnull",
        "count(DISTINCT v_str) AS nd",
        "CAST(sum(v_int) AS BIGINT) AS s",
    ]
    sel = ", ".join(rng.sample(aggs, k=rng.randint(2, 4)))
    if rng.random() < 0.5:  # NULL group included by GROUP BY in both
        return f"SELECT v_str, {sel} FROM nulls WHERE {where} GROUP BY v_str"
    return f"SELECT {sel} FROM nulls WHERE {where}"


def _gen_decimal_query(rng: random.Random) -> str:
    """DECIMAL-arithmetic sweep — the q74 cent-divergence class (currency
    math where Spark's exact-BigDecimal HALF_UP and DuckDB's scaled-double
    rounding can disagree; the repo's fix pattern is 'do the arithmetic in
    DECIMAL'). All source columns are CAST to DECIMAL(18,2) up front, so
    +, -, * and sum() are EXACT and order-independent in both engines;
    every output is CAST to a fixed scale because the hash canonicalizes
    decimals via str() and engines differ on intermediate result scales.
    Division is deliberately absent: the ENGINES define decimal-division
    result scale differently (not a bug, a dialect choice), so a shared
    text cannot pin it — the per-spec pattern for ratios is try_divide →
    DOUBLE (plans/mining.py:q92)."""
    name = rng.choice(["lineitem", "orders"])
    t = TABLES[name]
    p = rng.choice(t["num_cols"])
    p2 = rng.choice(t["num_cols"])
    dec = f"CAST({p} AS DECIMAL(18,2))"
    dec2 = f"CAST({p2} AS DECIMAL(18,2))"
    exprs = rng.sample(
        [
            f"{dec} + {dec2}",
            f"{dec} - {dec2}",
            f"{dec} * {rng.choice([3, 7, 100])}",
            f"{dec} * (1 - {dec2})" if name == "lineitem" else f"{dec} * 2 + {dec2}",
            f"round({dec} * {rng.choice([3, 7])}, {rng.choice([0, 1])})",
            f"round({dec}, 0)",
            f"- {dec}",
            f"CASE WHEN {dec} > {rng.choice(INT_LITS)} THEN {dec} ELSE {dec2} END",
        ],
        k=rng.randint(1, 3),
    )
    pred = _predicate(rng, t)
    gcols = rng.sample(t["group_cols"], k=rng.randint(0, 1))
    aggs = ["count(*) AS n"] + [
        f"CAST({rng.choice(['sum', 'min', 'max'])}({e}) AS DECIMAL(38,4)) AS d{i}"
        for i, e in enumerate(exprs)
    ]
    select = ", ".join(gcols + aggs)
    group = f" GROUP BY {', '.join(gcols)}" if gcols else ""
    return f"SELECT {select} FROM {name} WHERE {pred}{group}"


def _gen_outerjoin_agg_query(rng: random.Random) -> str:
    """Outer-join + aggregate-over-nulls sweep: LEFT/RIGHT/FULL between
    orders and customer with a selective predicate on the INNER side —
    placed either in the ON clause (null-extends non-matches) or in the
    WHERE clause (filters them, silently turning the join inner): the two
    placements are semantically different and both engines must agree on
    each. Aggregates then exercise the null-extended columns: count(*)
    vs count(col), null-skipping sum/min/max, count(DISTINCT nullable),
    and optionally GROUP BY the nullable side (the NULL group row)."""
    jt = rng.choice(["LEFT JOIN", "RIGHT JOIN", "FULL JOIN"])
    c_pred = _predicate(rng, TABLES["customer"])
    o_pred = _predicate(rng, TABLES["orders"])
    on = "o_custkey = c_custkey"
    where = ""
    if rng.random() < 0.5:  # inner-side predicate in ON: keeps outer rows
        on += f" AND {c_pred}"
    else:  # in WHERE: null-rejects (engines must agree it degrades to inner)
        where = f" WHERE {c_pred}"
    if rng.random() < 0.4:
        where += (" WHERE " if not where else " AND ") + o_pred
    aggs = ["count(*) AS n", "count(c_custkey) AS n_cust"]
    aggs += rng.sample(
        [
            "CAST(sum(c_nationkey) AS BIGINT) AS s0",
            "CAST(min(c_nationkey) AS BIGINT) AS m0",
            "CAST(max(o_custkey) AS BIGINT) AS m1",
            "count(DISTINCT c_mktsegment) AS nd",
            "count(o_orderkey) AS n_ord",
            "CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_dangling",
        ],
        k=rng.randint(1, 3),
    )
    gcols = []
    if rng.random() < 0.6:
        gcols = [rng.choice(["o_orderstatus", "c_mktsegment", "o_orderpriority"])]
    select = ", ".join(gcols + aggs)
    group = f" GROUP BY {', '.join(gcols)}" if gcols else ""
    return f"SELECT {select} FROM orders {jt} customer ON {on}{where}{group}"


def _gen_case_like_query(rng: random.Random) -> str:
    """CASE / LIKE conditional grammar — the routing surface a curation
    pipeline leans on (bucket rows by string pattern, guard divisions
    with NULLIF/COALESCE, aggregate per bucket). LIKE, CASE, COALESCE
    and NULLIF are shared text in both dialects; aggregates stay
    integral so the check is exact. Patterns are derived from real
    literal values (prefix/suffix/infix/underscore forms), so matches
    are selective but rarely empty."""
    tname = rng.choice(list(TABLES))
    t = TABLES[tname]
    sc = rng.choice(t["str_cols"])
    lit = rng.choice(STR_LITS[sc])
    pats = [lit[:1] + "%", "%" + lit[-1:], "%" + lit[len(lit) // 2] + "%"]
    if len(lit) > 1:
        pats.append("_" + lit[1:])
    pat = rng.choice(pats)
    ic = rng.choice(t["int_cols"])
    mod = rng.choice([3, 5, 7])
    bucket = (
        f"CASE WHEN {sc} LIKE '{pat}' THEN 'match' "
        f"WHEN {ic} % {mod} = 0 THEN 'mod' ELSE 'rest' END"
    )
    guarded = f"COALESCE(NULLIF({ic} % {mod}, 0), -1)"
    aggs = [
        "count(*) AS n",
        f"CAST(sum(CASE WHEN {sc} LIKE '{pat}' THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_like",
        f"CAST(sum({guarded}) AS BIGINT) AS s_guard",
        f"CAST(min({guarded}) AS BIGINT) AS m_guard",
    ]
    sel = ", ".join(rng.sample(aggs, k=rng.randint(2, 4)))
    if rng.random() < 0.6:
        return (
            f"SELECT {bucket} AS bucket, {sel} FROM {tname} "
            f"GROUP BY {bucket}"
        )
    return (
        f"SELECT {sc} AS k, {sel} FROM {tname} GROUP BY {sc} "
        f"HAVING count(*) > {rng.choice([0, 5])}"
    )


def _gen_recursive_query(rng: random.Random) -> str:
    """Recursive-CTE grammar (UNION ALL form — the only recursion Spark
    4.1.2 accepts; see test_union_recursion_unsupported_in_spark). Two
    shapes over a modular-arithmetic graph derived from a real table, so
    the node space stays tiny while the recursion semantics (anchor
    typing, depth bound, column propagation, post-aggregation) get
    fuzzed:

    - path expansion: frontier join against the derived edge set, depth
      <= 3; UNION ALL counts PATHS (not reached nodes), which both
      engines must agree on exactly;
    - scalar chain: v -> (v*a + b) % m from an aggregated seed — pure
      arithmetic through the recursion.

    Registered oracles already lean on recursion (q42/q56 min-label,
    q122 BFS); this sweeps the neighborhood around those hand-written
    forms. Aggregates integral-only per the module's determinism rules."""
    K = rng.choice([7, 11, 13])
    depth = rng.choice([2, 3])
    tname = rng.choice(["orders", "lineitem"])
    if tname == "orders":
        a_col, b_col = "o_custkey", "o_orderkey"
    else:
        a_col, b_col = "l_partkey", "l_suppkey"
    if rng.random() < 0.6:
        pred = _predicate(rng, TABLES[tname])
        agg = rng.choice(
            [
                "count(*) AS n_paths",
                "CAST(sum(v) AS BIGINT) AS s_nodes",
                "count(*) AS n_paths, CAST(min(v) AS BIGINT) AS lo,"
                " CAST(max(v) AS BIGINT) AS hi",
            ]
        )
        return (
            f"WITH RECURSIVE e AS ("
            f"  SELECT DISTINCT {a_col} % {K} AS src, {b_col} % {K} AS dst"
            f"  FROM {tname} WHERE {pred}"
            f"), walk(v, d) AS ("
            f"  SELECT src, 0 FROM (SELECT DISTINCT src FROM e)"
            f"  UNION ALL"
            f"  SELECT e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.v"
            f"  WHERE walk.d < {depth}"
            f") SELECT d, {agg} FROM walk GROUP BY d"
        )
    a = rng.choice([3, 5, 7])
    b = rng.choice([1, 2, 11])
    m = rng.choice([97, 101, 257])
    n = rng.choice([10, 25, 50])
    seed_col = rng.choice(TABLES[tname]["int_cols"])
    return (
        f"WITH RECURSIVE chain(v, d) AS ("
        f"  SELECT CAST(min({seed_col}) % {m} AS BIGINT), 0 FROM {tname}"
        f"  UNION ALL"
        f"  SELECT (v * {a} + {b}) % {m}, d + 1 FROM chain WHERE d < {n}"
        f") SELECT count(*) AS n_steps, CAST(sum(v) AS BIGINT) AS s,"
        f" CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi"
        f" FROM chain"
    )


# ---------------------------------------------------------------------------
# grammar #18 — VARIANT / JSON-path extraction (r07 verdict ask #8)
# ---------------------------------------------------------------------------
#: the jdoc body is ONE shared expression text (|| implicitly casts
#: integers to text in BOTH dialects), so the JSON the two engines parse
#: is byte-identical; only the EXTRACTION functions differ by dialect —
#: that mapping (pinned by probing, see _VX below) is the surface this
#: grammar sweeps: try_variant_get(parse_json(.), p, T) must agree with
#: TRY_CAST(json_extract(., p) AS T) / json_extract_string on every
#: combination of present/absent/nested/array/NULL path the doc offers.
_JDOC_EXPR = (
    "'{\"k\":' || (id % 97)"
    " || CASE WHEN id % 3 <> 0 THEN ',\"s\":\"s' || (id % 7) || '\"'"
    "         ELSE '' END"
    " || CASE WHEN id % 4 <> 0 THEN ',\"x\":' || (id % 10) || '.5'"
    "         ELSE '' END"
    " || CASE WHEN id % 5 <> 0 THEN"
    "      ',\"n\":{\"a\":' || (id % 13)"
    "      || CASE WHEN id % 2 = 0 THEN ',\"b\":\"t' || (id % 3) || '\"'"
    "              ELSE '' END"
    "      || '}'"
    "    ELSE '' END"
    " || CASE WHEN id % 6 <> 0 THEN"
    "      ',\"a\":[' || (id % 3) || ',' || (id % 5) || ',' || (id % 7) || ']'"
    "    ELSE '' END"
    " || CASE WHEN id % 9 = 0 THEN"
    "      ',\"bl\":' || CASE WHEN id % 2 = 0 THEN 'true' ELSE 'false' END"
    "    ELSE '' END"
    " || CASE WHEN id % 11 = 0 THEN ',\"z\":null' ELSE '' END"
    " || '}'"
)


def _vx(kind: str, path: str) -> tuple[str, str]:
    """(spark_expr, duck_expr) for one typed path extraction. The mapping
    was pinned by direct probing (all agree): missing key -> NULL, JSON
    null -> NULL, type-mismatch string -> NULL (try_ forms), bool ->
    BIGINT 1/0, bool/int/double -> string render identically, array
    index 0-based with out-of-bounds -> NULL. The ONE divergence —
    fractional number -> integer (Spark truncates toward zero, DuckDB
    rounds half-even) — is pinned in
    test_variant_fractional_to_int_divergence; the grammar extracts
    '$.x' (the only fractional field) as DOUBLE only."""
    if kind == "int":
        return (
            f"try_variant_get(parse_json(j), '{path}', 'bigint')",
            f"TRY_CAST(json_extract(j, '{path}') AS BIGINT)",
        )
    if kind == "str":
        return (
            f"try_variant_get(parse_json(j), '{path}', 'string')",
            f"json_extract_string(j, '{path}')",
        )
    if kind == "dbl":
        return (
            f"try_variant_get(parse_json(j), '{path}', 'double')",
            f"TRY_CAST(json_extract(j, '{path}') AS DOUBLE)",
        )
    # znull: TRUE iff the key is present AND holds JSON null — the
    # discrimination typed extraction erases; coalesce because DuckDB's
    # json_type is NULL (not false) on a missing key
    return (
        "coalesce(is_variant_null(try_variant_get(parse_json(j), "
        f"'{path}')), false)",
        f"coalesce(json_type(j, '{path}') = 'NULL', false)",
    )


#: (kind, path) pool: present/absent ints at two depths, strings,
#: doubles, bools-as-int-and-string, in/out-of-bounds array indexes,
#: an always-missing key, and the null-vs-missing discriminator
_VX_POOL = [
    ("int", "$.k"),
    ("int", "$.n.a"),
    ("int", "$.n.c"),
    ("int", "$.a[0]"),
    ("int", "$.a[1]"),
    ("int", "$.a[2]"),
    ("int", "$.a[3]"),
    ("int", "$.q"),
    ("int", "$.bl"),
    ("int", "$.s"),
    ("int", "$.z"),
    ("str", "$.s"),
    ("str", "$.n.b"),
    ("str", "$.k"),
    ("str", "$.bl"),
    ("str", "$.x"),
    ("str", "$.q"),
    ("dbl", "$.x"),
    ("znull", "$.z"),
    ("znull", "$.k"),
    ("znull", "$.q"),
]


def _gen_variant_query(rng: random.Random) -> tuple[str, str]:
    """Returns (spark_sql, duck_sql) — the first dialect-PAIRED grammar:
    one seed renders one query skeleton twice, differing only in the
    extraction snippets from :func:`_vx`. All aggregates follow the
    suite's determinism rules (integral sums BIGINT-cast; the only
    double field holds exact k.5 values whose sums are exact in any
    order; min/max/count are order-free)."""

    def pick(kinds):
        k, p = rng.choice([e for e in _VX_POOL if e[0] in kinds])
        return _vx(k, p)

    pred_s, pred_d = "", ""
    if rng.random() < 0.7:
        e_s, e_d = pick(("int", "str", "dbl", "znull"))
        form = rng.choice(["null", "notnull", "cmp", "true"])
        if form == "null":
            pred_s, pred_d = f" WHERE {e_s} IS NULL", f" WHERE {e_d} IS NULL"
        elif form == "notnull":
            pred_s, pred_d = (
                f" WHERE {e_s} IS NOT NULL",
                f" WHERE {e_d} IS NOT NULL",
            )
        elif form == "cmp":
            e_s, e_d = pick(("int",))
            lit = rng.choice([0, 1, 3, 7, 45])
            op = rng.choice(["<", "<=", ">", ">=", "=", "<>"])
            pred_s, pred_d = (
                f" WHERE {e_s} {op} {lit}",
                f" WHERE {e_d} {op} {lit}",
            )
        else:
            e_s, e_d = pick(("znull",))
            pred_s, pred_d = f" WHERE {e_s}", f" WHERE {e_d}"

    shape = rng.random()
    if shape < 0.35:  # plain projection, hashed whole
        cols_s, cols_d = ["id"], ["id"]
        for i in range(rng.randint(1, 3)):
            e_s, e_d = pick(("int", "str", "dbl", "znull"))
            cols_s.append(f"{e_s} AS c{i}")
            cols_d.append(f"{e_d} AS c{i}")
        return (
            f"SELECT {', '.join(cols_s)} FROM jdocs{pred_s}",
            f"SELECT {', '.join(cols_d)} FROM jdocs{pred_d}",
        )
    if shape < 0.7:  # global aggregate
        aggs_s, aggs_d = ["count(*) AS n"], ["count(*) AS n"]
        for i in range(rng.randint(1, 3)):
            kind = rng.choice(["sum_int", "cnt", "minmax_str", "sum_dbl"])
            if kind == "sum_int":
                e_s, e_d = pick(("int",))
                aggs_s.append(f"CAST(sum({e_s}) AS BIGINT) AS a{i}")
                aggs_d.append(f"CAST(sum({e_d}) AS BIGINT) AS a{i}")
            elif kind == "cnt":
                e_s, e_d = pick(("int", "str", "dbl"))
                aggs_s.append(f"count({e_s}) AS a{i}")
                aggs_d.append(f"count({e_d}) AS a{i}")
            elif kind == "minmax_str":
                fn = rng.choice(["min", "max"])
                e_s, e_d = pick(("str",))
                aggs_s.append(f"{fn}({e_s}) AS a{i}")
                aggs_d.append(f"{fn}({e_d}) AS a{i}")
            else:
                fn = rng.choice(["sum", "min", "max"])
                e_s, e_d = pick(("dbl",))
                aggs_s.append(f"{fn}({e_s}) AS a{i}")
                aggs_d.append(f"{fn}({e_d}) AS a{i}")
        return (
            f"SELECT {', '.join(aggs_s)} FROM jdocs{pred_s}",
            f"SELECT {', '.join(aggs_d)} FROM jdocs{pred_d}",
        )
    # grouped aggregate on an extraction
    g_s, g_d = pick(("str", "int", "znull"))
    e_s, e_d = pick(("int",))
    return (
        f"SELECT {g_s} AS g, count(*) AS n,"
        f" CAST(sum({e_s}) AS BIGINT) AS s"
        f" FROM jdocs{pred_s} GROUP BY {g_s}",
        f"SELECT {g_d} AS g, count(*) AS n,"
        f" CAST(sum({e_d}) AS BIGINT) AS s"
        f" FROM jdocs{pred_d} GROUP BY {g_d}",
    )


@pytest.fixture(scope="module")
def engines(spark):
    from etl_dag_paris_velib_spark.sources.tpch import register_views

    register_views(spark, SF_ORACLE)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nulls AS SELECT id,"
        " CASE WHEN id % 7 = 0 THEN NULL ELSE id % 50 END AS v_int,"
        " CASE WHEN id % 11 = 0 THEN NULL"
        "      ELSE concat('s', CAST(id % 5 AS STRING)) END AS v_str"
        " FROM range(1000)"
    )
    con = duckdb.connect()
    # documents joins the four grammar tables for grammar #20's
    # long-string regime (Spark side is covered by register_views)
    for name in (*TABLES, "documents"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_ORACLE}/{name}.parquet'"
        )
    con.execute(
        "CREATE VIEW nulls AS SELECT i AS id,"
        " CASE WHEN i % 7 = 0 THEN NULL ELSE i % 50 END AS v_int,"
        " CASE WHEN i % 11 = 0 THEN NULL"
        "      ELSE 's' || CAST(i % 5 AS VARCHAR) END AS v_str"
        " FROM generate_series(0, 999) t(i)"
    )
    # grammar #18 corpus: the jdoc body text is SHARED between the two
    # view definitions, so both engines parse byte-identical JSON
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW jdocs AS SELECT id, "
        + _JDOC_EXPR
        + " AS j FROM range(1000)"
    )
    con.execute(
        "CREATE VIEW jdocs AS SELECT id, "
        + _JDOC_EXPR
        + " AS j FROM (SELECT i AS id FROM generate_series(0, 999) t(i))"
    )
    # Spark reads events.ts as TIMESTAMP_NTZ micro-truncated; none of the
    # grammar's columns touch ts, so no normalization is needed here.
    return spark, con


SEEDS = list(range(40))


def _compare(engines, sql: str) -> None:
    spark, con = engines
    sdf = spark.sql(sql)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    dd = con.execute(sql)
    dcols = [d[0] for d in dd.description]
    drows = dd.fetchall()
    assert sorted(scols) == sorted(dcols), f"schema diverged for: {sql}"
    assert len(srows) == len(drows), f"row count diverged for: {sql}"
    assert canon_hash(scols, srows) == canon_hash(dcols, drows), (
        f"value hash diverged for: {sql}"
    )


def _compare_pair(engines, spark_sql: str, duck_sql: str) -> None:
    """The grammar-#18 comparator: same gate as :func:`_compare`, but the
    two engines run DIALECT-PAIRED texts generated from one seed (the
    VARIANT extraction functions have no shared spelling)."""
    spark, con = engines
    sdf = spark.sql(spark_sql)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    dd = con.execute(duck_sql)
    dcols = [d[0] for d in dd.description]
    drows = dd.fetchall()
    assert sorted(scols) == sorted(dcols), f"schema diverged for: {spark_sql}"
    assert len(srows) == len(drows), f"row count diverged for: {spark_sql}"
    assert canon_hash(scols, srows) == canon_hash(dcols, drows), (
        f"value hash diverged for:\n  spark: {spark_sql}\n  duck : {duck_sql}"
    )


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_join_matches_duckdb(engines, seed):
    _compare(engines, _gen_join_query(random.Random(7000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_scalar_matches_duckdb(engines, seed):
    _compare(engines, _gen_scalar_query(random.Random(8000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_subquery_matches_duckdb(engines, seed):
    _compare(engines, _gen_subquery_query(random.Random(6000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_window_matches_duckdb(engines, seed):
    _compare(engines, _gen_window_query(random.Random(5000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_nulls_matches_duckdb(engines, seed):
    _compare(engines, _gen_nulls_query(random.Random(4000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_grouping_matches_duckdb(engines, seed):
    _compare(engines, _gen_grouping_query(random.Random(3000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_orderby_matches_duckdb(engines, seed):
    _compare(engines, _gen_orderby_query(random.Random(2000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_setop_matches_duckdb(engines, seed):
    _compare(engines, _gen_setop_query(random.Random(1000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_temporal_matches_duckdb(engines, seed):
    _compare(engines, _gen_temporal_query(random.Random(12000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_numeric_matches_duckdb(engines, seed):
    _compare(engines, _gen_numeric_query(random.Random(13000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_frame_matches_duckdb(engines, seed):
    _compare(engines, _gen_frame_query(random.Random(19000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_decimal_matches_duckdb(engines, seed):
    _compare(engines, _gen_decimal_query(random.Random(17000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_outerjoin_agg_matches_duckdb(engines, seed):
    _compare(engines, _gen_outerjoin_agg_query(random.Random(18000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_case_like_matches_duckdb(engines, seed):
    _compare(engines, _gen_case_like_query(random.Random(21000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_recursive_matches_duckdb(engines, seed):
    _compare(engines, _gen_recursive_query(random.Random(22000 + seed)))


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_membership_matches_duckdb(engines, seed):
    _compare(engines, _gen_membership_query(random.Random(23000 + seed)))


def test_quantified_comparison_unsupported_in_spark(engines):
    """Pinned dialect divergence (found writing the membership grammar):
    Spark 4.1.2 rejects quantified comparison subqueries (`x > ALL
    (...)`, `x > ANY (...)`) at parse/analysis time, while DuckDB
    evaluates them (standard SQL). Shared-text SQL must therefore spell
    the quantifier out as `x > (SELECT max(...))` / `x > (SELECT
    min(...))` — which the scalar-subquery branch of
    _gen_subquery_query covers — and the membership grammar sticks to
    IN / NOT IN / EXISTS forms both engines parse."""
    spark, con = engines
    sql = (
        "SELECT count(*) AS n FROM orders WHERE o_orderkey > ALL"
        " (SELECT o_custkey FROM orders WHERE o_custkey < 10)"
    )
    assert con.execute(sql).fetchall()[0][0] >= 0  # DuckDB evaluates it
    with pytest.raises(Exception):
        spark.sql(sql).collect()


def test_union_recursion_unsupported_in_spark(engines):
    """Pinned dialect divergence (found writing the recursive grammar):
    Spark 4.1.2 rejects UNION (distinct) inside a recursive CTE with
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, while DuckDB supports it (and
    q122's ORACLE exploits it for the dedup-across-iterations BFS).
    Shared-text recursion must therefore stick to UNION ALL with an
    explicit depth bound; a Spark-side operator (bfs_hops' anti-join)
    supplies the dedup instead."""
    spark, con = engines
    sql = (
        "WITH RECURSIVE t(v) AS (SELECT 1 UNION SELECT v + 1 FROM t"
        " WHERE v < 3) SELECT count(*) AS n FROM t"
    )
    assert con.execute(sql).fetchall() == [(3,)]
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="UNION_NOT_SUPPORTED"):
        spark.sql(sql).collect()


def test_null_ordering_default_divergence(engines):
    """Pins the second real divergence the round-5 grammars surfaced:
    the engines' DEFAULT null placement in ORDER BY differs — Spark
    sorts ascending NULLS FIRST, DuckDB (like PostgreSQL) ascending
    NULLS LAST — so `ORDER BY nullable LIMIT n` without an explicit
    NULLS clause selects DIFFERENT row sets. Registered specs always
    order by non-null keys or spell the placement; the fuzz grammar
    makes NULLS FIRST/LAST explicit. If a future spec orders by a
    nullable column, the explicit clause is mandatory in BOTH texts."""
    spark, con = engines
    sql = "SELECT id FROM nulls ORDER BY v_int LIMIT 3"
    srows = [r[0] for r in spark.sql(sql).collect()]
    drows = [r[0] for r in con.execute(sql).fetchall()]
    # Spark's implicit ASC = NULLS FIRST: the v_int IS NULL ids (id%7=0)
    assert all(i % 7 == 0 for i in srows), srows
    # DuckDB's implicit ASC = NULLS LAST: the smallest non-null values
    assert all(i % 7 != 0 for i in drows), drows
    # with the placement explicit, the engines agree on both forms
    for nulls in ("NULLS FIRST", "NULLS LAST"):
        esql = f"SELECT id FROM nulls ORDER BY v_int {nulls}, id LIMIT 5"
        s = [r[0] for r in spark.sql(esql).collect()]
        d = [r[0] for r in con.execute(esql).fetchall()]
        assert s == d, (nulls, s, d)


def test_empty_input_super_aggregate_divergence(engines):
    """Pins a REAL cross-engine divergence this fuzzer found (round 5):
    over an EMPTY input, any GROUP BY whose grouping sets include ()
    — ROLLUP, CUBE, or explicit GROUPING SETS (..., ()) — emits the
    grand-total row with count 0 in DuckDB (standard behavior, matches
    PostgreSQL), while Spark 4.1.2 emits zero rows. Spark keeps the
    one-row answer only for a plain ungrouped aggregate. Registered
    rollup/cube specs (q09/q10/q39) run over provably non-empty inputs,
    and the fuzz grammar floors with HAVING count(*) > 0, so the engine
    difference can't silently leak into an oracle comparison; if a
    future spec filters a rollup input that can be empty at some sf,
    this is the trap to check first."""
    spark, con = engines
    sql = (
        "SELECT o_orderstatus, count(*) AS n FROM orders"
        " WHERE o_orderkey < 0 GROUP BY ROLLUP (o_orderstatus)"
    )
    assert spark.sql(sql).count() == 0  # Spark: no grand-total row
    assert con.execute(sql).fetchall() == [(None, 0)]  # DuckDB: standard
    # both agree on the plain global aggregate over empty input
    plain = "SELECT count(*) AS n FROM orders WHERE o_orderkey < 0"
    assert [tuple(r) for r in spark.sql(plain).collect()] == [(0,)]
    assert con.execute(plain).fetchall() == [(0,)]


@pytest.mark.parametrize("seed", SEEDS)
def test_fuzzed_query_matches_duckdb(engines, seed):
    spark, con = engines
    rng = random.Random(9000 + seed)
    sql = _gen_query(rng)
    sdf = spark.sql(sql)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    dd = con.execute(sql)
    dcols = [d[0] for d in dd.description]
    drows = dd.fetchall()
    assert sorted(scols) == sorted(dcols), f"schema diverged for: {sql}"
    assert len(srows) == len(drows), f"row count diverged for: {sql}"
    assert canon_hash(scols, srows) == canon_hash(dcols, drows), (
        f"value hash diverged for: {sql}"
    )


def test_decimal_division_scale_divergence(engines):
    """Pins the DIALECT divergence that keeps division out of the
    decimal grammar: the engines DEFINE decimal / decimal differently.
    Spark follows Hive/SQLServer-style result-type rules and returns an
    exact DECIMAL(38,20) for DECIMAL(18,2) operands; DuckDB evaluates
    decimal division in DOUBLE and returns a float. Same math, different
    TYPE and representable value — no shared SQL text can pin both, so
    per-spec ratio patterns are try_divide → DOUBLE with explicit
    rounding (plans/mining.py:q92) and the fuzz grammar stays off the
    operator entirely."""
    import decimal

    spark, con = engines
    sql = "SELECT CAST(7.00 AS DECIMAL(18,2)) / CAST(3.00 AS DECIMAL(18,2)) AS q"
    sval = spark.sql(sql).first()["q"]
    dval = con.execute(sql).fetchone()[0]
    assert isinstance(sval, decimal.Decimal) and sval == decimal.Decimal(
        "2.33333333333333333333"
    ), sval
    assert isinstance(dval, float), dval  # DuckDB: double, not DECIMAL
    # the agreed form: divide in DOUBLE and round — identical both sides
    esql = (
        "SELECT round(CAST(CAST(7.00 AS DECIMAL(18,2)) AS DOUBLE)"
        " / CAST(CAST(3.00 AS DECIMAL(18,2)) AS DOUBLE), 6) AS q"
    )
    assert spark.sql(esql).first()["q"] == con.execute(esql).fetchone()[0]


def test_lineitem_key_is_not_unique_but_grammars_are_tie_invariant(engines):
    """Pins the testdata trap the r06 frame-grammar sweep found: lineitem's
    natural key (l_orderkey, l_linenumber) has thousands of duplicate
    pairs in this synthetic testdata (TPC-H proper would make it unique),
    so an ORDER BY through it is NOT total and any order-sensitive
    computation over OTHER columns (a ROWS-framed sum of l_partkey) is
    legitimately nondeterministic — both engines are 'right' with
    different answers, and the frame grammar therefore restricts its ROWS
    branch to ROWS_SAFE_TABLES. The row_number and ORDER BY+LIMIT
    grammars remain deterministic on lineitem because their outputs
    project only tie-invariant columns: fully-tied rows share l_orderkey
    and the order column, so permuting them never changes the output
    multiset."""
    spark, con = engines
    dup_pairs = con.execute(
        "SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))"
        " FROM lineitem"
    ).fetchone()[0]
    assert dup_pairs > 0, (
        "testdata regenerated with a truly-unique lineitem key — the "
        "ROWS_SAFE_TABLES restriction can be lifted"
    )
    # tie-invariance in action: the row_number grammar's output multiset
    # matches cross-engine even over the non-unique key
    sql = (
        "SELECT g, k, rn FROM (SELECT l_returnflag AS g, l_orderkey AS k,"
        " row_number() OVER (PARTITION BY l_returnflag"
        " ORDER BY l_suppkey, l_orderkey, l_linenumber) AS rn"
        " FROM lineitem) sub WHERE rn <= 10"
    )
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    drows = con.execute(sql).fetchall()
    assert canon_hash(["g", "k", "rn"], srows) == canon_hash(
        ["g", "k", "rn"], drows
    )


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_variant_matches_duckdb(engines, seed):
    _compare_pair(engines, *_gen_variant_query(random.Random(24000 + seed)))


def test_variant_fractional_to_int_divergence(engines):
    """Pins the one real divergence grammar #18's construction
    surfaced: extracting a FRACTIONAL JSON number as an integer. Spark's
    variant cast truncates toward zero (2.5 -> 2, 3.5 -> 3, 2.7 -> 2,
    -2.5 -> -2); DuckDB's JSON-to-BIGINT cast rounds half-even
    (2.5 -> 2, 3.5 -> 4, 2.7 -> 3, -2.5 -> -2). 3.5 and 2.7 disagree,
    so the grammar extracts the fractional '$.x' field as DOUBLE only;
    integer extraction is reserved for integral fields (where both
    engines agree exactly)."""
    spark, con = engines
    docs = ['{"x":2.5}', '{"x":3.5}', '{"x":2.7}', '{"x":-2.5}']
    got_spark = [
        spark.sql(
            "SELECT try_variant_get(parse_json('" + d + "'), '$.x',"
            " 'bigint') AS v"
        ).first()["v"]
        for d in docs
    ]
    got_duck = [
        con.execute(
            "SELECT TRY_CAST(json_extract('" + d + "', '$.x') AS BIGINT)"
        ).fetchone()[0]
        for d in docs
    ]
    assert got_spark == [2, 3, 2, -2]   # truncation toward zero
    assert got_duck == [2, 4, 3, -2]    # round half-even
    assert got_spark != got_duck


def test_variant_null_vs_missing_discrimination(engines):
    """The znull discriminator both sides of grammar #18 rely on:
    {\"z\":null} (key present, JSON null) must count as TRUE, a missing
    key and a non-null value as FALSE, in BOTH engines — Spark via
    is_variant_null(try_variant_get(...)), DuckDB via
    json_type(...) = 'NULL' (coalesced: json_type is SQL NULL, not
    false, on a missing key — the asymmetry the coalesce hides)."""
    spark, con = engines
    docs = ['{"z":null}', '{"k":1}', '{"z":5}']
    want = [True, False, False]
    got_spark = [
        spark.sql(
            "SELECT coalesce(is_variant_null(try_variant_get("
            f"parse_json('{d}'), '$.z')), false) AS v"
        ).first()["v"]
        for d in docs
    ]
    got_duck = [
        con.execute(
            f"SELECT coalesce(json_type('{d}', '$.z') = 'NULL', false)"
        ).fetchone()[0]
        for d in docs
    ]
    assert got_spark == want and got_duck == want


# ---------------------------------------------------------------------------
# grammar #19 — overflow / try_* arithmetic (r08 verdict ask #7)
# ---------------------------------------------------------------------------

#: multipliers sized against the sf0.01 key ranges (int_cols max out at
#: 14999): _OVF_MULT pushes SOME per-row products past the BIGINT
#: boundary (thresholds 9223 / 4611 / 13176 sit inside the key range, so
#: every table yields a null/non-null mix); _OVF_ADDEND does the same for
#: addition; _OVF_SUMMULT keeps every per-row product safely inside
#: BIGINT (max 1.5e4 * 5e11 = 7.5e15) while pushing SOME whole-table /
#: per-group SUMS past it — the accumulation-overflow regime.
_OVF_MULT = [1_000_000_000_000_000, 2_000_000_000_000_000, 700_000_000_000_000]
_OVF_ADDEND = [9_223_372_036_854_775_000, 9_223_372_036_854_770_000]
_OVF_SUMMULT = [10_000_000_000, 50_000_000_000, 500_000_000_000]


def _gen_overflow_query(rng: random.Random) -> tuple[str, str]:
    """Returns (spark_sql, duck_sql) — grammar #19, dialect-paired like
    #18: Spark's try_* family has no shared spelling in DuckDB 1.0 (no
    TRY() wrapper), but each form has an exactly-equivalent pair:

    - try_multiply/try_add(a, b) on BIGINT == DuckDB TRY_CAST(HUGEINT
      arithmetic AS BIGINT): the HUGEINT product/sum is always exact and
      the cast nulls iff the value left the BIGINT domain — the same
      condition Spark's checked arithmetic nulls on.
    - try_sum(x) over NON-NEGATIVE x == TRY_CAST(sum(HUGEINT x) AS
      BIGINT): partial sums of non-negative values are monotone, so any
      partial-overflow in Spark's checked accumulator implies final
      overflow — the engines null under the identical condition. (Mixed
      signs would break this: a Spark partial can overflow where the
      exact HUGEINT total fits. The grammar's int_cols are keys, all
      non-negative.)
    - try_divide(a, b) == a / NULLIF(b, 0): both produce IEEE DOUBLE
      division, null on zero denominator.
    - TRY_CAST to INTEGER/SMALLINT/DECIMAL(6,2) parses identically in
      both engines (shared text): null iff out of range. Fractional
      DOUBLE -> DECIMAL(6,2) rounding agrees because doubles are never
      exactly at a .005 tie, so both engines' round-to-nearest picks the
      same cent.

    Determinism: every compared aggregate is a null-count, a min/max
    (selection, not accumulation), an exact DECIMAL, or the checked-sum
    leg itself; plain SUM over doubles stays out per the suite rules.
    AVG is deliberately absent: the engines' accumulator types differ
    (Spark averages BIGINT in checked BIGINT sum + count, DuckDB in
    HUGEINT), so at overflow the results legitimately diverge — the
    per-spec pattern for means is sum/count in DOUBLE.
    """
    name = rng.choice(list(TABLES))
    t = TABLES[name]
    c = rng.choice(t["int_cols"])
    d = rng.choice(t["int_cols"])
    p = rng.choice(t["num_cols"])
    big = rng.choice(_OVF_MULT)
    huge = rng.choice(_OVF_ADDEND)
    shared_int = f"TRY_CAST({c} * {rng.choice([200000, 500000])} AS INTEGER)"
    shared_small = f"TRY_CAST({c} * 3 AS SMALLINT)"
    shared_dec = f"TRY_CAST({p} AS DECIMAL(6,2))"
    mod = rng.choice([2, 3, 7])
    pairs = [
        (
            f"try_multiply({c}, {big})",
            f"TRY_CAST(CAST({c} AS HUGEINT) * {big} AS BIGINT)",
            "bigint",
        ),
        (
            f"try_add({c}, {huge})",
            f"TRY_CAST(CAST({c} AS HUGEINT) + {huge} AS BIGINT)",
            "bigint",
        ),
        (shared_int, shared_int, "bigint"),
        (shared_small, shared_small, "bigint"),
        (shared_dec, shared_dec, "decimal"),
        (
            f"try_divide({c}, {d} % {mod})",
            f"({c} / NULLIF({d} % {mod}, 0))",
            "double",
        ),
    ]
    chosen = rng.sample(pairs, k=rng.randint(2, 4))
    sa, da = ["count(*) AS n"], ["count(*) AS n"]
    for i, (se, de, kind) in enumerate(chosen):
        if rng.random() < 0.5:  # compare the NULL (overflow/zero) pattern
            sa.append(f"count(CASE WHEN {se} IS NULL THEN 1 END) AS z{i}")
            da.append(f"count(CASE WHEN {de} IS NULL THEN 1 END) AS z{i}")
        else:  # compare surviving values via selection aggregates
            fn = rng.choice(["min", "max"])
            if kind == "decimal":
                sa.append(f"CAST({fn}({se}) AS DECIMAL(6,2)) AS m{i}")
                da.append(f"CAST({fn}({de}) AS DECIMAL(6,2)) AS m{i}")
            elif kind == "double":
                sa.append(f"{fn}({se}) AS m{i}")
                da.append(f"{fn}({de}) AS m{i}")
            else:
                sa.append(f"CAST({fn}({se}) AS BIGINT) AS m{i}")
                da.append(f"CAST({fn}({de}) AS BIGINT) AS m{i}")
    # the per-row operand is modulo-bounded: try_sum guards only the
    # ACCUMULATION, so an unbounded child multiply would throw
    # ARITHMETIC_OVERFLOW under ANSI at key ranges beyond the sweep's
    # sf0.01 (the q146 latent-crash class)
    sm = rng.choice(_OVF_SUMMULT)
    sa.append(f"try_sum(({c} % 20000) * {sm}) AS s")
    da.append(
        f"TRY_CAST(sum(CAST({c} % 20000 AS HUGEINT) * {sm}) AS BIGINT) AS s"
    )
    preds = [_predicate(rng, t) for _ in range(rng.randint(0, 2))]
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    gcols = rng.sample(t["group_cols"], k=rng.randint(0, 1))
    group = f" GROUP BY {', '.join(gcols)}" if gcols else ""
    s_sel = ", ".join(gcols + sa)
    d_sel = ", ".join(gcols + da)
    return (
        f"SELECT {s_sel} FROM {name}{where}{group}",
        f"SELECT {d_sel} FROM {name}{where}{group}",
    )


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_overflow_matches_duckdb(engines, seed):
    _compare_pair(engines, *_gen_overflow_query(random.Random(25000 + seed)))

# ---------------------------------------------------------------------------
# grammar #20 — string / regexp dialect surface
# ---------------------------------------------------------------------------

#: string corpus: the four grammar tables' str cols plus documents
#: (registered for DuckDB by the engines fixture; Spark's register_views
#: already covers it) — documents.text is the long-string regime the
#: LLM-curation specs live in, the TPC-H-ish cols are the short-code
#: regime.
_STR_TABLES = {
    "lineitem": ["l_returnflag", "l_linestatus"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "events": ["event_type"],
    "customer": ["c_mktsegment"],
    "documents": ["text", "lang", "source"],
}
#: LIKE/instr fragments that actually occur (selective, rarely empty)
_STR_FRAGS = ["a", "e", "r", "o", "U", "-", "ic", "ur", "ck", "row", "ta"]
#: lookahead/backref/backslash-free regexes — the Java (Spark) and RE2
#: (DuckDB) intersection; backslash classes are OUT because the two SQL
#: parsers disagree on string-literal escape handling before the regex
#: engine ever runs
_STR_RES = ["[0-9]+", "[aeiou]+", "[a-z][a-z]", "[A-Z]+", "an|ba|ta", "[^a-z]"]


def _string_step(rng: random.Random, x: str, dx: str) -> tuple[str, str]:
    """One derived-string transform over (spark_expr, duck_expr). Every
    form but regexp_replace is a SHARED spelling (probed identical:
    substr with start >= 1, TRIM(BOTH..FROM), translate incl. the
    shorter-target delete case, lpad/rpad incl. truncation, left/right,
    repeat, replace, reverse, split_part incl. out-of-range -> '');
    regexp_replace is dialect-paired because Spark replaces ALL matches
    while DuckDB needs the 'g' flag (pinned in
    test_regexp_replace_default_scope_divergence)."""
    kind = rng.choice(
        ["case", "substr", "pad", "cut", "replace", "translate",
         "trim", "repeat", "reverse", "regexp", "split"]
    )
    if kind == "case":
        f = rng.choice(["upper", "lower"])
        return f"{f}({x})", f"{f}({dx})"
    if kind == "substr":
        k, m = rng.randint(1, 4), rng.randint(2, 9)
        return f"substr({x}, {k}, {m})", f"substr({dx}, {k}, {m})"
    if kind == "pad":
        f, n = rng.choice(["lpad", "rpad"]), rng.randint(2, 12)
        p = rng.choice(["x", "xy", "#"])
        return f"{f}({x}, {n}, '{p}')", f"{f}({dx}, {n}, '{p}')"
    if kind == "cut":
        f, n = rng.choice(["left", "right"]), rng.randint(1, 8)
        return f"{f}({x}, {n})", f"{f}({dx}, {n})"
    if kind == "replace":
        a = rng.choice(_STR_FRAGS)
        b = rng.choice(["", "_", "Z"])
        return f"replace({x}, '{a}', '{b}')", f"replace({dx}, '{a}', '{b}')"
    if kind == "translate":
        src, dst = rng.choice([("ae", "xy"), ("aeiou", "AEIOU"), ("ar", "x")])
        return (
            f"translate({x}, '{src}', '{dst}')",
            f"translate({dx}, '{src}', '{dst}')",
        )
    if kind == "trim":
        side = rng.choice(["BOTH", "LEADING", "TRAILING"])
        c = rng.choice(["a", "e", "x"])
        return (
            f"TRIM({side} '{c}' FROM {x})",
            f"TRIM({side} '{c}' FROM {dx})",
        )
    if kind == "repeat":
        return f"repeat({x}, 2)", f"repeat({dx}, 2)"
    if kind == "reverse":
        return f"reverse({x})", f"reverse({dx})"
    if kind == "regexp":
        re_, rep = rng.choice(_STR_RES), rng.choice(["#", "", "<>"])
        return (
            f"regexp_replace({x}, '{re_}', '{rep}')",
            f"regexp_replace({dx}, '{re_}', '{rep}', 'g')",
        )
    idx = rng.randint(1, 3)
    d = rng.choice(["-", " ", "e"])
    return (
        f"split_part({x}, '{d}', {idx})",
        f"split_part({dx}, '{d}', {idx})",
    )


def _gen_string_query(rng: random.Random) -> tuple[str, str]:
    """Returns (spark_sql, duck_sql) — grammar #20: a derived-string
    pipeline (1-3 chained transforms over a str col or a ||-concat of
    two) aggregated by string-selection min/max, count(DISTINCT) and
    CAST(sum(length) AS BIGINT), under LIKE / instr / length / shared
    regexp_extract predicates. The texts are identical except inside
    regexp_replace steps (DuckDB 'g' flag).

    Dialect rules the grammar encodes (each probed, divergences pinned
    as dedicated tests below):
    - `||` for concatenation, never concat(): Spark concat()
      null-propagates, DuckDB concat() skips NULLs; `||` null-
      propagates in both.
    - substr start >= 1: Spark treats 0 as 1, DuckDB consumes the
      empty position-0 slot (postgres window semantics) and returns
      one char fewer.
    - regexes from the Java/RE2 shared subset, no backslash classes
      (the SQL parsers disagree on literal escape handling).
    - string min/max/BETWEEN are binary-collation in both engines
      (probed: least('apple','Pear') = 'Pear' both sides).
    """
    name = rng.choice(list(_STR_TABLES))
    cols = _STR_TABLES[name]
    if len(cols) > 1 and rng.random() < 0.3:
        a, b = rng.sample(cols, k=2)
        sx = dx = f"({a} || '-' || {b})"
    else:
        sx = dx = rng.choice(cols)
    for _ in range(rng.randint(1, 3)):
        sx, dx = _string_step(rng, sx, dx)
    preds = []
    for _ in range(rng.randint(0, 2)):
        pk = rng.choice(["like", "instr", "len", "re"])
        c = rng.choice(cols)
        if pk == "like":
            neg = rng.choice(["", "NOT "])
            pat = rng.choice(
                [f"%{rng.choice(_STR_FRAGS)}%", f"{rng.choice(_STR_FRAGS)}%"]
            )
            preds.append(f"{c} {neg}LIKE '{pat}'")
        elif pk == "instr":
            preds.append(f"instr({c}, '{rng.choice(_STR_FRAGS)}') > 0")
        elif pk == "len":
            preds.append(
                f"length({c}) {rng.choice(['<', '>', '>='])} {rng.choice([2, 5, 8, 40])}"
            )
        else:
            preds.append(
                f"regexp_extract({c}, '{rng.choice(_STR_RES)}', 0) <> ''"
            )
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    aggs_of = lambda d: [  # noqa: E731 — local template, not an API
        "count(*) AS n",
        f"count(DISTINCT {d}) AS nd",
        f"min({d}) AS mn",
        f"max({d}) AS mx",
        f"CAST(sum(length({d})) AS BIGINT) AS sl",
    ]
    gcol = (
        rng.choice(_STR_TABLES[name])
        if name != "documents" and rng.random() < 0.5
        else None
    )
    g = f" GROUP BY {gcol}" if gcol else ""
    s_sel = ", ".join(([gcol] if gcol else []) + aggs_of(sx))
    d_sel = ", ".join(([gcol] if gcol else []) + aggs_of(dx))
    return (
        f"SELECT {s_sel} FROM {name}{where}{g}",
        f"SELECT {d_sel} FROM {name}{where}{g}",
    )


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_string_matches_duckdb(engines, seed):
    _compare_pair(engines, *_gen_string_query(random.Random(26000 + seed)))


def test_concat_null_divergence(engines):
    """Pinned dialect divergence (found probing grammar #20): concat()
    with a NULL argument returns NULL in Spark but skips the NULL in
    DuckDB (postgres CONCAT semantics) — concat('a', NULL, 'b') is NULL
    vs 'ab'. The `||` operator null-propagates in BOTH engines, so the
    grammar (and any shared-text spec) concatenates with `||` only."""
    spark, con = engines
    s = spark.sql("SELECT concat('a', CAST(NULL AS STRING), 'b')").collect()
    d = con.execute("SELECT concat('a', CAST(NULL AS VARCHAR), 'b')").fetchone()
    assert s[0][0] is None and d[0] == "ab"
    # `||` null-propagates in both (typed NULL spelled per dialect:
    # Spark's CAST rejects bare VARCHAR)
    assert spark.sql("SELECT CAST(NULL AS STRING) || 'x'").collect()[0][0] is None
    assert con.execute("SELECT CAST(NULL AS VARCHAR) || 'x'").fetchone()[0] is None


def test_substr_zero_start_divergence(engines):
    """Pinned dialect divergence (found probing grammar #20): substr
    with start=0 — Spark clamps 0 to 1 and returns the first n chars;
    DuckDB follows the postgres character-window rule (positions
    0..n-1, position 0 is empty) and returns n-1 chars. The grammar
    keeps every generated start >= 1, where the engines agree (probed
    through start=4, length past end, and negative -2 from the end)."""
    spark, con = engines
    q = "SELECT substr('abcdef', 0, 2) AS r"
    assert spark.sql(q).collect()[0][0] == "ab"
    assert con.execute(q).fetchone()[0] == "a"


def test_regexp_replace_default_scope_divergence(engines):
    """Pinned dialect divergence (found probing grammar #20): without
    flags Spark's regexp_replace substitutes EVERY match, DuckDB only
    the FIRST (RE2 default) — 'a1b22c333' -> 'a#b#c#' vs 'a#b22c333'.
    DuckDB's 'g' flag makes them agree, so grammar #20 renders the
    regexp_replace step dialect-paired, every other step shared."""
    spark, con = engines
    s = spark.sql(
        "SELECT regexp_replace('a1b22c333', '[0-9]+', '#')"
    ).collect()[0][0]
    d_default = con.execute(
        "SELECT regexp_replace('a1b22c333', '[0-9]+', '#')"
    ).fetchone()[0]
    d_g = con.execute(
        "SELECT regexp_replace('a1b22c333', '[0-9]+', '#', 'g')"
    ).fetchone()[0]
    assert s == "a#b#c#" and d_default == "a#b22c333" and d_g == s


# ---------------------------------------------------------------------------
# grammar #21 — array / list function dialect surface
# ---------------------------------------------------------------------------
# The embedding and token tiers live on array columns and HOFs
# (dot products, shingle sets, codebook folds), so the array dialect
# mapping deserves the same sweep the string/overflow surfaces got.
# Every seed renders as a dialect-mapped PAIR (Spark array_* / HOF
# lambdas <-> DuckDB list_* functions). Rules the grammar encodes, each
# probed, divergences pinned as dedicated tests below:
# - arrays are built NULL-FREE (modulo'd key columns / split on literal
#   delimiters): DuckDB list_distinct DROPS NULLs while Spark
#   array_distinct keeps one — inside the grammar the null regimes
#   would diverge by construction.
# - array_distinct/list_distinct emit engine-specific ORDER -> the
#   grammar always sorts right after a distinct step.
# - element access is try_element_at(x, k) <-> dx[k]: both yield NULL
#   out of bounds, while Spark's plain element_at throws under ANSI.
# - slice(x, b, len) <-> list_slice(dx, b, b+len-1) (length vs
#   inclusive-end), both clamp past the end.
# - sums: aggregate(x, 0L, (a,v) -> a+v) <-> CAST(list_sum(dx) AS
#   BIGINT) (DuckDB widens to HUGEINT); sizes: CAST(size(x) AS BIGINT)
#   <-> len(dx) (Spark size is INT).
# - positions: array_position <-> CAST(list_position AS BIGINT) — both
#   return 0 on a miss (probed), only the width differs.

#: int-array element templates over lineitem keys (null-free by modulo)
_ARR_INT_ELEMS = [
    "l_orderkey % {m}",
    "l_partkey % {m}",
    "l_suppkey % {m}",
    "CAST(l_linenumber AS BIGINT) % {m}",
]


def _arr_base(rng: random.Random) -> tuple[str, str, str]:
    """Returns (kind, spark_expr, duck_expr) for a null-free base array."""
    if rng.random() < 0.55:
        k = rng.randint(2, 4)
        elems = rng.sample(_ARR_INT_ELEMS, k=k)
        parts = [e.format(m=rng.randint(3, 9)) for e in elems]
        return "int", f"array({', '.join(parts)})", f"[{', '.join(parts)}]"
    sep = rng.choice(["-", "#"])
    joined = f"l_returnflag || '{sep}' || l_linestatus || '{sep}' || l_returnflag"
    return (
        "str",
        f"split({joined}, '{sep}')",
        f"string_split({joined}, '{sep}')",
    )


def _arr_step(rng: random.Random, kind: str, x: str, dx: str) -> tuple[str, str]:
    forms = ["sort", "distinct", "slice", "reverse", "selfcat"]
    if kind == "int":
        forms += ["transform", "filter"]
    f = rng.choice(forms)
    if f == "sort":
        return f"array_sort({x})", f"list_sort({dx})"
    if f == "distinct":
        # engine-specific output order -> always re-sort (see header)
        return (
            f"array_sort(array_distinct({x}))",
            f"list_sort(list_distinct({dx}))",
        )
    if f == "slice":
        b, ln = rng.randint(1, 3), rng.randint(1, 4)
        return (
            f"slice({x}, {b}, {ln})",
            f"list_slice({dx}, {b}, {b + ln - 1})",
        )
    if f == "reverse":
        return f"reverse({x})", f"list_reverse({dx})"
    if f == "selfcat":
        return f"concat({x}, {x})", f"list_concat({dx}, {dx})"
    if f == "transform":
        body = rng.choice(["v * 2 + 1", "v % 4", "0 - v", "v * v % 7"])
        return (
            f"transform({x}, v -> {body})",
            f"list_transform({dx}, v -> {body})",
        )
    cond = rng.choice(["v % 2 = 0", "v > 2", "v <> 1"])
    return f"filter({x}, v -> {cond})", f"list_filter({dx}, v -> {cond})"


def _arr_terminal(rng: random.Random, kind: str, x: str, dx: str) -> tuple[str, str]:
    forms = ["size", "element", "contains", "position"]
    if kind == "int":
        forms += ["sum"]
    else:
        forms += ["join"]
    f = rng.choice(forms)
    if f == "size":
        return f"CAST(size({x}) AS BIGINT)", f"len({dx})"
    if f == "element":
        k = rng.randint(1, 5)  # deliberately sometimes out of bounds
        return f"try_element_at({x}, {k})", f"({dx})[{k}]"
    if f == "contains":
        v = rng.randint(0, 4) if kind == "int" else "'O'"
        return f"array_contains({x}, {v})", f"list_contains({dx}, {v})"
    if f == "position":
        v = rng.randint(0, 4) if kind == "int" else "'F'"
        return (
            f"array_position({x}, {v})",
            f"CAST(list_position({dx}, {v}) AS BIGINT)",
        )
    if f == "sum":
        # coalesce: DuckDB list_sum([]) is NULL, Spark's fold returns the
        # 0L seed (pinned in test_empty_array_sum_and_join_divergence —
        # FOUND by this grammar's first 1000-seed sweep)
        return (
            f"aggregate({x}, 0L, (a, v) -> a + v)",
            f"CAST(coalesce(list_sum({dx}), 0) AS BIGINT)",
        )
    # coalesce: DuckDB array_to_string([]) is NULL, Spark array_join([])
    # is '' (same pinned test, same sweep find)
    return (
        f"array_join({x}, ',')",
        f"coalesce(array_to_string({dx}, ','), '')",
    )


def _gen_array_query(rng: random.Random) -> tuple[str, str]:
    """Returns (spark_sql, duck_sql) — grammar #21: a derived-array
    pipeline (null-free base array from lineitem keys or a split of the
    flag columns, 1-3 chained transforms, a scalar terminal) grouped by
    the terminal value with bounded output. The two texts share every
    element expression, lambda body and predicate; only the array
    function SPELLINGS differ (see the dialect rules above)."""
    kind, sx, dx = _arr_base(rng)
    for _ in range(rng.randint(1, 3)):
        sx, dx = _arr_step(rng, kind, sx, dx)
    ts, td = _arr_terminal(rng, kind, sx, dx)
    preds = []
    if rng.random() < 0.5:
        preds.append(
            f"l_orderkey % {rng.randint(2, 5)} = {rng.choice([0, 1])}"
        )
    if rng.random() < 0.3:
        preds.append(f"l_linenumber <= {rng.randint(2, 5)}")
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    return (
        f"SELECT v, count(*) AS n FROM (SELECT {ts} AS v FROM lineitem{where})"
        f" GROUP BY v ORDER BY v NULLS LAST, n LIMIT 30",
        f"SELECT v, count(*) AS n FROM (SELECT {td} AS v FROM lineitem{where})"
        f" GROUP BY v ORDER BY v NULLS LAST, n LIMIT 30",
    )


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_array_matches_duckdb(engines, seed):
    _compare_pair(engines, *_gen_array_query(random.Random(27000 + seed)))


def test_element_at_oob_ansi_divergence(engines):
    """Pinned dialect divergence (found probing grammar #21): plain
    element_at past the end THROWS under Spark ANSI mode
    (INVALID_ARRAY_INDEX_IN_ELEMENT_AT) while DuckDB's [] yields NULL.
    try_element_at <-> [] is the shared-semantics pairing."""
    spark, con = engines
    assert con.execute("SELECT ([10,20,30])[7]").fetchone()[0] is None
    assert (
        spark.sql("SELECT try_element_at(array(10,20,30), 7)").collect()[0][0]
        is None
    )
    with pytest.raises(Exception):
        spark.sql("SELECT element_at(array(10,20,30), 7)").collect()


def test_list_distinct_null_and_order_divergence(engines):
    """Pinned dialect divergence (found probing grammar #21): Spark
    array_distinct preserves first-occurrence order and KEEPS one NULL;
    DuckDB list_distinct returns engine-chosen order and DROPS NULLs.
    The grammar therefore builds null-free arrays and re-sorts after
    every distinct step."""
    spark, con = engines
    s = spark.sql("SELECT array_distinct(array(3, NULL, 3, 1))").collect()[0][0]
    d = con.execute("SELECT list_distinct([3, NULL, 3, 1])").fetchone()[0]
    assert s == [3, None, 1]  # order preserved, one NULL kept
    assert sorted(d) == [1, 3]  # NULLs dropped, order unspecified


def test_empty_array_sum_and_join_divergence(engines):
    """Pinned dialect divergences FOUND BY grammar #21's 1000-seed sweep
    (33/1000 seeds diverged before the pairing fix, seeds 27041/27108/...):
    over an EMPTY array — which slice/filter steps produce routinely —

    - DuckDB list_sum([]) is NULL (SQL aggregate semantics) while
      Spark's aggregate(x, 0L, +) fold returns its seed, 0;
    - DuckDB array_to_string([], ',') is NULL while Spark
      array_join([], ',') is ''.

    The grammar pairs the DuckDB side with coalesce(..., 0) /
    coalesce(..., '') — and any hand-written oracle that folds or joins
    a possibly-empty array must do the same."""
    spark, con = engines
    assert con.execute("SELECT list_sum([])").fetchone()[0] is None
    assert (
        spark.sql(
            "SELECT aggregate(slice(array(1), 2, 3), 0L, (a, v) -> a + v)"
        ).collect()[0][0]
        == 0
    )
    assert con.execute("SELECT array_to_string([], ',')").fetchone()[0] is None
    assert (
        spark.sql("SELECT array_join(slice(array(1), 2, 3), ',')").collect()[0][0]
        == ""
    )


def test_list_sum_hugeint_widening(engines):
    """Pinned dialect divergence (found probing grammar #21): DuckDB
    list_sum widens to HUGEINT (the q43 trap surface again) while
    Spark's aggregate HOF with a 0L seed stays BIGINT — the grammar
    always casts the DuckDB side ::BIGINT."""
    spark, con = engines
    t = str(con.execute("SELECT list_sum([1,2,3])").description[0][1])
    assert "128" in t or "HUGEINT" in t.upper() or t == "NUMBER"
    sdf = spark.sql("SELECT aggregate(array(1,2,3), 0L, (a, v) -> a + v) AS s")
    assert sdf.schema["s"].dataType.simpleString() == "bigint"


# ---------------------------------------------------------------------------
# grammar #22 — temporal / interval ARITHMETIC (r09 verdict ask #5)
# ---------------------------------------------------------------------------

#: date_trunc units and EXTRACT fields on the verified shared surface.
#: Deliberately OUT (probed divergent, each pinned below): extract(dow)
#: (Spark Sunday=1..7 vs DuckDB Sunday=0..6), extract(second) (Spark
#: keeps the fraction as DECIMAL, DuckDB truncates to whole seconds),
#: DATE - DATE (Spark INTERVAL DAY vs DuckDB BIGINT days).
_TRUNC_UNITS_22 = ["minute", "hour", "day", "week", "month", "quarter", "year"]
_EXTRACT_22 = ["year", "quarter", "month", "week", "day", "doy", "hour", "minute"]


def _shifted_ts_22(rng: random.Random) -> str:
    """A 1-3 step interval-arithmetic chain over events.ts: +/- MINUTE/
    HOUR/DAY/MONTH intervals (month steps exercise end-of-month clamping
    — ts spans Jan/Feb 2024, so +/-1..14 MONTH crosses Feb 29 and year
    boundaries), with an occasional multiplied interval term
    (k * INTERVAL n DAY — verified shared syntax)."""
    shifts = []
    for _ in range(rng.randint(1, 3)):
        unit = rng.choice(["MINUTE", "HOUR", "DAY", "MONTH"])
        n = rng.randint(1, 14) if unit == "MONTH" else rng.randint(1, 40)
        shifts.append(f" {rng.choice(['+', '-'])} INTERVAL {n} {unit}")
    if rng.random() < 0.3:
        shifts.append(
            f" + {rng.randint(2, 5)} * INTERVAL {rng.randint(1, 9)} DAY"
        )
    return "ts" + "".join(shifts)


def _gen_interval_query(rng: random.Random) -> str:
    """Temporal/interval ARITHMETIC sweep (grammar #22): the last major
    dialect family without a grammar around it (the r09 verdict's #5 —
    the basic date surface q13/q50/q75/q82 pin is grammar-swept by
    _gen_temporal_query; this one sweeps the ARITHMETIC neighborhood):
    interval chains with month clamping, multiplied intervals,
    date_trunc at week/quarter/year boundaries OF shifted timestamps,
    EXTRACT field matrix over shifted timestamps, DATE + int day
    arithmetic, and BETWEEN over interval-shifted bounds.

    Shared-text rules (each probed before the grammar was written):
    date_trunc output always goes through CAST(.. AS TIMESTAMP) (DuckDB
    returns DATE for day-and-coarser units — same trap as grammar
    temporal); date_trunc over a DATE input goes through CAST(.. AS
    DATE) instead (Spark widens to TIMESTAMP, DuckDB stays DATE);
    EXTRACT results are BIGINT-cast (DuckDB int64 vs Spark int32).

    Offline sweep record: seeds 28000-28999 (1,000 queries) at sf0.01 —
    ZERO divergences; the three real divergences on this surface were
    found during pre-grammar probing and are pinned below
    (extract(dow) week numbering, DATE - DATE result type,
    extract(second) fractional seconds).
    """
    expr = _shifted_ts_22(rng)
    pred = rng.choice(
        [
            f"ts < {rng.choice(TS_LITS)}",
            f"{expr} < {rng.choice(TS_LITS)}",
            (
                f"ts BETWEEN {TS_LITS[0]} - INTERVAL {rng.randint(1, 9)} DAY"
                f" AND {rng.choice(TS_LITS[1:])}"
                f" + INTERVAL {rng.randint(1, 72)} HOUR"
            ),
            f"event_type = '{rng.choice(STR_LITS['event_type'])}'",
        ]
    )
    shape = rng.random()
    if shape < 0.35:
        # bucketed aggregate over a SHIFTED timestamp (month-clamped
        # rows land in different buckets per engine iff clamping
        # semantics diverge — the point of the sweep)
        unit = rng.choice(_TRUNC_UNITS_22[2:])  # day and coarser
        bucket = f"CAST(date_trunc('{unit}', {expr}) AS TIMESTAMP)"
        aggs = ["count(*) AS n"]
        if rng.random() < 0.6:
            aggs.append("CAST(sum(user_id) AS BIGINT) AS s0")
        if rng.random() < 0.4:
            f = rng.choice(_EXTRACT_22)
            aggs.append(
                f"CAST(sum(CAST(extract({f} FROM {expr}) AS BIGINT))"
                f" AS BIGINT) AS s1"
            )
        return (
            f"SELECT {bucket} AS b, {', '.join(aggs)}"
            f" FROM events WHERE {pred}"
            f" GROUP BY {bucket}"
        )
    if shape < 0.7:
        # projection matrix: trunc + extract + date-cast of one chain
        unit = rng.choice(_TRUNC_UNITS_22)
        f1, f2 = rng.sample(_EXTRACT_22, 2)
        cols = [
            f"CAST(date_trunc('{unit}', {expr}) AS TIMESTAMP) AS b",
            f"CAST(extract({f1} FROM {expr}) AS BIGINT) AS e1",
            f"CAST(extract({f2} FROM {expr}) AS BIGINT) AS e2",
        ]
        if rng.random() < 0.5:
            cols.append(f"CAST({expr} AS DATE) AS d")
        return f"SELECT event_id, {', '.join(cols)} FROM events WHERE {pred}"
    # DATE-domain arithmetic: day-integer addition and trunc over DATE
    # input (CAST AS DATE both sides — see docstring)
    k = rng.randint(1, 45)
    unit = rng.choice(["month", "quarter", "year", "week"])
    return (
        f"SELECT event_id,"
        f" CAST(CAST(ts AS DATE) + {k} AS DATE) AS d1,"
        f" CAST(date_trunc('{unit}', CAST(ts AS DATE)) AS DATE) AS d2,"
        f" CAST(extract({rng.choice(_EXTRACT_22[:5])} FROM"
        f" CAST(ts AS DATE) + {k}) AS BIGINT) AS e"
        f" FROM events WHERE {pred}"
    )


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_interval_matches_duckdb(engines, seed):
    _compare(engines, _gen_interval_query(random.Random(28000 + seed)))


# ---------------------------------------------------------------------------
# grammar #23 — window frames / null ordering / ties (r10 verdict ask #5)
# ---------------------------------------------------------------------------

#: frame pools for grammar #23. ROWS frames include the negative-end
#: (both-bounds-PRECEDING), FOLLOWING-only, and unbounded-edge shapes the
#: registered specs exercise one point of (q155); RANGE frames use
#: explicit integer offsets (frame membership is value-determined, so any
#: aggregate over them is tie-invariant by construction).
_FRAMES_ROWS_23 = [
    "ROWS BETWEEN 4 PRECEDING AND 2 PRECEDING",
    "ROWS BETWEEN 2 FOLLOWING AND 5 FOLLOWING",
    "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING",
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING",
    "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING",
    "ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING",
]
_FRAMES_RANGE_23 = [
    "RANGE BETWEEN 10 PRECEDING AND CURRENT ROW",
    "RANGE BETWEEN CURRENT ROW AND 10 FOLLOWING",
    "RANGE BETWEEN 5 PRECEDING AND 7 FOLLOWING",
    "RANGE BETWEEN UNBOUNDED PRECEDING AND 3 FOLLOWING",
]
_NULL_DIRS_23 = [
    "ASC NULLS FIRST",
    "ASC NULLS LAST",
    "DESC NULLS FIRST",
    "DESC NULLS LAST",
]


def _nullable_23(rng: random.Random, name: str, t: dict, bucket: bool) -> str:
    """A deterministically-nullable expression over an int column: NULL
    on a key-modulus stripe, optionally bucketized (% small-k) so the
    ordering is tie-PRONE — the surface rank/dense_rank diverge on if
    either engine mishandled gaps."""
    key0 = UNIQUE_KEY[name].split(",")[0].strip()
    c = rng.choice(t["int_cols"])
    mod = rng.choice([3, 5, 7])
    body = f"{c} % {rng.choice([4, 10])}" if bucket else c
    return f"(CASE WHEN {key0} % {mod} = 0 THEN NULL ELSE {body} END)"


def _gen_winframe_query(rng: random.Random) -> str:
    """Window frame / null-ordering / tie sweep (grammar #23, the r10
    verdict's #5): the window surface q60/q67/q82/q88/q155 pin points
    of, grammar-swept around — rank vs dense_rank vs percent_rank/
    cume_dist over tie-prone NULLABLE orderings with every explicit
    (ASC|DESC) x (NULLS FIRST|LAST) combination; ROWS frames with
    negative-end (4 PRECEDING..2 PRECEDING), FOLLOWING-only, and
    unbounded-edge bounds over total orders (ROWS_SAFE_TABLES + unique-
    key tiebreak — a ROWS frame over ties is nondeterministic by
    definition, the standing r06 trap); RANGE frames with explicit
    integer offsets, including over nullable orderings (a NULL current
    row's range frame is its null peer group — probed agreed); and
    lag/lead/nth_value/first_value/last_value with offsets, defaults,
    and frame interaction over nullable measures (RESPECT NULLS
    default — probed agreed).

    Determinism rules: every ranking shape orders by the nullable
    expression only (rank of a tied row is a function of the value
    multiset — tie-invariant); every ROWS shape draws from
    ROWS_SAFE_TABLES with the unique key appended; every RANGE
    aggregate's frame membership is value-determined. Null placement is
    ALWAYS spelled — the engines' bare ASC/DESC defaults differ (the
    pinned test_orderby_default_null_placement_divergence).

    Offline sweep record: seeds 30000-30999 (1,000 queries) at sf0.01 —
    ZERO divergences; the probed-agreed constructs above were verified
    individually before the grammar was written (see git history for
    the probe set: RANGE+nulls, DESC RANGE, nth_value over a
    negative-end frame, FOLLOWING-only first_value, percent_rank/
    cume_dist under ties, lag/lead defaults).
    """
    shape = rng.random()
    if shape < 0.3:
        # ranking matrix over nullable, tie-prone orderings
        name = rng.choice(list(TABLES))
        t = TABLES[name]
        g = rng.choice(t["group_cols"])
        key0 = UNIQUE_KEY[name].split(",")[0].strip()
        nv = _nullable_23(rng, name, t, bucket=True)
        d1, d2 = rng.sample(_NULL_DIRS_23, 2)
        cols = [
            f"CAST(rank() OVER (PARTITION BY {g} ORDER BY {nv} {d1})"
            f" AS BIGINT) AS r1",
            f"CAST(dense_rank() OVER (PARTITION BY {g} ORDER BY {nv} {d2})"
            f" AS BIGINT) AS r2",
        ]
        if rng.random() < 0.5:
            cols.append(
                f"round(percent_rank() OVER (PARTITION BY {g}"
                f" ORDER BY {nv} {rng.choice(_NULL_DIRS_23)}), 9) AS pr"
            )
        if rng.random() < 0.3:
            cols.append(
                f"round(cume_dist() OVER (PARTITION BY {g}"
                f" ORDER BY {nv} {rng.choice(_NULL_DIRS_23)}), 9) AS cd"
            )
        return (
            f"SELECT {key0} AS k, {', '.join(cols)}"
            f" FROM {name} WHERE {_predicate(rng, t)}"
        )
    if shape < 0.6:
        # ROWS frames over a TOTAL order; nullable measure
        name = rng.choice(ROWS_SAFE_TABLES)
        t = TABLES[name]
        g = rng.choice(t["group_cols"])
        key = UNIQUE_KEY[name]
        key0 = key.split(",")[0].strip()
        val = _nullable_23(rng, name, t, bucket=False)
        order = f"{rng.choice(t['int_cols'])}{rng.choice(['', ' DESC'])}, {key}"
        frame = rng.choice(_FRAMES_ROWS_23)
        fn = rng.choice(
            ["sum", "count", "min", "max", "first_value", "last_value"]
        )
        arg = f"{fn}({val})"
        if fn == "count" and rng.random() < 0.4:
            arg = "count(*)"  # vs count(val): the null-skipping contrast
        elif rng.random() < 0.25:
            arg = f"nth_value({val}, {rng.randint(1, 3)})"
        return (
            f"SELECT {key0} AS k, CAST({arg} OVER (PARTITION BY {g}"
            f" ORDER BY {order} {frame}) AS BIGINT) AS wv"
            f" FROM {name} WHERE {_predicate(rng, t)}"
        )
    if shape < 0.85:
        # RANGE frames with integer offsets; optionally nullable order
        name = rng.choice(list(TABLES))
        t = TABLES[name]
        g = rng.choice(t["group_cols"])
        key0 = UNIQUE_KEY[name].split(",")[0].strip()
        if rng.random() < 0.5:
            order = f"{_nullable_23(rng, name, t, bucket=False)}"
        else:
            order = rng.choice(t["int_cols"])
        direction = rng.choice(_NULL_DIRS_23)
        frame = rng.choice(_FRAMES_RANGE_23)
        fn = rng.choice(
            ["count(*)", f"sum({rng.choice(t['int_cols'])})"]
        )
        return (
            f"SELECT {key0} AS k, CAST({fn} OVER (PARTITION BY {g}"
            f" ORDER BY {order} {direction} {frame}) AS BIGINT) AS wv"
            f" FROM {name} WHERE {_predicate(rng, t)}"
        )
    # lag/lead with offsets and defaults over a total order
    name = rng.choice(ROWS_SAFE_TABLES)
    t = TABLES[name]
    g = rng.choice(t["group_cols"])
    key = UNIQUE_KEY[name]
    key0 = key.split(",")[0].strip()
    val = _nullable_23(rng, name, t, bucket=False)
    return (
        f"SELECT {key0} AS k,"
        f" CAST(lag({val}, {rng.randint(1, 4)}, {rng.choice([-1, 0, 99])})"
        f" OVER (PARTITION BY {g} ORDER BY {key}) AS BIGINT) AS lg,"
        f" CAST(lead({val}, {rng.randint(1, 4)}, {rng.choice([-1, 0, 99])})"
        f" OVER (PARTITION BY {g} ORDER BY {key}) AS BIGINT) AS ld"
        f" FROM {name} WHERE {_predicate(rng, t)}"
    )


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_winframe_matches_duckdb(engines, seed):
    _compare(engines, _gen_winframe_query(random.Random(30000 + seed)))


# ---------------------------------------------------------------------------
# grammar #24 — aggregate modifiers: FILTER / DISTINCT / conditional aggs
# ---------------------------------------------------------------------------


def _nullable_24(rng: random.Random, name: str, t: dict) -> str:
    """Nullable aggregate input on a key-modulus stripe — exercises the
    null-skipping contract of every aggregate (count(expr) vs count(*),
    sum/min/max over partially-null columns)."""
    key0 = UNIQUE_KEY[name].split(",")[0].strip()
    c = rng.choice(t["int_cols"])
    return f"(CASE WHEN {key0} % {rng.choice([3, 5, 7])} = 0 THEN NULL ELSE {c} END)"


def _gen_aggmod_query(rng: random.Random) -> str:
    """Aggregate-MODIFIER sweep (grammar #24): the aggregation surface
    the base grammar's plain count/sum doesn't touch — FILTER (WHERE
    ...) clauses (incl. on DISTINCT aggregates and repeated in HAVING),
    DISTINCT aggregates (multiple per select — Spark plans them through
    Expand), count_if / bool_and / bool_or conditional aggregates,
    avg over integer inputs (DuckDB sums in HUGEINT; Spark's Average
    accumulates non-decimal inputs in DOUBLE, so the division is exact
    only while partial sums stay below 2^53 — true at every sf this
    sweep runs, and the round(..., 9) absorbs nothing today; a much
    larger-sf sweep hitting a divergence here should cast the avg input
    to decimal rather than chase a phantom engine bug), GROUP BY ALL, and
    nullable aggregate inputs (the count(expr)-skips-nulls contract).
    Every sum/count is BIGINT-cast (the standing HUGEINT trap); avg is
    round(..., 9). Aggregates over doubles stay OUT (order-dependent FP
    partials — the q74 lesson lives in the decimal grammar instead).

    Offline sweep record: seeds 32000-32999 (1,000 queries) at sf0.01 —
    ZERO divergences; the seven construct families were probed
    individually before the grammar was written (FILTER on plain and
    DISTINCT aggs, multiple DISTINCTs, count_if/bool_and/bool_or,
    GROUP BY ALL, nullable inputs, FILTER repeated in HAVING).
    """
    name = rng.choice(list(TABLES))
    t = TABLES[name]
    g = rng.choice(t["group_cols"])
    iv = rng.choice(t["int_cols"])
    fpred = _predicate(rng, t)
    shape = rng.random()
    if shape < 0.3:
        # FILTER matrix over plain + distinct aggregates
        cols = [
            f"CAST(count(*) FILTER (WHERE {fpred}) AS BIGINT) AS a",
            f"CAST(sum({iv}) FILTER (WHERE {iv} % {rng.choice([2, 3])} = 0)"
            f" AS BIGINT) AS b",
        ]
        if rng.random() < 0.6:
            cols.append(
                f"CAST(count(DISTINCT {rng.choice(t['int_cols'])})"
                f" FILTER (WHERE {_predicate(rng, t)}) AS BIGINT) AS c"
            )
        if rng.random() < 0.4:
            cols.append(
                f"CAST(min({iv}) FILTER (WHERE {_predicate(rng, t)})"
                f" AS BIGINT) AS d"
            )
        return f"SELECT {g} AS g, {', '.join(cols)} FROM {name} GROUP BY {g}"
    if shape < 0.55:
        # multiple DISTINCT aggregates (Expand path) + nullable input
        nv = _nullable_24(rng, name, t)
        c2 = rng.choice(t["int_cols"])
        return (
            f"SELECT {g} AS g,"
            f" CAST(count(DISTINCT {iv}) AS BIGINT) AS a,"
            f" CAST(count(DISTINCT {c2} % {rng.choice([10, 100])}) AS BIGINT) AS b,"
            f" CAST(sum(DISTINCT {c2} % {rng.choice([7, 13])}) AS BIGINT) AS c,"
            f" CAST(count({nv}) AS BIGINT) AS d,"
            f" CAST(max({nv}) AS BIGINT) AS e"
            f" FROM {name} WHERE {fpred} GROUP BY {g}"
        )
    if shape < 0.8:
        # conditional aggregates + exact integer avg
        return (
            f"SELECT {g} AS g,"
            f" CAST(count_if({iv} % {rng.choice([2, 3, 5])} = 0) AS BIGINT) AS a,"
            f" bool_and({iv} >= 0) AS b,"
            f" bool_or({_predicate(rng, t)}) AS c,"
            f" round(avg({iv}), 9) AS d"
            f" FROM {name} GROUP BY {g}"
        )
    # GROUP BY ALL + FILTER repeated in HAVING
    g2 = rng.choice([c for c in t["str_cols"] if c != g] or [g])
    hav = f"count(*) FILTER (WHERE {fpred})"
    return (
        f"SELECT {g} AS g1, {g2} AS g2,"
        f" CAST(count(*) AS BIGINT) AS n,"
        f" CAST({hav} AS BIGINT) AS m"
        f" FROM {name} GROUP BY ALL HAVING {hav} >= {rng.choice([1, 3, 10])}"
    )


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_aggmod_matches_duckdb(engines, seed):
    _compare(engines, _gen_aggmod_query(random.Random(32000 + seed)))


def test_extract_dow_divergence(engines):
    """Pinned dialect divergence (found probing grammar #22): EXTRACT
    (dow) numbers the week differently — Spark Sunday=1..Saturday=7
    (dayofweek semantics), DuckDB Sunday=0..Saturday=6 (PostgreSQL
    semantics) — and no single shared-text arithmetic maps both onto
    one scale. A spec needing day-of-week must spell the mapping per
    engine (Spark `dayofweek(x) - 1` == DuckDB `extract(dow FROM x)`);
    the grammar sweeps doy/week instead."""
    spark, con = engines
    sql = "SELECT extract(dow FROM TIMESTAMP '2024-01-07 05:00:00') AS x"
    assert spark.sql(sql).collect()[0][0] == 1  # a Sunday
    assert con.execute(sql).fetchone()[0] == 0
    norm_s = spark.sql(
        "SELECT dayofweek(TIMESTAMP '2024-01-07 05:00:00') - 1"
    ).collect()[0][0]
    assert norm_s == con.execute(sql).fetchone()[0]


def test_date_minus_date_type_divergence(engines):
    """Pinned dialect divergence (found probing grammar #22): DATE -
    DATE is INTERVAL DAY in Spark but BIGINT days in DuckDB, so the
    shared text hash-diverges at the type level (TIMESTAMP - TIMESTAMP
    agrees — both produce intervals). Day-difference logic must use
    per-engine spellings (Spark datediff(a, b) == DuckDB
    date_diff('day', b, a)); the grammar stays off DATE subtraction."""
    spark, con = engines
    sql = "SELECT DATE '2024-02-10' - DATE '2024-01-31' AS x"
    import datetime

    assert spark.sql(sql).collect()[0][0] == datetime.timedelta(days=10)
    assert con.execute(sql).fetchone()[0] == 10
    s = spark.sql(
        "SELECT datediff(DATE '2024-02-10', DATE '2024-01-31')"
    ).collect()[0][0]
    d = con.execute(
        "SELECT date_diff('day', DATE '2024-01-31', DATE '2024-02-10')"
    ).fetchone()[0]
    assert s == d == 10


def test_extract_second_fraction_divergence(engines):
    """Pinned dialect divergence (found probing grammar #22): EXTRACT
    (second) keeps the sub-second fraction in Spark (DECIMAL — 7.25)
    but truncates to whole seconds in DuckDB (7). Whole-second data
    agrees, but the grammar excludes the field anyway; sub-second logic
    should date_trunc('second', ...) first (agreed surface) or extract
    per-engine."""
    spark, con = engines
    sql = (
        "SELECT CAST(extract(second FROM"
        " TIMESTAMP '2024-01-01 05:00:07.25') AS DOUBLE) AS x"
    )
    assert spark.sql(sql).collect()[0][0] == 7.25
    assert con.execute(sql).fetchone()[0] == 7.0
    trunc = (
        "SELECT CAST(date_trunc('second',"
        " TIMESTAMP '2024-01-01 05:00:07.25') AS TIMESTAMP) AS x"
    )
    assert spark.sql(trunc).collect()[0][0] == con.execute(trunc).fetchone()[0]


# ---------------------------------------------------------------------------
# grammar #25 — streaming/batch equivalence (r11 verdict ask #7)
# ---------------------------------------------------------------------------

#: (size, slide) pools for grammar #25, in whole seconds. Tumbling sizes
#: include non-divisor-of-hour widths (13 min) so bucket boundaries fall
#: off every calendar grain; sliding pairs keep slide | size, making each
#: event a member of EXACTLY size/slide windows (the closed-form the
#: batch replay uses — see _gen_stream_config).
_TUMBLE_SIZES_25 = [13 * 60, 30 * 60, 45 * 60, 3600, 90 * 60, 2 * 3600, 3 * 3600]
_SLIDE_PAIRS_25 = [
    (3600, 1800),
    (3600, 900),
    (2 * 3600, 3600),
    (2 * 3600, 1800),
    (3 * 3600, 3600),
    (90 * 60, 1800),
]
#: watermark delays: semantically inert for this harness's drains (see
#: the generator docstring for WHY that is a provable property here, not
#: an untested knob) — swept to assert the inertness.
_DELAYS_25 = ["0 seconds", "10 minutes", "1 hour", "1 day", "400 days"]
#: dedup key choices: event_id is row-unique (the q110 premise); the
#: others are lossy, so their variants aggregate only key-determined
#: values (counts over distinct key tuples).
_DEDUP_KEYS_25 = [
    ("event_id",),
    ("user_id", "ts"),
    ("user_id", "event_type"),
    ("event_type", "ts"),
]


def _gen_stream_config(rng: random.Random):
    """Streaming/batch equivalence sweep (grammar #25, the r11 verdict's
    #7): the q108/q110 harness shape — a REAL StreamingQuery
    (file-source readStream over the sf dir's events table,
    ``availableNow`` drain into a memory sink) compared against the
    equivalent batch SQL on DuckDB — grammar-swept over tumbling window
    sizes, sliding (size, slide) pairs, watermark delays, and dedup-key
    choices, the way #23/#24 swept frames and aggregate modifiers around
    the hand-written window specs.

    Returns ``(build, duck_sql)`` where ``build(spark)`` constructs the
    streaming DataFrame (the caller drains it) and ``duck_sql`` is the
    batch replay. Window starts are emitted as EPOCH SECONDS on both
    sides (BIGINT) — Spark's window() aligns buckets to the epoch, so
    the batch bucket is ``(floor(epoch(ts)) // size) * size``; a
    timestamp column would drag the TIMESTAMPTZ-vs-NTZ dialect gap into
    every seed for no extra coverage. For sliding windows with
    slide | size, the k = size/slide windows containing t are EXACTLY
    ``start_j = (floor(t/slide) - j) * slide`` for j in 0..k-1 (proof:
    window [a, a+size) contains t iff t-size < a <= t; the multiples of
    slide in that half-open interval are precisely those k values), so
    the batch side is a generate_series join with no membership filter.

    Family shapes:
    - **tumbling** — watermark -> window(size) [x event_type] -> agg;
    - **sliding**  — watermark -> window(size, slide) [x event_type] ->
      agg (each event in exactly k windows);
    - **dedup**    — the stream unioned with itself (every event arrives
      twice — the reference's blind re-ingestion failure mode),
      dropDuplicatesWithinWatermark(keys), then a rollup; for the
      row-unique event_id key the batch replay aggregates the ORIGINAL
      events (q110's certificate); for lossy keys it aggregates
      DISTINCT key tuples, grouping only by key members (the survivor
      row is arbitrary, so nothing value-dependent leaves the keyset);
    - **dedup+window** — the q110 two-stateful-operator chain: dedup on
      event_id THEN a tumbling rollup.

    WHY the delay sweep cannot flake: (a) complete-mode aggregation
    never evicts window state and aggregates late rows into existing
    state, so the delay does not affect the drained result; (b) the
    planted duplicates are byte-identical copies (equal event time), so
    each dup is either deduplicated by live state or dropped as
    later-than-watermark — suppressed on every path, for ANY delay
    (q110 needs its span-covering delay only because it must ALSO prove
    state persistence across micro-batches; this grammar proves batch
    equivalence). Asserting result-invariance across the delay pool is
    therefore itself one of the swept properties.

    Offline sweep record: seeds 33000-33999 (1,000 configs) at sf0.01 —
    ZERO divergences (replayed through this grammar's generator and
    comparator, as the seeded subset here runs them).
    """
    from pyspark.sql import functions as F

    from etl_dag_paris_velib_spark.plans.streamq import _events_stream

    delay = rng.choice(_DELAYS_25)
    by_type = rng.random() < 0.6
    aggs = rng.choice(
        [
            ("count",),
            ("count", "sum"),
            ("count", "min", "max"),
            ("sum", "max"),
        ]
    )

    def agg_exprs():
        out = []
        if "count" in aggs:
            out.append(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        if "sum" in aggs:
            out.append(F.round(F.sum("value"), 2).alias("total_value"))
        if "min" in aggs:
            out.append(F.round(F.min("value"), 2).alias("min_value"))
        if "max" in aggs:
            out.append(F.round(F.max("value"), 2).alias("max_value"))
        return out

    def agg_sql():
        out = []
        if "count" in aggs:
            out.append("count(*)::BIGINT AS n_events")
        if "sum" in aggs:
            out.append("round(sum(value), 2) AS total_value")
        if "min" in aggs:
            out.append("round(min(value), 2) AS min_value")
        if "max" in aggs:
            out.append("round(max(value), 2) AS max_value")
        return ", ".join(out)

    shape = rng.random()
    if shape < 0.35:
        # tumbling rollup
        size = rng.choice(_TUMBLE_SIZES_25)

        def build(spark):
            g = [F.window("ts", f"{size} seconds").alias("w")]
            if by_type:
                g.append(F.col("event_type"))
            agg = (
                _events_stream(spark, SF_ORACLE)
                .withWatermark("ts", delay)
                .groupBy(*g)
                .agg(*agg_exprs())
            )
            rest = [c for c in agg.columns if c not in ("w", "event_type")]
            return agg.select(
                F.col("w.start").cast("long").alias("ws"),
                *(["event_type"] if by_type else []),
                *rest,
            )

        gcols = "ws, event_type" if by_type else "ws"
        duck = (
            f"SELECT (floor(epoch(ts))::BIGINT // {size}) * {size} AS ws,"
            f" {'event_type, ' if by_type else ''}{agg_sql()}"
            f" FROM events GROUP BY {gcols}"
        )
        return build, duck
    if shape < 0.6:
        # sliding rollup: each event in exactly size/slide windows
        size, slide = rng.choice(_SLIDE_PAIRS_25)
        k = size // slide

        def build(spark):
            g = [F.window("ts", f"{size} seconds", f"{slide} seconds").alias("w")]
            if by_type:
                g.append(F.col("event_type"))
            agg = (
                _events_stream(spark, SF_ORACLE)
                .withWatermark("ts", delay)
                .groupBy(*g)
                .agg(*agg_exprs())
            )
            rest = [c for c in agg.columns if c not in ("w", "event_type")]
            return agg.select(
                F.col("w.start").cast("long").alias("ws"),
                *(["event_type"] if by_type else []),
                *rest,
            )

        gcols = "ws, event_type" if by_type else "ws"
        duck = (
            f"SELECT ((floor(epoch(ts))::BIGINT // {slide}) - g.i) * {slide}"
            f" AS ws, {'event_type, ' if by_type else ''}{agg_sql()}"
            f" FROM events CROSS JOIN generate_series(0, {k - 1}) g(i)"
            f" GROUP BY {gcols}"
        )
        return build, duck
    if shape < 0.8:
        # dedup rollup over planted duplicates
        keys = rng.choice(_DEDUP_KEYS_25)

        def build(spark, keys=keys):
            s = _events_stream(spark, SF_ORACLE)
            deduped = (
                s.unionByName(s)
                .withWatermark("ts", delay)
                .dropDuplicatesWithinWatermark(list(keys))
            )
            if keys == ("event_id",):
                return deduped.groupBy("event_type").agg(*agg_exprs())
            if "event_type" in keys:
                return deduped.groupBy("event_type").agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_events")
                )
            return deduped.groupBy().agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events")
            )

        if keys == ("event_id",):
            duck = (
                f"SELECT event_type, {agg_sql()} FROM events GROUP BY event_type"
            )
        elif "event_type" in keys:
            duck = (
                "SELECT event_type, count(*)::BIGINT AS n_events FROM"
                f" (SELECT DISTINCT {', '.join(keys)} FROM events)"
                " GROUP BY event_type"
            )
        else:
            duck = (
                "SELECT count(*)::BIGINT AS n_events FROM"
                f" (SELECT DISTINCT {', '.join(keys)} FROM events)"
            )
        return build, duck
    # dedup chained into a tumbling window rollup (two stateful ops)
    size = rng.choice(_TUMBLE_SIZES_25)

    def build(spark):
        s = _events_stream(spark, SF_ORACLE)
        deduped = (
            s.unionByName(s)
            .withWatermark("ts", delay)
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        agg = deduped.groupBy(
            F.window("ts", f"{size} seconds").alias("w")
        ).agg(*agg_exprs())
        rest = [c for c in agg.columns if c != "w"]
        return agg.select(F.col("w.start").cast("long").alias("ws"), *rest)

    duck = (
        f"SELECT (floor(epoch(ts))::BIGINT // {size}) * {size} AS ws,"
        f" {agg_sql()} FROM events GROUP BY ws"
    )
    return build, duck


def _compare_stream(engines, build, duck_sql: str) -> None:
    """The grammar-#25 comparator: drain the streaming side through a
    REAL StreamingQuery (availableNow -> memory sink; the drain helper
    raises on zero streamed rows, so a silent batch fallback cannot
    pass) and hold it to _compare's exact gate against the DuckDB batch
    replay."""
    from etl_dag_paris_velib_spark.plans.streamq import _drain_to_memory

    spark, con = engines
    name = _drain_to_memory(build(spark), "fuzz25", "complete")
    sdf = spark.table(name)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    dd = con.execute(duck_sql)
    dcols = [d[0] for d in dd.description]
    drows = dd.fetchall()
    spark.catalog.dropTempView(name)
    assert sorted(scols) == sorted(dcols), f"schema diverged for: {duck_sql}"
    assert len(srows) == len(drows), f"row count diverged for: {duck_sql}"
    assert canon_hash(scols, srows) == canon_hash(dcols, drows), (
        f"value hash diverged for batch replay: {duck_sql}"
    )


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_stream_batch_matches_duckdb(engines, seed):
    build, duck_sql = _gen_stream_config(random.Random(33000 + seed))
    _compare_stream(engines, build, duck_sql)


# ---------------------------------------------------------------------------
# grammar #26 — streaming SESSION-window/batch equivalence (q161 companion)
# ---------------------------------------------------------------------------

#: session gap pool (whole seconds): spans dense-regime gaps (5 min — at
#: sf0.01 most per-user deltas chain) through sparse ones (2 h — nearly
#: every event its own session), so the sweep exercises both heavy
#: merging and heavy splitting in MergingSessionsExec.
_SESSION_GAPS_26 = [5 * 60, 13 * 60, 30 * 60, 3600, 2 * 3600]
#: session partition keys: per-user (q161's shape), per-type (few
#: partitions, many intra-partition ts TIES — the island construction's
#: hard case), composite, and the DERIVED 2-bucket key u2 = user_id % 2
#: (near-global merged timelines with maximal tie density; a truly
#: keyless session_window is rejected by Spark's streaming planner —
#: "Global aggregation with session window ... is not supported", and a
#: constant literal key is folded away and rejected identically, so the
#: derived key is the closest supported global shape).
_SESSION_KEYS_26 = [
    ("user_id",),
    ("event_type",),
    ("user_id", "event_type"),
    ("u2",),
]


def _gen_session_config(rng: random.Random):
    """Streaming SESSION-window/batch equivalence (grammar #26): q161's
    harness shape — readStream over events → watermark →
    ``session_window(gap)`` × keys → availableNow drain — grammar-swept
    over gap sizes, partition-key choices (incl. the keyless global
    timeline), watermark delays (inert for complete-mode drains, the
    proven #25 property — swept to assert it), and aggregate sets.

    The batch replay is q161's island construction, parameterized: per
    key group, ``lag(ts)`` marks a break when the MICROSECOND-exact gap
    (epoch_us) reaches the threshold, a running sum of breaks labels
    islands, and min/max/count/value-aggs per island rebuild the session
    rows (end = max(ts) + gap; bounds hash as epoch seconds — floor
    commutes over the integer gap shift). BOTH windows order by
    (ts, event_id) — a TOTAL order. This is load-bearing, not style:
    lag and the island cumsum are independent window evaluations, and
    with ORDER BY ts alone two same-ts rows right after a gap jump may
    be visited carrier-first by lag but carrier-last by the cumsum,
    splitting the pair across islands. The per-type and global keys make
    same-ts rows COMMON (every concurrent user collides), so this
    grammar sweeps exactly the tie regime the per-user spec rarely hits.
    Island aggregates themselves are order-free (min/max/count/sum).

    Offline sweep record: seeds 34000-34999 (1,000 configs) at sf0.01 —
    ZERO divergences (replayed through this grammar's generator and
    comparator, as the seeded subset here runs them).
    """
    from pyspark.sql import functions as F

    from etl_dag_paris_velib_spark.plans.streamq import _events_stream

    gap = rng.choice(_SESSION_GAPS_26)
    keys = rng.choice(_SESSION_KEYS_26)
    delay = rng.choice(_DELAYS_25)
    aggs = rng.choice(
        [
            ("count",),
            ("count", "sum"),
            ("count", "min", "max"),
            ("sum", "max"),
        ]
    )

    def agg_exprs():
        out = []
        if "count" in aggs:
            out.append(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        if "sum" in aggs:
            out.append(F.round(F.sum("value"), 2).alias("total_value"))
        if "min" in aggs:
            out.append(F.round(F.min("value"), 2).alias("min_value"))
        if "max" in aggs:
            out.append(F.round(F.max("value"), 2).alias("max_value"))
        return out

    def agg_sql():
        out = []
        if "count" in aggs:
            out.append("count(*)::BIGINT AS n_events")
        if "sum" in aggs:
            out.append("round(sum(value), 2) AS total_value")
        if "min" in aggs:
            out.append("round(min(value), 2) AS min_value")
        if "max" in aggs:
            out.append("round(max(value), 2) AS max_value")
        return ", ".join(out)

    def build(spark, keys=keys):
        s = _events_stream(spark, SF_ORACLE)
        if "u2" in keys:
            s = s.withColumn("u2", (F.col("user_id") % 2).cast("bigint"))
        g = [F.session_window("ts", f"{gap} seconds").alias("w")] + [
            F.col(k) for k in keys
        ]
        agg = s.withWatermark("ts", delay).groupBy(*g).agg(*agg_exprs())
        rest = [c for c in agg.columns if c not in ("w",) + keys]
        return agg.select(
            *keys,
            F.col("w.start").cast("long").alias("ss"),
            F.col("w.end").cast("long").alias("se"),
            *rest,
        )

    src = (
        "(SELECT *, (user_id % 2)::BIGINT AS u2 FROM events)"
        if "u2" in keys
        else "events"
    )
    kcols = ", ".join(keys)
    part = f"PARTITION BY {kcols} " if keys else ""
    sel_keys = f"{kcols}, " if keys else ""
    duck = f"""
WITH o AS (
  SELECT {sel_keys}ts, value, event_id,
         lag(ts) OVER ({part}ORDER BY ts, event_id) AS pts
  FROM {src}
),
m AS (
  SELECT *, CASE WHEN pts IS NULL
                   OR epoch_us(ts) - epoch_us(pts) >= {gap * 1000000}
                 THEN 1 ELSE 0 END AS brk
  FROM o
),
s AS (
  SELECT *, sum(brk) OVER ({part}ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT {sel_keys}floor(epoch(min(ts)))::BIGINT AS ss,
       floor(epoch(max(ts)))::BIGINT + {gap} AS se, {agg_sql()}
FROM s GROUP BY {sel_keys}sid
"""
    return build, duck


@pytest.mark.parametrize("seed", list(range(15)))
def test_fuzzed_session_window_matches_duckdb(engines, seed):
    build, duck_sql = _gen_session_config(random.Random(34000 + seed))
    _compare_stream(engines, build, duck_sql)
