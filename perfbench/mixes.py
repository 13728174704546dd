"""The benchmark's workloads: which operations each mix runs, and the
seeded order and literals of every pass.

An operation is either a declared ``QuerySpec`` (an exact repeat on
every pass) or an instance of a reference-dialect template with fresh
literals (never repeated). The seed permutes the order of each pass
and draws the literals; it never changes which operations are in a
mix, so every pass of a workload does the same kinds of work.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Why each mix holds what it does. Each optimisation on the ROADMAP
# has one workload that exercises it and one that bypasses it: the
# Python kernels, MinHash, the cache and the write path run only in
# "pipeline"; "olap" spends its time in catalog, planning and fixed
# per-query cost.
MIXES: dict[str, dict] = {
    # Catalog, Catalyst, joins, aggregates and exchanges with no Python
    # and no writes. Exact repeats (the specs) sit beside never-repeated
    # dialect queries, so a result or plan cache shows its share.
    "olap": {
        "specs": ("d01", "d02", "d09", "p11", "p15", "p16", "c02", "c11", "c14", "c22", "c29"),
        "templates": ("d01", "d02", "d05", "d08", "d10"),
    },
    # A corpus pipeline: MinHash over persisted 64-bit hashes (x02), a
    # persisted cleaning pipeline (x24), n-gram and substring exchanges
    # (x32, x33, x55), an Arrow mapInPandas kernel (x66) and an
    # interpreted higher-order fold (x06); then writes beside reads: a
    # schema-evolving parquet write (src05), MERGE (src11), quarantine
    # ingest (src13) and a stream with a WAL and a state store (s01).
    "pipeline": {
        "specs": ("x02", "x06", "x24", "x32", "x33", "x55", "x66",
                  "src05", "src11", "src13", "s01"),
        "templates": (),
    },
}

_JOIN4 = ("customer.c_custkey=orders.o_custkey, orders.o_orderkey=lineitem.l_orderkey, "
          "lineitem.l_partkey=part.p_partkey")
_JOIN4_ANSI = "c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_partkey = p_partkey"
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

# name -> (reference-dialect text, its ANSI form for DuckDB, literal draw).
# Each is one of the declared d01-d10 shapes with a literal slot; the
# ranges lie inside the data at every shipped scale.
TEMPLATES = {
    "d01": (
        "SELECT customer.c_name, orders.o_orderkey, orders.o_totalprice FROM customer, orders "
        'WHERE customer.c_custkey = orders.o_custkey, orders.o_totalprice > "{p}", '
        'orders.o_orderstatus = "{s}" ORDERBY orders.o_totalprice DESC',
        "SELECT c_name, o_orderkey, o_totalprice FROM customer JOIN orders ON c_custkey = o_custkey "
        "WHERE o_totalprice > {p} AND o_orderstatus = '{s}' ORDER BY o_totalprice DESC",
        lambda r: {"p": r.randrange(250_000, 480_000), "s": r.choice("FOP")},
    ),
    "d02": (
        "SELECT orders.o_orderstatus, MAX(orders.o_totalprice), COUNT(orders.o_orderkey) "
        'FROM orders WHERE orders.o_totalprice > "{p}" GROUPBY orders.o_orderstatus',
        "SELECT o_orderstatus, MAX(o_totalprice) AS max_o_totalprice, COUNT(o_orderkey) AS "
        "count_o_orderkey FROM orders WHERE o_totalprice > {p} GROUP BY o_orderstatus",
        lambda r: {"p": r.randrange(5_000, 400_000)},
    ),
    "d04": (
        "SELECT customer.c_custkey, customer.c_mktsegment, customer.c_name FROM customer "
        'WHERE customer.c_mktsegment="{seg}"',
        "SELECT c_custkey, c_mktsegment, c_name FROM customer WHERE c_mktsegment = '{seg}'",
        lambda r: {"seg": r.choice(_SEGMENTS)},
    ),
    "d05": (
        "SELECT customer.c_custkey, customer.c_name, orders.o_orderkey, orders.o_orderstatus "
        'FROM customer, orders WHERE customer.c_custkey=orders.o_custkey, customer.c_custkey<"{k}"',
        "SELECT c_custkey, c_name, o_orderkey, o_orderstatus FROM customer JOIN orders "
        "ON c_custkey = o_custkey WHERE c_custkey < {k}",
        lambda r: {"k": r.randrange(10, 150)},
    ),
    "d08": (
        "SELECT customer.c_mktsegment, part.p_retailprice FROM customer, orders, lineitem, part "
        f'WHERE {_JOIN4}, part.p_retailprice<"{{hi}}", part.p_retailprice>"{{lo}}"',
        "SELECT c_mktsegment, p_retailprice FROM customer, orders, lineitem, part "
        f"WHERE {_JOIN4_ANSI} AND p_retailprice < {{hi}} AND p_retailprice > {{lo}}",
        lambda r: (lambda lo: {"lo": lo, "hi": lo + r.randrange(2, 6)})(r.randrange(900, 914)),
    ),
    "d09": (
        'SELECT DISTINCT customer.c_mktsegment FROM customer WHERE customer.c_acctbal>"{a}"',
        "SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal > {a}",
        lambda r: {"a": r.randrange(-900, 9_000)},
    ),
    "d10": (
        "SELECT orders.o_orderkey, orders.o_totalprice FROM orders "
        'WHERE orders.o_totalprice>"{p}" ORDERBY orders.o_totalprice',
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > {p} ORDER BY o_totalprice",
        lambda r: {"p": r.randrange(200_000, 490_000)},
    ),
}


@dataclass(frozen=True)
class Op:
    """One operation of a pass. ``spec`` is set for a declared query;
    otherwise ``ref_sql`` is a dialect instance and ``oracle`` its
    ANSI form."""

    key: str
    spec: object | None = None
    ref_sql: str | None = None
    oracle: str | None = None

    @property
    def oracle_sql(self) -> str:
        return self.spec.oracle if self.spec is not None else self.oracle

    @property
    def kind(self) -> str:
        """The spec or template this op is one instance of."""
        return self.key.split("#", 1)[0]


def resolve_specs(prefixes: tuple[str, ...]) -> list:
    """The declared QuerySpecs named by their id prefix (``c02`` for
    ``c02_tpch_q1``), in the order given."""
    from database_query_processor_spark.workload import all_specs

    by_prefix = {s.name.split("_", 1)[0]: s for s in all_specs()}
    missing = [p for p in prefixes if p not in by_prefix]
    if missing:
        raise KeyError(f"no declared QuerySpec for {missing}")
    return [by_prefix[p] for p in prefixes]


class Passes:
    """Seeded pass generator for one workload."""

    def __init__(self, workload: str, seed: int) -> None:
        mix = MIXES[workload]
        self.specs = resolve_specs(mix["specs"])
        self.templates = mix["templates"]
        self.rng = random.Random(seed)
        self._instances = 0

    def next_pass(self) -> list[Op]:
        ops = [Op(key=s.name, spec=s) for s in self.specs]
        for name in self.templates:
            ref, ansi, draw = TEMPLATES[name]
            lits = draw(self.rng)
            self._instances += 1
            ops.append(Op(key=f"{name}_dialect#{self._instances}",
                          ref_sql=ref.format(**lits), oracle=ansi.format(**lits)))
        self.rng.shuffle(ops)
        return ops
