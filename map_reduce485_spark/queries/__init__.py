"""Query registry: every Layer-B operator exposed as a named query.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL oracle string for DuckDB (or ``None`` for genuinely
non-SQL-expressible operators, which get a weaker rows-only check).

Hash-stability rules followed throughout (the driver compares row count +
schema + order-insensitive value hash, columns sorted by name):

- Every computed column is aliased identically on both sides.
- Money/quantity aggregates go through exact DECIMAL arithmetic and are cast
  back to DOUBLE at the end, so the result is independent of Spark's
  partial-aggregation order vs DuckDB's sequential sum (double addition is
  not associative; decimal addition is).
- Timestamp outputs are formatted to strings so timezone/display conventions
  cannot differ.
- Top-k orderings always include a unique tiebreaker column.
- Floating-point array reductions (similarity module) are sequential left
  folds on BOTH engines, so even unrounded doubles are bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # headline query: included in bench.py
    # bench measures this query to a parquet sink instead of a driver
    # collect: set for queries whose output is a distributed intermediate
    # (e.g. pair-emitting dedup — millions of rows that no real pipeline
    # ever collects; at 10x they exceed spark.driver.maxResultSize)
    bench_sink: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    bench_sink: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Register a query. ``oracle=None`` → rows-only correctness check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags,
            bench=bench, bench_sink=bench_sink,
        )
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


def bench_queries() -> dict[str, QuerySpec]:
    _load_all()
    return {name: spec for name, spec in REGISTRY.items() if spec.bench}


_LOADED = False


def _last_verified_round() -> dict[str, int]:
    """Per-query latest driver-checked round, read from the CORRECTNESS_r*.json
    artifacts at the repo root.  Queries absent from every artifact have
    never been driver-witnessed and must lead the gate."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name in data:
            last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _load_all() -> None:
    """Import every query module exactly once (registration side effects),
    then reorder the registry to the gate order (the driver iterates the
    registry dict and checks a slice per round): least-recently-driver-
    verified first (never-checked queries lead), ties in registration
    order — a new or stale query floats forward on its own."""
    global _LOADED
    if _LOADED:
        return
    from map_reduce485_spark.queries import (  # noqa: F401
        text_analysis,
        multimodal,
        events_batch,
        advanced,
        udf_surface,
        tpch_extra,
        tpch_full,
        bucketed,
        source_formats,
        relational,
        windows,
        functions_surface,
        dedup,
        similarity,
        sketches,
        graph,
    )

    last = _last_verified_round()
    reg_index = {name: i for i, name in enumerate(REGISTRY)}
    ordered = sorted(REGISTRY, key=lambda n: (last.get(n, -1), reg_index[n]))
    specs = {name: REGISTRY[name] for name in ordered}
    REGISTRY.clear()
    REGISTRY.update(specs)

    _LOADED = True
