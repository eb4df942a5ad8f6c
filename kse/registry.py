"""Query registry — the single source of truth behind ``__spark_entry__.py``.

Every operator from SURVEY.md §2 registers here as a named pair:

- a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``, and
- (when SQL-expressible) the equivalent DuckDB oracle SQL, run by the driver
  side-by-side at sf0.01 with row-count + schema + value-hash comparison.

Column names of the Spark result and the oracle result MUST match exactly
(the driver sorts columns by name before hashing), so builders alias every
computed column and oracles use the same ``AS`` names.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from itertools import zip_longest

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver runs rows-only check
    doc: str = ""
    # Local-harness-only oracle for approximate operators: the driver's
    # hash-match would rightly fail on a sketch, so `oracle` stays None
    # (rows-only for the driver), but tools/check.py runs `check_oracle`
    # in DuckDB and asserts every float column is within `check_rel_tol`
    # relative error — an explicit accuracy contract instead of rows>0.
    check_oracle: str | None = None
    check_rel_tol: float | None = None


_REGISTRY: dict[str, Query] = {}

# Prepared-plan cache, stored per-session: (sf_dir, query name) -> built
# DataFrame. A registered builder is a pure function of (spark, sf_dir)
# returning a lazy plan, so re-invoking it re-pays the py4j plan-
# construction cost (~30-140 ms/query, measured) for an identical plan.
# Memoizing the built DataFrame is the prepared-statement path: execution
# (and Catalyst's per-action re-optimization under AQE) is untouched, only
# the Python-side plan build is skipped on repeat invocations. Hanging the
# dict off the session object (not a module global) ties each cached plan
# to exactly the session/SQLConf it was built under and lets GC reclaim it
# with the session.


def _plan_cache(spark: SparkSession) -> dict[tuple[str, str], DataFrame]:
    cache = getattr(spark, "_kse_plan_cache", None)
    if cache is None:
        cache = {}
        spark._kse_plan_cache = cache
    return cache


def invalidate_plans(sf_dir: str | None = None, spark: SparkSession | None = None) -> None:
    """Drop cached plans for ``sf_dir`` (all of them when None) from the
    given session's cache, defaulting to the active session; layout changes
    call this so the next build re-resolves against the new files."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return
    cache = _plan_cache(spark)
    for key in [k for k in cache if sf_dir is None or k[0] == sf_dir]:
        del cache[key]
    # Session-attached auxiliary memos (checkpointed derived datasets, e.g.
    # the graph family's edge table) are keyed by sf_dir alone and must not
    # outlive a layout change either.
    aux = getattr(spark, "_kse_edge_cache", None)
    if aux:
        for key in [k for k in aux if sf_dir is None or k == sf_dir]:
            del aux[key]


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    check_oracle: str | None = None,
    check_rel_tol: float | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as query ``name`` with its oracle SQL."""

    def _wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def cached_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            cache = _plan_cache(spark)
            key = (sf_dir, name)
            df = cache.get(key)
            if df is None:
                df = fn(spark, sf_dir)
                cache[key] = df
            return df

        cached_fn.__name__ = fn.__name__
        cached_fn.__doc__ = fn.__doc__
        _REGISTRY[name] = Query(
            name=name,
            fn=cached_fn,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            check_oracle=check_oracle,
            check_rel_tol=check_rel_tol,
        )
        return fn

    return _wrap


def _category(name: str) -> str:
    """Category key for ordering: the SURVEY §2 family a query belongs to
    (q_join_*, q_win_*, q_llm_*, ... -> 'join', 'win', 'llm')."""
    parts = name.split("_")
    return parts[1] if parts[0] in ("q", "src") and len(parts) > 1 else parts[0]


# Names the driver must re-prove before anything else: it hash-checks a
# fixed-size prefix of queries() (50 names) against DuckDB each round, so
# these lead the order. Rule: a new or changed (plan, oracle) pair goes
# here; a name leaves once a CORRECTNESS_r*.json row shows it green on its
# current pair.
REVERIFY: tuple[str, ...] = ()


def _round_robin(names: list[str]) -> list[str]:
    """One name per category in turn, so any prefix covers every SURVEY §2
    family; category and within-category order follow registration."""
    groups: dict[str, list[str]] = {}
    for name in names:
        groups.setdefault(_category(name), []).append(name)
    ordered: list[str] = []
    for batch in zip_longest(*groups.values()):
        ordered.extend(n for n in batch if n is not None)
    return ordered


def _ordered_names() -> list[str]:
    """Registry names in driver order: REVERIFY first, then the rest, each
    block in category round-robin."""
    reverify = set(REVERIFY)
    return _round_robin([n for n in _REGISTRY if n in reverify]) + _round_robin(
        [n for n in _REGISTRY if n not in reverify]
    )


def all_queries() -> dict[str, Query]:
    _ensure_loaded()
    return {name: _REGISTRY[name] for name in _ordered_names()}


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: _REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: _REGISTRY[name].oracle
        for name in _ordered_names()
        if _REGISTRY[name].oracle is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every query module exactly once (imports run the decorators)."""
    global _LOADED
    if _LOADED:
        return
    from kse.queries import extras, functions, graphs, llm, relational, tpch, udfs, windows  # noqa: F401

    _LOADED = True
