"""Query registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2.B registers here with a name, a
``(spark, sf_dir) -> DataFrame`` callable, and (for H-tier ops) the
equivalent DuckDB oracle SQL. ``__spark_entry__.py`` is a thin re-export
of this registry.

Certification window. The external driver certifies the first 50
entries of ``all_queries()`` each round, so the order is derived from
the code. A query's fingerprint (``_fingerprint``) is a sha256 over the
source of its module plus every package module that module imports,
directly or indirectly, imports inside functions included;
``from pkg.sub import name`` counts ``pkg.sub.name`` when that is a
module and ``pkg.sub`` otherwise. ``CERTIFIED.json`` holds each query's
``{round, fingerprint}`` at its last driver certificate, written by
``tools/stamp_certified.py`` after a round. Queries whose fingerprint
differs from their stamp, or that have none, come first, so each
re-earns its certificate; then the least recently certified; then
registration order. A one-file edit can stale more than 50 queries
(``session.py`` and ``catalog.py`` reach all of them); the window then
drains over several rounds in that order.

Outside every fingerprint: this module (every operator module imports
``query`` from it), package ``__init__``s reached only by name
(``from pkg import mod`` hashes ``mod``, not ``pkg/__init__.py``), and
modules only those reach (``zipguard.py``). An edit there puts no query
in the window.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => Tier R (rows-only check)
    tier: str  # "H" or "R"
    survey_id: str  # e.g. "B-20"


def query(
    name: str, *, oracle: str | None = None, survey_id: str = "", tier: str | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a query. Tier defaults to H when oracle SQL is given."""

    def deco(fn: QueryFn) -> QueryFn:
        t = tier or ("H" if oracle is not None else "R")
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        # Cache hygiene (VERDICT r08 #4): several ops persist() bounded
        # intermediates that feed multiple subtrees; the DataFrames they
        # return are lazy, so the op itself can never unpersist (the
        # cache materializes during the DRIVER's collect). Clearing at
        # the NEXT query's entry bounds accumulation to one query's
        # caches across a 320-query driver session. Only the registry
        # boundary is wrapped — intra-op composition (e.g.
        # embed_power_iteration calling embed_covariance_matrix
        # directly) bypasses the wrapper and keeps its shared caches.
        #
        # CONTRACT (ADVICE r09 #4): construct-then-collect-IMMEDIATELY.
        # clearCache() here is session-global, so a caller that builds
        # DataFrames from two registry queries before collecting the
        # first loses the first query's persist()s — never wrong (all
        # ops are deterministic; Spark recomputes), but a perf cliff.
        # The driver protocol (one query at a time, toPandas before the
        # next call) satisfies this by construction; interleaving
        # callers should capture each result before invoking the next
        # registry entry.
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.catalog.clearCache()
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, oracle=oracle, tier=t, survey_id=survey_id
        )
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so registrations run."""
    import cloudtrail_streamer_spark.operators  # noqa: F401
    import cloudtrail_streamer_spark.streaming  # noqa: F401


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = __name__.split(".")[0]


def _source(module: str, root: str) -> str | None:
    """Path of ``module``'s source under ``root``, or None if it is no module."""
    base = os.path.join(root, *module.split("."))
    return next((p for p in (base + ".py", base + "/__init__.py") if os.path.isfile(p)), None)


@functools.cache
def _parse(module: str, root: str) -> tuple[bytes, frozenset[str]]:
    """Source of ``module`` and the package modules it imports anywhere in
    its body, function-level imports included; this module is left out."""
    with open(_source(module, root), "rb") as fh:
        src = fh.read()
    found, stack = set(), list(ast.parse(src).body)
    while stack:  # statements only: an import is never inside an expression
        node = stack.pop()
        for field in ("body", "orelse", "finalbody", "handlers", "cases"):
            stack.extend(getattr(node, field, ()))
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == _PKG:
            sub = (f"{node.module}.{a.name}" for a in node.names)
            found.update(m if _source(m, root) else node.module for m in sub)
    return src, frozenset(m for m in found if m.split(".")[0] == _PKG and m != __name__)


@functools.cache
def _fingerprint(module: str, root: str = _ROOT) -> str:
    """sha256 over the source of ``module`` and of every package module it
    imports, directly or indirectly."""
    seen, todo = set(), [module]
    while todo:
        if (m := todo.pop()) not in seen:
            seen.add(m)
            todo.extend(_parse(m, root)[1])
    blob = b"".join(m.encode() + b"\0" + _parse(m, root)[0] for m in sorted(seen))
    return hashlib.sha256(blob).hexdigest()


@functools.cache
def _stamps(root: str = _ROOT) -> dict[str, dict]:
    """``CERTIFIED.json``: each query's ``{round, fingerprint}`` at its last
    driver certificate."""
    with open(os.path.join(root, "CERTIFIED.json")) as fh:
        return json.load(fh)


def _ordered() -> list["QuerySpec"]:
    """Stale first (fingerprint differs from its stamp, or no stamp), then
    the least recently certified; ``sorted`` is stable, so ties keep
    registration order."""
    stamps = _stamps()

    def key(s: QuerySpec) -> tuple[bool, int]:
        stamp = stamps.get(s.name, {})
        return stamp.get("fingerprint") == _fingerprint(s.fn.__module__), stamp.get("round", 0)

    return sorted(_REGISTRY.values(), key=key)


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {s.name: s.fn for s in _ordered()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {s.name: s.oracle for s in _ordered() if s.oracle is not None}


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return {s.name: s for s in _ordered()}


def get_spec(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]
