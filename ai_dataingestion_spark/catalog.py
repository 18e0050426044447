"""Operator catalog: the registry behind ``__spark_entry__.queries()``.

Every operator from SURVEY.md §2 registers itself here as a QuerySpec:
a name (the literal §2 ID), a callable ``(spark, sf_dir) -> DataFrame``, and —
for oracle-verified operators — the equivalent DuckDB SQL. The driver runs
both sides at sf0.01 and hash-compares (row count + schema + order-insensitive
value hash), so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded to a fixed number of decimals on both sides
  (double summation order differs between engines — SURVEY.md §5.4);
- rankings/top-k always carry a unique tie-break key.
"""

from __future__ import annotations

import dis
import functools
import hashlib
import inspect
import json
import linecache
import sys
import types
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ai_dataingestion_spark.registry import register_views

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame operator query."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate operator id: {name}")

        def invoke(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release the previous operator's tracked caches: harness loops
            # run operators in sequence, so its result is consumed by now
            # (opcache.py).
            from ai_dataingestion_spark.opcache import release_op_caches

            release_op_caches()
            try:
                return fn(spark, sf_dir)
            except BaseException:
                # A raising operator returns no DataFrame, so its caches are
                # orphaned: release them now. abandoned=True keeps strict
                # mode from replacing the real exception with a
                # consumed-check failure.
                release_op_caches(abandoned=True)
                raise

        invoke.__name__ = fn.__name__
        invoke.__doc__ = fn.__doc__
        invoke.__wrapped__ = fn
        _REGISTRY[name] = QuerySpec(name, invoke, oracle, doc or (fn.__doc__ or ""))
        return fn

    return wrap


def sql_op(name: str, spark_sql: str | tuple[str, ...], oracle: str, doc: str):
    """Register an operator that is pure Spark SQL over the corpus views.
    A tuple of statements runs in order; the last one's result is returned."""
    stmts = (spark_sql,) if isinstance(spark_sql, str) else tuple(spark_sql)

    def _fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        for stmt in stmts[:-1]:
            spark.sql(stmt)
        return spark.sql(stmts[-1])

    _fn.__name__ = name
    _fn.__doc__ = doc
    return register(name, oracle=oracle, doc=doc)(_fn)


# ---------------------------------------------------------------------------
# Driver rotation. The driver hash-checks only the FIRST 50 entries of
# queries() per round, so the order of all_specs() decides which operators
# earn fresh evidence. Ranks, front of the window first:
#   0  no green driver row yet, oracle-backed
#   1  green, oracle-backed, and its code fingerprint differs from the one
#      recorded when that green row was folded in
#   2  no green driver row yet, rows-only
#   4  the rest
# Within a rank, oracle-backed comes before rows-only (a rows-only check buys
# the least evidence), then the oldest latest-green round, so an operator
# that has waited longest for fresh evidence is not pushed out of the window
# by newer edits; registration order breaks the remaining ties.
# ---------------------------------------------------------------------------

_PKG = __name__.partition(".")[0]
_REBIND_OPS = frozenset({dis.opmap["STORE_GLOBAL"], dis.opmap["DELETE_GLOBAL"]})
_RECERT_PATH = Path(__file__).resolve().parent / "recert_order.json"


def _recert_table() -> tuple[dict[str, int], dict[str, str]]:
    """(ID -> latest green CORRECTNESS round, ID -> fingerprint recorded for
    it) from ``recert_order.json``, which ``scripts/rotation_plan.py
    --write`` generates from the repo-root CORRECTNESS_r*.json files (the
    package never reads repo-root files at run time). A missing or
    unreadable table ranks every operator as never checked."""
    try:
        data = json.loads(_RECERT_PATH.read_text())
        latest = {str(k): int(v) for k, v in data["latest_green_round"].items()}
        certified = {str(k): str(v) for k, v in data["certified_fingerprint"].items()}
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return {}, {}
    return latest, certified


def _const_text(v) -> str | None:
    """Stable text of a str/number constant or of a tuple/frozenset of them
    (frozenset members sorted, so it does not depend on the hash seed); None
    for anything else. Mutable containers are left out: module-level dicts
    and lists include run-time caches, which are not code."""
    if isinstance(v, (str, int, float)):
        return repr(v)
    if not isinstance(v, (tuple, frozenset)):
        return None
    parts = [_const_text(x) for x in v]
    if None in parts:
        return None
    return "(" + ",".join(sorted(parts) if isinstance(v, frozenset) else parts) + ")"


@functools.cache
def _code_digest(code: types.CodeType) -> tuple[str, tuple[str, ...], frozenset[str]]:
    """(source text of the code, every name it and its nested functions look
    up, the globals they rebind with a ``global`` statement). The text spans
    the first line (decorators included) to the last line any instruction
    covers."""
    names: set[str] = set()
    rebound: set[str] = set()
    last = code.co_firstlineno
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        if not _REBIND_OPS.isdisjoint(c.co_code[::2]):  # opcodes sit at even offsets
            rebound.update(
                i.argval for i in dis.get_instructions(c) if i.opcode in _REBIND_OPS
            )
        last = max([last, *(end for _, end, _, _ in c.co_positions() if end)])
        stack.extend(k for k in c.co_consts if isinstance(k, types.CodeType))
    lines = linecache.getlines(code.co_filename)[code.co_firstlineno - 1 : last]
    return "".join(lines), tuple(sorted(names)), frozenset(rebound)


def fingerprint(spec: QuerySpec) -> str:
    """Digest of what an operator's result depends on: its oracle SQL and
    the source of its function plus every package function, class and
    str/number constant reached by name from there, transitively (module
    globals, closure cells, function-local imports). Globals that a reached
    function rebinds are run-time state, not code, and are left out, as are
    module names and dunder globals (a class body reads its module's
    ``__name__``), so moving unchanged code to another module keeps the
    digest."""
    items = [("oracle", spec.oracle or "")]
    seen: set[int] = set()
    state: set[str] = set()
    todo: list[tuple[str, object]] = [("fn", inspect.unwrap(spec.fn))]
    while todo:
        key, obj = todo.pop()
        ours = str(getattr(obj, "__module__", "")).startswith(_PKG)
        if not (ours and isinstance(obj, (types.FunctionType, type))):
            text = _const_text(obj)
            if text is not None:
                items.append((key, text))
            continue
        if id(obj) in seen:
            continue
        seen.add(id(obj))
        if isinstance(obj, type):
            for n, v in vars(obj).items():
                if isinstance(v, property):
                    v = v.fget
                elif isinstance(v, (staticmethod, classmethod)):
                    v = v.__func__
                if not n.startswith("__"):
                    todo.append((f"{obj.__qualname__}.{n}", v))
            continue
        key = obj.__qualname__
        src, names, rebound = _code_digest(obj.__code__)
        items.append((key, src))
        state |= rebound
        for var, cell in zip(obj.__code__.co_freevars, obj.__closure__ or ()):
            todo.append((f"{key}.{var}", cell.cell_contents))
        # module globals, then package modules reached by name (module
        # imports and function-local `from ... import`), each scope once: a
        # function importing from its own module must not count a constant
        # twice, or moving it next to the names it imports moves its digest
        scopes = [obj.__globals__]
        for n in names:
            if n.startswith(_PKG) and n in sys.modules:
                scope = vars(sys.modules[n])
                if not any(scope is s for s in scopes):
                    scopes.append(scope)
        for scope in scopes:
            for n in names:
                if n.startswith("__") and n.endswith("__"):
                    continue
                v = scope.get(n)
                if not isinstance(v, types.ModuleType):
                    todo.append((n, v))
                elif v.__name__.startswith(_PKG) and not any(vars(v) is s for s in scopes):
                    scopes.append(vars(v))
    digest = hashlib.blake2b(digest_size=8)
    for key, text in sorted(i for i in items if i[0] not in state):
        digest.update(f"{key}\0{text}\0".encode())
    return digest.hexdigest()


_current_fingerprint = functools.cache(fingerprint)  # once per process


def _rotation_rank(
    spec: QuerySpec,
    latest: dict[str, int],
    certified: dict[str, str],
    fingerprint_of: Callable[[QuerySpec], str] = _current_fingerprint,
) -> int:
    if spec.name not in latest:
        return 0 if spec.oracle is not None else 2
    if spec.oracle is not None and certified.get(spec.name) != fingerprint_of(spec):
        return 1
    return 4


def all_specs() -> dict[str, QuerySpec]:
    """All registered operators in driver-rotation order (imports the
    operator packages on demand)."""
    import ai_dataingestion_spark.operators  # noqa: F401  (self-registers)

    latest, certified = _recert_table()

    def key(t: tuple[int, QuerySpec]):
        idx, spec = t
        rank = _rotation_rank(spec, latest, certified)
        return (rank, spec.oracle is None, latest.get(spec.name, 0), idx)

    ordered = sorted(enumerate(_REGISTRY.values()), key=key)
    return {spec.name: spec for _, spec in ordered}


def queries() -> dict[str, QueryFn]:
    return {k: v.fn for k, v in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {k: v.oracle for k, v in all_specs().items() if v.oracle is not None}
