"""Query/oracle registry.

Every implemented operator from SURVEY.md §2 registers one named query
(a ``(spark, sf_dir) -> DataFrame`` callable) and, when the semantics
are ANSI-SQL-expressible, a DuckDB oracle SQL string over the driver's
pre-registered views (region nation customer supplier part orders
lineitem events documents embeddings). The driver compares the two at
sf0.01 by row count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- double-typed outputs are rounded explicitly on both sides (ULP-level
  summation-order drift would otherwise break the value hash);
- top-k / limit queries carry a total tie-break order on both sides.

Queries with ``oracle=None`` get the driver's weaker rows-only check;
those carry pytest property tests instead (SURVEY.md §5).
"""

from __future__ import annotations

import ast
import glob
import hashlib
import importlib
import inspect
import json
import os
import re
import sys
import textwrap
import types
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The events fixture is TIMESTAMP(NANOS) parquet. Spark surfaces it via
# nanosAsLong and we truncate to microseconds (sources/catalog.py), but
# DuckDB's view keeps full nanosecond precision — so any oracle that
# orders, compares, or buckets on events.ts could diverge when two
# events share a microsecond but not a nanosecond. Shadow the driver's
# pre-registered `events` view with a microsecond-truncated CTE so both
# engines compare identical precision (DuckDB requires the schema-
# qualified `main.events` inside the CTE to reach the shadowed view).
_EVENTS_US_CTE = (
    "events AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts)"
    " FROM main.events)"
)


def _normalize_events_oracle(sql: str | None) -> str | None:
    if sql is None or not re.search(r"\bevents\b", sql):
        return sql
    if re.match(r"\s*WITH\b", sql, re.IGNORECASE):
        # RECURSIVE must stay glued to WITH (it flags the whole CTE
        # list), so the shadow CTE slots in after it.
        return re.sub(
            r"(?i)\bWITH(\s+RECURSIVE)?\b",
            lambda m: f"WITH{m.group(1) or ''} {_EVENTS_US_CTE},",
            sql,
            count=1,
        )
    return f"WITH {_EVENTS_US_CTE}\n{sql}"


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)  # SURVEY §2 ids, e.g. ("B1",)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn`` as query ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        prev = REGISTRY.get(name)
        # Same-source re-registration (importlib.reload of an operator
        # module, e.g. by a harness) replaces; two different functions
        # claiming one name is a programming error.
        if prev is not None and (
            prev.fn.__module__,
            prev.fn.__qualname__,
        ) != (fn.__module__, fn.__qualname__):
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=_normalize_events_oracle(oracle),
            tags=tuple(tags),
        )
        return fn

    return deco


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class DriverRow(NamedTuple):
    """The most recent driver CORRECTNESS row for one query."""

    ok: bool  # green (oracle match, or rows-only run that produced rows)
    rnd: int  # round number the row came from (CORRECTNESS_r{rnd}.json)
    rows_only: bool  # that row was a rows-only (err == "no_oracle") check


def _round_of(path: str) -> int:
    m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
    return int(m.group(1)) if m else 0


def _driver_status() -> dict[str, DriverRow]:
    """Latest driver CORRECTNESS verdict per query name across all past
    rounds. The driver caps its per-round check at the first 50 entries
    of ``queries()``, so ``load_all`` uses this (plus the fingerprint
    sidecar) to rotate the verification window — see _window_order."""
    status: dict[str, DriverRow] = {}
    # Sort by parsed round number, not lexically: zero-padded two-digit
    # names invert at r100 ("r100" < "r99" lexically), which would let
    # stale rows silently win the later-round-wins fold.
    for path in sorted(
        glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")), key=_round_of
    ):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue  # unreadable round file: skip, worst case re-verify
        if not isinstance(rows, dict):
            continue  # unexpected shape: skip, worst case re-verify
        rnd = _round_of(path)
        for name, row in rows.items():
            if not isinstance(row, dict):
                # unknown shape: treat as seen-green so it rotates normally
                status[name] = DriverRow(True, rnd, False)
                continue
            err = row.get("err")
            if err == "no_oracle":  # rows-only check: ran to completion
                ok = row.get("spark_rows") is not None
                rows_only = True
            elif err:
                ok, rows_only = False, False
            else:
                ok = all(
                    row.get(m) is not False
                    for m in ("rows_match", "schema_match", "hash_match")
                )
                rows_only = False
            status[name] = DriverRow(ok, rnd, rows_only)
    return status


_FP_PATH = os.path.join(_ROOT, ".fingerprints.json")


#: Fingerprint schema version, stamped on every sidecar entry. An entry
#: recorded under another version is re-stamped like a changed one.
_FP_VERSION = 4


def _stmts(node: ast.AST):
    """``node`` and every statement nested in it, without walking into
    expressions (docstrings and imports are statements)."""
    yield node
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.stmt, ast.excepthandler, ast.match_case)):
            yield from _stmts(child)


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _strip_docstrings(tree: ast.AST) -> ast.AST:
    for node in _stmts(tree):
        if (
            isinstance(node, (ast.Module, *_DEFS))
            and ast.get_docstring(node, False) is not None
        ):
            node.body = node.body[1:]
    return tree


def _bound_names(stmt: ast.stmt) -> set[str]:
    """Module-level names a top-level statement binds: assignment
    targets (tuples included), def/class names and import aliases."""
    if isinstance(stmt, _DEFS):
        return {stmt.name}
    out: set[str] = set()
    for n in ast.walk(stmt):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update((a.asname or a.name).split(".")[0] for a in n.names)
    return out


def _pkg_import(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.ImportFrom)
        and node.level == 0
        and (node.module or "").startswith("mr_py_spark")
    )


def _pkg_module(obj) -> bool:
    return isinstance(obj, types.ModuleType) and obj.__name__.startswith("mr_py_spark")


def _fn_node(f, memo: dict) -> tuple[str, list]:
    """(rendering, dependencies) of one function: the ``ast.dump`` of
    its dedented, docstring-stripped source, so comments, docstrings
    and line numbers never reach the hash; unparseable source renders
    as its raw text and a sourceless function as its qualified name.
    Dependencies are module-level names, resolved by ``_const_node``:
    every name in its (nested) code's co_names or its argument defaults
    that is a global of its module, every co_names entry that is an
    attribute of an mr_py_spark module bound as such a global, plus
    every name bound by a function-local ``from mr_py_spark... import``
    (the streaming module imports almost everything that way).
    Attribute names in co_names that collide with an unrelated module
    global only ADD material: a spurious re-verification at worst,
    never a missed one."""
    try:
        src = inspect.getsource(f)
    except (OSError, TypeError):  # no source file (REPL-defined etc.)
        src = f"{f.__module__}.{f.__qualname__}"
    try:
        tree = _strip_docstrings(ast.parse(textwrap.dedent(src)))
    except SyntaxError:
        tree = ast.Module(body=[], type_ignores=[])
    mod = inspect.getmodule(f)
    g = getattr(mod, "__dict__", None) or {}
    names: set[str] = set()
    codes = [f.__code__] if hasattr(f, "__code__") else []
    while codes:
        c = codes.pop()
        names.update(c.co_names)
        codes.extend(k for k in c.co_consts if isinstance(k, types.CodeType))
    if tree.body and isinstance(tree.body[0], (ast.FunctionDef, ast.AsyncFunctionDef)):
        # argument defaults are evaluated by the defining module, so
        # their names are missing from the function's own co_names
        args = tree.body[0].args
        for d in args.defaults + [d for d in args.kw_defaults if d is not None]:
            names.update(n.id for n in ast.walk(d) if isinstance(n, ast.Name))
    deps = [(mod.__name__, n) for n in sorted(names) if n in g]
    # ``mr_compat.mapreduce(...)``: an attribute call through a package
    # module global puts the module and the attribute in co_names
    for m in {g[n] for n in names if _pkg_module(g.get(n))}:
        deps += [(m.__name__, a) for a in sorted(names) if a in vars(m)]
    deps += [
        (node.module, a.name)
        for node in _stmts(tree)
        if _pkg_import(node)
        for a in node.names
        if a.name != "*"
    ]
    return (ast.dump(tree) if tree.body else src), deps


def _const_node(key: tuple[str, str], memo: dict) -> tuple[str, list]:
    """(rendering, dependencies) of a module-level name. An mr_py_spark
    function is followed as a function (``_fn_node``). A data name of
    an mr_py_spark module renders as the ``ast.dump`` of every
    top-level statement binding it, so the hash sees the code that
    computes the value (``_BLOCK_ROWS = 1500``), never the value a
    process or environment gave it. A ``from
    mr_py_spark... import`` binding resolves to the defining module,
    and names read inside a binding statement are followed too, so
    ``_X = _Y * 2`` re-stamps when ``_Y`` changes."""
    mod_name, name = key
    try:
        mod = importlib.import_module(mod_name)
    except Exception:
        return "", []  # never let a broken import poison fingerprinting
    g = vars(mod)
    obj = g.get(name)
    if inspect.isfunction(obj) and (obj.__module__ or "").startswith("mr_py_spark"):
        return "", [obj]
    if not mod_name.startswith("mr_py_spark"):
        return "", []
    if mod_name not in memo:  # name -> the module's top-level bindings
        idx: dict[str, list[ast.stmt]] = {}
        try:
            tree = _strip_docstrings(ast.parse(inspect.getsource(mod)))
        except (OSError, TypeError, SyntaxError):
            tree = ast.Module(body=[], type_ignores=[])
        for stmt in tree.body:
            for n in _bound_names(stmt):
                idx.setdefault(n, []).append(stmt)
        memo[mod_name] = idx
    parts, deps = [], []
    for stmt in memo[mod_name].get(name, ()):
        if _pkg_import(stmt):
            deps += [
                (stmt.module, a.name)
                for a in stmt.names
                if (a.asname or a.name) == name
            ]
        else:
            parts.append(ast.dump(stmt))
            deps += [
                (mod_name, n.id)
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and n.id in g
            ]
    return "\n".join(parts), deps


def _dep_closure(fn, memo: dict) -> tuple[dict[str, str], dict[str, str]]:
    """(functions, data names), each a map from qualified name to
    rendering, for ``fn`` and everything in mr_py_spark transitively
    reachable from it (see ``_fn_node`` and ``_const_node``). Folding
    helper sources in means a behaviour-changing edit to a SHARED
    helper re-stamps every query that uses it; folding data names in
    catches a module-level knob (_TAU, _BLOCK_ROWS, _RUNTIME_CONFS) that
    changes behaviour without touching any function. ``memo`` caches
    renderings across the queries of one pass."""
    funcs: dict[str, str] = {}
    consts: dict[str, str] = {}
    stack: list = [fn]
    while stack:
        item = stack.pop()
        is_const = isinstance(item, tuple)
        out = consts if is_const else funcs
        key = ".".join(item) if is_const else f"{item.__module__}.{item.__qualname__}"
        if key in out:
            continue
        if item not in memo:
            memo[item] = (_const_node if is_const else _fn_node)(item, memo)
        out[key], deps = memo[item]
        stack.extend(deps)
    return funcs, consts


def _fingerprint(q: Query, memo: dict) -> str:
    """Content hash of a query's implementation (its own code plus the
    code and data definitions of everything it reaches, see
    ``_dep_closure``) and oracle. It reads only the checkout's text, so
    docstring, comment, line-number, checkout-path and environment
    changes leave it unchanged. A green driver row only proves the code
    that existed when the row was recorded; a fingerprint change after
    that round means the query is unproven again and must re-enter the
    verification window."""
    h = hashlib.sha256()
    for part in _dep_closure(q.fn, memo):
        for k in sorted(part):
            h.update(f"{k}\x00{part[k]}\x00".encode())
        h.update(b"\x01")
    h.update((q.oracle or "").encode())
    return h.hexdigest()[:16]


def _read_sidecar() -> dict | None:
    """The sidecar's entries; None when it is missing or unreadable."""
    try:
        with open(_FP_PATH) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return None
    return data if isinstance(data, dict) else {}


def _in_pytest() -> bool:
    """True in a pytest process, collection included: test modules call
    ``load_all()`` at import, before pytest sets ``PYTEST_CURRENT_TEST``."""
    return "PYTEST_CURRENT_TEST" in os.environ or "pytest" in sys.modules


def _fingerprint_rounds(registry: dict[str, Query]) -> dict[str, int]:
    """Per query, the round at which its CURRENT (fn source, oracle)
    fingerprint first appeared, per the ``.fingerprints.json`` sidecar.
    New/changed fingerprints are stamped with the upcoming round (max
    recorded CORRECTNESS round + 1), so a query edited after its last
    green row sorts as never-verified. Bootstrap (no sidecar yet) trusts
    prior history: everything stamps at round 0. The sidecar is
    re-written only when something changed (atomic tmp+rename); write
    failures degrade to in-memory behavior."""
    sidecar = _read_sidecar()
    bootstrap = sidecar is None
    sidecar = sidecar or {}
    rounds = [_round_of(p) for p in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))]
    upcoming = max(rounds, default=0) + 1
    out: dict[str, int] = {}
    dirty: dict[str, dict] = {}
    memo: dict = {}
    for name, q in registry.items():
        fp = _fingerprint(q, memo)
        prev = sidecar.get(name)
        if isinstance(prev, dict) and (prev.get("fp"), prev.get("v")) == (
            fp,
            _FP_VERSION,
        ):
            out[name] = int(prev.get("round", 0))
        else:
            out[name] = 0 if bootstrap else upcoming
            dirty[name] = {"fp": fp, "round": out[name], "v": _FP_VERSION}
    if dirty and not _in_pytest():
        # Never WRITE the sidecar from a pytest process: tests replace
        # module functions (the crash harness wraps
        # streaming.maintenance_step), and a sync that runs while one is
        # patched hashes the wrapper's closure, not the checkout's.
        # Direction is benign (spurious re-verification) but it would
        # dirty the tree on every `pytest tests/` and churn the driver
        # window. In-memory ordering still sees the dirty stamps, so
        # tests observe correct behavior; only the PERSISTED state is
        # gated to non-test processes (driver, bench, CLI).
        #
        # Merge into a FRESH read of the sidecar so a process holding
        # stale imports (e.g. a driver run spanning a source edit, where
        # getsource slices the new file at old line offsets) can only
        # touch the entries it thinks changed — never clobber the rest.
        # Rounds are only ever raised (post-bootstrap), so the worst
        # stale outcome is a spurious re-verification, not a missed one.
        try:
            current = _read_sidecar() or {}
            current.update(dirty)
            tmp = _FP_PATH + ".tmp"
            with open(tmp, "w") as f:
                json.dump(current, f, indent=1, sort_keys=True)
            os.replace(tmp, _FP_PATH)
        except OSError:
            pass  # read-only checkout: ordering still correct this process
    return out


# Bench headliners + the judge-flagged flagship surface: until each has
# a driver CORRECTNESS row, these outrank other unverified queries for
# the driver's 50-entry verification window.
FLAGSHIPS = (
    "q1_pricing_summary",
    "wordcount",
    "topk_window",
    "distinct_agg",
    "knn_selfjoin",
    "knn_cosine_topk",
    "tfidf_top_terms",
    "rollup_agg",
    "grouped_agg_udf",
)


def _window_order(registry: dict[str, Query]) -> dict[str, Query]:
    """Stable-reorder so the driver's 50-entry verification window never
    stagnates: (0) queries whose latest driver row failed or errored —
    fixes must be re-proven, (1) unproven oracle queries — never
    driver-verified, oracle-upgraded since their last (rows-only) green
    row, or edited since their last green row (fingerprint sidecar) —
    flagships first, (2) unproven rows-only queries, (3) green-verified
    queries rotated by least-recently-verified round (flagships first:
    the bench headliners re-prove every round). Ties preserve original
    registration order (sorted() is stable)."""
    status = _driver_status()
    fp_round = _fingerprint_rounds(registry)
    latest_round = max((r.rnd for r in status.values()), default=0)

    def key(q: Query) -> tuple[int, int, int]:
        unproven = 1 if q.oracle is not None else 2
        row = status.get(q.name)
        if row is None:
            g, rot = unproven, 0
        elif not row.ok:
            g, rot = 0, 0
        elif row.rows_only and q.oracle is not None:
            g, rot = 1, 0  # oracle added after the green rows-only row
        elif fp_round.get(q.name, 0) > row.rnd:
            g, rot = unproven, 0  # edited after the green row
        else:
            g, rot = 3, row.rnd  # least-recently-verified first
        # Flagship priority only while the flagship is itself stale:
        # one that went green in the LATEST recorded round would
        # otherwise re-prove every round, permanently consuming window
        # slots the least-recently-verified tail needs to rotate
        # through (r5 measured 9 such slots). Fingerprint stamping
        # still catches flagship edits (category `unproven` above), so
        # nothing proven can silently rot — it just rotates on the
        # same LRV schedule as everything else once freshly verified.
        flagship_now = q.name in FLAGSHIPS and not (g == 3 and rot >= latest_round)
        if flagship_now and g == 3:
            # A STALE green flagship outranks the unproven tail, not
            # just its own category: a heavy batch of new/edited
            # queries (r9: 39 re-stamped entries) would otherwise push
            # the bench headliners past the 50-slot window and BENCH
            # numbers would ride unverified code. Flagship count is
            # bounded (len(FLAGSHIPS)), so this costs the tail at most
            # that many slots in the worst round.
            g = 1
        return (g, 0 if flagship_now else 1, rot)

    return {q.name: q for q in sorted(registry.values(), key=key)}


def verification_ledger(registry: dict[str, Query] | None = None) -> dict[str, dict]:
    """Per-query verification staleness report (VERDICT r9 item 5):
    for every registered query, its latest driver CORRECTNESS round,
    whether that row was green/red/rows-only, the round its current
    fingerprint was stamped (edits after the last green row reset the
    proof), and the derived state:

    - ``never``    — no driver row yet (or edited since the last one)
    - ``red``      — latest driver row failed
    - ``green``    — proven, ``staleness`` = rounds since that proof

    Run ``python -m mr_py_spark.registry`` to print it, oldest first.
    tests/test_registry.py asserts the staleness budget: once the
    never-verified debt is drained, no oracle-backed query's proof may
    be older than the full rotation cycle (ceil(n/50) + margin).
    """
    if registry is None:
        registry = load_all()
    status = _driver_status()
    fp_round = _fingerprint_rounds(registry)
    latest = max((r.rnd for r in status.values()), default=0)
    out: dict[str, dict] = {}
    for name, q in registry.items():
        row = status.get(name)
        if row is None or fp_round.get(name, 0) > row.rnd:
            state, staleness = "never", None
        elif not row.ok:
            state, staleness = "red", None
        else:
            state, staleness = "green", latest - row.rnd
        out[name] = {
            "state": state,
            "last_round": None if row is None else row.rnd,
            "rows_only": bool(row and row.rows_only),
            "oracle": q.oracle is not None,
            "staleness": staleness,
        }
    return out


def load_all() -> dict[str, Query]:
    """Import every operator module (side effect: registration) and return the registry."""
    # Imports are inside the function so `import mr_py_spark` stays cheap.
    from mr_py_spark.operators import (  # noqa: F401
        bpe,
        bucketed,
        cdc,
        corpus_prep,
        csv_source,
        dedup,
        events_windows,
        extras,
        filtering,
        graph,
        hier,
        joins,
        kmeans,
        multimodal,
        organize,
        pipeline,
        quality,
        scalar,
        similarity,
        skew,
        spatial,
        sql_surface,
        summarize,
        text,
        timeseries,
        tpch_like,
        tpch_more,
        tpch_partsupp,
        udf_surface,
        vectors,
        windows,
    )
    from mr_py_spark import streaming  # noqa: F401

    return _window_order(REGISTRY)


if __name__ == "__main__":
    # staleness report, oldest proof first (never/red at the top).
    # Under `python -m` this file runs as a SECOND module object with
    # its own empty REGISTRY; route through the canonical sys.modules
    # copy the operator modules registered into.
    from mr_py_spark.registry import verification_ledger as _canonical_ledger

    led = _canonical_ledger()
    order = {"red": 0, "never": 1, "green": 2}

    def _k(item):
        st = item[1]
        return (order[st["state"]], -(st["staleness"] or 0), item[0])

    for name, st in sorted(led.items(), key=_k):
        age = "-" if st["staleness"] is None else f"{st['staleness']}r old"
        kind = "oracle" if st["oracle"] else "rows-only"
        last = "-" if st["last_round"] is None else f"r{st['last_round']}"
        print(f"{st['state']:6s} {age:8s} {last:4s} {kind:9s} {name}")
