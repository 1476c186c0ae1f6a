"""Registry ordering + oracle-normalization contract.

The driver verifies only the first 50 entries of ``queries()`` per
round, so ``load_all`` must order: (0) queries whose LATEST driver
CORRECTNESS row failed or errored — fixes must be re-proven, (1)
unproven oracle-backed queries (never verified, oracle-upgraded since
their last rows-only green row, or edited since their last green row),
(2) unproven rows-only queries, (3) green-verified queries rotated by
least-recently-verified round so regressions in the tail are caught
within a few rounds instead of never (verdict r4 item 1).
"""

from __future__ import annotations

import json
import os
import re

import pytest

from mr_py_spark.registry import (
    FLAGSHIPS,
    DriverRow,
    _driver_status,
    _fingerprint_rounds,
    _normalize_events_oracle,
    load_all,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _group(q, status, fp_round) -> int:
    unproven = 1 if q.oracle is not None else 2
    row = status.get(q.name)
    if row is None:
        return unproven
    if not row.ok:
        return 0
    if row.rows_only and q.oracle is not None:
        return 1
    if fp_round.get(q.name, 0) > row.rnd:
        return unproven
    latest = max((r.rnd for r in status.values()), default=0)
    if q.name in FLAGSHIPS and row.rnd < latest:
        return 1  # stale flagship outranks the unproven tail (registry key)
    return 3


def test_window_groups_are_ordered():
    reg = load_all()
    status = _driver_status()
    fp_round = _fingerprint_rounds(reg)
    groups = [_group(q, status, fp_round) for q in reg.values()]
    assert groups == sorted(groups), groups


def test_green_tail_rotates_least_recently_verified_first():
    """Within the trusted-green tail (non-flagship), a query whose last
    driver row is older must sort before one verified more recently —
    this is what keeps the 50-entry window moving over all 130+
    queries instead of freezing on registration order."""
    reg = load_all()
    status = _driver_status()
    fp_round = _fingerprint_rounds(reg)
    tail_rounds = [
        status[q.name].rnd
        for q in reg.values()
        if _group(q, status, fp_round) == 3 and q.name not in FLAGSHIPS
    ]
    assert tail_rounds == sorted(tail_rounds), tail_rounds


def test_broken_queries_re_enter_window():
    """Any query whose latest driver row was red must land inside the
    driver's 50-entry verification window."""
    names = list(load_all())
    status = _driver_status()
    broken = [n for n in names if n in status and not status[n].ok]
    assert all(names.index(n) < 50 for n in broken), broken


def test_oracle_upgraded_queries_re_enter_window():
    """A query whose latest green driver row was rows-only but which now
    carries an oracle is unproven: the driver has never run its SQL
    side. It must sort into the window (verdict r4: stream_stateful_
    counts sat at position 134 and would never have been proven)."""
    reg = load_all()
    names = list(reg)
    status = _driver_status()
    upgraded = [
        n
        for n, q in reg.items()
        if q.oracle is not None
        and n in status
        and status[n].ok
        and status[n].rows_only
    ]
    assert all(names.index(n) < 50 for n in upgraded), upgraded


def test_edited_queries_re_enter_window(tmp_path, monkeypatch):
    """A fingerprint recorded after a query's last green round marks it
    unproven (the green row proved older code)."""
    import mr_py_spark.registry as regmod

    reg = load_all()
    status = _driver_status()
    # pick any trusted-green non-flagship query
    victim = next(
        n
        for n, q in reg.items()
        if n in status
        and status[n].ok
        and not (status[n].rows_only and q.oracle is not None)
        and n not in FLAGSHIPS
    )
    fp_round = _fingerprint_rounds(reg)
    forged = dict(fp_round, **{victim: status[victim].rnd + 1})
    monkeypatch.setattr(regmod, "_fingerprint_rounds", lambda _reg: forged)
    names = list(regmod._window_order(regmod.REGISTRY))
    assert names.index(victim) < 50, (victim, names.index(victim))


def test_fingerprint_sidecar_stable_across_loads():
    """Two consecutive loads with unchanged code must agree — the
    sidecar only moves when source or oracle text changes."""
    reg = load_all()
    assert _fingerprint_rounds(reg) == _fingerprint_rounds(reg)


def test_sidecar_never_written_from_pytest(monkeypatch):
    """A pytest process must NEVER persist fingerprint stamps: tests
    replace module functions (the crash harness wraps
    streaming.maintenance_step), and a sidecar sync running while one is
    patched hashes the wrapper's closure — poisoning entries with wrong
    fingerprints and dirtying the tree on every full test run. Force a dirty entry (a name the sidecar has never seen)
    through _fingerprint_rounds and assert the on-disk sidecar is
    byte-identical after — while the IN-MEMORY stamp still marks the
    new entry as upcoming (ordering behavior is ungated)."""
    import mr_py_spark.registry as regmod

    assert "PYTEST_CURRENT_TEST" in os.environ  # pytest sets it; the gate keys on it
    reg = dict(load_all())
    probe = "zz_sidecar_write_probe"
    reg[probe] = regmod.Query(name=probe, fn=load_all, oracle=None)
    before = open(regmod._FP_PATH, "rb").read()
    rounds = _fingerprint_rounds(reg)
    after = open(regmod._FP_PATH, "rb").read()
    assert before == after
    assert rounds[probe] > 0  # in-memory: stamped as upcoming, not persisted


_COLLECT_PROBE = """
import mr_py_spark.registry as regmod

regmod._FP_PATH = {side!r}
regmod.load_all()


def test_noop():
    pass
"""


def test_sidecar_never_written_during_collection(tmp_path):
    """Test modules call ``load_all()`` at import, i.e. while pytest
    collects and before it sets ``PYTEST_CURRENT_TEST``: the write gate
    must hold there too. A module that points the registry at a private
    sidecar with a dirty stamp (an empty record set, so every entry
    needs stamping) leaves it byte-identical under ``pytest
    --collect-only``, and the same module run as a plain script does
    rewrite it (the stamp really is dirty)."""
    import subprocess
    import sys

    side = tmp_path / ".fingerprints.json"
    probe = tmp_path / "test_collect_probe.py"
    probe.write_text(_COLLECT_PROBE.format(side=str(side)))
    env = {k: v for k, v in os.environ.items() if k != "PYTEST_CURRENT_TEST"}
    env["PYTHONPATH"] = ROOT
    for argv, rewritten in (
        ([sys.executable, "-m", "pytest", "--collect-only", "-q",
          "-p", "no:cacheprovider", str(probe)], False),
        ([sys.executable, str(probe)], True),
    ):
        side.write_text("{}")
        proc = subprocess.run(
            argv, cwd=tmp_path, env=env, capture_output=True, text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
        assert (side.read_text() != "{}") == rewritten, argv


def test_flagships_inside_driver_window_unless_fresh():
    """Bench headliners outrank other entries for the window whenever
    they are stale — but one verified green in the LATEST recorded
    round rotates on the normal LRV schedule instead of consuming a
    slot every round (slots the stale tail needs; see _window_order)."""
    names = list(load_all())
    window = set(names[:50])
    status = _driver_status()
    latest = max((r.rnd for r in status.values()), default=0)
    missing = [
        n
        for n in FLAGSHIPS
        if n not in window
        and not (
            (row := status.get(n)) is not None
            and row.ok
            and row.rnd >= latest
        )
    ]
    assert not missing, f"stale flagships outside driver window: {missing}"


def test_driver_status_reads_latest_round():
    """A query red in an early round but green in a later one counts
    green (and vice versa): later round files win; the recorded round
    number is the latest file's."""
    status = _driver_status()
    rounds = sorted(
        name
        for name in os.listdir(ROOT)
        if re.fullmatch(r"CORRECTNESS_r\d+\.json", name)
    )
    latest: dict[str, DriverRow] = {}
    for fname in rounds:
        rnd = int(re.search(r"r(\d+)", fname).group(1))
        with open(os.path.join(ROOT, fname)) as f:
            for qname, row in json.load(f).items():
                err = row.get("err")
                if err == "no_oracle":
                    ok, rows_only = row.get("spark_rows") is not None, True
                elif err:
                    ok, rows_only = False, False
                else:
                    ok = all(
                        row.get(m) is not False
                        for m in ("rows_match", "schema_match", "hash_match")
                    )
                    rows_only = False
                latest[qname] = DriverRow(ok, rnd, rows_only)
    assert status == latest


def test_driver_status_survives_list_shaped_round_file(tmp_path, monkeypatch):
    """A list-shaped CORRECTNESS file must be skipped, not crash
    load_all (ADVICE r4, registry.py)."""
    import mr_py_spark.registry as regmod

    bad = tmp_path / "CORRECTNESS_r99.json"
    bad.write_text(json.dumps([{"name": "x"}]))
    good = tmp_path / "CORRECTNESS_r01.json"
    good.write_text(json.dumps({"q": {"err": None, "rows_match": True,
                                      "schema_match": True, "hash_match": True}}))
    monkeypatch.setattr(regmod, "_ROOT", str(tmp_path))
    status = regmod._driver_status()
    assert status == {"q": DriverRow(True, 1, False)}


def test_events_oracles_truncated_to_micros():
    reg = load_all()
    for q in reg.values():
        if q.oracle and re.search(r"\bmain\.events\b|\bevents\b", q.oracle):
            assert "date_trunc('microseconds', ts)" in q.oracle, q.name


def test_normalize_merges_into_existing_with():
    sql = "WITH x AS (SELECT 1) SELECT * FROM events, x"
    out = _normalize_events_oracle(sql)
    assert out.count("WITH") == 1
    assert out.startswith("WITH events AS")
    assert "), x AS (SELECT 1)" in out.replace("\n", " ") or "x AS (SELECT 1)" in out


def test_normalize_leaves_non_events_alone():
    assert _normalize_events_oracle("SELECT 1 FROM lineitem") == "SELECT 1 FROM lineitem"
    assert _normalize_events_oracle(None) is None


def test_verification_ledger_shape_and_staleness_budget():
    """VERDICT r9 item 5: the staleness budget. With n queries and a
    50-slot driver window, a full re-verification cycle is
    ceil(n/50) rounds; allow +2 rounds of margin for inflow (new and
    edited queries outrank the rotating tail). No green proof may be
    older than that — if this fires, the window ordering has stalled
    or the query count has outgrown the rotation (time to prune or
    shard the registry)."""
    import math

    from mr_py_spark.registry import verification_ledger

    reg = load_all()
    led = verification_ledger(reg)
    assert set(led) == set(reg)
    budget = math.ceil(len(reg) / 50) + 2
    over = {
        n: st["staleness"]
        for n, st in led.items()
        if st["state"] == "green" and st["staleness"] > budget
    }
    assert not over, f"stale proofs past the {budget}-round budget: {over}"
    # reds and never-verified must be inside the upcoming driver window
    # (they ARE the debt the rotation exists to drain)
    names = list(reg)
    debt = [n for n, st in led.items() if st["state"] in ("red", "never")]
    if len(debt) <= 50:
        outside = [n for n in debt if names.index(n) >= 50]
        assert not outside, f"unproven queries outside the window: {outside}"


# Fingerprints of one checkout, computed in a fresh interpreter whose
# cwd is the checkout: {query: [fingerprint, sorted closure keys]}.
# PYTEST_CURRENT_TEST keeps the run from writing a sidecar.
_FP_SCRIPT = """
import json, os, sys
from mr_py_spark import registry
assert registry.__file__.startswith(os.getcwd()), registry.__file__
memo = {}
out = {}
for name, q in registry.load_all().items():
    funcs, consts = registry._dep_closure(q.fn, memo)
    out[name] = [registry._fingerprint(q, memo), sorted({**funcs, **consts})]
json.dump(out, sys.stdout)
"""

_FP_ENV_KNOBS = (
    "TMPDIR",
    "SPARK_GRAFT_BUCKETS",
    "SPARK_GRAFT_IVF_TABLES",
    "SPARK_GRAFT_WAREHOUSE",
)

# variant -> (file under mr_py_spark/, old text, new text): one
# behaviour-changing source edit each.
_FP_EDITS = {
    "tau": ("operators/kmeans.py", "_TAU = 0.35\n", "_TAU = 0.36\n"),
    "confs": (
        "session.py",
        '"spark.sql.adaptive.enabled": "true",',
        '"spark.sql.adaptive.enabled": "false",',
    ),
    "pq_k": (
        "operators/vectors.py",
        "_ADC_M, _ADC_K = 16, 256\n",
        "_ADC_M, _ADC_K = 16, 128\n",
    ),
    "body": (
        "functions/__init__.py",
        'return F.lit(literal).cast("timestamp_ntz")',
        'return F.lit(str(literal)).cast("timestamp_ntz")',
    ),
    "default": ("operators/graph.py", "_DAMPING = 0.85\n", "_DAMPING = 0.8\n"),
    "attr": (
        "mr_compat.py",
        "    if num_partitions is not None:\n",
        "    if num_partitions:\n",
    ),
}


def _rewrite_docs_and_comments(path) -> None:
    """Replace every docstring (with a longer one) and every comment of
    one module, and prepend a comment line: only text the fingerprint
    must ignore changes, and every line number moves."""
    import ast
    import io
    import tokenize

    src = path.read_bytes()
    starts = [0]
    for line in src.splitlines(keepends=True):
        starts.append(starts[-1] + len(line))
    spans = [
        (
            starts[d.lineno - 1] + d.col_offset,
            starts[d.end_lineno - 1] + d.end_col_offset,
        )
        for node in ast.walk(ast.parse(src))
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and ast.get_docstring(node, False) is not None
        for d in node.body[:1]
    ]
    for a, b in sorted(spans, reverse=True):  # ast offsets are in bytes
        src = src[:a] + b'"""Rewritten docstring.\n\nOne line longer."""' + src[b:]
    text = src.decode()
    lines = text.splitlines(keepends=True)
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type == tokenize.COMMENT:
            (row, col), (_, end) = tok.start, tok.end
            line = lines[row - 1]
            lines[row - 1] = line[:col] + "# rewritten comment" + line[end:]
    path.write_text("# leading comment\n" + "".join(lines))


@pytest.fixture(scope="module")
def fp_variants(tmp_path_factory):
    """{variant: fingerprint-script output} for this checkout ("base",
    run without the env knobs), a verbatim copy at another path run with
    every ``_FP_ENV_KNOBS`` entry set ("moved"), a copy with every
    docstring and comment rewritten ("docs"), and one copy per
    ``_FP_EDITS`` entry."""
    import shutil
    import subprocess
    import sys
    from concurrent.futures import ThreadPoolExecutor

    base_env = {k: v for k, v in os.environ.items() if k not in _FP_ENV_KNOBS}
    base_env["PYTEST_CURRENT_TEST"] = "fingerprint-harness"
    runs = {"base": (ROOT, base_env)}
    for variant in ("moved", "docs", *_FP_EDITS):
        root = tmp_path_factory.mktemp(f"fp_{variant}")
        shutil.copytree(
            os.path.join(ROOT, "mr_py_spark"),
            root / "mr_py_spark",
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        env = dict(base_env)
        if variant == "moved":
            (root / "tmp").mkdir()
            env.update(
                TMPDIR=str(root / "tmp"),
                SPARK_GRAFT_BUCKETS="16",
                SPARK_GRAFT_IVF_TABLES="2",
                SPARK_GRAFT_WAREHOUSE=str(root / "tmp" / "warehouse"),
            )
        elif variant == "docs":
            for path in (root / "mr_py_spark").rglob("*.py"):
                _rewrite_docs_and_comments(path)
        else:
            rel, old, new = _FP_EDITS[variant]
            path = root / "mr_py_spark" / rel
            text = path.read_text()
            assert text.count(old) == 1, (variant, old)
            path.write_text(text.replace(old, new))
        runs[variant] = (str(root), env)

    def run(item):
        variant, (root, env) = item
        proc = subprocess.run(
            [sys.executable, "-c", _FP_SCRIPT],
            cwd=root,
            env=dict(env, PYTHONPATH=root),
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, (variant, proc.stderr[-2000:])
        return variant, json.loads(proc.stdout)

    with ThreadPoolExecutor(max_workers=4) as pool:
        out = dict(pool.map(run, runs.items()))
    for variant, (root, _) in runs.items():
        if variant != "base":  # the pytest gate kept the copies sidecar-free
            assert not os.path.exists(os.path.join(root, ".fingerprints.json"))
    return out


def _fps(run: dict) -> dict[str, str]:
    return {name: fp for name, (fp, _) in run.items()}


def _changed_by_edit(fp_variants, variant: str, *keys: str) -> set[str]:
    """The queries whose fingerprint the ``variant`` edit changed,
    checked to be exactly the queries whose closure holds one of
    ``keys`` (fully qualified names)."""
    base, edited = _fps(fp_variants["base"]), _fps(fp_variants[variant])
    assert edited.keys() == base.keys()
    changed = {n for n in base if base[n] != edited[n]}
    reach = {
        n for n, (_, closure) in fp_variants["base"].items() if set(keys) & set(closure)
    }
    assert changed == reach, (variant, sorted(changed ^ reach))
    return changed


def test_fingerprint_invariant_to_path_env_docstrings_and_comments(fp_variants):
    """The fingerprint reads only the checkout's code: another checkout
    path, TMPDIR, SPARK_GRAFT_BUCKETS / _IVF_TABLES / _WAREHOUSE, and
    rewritten docstrings and comments (which also move every line)
    leave every query's fingerprint unchanged."""
    base = _fps(fp_variants["base"])
    assert len(base) == len(load_all())
    assert _fps(fp_variants["moved"]) == base
    assert _fps(fp_variants["docs"]) == base


def test_fingerprint_sees_module_data_constants(fp_variants):
    """Editing a referenced module-level data constant's definition (a
    threshold, a bucket count, a conf dict) must change the
    fingerprint of exactly the queries that reach it."""
    changed = _changed_by_edit(fp_variants, "tau", "mr_py_spark.operators.kmeans._TAU")
    assert "semantic_dedup" in changed
    assert len(changed) < len(fp_variants["base"])


def test_fingerprint_sees_harden_conf_dict(fp_variants):
    """Every query reaches harden() through tbl(), and harden's
    behavior is driven by the module-level _RUNTIME_CONFS dict: editing
    one entry must re-stamp."""
    changed = _changed_by_edit(
        fp_variants, "confs", "mr_py_spark.session._RUNTIME_CONFS"
    )
    assert "q1_pricing_summary" in changed


def test_fingerprint_sees_tuple_bindings_bodies_and_defaults(fp_variants):
    """A constant bound by a tuple assignment, a helper's function
    body, a constant read only as an argument default, and a function
    called as an attribute of a package module global
    (``mr_compat.mapreduce``) each re-stamp exactly the queries that
    reach them."""
    vec = "mr_py_spark.operators.vectors"
    pq = _changed_by_edit(fp_variants, "pq_k", f"{vec}._ADC_M", f"{vec}._ADC_K")
    assert "knn_hier_pq_topk_indexed" in pq
    body = _changed_by_edit(fp_variants, "body", "mr_py_spark.functions.ts_ntz")
    assert "q1_pricing_summary" in body
    damping = _changed_by_edit(
        fp_variants, "default", "mr_py_spark.operators.graph._DAMPING"
    )
    assert "pagerank_parts" in damping
    attr = _changed_by_edit(fp_variants, "attr", "mr_py_spark.mr_compat.mapreduce")
    assert "mr_wordcount" in attr
    for changed in (pq, body, damping, attr):
        assert 0 < len(changed) < len(fp_variants["base"])


def test_dep_closure_sees_function_local_imports():
    """A dependency bound by a function-LOCAL ``from mr_py_spark...
    import x`` must be in the closure: the streaming module imports
    almost everything this way, so a globals-only walk silently missed
    e.g. an append_entries edit under every streaming query."""
    from mr_py_spark.registry import _dep_closure

    def probe(spark, sf_dir):
        from mr_py_spark.operators.bucketed import replay_guard

        return replay_guard

    funcs, _ = _dep_closure(probe, {})
    assert "mr_py_spark.operators.bucketed.replay_guard" in funcs
    # constants bound by local import are folded too, as the source
    # that defines them (not the value this process gave them)
    def probe2(spark, sf_dir):
        from mr_py_spark.operators.bucketed import _CACHE_ROOT_NAME

        return _CACHE_ROOT_NAME

    _, consts = _dep_closure(probe2, {})
    assert "spark_graft_bucketed" in consts[
        "mr_py_spark.operators.bucketed._CACHE_ROOT_NAME"
    ]
    # the closure is transitive THROUGH a locally-imported function
    def probe3(spark, sf_dir):
        from mr_py_spark.operators.dedup import lsh_index_append

        return lsh_index_append

    funcs3, _ = _dep_closure(probe3, {})
    assert "mr_py_spark.operators.dedup.lsh_index_append" in funcs3
    # ... and through that function's own local import
    assert "mr_py_spark.operators.bucketed.raise_watermark" in funcs3


def test_fingerprint_schema_migration_keeps_rounds(tmp_path, monkeypatch):
    """A sidecar entry keeps its recorded round only while both its
    fingerprint and its schema version match. An entry recorded under
    another version (a retired or unknown schema) or with a stale
    fingerprint re-enters the window, re-stamped at the current
    version."""
    import json as _json

    import mr_py_spark.registry as regmod

    reg = load_all()
    victim = next(iter(reg))
    q = reg[victim]
    fp = regmod._fingerprint(q, {})
    side = tmp_path / ".fingerprints.json"
    monkeypatch.setattr(regmod, "_FP_PATH", str(side))
    # this test exercises the WRITE path against a private tmp sidecar,
    # so lift the pytest write gate (test_sidecar_never_written_from_pytest
    # covers the gate itself against the real sidecar)
    monkeypatch.setattr(regmod, "_in_pytest", lambda: False)

    def rounds_for(entry):
        side.write_text(_json.dumps({victim: entry}))
        return regmod._fingerprint_rounds({victim: q})[victim]

    assert rounds_for({"fp": fp, "round": 3, "v": regmod._FP_VERSION}) == 3
    for v in (regmod._FP_VERSION - 1, 99):  # retired / unknown schema
        assert rounds_for({"fp": fp, "round": 3, "v": v}) > 3
        stored = _json.loads(side.read_text())[victim]
        assert (stored["fp"], stored["v"]) == (fp, regmod._FP_VERSION)
    stale = {"fp": "now-stale", "round": 3, "v": regmod._FP_VERSION}
    assert rounds_for(stale) > 3


def test_survey8_table_matches_registry():
    """SURVEY.md §8's coverage table is GENERATED from registry tags
    (VERDICT r10 item 4: the hand table had drifted by 32 queries) —
    this pins it byte-for-byte: every registered query appears under
    each of its tags, no ghost entries, counts in the footer match.
    On failure: python scripts/gen_survey8.py --write."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_survey8", os.path.join(root, "scripts", "gen_survey8.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(os.path.join(root, "SURVEY.md")) as f:
        text = f.read()
    assert mod.current_block(text) == mod.generated_table(), (
        "SURVEY.md §8 drifted from registry tags; run "
        "scripts/gen_survey8.py --write"
    )
