"""Census of the package's optional parameters (no Spark session).

Every optional parameter of a public function or method in
``wikipedia_wikidata_spark/`` must have a caller that sets it: a keyword of
that name, or enough positional arguments to reach it, in a call by that
function name anywhere in the package, the tests, the benchmarks or the
entry points. An option that nothing sets is a constant in disguise: it
doubles the configurations to test while only one of them ever runs, so it
belongs in a module constant instead. ``KEPT`` lists the deliberate
exceptions; an entry that no longer names an unset option fails too, so
the list stays exact.

An option whose only setters are tests is the same constant with a test
knob on it: production runs one value, and a path only a test selects is
code no run needs. Such values are module constants that tests
monkeypatch. ``TEST_ONLY`` lists the exceptions, each with its reason, and
is held to the same exactness; its length is pinned so it can only shrink.

The scan matches calls by name only and does not follow ``**kwargs``
forwarding, which is why ``stream_stream_attribution(max_files_per_trigger)``
(set by a test through ``run_attribution_available_now(**kwargs)``) is kept
by name.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "wikipedia_wikidata_spark"
TESTS = ROOT / "tests"
CALLER_FILES = [
    *PKG.rglob("*.py"),
    *TESTS.rglob("*.py"),
    *(ROOT / "perfbench").rglob("*.py"),
    *(ROOT / "BENCH").rglob("*.py"),
    ROOT / "bench.py",
    ROOT / "submit_pipeline.py",
    ROOT / "__spark_entry__.py",
]

# (module path relative to the package, function, parameter) -> why it stays
KEPT = {
    # deployment settings of the real-dump sources: no test reaches a network
    ("sources/download.py", "download", "resume"): "deployment",
    ("sources/download.py", "download", "backoff_s"): "deployment",
    ("sources/download.py", "download_wikipedia_tables", "verify_md5"): "deployment",
    ("sources/sparql.py", "http_fetch", "endpoint"): "deployment",
    ("sources/sparql.py", "http_fetch", "timeout_s"): "deployment",
    # the corpus an oracle string is built against
    ("oracle_training.py", "emb_near_dup_sql", "sf_dir"): "oracle corpus",
    ("oracle_training.py", "contrastive_pairs_sql", "sf_dir"): "oracle corpus",
    ("oracle_training.py", "ann_lsh_sql", "sf_dir"): "oracle corpus",
    ("oracle_training.py", "ann_ivf_sql", "sf_dir"): "oracle corpus",
    # the language configuration of a build
    ("plans/pipeline.py", "run_pipeline", "languages"): "language configuration",
    # set through run_attribution_available_now(**kwargs)
    ("streaming/events.py", "stream_stream_attribution", "max_files_per_trigger"):
        "set through **kwargs",
}

# (module, function, parameter) set only by tests -> why it stays an option
TEST_ONLY = {
    # the query itself, not a tuning value
    ("operators/index.py", "bm25_topk", "terms"): "query data",
    ("operators/index.py", "bm25_topk", "k"): "query data",
    # the input of a catalog maintenance operation
    ("sources/catalog.py", "latest_complete", "predicate"): "operation input",
    ("sources/catalog.py", "compact", "cluster_by"): "operation input",
    ("sources/catalog.py", "expire_snapshots", "keep"): "operation input",
    ("sources/download.py", "download_wikipedia_tables", "tables"):
        "operation input",
    # hands the round count out to the O(log n) test
    ("operators/graph.py", "connected_components_star", "_rounds_out"):
        "test hook",
}


def _optional_params(fn: ast.FunctionDef, is_method: bool):
    """(positional index or None for keyword-only, name) per defaulted param."""
    pos = fn.args.posonlyargs + fn.args.args
    if is_method and pos and pos[0].arg in ("self", "cls"):
        pos = pos[1:]
    first = len(pos) - len(fn.args.defaults)
    out = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [
        (None, a.arg)
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return out


def package_options():
    """[(module, function, index, param)] for every public optional param."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        for node in tree.body:
            defs = []
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs = [(node, False)]
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                defs = [
                    (n, True) for n in node.body
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
            for fn, is_method in defs:
                if fn.name.startswith("_"):
                    continue
                for i, p in _optional_params(fn, is_method):
                    out.append((mod, fn.name, i, p))
    return out


def calls_by_name(files=CALLER_FILES):
    """function name -> [(n positional args, has *args, keyword names)]."""
    calls: dict[str, list] = {}
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            calls.setdefault(name, []).append((
                len(node.args),
                any(isinstance(a, ast.Starred) for a in node.args),
                {k.arg for k in node.keywords if k.arg is not None},
            ))
    return calls


def unset_options(files=CALLER_FILES):
    calls = calls_by_name(files)
    unset = set()
    for mod, fn, i, p in package_options():
        if not any(
            p in kws or star or (i is not None and n_pos > i)
            for n_pos, star, kws in calls.get(fn, [])
        ):
            unset.add((mod, fn, p))
    return unset


def test_every_optional_parameter_has_a_setter():
    unset = unset_options()
    stray = sorted(unset - KEPT.keys())
    assert not stray, (
        "optional parameters that no caller sets; make each a constant, "
        f"or give it a caller: {stray}"
    )
    stale = sorted(KEPT.keys() - unset)
    assert not stale, f"KEPT entries that are no longer unset options: {stale}"


def test_options_only_tests_set_are_listed():
    production = [f for f in CALLER_FILES if TESTS not in f.parents]
    test_only = unset_options(production) - unset_options()
    stray = sorted(test_only - TEST_ONLY.keys())
    assert not stray, (
        "optional parameters that only tests set; make each a module "
        f"constant the test monkeypatches, or give it a real caller: {stray}"
    )
    stale = sorted(TEST_ONLY.keys() - test_only)
    assert not stale, f"TEST_ONLY entries that are no longer test-only: {stale}"
    assert len(TEST_ONLY) <= 7, "TEST_ONLY may only shrink"
