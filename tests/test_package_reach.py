"""Every top-level package definition is reached from a shipped entry point.

A name-level `ast` scan, no Spark. The roots are the CLI, the module-level
code of every package module (this covers the query registry), the
benchmarks, the driver contract, the packager and the `tools_*.py`
scripts. A function or class whose name no reached code mentions is
unreached. Tests do not count as reach: a definition that only tests call
is a second implementation or a test helper, and belongs in `tests/` or
nowhere. The allowlist below names the few that stay on purpose.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROOT_FILES = (
    ["spinterps_spark/cli.py", "bench.py", "bench_scaling.py",
     "__spark_entry__.py", "make_package.py"]
    + sorted(os.path.relpath(p, ROOT) for p in glob.glob(f"{ROOT}/perfbench/*.py"))
    + sorted(os.path.relpath(p, ROOT) for p in glob.glob(f"{ROOT}/tools_*.py"))
)

_SCALAR_CODEC = "bit-exact scalar Gorilla reference for the gorilla_vec tests"
_WINNOW = "query helper outside the registry; waits on the registry fingerprint check"

ALLOWED_UNREACHED = {
    **{f"compress/gorilla.py:{name}": _SCALAR_CODEC for name in (
        "BitWriter", "BitReader", "_untwos", "decimal_scale", "_write_dods",
        "_read_dod", "encode_ts", "decode_ts", "encode_vals", "decode_vals",
        "encode_chunk", "decode_chunk")},
    "plans/refresh.py:stream_refresh": "continuous form of the refresh pass (library API)",
    "sources/tableformat.py:remove_commits": "crash drills in tests and break-glass ops",
    "datagen.py:conv_coords_spark":
        "two-line fixture builder the gapfill, refresh and variogram tests share",
    "operators/multimodal.py:synth_media": "four-line media fixture builder",
    "queries.py:q_winnow_fingerprints": _WINNOW,
    "queries.py:q_winnow_candidates": _WINNOW,
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node) -> set[str]:
    """Every identifier a subtree mentions: bare names, attributes and
    imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(ROOT, rel)) as f:
        return ast.parse(f.read(), rel)


def unreached_definitions() -> set[str]:
    pkg = os.path.join(ROOT, "spinterps_spark")
    defs: dict[str, list] = {}  # name -> [(module, node)]
    reached = set()
    for path in sorted(glob.glob(f"{pkg}/**/*.py", recursive=True)):
        rel = os.path.relpath(path, pkg)
        for stmt in _parse(os.path.relpath(path, ROOT)).body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((rel, stmt))
                # decorators run at import time
                for d in stmt.decorator_list:
                    reached |= _names(d)
            else:
                reached |= _names(stmt)
    for rel in ROOT_FILES:
        reached |= _names(_parse(rel))
    done = set()
    todo = reached & defs.keys()
    while todo:
        name = todo.pop()
        done.add(name)
        for _rel, node in defs[name]:
            todo |= (_names(node) & defs.keys()) - done
    return {f"{rel}:{name}" for name, sites in defs.items() if name not in done
            for rel, _node in sites}


def test_every_package_definition_is_reached_or_allowlisted():
    unreached = unreached_definitions()
    assert unreached == set(ALLOWED_UNREACHED), (
        f"unreached, not allowlisted: {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allowlisted but reached or gone: {sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )
