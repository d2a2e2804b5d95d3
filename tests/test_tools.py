"""The measuring and checking scripts (``bench.py``, ``tools/*.py``)
import cleanly and build their Spark session in one place.

No Spark session is started: the no-argument usage paths return before
any session exists.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))) + [
    os.path.join(ROOT, "bench.py")
]


def _load(path: str):
    name = "_script_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scripts_import_and_usage_paths_exit_2(monkeypatch, capsys):
    # argv as for a bare run, so module-level argv reads see no args
    monkeypatch.setattr(sys, "argv", ["script"])
    mods = {os.path.relpath(p, ROOT): _load(p) for p in SCRIPTS}
    assert len(mods) >= 8, sorted(mods)
    for rel in ("tools/bench_probe.py", "tools/explain_dump.py",
                "tools/scale_probe.py"):
        assert mods[rel].main() == 2, rel
    assert "Usage" in capsys.readouterr().out


#: Where a Spark session may be built: ``bench.bench_session``, which
#: every measuring tool shares, and ``tools/driver_sim.py``, whose
#: vanilla session imitates the driver's on purpose.
_SESSION = re.compile(r"get_spark\(|SparkSession\.builder")


def _allowed_lines(rel: str, src: str) -> set[int]:
    if rel == "tools/driver_sim.py":
        return set(range(1, src.count("\n") + 2))
    if rel == "bench.py":
        fn = next(
            n for n in ast.parse(src).body
            if isinstance(n, ast.FunctionDef) and n.name == "bench_session"
        )
        return set(range(fn.lineno, fn.end_lineno + 1))
    return set()


def test_sessions_only_built_by_bench_session_or_driver_sim():
    offenders, allowed_hits = [], set()
    for path in SCRIPTS:
        rel = os.path.relpath(path, ROOT)
        with open(path) as fh:
            src = fh.read()
        allowed = _allowed_lines(rel, src)
        for n, line in enumerate(src.splitlines(), 1):
            if not _SESSION.search(line):
                continue
            if n in allowed:
                allowed_hits.add(rel)
            else:
                offenders.append(f"{rel}:{n}: {line.strip()}")
    # the allowed sites must still match, or the scan proves nothing
    assert allowed_hits == {"bench.py", "tools/driver_sim.py"}
    assert not offenders, (
        "build the session with bench.bench_session: " + "; ".join(offenders)
    )
