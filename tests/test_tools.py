"""The measuring and checking scripts (``bench.py``, ``tools/*.py``)
import cleanly and build their Spark session in one place, and every
package function has a caller or a documented reason to exist.

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


#: Package entry points that no package, tool or bench code calls but
#: that belong to the documented product surface, with the reason each
#: stays. Everything else must have a caller outside its own body.
PRODUCT_SURFACE = {
    "sources.rest.poll_to_dataframe": "S2: the REST poll as a frame",
    "sources.rest.poll_to_landing_dir": "S9: the REST poll landed as JSON",
    "sources.readers.read_flat_csv": "S6: the processed-CSV scan",
    "sources.readers.read_raw_json_with_quarantine":
        "S4: the raw-JSON dead letter",
    "sinks.writers.write_partitioned": "S7: the partitioned parquet sink",
    "sinks.serving.to_serving_schema": "the reference's Postgres load",
    "sinks.serving.jdbc_append_missing": "the reference's Postgres load",
    "sinks.tablelog.compact": "the table log's one atomic compaction",
    "sinks.tablelog.delete_where": "the table log's row delete",
    "sinks.tablelog.migrate_consumer_position":
        "the remedy require_known_source's refusal names",
    "plans.views.register_catalog_views": "the SURVEY §1 derived views",
    "plans.text.bpe_encode_corpus": "BPE encoding with its DuckDB oracle",
    "plans.sketch.hll_estimate": "read side of the catalog's HLL sketch",
    "plans.sketch.cms_estimate": "read side of the catalog's CMS sketch",
    "plans.sketch.cms_columns": "read side of the catalog's CMS sketch",
    "operators.layout.morton_code":
        "the Python reference the Spark interleave is tested against",
    "streaming.pipeline.start_quarantine_stream":
        "S4: the streaming dead letter",
    "streaming.pipeline.start_tablelog_sink": "the stream into a table log",
    "streaming.windows.read_stream_events": "stream = batch, pinned by tests",
    "streaming.windows.windowed_event_counts":
        "stream = batch, pinned by tests",
}

PACKAGE = os.path.join(ROOT, "aws_weather_data_pipeline_spark")


def _referenced_names(paths: list[str]) -> dict[str, list[tuple[str, int]]]:
    """Every Name, Attribute and imported name in ``paths``, with the
    file and line it appears on."""
    refs: dict[str, list[tuple[str, int]]] = {}
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            refs.setdefault(name, []).append((path, node.lineno))
    return refs


def test_every_package_function_has_a_caller():
    package = sorted(
        glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    )
    callers = package + SCRIPTS + [
        p for p in sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
        if not os.path.basename(p).startswith("test_")
    ] + [os.path.join(ROOT, "__spark_entry__.py")]
    refs = _referenced_names(callers)
    defined, uncalled = set(), []
    for path in package:
        module = os.path.relpath(path, PACKAGE)[:-3].replace(os.sep, ".")
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in tree.body:
            # catalog queries register by decorator: the catalog calls them
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.decorator_list:
                continue
            qualified = f"{module}.{node.name}"
            defined.add(qualified)
            called = any(
                p != path or not node.lineno <= line <= node.end_lineno
                for p, line in refs.get(node.name, ())
            )
            if not called and qualified not in PRODUCT_SURFACE:
                uncalled.append(qualified)
    assert not uncalled, (
        "no caller outside tests; delete, or add to PRODUCT_SURFACE "
        f"with its reason: {uncalled}"
    )
    stale = sorted(set(PRODUCT_SURFACE) - defined)
    assert not stale, f"PRODUCT_SURFACE names what no longer exists: {stale}"


def _definitions():
    """``(module.function, node)`` for every top-level package
    definition."""
    for path in sorted(
        glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    ):
        module = os.path.relpath(path, PACKAGE)[:-3].replace(os.sep, ".")
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for top in tree.body:
            yield f"{module}.{getattr(top, 'name', '<module>')}", top


def _owners(names) -> dict[str, set[str]]:
    """For each of ``names``, the top-level package definitions
    (``module.function``) whose body loads it."""
    owners: dict[str, set[str]] = {name: set() for name in names}
    for owner, top in _definitions():
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                name, ctx = node.id, node.ctx
            elif isinstance(node, ast.Attribute):
                name, ctx = node.attr, node.ctx
            else:
                continue
            if name in owners and isinstance(ctx, ast.Load):
                owners[name].add(owner)
    return owners


#: Who may name the table log's publish primitive and its retry
#: budget. ``_commit`` is the one optimistic-commit loop; ``sync_changes``
#: keeps its own because each retry re-reads the source position.
COMMIT_LOOP_OWNERS = {
    "_publish": {"sinks.tablelog._commit"},
    "MAX_COMMIT_RETRIES": {
        "sinks.tablelog._commit", "sinks.tablelog.sync_changes"
    },
}


def test_one_commit_loop_in_the_table_log():
    owners = _owners(COMMIT_LOOP_OWNERS)
    assert owners == COMMIT_LOOP_OWNERS, (
        "commit through tablelog._commit(build, rebase=...) instead of "
        f"a hand-written publish/retry loop: {owners}"
    )


#: Who may call the media decoder and build a pandas UDF. A codec adds
#: a ``_<codec>_fixture`` for ``_with_encoded_payload`` and a row rule
#: for ``_decode_stage``; ``distinct_byte_count_col`` is the one scalar
#: scorer column.
MEDIA_STAGE_OWNERS = {
    "decode_media": {"functions.multimodal._decode_stage"},
    "pandas_udf": {
        "functions.multimodal._with_encoded_payload",
        "functions.multimodal.distinct_byte_count_col",
    },
}


def test_one_payload_encoder_and_one_decode_stage():
    owners = _owners(MEDIA_STAGE_OWNERS)
    assert owners == MEDIA_STAGE_OWNERS, (
        "build payloads through _with_encoded_payload(df, content_type, "
        "fixture) and decode through _decode_stage(df, schema, rows) "
        f"instead of a hand-written Arrow loop: {owners}"
    )


#: Who may write the quantized-embedding arithmetic: every kNN, ANN,
#: PQ, k-means and SemDeDup stage calls ``functions.exact``'s helpers
#: instead of copying the Spark expression. The DuckDB oracles'
#: ``list_transform(embedding`` is reference SQL and not counted.
COSINE_KERNEL_OWNERS = {
    "zip_with": {"functions.exact.int_dot", "functions.exact.int_sq_dist"},
    "transform(embedding": {"functions.exact.quantized"},
}


def test_one_cosine_kernel():
    owners = {"zip_with": _owners({"zip_with"})["zip_with"]}
    owners["transform(embedding"] = set()
    spark_sql = re.compile(r"zip_with|(?<!list_)transform\(embedding")
    for owner, top in _definitions():
        for node in ast.walk(top):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                for hit in spark_sql.findall(node.value):
                    owners[hit].add(owner)
            elif (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "transform"
                and node.args
                and getattr(node.args[0], "value", None) == "embedding"
            ):
                owners["transform(embedding"].add(owner)
    assert owners == COSINE_KERNEL_OWNERS, (
        "quantize with functions.exact.quantized() and take dot products "
        "and distances with int_dot / int_sq_dist instead of a "
        f"hand-written copy: {owners}"
    )


#: Who may write each step of the near-dup family: the ordered self-join
#: (a ``doc_a < doc_b`` Column comparison or SQL string), the Jaccard
#: verify and the connected-components run each have one owner, and no
#: package code outside ``plans.registry`` stores a catalog ``oracle``
#: after registration. The DuckDB oracles' ``a.doc_id < b.doc_id`` is
#: reference SQL and not counted.
NEAR_DUP_STAGE_OWNERS = {
    "connected_components": {"plans.similarity._cluster_map"},
    "array_intersect": {"plans.similarity._jaccard_verified"},
    "doc_a < doc_b": {"plans.similarity._self_pairs"},
    ".oracle =": set(),
}


def _column_name(node) -> str | None:
    """``x`` for a column reference ``F.col("x")``, ``df.x`` or
    ``df["x"]``."""
    if isinstance(node, ast.Call) and node.args:
        if getattr(node.func, "attr", getattr(node.func, "id", None)) == "col":
            return getattr(node.args[0], "value", None)
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Subscript):
        return getattr(node.slice, "value", None)
    return None


def test_one_pair_stage_for_the_near_dup_family():
    owners = _owners({"connected_components", "array_intersect"})
    owners["doc_a < doc_b"] = set()
    owners[".oracle ="] = set()
    ordered_sql = re.compile(r"\bdoc_a\s*<\s*doc_b\b")
    for owner, top in _definitions():
        for node in ast.walk(top):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if ordered_sql.search(node.value):
                    owners["doc_a < doc_b"].add(owner)
            elif isinstance(node, ast.Compare) and len(node.ops) == 1:
                sides = {_column_name(node.left),
                         _column_name(node.comparators[0])}
                if sides == {"doc_a", "doc_b"} and isinstance(
                    node.ops[0], (ast.Lt, ast.Gt)
                ):
                    owners["doc_a < doc_b"].add(owner)
            elif (
                isinstance(node, ast.Attribute)
                and node.attr == "oracle"
                and isinstance(node.ctx, ast.Store)
                and not owner.startswith("plans.registry.")
            ):
                owners[".oracle ="].add(owner)
    assert owners == NEAR_DUP_STAGE_OWNERS, (
        "pair documents with plans.similarity._self_pairs, verify with "
        "_jaccard_verified, cluster with _cluster_map, and pass a "
        f"composed oracle to CATALOG.add: {owners}"
    )


#: Who may start a thread: ``session.concurrently`` is the one place the
#: package runs calls on threads, each wrapped so it inherits the
#: caller's Spark job group. ``plans.fixtures``' ``threading.Lock`` starts
#: no thread and is not counted.
THREAD_OWNERS = {
    "Thread": set(),
    "ThreadPoolExecutor": set(),
    "InheritableThread": {"session.concurrently"},
    "inheritable_thread_target": set(),
}


def test_threads_start_only_in_session_concurrently():
    owners = _owners(THREAD_OWNERS)
    for owner, top in _definitions():
        for node in ast.walk(top):
            if isinstance(node, ast.alias) and node.name in owners:
                owners[node.name].add(owner)
    assert owners == THREAD_OWNERS, (
        "run independent calls through session.concurrently(*calls) "
        f"instead of a thread of their own: {owners}"
    )


#: Who may name each sink rule: the per-write dynamic partition overwrite
#: (``ON CONFLICT DO UPDATE`` per partition) and the keyed anti-join
#: (``ON CONFLICT DO NOTHING``) each have one body, which every sink
#: calls. No sink probes an exception to detect a first load: an empty
#: target answers "absent" for every key, and a failure propagates.
SINK_RULE_OWNERS = {
    "partitionOverwriteMode": {"sinks.writers.overwrite_partitions"},
    "missing_keys": {"sinks.writers.append_missing"},
    "exception probe": set(),
}


def test_one_keyed_append_and_one_partition_overwrite():
    owners = _owners({"missing_keys"})
    owners["partitionOverwriteMode"] = set()
    owners["exception probe"] = set()
    for owner, top in _definitions():
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "partitionOverwriteMode" in node.value
            ):
                owners["partitionOverwriteMode"].add(owner)
            if not owner.startswith("sinks."):
                continue
            if isinstance(node, ast.ExceptHandler):
                caught = ast.unparse(node.type) if node.type else ""
                if "AnalysisException" in caught or any(
                    isinstance(call, ast.Call)
                    and getattr(call.func, "id", None) == "str"
                    and [getattr(a, "id", None) for a in call.args]
                    == [node.name]
                    for call in ast.walk(node)
                ):
                    owners["exception probe"].add(owner)
            elif isinstance(node, ast.Attribute) and node.attr in (
                "getCondition", "getErrorClass"
            ):
                owners["exception probe"].add(owner)
    assert owners == SINK_RULE_OWNERS, (
        "overwrite partitions through sinks.writers.overwrite_partitions, "
        "append keyed rows through sinks.writers.append_missing, and let "
        f"an empty target stand for a first load: {owners}"
    )
