"""Every package Python UDF opens with the worker prelude
(``portability.enter_worker``): it drops the worker's cached zip finders
and leaves imports working, it freezes each Python worker's heap once and
never the driver's, and grouped/cogrouped UDFs still receive their key."""

import ast
import gc
import os
import sys
import time
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

import tika_wrap_spark
from tika_wrap_spark.portability import enter_worker, make_portable

PKG = Path(tika_wrap_spark.__file__).parent
UDF_METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
HELPER = "enter_worker"


def _scope_stmts(scope: ast.AST):
    """Statements of one scope, not descending into nested defs/classes."""
    todo = list(scope.body)
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            todo.extend(c for c in ast.iter_child_nodes(node) if isinstance(c, ast.stmt))


def _resolve(name: str, scopes: list[ast.AST]):
    """The FunctionDef a name passed as a UDF stands for: a def in an
    enclosing scope, or ``name = factory(...)`` where the factory returns a
    nested def. None when it cannot be resolved."""
    for i, scope in enumerate(scopes):
        for stmt in _scope_stmts(scope):
            if isinstance(stmt, ast.FunctionDef) and stmt.name == name:
                return stmt
            if (
                isinstance(stmt, ast.Assign)
                and [getattr(t, "id", None) for t in stmt.targets] == [name]
                and isinstance(stmt.value, ast.Call)
                and isinstance(stmt.value.func, ast.Name)
            ):
                factory = _resolve(stmt.value.func.id, scopes[i:])
                if factory is None:
                    return None
                rets = [
                    s.value.id
                    for s in _scope_stmts(factory)
                    if isinstance(s, ast.Return) and isinstance(s.value, ast.Name)
                ]
                return _resolve(rets[0], [factory] + scopes[i:]) if len(rets) == 1 else None
    return None


def _calls_helper_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and isinstance(first.value.func, ast.Name)
        and first.value.func.id == HELPER
        and not first.value.args
    )


def udf_sites(root: Path = PKG) -> tuple[list[str], list[str]]:
    """(checked, bad) ``file:line`` of every mapInPandas / applyInPandas /
    applyInPandasWithState call under ``root``; bad ones pass a function
    that cannot be resolved or does not call the helper first."""
    checked, bad = [], []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        scopes_of: dict[ast.AST, list[ast.AST]] = {}

        def visit(node, scopes):
            for child in ast.iter_child_nodes(node):
                inner = [child] + scopes if isinstance(child, ast.FunctionDef) else scopes
                scopes_of[child] = scopes
                visit(child, inner)

        visit(tree, [tree])
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in UDF_METHODS
            ):
                continue
            where = "%s:%d" % (path.relative_to(root.parent), node.lineno)
            checked.append(where)
            arg = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "func"), None
            )
            fn = _resolve(arg.id, scopes_of[node]) if isinstance(arg, ast.Name) else None
            if fn is None or not _calls_helper_first(fn):
                bad.append(where)
    return checked, bad


def test_every_package_udf_drops_zip_finders_first():
    checked, bad = udf_sites()
    # extract_ops 2, multimodal 2 (the fetch stage and the one payload map
    # behind decode/resize/frames/embed), data 1 (the corpus/golden
    # generator), queries 1, streaming 1
    assert len(checked) >= 7, checked
    assert bad == []


def test_drop_zip_finders_keeps_later_imports(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("twzprobe/__init__.py", "")
        zf.writestr("twzprobe/sub/__init__.py", "")
        zf.writestr("twzprobe/sub/first.py", "X = 1\n")
        zf.writestr("twzprobe/sub/second.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        import twzprobe.sub.first  # noqa: PLC0415

        assert twzprobe.sub.first.X == 1
        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        assert any(k.startswith(str(archive)) for k in zips), zips

        enter_worker()
        assert not any(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )

        # the rebuilt finder comes from zipimport's directory cache: the
        # archive's central directory is not read again
        def no_reread(path):
            raise AssertionError("re-read %s" % path)

        monkeypatch.setattr(zipimport, "_read_directory", no_reread)
        import twzprobe.sub.second  # noqa: PLC0415

        assert twzprobe.sub.second.Y == 2
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "twzprobe"]:
            del sys.modules[name]
        enter_worker()


def test_enter_worker_freezes_each_worker_once_and_never_the_driver(spark):
    make_portable()

    def probe(batches):
        enter_worker()
        for _ in batches:
            yield pd.DataFrame(
                {"pid": [os.getpid()], "t": [time.monotonic_ns()], "frozen": [gc.get_freeze_count()]}
            )

    df = spark.range(0, 64, 1, 16)
    rows = []
    for _ in range(2):
        rows += df.mapInPandas(probe, "pid long, t long, frozen long").collect()
    assert len(rows) == 32
    assert all(r.frozen > 0 for r in rows), rows
    by_pid: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: r.t):
        by_pid.setdefault(r.pid, []).append(r.frozen)
    # one freeze per process: later tasks only see frozen objects die
    assert any(len(v) > 1 for v in by_pid.values()), by_pid
    for counts in by_pid.values():
        assert counts == sorted(counts, reverse=True), by_pid

    enter_worker()
    assert gc.get_freeze_count() == 0


def test_grouped_and_cogrouped_udfs_receive_their_key(spark):
    from tika_wrap_spark.operators.extract_ops import verify_against_golden  # noqa: PLC0415

    df = spark.createDataFrame(
        [(k, "d%d" % k, [("text", "t%d" % k, None, 0)]) for k in range(6)],
        "g long, doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )

    def keyed(key, pdf):
        enter_worker()
        return pd.DataFrame({"g": [key[0]], "n": [len(pdf)]})

    grouped = df.groupBy(F.col("g") % 2).applyInPandas(keyed, "g long, n long").collect()
    assert sorted((r.g, r.n) for r in grouped) == [(0, 3), (1, 3)]

    ver = verify_against_golden(df, df.filter(F.col("g") < 4)).collect()
    assert sorted((r.doc_id, r.n_actual, r.seq_match) for r in ver) == [
        ("d%d" % k, int(k < 4), k < 4) for k in range(6)
    ]
