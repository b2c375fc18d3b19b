"""Fail on package code that no program reaches, and on options that no
call passes. Uses only ``ast``: nothing is imported or run.

A top-level function or class in ``tika_wrap_spark/`` must be reached,
transitively, from one of these roots:

- the public ``_API`` table in ``tika_wrap_spark/__init__.py``;
- package module-level code, which holds every function named in
  ``registry.REGISTRY``;
- every name that ``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and
  the non-test ``perfbench/`` files use: identifiers, attribute and
  imported names, and identifier strings such as perfbench's
  ``wrap(module, "attr", ...)``;
- every ``__dunder__`` definition, which Python itself calls;
- the definitions named in ``ALLOWED``.

Tests are not roots: code that only a test calls is dead code with a test.
Inside the package a name resolves through the module's own definitions and
its imports; an attribute of anything but an imported module matches every
top-level definition of that name.

A defaulted parameter of a package function, or of a method of a top-level
class, must be passed by some call anywhere in the repo, tests included:
by keyword, by position (a method's ``self`` is its first position), or
through ``*args`` / ``**kwargs``. A call matches every definition of its
callee's name; a class call is a call of its ``__init__``, and
``functools.partial(f, ...)`` is a call of ``f``. An allowlisted
definition's own parameters are covered by its entry.

Each offender prints as ``file:line: message``, and so does an ``ALLOWED``
entry that no longer names an unreached definition or a never-passed
parameter. The exit status is 1 if there is any.

Usage: python tools/reach_check.py [repo_dir]  (default: this script's repo)
"""

from __future__ import annotations

import ast
import sys
from collections import defaultdict
from pathlib import Path

PACKAGE = "tika_wrap_spark"

# Unreached definitions ("module.name") and never-passed parameters
# ("module.name(param)") that stay, each with its reason. Modules are dotted
# below the package.
_SURVEY = "SURVEY.md §2C/§2D operator with no registry entry"
ALLOWED = {
    "sources.read_corpus_parquet": _SURVEY,
    "sources.write_corpus_parquet": _SURVEY,
    "sources.read_corpus_orc": _SURVEY,
    "sources.write_corpus_orc": _SURVEY,
    "sources.read_corpus_jsonl": _SURVEY,
    "sources.write_corpus_jsonl": _SURVEY,
    "sources.read_text_dir": _SURVEY,
    "streaming.read_events_stream": _SURVEY,
    "streaming.windowed_event_metrics": _SURVEY,
    "streaming.stream_dedup": _SURVEY,
    "streaming.stateful_user_counts": _SURVEY,
    "streaming.stream_shard_export": _SURVEY,
    "catalog.iceberg_available": _SURVEY,
    "catalog.read_table": _SURVEY,
    "catalog.write_bucketed": _SURVEY,
    "pipeline.write_shards": _SURVEY,
    "operators.skew.skew_topk": _SURVEY,
    "functions.offsets_monotonic": _SURVEY,
    "functions.norm_text": _SURVEY,
    "corpus.generate_golden": "test oracle: writes the golden fixtures FIXTURES.md §2 describes",
    "corpus.smoke_corpus": "test builder: the hand-written smoke docs of FIXTURES.md §5",
    "data.extracted_to_rows": "test oracle: the pure-core rows a Spark extraction must equal",
    "core.media.build_bmp": "test builder: the BMP fixtures of the pixel-codec tests",
    "plans.read_schema_columns": "test oracle: the columns a plan's scan reads, for the plan pins",
    "plans.has_node": "test oracle: plan-node lookup for the plan pins",
    "operators.skew.salt_repartition(method)": (
        "the north star names range partitioning on doc_id, and BENCH.md's calibration read "
        "a range salt at 0.751 against a hash salt at 0.665 at 4->16; a scaling run, not a "
        "cleanup, picks the method"
    ),
}

_SELF = "tools/reach_check.py"
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_ANY = float("inf")


def _module_key(rel: Path) -> str:
    parts = list(rel.with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, key: str, path: Path, tree: ast.Module):
        self.key, self.path, self.tree = key, path, tree
        self.defs = {n.name: n for n in tree.body if isinstance(n, _DEFS)}
        self.imports: dict[str, tuple[str, str | None]] = {}  # alias -> (module, name)

    def read_imports(self, keys: set[str]) -> None:
        """Bind each alias that names package code, imported anywhere in the
        module, to a package module (name None) or to a name in one."""
        package = self.key if self.path.name == "__init__.py" else self.key.rpartition(".")[0]
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname and a.name.startswith(PACKAGE + "."):
                        self.imports[a.asname] = (a.name[len(PACKAGE) + 1 :], None)
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    base = package.split(".")[: len(package.split(".")) - node.level + 1]
                    base = ".".join(p for p in base + (node.module or "").split(".") if p)
                elif node.module == PACKAGE or (node.module or "").startswith(PACKAGE + "."):
                    base = node.module[len(PACKAGE) + 1 :]
                else:
                    continue
                for a in node.names:
                    sub = "%s.%s" % (base, a.name) if base else a.name
                    self.imports[a.asname or a.name] = (sub, None) if sub in keys else (base, a.name)


class _Package:
    def __init__(self, root: Path):
        self.modules: dict[str, _Module] = {}
        for path in sorted((root / PACKAGE).rglob("*.py")):
            key = _module_key(path.relative_to(root / PACKAGE))
            self.modules[key] = _Module(key, path, ast.parse(path.read_text(), str(path)))
        for mod in self.modules.values():
            mod.read_imports(set(self.modules))
        self.by_name: dict[str, set[tuple[str, str]]] = defaultdict(set)
        for mod in self.modules.values():
            for name in mod.defs:
                self.by_name[name].add((mod.key, name))

    def resolve(self, key: str, name: str, depth: int = 0) -> set[tuple[str, str]]:
        """The definition ``name`` means in module ``key``, through
        re-exports."""
        mod = self.modules.get(key)
        if mod is None or depth > 8:
            return set()
        if name in mod.defs:
            return {(key, name)}
        target = mod.imports.get(name)
        if target and target[1] is not None:
            return self.resolve(target[0], target[1], depth + 1)
        return set()

    def refs(self, key: str, node: ast.AST) -> set[tuple[str, str]]:
        mod, out = self.modules[key], set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out |= self.resolve(key, n.id)
            elif isinstance(n, ast.Attribute):
                alias = mod.imports.get(n.value.id) if isinstance(n.value, ast.Name) else None
                if alias and alias[1] is None:
                    out |= self.resolve(alias[0], n.attr)
                else:
                    out |= self.by_name.get(n.attr, set())
        return out

    def module_level_refs(self) -> set[tuple[str, str]]:
        """What module-level code names: every statement that is not a
        definition, plus decorators, defaults and class bases."""
        out = set()
        for key, mod in self.modules.items():
            for stmt in mod.tree.body:
                if isinstance(stmt, _FUNCS):
                    parts = [*stmt.decorator_list, *stmt.args.defaults, *stmt.args.kw_defaults]
                elif isinstance(stmt, ast.ClassDef):
                    parts = [*stmt.decorator_list, *stmt.bases, *stmt.keywords]
                else:
                    parts = [stmt]
                for part in parts:
                    if part is not None:
                        out |= self.refs(key, part)
        return out

    def api_refs(self) -> set[tuple[str, str]]:
        """The ``(module, name)`` pairs of the package's public ``_API``."""
        out = set()
        for stmt in self.modules[""].tree.body:
            if isinstance(stmt, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "_API" for t in stmt.targets
            ):
                for mod_name, attr in ast.literal_eval(stmt.value).values():
                    out |= self.resolve(mod_name[len(PACKAGE) + 1 :], attr)
        return out

    def closure(self, roots: set[tuple[str, str]]) -> set[tuple[str, str]]:
        seen, todo = set(), list(roots)
        while todo:
            key, name = todo.pop()
            if (key, name) not in seen:
                seen.add((key, name))
                todo.extend(self.refs(key, self.modules[key].defs[name]))
        return seen


def _program_files(root: Path) -> list[Path]:
    files = [root / "bench.py", root / "__spark_entry__.py", *sorted((root / "tools").glob("*.py"))]
    files += [p for p in sorted((root / "perfbench").glob("*.py")) if not p.name.startswith("test_")]
    return [p for p in files if p.exists() and p.resolve() != Path(__file__).resolve()]


def _names_used(tree: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _callee(func: ast.AST) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls(files: list[Path]) -> dict[str, list[tuple[float, set[str] | None]]]:
    """Callee name -> (positional args passed, keywords passed) per call;
    ``_ANY`` positional after a ``*args``, keywords None after a ``**kw``."""
    calls = defaultdict(list)
    for path in files:
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(n, ast.Call):
                continue
            name, args = _callee(n.func), n.args
            if name == "partial" and args:
                name, args = _callee(args[0]), args[1:]
            if name is None:
                continue
            npos = _ANY if any(isinstance(a, ast.Starred) for a in args) else len(args)
            kws = None if any(k.arg is None for k in n.keywords) else {k.arg for k in n.keywords}
            calls[name].append((npos, kws))
    return calls


def _functions(pkg: _Package):
    """(module, qualified name, callee names, self offset, def) for every
    package function and every method of a top-level class."""
    for key, mod in pkg.modules.items():
        for name, node in mod.defs.items():
            if isinstance(node, _FUNCS):
                yield key, name, {name}, 0, node
                continue
            for m in node.body:
                if isinstance(m, _FUNCS):
                    static = any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
                    names = {m.name, name} if m.name == "__init__" else {m.name}
                    yield key, name, names, 0 if static else 1, m


def _defaulted(fn: ast.AST):
    """(param, positional index or None) for each parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    for i, p in enumerate(pos):
        if i >= len(pos) - len(a.defaults):
            yield p.arg, i
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield p.arg, None


def _passed(param: str, index: int | None, offset: int, calls) -> bool:
    return any(
        kws is None or param in kws or (index is not None and npos + offset > index)
        for npos, kws in calls
    )


def check(root: Path, allowed: dict[str, str] = ALLOWED) -> list[str]:
    """Every offender, as ``file:line: message``."""
    pkg = _Package(root)

    def site(mod: _Module, node: ast.AST) -> str:
        return "%s:%d" % (mod.path.relative_to(root), node.lineno)

    used = set()
    for path in _program_files(root):
        used |= _names_used(ast.parse(path.read_text(), str(path)))
    roots = pkg.module_level_refs() | pkg.api_refs()
    roots |= {d for name in used for d in pkg.by_name.get(name, ())}
    roots |= {d for name, defs in pkg.by_name.items() if name.startswith("__") for d in defs}
    reached = pkg.closure(roots)

    out, allowed_defs = [], set()
    for entry in (e for e in allowed if "(" not in e):
        key, _, name = entry.rpartition(".")
        mod = pkg.modules.get(key)
        if mod is None or name not in mod.defs:
            out.append("%s: ALLOWED names %s, which is not a top-level definition" % (_SELF, entry))
        elif (key, name) in reached:
            out.append("%s: ALLOWED names %s, which a program reaches" % (site(mod, mod.defs[name]), entry))
        else:
            allowed_defs.add((key, name))
    reached |= pkg.closure(allowed_defs)
    for key, mod in pkg.modules.items():
        for name, node in mod.defs.items():
            if (key, name) not in reached:
                dotted = "%s.%s" % (key, name) if key else name
                out.append("%s: %s is reached from no program" % (site(mod, node), dotted))

    everything = [p for p in sorted(root.rglob("*.py")) if not any(
        part.startswith(".") or part == "spark-warehouse" for part in p.relative_to(root).parts
    )]
    calls, allowed_params = _calls(everything), set()
    for key, owner, names, offset, fn in _functions(pkg):
        if (key, owner) in allowed_defs:
            continue
        qual = ("%s.%s" % (key, owner) if key else owner) + ("" if fn.name == owner else "." + fn.name)
        sites = [c for n in names for c in calls.get(n, ())]
        for param, index in _defaulted(fn):
            entry = "%s(%s)" % (qual, param)
            passed = _passed(param, index, offset, sites)
            if entry in allowed:
                allowed_params.add(entry)
                if passed:
                    out.append("%s: ALLOWED names %s, which a call passes" % (site(pkg.modules[key], fn), entry))
            elif not passed:
                out.append("%s: %s has a default that no call passes" % (site(pkg.modules[key], fn), entry))
    for entry in allowed:
        if "(" in entry and entry not in allowed_params:
            out.append("%s: ALLOWED names %s, which is not a defaulted parameter" % (_SELF, entry))
    return out


def main() -> int:
    root = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).resolve().parent.parent
    offenders = check(root)
    for line in offenders:
        print(line)
    print("%d offender(s)" % len(offenders))
    return 1 if offenders else 0


if __name__ == "__main__":
    sys.exit(main())
