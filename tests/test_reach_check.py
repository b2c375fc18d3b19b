"""``tools/reach_check.py``: every top-level package definition is reached
from a program, every defaulted parameter is passed by some call, and the
check names each offender with its ``file:line``."""

import sys
import textwrap
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from reach_check import ALLOWED, check  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def test_the_package_passes_in_under_five_seconds():
    t0 = time.perf_counter()
    assert check(ROOT) == []
    assert time.perf_counter() - t0 < 5
    assert len(ALLOWED) <= 26 and all(ALLOWED.values())


def _repo(tmp_path: Path, files: dict[str, str]) -> Path:
    for rel, src in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(textwrap.dedent(src))
    return tmp_path


def test_names_an_unreached_function_and_a_never_passed_option(tmp_path):
    root = _repo(tmp_path, {
        "tika_wrap_spark/__init__.py": '_API = {"run": ("tika_wrap_spark.mod", "run")}\n',
        "tika_wrap_spark/mod.py": """\
            from tika_wrap_spark.util import helper


            def run(x, extra: int = 0, scale: int = 1):
                return helper(x) * scale


            def orphan():
                return 1


            class Box:
                def __init__(self, data, i=0):
                    self.data, self.i = data, i
            """,
        "tika_wrap_spark/util.py": """\
            def helper(x, pad=None):
                return x
            """,
        # tests pass options, but reach nothing
        "tests/test_mod.py": """\
            from tika_wrap_spark.mod import Box, orphan, run

            def test_it():
                assert run(1, scale=2) == 2 and orphan() == 1
                Box(b"", 3)
            """,
        "tools/use.py": "from tika_wrap_spark.util import helper\nhelper(1, None)\n",
    })
    assert check(root, {}) == [
        "tika_wrap_spark/mod.py:8: mod.orphan is reached from no program",
        "tika_wrap_spark/mod.py:12: mod.Box is reached from no program",
        "tika_wrap_spark/mod.py:4: mod.run(extra) has a default that no call passes",
    ]
    # an allowlisted definition is a root and covers its own parameters;
    # an entry for something a program reaches is stale
    allowed = {"mod.orphan": "kept", "mod.Box": "kept", "util.helper": "stale",
               "mod.run(extra)": "kept"}
    assert check(root, allowed) == [
        "tika_wrap_spark/util.py:1: ALLOWED names util.helper, which a program reaches",
    ]
