"""``tools/code_lines.py`` counting rules: a code line holds a token that is
not a comment, outside module, class and function docstrings."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import code_lines  # noqa: E402

SOURCE = '''"""Module docstring
over two lines."""

import os  # a trailing comment keeps its line


# a comment-only line
class C:
    """Class docstring."""

    def f(self):
        """Function
        docstring."""
        s = """a string that is
not a docstring"""
        return s
'''


def test_docstrings_comments_and_blank_lines_do_not_count():
    # import, class, def, the two string lines, return
    assert code_lines.code_lines(SOURCE) == 6
    assert code_lines.code_lines("# nothing but a comment\n\n") == 0


def test_main_prints_each_file_and_the_total(tmp_path, monkeypatch, capsys):
    (tmp_path / "a.py").write_text(SOURCE)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.py").write_text("x = 1\n")
    (tmp_path / "notes.txt").write_text("x = 1\n")
    monkeypatch.setattr(sys, "argv", ["code_lines.py", str(tmp_path)])
    assert code_lines.main() == 0
    assert capsys.readouterr().out.splitlines() == [
        "      6  a.py",
        "      1  sub/b.py",
        "      7  total (2 files)",
    ]
