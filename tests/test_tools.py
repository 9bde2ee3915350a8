"""The repository's own measuring tools."""

from __future__ import annotations

from tools.code_lines import code_lines, main


def test_code_lines_skips_blanks_comments_and_docstrings(tmp_path, capsys):
    """Blank lines, comments and module/class/function docstrings do not
    count; every physical line of a multi-line statement or of a string
    that is not a docstring does."""
    src = '''"""Module docstring,
over two lines."""

import os  # a trailing comment counts as code


class A:
    """Class docstring."""

    # a comment line

    def f(self):
        """Function
        docstring."""
        x = """a string,
        not a docstring"""
        return (x,
                os.sep)
'''
    assert code_lines(src) == 7
    path = tmp_path / "m.py"
    path.write_text(src)
    assert main([str(path), str(path)]) == 0
    assert capsys.readouterr().out.splitlines() == [
        f"7 {path}",
        f"7 {path}",
        "14 total",
    ]


def test_code_lines_counts_every_module_under_a_directory(tmp_path, capsys):
    """A directory argument stands for every ``*.py`` file under it, in
    sorted order, nested packages included; other files do not count."""
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.py").write_text("x = 1\n")
    (tmp_path / "sub" / "b.py").write_text('"""Doc."""\ny = 2\nz = 3\n')
    (tmp_path / "notes.txt").write_text("not python\n")
    assert main([str(tmp_path)]) == 0
    assert capsys.readouterr().out.splitlines() == [
        f"1 {tmp_path / 'a.py'}",
        f"2 {tmp_path / 'sub' / 'b.py'}",
        "3 total",
    ]
