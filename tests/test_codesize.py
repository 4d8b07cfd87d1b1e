"""tools/codesize.py: the code-line counter and the clone scan that code
sizes in ROADMAP.md and CHANGES.md are quoted from."""

from __future__ import annotations

import textwrap

from tools.codesize import clone_lines, code_lines


def test_code_lines_skip_blanks_comments_and_docstrings():
    src = textwrap.dedent(
        '''\
        """Module docstring,
        on two lines."""
        # a comment

        import os  # a trailing comment leaves the line code


        def f(x):
            """Function docstring."""
            s = """a string
        over three
        lines"""
            return (x +
                    1)


        class C:
            "a single-quoted docstring"
            y = "not a docstring"
        '''
    )
    # import; def; the three string lines; both lines of the return;
    # class; y
    assert code_lines(src) == 9


def test_code_lines_count_a_string_that_is_part_of_an_expression():
    assert code_lines('x = 1\n"a" + "b"\n') == 2
    assert code_lines('x = 1\n"a"\n') == 1
    assert code_lines("") == 0


def _numbered(prefix: str, n: int) -> str:
    return "".join(f"{prefix}_statement_{i} = {i}\n" for i in range(n))


def test_clone_lines_count_second_and_later_copies_of_six_line_windows():
    block = _numbered("shared", 6)
    a = block + _numbered("only_in_a", 3)
    b = _numbered("only_in_b", 2) + block + block
    assert clone_lines({"a.py": a, "b.py": b}) == {"a.py": 0, "b.py": 12}
    # sorted by name: the copy in "a.py" is the first one wherever it sits
    assert clone_lines({"b.py": a, "a.py": b})["a.py"] == 6


def test_clone_lines_skip_comments_and_short_lines_and_normalize_space():
    block = _numbered("shared", 6)
    spaced = "".join(
        "    " + line.replace(" = ", "   =   ") + "\n    # a comment\nx = 1\n"
        for line in block.splitlines()
    )
    assert clone_lines({"a.py": block, "b.py": spaced}) == {"a.py": 0, "b.py": 6}
    assert clone_lines({"a.py": _numbered("shared", 5) * 2}) == {"a.py": 0}
