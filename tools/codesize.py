"""Code size and copied code of Python sources.

Usage:

    python tools/codesize.py [path ...]

Each path is a ``.py`` file or a directory searched recursively for
``.py`` files; the default is the package.  One line per file, then a
``total`` line, each with two numbers:

- ``code``: lines that hold part of a token other than a comment, a
  docstring or a line break.  A multi-line string counts every line it
  spans; blank lines and comment-only lines do not count.  A docstring
  is a string literal that is a whole statement on its own.
- ``clone``: lines that sit in a second or later copy of a 6-line
  window.  Each source line is whitespace-normalized; comment lines
  and lines under 12 characters are skipped.  Windows of 6 consecutive
  kept lines are compared across all the files given, in sorted path
  order, so the first copy of a window is never counted.
"""

from __future__ import annotations

import io
import sys
import tokenize
from collections.abc import Iterable
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "eecs485_p4_mapreduce_spark"

WINDOW = 6
MIN_CHARS = 12

_LAYOUT = {
    tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}
_STATEMENT_START = {None, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}


def code_lines(src: str) -> int:
    """Number of code lines of ``src`` (see the module docstring)."""
    toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    lines: set[int] = set()
    prev = None  # type of the last token that is not a comment or NL
    for i, t in enumerate(toks):
        if t.type in (tokenize.NL, tokenize.COMMENT):
            continue
        starts_statement = prev in _STATEMENT_START
        prev = t.type
        if t.type in _LAYOUT:
            continue
        if t.type == tokenize.STRING and starts_statement:
            nxt = next(u for u in toks[i + 1:] if u.type not in (tokenize.NL, tokenize.COMMENT))
            if nxt.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                continue  # a docstring
        lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def _kept_lines(src: str) -> list[tuple[int, str]]:
    kept = []
    for no, line in enumerate(src.splitlines(), 1):
        s = " ".join(line.split())
        if s.startswith("#") or len(s) < MIN_CHARS:
            continue
        kept.append((no, s))
    return kept


def clone_lines(sources: dict[str, str]) -> dict[str, int]:
    """Per source name, its lines in a second or later copy of a window.

    ``sources`` is scanned in sorted key order."""
    seen: set[tuple[str, ...]] = set()
    marked: dict[str, set[int]] = {name: set() for name in sources}
    for name in sorted(sources):
        kept = _kept_lines(sources[name])
        for k in range(len(kept) - WINDOW + 1):
            window = kept[k:k + WINDOW]
            key = tuple(s for _, s in window)
            if key in seen:
                marked[name].update(no for no, _ in window)
            else:
                seen.add(key)
    return {name: len(lines) for name, lines in marked.items()}


def python_files(paths: Iterable[Path]) -> list[Path]:
    files: set[Path] = set()
    for p in paths:
        files.update(p.rglob("*.py") if p.is_dir() else [p])
    return sorted(files)


def main(argv: list[str]) -> None:
    files = python_files([Path(a).resolve() for a in argv] or [PACKAGE])
    sources = {str(f): f.read_text() for f in files}
    clones = clone_lines(sources)
    rows = [(code_lines(src), clones[name], name) for name, src in sources.items()]
    print(f"{'code':>7} {'clone':>6}  file")
    for code, clone, name in rows:
        shown = Path(name).relative_to(REPO) if Path(name).is_relative_to(REPO) else name
        print(f"{code:>7} {clone:>6}  {shown}")
    print(f"{sum(r[0] for r in rows):>7} {sum(r[1] for r in rows):>6}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
