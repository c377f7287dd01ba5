"""Line counts per Python file: physical, code, docstring and comment.

    python tools/loc.py mlb_data_pipeline_spark/operators/snapshots.py ...
    python tools/loc.py mlb_data_pipeline_spark          # every .py below

Counted from the token stream (``tokenize``), so strings and comments
inside code never confuse it:

* a DOCSTRING line belongs to a string that stands alone as a
  statement (module, class and function docstrings, bare string
  statements);
* a COMMENT line holds a comment and no code;
* a CODE line holds any other token;
* the rest are blank. A line counts in one class only.

A directory argument expands to its ``.py`` files; with more than one
file a TOTAL row follows."""

from __future__ import annotations

import argparse
import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.NEWLINE,
    tokenize.NL,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def count(source: str) -> dict[str, int]:
    """{physical, code, docstring, comment} line counts of ``source``."""
    code: set[int] = set()
    doc: set[int] = set()
    comment: set[int] = set()
    toks = list(tokenize.generate_tokens(io.StringIO(source).readline))
    stmt_start = True  # the next significant token opens a statement
    for i, tok in enumerate(toks):
        lines = range(tok.start[0], tok.end[0] + 1)
        if tok.type == tokenize.COMMENT:
            comment.update(lines)
        elif tok.type not in _LAYOUT:
            nxt = next((t for t in toks[i + 1 :] if t.type != tokenize.COMMENT), None)
            lone = nxt is None or nxt.type in (tokenize.NEWLINE, tokenize.ENDMARKER)
            if tok.type == tokenize.STRING and stmt_start and lone:
                doc.update(lines)
            else:
                code.update(lines)
        if tok.type in (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT):
            stmt_start = True
        elif tok.type not in (tokenize.NL, tokenize.COMMENT, tokenize.ENCODING):
            stmt_start = False
    doc -= code
    comment -= code | doc
    return {
        "physical": len(source.splitlines()),
        "code": len(code),
        "docstring": len(doc),
        "comment": len(comment),
    }


def _files(args: list[str]) -> list[str]:
    out: list[str] = []
    for a in args:
        if os.path.isdir(a):
            for root, dirs, names in os.walk(a):
                dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
                out += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
        else:
            out.append(a)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+", help=".py files or directories")
    files = _files(ap.parse_args(argv).paths)
    keys = ("physical", "code", "docstring", "comment")
    total = dict.fromkeys(keys, 0)
    print(f"{'physical':>9} {'code':>7} {'docstr':>7} {'comment':>7}  file")
    for fn in files:
        with open(fn, encoding="utf-8") as f:
            c = count(f.read())
        for k in keys:
            total[k] += c[k]
        print(" ".join(f"{c[k]:>{9 if k == 'physical' else 7}}" for k in keys) + f"  {fn}")
    if len(files) > 1:
        print(" ".join(f"{total[k]:>{9 if k == 'physical' else 7}}" for k in keys) + "  TOTAL")
    return 0


if __name__ == "__main__":
    sys.exit(main())
