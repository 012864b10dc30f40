#!/usr/bin/env python3
"""Size of the operator sources: code / comment / SQL-string / blank lines.

Usage: python3 dev/loc.py [file.scala ...]
       (default: every src/main/scala/graft/ops/*.scala under the repo root)

Each physical line lands in exactly one class:
  sql      any part of the line sits inside a triple-quoted string — the
           oracle SQL the contract queries carry for the DuckDB compare;
  code     otherwise, any non-blank character outside comments;
  comment  otherwise, any character inside // or /* */ (scaladoc included);
  blank    the rest.
`code` is the size metric the roadmap tracks: operator logic with the
oracle SQL and the prose left out.
"""
import glob
import os
import sys

CLASSES = ("code", "comment", "sql", "blank")


def classify(text):
    """Per-line class list for one Scala source text."""
    flags = [set()]
    i, n = 0, len(text)
    state = "code"          # code | line | block | str | tstr
    depth = 0               # block comments nest in Scala

    def mark(kind):
        flags[-1].add(kind)

    while i < n:
        c = text[i]
        if c == "\n":
            if state == "line":
                state = "code"
            flags.append(set())
            i += 1
            continue
        if state == "code":
            if text.startswith("//", i):
                state = "line"
                mark("comment")
                i += 2
            elif text.startswith("/*", i):
                state, depth = "block", 1
                mark("comment")
                i += 2
            elif text.startswith('"""', i):
                state = "tstr"
                mark("sql")
                i += 3
            elif c == '"':
                state = "str"
                mark("code")
                i += 1
            elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
                # char literal: 'x' or an escape such as '\'' / '\n'
                end = text.index("'", i + 3 if text[i + 1] == "\\" else i + 2)
                mark("code")
                i = end + 1
            else:
                if not c.isspace():
                    mark("code")
                i += 1
        elif state == "line":
            mark("comment")
            i += 1
        elif state == "block":
            mark("comment")
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
                if depth == 0:
                    state = "code"
            else:
                i += 1
        elif state == "str":
            mark("code")
            if c == "\\":
                i += 2
            else:
                if c == '"':
                    state = "code"
                i += 1
        else:  # tstr: closes at the LAST quote of a run of 3+
            mark("sql")
            if text.startswith('"""', i):
                j = i
                while j < n and text[j] == '"':
                    j += 1
                state = "code"
                i = j
            else:
                i += 1
    if text.endswith("\n"):
        flags.pop()
    out = []
    for f in flags:
        out.append(next((k for k in ("sql", "code", "comment") if k in f), "blank"))
    return out


def count(path):
    with open(path, encoding="utf-8") as fh:
        kinds = classify(fh.read())
    return {k: kinds.count(k) for k in CLASSES}


def main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = argv or sorted(glob.glob(os.path.join(root, "src/main/scala/graft/ops/*.scala")))
    rows = [(os.path.basename(p), count(p)) for p in files]
    total = {k: sum(r[k] for _, r in rows) for k in CLASSES}
    width = max([len(name) for name, _ in rows] + [5])
    print(f"{'file':<{width}} " + " ".join(f"{k:>8}" for k in CLASSES) + f" {'total':>8}")
    for name, r in rows + [("TOTAL", total)]:
        print(f"{name:<{width}} " + " ".join(f"{r[k]:>8}" for k in CLASSES)
              + f" {sum(r.values()):>8}")


if __name__ == "__main__":
    main(sys.argv[1:])
