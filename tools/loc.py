"""Count non-blank, non-comment Scala lines, per file and in total.

A line counts when any of it is code or string literal after `//` line
comments and `/* */` block comments (which nest in Scala) are removed.
Comment markers inside string and character literals are code, and a
triple-quoted string counts on every line it spans.

    python3 tools/loc.py [--rev REV] [PATH ...]

PATHs are files or directories relative to the repo root (default
`src/main`). With `--rev`, files are read from that git revision instead of
the working tree.
"""
import argparse
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def count(text):
    """Number of lines of `text` holding code or string-literal characters."""
    code_lines = set()
    line = 0
    depth = 0  # block comment nesting
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if c.isspace():
            i += 1
            continue
        code_lines.add(line)
        if text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end
            while text.startswith('""""', end):  # closing run: the last three
                end += 1
            for _ in range(text.count("\n", i, end)):
                line += 1
                code_lines.add(line)
            i = end + 3
        elif c == '"':
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1 if i < n and text[i] == '"' else 0
        elif c == "'" and text.startswith("\\u", i + 1):
            i += 8  # '\uXXXX'
        elif c == "'" and text.startswith("\\", i + 1):
            i += 4  # '\n'
        elif c == "'" and i + 2 < n and text[i + 2] == "'":
            i += 3  # 'x'
        else:
            i += 1
    return len(code_lines)


def files(paths, rev):
    """(path, text) of every .scala file under `paths`, sorted by path."""
    if rev:
        out = subprocess.run(
            ["git", "-C", ROOT, "ls-tree", "-r", "--name-only", rev, "--", *paths],
            check=True, capture_output=True, text=True).stdout
        for p in sorted(out.split()):
            if p.endswith(".scala"):
                yield p, subprocess.run(
                    ["git", "-C", ROOT, "show", f"{rev}:{p}"],
                    check=True, capture_output=True, text=True).stdout
        return
    found = []
    for p in paths:
        full = os.path.join(ROOT, p)
        if os.path.isfile(full):
            found.append(p)
        for d, _, names in os.walk(full):
            found += [os.path.relpath(os.path.join(d, f), ROOT)
                      for f in names if f.endswith(".scala")]
    for p in sorted(found):
        with open(os.path.join(ROOT, p), encoding="utf-8") as f:
            yield p, f.read()


def counts(paths=("src/main",), rev=None):
    """{path: count} for every .scala file under `paths`."""
    return {p: count(t) for p, t in files(paths, rev)}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", help="git revision to read instead of the working tree")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    args = ap.parse_args(argv)
    per_file = counts(args.paths, args.rev)
    for p, c in per_file.items():
        print(f"{c:7d}  {p}")
    print(f"{sum(per_file.values()):7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
