"""Count non-blank, non-comment Scala lines, per file and in total.

A line counts when any of it is code or string literal after `//` line
comments and `/* */` block comments (which nest in Scala) are removed.
Comment markers inside string and character literals are code, and a
triple-quoted string counts on every line it spans.

    python3 tools/loc.py [--rev REV] [--defs | --stacked-docs] [PATH ...]

PATHs are files or directories relative to the repo root (default
`src/main`). With `--rev`, files are read from that git revision instead of
the working tree. With `--defs`, each top-level `def` (one not nested in
another def) is listed with its own count instead: the lines from its
`def` keyword up to the next member at its brace depth, or the brace that
closes its enclosing body. A def nested inside counts in its parent.
With `--stacked-docs`, each scaladoc whose next non-blank line opens another
`/**` is listed as `path:line`: Scaladoc attaches only the last of two
stacked doc comments, so the first one documents nothing.
"""
import argparse
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def count(text):
    """Number of lines of `text` holding code or string-literal characters."""
    return len(scan(text)[0])


def scan(text):
    """(set of code line indices, [(line, +1 | -1)] for each code brace,
    [(start, end)] text offsets of each outermost `/** */` comment)."""
    code_lines = set()
    braces = []
    docs = []
    line = 0
    depth = 0  # block comment nesting
    doc = None  # offset of the open outermost comment when it is a scaladoc
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
                if not depth and doc is not None:
                    docs.append((doc, i))
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            doc = i if text.startswith("/**", i) and not text.startswith("/**/", i) else None
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
            if c in "{}":
                braces.append((line, 1 if c == "{" else -1))
            i += 1
    return code_lines, braces, docs


MODIFIERS = r"(?:@\w+\s+|(?:private|protected)(?:\[[\w.]+\])?\s+|" \
    r"(?:override|final|implicit|lazy|sealed|abstract|case)\s+)*"
DEF = re.compile(r"^\s*" + MODIFIERS + r"def\s+([^\s(\[:=]+)")
MEMBER = re.compile(r"^\s*" + MODIFIERS + r"(?:def|val|var|object|class|trait|type)\b")


def defs(text):
    """[(name, first line (1-based), count)] of each top-level def."""
    code_lines, braces, _ = scan(text)
    lines = text.split("\n")
    start = [0] * (len(lines) + 1)  # brace depth at the start of each line
    low = [0] * (len(lines) + 1)  # lowest depth reached on the line
    deltas = {}
    for ln, d in braces:
        deltas.setdefault(ln, []).append(d)
    depth = 0
    for ln in range(len(lines)):
        start[ln] = low[ln] = depth
        for d in deltas.get(ln, []):
            depth += d
            low[ln] = min(low[ln], depth)
    out = []
    cur = None  # [name, first line, depth, count]
    for ln, src in enumerate(lines):
        code = ln in code_lines
        if cur and (low[ln] < cur[2] or (
                code and start[ln] == cur[2] and MEMBER.match(src))):
            out.append((cur[0], cur[1] + 1, cur[3]))
            cur = None
        if cur is None and code:
            m = DEF.match(src)
            if m:
                cur = [m.group(1), ln, start[ln], 0]
        if cur and code:
            cur[3] += 1
    if cur:
        out.append((cur[0], cur[1] + 1, cur[3]))
    return out


def stacked_docs(text):
    """First lines (1-based) of the scaladocs followed, past blank space
    only, by another scaladoc."""
    docs = scan(text)[2]
    opens = {start for start, _ in docs}
    out = []
    for start, end in docs:
        nxt = end
        while nxt < len(text) and text[nxt].isspace():
            nxt += 1
        if nxt in opens:
            out.append(text.count("\n", 0, start) + 1)
    return out


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
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--defs", action="store_true", help="count per top-level def")
    mode.add_argument("--stacked-docs", action="store_true",
                      help="list scaladocs directly followed by another scaladoc")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    args = ap.parse_args(argv)
    if args.defs:
        for p, text in files(args.paths, args.rev):
            for name, line, c in defs(text):
                print(f"{c:7d}  {p}:{line}  {name}")
        return
    if args.stacked_docs:
        for p, text in files(args.paths, args.rev):
            for line in stacked_docs(text):
                print(f"{p}:{line}")
        return
    per_file = counts(args.paths, args.rev)
    for p, c in per_file.items():
        print(f"{c:7d}  {p}")
    print(f"{sum(per_file.values()):7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
