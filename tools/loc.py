#!/usr/bin/env python3
"""Line delta of src/main and src/test against a git ref.

    python3 tools/loc.py <base-ref>

Compares the working tree (untracked files included, ignored ones not)
with <base-ref> and prints, for src/main and src/test, the lines added,
removed and the net change, twice: once over every line of every file,
as `git diff --numstat` counts them, and once over the Scala code lines
only, with blank lines and `//`, `/* */` and scaladoc comments left
out. Needs only Python's standard library and git.
"""

import os
import re
import subprocess
import sys
import tempfile

DIRS = ["src/main", "src/test"]
CHAR_LITERAL = re.compile(r"'(\\.|[^\\'\n])'")


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True).stdout


def changed_paths(ref):
    """Files under DIRS that differ from `ref`: tracked changes and
    untracked files."""
    paths = git("diff", "--name-only", "--no-renames", ref, "--", *DIRS).decode().split("\n")
    paths += git("ls-files", "--others", "--exclude-standard", "--", *DIRS).decode().split("\n")
    return sorted(set(p for p in paths if p))


def old_text(ref, path):
    r = subprocess.run(["git", "show", f"{ref}:{path}"], capture_output=True)
    return r.stdout if r.returncode == 0 else b""


def new_text(path):
    if not os.path.isfile(path):
        return b""
    with open(path, "rb") as f:
        return f.read()


def scala_code(text):
    """The non-blank lines of Scala source `text` with its comments
    removed; string and character literals are kept whole."""
    out, i, n, depth = [], 0, len(text), 0
    while i < n:
        if depth:  # inside a block comment, which nests in Scala
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                if text[i] == "\n":
                    out.append("\n")
                i += 1
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(text[i:j])
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(text[i:j])
            i = j
        elif text[i] == "'" and CHAR_LITERAL.match(text, i):
            m = CHAR_LITERAL.match(text, i)
            out.append(m.group(0))
            i = m.end()
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        else:
            out.append(text[i])
            i += 1
    return "".join(line + "\n" for line in "".join(out).split("\n") if line.strip()).encode()


def numstat(old, new):
    """(added, removed) lines between two texts, as git counts them."""
    if old == new:
        return 0, 0
    with tempfile.TemporaryDirectory() as d:
        a, b = os.path.join(d, "a"), os.path.join(d, "b")
        for path, text in ((a, old), (b, new)):
            with open(path, "wb") as f:
                f.write(text)
        r = subprocess.run(["git", "diff", "--no-index", "--numstat", a, b], capture_output=True)
    fields = r.stdout.decode().split("\t")
    if len(fields) < 2 or fields[0] == "-":  # identical or binary
        return 0, 0
    return int(fields[0]), int(fields[1])


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.strip())
    ref = sys.argv[1]
    os.chdir(git("rev-parse", "--show-toplevel").decode().strip())
    totals = {(kind, top): [0, 0] for kind in ("all", "code") for top in DIRS}
    for path in changed_paths(ref):
        top = next(t for t in DIRS if path.startswith(t + "/"))
        old, new = old_text(ref, path), new_text(path)
        for kind, (a, r) in [("all", numstat(old, new))] + (
                [("code", numstat(scala_code(old.decode("utf-8")), scala_code(new.decode("utf-8"))))]
                if path.endswith(".scala") else []):
            totals[(kind, top)][0] += a
            totals[(kind, top)][1] += r
    print(f"against {ref}{'':12}added  removed      net")
    for kind, title in (("all", "all lines, every file"),
                        ("code", "Scala code lines (no blank or comment lines)")):
        print(title)
        for top in DIRS:
            a, r = totals[(kind, top)]
            print(f"  {top:<20}{a:>7}{r:>9}{a - r:>+9}")


if __name__ == "__main__":
    main()
