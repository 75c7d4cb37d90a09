#!/usr/bin/env python3
"""Count the main-code lines changed since a git revision.

Usage: python3 tools/loc.py <rev>

Compares <rev> with the working tree under src/main/scala: tracked
changes from `git diff`, plus untracked files, which count as wholly
added. Prints added and removed lines split into code lines and
comment/scaladoc lines; blank lines are skipped. A line that holds any
code counts as code, even with a trailing comment. Lines are classified
by scanning each whole file version, so a changed line inside a block
comment is known as a comment even when its hunk does not show the
comment's start.
"""
import os
import re
import subprocess
import sys

ROOT = "src/main/scala"
HUNK = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@")
CHAR_LIT = re.compile(r"'(?:\\.|[^\\'\n])'")


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def classify(text):
    """Kind of each line of a Scala source: 'code', 'comment' or None."""
    kinds = []
    depth = 0         # nesting depth of /* */ comments (Scala nests them)
    quote = None      # open string literal: '"' or '"""'
    code = comment = False
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            kinds.append("code" if code else "comment" if comment else None)
            code = comment = False
            if quote == '"':
                quote = None  # an unclosed one-line string ends here
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
            comment = comment or not c.isspace()
        elif quote:
            code = code or not c.isspace()
            if quote == '"""' and text.startswith('"""', i):
                while text.startswith('""""', i):  # trailing quotes belong
                    i += 1                        # to the string
                quote, i = None, i + 3
            elif quote == '"' and c == "\\":
                i += 2
            elif quote == '"' and c == '"':
                quote, i = None, i + 1
            else:
                i += 1
        elif text.startswith("//", i):
            comment = True
            end = text.find("\n", i)
            i = n if end < 0 else end
        elif text.startswith("/*", i):
            depth, comment, i = 1, True, i + 2
        elif text.startswith('"""', i):
            quote, code, i = '"""', True, i + 3
        elif c == '"':
            quote, code, i = '"', True, i + 1
        elif c == "'" and CHAR_LIT.match(text, i):
            code, i = True, CHAR_LIT.match(text, i).end()
        else:
            code = code or not c.isspace()
            i += 1
    if text and not text.endswith("\n"):
        kinds.append("code" if code else "comment" if comment else None)
    return kinds


def old_text(rev, path):
    return git("show", f"{rev}:{path}") if path else ""


def new_text(path):
    if not path:
        return ""
    with open(path, encoding="utf-8") as f:
        return f.read()


def main():
    if len(sys.argv) != 2:
        sys.exit("usage: python3 tools/loc.py <rev>")
    rev = sys.argv[1]
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    counts = {(side, kind): 0 for side in ("added", "removed")
              for kind in ("code", "comment")}

    def tally(side, kinds, lines):
        for ln in lines:
            if kinds[ln - 1]:
                counts[(side, kinds[ln - 1])] += 1

    old = new = None
    old_kinds = new_kinds = []
    header = False  # between "diff --git" and a file's first hunk
    for line in git("diff", "-M", "-U0", "--no-color", rev, "--",
                    ROOT).splitlines():
        if line.startswith("diff --git "):
            header = True
        elif header and line.startswith("--- "):
            old = None if line == "--- /dev/null" else line[6:]
        elif header and line.startswith("+++ "):
            new = None if line == "+++ /dev/null" else line[6:]
            old_kinds = classify(old_text(rev, old))
            new_kinds = classify(new_text(new))
        elif m := HUNK.match(line):
            header = False
            a, b, c, d = (int(g) if g is not None else 1
                          for g in m.groups())
            tally("removed", old_kinds, range(a, a + b))
            tally("added", new_kinds, range(c, c + d))
    for path in git("ls-files", "--others", "--exclude-standard", "--",
                    ROOT).splitlines():
        kinds = classify(new_text(path))
        tally("added", kinds, range(1, len(kinds) + 1))

    print(f"{ROOT}: {rev} -> working tree (blank lines skipped)")
    print(f"{'':8}{'added':>8}{'removed':>9}{'net':>8}")
    for kind in ("code", "comment", "total"):
        kinds = ("code", "comment") if kind == "total" else (kind,)
        add = sum(counts[("added", k)] for k in kinds)
        rem = sum(counts[("removed", k)] for k in kinds)
        print(f"{kind:8}{add:>8}{rem:>9}{add - rem:>+8}")


if __name__ == "__main__":
    main()
