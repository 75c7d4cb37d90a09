#!/usr/bin/env python3
"""Count the chmod, readlink, stat and ls processes a command forks.

Usage: python3 tools/forkcount.py [--root DIR] [--depth N] [--log FILE] -- CMD [ARG ...]

Runs CMD with a PATH whose first directory holds shims named chmod,
readlink, stat and ls. Each shim appends one line (its name and its
arguments) to a log, then execs the real program, so CMD behaves as
before. Hadoop's local file system starts these programs by bare name,
so a JVM under CMD picks the shims up.

When CMD exits, prints the number of forks per program, then per output
directory: the first N path components (default 1) of the last argument,
relative to --root (default: the current directory). Paths outside the
root count under "(outside root)". Exits with CMD's exit status.
"""
import argparse
import collections
import os
import shutil
import subprocess
import sys
import tempfile
import urllib.parse

PROGRAMS = ("chmod", "readlink", "stat", "ls")


def write_shims(shim_dir, log):
    for name in PROGRAMS:
        real = shutil.which(name)
        if real is None:
            continue
        path = os.path.join(shim_dir, name)
        with open(path, "w") as f:
            f.write("#!/bin/sh\n"
                    f"printf '%s\\t%s\\n' {name} \"$*\" >> '{log}'\n"
                    f"exec '{real}' \"$@\"\n")
        os.chmod(path, 0o755)


def directory(arg, root, depth):
    if arg.startswith("file:"):  # Hadoop passes some paths as file: URIs
        arg = urllib.parse.urlparse(arg).path
    rel = os.path.relpath(os.path.abspath(arg), root)
    if rel == ".." or rel.startswith(".." + os.sep):
        return "(outside root)"
    return os.path.join(*rel.split(os.sep)[:depth])


def report(log, root, depth):
    """Print the counts of a log written by the shims."""
    by_prog = collections.Counter()
    by_dir = collections.Counter()
    with open(log) as f:
        for line in f:
            name, _, args = line.rstrip("\n").partition("\t")
            by_prog[name] += 1
            by_dir[directory(args.split(" ")[-1], root, depth)] += 1
    print(f"forks: {sum(by_prog.values())}")
    print("by program:")
    for name in PROGRAMS:
        print(f"  {name:<10} {by_prog[name]}")
    print(f"by directory under {root}:")
    for d, n in sorted(by_dir.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:>7}  {d}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=".")
    ap.add_argument("--depth", type=int, default=1)
    ap.add_argument("--log", help="keep the per-fork log here")
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.cmd[1:] if a.cmd[:1] == ["--"] else a.cmd
    if not cmd:
        ap.error("no command given")
    root = os.path.abspath(a.root)
    with tempfile.TemporaryDirectory(prefix="forkcount-") as shim_dir:
        log = os.path.abspath(a.log) if a.log else os.path.join(shim_dir, "forks.log")
        open(log, "w").close()
        write_shims(shim_dir, log)
        env = dict(os.environ, PATH=shim_dir + os.pathsep + os.environ.get("PATH", ""))
        status = subprocess.call(cmd, env=env)
        report(log, root, a.depth)
    sys.exit(status)


if __name__ == "__main__":
    main()
