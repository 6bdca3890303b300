#!/usr/bin/env python3
"""Count the processes a command starts for chmod, readlink, ls, stat and chown.

Usage:
  python3 tools/forkcount.py -- CMD [ARG ...]

Runs CMD with a temporary directory of PATH shims at the front of its
PATH. Each shim logs one line (its binary and the name of the process
that started it, from /proc/<ppid>/comm) and then execs the real binary,
so CMD behaves as before. When CMD exits, prints one row per binary:
the total spawns and the spawns by each parent process name (a JVM shows
as "java"). Exits with CMD's exit code (2 if a shimmed binary is not on PATH).

Only processes found through PATH are counted: a program that runs
/bin/chmod by absolute path is not seen.
"""

import argparse
import collections
import os
import shutil
import subprocess
import sys
import tempfile

BINS = ("chmod", "readlink", "ls", "stat", "chown")

# the shim uses only shell builtins before its exec, so logging starts
# no process of its own
SHIM = """#!/bin/sh
parent=?
read -r parent < /proc/$PPID/comm 2>/dev/null
printf '%s\\t%s\\n' {name} "$parent" >> {log}
exec {real} "$@"
"""


def shell_quote(s):
    return "'" + s.replace("'", "'\\''") + "'"


def write_shims(shim_dir, log, path):
    for name in BINS:
        real = shutil.which(name, path=path)
        if real is None:
            raise FileNotFoundError(f"{name} is not on PATH")
        shim = os.path.join(shim_dir, name)
        with open(shim, "w") as f:
            f.write(SHIM.format(name=name, log=shell_quote(log), real=shell_quote(real)))
        os.chmod(shim, 0o755)


def count(log):
    """{binary: Counter of spawns by parent process name}"""
    by_parent = {b: collections.Counter() for b in BINS}
    if os.path.exists(log):
        with open(log) as f:
            for line in f:
                name, _, parent = line.rstrip("\n").partition("\t")
                by_parent[name][parent] += 1
    return by_parent


def report(by_parent):
    rows = [f"{'binary':<10} {'spawns':>7}  by parent"]
    for b, parents in by_parent.items():
        shown = ", ".join(f"{p}={k}" for p, k in parents.most_common())
        rows.append(f"{b:<10} {sum(parents.values()):>7}  {shown or '-'}")
    return "\n".join(rows)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("cmd", nargs=argparse.REMAINDER, help="-- CMD [ARG ...]")
    args = ap.parse_args(argv)
    cmd = args.cmd[1:] if args.cmd[:1] == ["--"] else args.cmd
    if not cmd:
        ap.error("no command given")
    path = os.environ.get("PATH", os.defpath)
    with tempfile.TemporaryDirectory(prefix="forkcount") as tmp:
        shim_dir = os.path.join(tmp, "bin")
        os.mkdir(shim_dir)
        log = os.path.join(tmp, "spawns.log")
        try:
            write_shims(shim_dir, log, path)
        except FileNotFoundError as e:
            print(f"forkcount: {e}", file=sys.stderr)
            return 2
        env = dict(os.environ, PATH=shim_dir + os.pathsep + path)
        rc = subprocess.call(cmd, env=env)
        counts = count(log)
    print(report(counts))
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
