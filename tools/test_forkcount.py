#!/usr/bin/env python3
"""Self-test for tools/forkcount.py — stdlib only, no framework.

Run: python3 tools/test_forkcount.py   (exit 0 = all cases pass)

Covers what a spawn count is trusted for: every PATH spawn of a shimmed
binary is counted once, attributed to the process that started it; the
shimmed binaries still do their work; the command's exit code passes
through.
"""

import subprocess
import sys
import tempfile
from pathlib import Path

TOOL = Path(__file__).resolve().parent / "forkcount.py"


def run(*args, cwd=None):
    r = subprocess.run([sys.executable, str(TOOL), *args], capture_output=True,
                       text=True, cwd=cwd)
    return r.returncode, r.stdout + r.stderr


def rows(out):
    """The printed table as {binary: (spawns, by-parent text)}."""
    table = {}
    for line in out.splitlines():
        parts = line.split(None, 2)
        if len(parts) == 3 and parts[1].isdigit():
            table[parts[0]] = (int(parts[1]), parts[2])
    return table


fails = 0


def check(name, cond, detail=""):
    global fails
    print(("PASS " if cond else "FAIL ") + name + (f"  [{detail}]" if detail and not cond else ""))
    if not cond:
        fails += 1


with tempfile.TemporaryDirectory() as d:
    f = Path(d, "f")
    f.write_text("x")
    Path(d, "link").symlink_to(f)

    # 1. shell spawns: 2 chmod, 1 readlink, 1 ls, no stat or chown
    script = "chmod 600 f; readlink link > readlink.out; ls > /dev/null; chmod 640 f"
    rc, out = run("--", "sh", "-c", script, cwd=d)
    table = rows(out)
    check("exit 0 from a clean command", rc == 0, out)
    check("prints a row per binary, counting each spawn once",
          {b: n for b, (n, _) in table.items()} ==
          {"chmod": 2, "readlink": 1, "ls": 1, "stat": 0, "chown": 0}, out)
    check("attributes spawns to the starting process",
          table.get("chmod", (0, ""))[1] == "sh=2", out)
    check("a binary with no spawns shows no parent", table.get("stat", (0, ""))[1] == "-", out)
    check("shimmed binaries still run", (f.stat().st_mode & 0o777) == 0o640
          and Path(d, "readlink.out").read_text().strip() == str(f), oct(f.stat().st_mode))

    # 2. a non-shell parent: the name of that process, not the shim's
    rc, out = run("--", sys.executable, "-c",
                  "import subprocess; subprocess.run(['chmod', '644', 'f'], check=True)", cwd=d)
    n, parents = rows(out).get("chmod", (0, ""))
    check("a direct spawn names its parent", n == 1 and parents.startswith("python")
          and parents.endswith("=1"), out)

    # 3. the command's exit code passes through
    rc, out = run("--", "sh", "-c", "exit 3")
    check("command exit code passes through", rc == 3, out)

    # 4. no command is a usage error
    rc, out = run()
    check("no command is a usage error", rc == 2, out)

print(f"== {fails} failure(s) ==")
sys.exit(1 if fails else 0)
