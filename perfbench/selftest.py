"""Self-test: a benchmark run leaves no process behind.

    python3 perfbench/selftest.py

Runs one short query-head run with a unique marker in its environment, then
scans /proc for any process that still carries the marker. Every process the
run starts (the Spark JVM, its Python daemon and workers) inherits the
environment, so a survivor cannot hide from the scan. The test first proves
the scan itself works by planting a marked `sleep` and finding it. Exits 0
when the run was correct and nothing outlived it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import procs  # noqa: E402

MARKER = "PERFBENCH_SELFTEST"


def marked(token: str) -> list[int]:
    out = []
    needle = f"{MARKER}={token}".encode()
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            pass
    return out


def main() -> int:
    procs.become_subreaper()  # orphans of the run re-parent to us, not init
    token = uuid.uuid4().hex
    env = dict(os.environ, **{MARKER: token})

    plant = subprocess.Popen(["sleep", "60"], env=env)
    found = marked(token)
    plant.kill()
    plant.wait()
    if found != [plant.pid]:
        print(f"FAIL: the /proc scan found {found}, expected [{plant.pid}]")
        return 1

    # output goes to files, not pipes: a survivor holding the pipe open
    # would otherwise stall the read until it exits and hide from the scan
    logs = HERE.parent / ".perfbench_work" / f"selftest-{token}"
    logs.mkdir(parents=True)
    t0 = time.monotonic()
    with open(logs / "out", "w") as out, open(logs / "err", "w") as err:
        run = subprocess.Popen(
            [sys.executable, str(HERE / "run.py"), "--workload", "query-head",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            env=env, stdout=out, stderr=err)
        run.wait(timeout=180)
    wall = time.monotonic() - t0
    survivors = marked(token)
    lines = (logs / "out").read_text().strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    procs.wait_tree_gone(timeout_s=0)  # kill and reap the survivors

    ok = run.returncode == 0 and result.get("correct") is True and not survivors
    print(f"run exit={run.returncode} wall={wall:.1f}s correct="
          f"{result.get('correct')} attempted={result.get('attempted')} "
          f"failed={result.get('failed')} survivors={survivors}")
    if not ok:
        print((logs / "err").read_text()[-4000:])
    shutil.rmtree(logs, ignore_errors=True)
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
