"""Print the layer profile of a traced run, and its tracing overhead.

    python3 perfbench/run.py --workload serve-mix --seed 3 --seconds 10 --trace 0
    python3 perfbench/run.py --workload serve-mix --seed 3 --seconds 10 --trace 1
    python3 perfbench/layer_profile.py --workload serve-mix --seed 3

Every run keeps its numbers under .perfbench_work/results/: an untraced run
its end-to-end metrics, a traced run its spans, per-layer metrics and the
end-to-end metrics it saw while tracing. The overhead is the traced run's
query latency and throughput against the untraced run of the same seed.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
RESULTS = HERE.parent / ".perfbench_work" / "results"
sys.path.insert(0, str(HERE))

import spans  # noqa: E402


def report(workload: str, seed: int, file=sys.stderr) -> bool:
    tag = f"{workload}-seed{seed}"
    traced = RESULTS / f"trace-{tag}.json"
    if not traced.exists():
        print(f"no traced run of {tag} under {RESULTS}", file=file)
        return False
    with open(traced) as f:
        t = json.load(f)
    spans.print_profile(t["spans"], t["layers"], file)
    untraced = RESULTS / f"e2e-{tag}.json"
    if untraced.exists():
        with open(untraced) as f:
            u = json.load(f)
        spans.print_overhead({k: v[0] for k, v in t["e2e"].items()},
                             {k: v[0] for k, v in u.items()}, file)
    else:
        print(f"\n(no untraced run of {tag}: tracing overhead not shown)",
              file=file)
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    return 0 if report(args.workload, args.seed, sys.stdout) else 1


if __name__ == "__main__":
    sys.exit(main())
