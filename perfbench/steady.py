"""Steadiness self-check: two traced runs of one commit must repeat the
structural counts exactly, whatever hypervisor steal did to their walls.

    python3 perfbench/steady.py --workload point_lookup --seed 1

Runs ``run.py --trace 1`` twice with the same seed, prints each run's
structural counts beside its request wall, steal seconds and 1-minute load
average, and exits with code 1 if any count differs.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys

from run import HERE, STRUCTURAL


def traced_run(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--trace", "1"],
        capture_output=True, text=True, check=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    telemetry = json.loads(next(l for l in reversed(lines) if l.startswith("telemetry "))[10:])
    metrics = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    return metrics, telemetry


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=1)
    args = parser.parse_args()
    runs = [traced_run(args.workload, args.seed) for _ in range(2)]
    for i, (m, t) in enumerate(runs, 1):
        wall = m["client.flight_info_ms"] + m["client.do_get_ms"]
        counts = {k: m[k] for k in STRUCTURAL}
        print(f"run {i}: {json.dumps(counts)} client_rpc_ms={wall:.1f} "
              f"steal_s={t['host.steal_s']} loadavg_1m={t['host.loadavg_1m']}")
    same = all(runs[0][0][k] == runs[1][0][k] for k in STRUCTURAL)
    print("structural counts " + ("repeat exactly" if same else "DIFFER"))
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
