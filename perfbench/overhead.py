"""Tracing overhead: run one workload and seed untraced, then traced, and
print traced minus untraced for every end-to-end number both report.

    python3 perfbench/overhead.py olap_dsl 1 [seconds, default 20]
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).with_name("run.py")


def detail(workload: str, seed: str, seconds: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", seed,
         "--seconds", seconds, "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.splitlines()
    return json.loads(out[-2])["end_to_end"]


def main(argv: list[str]) -> None:
    workload, seed = argv[0], argv[1]
    seconds = argv[2] if len(argv) > 2 else "20"
    plain, traced = (detail(workload, seed, seconds, t) for t in (0, 1))
    for name, m in plain.items():
        if name in traced:
            d = traced[name]["value"] - m["value"]
            share = d / m["value"] if m["value"] else 0.0
            print(f"{name}: untraced {m['value']:.4g} traced {traced[name]['value']:.4g} "
                  f"overhead {d:+.4g} {m['unit']} ({share:+.1%})")


if __name__ == "__main__":
    main(sys.argv[1:])
