"""Same-window A/B of the benchmark: this checkout against a base revision.

    python3 scripts/ab.py --base <rev> --workload repl_cdc analytics --seeds 121-130

The base revision is checked out as a temporary git worktree, removed
when the script ends. Each seed is one pair of untraced runs,
``python3 perfbench/run.py --workload W --seed S --seconds 5 --trace 0``,
one per side; the side that runs first alternates from pair to pair so
that a drift of the host's load does not favour either side. Only the
last stdout line of a run is read. Every run is printed, then one row
per end-to-end metric of BENCHMARK.json: median and quartiles per side,
the pairs the change won, failed ops per side (a run that printed no
result counts as one), and a verdict against the metric's bound. Run
from the repository root; stdlib only.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3), as the benchmark's spread is defined."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def summarize(base: list[float], change: list[float], bound: float,
              better: str = "lower") -> dict:
    """Compare one metric's paired runs (``base[i]`` with ``change[i]``).

    ``spread`` is the wider side's (Q3 - Q1) / median. ``delta`` is the
    change's median relative to the base's, signed so that a positive
    value is worse. The verdict is "unresolved" when the spread is wider
    than ``bound``, "regression" when the change is worse by more than
    ``bound``, "gain" when it won at least 9 pairs in 10 and its median
    moved by more than the base's interquartile range, else "flat"."""
    sign = 1 if better == "lower" else -1
    bq, cq = quartiles(base), quartiles(change)
    spread = max((q[2] - q[0]) / q[1] for q in (bq, cq))
    delta = sign * (cq[1] / bq[1] - 1)
    wins = sum(sign * (c - b) < 0 for b, c in zip(base, change))
    if spread > bound:
        verdict = "unresolved"
    elif delta > bound:
        verdict = "regression"
    elif wins >= 0.9 * len(base) and abs(cq[1] - bq[1]) > bq[2] - bq[0]:
        verdict = "gain"
    else:
        verdict = "flat"
    return {"base": bq, "change": cq, "spread": spread, "delta": delta,
            "wins": wins, "n": len(base), "verdict": verdict}


def parse_seeds(text: str) -> list[int]:
    """``121-130`` or ``1,5,9``."""
    if "-" in text:
        lo, hi = (int(v) for v in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(v) for v in text.split(",")]


def run_once(tree: Path, workload: str, seed: int) -> dict | None:
    """One untraced run in ``tree``: its result line, or None if it
    printed none."""
    proc = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "5", "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None


def compare(trees: dict[str, Path], workload: str, seeds: list[int],
            metrics: list[dict]) -> None:
    runs: dict[str, list[dict | None]] = {"base": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            res = run_once(trees[side], workload, seed)
            runs[side].append(res)
            vals = {m["name"]: res["metrics"][m["name"]]["value"]
                    for m in metrics} if res else "no result"
            fails = res["failed"] if res else "-"
            print(f"{workload} seed {seed} {side}: {vals} failed={fails}",
                  flush=True)
    failed = {s: sum(r["failed"] if r else 1 for r in rs)
              for s, rs in runs.items()}
    pairs = [(b, c) for b, c in zip(runs["base"], runs["change"]) if b and c]
    print(f"\n{workload}: {len(pairs)} complete pairs, failed ops "
          f"base {failed['base']} / change {failed['change']}")
    if len(pairs) < 2:
        return
    print("metric | base median (Q1-Q3) | change median (Q1-Q3) | "
          "delta | wins | spread | bound | verdict")
    for m in metrics:
        name = m["name"]
        s = summarize([b["metrics"][name]["value"] for b, _ in pairs],
                      [c["metrics"][name]["value"] for _, c in pairs],
                      m["bound"], m["better"])
        b, c = s["base"], s["change"]
        print(f"{name} | {b[1]:.4g} ({b[0]:.4g}-{b[2]:.4g}) | "
              f"{c[1]:.4g} ({c[0]:.4g}-{c[2]:.4g}) | {s['delta']:+.1%} | "
              f"{s['wins']}/{s['n']} | {s['spread']:.3f} | {m['bound']} | "
              f"{s['verdict']}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare")
    ap.add_argument("--workload", nargs="+", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 121-130 or 1,2,3")
    args = ap.parse_args()
    metrics = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]
    tmp = Path(tempfile.mkdtemp(prefix="ab-"))
    base = tmp / "base"
    subprocess.run(
        ["git", "worktree", "add", "--detach", str(base), args.base],
        cwd=ROOT, check=True, capture_output=True,
    )
    try:
        for workload in args.workload:
            compare({"base": base, "change": ROOT}, workload,
                    parse_seeds(args.seeds), metrics)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", str(base)],
                       cwd=ROOT, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
