"""Interleaved A/B of ``lakebench/run.py``: a parent commit against the
current checkout, on fresh seeds.

    python tools/lakebench_ab.py --pairs 10 --seed 4001 \
        --workload cdc_ingest --workload feed_consumers

The parent (``--base``, default ``HEAD^``) is checked out into a
temporary ``git worktree`` that is removed when the runs end, or read
from an existing checkout given as ``--base-dir``. Pair ``i`` runs both
sides on seed ``--seed + i``; even pairs run the parent first, odd pairs
the change, so host drift does not favour one side. Each run is
``python3 lakebench/run.py --workload W --seed S --seconds X --trace T``
started in that side's checkout; its last stdout line is parsed as the
result. The tool never imports or edits anything under ``lakebench/``.

For every workload and metric it prints each side's median and
quartiles, how many pairs the change won (in the metric's ``better``
direction from ``BENCHMARK.json``; ``lower`` when unlisted), and
whether two rules hold: the change wins at least 9 of every 10 pairs,
and the medians differ in the better direction by more than the
parent's interquartile range. Every run's ``correct`` flag and failed
operations are listed too. ``--out`` appends one JSON line per run.

Run it alone: another Spark job on the host moves the timings.
"""

from __future__ import annotations

import argparse
import json
import math
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def directions(repo: Path) -> dict[str, str]:
    """metric name -> "lower" | "higher", from the benchmark declaration."""
    try:
        spec = json.loads((repo / "BENCHMARK.json").read_text())
    except (OSError, ValueError):
        return {}
    return {m["name"]: m.get("better", "lower")
            for key in ("end_to_end", "per_layer") for m in spec.get(key, [])}


def run_one(checkout: Path, workload: str, seed: int, seconds: float,
            trace: int) -> dict:
    cmd = [sys.executable, "lakebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        tail = (p.stderr or p.stdout).strip().splitlines()[-5:]
        out = {"correct": False, "attempted": 0, "failed": None,
               "metrics": {}, "error": f"exit {p.returncode}: "
                                      + " | ".join(tail)}
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    """One row per metric present in every run of both sides."""
    names = None
    for a, b in pairs:
        got = set(a.get("metrics", {})) & set(b.get("metrics", {}))
        names = got if names is None else names & got
    rows = []
    for name in sorted(names or ()):
        lower = better.get(name, "lower") == "lower"
        par = [a["metrics"][name]["value"] for a, _ in pairs]
        chg = [b["metrics"][name]["value"] for _, b in pairs]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        p1, pm, p3 = quartiles(par)
        c1, cm, c3 = quartiles(chg)
        gain = (pm - cm) if lower else (cm - pm)
        rows.append({
            "metric": name, "better": "lower" if lower else "higher",
            "unit": pairs[0][0]["metrics"][name].get("unit", ""),
            "parent": (pm, p1, p3), "change": (cm, c1, c3),
            "wins": wins, "n": len(pairs),
            "nine_in_ten": wins >= math.ceil(0.9 * len(pairs)),
            "beyond_iqr": gain > (p3 - p1),
        })
    return rows


def report(workload: str, pairs: list[tuple[dict, dict]],
           better: dict[str, str]) -> None:
    print(f"\n== {workload}: {len(pairs)} pairs")
    for i, (a, b) in enumerate(pairs):
        for side, r in (("parent", a), ("change", b)):
            if not r.get("correct") or r.get("failed"):
                print(f"  pair {i} {side}: correct={r.get('correct')} "
                      f"failed={r.get('failed')} {r.get('error', '')}")
    print(f"  {'metric':34} {'parent median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'change':>8} {'wins':>6}"
          "  9/10  >IQR")
    for r in summarize(pairs, better):
        fmt = "{:.5g} [{:.5g}, {:.5g}]"
        pm, cm = r["parent"][0], r["change"][0]
        rel = f"{(cm - pm) / pm:+.1%}" if pm else "n/a"
        print(f"  {r['metric']:34} {fmt.format(*r['parent']):>30} "
              f"{fmt.format(*r['change']):>30} {rel:>8} "
              f"{r['wins']:>3}/{r['n']:<2}  {'yes' if r['nine_in_ten'] else 'no':4}"
              f"  {'yes' if r['beyond_iqr'] else 'no'}")
    ok = sum(bool(a.get("correct")) + bool(b.get("correct")) for a, b in pairs)
    print(f"  correct runs: {ok}/{2 * len(pairs)}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", default="HEAD^",
                   help="parent revision checked out into a temporary "
                        "worktree (default HEAD^)")
    p.add_argument("--base-dir", type=Path,
                   help="an existing checkout of the parent instead")
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, required=True,
                   help="first seed; pair i runs seed + i")
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", type=Path, help="append one JSON line per run")
    args = p.parse_args(argv)

    better = directions(REPO)
    tmp = None
    base = args.base_dir
    if base is None:
        tmp = Path(tempfile.mkdtemp(prefix="lakebench_ab-")) / "parent"
        subprocess.run(["git", "worktree", "add", "--detach", str(tmp),
                        args.base], cwd=REPO, check=True,
                       capture_output=True)
        base = tmp
    results = {w: [] for w in args.workload}
    try:
        for i in range(args.pairs):
            seed = args.seed + i
            for w in args.workload:
                sides = [("parent", base), ("change", REPO)]
                if i % 2:
                    sides.reverse()
                got = {}
                for side, checkout in sides:
                    got[side] = r = run_one(checkout, w, seed, args.seconds,
                                            args.trace)
                    print(f"# pair {i} {w} seed {seed} {side}: "
                          f"correct={r.get('correct')}", flush=True)
                    if args.out:
                        with args.out.open("a") as f:
                            f.write(json.dumps({
                                "workload": w, "seed": seed, "side": side,
                                "pair": i, **r}) + "\n")
                results[w].append((got["parent"], got["change"]))
    finally:
        if tmp is not None:
            subprocess.run(["git", "worktree", "remove", "--force", str(tmp)],
                           cwd=REPO, capture_output=True)
            subprocess.run(["git", "worktree", "prune"], cwd=REPO,
                           capture_output=True)
            shutil.rmtree(tmp.parent, ignore_errors=True)
    for w, pairs in results.items():
        if pairs:
            report(w, pairs, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())
