#!/usr/bin/env python3
"""Same-window A/B of the benchmark: a base revision against the working tree.

    python3 tools/ab_pairs.py --workload fresh --seeds 41-49 [--base HEAD]
        [--seconds 16] [--trace 0] [--base-dir DIR]

Run from the root of a checkout. The base revision is exported with
`git archive` into --base-dir (default <tmpdir>/ab_base-<sha>, kept between
invocations so its benchmark build and corpus cache are reused); the new
side is the working tree as it is, uncommitted edits included. Each seed is
one pair: `perfbench/run.py` runs once on each side, and the side that runs
first alternates from pair to pair, so a drift of the host within a pair
(or a cost that the first run of a pair pays) does not land on one side.

Prints one line per run, then per metric: the base and new medians, the
median new/base ratio, the per-pair ratios, and how many pairs the new side
won in the metric's better direction (from BENCHMARK.json). Also prints the
load average around each run and the failed ops per side. Exits 1 if any
run failed or any op failed its check.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export(rev, dest):
    """Exports `rev` into `dest` unless an export of it is already there."""
    stamp = os.path.join(dest, ".ab_rev")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == rev:
                return
        sys.exit(f"ab_pairs: {dest} holds another revision")
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab_pairs: git archive {rev} failed")
    with open(stamp, "w") as fh:
        fh.write(rev)


def run(side, checkout, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    report = os.path.join(checkout, ".bench_build", "reports",
                          f"{a.workload}-s{seed}-t{a.trace}.json")
    load = (float("nan"), float("nan"))
    if result is not None and os.path.exists(report):
        with open(report) as fh:
            host = json.load(fh)["host"]
        load = (host["loadavg_before"], host["loadavg_after"])
    if result is None:
        print(f"  seed {seed} {side}: run failed (exit {proc.returncode})", flush=True)
    else:
        vals = " ".join(f"{n}={m['value']:.4g}" for n, m in result["metrics"].items())
        print(f"  seed {seed} {side}: {vals} failed={result['failed']}/{result['attempted']} "
              f"load={load[0]:.2f}->{load[1]:.2f}", flush=True)
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 41-49 or 41,44,47")
    ap.add_argument("--base", default="HEAD", help="git revision of the base side")
    ap.add_argument("--base-dir", help="where to export the base revision")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    rev = subprocess.run(["git", "rev-parse", "--verify", a.base + "^{commit}"], cwd=ROOT,
                         stdout=subprocess.PIPE, text=True, check=True).stdout.strip()
    base_dir = os.path.abspath(
        a.base_dir or os.path.join(tempfile.gettempdir(), f"ab_base-{rev[:12]}"))
    export(rev, base_dir)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}

    sides = {"base": base_dir, "new": ROOT}
    results = {"base": [], "new": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("base", "new") if i % 2 == 0 else ("new", "base")
        print(f"pair {i + 1} seed {seed}: {order[0]} first", flush=True)
        pair = {side: run(side, sides[side], a, seed) for side in order}
        for side in order:
            results[side].append(pair[side])

    ok = [(b, n) for b, n in zip(results["base"], results["new"])
          if b is not None and n is not None]
    print(f"\n{a.workload}: base {rev[:12]} vs working tree, {len(ok)} complete pairs")
    names = [n for n in (ok[0][0]["metrics"] if ok else {})]
    for name in names:
        b = [p[0]["metrics"][name]["value"] for p in ok]
        n = [p[1]["metrics"][name]["value"] for p in ok]
        ratios = [y / x if x else float("nan") for x, y in zip(b, n)]
        sign = 1 if better.get(name, "higher") == "higher" else -1
        wins = sum(1 for x, y in zip(b, n) if sign * (y - x) > 0)
        print(f"  {name:16s} base {statistics.median(b):10.4g}  new {statistics.median(n):10.4g}  "
              f"ratio {statistics.median(ratios):.3f}  new better {wins}/{len(ok)}  "
              f"pairs [{' '.join(f'{r:.2f}' for r in ratios)}]")
    failed = {s: sum(r["failed"] for r in rs if r is not None) for s, rs in results.items()}
    broken = {s: sum(1 for r in rs if r is None) for s, rs in results.items()}
    print(f"  failed ops: base {failed['base']}, new {failed['new']}; "
          f"failed runs: base {broken['base']}, new {broken['new']}")
    sys.exit(1 if any(failed.values()) or any(broken.values()) else 0)


if __name__ == "__main__":
    main()
