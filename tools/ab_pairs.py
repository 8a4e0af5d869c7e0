#!/usr/bin/env python3
"""Alternating A/B pairs of the extraction benchmark: a base revision against
the working tree.

    python3 tools/ab_pairs.py --workload crawl --pairs 10 --base HEAD~1 --first-seed 21

Run it from the repository root. REV is exported with `git archive` into a
temporary directory (removed on exit, also on Ctrl-C); that export has no git
metadata, so an interrupted run leaves no registered worktree behind. Each
pair runs `perfbench/run.py` once from each root with the same seed (pair i
uses seed first_seed + i), the base first in even pairs and the working tree
first in odd ones. Each root runs its own `perfbench/run.py` and builds its
engine into its own `.bench_build/`; the runner refuses a REV whose
`perfbench/` differs from the working tree's, so both sides run the same
benchmark code.

For every end-to-end metric in BENCHMARK.json it prints each side's median
and quartiles, the change's wins (ties count for neither side), whether a
gain claim holds: at least nine tenths of the pairs run won (a failed pair is
no win), and the medians apart by more than the base's quartile distance, in
the better direction; and the change's median shift from the base's median,
as a signed fraction, marked `within` or `beyond` the metric's `bound` (the
largest shift in the worse direction the benchmark allows).

With `--trace-keys k1,k2,...` every run is traced (`perfbench/run.py --trace
1`) and the same table is printed for those per-layer keys instead, each
taking its better direction from BENCHMARK.json's `per_layer` list:

    python3 tools/ab_pairs.py --workload crawl --pairs 3 --base HEAD~1 --first-seed 7 \
        --trace-keys jobs.lineage_s,table.commit_driver_s,spark.par_eff
"""
import argparse
import json
import math
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path.cwd()


def export(rev, dest):
    """Unpack `git archive REV` into dest."""
    p = subprocess.Popen(["git", "archive", "--format=tar", rev], cwd=ROOT, stdout=subprocess.PIPE)
    with tarfile.open(fileobj=p.stdout, mode="r|") as tar:
        tar.extractall(dest)
    if p.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def bench(root, workload, seed, seconds, trace):
    """One benchmark run from `root`; the parsed JSON result line, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    r = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"  run failed in {root} (exit {r.returncode}):\n" + r.stderr[-2000:], file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--base", required=True, help="git revision to compare the working tree with")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace-keys", default="",
                    help="comma-separated per-layer keys: run traced and compare these instead")
    a = ap.parse_args()

    if subprocess.run(["git", "diff", "--quiet", a.base, "--", "perfbench"], cwd=ROOT).returncode != 0:
        sys.exit(f"perfbench/ differs between {a.base} and the working tree; pairs would not compare like with like")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    trace = bool(a.trace_keys)
    if trace:
        better = {m["name"]: m["better"] for m in spec["per_layer"]}
        keys = a.trace_keys.split(",")
        unknown = [k for k in keys if k not in better]
        if unknown:
            sys.exit(f"not a per_layer key in BENCHMARK.json: {', '.join(unknown)}")
        metrics = [(k, better[k]) for k in keys]
        bounds = {}
    else:
        metrics = [(m["name"], m["better"]) for m in spec["end_to_end"]]
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    # SIGTERM unwinds like Ctrl-C, so the finally below removes the export
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = Path(tempfile.mkdtemp(prefix="ab-base-"))
    try:
        export(a.base, tmp)
        runs = {"base": [], "change": []}
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = [("base", tmp), ("change", ROOT)]
            if i % 2:
                order.reverse()
            got = {}
            for side, root in order:
                got[side] = bench(root, a.workload, seed, a.seconds, trace)
                missing = [n for n, _ in metrics if got[side] is not None and n not in got[side]["metrics"]]
                if missing:
                    sys.exit(f"{a.workload} does not report {', '.join(missing)}")
            for side in runs:
                runs[side].append(got[side])
            cells = []
            for side in ("base", "change"):
                r = got[side]
                cells.append("failed" if r is None else
                             " ".join(f"{r['metrics'][n]['value']:.4g}" for n, _ in metrics) +
                             ("" if r["correct"] else " INCORRECT"))
            print(f"pair {i + 1} seed {seed} ({order[0][0]} first): base {cells[0]} | change {cells[1]}",
                  flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    ok = [(b, c) for b, c in zip(runs["base"], runs["change"]) if b is not None and c is not None]
    print(f"\n{a.workload}: {len(ok)} of {a.pairs} pairs complete; "
          f"incorrect runs base {sum(not b['correct'] for b, _ in ok)}, "
          f"change {sum(not c['correct'] for _, c in ok)}")
    if not ok:
        sys.exit(1)
    width = max(20, *(len(n) for n, _ in metrics))
    print(f"{'metric':{width}s} {'base median [q1, q3]':>30s} {'change median [q1, q3]':>30s} {'wins':>6s}  claim"
          f"  {'shift':>7s}  bound")
    for name, better in metrics:
        pairs = [(b["metrics"][name]["value"], c["metrics"][name]["value"]) for b, c in ok]
        bs, cs = [b for b, _ in pairs], [c for _, c in pairs]
        sign = 1 if better == "higher" else -1
        wins = sum(sign * (c - b) > 0 for b, c in pairs)
        bm, cm = statistics.median(bs), statistics.median(cs)
        bq, cq = quartiles(bs), quartiles(cs)
        holds = wins >= math.ceil(0.9 * a.pairs) and sign * (cm - bm) > bq[1] - bq[0]
        shift = (cm - bm) / bm if bm else 0.0
        bound = bounds.get(name)
        verdict = "-" if bound is None else f"{'beyond' if -sign * shift > bound else 'within'} {bound:g}"
        print(f"{name:{width}s} {bm:12.4g} [{bq[0]:.4g}, {bq[1]:.4g}] {cm:12.4g} [{cq[0]:.4g}, {cq[1]:.4g}]"
              f" {wins:3d}/{len(ok)}  {'holds' if holds else 'no':5s}  {shift:+7.1%}  {verdict}")


if __name__ == "__main__":
    main()
