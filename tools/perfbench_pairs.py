#!/usr/bin/env python3
"""Paired perfbench comparison: a base revision against the working tree.

    python3 tools/perfbench_pairs.py --base HEAD --workload ingest --seeds 1-10
    python3 tools/perfbench_pairs.py --base 59b43e3 --workload serve --seeds 3 7 11 \
        --scratch /tmp/pairs --json pairs.json
    python3 tools/perfbench_pairs.py --base HEAD --workload serve --seeds 9 --trace 1

The base revision is extracted with `git archive` into a scratch directory
(built there on its first run, like any checkout). For each seed, one
`perfbench/run.py --trace 0` run of the base and one of the working tree run
back to back; the order alternates from seed to seed, so drift on a shared
machine does not always favour the same side. It prints every pair's
end-to-end metrics and change/base ratio, then per metric the medians, the
median ratio, the quartiles of the base runs and how many pairs the change
won. With `--trace 1` the runs are traced and the metrics compared are the
per-layer ones (`textsearch.bm25_ms`, `spark.jobs`, ...), so a pair shows
which layer a change moved. A run that fails or fails its checks is reported
and left out of the summary. Nothing under perfbench/ is written except the build outputs and
scratch directories run.py itself makes (both git-ignored).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(tokens):
    seeds = []
    for t in tokens:
        for part in t.split(","):
            if "-" in part:
                lo, hi = part.split("-", 1)
                seeds += range(int(lo), int(hi) + 1)
            elif part:
                seeds.append(int(part))
    return seeds


def extract(rev, scratch):
    """The base revision's committed files, via `git archive` (no worktree)."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = os.path.join(scratch, f"base-{sha[:12]}")
    if not os.path.isdir(dest):
        os.makedirs(dest + ".tmp", exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest + ".tmp"], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        os.rename(dest + ".tmp", dest)
    return sha, dest


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run; its metrics, or None when it failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-3000:])
        return None
    if p.returncode != 0 or not out.get("correct") or out.get("failed"):
        sys.stderr.write(p.stderr[-3000:])
        return None
    return {k: v["value"] for k, v in out["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", default="HEAD", help="revision to compare against (default HEAD)")
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seeds", required=True, nargs="+", help="seeds: 1 2 3, 1-10 or 1,4,9")
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0,
                    help="1: traced runs, compared on the per-layer metrics")
    ap.add_argument("--scratch", help="where the base is extracted (default: a temporary dir)")
    ap.add_argument("--json", help="also write every pair and the summary here")
    a = ap.parse_args()
    seeds = parse_seeds(a.seeds)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"]
                  for m in json.load(f)["per_layer" if a.trace else "end_to_end"]}
    scratch = a.scratch or tempfile.mkdtemp(prefix="perfbench_pairs_")
    sha, base_dir = extract(a.base, scratch)
    print(f"# base {a.base} = {sha[:12]} at {base_dir}; change = working tree {ROOT}")
    print(f"# workload {a.workload}, seeds {seeds}; ratio = change / base")
    pairs = []
    for i, seed in enumerate(seeds):
        sides = [("base", base_dir), ("change", ROOT)]
        if i % 2:
            sides.reverse()
        got = {name: run(path, a.workload, seed, a.seconds, a.trace) for name, path in sides}
        if got["base"] is None or got["change"] is None:
            print(f"seed {seed}: run failed (base {'ok' if got['base'] else 'FAILED'}, "
                  f"change {'ok' if got['change'] else 'FAILED'})")
            continue
        pairs.append({"seed": seed, "first": sides[0][0], **got})
        cells = [f"{m} {got['base'][m]:.4g} -> {got['change'][m]:.4g} "
                 f"({got['change'][m] / got['base'][m]:.3f})" for m in better if got["base"][m]]
        print(f"seed {seed} ({sides[0][0]} first): " + "; ".join(cells), flush=True)
    summary = {}
    if pairs:
        print(f"# {len(pairs)} pairs")
        for m, way in better.items():
            b = [p["base"][m] for p in pairs]
            c = [p["change"][m] for p in pairs]
            ratios = [y / x for x, y in zip(b, c) if x]
            wins = sum((y < x) if way == "lower" else (y > x) for x, y in zip(b, c))
            q1, q3 = quartiles(b)
            summary[m] = {"base_median": statistics.median(b), "change_median": statistics.median(c),
                          "median_ratio": statistics.median(ratios) if ratios else None,
                          "base_q1": q1, "base_q3": q3, "change_wins": wins}
            s = summary[m]
            ratio = f"{s['median_ratio']:.3f}" if ratios else "n/a"
            print(f"{m:<20} base median {s['base_median']:.4g} (IQR {q1:.4g}-{q3:.4g}), "
                  f"change median {s['change_median']:.4g}, median ratio {ratio}, "
                  f"change {way} in {wins}/{len(pairs)} pairs")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"base": sha, "workload": a.workload, "trace": a.trace, "pairs": pairs,
                       "summary": summary}, f, indent=1)
    if not a.scratch:
        shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(0 if len(pairs) == len(seeds) else 1)


if __name__ == "__main__":
    main()
