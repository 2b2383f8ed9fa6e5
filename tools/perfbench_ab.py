#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 tools/perfbench_ab.py --parent ../parent --change . \\
        --workload small_commits --pairs 5 [--seed 1] [--seconds 20] [--trace 0]

Runs `perfbench/run.py` in each checkout (each builds into its own
`.bench_build/`) for --pairs pairs, alternating which side runs first, one
run at a time. Prints, per metric of the result line, the parent and change
medians, the change in percent, the parent's interquartile range and in how
many pairs the change was better (direction from BENCHMARK.json). Then the
same for the per-kind mean latencies parsed from each run's
`[perfbench] class:kind` table on stderr. A run that fails or reports a
wrong result is listed and left out of the medians. With --out DIR every
run's result line and kind table are appended to DIR/ab_<side>.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(tree, a):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return result, kind_table(p.stderr)


def kind_table(stderr):
    """{class:kind -> mean_s} from the `[perfbench] class:kind n mean_s p50_s p90_s` table."""
    kinds, inside = {}, False
    for line in stderr.splitlines():
        if not line.startswith("[perfbench] "):
            continue
        tokens = line[len("[perfbench] "):].split()
        if tokens[:1] == ["class:kind"]:
            inside = True
        elif inside and len(tokens) >= 5 and tokens[-4].isdigit():
            try:
                kinds[" ".join(tokens[:-4])] = float(tokens[-3])
            except ValueError:
                pass
    return kinds


def quartile_gap(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def report(title, names, parent, change, better):
    """One table row per name: medians, change %, parent IQR, pairs won by the change."""
    print(f"\n{title}")
    print(f"{'name':40} {'parent':>11} {'change':>11} {'delta':>8} {'par_iqr':>10} {'wins':>6}")
    for name in names:
        pairs = [(p[name], c[name]) for p, c in zip(parent, change)
                 if p is not None and c is not None and name in p and name in c]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        mp, mc = statistics.median(ps), statistics.median(cs)
        delta = (mc - mp) / mp * 100 if mp else 0.0
        up = better.get(name, "lower") == "higher"
        wins = sum((c > p) if up else (c < p) for p, c in pairs)
        print(f"{name:40} {mp:11.4f} {mc:11.4f} {delta:+7.1f}% {quartile_gap(ps):10.4f} "
              f"{wins:>3}/{len(pairs)}")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True, choices=("olap", "small_commits"))
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", type=Path)
    a = ap.parse_args(argv)

    spec = json.loads((a.change / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    metrics = {"parent": [], "change": []}
    kinds = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ("change", "parent") if i % 2 == 0 else ("parent", "change")
        for side in order:
            result, table = run_once(sides[side], a)
            ok = result is not None and result["correct"] and result["failed"] == 0
            print(f"pair {i + 1} {side}: " + ("ok" if ok else f"FAILED {result}"), file=sys.stderr)
            metrics[side].append({k: v["value"] for k, v in result["metrics"].items()} if ok else None)
            kinds[side].append(table if ok else None)
            if a.out:
                a.out.mkdir(parents=True, exist_ok=True)
                with open(a.out / f"ab_{side}.jsonl", "a") as f:
                    f.write(json.dumps({"pair": i + 1, "result": result, "kinds": table}) + "\n")

    names = sorted({n for m in metrics["parent"] + metrics["change"] if m for n in m})
    report(f"{a.workload} seed {a.seed} trace {a.trace}: {a.pairs} interleaved pairs",
           names, metrics["parent"], metrics["change"], better)
    kind_names = sorted({n for t in kinds["parent"] + kinds["change"] if t for n in t})
    report("per-kind mean_s (lower is better)", kind_names, kinds["parent"], kinds["change"], {})
    failed = sum(m is None for side in metrics.values() for m in side)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
