"""Compare benchmark runs of two commits, per workload and metric.

  python3 perfbench/compare.py report PARENT.jsonl CHANGE.jsonl
  python3 perfbench/compare.py run PARENT_DIR CHANGE_DIR [--pairs 10]
        [--workload NAME ...]

`report` reads the run records that perfbench/run.py appends to
perfbench/.results/runs.jsonl in each checkout (untraced runs only) and
pairs the i-th run of a workload and seed on one side with the i-th on
the other. `run` first makes the pairs itself: for each workload and
pair it runs both checkouts on the same seed, alternating which side
goes first, then reports them. Pair i uses seed SEED_BASE + i.

For every workload and end-to-end metric it prints each side's median
and quartiles, the share of pairs the change won (ties count for
neither side), and a verdict against the bound in BENCHMARK.json:
  improved     the change won >= 90% of pairs and the medians differ by
               more than the parent's quartile distance;
  no worse     the change's median is within the bound of the parent's
               and both sides' spreads are within the bound;
  worse        the change's median is worse by more than the bound and
               the parent's spread is within the bound;
  unresolved   anything else (a spread wider than the bound, unless
               every change run beats every parent run);
  failed       the change's runs failed more operations than the
               parent's, or a change run failed its output checks; no
               gain counts then, whatever the timings say.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SEED_BASE = 1000


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, bound, lower_better):
    """Verdict for change runs `b` against parent runs `a` (paired)."""
    sign = 1 if lower_better else -1
    qa, qb = quartiles(a), quartiles(b)
    ma, mb = qa[1], qb[1]
    spread_a = (qa[2] - qa[0]) / ma if ma else 0.0
    spread_b = (qb[2] - qb[0]) / mb if mb else 0.0
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    won = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    all_better = all(sign * (x - y) > 0 for x in a for y in b)
    if won >= 0.9 and sign * (ma - mb) > (qa[2] - qa[0]):
        v = "improved"
    elif all_better:
        v = "no worse"
    elif worse_by > bound:
        v = "worse" if spread_a <= bound else "unresolved"
    elif spread_a > bound or spread_b > bound:
        v = "unresolved"
    else:
        v = "no worse"
    return qa, qb, won, v


def read_runs(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            if r.get("trace") == 0:
                runs.setdefault(r["workload"], []).append(r)
    return runs


def paired(a_runs, b_runs):
    """(parent, change) results matched by seed and order of appearance."""
    pool = {}
    for r in b_runs:
        pool.setdefault(r["seed"], []).append(r)
    out = []
    for r in a_runs:
        if pool.get(r["seed"]):
            out.append((r["result"], pool[r["seed"]].pop(0)["result"]))
    return out


def report(a_runs, b_runs):
    spec = load_spec()
    metrics = spec["end_to_end"]
    print(f"{'workload':16s} {'metric':14s} {'parent q1/med/q3':>28s} "
          f"{'change q1/med/q3':>28s} {'won':>5s}  verdict")
    for w in sorted(set(a_runs) | set(b_runs)):
        pairs = paired(a_runs.get(w, []), b_runs.get(w, []))
        if not pairs:
            print(f"{w:16s} no paired runs")
            continue
        failed_a = sum(x["failed"] for x, _ in pairs)
        failed_b = sum(y["failed"] for _, y in pairs)
        broken = failed_b > failed_a or not all(y["correct"] for _, y in pairs)
        for m in metrics:
            a = [x["metrics"][m["name"]]["value"] for x, _ in pairs]
            b = [y["metrics"][m["name"]]["value"] for _, y in pairs]
            qa, qb, won, v = verdict(a, b, m["bound"], m["better"] == "lower")
            if broken:
                v = "failed"
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w:16s} {m['name']:14s} {fa:>28s} {fb:>28s} {won:5.2f}  {v}"
                  f" ({len(pairs)} pairs, bound {m['bound']}, {m['unit']})")
        print(f"{w:16s} failed ops: parent {failed_a}, change {failed_b}")


def run_pairs(dirs, command, workloads, pairs, seconds):
    """Alternate the two checkouts on the same seeds; return their records."""
    out = ({}, {})
    for w in workloads:
        for i in range(pairs):
            order = (0, 1) if i % 2 == 0 else (1, 0)
            for side in order:
                seed = SEED_BASE + i
                cmd = command + ["--workload", w, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", "0"]
                p = subprocess.run(cmd, cwd=dirs[side], capture_output=True, text=True)
                if p.returncode != 0:
                    sys.exit(f"{dirs[side]}: {w} seed {seed} failed:\n{p.stderr[-2000:]}")
                res = json.loads(p.stdout.strip().splitlines()[-1])
                out[side].setdefault(w, []).append(
                    {"workload": w, "seed": seed, "trace": 0, "result": res})
                print(f"{w} pair {i} {'parent' if side == 0 else 'change'}: "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      file=sys.stderr, flush=True)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    r = sub.add_parser("report")
    r.add_argument("parent")
    r.add_argument("change")
    g = sub.add_parser("run")
    g.add_argument("parent_dir")
    g.add_argument("change_dir")
    g.add_argument("--pairs", type=int, default=10)
    g.add_argument("--workload", action="append")
    a = ap.parse_args()
    if a.mode == "report":
        report(read_runs(a.parent), read_runs(a.change))
    else:
        spec = load_spec()
        workloads = a.workload or [w["name"] for w in spec["workloads"]]
        runs = run_pairs((a.parent_dir, a.change_dir), spec["command"], workloads,
                         a.pairs, spec["run_seconds"])
        report(*runs)


if __name__ == "__main__":
    main()
