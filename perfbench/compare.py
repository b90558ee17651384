"""Compare a parent and a change on the benchmark.

    # run N alternating pairs in two checkouts, then report
    python3 perfbench/compare.py run --parent <dir> --change <dir> \
        [--pairs 10] [--workloads olap ingest] [--seconds 10] --out pairs.json
    python3 perfbench/compare.py report pairs.json
    # per-layer self time of two traced runs
    python3 perfbench/compare.py spans <parent spans.jsonl> <change spans.jsonl>
    # run-to-run spread of one commit, from run records
    python3 perfbench/compare.py spread .bench_build/runs/*/record.json

`run` executes `python3 perfbench/run.py` in each checkout, alternating
which side runs first, with seeds 1..N (both sides of a pair use the same
seed), and writes every result. `report` prints one row per workload and
metric: each side's median and quartiles, the change over the parent as a
ratio with both bases, the pairs won, and a verdict by the rule below.
`spans` prints each layer's self time per traced round on both sides.
`spread` prints, per workload and end-to-end metric of untraced runs, the
median and the IQR as a share of the median next to the metric's bound.

Verdict of an end-to-end metric (bound and direction from BENCHMARK.json):
  better      at least 9 of 10 pairs favour the change (ties count for
              neither side) and the medians differ by more than the
              parent's own spread (its IQR);
  worse       the change's median is worse than the parent's by more than
              the bound;
  unresolved  the parent's IQR, as a share of its median, exceeds the
              bound, and not every change run beats every parent run;
  same        none of the above: within the bound.
Per-layer metrics have no bound; they get only `better` or `-`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec(root=os.path.dirname(HERE)):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    for m in spec["per_layer"]:
        metrics[m["name"]] = dict(m, bound=None)
    return spec, metrics


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def favours(better, parent, change):
    """+1 if the change is better in this pair, -1 if worse, 0 if tied."""
    if change == parent:
        return 0
    return 1 if (change < parent) == (better == "lower") else -1


def verdict(spec, parent, change):
    """The rule of the module docstring, for one metric of one workload.
    `parent` and `change` are the per-pair values in pair order."""
    n = len(parent)
    wins = sum(1 for p, c in zip(parent, change) if favours(spec["better"], p, c) > 0)
    pq1, pm, pq3 = quartiles(parent)
    cm = statistics.median(change)
    iqr = pq3 - pq1
    lower = spec["better"] == "lower"
    gap = (pm - cm) if lower else (cm - pm)  # > 0: change better
    if n and wins * 10 >= 9 * n and gap > iqr:
        return "better", wins
    bound = spec.get("bound")
    if bound is None:
        return "-", wins
    if -gap > bound * abs(pm):
        return "worse", wins
    all_better = all(favours(spec["better"], p, c) > 0 for p in parent for c in change)
    if pm and iqr / abs(pm) > bound and not all_better:
        return "unresolved", wins
    return "same", wins


def ratio_text(parent, change, unit):
    if parent == 0:
        return f"n/a (change {change:.4g} {unit} / parent 0)"
    return f"{change / parent:.3f} (change {change:.4g} {unit} / parent {parent:.4g} {unit})"


def report(pairs_file, out=sys.stdout):
    _, metrics = load_spec()
    with open(pairs_file) as f:
        data = json.load(f)
    rows = []
    for w in sorted({p["workload"] for p in data["pairs"]}):
        ps = [p for p in data["pairs"] if p["workload"] == w]
        names = [m for m in ps[0]["parent"]["metrics"] if m in metrics]
        for m in names:
            pv = [p["parent"]["metrics"][m]["value"] for p in ps]
            cv = [p["change"]["metrics"][m]["value"] for p in ps]
            v, wins = verdict(metrics[m], pv, cv)
            pq = quartiles(pv)
            cq = quartiles(cv)
            unit = metrics[m]["unit"]
            rows.append((w, m, v, wins, len(ps), pq, cq, ratio_text(pq[1], cq[1], unit)))
    print(f"{'workload':10} {'metric':28} {'verdict':10} {'wins':>6}  "
          f"{'parent q1/med/q3':30} {'change q1/med/q3':30} change/parent", file=out)
    for w, m, v, wins, n, pq, cq, rt in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{w:10} {m:28} {v:10} {wins:>3}/{n:<2}  {fmt(pq):30} {fmt(cq):30} {rt}",
              file=out)
    bad = [r for r in data["pairs"] if not (r["parent"]["correct"] and r["change"]["correct"])]
    if bad:
        print(f"{len(bad)} pairs with a failed output check", file=out)
    return rows


def layer_self(spans_file):
    """Self seconds per layer, per traced round, from a spans file."""
    per = {}
    rounds = set()
    with open(spans_file) as f:
        for line in f:
            s = json.loads(line)
            rounds.add(s["op"].split(".")[0])
            per[s["layer"]] = per.get(s["layer"], 0) + s["self_ns"] / 1e9
    n = max(len(rounds), 1)
    return {k: v / n for k, v in per.items()}


def spans_diff(parent_file, change_file, out=sys.stdout):
    p, c = layer_self(parent_file), layer_self(change_file)
    print(f"{'layer':12} {'parent s':>10} {'change s':>10} {'delta s':>10}  change/parent",
          file=out)
    rows = []
    for layer in sorted(set(p) | set(c)):
        a, b = p.get(layer, 0.0), c.get(layer, 0.0)
        rows.append((layer, a, b))
        print(f"{layer:12} {a:10.4f} {b:10.4f} {b - a:+10.4f}  {ratio_text(a, b, 's')}",
              file=out)
    return rows


def spread(record_files, out=sys.stdout):
    """IQR / median per workload and end-to-end metric of untraced runs."""
    spec, _ = load_spec()
    by = {}
    for p in record_files:
        with open(p) as f:
            r = json.load(f)
        if r["record"]["trace"] == 0:
            by.setdefault(r["record"]["workload"], []).append(r["result"])
    rows = []
    print(f"{'workload':10} {'metric':14} {'runs':>4} {'median':>10} {'iqr/med':>8} "
          f"{'bound':>6}", file=out)
    for w in sorted(by):
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in by[w]]
            q1, med, q3 = quartiles(xs)
            share = (q3 - q1) / med if med else float("inf")
            rows.append((w, m["name"], len(xs), med, share, m["bound"]))
            print(f"{w:10} {m['name']:14} {len(xs):4} {med:10.4g} {share:8.3f} "
                  f"{m['bound']:6.2f}", file=out)
    return rows


def run_pairs(parent, change, pairs, workloads, seconds, trace):
    """Alternate parent and change runs; both sides of a pair share a seed."""
    out = []
    for w in workloads:
        for i in range(pairs):
            seed = i + 1
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            pair = {"workload": w, "seed": seed, "first": order[0][0]}
            for side, root in order:
                r = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)],
                    cwd=root, stdout=subprocess.PIPE, text=True)
                if r.returncode != 0:
                    raise SystemExit(f"{side} run failed: {w} seed {seed}")
                pair[side] = json.loads(r.stdout.strip().splitlines()[-1])
            out.append(pair)
            print(f"{w} pair {i + 1}/{pairs} done", file=sys.stderr)
    return {"pairs": out}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--workloads", nargs="+")
    r.add_argument("--seconds", type=float)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("pairs_file")
    s = sub.add_parser("spans")
    s.add_argument("parent")
    s.add_argument("change")
    d = sub.add_parser("spread")
    d.add_argument("records", nargs="+")
    a = ap.parse_args(argv)
    if a.cmd == "run":
        spec, _ = load_spec()
        data = run_pairs(a.parent, a.change, a.pairs,
                         a.workloads or [w["name"] for w in spec["workloads"]],
                         a.seconds or spec["run_seconds"], a.trace)
        with open(a.out, "w") as f:
            json.dump(data, f, indent=1)
        report(a.out)
    elif a.cmd == "report":
        report(a.pairs_file)
    elif a.cmd == "spans":
        spans_diff(a.parent, a.change)
    else:
        spread(a.records)
    return 0


if __name__ == "__main__":
    sys.exit(main())
