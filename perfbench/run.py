"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <olap|curation|ingest> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Builds the engine and
the harness from source on first use (see build.py), runs the workload in
one JVM (`local[2]`, two shuffle partitions), checks its outputs, and
prints as the last line of standard output one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line before
it is the run record. Both, with the per-operation detail and, for a
traced run, the spans, are kept under `.bench_build/runs/`.

Every run of a workload does the same work: its warm-up and timed rounds
are fixed in workloads.json. `--seconds` is accepted for the calling
convention and recorded; it changes nothing.

`--record` re-records `perfbench/expected.tsv` (the per-query row counts
and content hashes the output check compares against) from the current
sources; see README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = build.ROOT
CONFIG = os.path.join(HERE, "workloads.json")
EXPECTED = os.path.join(HERE, "expected.tsv")
KERNEL_DOCS = os.path.join(HERE, "data", "docs0.1")
RUNS = os.path.join(build.BUILD, "runs")
JVM_TIMEOUT_S = 170
# A run is flagged noisy when the host stole more than this share of CPU
# time, or when the calibration loop ran this much slower or faster at
# the end than at the start (the host's speed changed during the run).
NOISY_STEAL_SHARE = 0.03
NOISY_CALIBRATION_DRIFT = 0.10


def proc_stat():
    """(steal jiffies, total jiffies) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()[1:]
        vals = [int(x) for x in cpu]
        return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
    except (OSError, ValueError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def commit_id(digest):
    """The git commit when the checkout is a repository, else the
    digest of the sources the run was built from."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode == 0:
            dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain", "--", "src"],
                                   stdout=subprocess.PIPE, text=True).stdout.strip()
            return r.stdout.strip() + ("+dirty" if dirty else "")
    return "sources:" + digest[:16]


def jvm_args(cfg, workload, seed, trace, work, out):
    w = cfg["workloads"][workload]
    args = ["--workload", workload, "--seed", str(seed), "--trace", str(trace),
            "--data", os.path.join(HERE, w["data"]), "--docs", KERNEL_DOCS,
            "--work", work, "--out", out,
            "--warmup", str(w["warmup"]), "--rounds", str(w["rounds"])]
    if "members" in w:
        excluded = sorted(set(w["members"]) & set(cfg["excluded"]))
        if excluded:
            raise SystemExit(f"excluded rows listed as members: {', '.join(excluded)}")
        for key in ("members", "tables"):
            path = os.path.join(work, key + ".txt")
            with open(path, "w") as f:
                f.write("\n".join(w[key]) + "\n")
            args += ["--" + key, path]
        args += ["--expected", EXPECTED]
    return args


def run_jvm(classes, args, work, log_path):
    """Run the harness main in `work`; returns (exit code, stdout). The
    JVM runs in its own process group, which is killed on timeout or
    interrupt."""
    cmd = build.java_command(classes, work) + ["perfbench.Main"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             cwd=work, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def record_expectations(cfg, classes):
    """Run each query workload in record mode under two seeds and write
    the merged expectations: a query whose row count or content hash
    differs between any two of its executions is marked as varying."""
    seen = {}
    for workload in ("olap", "curation"):
        for seed in (1, 2):
            work = fresh_dir(os.path.join(build.BUILD, "work", f"record-{workload}-{seed}"))
            tsv = os.path.join(work, "expected.tsv")
            args = jvm_args(cfg, workload, seed, 0, work, os.path.join(work, "detail.json"))
            code, _ = run_jvm(classes, args + ["--record", tsv], work,
                              os.path.join(build.BUILD, f"record-{workload}-{seed}.log"))
            if code != 0:
                print(f"recording {workload} failed; see .bench_build/record-{workload}-{seed}.log",
                      file=sys.stderr)
                return 1
            with open(tsv) as f:
                for line in f:
                    q, rows, h, varies = line.rstrip("\n").split("\t")
                    seen.setdefault(q, []).append((rows, h, varies))
            shutil.rmtree(work, ignore_errors=True)
    with open(EXPECTED, "w") as f:
        f.write("# query\trows\tcontent hash\tvaries (see run.py --record)\n")
        for q in sorted(seen):
            runs = seen[q]
            rows, h = runs[0][0], runs[0][1]
            if any(v == "rows" for _, _, v in runs) or len({r for r, _, _ in runs}) > 1:
                varies = "rows"
            elif any(v == "hash" for _, _, v in runs) or len({x for _, x, _ in runs}) > 1:
                varies = "hash"
            else:
                varies = ""
            f.write(f"{q}\t{rows}\t{h}\t{varies}\n")
    return 0


def main(argv=None):
    # a terminated run still stops its JVM (run_jvm kills it on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="re-record perfbench/expected.tsv instead of running")
    ap.add_argument("--force-restart-round", type=int,
                    help="stop the ingest consumer before this round's catch-up (tests)")
    a = ap.parse_args(argv)

    with open(CONFIG) as f:
        cfg = json.load(f)
    if not a.record and (a.workload not in cfg["workloads"] or a.seed is None
                         or a.seconds is None):
        print("need --workload (one of " + ", ".join(cfg["workloads"]) +
              "), --seed and --seconds", file=sys.stderr)
        return 2
    try:
        classes, digest = build.build(quiet=True)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if a.record:
        return record_expectations(cfg, classes)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}"
    run_dir = fresh_dir(os.path.join(RUNS, run_id))
    work = fresh_dir(os.path.join(build.BUILD, "work", run_id))
    out = os.path.join(run_dir, "detail.json")
    args = jvm_args(cfg, a.workload, a.seed, a.trace, work, out)
    if a.force_restart_round is not None:
        args += ["--force-restart-round", str(a.force_restart_round)]
    if a.trace:
        args += ["--spans", os.path.join(run_dir, "spans.jsonl")]

    stat0, load0, t0 = proc_stat(), loadavg(), time.time()
    try:
        code, stdout = run_jvm(classes, args, work, os.path.join(run_dir, "jvm.log"))
    except subprocess.TimeoutExpired:
        print(f"run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stat1, load1 = proc_stat(), loadavg()
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        print(f"harness failed (exit {code}); see {os.path.relpath(run_dir, ROOT)}/jvm.log",
              file=sys.stderr)
        return 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    raw = json.loads(lines[-1])
    if set(raw["metrics"]) != set(units):
        print("harness metrics differ from BENCHMARK.json: " +
              " ".join(sorted(set(raw["metrics"]) ^ set(units))), file=sys.stderr)
        return 1
    result = dict(raw, metrics={k: {"value": v, "unit": units[k]}
                                for k, v in raw["metrics"].items()})

    steal_share = None
    if stat0 and stat1 and stat1[1] > stat0[1]:
        steal_share = (stat1[0] - stat0[0]) / (stat1[1] - stat0[1])
    with open(out) as f:
        detail = json.load(f)
    calib = detail["calibration_s"]
    drift = calib["end"] / calib["start"] - 1.0
    record = {
        "commit": commit_id(digest), "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "engine_threads": detail["engine_threads"],
        "host_cpus": os.cpu_count(), "heap_max_mb": detail["heap_max_mb"],
        "wall_s": round(time.time() - t0, 3),
        "steal_share": steal_share, "loadavg_start": load0, "loadavg_end": load1,
        "calibration_s": calib, "calibration_drift": drift,
        "noisy": bool((steal_share or 0) > NOISY_STEAL_SHARE
                      or abs(drift) > NOISY_CALIBRATION_DRIFT),
        "rounds": [{k: r[k] for k in ("round", "phase", "seconds", "jit_s", "janino_compiles")}
                   for r in detail["rounds"]],
        "query_tail": detail["query_tail"],
        "error_rate": detail["error_rate"], "problems": detail["problems"][:20],
        "errors": detail["errors"][:20],
    }
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
