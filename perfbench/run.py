#!/usr/bin/env python3
"""Runs one benchmark workload end to end and prints its metrics.

    python3 perfbench/run.py --workload shop --seed 1 --seconds 10 --trace 0

Steps: build the engine and the driver from source (cached by source
digest), generate the workload's inputs from the seed into a fresh
working directory, run the driver JVM there (so persisted indexes,
stream state and shop tables never touch the tree), check its answers,
print one line per metric and, last, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. The working directory is removed
afterwards. `--trace 1` reports the per-layer metrics instead of the
end-to-end ones. `--workload all` runs every workload in turn.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["shop", "analytics", "ingest"]
# Workloads with a few samples per operation kind, whose latencies are
# summarised per kind (see stats.geomean_of_medians).
BY_KIND = ("analytics", "ingest")
# Input sizes. Query latency here is dominated by per-job and planning
# costs, not by rows, so small inputs keep runs short without changing
# which layers do the work.
SF = 0.01
SHOP_SIZES = dict(n_movies=2000, n_reviews=10000, n_orders=2000)
# A fixed-size heap with the throughput collector keeps the driver's peak
# RSS from depending on when an adaptive collector chose to grow.
HEAP = "3g"
RUN_LIMIT_S = 170
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# Final-state answers of the ingest workload and the stream whose
# operations they vouch for.
INGEST_REFS = {"dd26_exact_substring": "substring.", "dd17_incremental_index": "lsh."}

E2E_UNITS = {}
LAYER_UNITS = {}


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    E2E_UNITS.update({m["name"]: m["unit"] for m in spec["end_to_end"]})
    LAYER_UNITS.update({m["name"]: m["unit"] for m in spec["per_layer"]})
    return spec


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_driver(classes, workload, seed, seconds, trace, data, work, deadline):
    raw_path = os.path.join(work, "raw.json")
    jvm_dir = os.path.join(work, "jvm")
    os.makedirs(jvm_dir)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss8m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *JDK_OPENS, "-Dfile.encoding=UTF-8",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "perfbench.Driver",
           workload, str(seed), str(seconds), str(trace), data, raw_path]
    log_path = os.path.join(work, "driver.log")
    with open(log_path, "w") as log:
        # Spark's block and shuffle files stay inside the working directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        proc = subprocess.Popen(cmd, cwd=jvm_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError("driver timed out" if rc is None else f"driver exited {rc}")
    with open(raw_path) as f:
        return json.load(f)


def check_refs(raw, data, corrupt):
    """Oracle verdict per reference answer: name -> (ok, reason)."""
    if not raw["refs"]:
        return {}
    con = oracle.connect(data)
    try:
        # the ingest answers are stream state, a set by nature
        return {n: oracle.check(con, ref, raw["oracle"][n],
                                unordered=raw["workload"] == "ingest",
                                corrupt=n == corrupt)
                for n, ref in raw["refs"].items()}
    finally:
        con.close()


def op_list(raw, verdicts):
    """Operations as dicts; an operation fails if the driver marked it
    wrong or if its query's reference answer disagrees with the oracle."""
    bad = {n for n, (ok, _) in verdicts.items() if not ok}
    ops = []
    for name, write, ms, ok, rows, traced in raw["ops"]:
        if raw["workload"] == "ingest":
            wrong = any(name.startswith(INGEST_REFS[n]) for n in bad)
        else:
            wrong = name in bad
        ops.append(dict(name=name, write=write, ms=ms, ok=ok and not wrong,
                        rows=rows, traced=traced))
    return ops


def e2e_metrics(raw, ops, gen_s):
    num = raw["numbers"]
    ms = [o["ms"] for o in ops]
    reads = [o["ms"] for o in ops if not o["write"]]
    writes = [o["ms"] for o in ops if o["write"]]
    elapsed = num["elapsed_s"]
    tail, tail_pct, _ = stats.tail(ms)
    wtail, wtail_pct, _ = stats.tail(writes)
    if raw["workload"] in BY_KIND:
        # a few samples of each of a handful of operation kinds: too few
        # for a tail, so the tails fall back to the median
        def p50(write):
            return stats.geomean_of_medians(
                (o["name"], o["ms"]) for o in ops if write is None or o["write"] == write)
        op_p50, read_p50, write_p50 = p50(None), p50(False), p50(True)
        tail, tail_pct, wtail, wtail_pct = op_p50, 50.0, write_p50, 50.0
    else:
        op_p50, read_p50, write_p50 = stats.median(ms), stats.median(reads), stats.median(writes)
    if raw["workload"] == "ingest":
        rows_per_s = num["admitted_rows"] / num["admit_s"]
    else:
        rows_per_s = sum(o["rows"] for o in ops) / elapsed
    values = {
        "setup_s": gen_s + raw["session_s"] + stats.median(raw["round_s"]) + raw["warm_s"],
        "ops_per_s": len(ops) / elapsed,
        "op_p50_ms": op_p50,
        "op_tail_ms": tail,
        "read_p50_ms": read_p50,
        "write_p50_ms": write_p50,
        "write_tail_ms": wtail,
        "rows_per_s": rows_per_s,
        "rss_peak_mb": num["rss_peak_mb"],
        "state_mb": num["state_bytes"] / 2**20,
    }
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append(o["ms"])
    samples = {"ops": len(ops), "reads": len(reads), "writes": len(writes),
               "per_kind_ms": {k: [len(v), round(stats.median(v), 1)] for k, v in sorted(kinds.items())},
               "setup_parts_s": dict(generate=round(gen_s, 3), session=round(raw["session_s"], 3),
                                     rounds=[round(r, 3) for r in raw["round_s"]],
                                     warm=round(raw["warm_s"], 3)),
               "op_tail_pct": round(tail_pct, 2), "write_tail_pct": round(wtail_pct, 2)}
    return values, samples


def layer_metrics(raw):
    values = {n: float(raw["layers"].get(n, 0.0)) for n in LAYER_UNITS}
    num = raw["numbers"]
    values["trace.overhead_pct"] = 100.0 * (num["untraced_ops_per_s"] / num["traced_ops_per_s"] - 1.0)
    return values


def run_one(args, classes, digest):
    started = time.monotonic()
    deadline = started + RUN_LIMIT_S
    runs = os.path.join(ROOT, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    try:
        data = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        if args.workload == "shop":
            gen.shop(data, args.seed, **SHOP_SIZES)
        else:
            gen.tables(data, args.seed, SF)
        gen_s = time.perf_counter() - t0
        raw = run_driver(classes, args.workload, args.seed, args.seconds, args.trace,
                         data, work, deadline)
        t1 = time.perf_counter()
        verdicts = check_refs(raw, data, args.corrupt_digest)
        check_s = time.perf_counter() - t1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = op_list(raw, verdicts)
    failed = sum(1 for o in ops if not o["ok"])
    for n, (ok, why) in verdicts.items():
        if not ok:
            print(f"check {n}: {why}")
    e2e, samples = e2e_metrics(raw, ops, gen_s)
    if args.trace:
        values, units = layer_metrics(raw), LAYER_UNITS
    else:
        values, units = e2e, E2E_UNITS
    context = dict(raw["context"], nproc=os.cpu_count(), workload=args.workload,
                   seed=args.seed, sf=SF if args.workload != "shop" else None,
                   shop_sizes=SHOP_SIZES if args.workload == "shop" else None,
                   seconds=args.seconds, trace=args.trace, git_commit=git_commit(),
                   source_digest=digest[:16], samples=samples,
                   oracle_checked=len(verdicts), check_s=round(check_s, 3),
                   run_wall_s=round(time.monotonic() - started, 3))
    for name, v in values.items():
        print(f"{args.workload:9s} {name:26s} {v:14.4f} {units[name]}")
    print(f"{args.workload:9s} {'fail_frac':26s} {stats.fail_frac(ops):14.4f} ratio")
    for q, layer in sorted(raw["per_query"].items()):
        print(f"{args.workload:9s} per-query {q}: " +
              " ".join(f"{k}={v:.4g}" for k, v in sorted(layer.items())))
    print(json.dumps({"context": context}))
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    if args.report:
        with open(args.report, "a") as f:
            f.write(json.dumps(dict(result, context=context, e2e=e2e,
                                    fail_frac=stats.fail_frac(ops),
                                    per_query=raw["per_query"])) + "\n")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="append the full result as one JSON line here")
    ap.add_argument("--corrupt-digest", metavar="QUERY",
                    help="self-test: corrupt the oracle digest of one query")
    args = ap.parse_args()
    try:
        load_spec()
        classes, digest = build.build(ROOT)
    except (OSError, ValueError, build.BuildError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    if args.workload != "all":
        try:
            result = run_one(args, classes, digest)
        except (RuntimeError, OSError, ValueError, KeyError) as e:
            print(f"perfbench: {args.workload} failed: {e}", file=sys.stderr)
            return 3
        print(json.dumps(result))
        return 0
    results = {}
    for w in WORKLOADS:
        results[w] = run_one(argparse.Namespace(**dict(vars(args), workload=w)),
                             classes, digest)
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
