#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload catalog|bulk_etl \\
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds graft and the benchmark JVM from
source (perfbench/build.py), prepares the workload's inputs from the seed,
runs the JVM on local[4] with a fixed heap, checks every op's output against
a reference graft did not produce, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1, the per-layer ones from the
spans the JVM recorded. The line before it is the run's record (calibration,
failures by item, sample counts); a copy of both goes to
.bench_build/results/ for perfbench/compare.py.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

# limit of a run after the build, and the part of it kept for the checks
DEADLINE_S = 175
CHECK_RESERVE_S = 25
# heap per workload, fixed (-Xms = -Xmx)
HEAP = {"catalog": "2g", "bulk_etl": "1g"}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def metric_units(root):
    """(end-to-end, per-layer) metric name → unit, as BENCHMARK.json names
    them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(root, classpath, workload, seed, seconds, trace, out, data, timeout, extra=()):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP[workload]}", f"-Xmx{HEAP[workload]}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + opens + ["-cp", classpath, "graftbench.Main", "run", "--workload", workload,
                      "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                      "--out", out, "--data", data] + list(extra))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM exceeded {timeout:.0f}s; see {out}/jvm.log")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {rc}:\n{tail}")


def failures(workload, out, data, ops, cache_dir, verified):
    """{op id: reason} for every op whose output does not match its
    reference (or that failed or timed out). For catalog, `verified` maps
    a query to an output digest already checked for this build and data;
    queries newly checked here are added to it."""
    import check
    bad = {o["id"]: "op: " + o["error"] for o in ops if not o["ok"]}
    lines = check.read_jsonl(os.path.join(out, "checks.jsonl"))
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    if workload == "catalog":
        con = check.connect(data)
        ident = check.data_identity(data)
        item_bad = {}
        for c in lines:
            q = c["item"]
            if c["error"]:
                item_bad[q] = "check run: " + c["error"]
            elif q not in oracle:
                item_bad[q] = "no oracle"
            else:
                try:
                    ref = check.reference(con, oracle[q], cache_dir, ident)
                    why = check.compare(con, ref, check.parquet_rel(os.path.join(out, "check", q)))
                except Exception as e:  # a reference that cannot run is a failed check
                    why = f"reference: {str(e)[:300]}"
                if why:
                    item_bad[q] = why
        digests = {c["item"]: c["digest"] for c in lines}
        for q, d in digests.items():
            if q not in item_bad:
                verified[q] = d
        for o in ops:
            if o["id"] in bad or verified.get(o["item"]) == o["digest"]:
                continue
            if o["item"] in item_bad:
                bad[o["id"]] = item_bad[o["item"]]
            elif digests.get(o["item"]) != o["digest"]:
                bad[o["id"]] = f"digest {o['digest']} != checked {digests.get(o['item'])}"
        return bad
    # bulk_etl: every op's saved tables must digest like the last copy, which
    # must equal DuckDB's answer over the generated parquet; a rendered SQL
    # text must give its op's saved rows
    import bulk_sql
    oracle.update(bulk_sql.ORACLES)
    con = check.connect(data)
    last = {}
    for c in lines:
        last[c["table"]] = c["digest"]
    table_bad = {}
    for table in last:
        if table not in oracle:
            table_bad[table] = "no oracle"
            continue
        try:
            why = check.compare(con, oracle[table],
                                check.parquet_rel(os.path.join(out, "warehouse", table)),
                                abs_tol=bulk_sql.ABS_TOL.get(table))
        except Exception as e:
            why = f"reference: {str(e)[:300]}"
        if why:
            table_bad[table] = why
    for o in ops:
        if o["ok"] and not any(c["op"] == o["id"] for c in lines):
            bad[o["id"]] = "unchecked"
    for c in check.read_jsonl(os.path.join(out, "render_checks.jsonl")):
        if c["error"]:
            bad.setdefault(c["op"], c["error"])
    for c in lines:
        if c["op"] in bad:
            continue
        if c["table"] in table_bad:
            bad[c["op"]] = c["table"] + ": " + table_bad[c["table"]]
        elif c["digest"] != last[c["table"]]:
            bad[c["op"]] = c["table"] + ": digest differs from the checked copy"
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(HEAP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    end_to_end, per_layer = metric_units(root)
    try:
        classpath, stamp = build.build(root)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    # the run's own time limit starts once graft is built
    t_start = time.time()
    bench_dir = build.build_dir(root)
    out = os.path.join(bench_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    gen_s = 0.0
    rows = {}
    extra = []
    if a.workload == "bulk_etl":
        import gen
        data = os.path.join(out, "data")
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            rows = gen.generate(data, a.seed)
            reps.append(time.perf_counter() - t0)
        gen_s = statistics.median(reps)
    else:
        data = os.path.join(HERE, "data", "sf0.001")

    verified, verified_path = {}, None
    if a.workload == "catalog":
        import check
        key = stamp[:16] + "-" + check.data_identity(data)[:16]
        verified_path = os.path.join(bench_dir, "verified", key + ".json")
        verified = check.committed_digests(data)
        if os.path.exists(verified_path):
            with open(verified_path) as f:
                verified.update(json.load(f))
        with open(os.path.join(out, "verified.tsv"), "w") as f:
            f.writelines(f"{q}\t{d}\n" for q, d in sorted(verified.items()))
        extra = ["--costs", os.path.join(HERE, "catalog_costs.tsv"),
                 "--verified", os.path.join(out, "verified.tsv")]

    t_jvm = time.time()
    run_jvm(root, classpath, a.workload, a.seed, a.seconds, a.trace, out, data,
            timeout=DEADLINE_S - CHECK_RESERVE_S - (t_jvm - t_start), extra=extra)
    jvm_s = time.time() - t_jvm
    run = json.load(open(os.path.join(out, "run.json")))
    ops = [json.loads(line) for line in open(os.path.join(out, "ops.jsonl"))]
    if not ops:
        fail("no op completed")

    bad = failures(a.workload, out, data, ops, os.path.join(bench_dir, "oracle_cache"), verified)
    if verified_path:
        os.makedirs(os.path.dirname(verified_path), exist_ok=True)
        tmp = f"{verified_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(verified, f, sort_keys=True)
        os.replace(tmp, verified_path)
    # keep the run's logs, records and spans; drop inputs and outputs
    for d in ("data", "warehouse", "check", "dbt", "spark-local", "checkpoints", "tmp"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    ok_lat = [o["latency_s"] for o in ops if o["id"] not in bad]
    cold = [o["cold_s"] for o in ops if o["cold_s"] > 0]
    failed_items = {}
    for o in ops:
        if o["id"] in bad:
            failed_items.setdefault(o["item"], bad[o["id"]][:300])

    if a.trace:
        spans = [json.loads(line) for line in open(os.path.join(out, "spans.jsonl"))]
        values = stats.per_layer(spans, run["cores"])
        # latency of the untimed first run each catalog and bulk_etl item gets
        values["trace.cold_op_p50_s"] = statistics.median(cold) if cold else 0.0
        # a kernel metric is 0 on a workload that runs none of its pipeline
        missing = [k for k in per_layer if k not in values and not k.startswith("kernel.")]
        if missing:
            fail(f"no value for per-layer metrics {missing}")
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in per_layer.items()}
    else:
        lat = ok_lat or [o["latency_s"] for o in ops]
        values = {
            "setup_s": run["session_s"] + statistics.median(run["setup_reps_s"]) + gen_s,
            "op_p50_s": statistics.median(lat),
            "ops_per_s": len(ok_lat) / run["wall_s"],
            "retained_heap_mb": run["retained_heap_mb"],
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in end_to_end.items()}

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "x_calibrate_s": run["x_calibrate_s"], "ops": len(ops), "ok_ops": len(ok_lat),
        "tail_percentile": stats.tail_percentile(len(ok_lat)),
        "wall_s": run["wall_s"], "session_s": run["session_s"],
        "setup_reps_s": run["setup_reps_s"], "gen_s": gen_s,
        "cold_op_p50_s": statistics.median(cold) if cold else None,
        "input_rows": rows,
        "untimed_s": run["untimed_s"], "check_s": run["check_s"], "jvm_s": jvm_s, "heap": HEAP[a.workload],
        "failed_items": failed_items, "total_s": time.time() - t_start,
    }
    result = {"correct": not bad, "attempted": len(ops), "failed": len(bad), "metrics": metrics}
    res_dir = os.path.join(bench_dir, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start * 1000)}.json"),
              "w") as f:
        json.dump({"record": record, "result": result}, f)
    print(json.dumps({"record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
