"""Arithmetic of the benchmark: percentiles, span self time and the
per-layer metrics derived from a traced run's spans."""
import statistics


def tail_percentile(n, candidates=(99.9, 99.0, 90.0, 50.0)):
    """Highest candidate percentile with at least ten samples beyond it
    among n samples, or None when even the median has fewer."""
    for p in candidates:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            return p
    return None


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_time(span, kids):
    """A span's duration minus the part of it its children cover."""
    dur = span["t1"] - span["t0"]
    iv = [(c["t0"], c["t1"]) for c in kids.get(span["id"], [])]
    return dur - covered(iv, span["t0"], span["t1"])


def attach_orphan_jobs(spans):
    """Jobs launched from threads that did not inherit the benchmark's span
    property arrive with parent -1; file each under the innermost phase
    span of its op that contains its start."""
    phases = [s for s in spans if s["name"] != "job" and s["name"] != "op"]
    for j in spans:
        if j["name"] == "job" and j["parent"] < 0:
            best = None
            for p in phases:
                if p["op"] == j["op"] and p["t0"] <= j["t0"] <= p["t1"]:
                    if best is None or p["t0"] >= best["t0"]:
                        best = p
            if best is None:
                best = next((s for s in spans if s["name"] == "op" and s["op"] == j["op"]), None)
            if best is not None:
                j["parent"] = best["id"]


def per_layer(spans, cores):
    """Per-layer metrics of a traced run on `cores` cores: means per op
    (over the ops that have the phase), storage peaks as maxima, failed
    tasks as a total, and kernel.<pipeline>_cpu_s for every pipeline an op
    span names."""
    attach_orphan_jobs(spans)
    kids = children_of(spans)
    ops = [s for s in spans if s["name"] == "op"]

    def phase_spans(name):
        return [s for s in spans if s["name"] == name]

    def jobs_under(span):
        return [c for c in kids.get(span["id"], []) if c["name"] == "job"]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def sec(ns):
        return ns / 1e9

    m = {}
    build = phase_spans("build")
    m["chain.build_s"] = mean([sec(s["t1"] - s["t0"]) for s in build])
    m["chain.driver_s"] = mean([sec(self_time(s, kids)) for s in build])
    m["chain.jobs"] = mean([len(jobs_under(s)) for s in build])
    m["chain.job_s"] = mean([sec((s["t1"] - s["t0"]) - self_time(s, kids)) for s in build])
    m["chain.alloc_mb"] = mean([s.get("alloc_mb", 0.0) for s in build])

    plan = phase_spans("plan")
    m["catalyst.plan_s"] = mean([sec(s["t1"] - s["t0"]) for s in plan])
    m["catalyst.optimize_s"] = mean([s.get("optimize_s", 0.0) for s in plan])
    m["catalyst.physical_s"] = mean([s.get("physical_s", 0.0) for s in plan])
    m["catalyst.plan_nodes"] = mean([s.get("plan_nodes", 0) for s in plan])
    m["catalyst.exchanges"] = mean([s.get("exchanges", 0) for s in plan])

    # the action: a digest or count in catalog, the save in bulk_etl
    ex = phase_spans("exec") + phase_spans("write")
    ex_jobs = [jobs_under(s) for s in ex]
    wall = sum(sec(s["t1"] - s["t0"]) for s in ex)
    task_s = sum(j["task_s"] for js in ex_jobs for j in js)
    m["exec.s"] = mean([sec(s["t1"] - s["t0"]) for s in ex])
    m["exec.jobs"] = mean([len(js) for js in ex_jobs])
    for key in ("stages", "tasks", "task_s", "task_cpu_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb"):
        m["exec." + key] = mean([sum(j[key] for j in js) for js in ex_jobs])
    m["exec.util"] = task_s / (wall * cores) if wall > 0 else 0.0
    m["exec.driver_gap_s"] = mean([sec(self_time(s, kids)) for s in ex])
    m["exec.gc_s"] = mean([s.get("gc_s", 0.0) for s in ex])
    jobs = phase_spans("job")
    m["exec.failed_tasks"] = sum(j["failed_tasks"] for j in jobs)

    # task CPU of every job a pipeline's ops ran, construction included,
    # per pass over the pipeline (each of its items once)
    cpu_of_op = {}
    for j in jobs:
        cpu_of_op[j["op"]] = cpu_of_op.get(j["op"], 0.0) + j["task_cpu_s"]
    by_item = {}
    for o in ops:
        if "pipeline" in o:
            by_item.setdefault((o["pipeline"], o.get("item")), []).append(cpu_of_op.get(o["op"], 0.0))
    for (pipeline, _), cpu in by_item.items():
        key = f"kernel.{pipeline}_cpu_s"
        m[key] = m.get(key, 0.0) + mean(cpu)

    m["storage.peak_mb"] = max([s.get("storage_mb", 0.0) for s in ex], default=0.0)
    m["storage.blocks"] = max([s.get("storage_blocks", 0) for s in ex], default=0)

    rs, rd = phase_spans("render_sql"), phase_spans("render_dbt")
    m["render.sql_s"] = mean([sec(s["t1"] - s["t0"]) for s in rs])
    m["render.dbt_s"] = mean([sec(s["t1"] - s["t0"]) for s in rd])
    m["render.sql_kb"] = mean([s.get("sql_kb", 0.0) for s in rs])
    m["render.ctes"] = mean([s.get("ctes", 0) for s in rs])

    wr = phase_spans("write")
    m["write.s"] = mean([sec(s["t1"] - s["t0"]) for s in wr])
    m["write.mb"] = mean([s.get("mb", 0.0) for s in wr])
    m["write.files"] = mean([s.get("files", 0) for s in wr])

    lat = [sec(o["t1"] - o["t0"]) for o in ops]
    m["trace.ops"] = len(ops)
    m["trace.op_p50_s"] = statistics.median(lat) if lat else 0.0
    m["trace.spans"] = len(spans)
    return m
