"""Turns what the harness observed into the benchmark's metrics.

The harness (`src/main/scala/perfbench/Main.scala`) writes raw
observations: per unit of work its timestamps, per-file outcomes or
per-query results, and, in a traced run, spans and Spark jobs. Every
rule that derives a number from them lives here, where the self-tests
can reach it.
"""
import statistics

NS = 1e9
ROUTED = ("processed", "quarantined")


# ---- statistics


def median(values):
    return statistics.median(values) if values else 0.0


# ---- spans


def covered(intervals, start, end):
    """Length of [start, end] covered by the union of `intervals`."""
    total, reach = 0, start
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def contains(outer, inner, slack):
    return (outer["start"] - slack <= inner["start"]
            and inner["end"] <= outer["end"] + slack)


def assign_parents(spans, slack=5_000_000):
    """Give every span without a parent the smallest longer span that
    contains it (within `slack` ns, the rounding of progress times).
    Spans the harness parented explicitly keep their parent. Ordering
    candidates by (duration, id) rules out cycles."""
    def order(s):
        return (s["end"] - s["start"], s["id"])
    by_size = sorted(spans, key=order)
    for s in spans:
        if s["parent"] or s["name"] == "workload":
            continue
        for cand in by_size:
            if order(cand) > order(s) and contains(cand, s, slack):
                s["parent"] = cand["id"]
                break
    return spans


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def attribute(jobs, spans):
    """Map job id -> span id. A job starts at the span its submitting
    thread was tagged with (a thread inherits its parent's tag) and
    descends into the innermost child span running when it started.
    An untagged job starts at the roots."""
    index = {s["id"]: s for s in spans}
    kids = children_of(spans)
    out = {}
    for j in jobs:
        current = index.get(j["tag"])
        pool = kids.get(current["id"] if current else 0, [])
        while True:
            inside = [c for c in pool if c["start"] <= j["start"] <= c["end"]]
            if not inside:
                break
            current = min(inside, key=lambda c: (c["end"] - c["start"], -c["id"]))
            pool = kids.get(current["id"], [])
        out[j["id"]] = current["id"] if current else 0
    return out


def subtree(span_id, kids):
    out, stack = [], [span_id]
    while stack:
        sid = stack.pop()
        out.append(sid)
        stack.extend(c["id"] for c in kids.get(sid, []))
    return out


# ---- units


def ingest_unit(u, manifest):
    """Per-file outcomes of one drain against the generator's manifest:
    wall, and the files that failed (not processed, or short of rows in
    the sink)."""
    routed = {}
    for b in u["batches"]:
        for o in b["outcomes"]:
            if o["status"] in ROUTED:
                routed[o["file"]] = o["status"]
            else:
                routed.pop(o["file"], None)
    failed = [f for f, n in manifest["file_rows"].items()
              if routed.get(f) != "processed" or u["sunk_rows"].get(f, 0) != n]
    return {"wall": u["wall_s"], "attempted": len(manifest["file_rows"]),
            "failed": failed}


def ingest_problems(u, manifest):
    """Exact checks of what a drain left behind: every file processed,
    none quarantined, every row sunk and counted once per metric."""
    want = {
        "processed": manifest["files"],
        "quarantined": 0,
        "quarantine_log_lines": 0,
        "sunk_rows": manifest["rows"],
        "record_count_sum": manifest["record_count_sum"],
    }
    got = dict(u, sunk_rows=sum(u["sunk_rows"].values()))
    return [f"{k}: expected {v}, got {got[k]}"
            for k, v in want.items() if got[k] != v]


def ops_unit(u, fingerprints):
    failed = []
    for q in u["queries"]:
        want = (fingerprints or {}).get(q["query"])
        if q["error"] or want is None or [q["rows"], q["hash"]] != want:
            failed.append(q["query"])
    return {"wall": sum(q["build_s"] + q["run_s"] for q in u["queries"]),
            "attempted": len(u["queries"]), "failed": failed}


def work_cpu_s(u):
    """CPU time of the JVM during a unit, its JIT compiler threads
    excluded: driver, executors, Spark's own threads and the garbage
    collector."""
    h = u["host"]
    return (h["process_cpu_ns"] - h["jit_cpu_ns"]) / NS


# ---- the metrics

# One figure per workload: the CPU time of a drain of a fixed set of
# files, or of a pass over a fixed query list. Its wall time is reported
# per layer and on stderr (with rows per second for a drain): on a
# shared host it stretches with the CPU time the hypervisor gives to
# other tenants, which CPU time leaves out (README.md).
END_TO_END = [
    ("setup_s", "s"),
    ("ops_cpu_s", "s"),
]


def per_layer_names(queries):
    """Every per-layer metric, with its unit, in report order."""
    names = [
        ("spark.jobs", "count"), ("spark.stages", "count"),
        ("spark.tasks", "count"), ("spark.task_run_s", "s"),
        ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
        ("spark.sched_delay_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
        ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
        ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
        ("spark.busy_share", "ratio"),
        ("stream.triggers", "count"), ("stream.trigger_s", "s"),
        ("stream.latest_offset_s", "s"), ("stream.query_planning_s", "s"),
        ("stream.add_batch_s", "s"), ("stream.wal_commit_s", "s"),
        ("ingest.batch_self_s", "s"), ("ingest.batch_jobs", "count"),
        ("sink.calls", "count"), ("sink.write_s", "s"), ("sink.jobs", "count"),
        ("sink.task_s", "s"), ("sink.output_files", "files"),
        ("sink.output_bytes", "bytes"),
        ("route.move_s", "s"),
        ("ops.build_s", "s"), ("ops.build_jobs", "count"),
        ("ops.run_s", "s"), ("ops.run_jobs", "count"),
    ]
    for q in queries:
        names += [(f"{q}.build_s", "s"), (f"{q}.run_s", "s"), (f"{q}.jobs", "count")]
    names += [
        ("unit.wall_s", "s"), ("host.process_cpu_s", "s"),
        ("host.jit_cpu_s", "s"), ("host.steal_share", "ratio"),
        ("peak_rss_mb", "MB"), ("setup.warm_units", "count"),
        ("trace.overhead_s", "s"), ("trace.overhead_share", "ratio"),
    ]
    return names


def _unit_stats(raw_unit, kind, manifest, fingerprints):
    if kind == "ops":
        return ops_unit(raw_unit, fingerprints)
    return ingest_unit(raw_unit, manifest)


def _spark_totals(jobs):
    keys = ("tasks", "run_ms", "cpu_ns", "gc_ms", "sched_delay_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_bytes", "output_bytes", "stages")
    return {k: sum(j["totals"][k] for j in jobs) for k in keys}


def _layers_of_unit(unit_span, u, st, index, kids, jobs, owner, cpus):
    ids = set(subtree(unit_span["id"], kids))
    spans = [index[i] for i in ids]

    def named(*names):
        return [s for s in spans if s["name"] in names]

    def jobs_under(owners):
        return [j for j in jobs if owner[j["id"]] in owners]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss) / NS

    ujobs = jobs_under(ids)
    t = _spark_totals(ujobs)
    m = {
        "spark.jobs": len(ujobs), "spark.stages": t["stages"],
        "spark.tasks": t["tasks"], "spark.task_run_s": t["run_ms"] / 1e3,
        "spark.task_cpu_s": t["cpu_ns"] / NS, "spark.gc_s": t["gc_ms"] / 1e3,
        "spark.sched_delay_s": t["sched_delay_ms"] / 1e3,
        "spark.shuffle_read_bytes": t["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
        "spark.spill_bytes": t["spill_bytes"],
        "spark.input_bytes": t["input_bytes"],
        "spark.output_bytes": t["output_bytes"],
        "spark.busy_share": t["run_ms"] / 1e3 / (st["wall"] * cpus),
        "unit.wall_s": st["wall"],
        "host.process_cpu_s": u["host"]["process_cpu_ns"] / NS,
        "host.jit_cpu_s": u["host"]["jit_cpu_ns"] / NS,
        "host.steal_share": steal_share([u]),
    }
    if "queries" in u:
        builds, runs = named("build"), named("run")
        m["ops.build_s"] = dur(builds)
        m["ops.run_s"] = dur(runs)
        m["ops.build_jobs"] = len(jobs_under({s["id"] for s in builds}))
        m["ops.run_jobs"] = len(jobs_under({s["id"] for s in runs}))
        for qs in named("query"):
            q = qs["attrs"]["query"]
            parts = {c["name"]: c for c in kids.get(qs["id"], [])}
            m[f"{q}.build_s"] = dur([parts["build"]]) if "build" in parts else 0.0
            m[f"{q}.run_s"] = dur([parts["run"]]) if "run" in parts else 0.0
            m[f"{q}.jobs"] = len(jobs_under(set(subtree(qs["id"], kids))))
        return m
    sinks = named("sink.writeAll", "sink.write")
    sink_jobs = jobs_under({s["id"] for s in sinks})
    adds = named("add_batch")
    progress = u["progress"]

    def progress_s(key):
        return sum(p["duration_ms"].get(key, 0) for p in progress) / 1e3

    self_ns = sum(self_time(a, kids.get(a["id"], [])) for a in adds)
    m.update({
        "sink.calls": u["sink_calls"], "sink.write_s": u["sink_ns"] / NS,
        "sink.jobs": len(sink_jobs),
        "sink.task_s": _spark_totals(sink_jobs)["run_ms"] / 1e3,
        "sink.output_files": u["output_files"],
        "sink.output_bytes": u["output_bytes"],
        "ingest.batch_self_s": max(0.0, (self_ns - u["move_ns"]) / NS),
        "ingest.batch_jobs": len(jobs_under({a["id"] for a in adds})),
        "stream.triggers": sum(1 for p in progress
                               if "addBatch" in p["duration_ms"]),
        "stream.trigger_s": progress_s("triggerExecution"),
        "stream.latest_offset_s": progress_s("latestOffset"),
        "stream.query_planning_s": progress_s("queryPlanning"),
        "stream.add_batch_s": progress_s("addBatch"),
        "stream.wal_commit_s": progress_s("walCommit"),
        "route.move_s": u["move_ns"] / NS,
    })
    return m


def steal_share(units):
    """Share of the machine's CPU time the hypervisor gave to others
    while these units ran."""
    jiffies = sum(u["host"]["jiffies"] for u in units)
    return sum(u["host"]["steal"] for u in units) / jiffies if jiffies else 0.0


def summarize(raw, kind, manifest, fingerprints, spawned_ns, traced,
              layer_queries):
    """The run's result line (plus `problems`, `notes` and `spans`,
    which run.py takes out before printing). A traced run reports every
    per-layer metric, those of `layer_queries` included, whatever the
    workload."""
    sections = [("units", raw["units"]), ("traced_units", raw["traced_units"])]
    stats, problems, attempted, failed = {}, [], 0, 0
    for key, units in sections:
        stats[key] = []
        for u in units:
            st = _unit_stats(u, kind, manifest, fingerprints)
            stats[key].append(st)
            attempted += st["attempted"]
            failed += len(st["failed"])
            for f in st["failed"][:5]:
                problems.append(f"failed: {f}")
            if kind != "ops":
                found = ingest_problems(u, manifest)
                problems += found
                if found and not st["failed"]:
                    failed += 1

    walls = [s["wall"] for s in stats["units"]]
    cpus = [work_cpu_s(u) for u in raw["units"]]
    warm = raw["warm_walls"]
    notes = [
        f"warm-up: {len(warm)} units, wall / CPU "
        + ", ".join(f"{w:.2f} / {c:.2f}" for w, c in zip(warm, raw["warm_cpu"]))
        + " s, "
        + ("agreed" if raw["warm_agreed"] else "stopped at the cap WITHOUT agreeing"),
        f"timed units: {len(walls)}, wall / CPU / JIT CPU (host steal) "
        + ", ".join(f"{w:.2f} / {c:.2f} / {u['host']['jit_cpu_ns'] / NS:.2f} s"
                    f" ({steal_share([u]):.0%})"
                    for w, c, u in zip(walls, cpus, raw["units"])),
        f"host steal during the timed units: {steal_share(raw['units']):.1%}",
    ]
    if kind != "ops":
        notes.append(f"rows/s: {manifest['rows'] / median(walls):.0f}")
    result = {"correct": failed == 0 and not problems,
              "attempted": attempted, "failed": failed,
              "problems": problems, "notes": notes, "spans": []}
    if not traced:
        e2e = {"setup_s": (raw["setup_end"] - spawned_ns) / NS,
               "ops_cpu_s": median(cpus)}
        result["metrics"] = {n: {"value": e2e[n], "unit": u}
                             for n, u in END_TO_END}
        return result

    spans = assign_parents([dict(s) for s in raw["spans"]])
    index = {s["id"]: s for s in spans}
    kids = children_of(spans)
    owner = attribute(raw["jobs"], spans)
    unit_spans = sorted((s for s in spans if s["name"] == "unit"),
                        key=lambda s: s["start"])
    per_unit = [_layers_of_unit(us, u, st, index, kids, raw["jobs"], owner,
                                raw["cpus"])
                for us, u, st in zip(unit_spans, raw["traced_units"],
                                     stats["traced_units"])]
    names = per_layer_names(layer_queries)
    layer = {n: median([m.get(n, 0) for m in per_unit]) for n, _ in names}
    traced_cpu = median([work_cpu_s(u) for u in raw["traced_units"]])
    layer["peak_rss_mb"] = raw["peak_rss_kb"] / 1024
    layer["setup.warm_units"] = len(warm)
    layer["trace.overhead_s"] = traced_cpu - median(cpus)
    layer["trace.overhead_share"] = layer["trace.overhead_s"] / median(cpus)
    result["metrics"] = {n: {"value": layer[n], "unit": u} for n, u in names}
    result["spans"] = spans + [
        {"id": f"job{j['id']}", "name": "job", "start": j["start"],
         "end": j["end"], "parent": owner[j["id"]], "attrs": j["totals"]}
        for j in raw["jobs"]]
    return result
