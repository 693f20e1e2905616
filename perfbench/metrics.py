"""Turns a run record (written by graft.perfbench.Main) into the benchmark's
result: output checks, end-to-end metrics and per-layer metrics.

A run record lists every execution: query rows, and the storage workload's
ops (ingest, export, decode_all, decode_field, recode) as rows of family
"storage". Metrics use only the timed executions of the closed loop; the
set-up pass is reported as set-up time."""
import math
import statistics

FAMILIES = ("sql", "trail", "text", "vector")
FAMILY_METRICS = (
    "build_s", "build_jobs", "analysis_s", "optimization_s", "planning_s",
    "exec_s", "jobs", "tasks", "task_s", "task_cpu_s", "slot_idle_ratio",
    "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_failures")
TASK_KEYS = ("tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
             "shuffle_read_mb", "spill_mb", "task_failures")
STREAM_KEYS = ("add_batch_s", "query_planning_s", "log_commit_s", "trigger_s",
               "start_s", "batches")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, pct=90):
    """Nearest-rank percentile `pct` of xs. Returns (value, samples).

    A run holds tens of executions, too few for a percentile with ten
    samples beyond it, so the tail is the 90th percentile of the run."""
    s = sorted(xs)
    if not s:
        return 0.0, 0
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)], len(s)


def by_row(record):
    """Timed, successful executions grouped by row."""
    out = {}
    for e in record["executions"]:
        if e["timed"] and e["ok"]:
            out.setdefault(e["row"], []).append(e)
    return out


def checks(record, expected):
    """Checks every output. Returns (attempted, failed, problems)."""
    problems = []
    exp = expected.get(str(record["sf"]), {})
    exp_rows = exp.get("rows", {})
    nondet = set(exp.get("nondeterministic", []))
    attempted = failed = 0
    for e in record["executions"]:
        attempted += 1
        bad = None
        want = exp_rows.get(e["row"])
        if not e["ok"]:
            bad = f"failed: {e['error']}"
        elif e["family"] == "storage":
            events = record["corpus_rows"]["events"]
            if e["row"].startswith("decode") and e["rows"] != events:
                bad = f"decoded {e['rows']} events, expected {events}"
        elif want is None:
            bad = "no expected checksum recorded"
        elif e["rows"] != want["rows"]:
            bad = f"returned {e['rows']} rows, expected {want['rows']}"
        elif "checksum" in e:
            got = e["checksum"]
            if got["rows"] != want["rows"]:
                bad = f"checksum counted {got['rows']} rows, expected {want['rows']}"
            elif e["row"] not in nondet and got["hash"] != want["hash"]:
                bad = f"checksum {got['hash']}, expected {want['hash']}"
        if bad:
            failed += 1
            problems.append(f"{e['row']} (pass {e['pass']}): {bad}")
    want = record.get("corpus_checksum")
    for c in record["cycles"]:
        bad = None if c["ok"] else c["error"]
        for k, got in c["checks"].items():
            if got != want:
                bad = f"{k} checksum {got}, expected {want}"
        if bad:
            failed += 1
            problems.append(f"storage cycle (pass {c['pass']}): {bad}")
    if record["loop_s"] > 0 and not by_row(record):
        failed += 1
        problems.append("no timed execution succeeded")
    return attempted, failed, problems


def end_to_end(record):
    """The end-to-end metrics, and notes on how the tail was taken."""
    rows = by_row(record)
    walls = {r: [e["wall_s"] for e in es] for r, es in rows.items()}
    samples = [t for ts in walls.values() for t in ts]
    tail_v, tail_n = tail(samples)
    # The median execution, each execution taken at its row's median: a
    # run has few rows, and a row's slow first pass would otherwise decide
    # which side of a gap between two rows' times the median falls on.
    typical = [median(ts) for ts in walls.values() for _ in ts]
    s = record["setup"]
    m = {
        "setup_s": s["session_s"] + s["warm_pass_s"],
        "suite_s": sum(median(ts) for ts in walls.values()),
        "query_p50_s": median(typical),
        "query_tail_s": tail_v,
        "retained_heap_mb": record["retained_heap_mb"],
    }
    notes = {"query_tail_percentile": 90, "query_tail_samples": tail_n,
             "passes": record["passes"], "loop_s": round(record["loop_s"], 2),
             "checksum_s": round(record["checksum_s"], 2),
             "inputs_s": round(s["inputs_s"], 2)}
    return m, notes


def per_layer(record):
    """The per-layer metrics, from the traced run. A layer the workload does
    not reach reports 0."""
    cores = record["cores"]
    rows = by_row(record)

    def layer(e, phase, key):
        return e.get("layers", {}).get(phase, {}).get(key, 0.0)

    def everywhere(e, key):
        return sum(v.get(key, 0.0) for v in e.get("layers", {}).values())

    def row_sum(fam, f):
        """Sum over the family's rows of each row's median of f."""
        return sum(median([f(e) for e in es]) for es in rows.values()
                   if es[0]["family"] == fam)

    m = {}
    for fam in FAMILIES:
        v = {
            "build_s": row_sum(fam, lambda e: e["phases"]["build_self"]),
            "build_jobs": row_sum(fam, lambda e: layer(e, "build", "jobs")),
            "analysis_s": row_sum(fam, lambda e: e["phases"].get("analysis", 0.0)),
            "optimization_s": row_sum(fam, lambda e: e["phases"]["optimization"]),
            "planning_s": row_sum(fam, lambda e: e["phases"]["planning"]),
            "exec_s": row_sum(fam, lambda e: e["phases"]["exec"]),
            "jobs": row_sum(fam, lambda e: everywhere(e, "jobs") - layer(e, "build", "jobs")),
        }
        for k in TASK_KEYS:
            v[k] = row_sum(fam, lambda e, k=k: everywhere(e, k))
        # Task slots left waiting while the plan executes: the exec phase's
        # task time against its wall time on every core.
        exec_task_s = row_sum(fam, lambda e: layer(e, "exec", "task_s"))
        v["slot_idle_ratio"] = (1.0 - exec_task_s / (v["exec_s"] * cores)
                                if v["exec_s"] > 0 else 0.0)
        for k in FAMILY_METRICS:
            m[f"{fam}.{k}"] = v[k]
    for k in STREAM_KEYS:
        m[f"streaming.{k}"] = sum(
            median([e.get("streaming", {}).get(k, 0.0) for e in es])
            for es in rows.values())

    def op(name, f=lambda e: e["wall_s"]):
        return median([f(e) for e in rows.get(name, [])])

    cyc = [c for c in record["cycles"] if c["timed"] and c["ok"]]
    events = record["corpus_rows"].get("events", 0)
    db = median([c["db_bytes"] for c in cyc])
    pkg = median([c["package_bytes"] for c in cyc])

    def rate(name):
        t = op(name)
        return events / t if t > 0 else 0.0

    m.update({
        "core.finalize_s": op("ingest"),
        "core.finalize_shuffle_mb": op("ingest", lambda e: everywhere(e, "shuffle_write_mb")),
        "core.db_bytes": db,
        "core.ingest_events_per_s": rate("ingest"),
        "core.db_bytes_per_event": db / events if events else 0.0,
        "sources.export_s": op("export"),
        "sources.export_shuffle_mb": op("export", lambda e: everywhere(e, "shuffle_write_mb")),
        "sources.decode_all_s": op("decode_all"),
        "sources.decode_field_s": op("decode_field"),
        "sources.decode_tasks": op("decode_all", lambda e: everywhere(e, "tasks")),
        "sources.recode_s": op("recode"),
        "sources.package_bytes": pkg,
        "sources.export_events_per_s": rate("export"),
        "sources.decode_events_per_s": rate("decode_all"),
        "sources.decode_field_events_per_s": rate("decode_field"),
        "sources.recode_events_per_s": rate("recode"),
        "sources.package_bytes_per_event": pkg / events if events else 0.0,
    })
    s, j = record["setup"], record["jvm"]
    m.update({
        "setup.session_s": s["session_s"],
        "setup.inputs_s": s["inputs_s"],
        "setup.warm_pass_s": s["warm_pass_s"],
        "jvm.gc_s": j["gc_s"],
        "jvm.jit_ms": j["jit_ms"],
        "jvm.heap_peak_mb": j["heap_peak_mb"],
    })
    return m


def result(record, expected, spec, trace):
    attempted, failed, problems = checks(record, expected)
    kind = "per_layer" if trace else "end_to_end"
    if trace:
        got = per_layer(record)
    else:
        got, notes = end_to_end(record)
        problems.append("run: " + ", ".join(f"{k}={v}" for k, v in notes.items()))
    names = [x["name"] for x in spec[kind]]
    units = {x["name"]: x["unit"] for x in spec[kind]}
    missing = [n for n in names if n not in got]
    if missing:
        problems.append("metrics not computed: " + ", ".join(missing))
    return {
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": got[n], "unit": units[n]} for n in names if n in got},
        "problems": problems,
    }


def overhead(untraced, traced, spec):
    """Traced minus untraced end-to-end metrics: the cost of tracing."""
    a, _ = end_to_end(untraced)
    b, _ = end_to_end(traced)
    return {x["name"]: {"untraced": a[x["name"]], "traced": b[x["name"]],
                        "overhead": b[x["name"]] - a[x["name"]], "unit": x["unit"]}
            for x in spec["end_to_end"]}
