"""The benchmark's check of itself. Runs every workload traced at its
smallest size (sf0.001 and a 10k-event corpus) and asserts that:

- the result line names every metric of BENCHMARK.json exactly once, with
  its unit, both the end-to-end and the per-layer ones;
- every output check passes, and a perturbed expected checksum, in a
  temporary copy, is detected;
- each query span's phase self times cover its wall time; the remainder
  (time between phases) is reported.

    python3 perfbench/run.py --smoke
"""
import copy
import json

import metrics

WORKLOADS = ("queries", "tdb_storage")


def printed_once(result, names):
    line = json.dumps(result)
    back = json.loads(line)["metrics"]
    errors = []
    for n in names:
        if line.count(json.dumps(n) + ":") != 1:
            errors.append(f"{n} printed {line.count(json.dumps(n) + ':')} times")
        elif not back[n].get("unit"):
            errors.append(f"{n} has no unit")
    extra = set(back) - set(names)
    if extra:
        errors.append(f"unexpected metrics {sorted(extra)}")
    return errors


def span_cover(record):
    """Per query span: wall, the sum of its phases' self times, remainder."""
    spans = {s["id"]: s for s in record["spans"]}
    kids = {}
    for s in record["spans"]:
        kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end_ms"] - s["start_ms"]

    out = []
    for q in (s for s in spans.values() if s["name"] == "query"):
        phases = [c for c in kids.get(q["id"], []) if c["name"] != "streaming"]
        selfs = []
        for p in phases:
            sub = [c for c in kids.get(p["id"], []) if c["name"] == "analysis"]
            selfs.append(dur(p) - sum(dur(c) for c in sub))
            selfs += [dur(c) for c in sub]
        wall = dur(q)
        out.append((q["attrs"]["row"], wall, sum(selfs), wall - sum(selfs)))
    return out


def main(run_jvm, spec, expected):
    errors = []
    for w in WORKLOADS:
        rec = run_jvm(w, 1, 1, True, small=True, tag=f"smoke-{w}")
        for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
            res = metrics.result(rec, expected, spec, trace)
            for p in res.pop("problems"):
                if not p.startswith("run:"):
                    errors.append(f"{w}: {p}")
            names = [x["name"] for x in spec[kind]]
            errors += [f"{w} {kind}: {e}" for e in printed_once(res, names)]
            if not res["correct"]:
                errors.append(f"{w}: outputs not correct")
        # A wrong expected value must be caught.
        bad = copy.deepcopy(expected)
        if rec["rows"]:
            row = rec["rows"][0]
            h = bad[str(rec["sf"])]["rows"][row]["hash"]
            bad[str(rec["sf"])]["rows"][row]["hash"] = str(int(h) ^ 1)
            bad[str(rec["sf"])]["nondeterministic"] = []
            caught = metrics.checks(rec, bad)[1] > 0
        else:
            rec2 = copy.deepcopy(rec)
            rec2["corpus_checksum"]["hash"] = str(int(rec2["corpus_checksum"]["hash"]) ^ 1)
            caught = metrics.checks(rec2, expected)[1] > 0
        print(f"[smoke] {w}: perturbed expected checksum detected: {caught}")
        if not caught:
            errors.append(f"{w}: perturbed checksum not detected")
        cover = span_cover(rec)
        if rec["rows"] and not cover:
            errors.append(f"{w}: no query spans")
        for row, wall, phases, rest in cover:
            if rest < -1.0 or rest > max(20.0, 0.05 * wall):
                errors.append(f"{w}: {row} phases cover {phases:.1f} of {wall:.1f} ms")
        if cover:
            worst = max(cover, key=lambda c: c[3])
            print(f"[smoke] {w}: {len(cover)} query spans; phases cover their wall "
                  f"time up to {worst[3]:.2f} ms ({worst[0]})")
    for e in errors:
        print(f"[smoke] FAIL {e}")
    print(f"[smoke] {'ok' if not errors else f'{len(errors)} failures'}")
    return 0 if not errors else 1
