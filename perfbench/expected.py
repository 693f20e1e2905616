"""Records the expected output of every query row: its row count and
order-insensitive checksum, at both input sizes (the benchmark's and the
smoke run's). The query workload runs with two seeds, which run the rows
in different orders; a row whose checksum differs between them is listed
as nondeterministic and is then checked by row count only.

    python3 perfbench/run.py --record-expected
"""
import json

SEEDS = (1, 2)


def record(run_jvm, path, sizes):
    """`sizes` lists (small, sf) pairs: run_jvm's size flag and the scale
    factor it stands for."""
    out = {}
    for small, sf in sizes:
        rows, nondet = {}, set()
        for seed in SEEDS:
            rec = run_jvm("queries", seed, 1, False, small=small,
                          tag=f"expected-{seed}")
            for e in rec["executions"]:
                if not e["ok"]:
                    raise SystemExit(f"{e['row']} failed: {e['error']}")
                if "checksum" not in e:
                    continue
                got = {"rows": e["rows"], "hash": e["checksum"]["hash"]}
                prev = rows.setdefault(e["row"], got)
                if prev["rows"] != got["rows"]:
                    raise SystemExit(f"{e['row']}: row count differs between runs")
                if prev["hash"] != got["hash"]:
                    nondet.add(e["row"])
        out[str(sf)] = {"rows": dict(sorted(rows.items())),
                        "nondeterministic": sorted(nondet)}
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    for sf, v in out.items():
        print(f"sf {sf}: {len(v['rows'])} rows, nondeterministic: "
              f"{', '.join(v['nondeterministic']) or 'none'}")
    return 0
