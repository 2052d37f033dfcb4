"""Per-day Spark job timelines of a traced `taxi_backfill` perfbench run.

    python3 perfbench/run.py --workload taxi_backfill --seed 1 --seconds 10 --trace 1
    python3 tools/jobtimeline.py .bench_build/work/taxi_backfill/out/raw.json [SOURCE]

Reads the run's `raw.json` and prints, as JSON, each traced measured day
(the `JOBS_*_seed1.json` format): its op id, wall time, per-stage times,
catalog bytes and files, and its jobs with the Runner stage that started
each and start/end times in ms from the day's start. Each day also gets
`gaps_ms`, the time between one job's end and the next job's start, and
`final_result_gap_ms`, the gap between final_result's two jobs. SOURCE
labels the run (e.g. the commit it ran).
"""
import json
import sys


def timeline(raw, source):
    clock = raw["clock"]

    def epoch_ms(ns):
        return clock["epoch_ms"] + (ns - clock["nano"]) / 1e6

    days = {}
    for op in raw["ops"]:
        if not op["traced"] or op["warm"] or not op["ok"]:
            continue
        t0 = epoch_ms(op["start_ns"])
        jobs = sorted((j for j in raw["jobs"] if j["op"] == op["id"]),
                      key=lambda j: j["start_ms"])
        rows = []
        for j in jobs:
            g = j["group"]
            stage = g[len("graft-stage-"):g.rindex("-")] \
                if g.startswith("graft-stage-") else g
            rows.append({"job": j["job"], "stage": stage,
                         "start_ms": round(j["start_ms"] - t0),
                         "end_ms": round(j["end_ms"] - t0)})
        final = [r for r in rows if r["stage"] == "final_result"]
        days[op["name"]] = {
            "op": op["id"], "wall_s": round(op["wall_s"], 3),
            "stage_s": {k: round(v, 3) for k, v in op["stage_s"].items()},
            "catalog_bytes": op["catalog_bytes"],
            "catalog_files": op["catalog_files"],
            "jobs": rows,
            "gaps_ms": [b["start_ms"] - a["end_ms"]
                        for a, b in zip(rows, rows[1:])],
            "final_result_gap_ms": (final[1]["start_ms"] - final[0]["end_ms"]
                                    if len(final) == 2 else None),
        }
    return {"source": source, "days": days}


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        raw = json.load(f)
    label = sys.argv[2] if len(sys.argv) > 2 else sys.argv[1]
    print(json.dumps(timeline(raw, label), indent=1))
