#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness
(`build.py`), generates the workload's inputs from the seed (`gen.py`,
outside every timed region), runs the harness on `local[<cores>]`, checks
every op's output against its DuckDB oracle (`oracle.py`) and prints the
metrics (`report.py`): the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The last stdout line is one JSON
object; the line before it records the run's environment. It exits 1
when an output is wrong and 2 when the run cannot start.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("taxi_backfill", "corpus_curation")
HEAP = "3g"
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.exit(code)


def run_harness(classpath, workload, inputs, out, args, cores, work):
    jvm = os.path.join(work, "jvm")
    tmp = os.path.join(jvm, "tmp")
    os.makedirs(tmp)
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "log4j2.properties")
    # no hsperfdata file: the JVM would write it under /tmp
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={log4j}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "graftbench.GraftBench", workload,
            inputs, out, str(args.seconds), str(args.trace), str(args.seed),
            str(cores)]
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=jvm, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s; see {log.name}", 1)
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness exited {rc}", 1)
    with open(os.path.join(out, "raw.json")) as f:
        return json.load(f)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat; (0, 0) where
    there is none."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


def check_outputs(raw, workload, inputs, out, work):
    """{op id: None when its output matched the oracle, else why}, for
    warm-up and measured ops alike: every op keeps its output (a backfill
    pass writes to a catalog of its own)."""
    orc = oracle.Oracle(inputs, raw["oracles"], os.path.join(work, "duckdb"))
    verdicts = {}
    for o in raw["ops"]:
        if not o["ok"]:
            verdicts[o["id"]] = o.get("error", "failed")
            continue
        if workload == "taxi_backfill":
            verdicts[o["id"]] = orc.check("c_pipeline_e2e", o["table"], day=o["name"])
        elif o["name"] in raw["oracles"]:
            verdicts[o["id"]] = orc.check(o["name"], os.path.join(out, "ops", o["id"]))
        else:
            verdicts[o["id"]] = "no oracle registered"
    return verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no engine sources under ./src/main/scala: run from a checkout root")
    classpath = build.build(root)
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(root, build.BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    os.makedirs(out)
    phases = {}
    t = time.monotonic()
    size = gen.generate(args.workload, args.seed, inputs)
    phases["generate_s"] = time.monotonic() - t
    t, ticks = time.monotonic(), cpu_ticks()
    raw = run_harness(classpath, args.workload, inputs, out, args, cores, work)
    phases["harness_s"] = time.monotonic() - t
    # the share of CPU time a hypervisor took from this machine while the
    # harness ran: a slow run with a high share was a busy host
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    phases["cpu_steal_pct"] = 100.0 * steal / max(1, total)
    t = time.monotonic()
    verdicts = check_outputs(raw, args.workload, inputs, out, work)
    phases["check_s"] = time.monotonic() - t
    bad = {k: v for k, v in verdicts.items() if v is not None}
    for k, v in sorted(bad.items()):
        sys.stderr.write(f"[perfbench] WRONG {k}: {v}\n")

    measured = report.measured(raw)
    failed = sum(1 for o in measured if o["id"] in bad)
    e2e, notes = report.end_to_end(raw, verdicts)
    if args.trace:
        values, layers = report.per_layer(raw, cores)
        units = report.PER_LAYER
        notes["layer_self_time"] = layers
    else:
        values, units = e2e, report.END_TO_END
    env = dict(raw["env"], input_size=size,
               measure_s=raw["measure_s"], phases=phases, **notes)
    with open(os.path.join(work, "result_env.json"), "w") as f:
        json.dump(env, f, indent=1, sort_keys=True)
    print(json.dumps({"env": env}, sort_keys=True))
    # a wrong warm-up op fails the run too, though only measured ops count
    # in `attempted` and `failed`
    correct = not bad
    print(json.dumps({
        "correct": correct, "attempted": len(measured), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
