"""graft's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                             --trace <0|1>

Run it from the root of a checkout. It builds graft and the benchmark's
driver (`build.py`), generates the workload's inputs from the seed
(`gen.py`, cached per seed under `.bench_build/inputs`), runs the driver
program in one JVM at `local[<cores>]`, checks the outputs (`checks.py`)
and prints a report: every metric with its unit and sample count, then, as
the last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with `--trace 1` the per-layer ones;
`metrics.py` defines both).

Workloads: `text-index` and `table-lifecycle` (see BENCHMARK.json). A
traced text-index run also runs the curation probe (`src/Curation.scala`)
over a generated curation corpus and checks it against DuckDB.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("text-index", "table-lifecycle")
# set-up rounds per run; setup_s is their median. A traced run reports no
# setup_s and sets up once, which leaves its time to the probes.
SETUPS = {0: 3, 1: 1}
KEEP_SEEDS = 4  # input sets kept in the cache per workload
# a run must end within 180 s of its start (of the end of the build, on a
# first run); the driver program gets what the checks do not need
RUN_BUDGET_S = 175
CHECK_RESERVE_S = 25
HEAP = "2g"
# graft needs these when a SparkSession starts outside spark-submit; the
# list matches the repo's build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(args, log_path, deadline):
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap, so the peak resident set does not depend on how
        # far the collector chose to grow it
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", build.classpath(), "perfbench.Main"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=ROOT)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: driver program timed out; "
                             f"log: {log_path}")


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use a tiny one)")
    a = ap.parse_args(argv)
    os.makedirs(build.BUILD, exist_ok=True)
    build.build()
    deadline = time.monotonic() + RUN_BUDGET_S
    cache = os.path.join(build.BUILD, "inputs")
    input_dir, meta = gen.ensure(cache, a.workload, a.seed, a.scale)
    cur_dir = os.path.abspath(gen.ensure(cache, "curation", a.seed,
                                         a.scale)[0]) \
        if a.trace and a.workload == "text-index" else "-"
    gen.prune(cache, KEEP_SEEDS)
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec_path = os.path.join(work, "record.json")
    log_path = os.path.join(build.BUILD, f"driver-{a.workload}.log")
    try:
        code = run_jvm([a.workload, os.path.abspath(input_dir),
                        os.path.abspath(work), str(a.seconds), str(a.trace),
                        str(cores()), str(SETUPS[a.trace]), rec_path,
                        cur_dir],
                       log_path, deadline - CHECK_RESERVE_S)
        if code != 0 or not os.path.exists(rec_path):
            raise SystemExit(f"perfbench: driver program exited {code}; "
                             f"log: {log_path}")
        with open(rec_path) as f:
            rec = metrics.Record(json.load(f))
        report(a, rec, input_dir, meta, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, rec, input_dir, meta, work, deadline):
    facts = {"corpus_bytes": meta.get("corpus_bytes", 0),
             "emits": meta.get("emits", 0), "ops": []}
    if a.workload == "text-index":
        att, bad, msgs = checks.text_index(rec, input_dir, work)
    else:
        with open(os.path.join(input_dir, "ops.jsonl")) as f:
            facts["ops"] = [json.loads(line) for line in f]
        att, bad, msgs = checks.table_lifecycle(rec, facts["ops"])
    c_att, c_bad, c_msgs = checks.curation(
        rec, ROOT, max(5.0, deadline - time.monotonic()))
    att, bad, msgs = att + c_att, bad + c_bad, msgs + c_msgs
    failure = rec.meta.get("failure") or ""
    if failure:
        bad += 1
        att += 1
        msgs.append(f"run stopped: {failure}")
    for m in msgs:
        print(f"DEFECT {m}")

    e2e = metrics.end_to_end(rec)
    own = metrics.workload_report(rec, facts)
    print(f"workload {a.workload} seed {a.seed} cores {rec.meta['cores']} "
          f"passes {rec.meta['passes']} trace {a.trace}")
    for name, (v, unit, n) in list(e2e.items()) + list(own.items()):
        print(f"  {name:<22} {fmt(v):>12} {unit:<6} n={n}")
    print(f"  {'error_rate':<22} {fmt(bad / att if att else 1.0):>12} "
          f"{'ratio':<6} n={att}")
    if a.trace:
        layer = metrics.per_layer(rec, facts)
        for name, v in layer.items():
            print(f"  {name:<44} {fmt(v)}")
        units = {u["name"]: u["unit"] for u in metrics.layer_units()}
        out = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        spans_path = os.path.join(build.BUILD,
                                  f"spans-{a.workload}-{a.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(rec.spans, f)
        print(f"  spans written to {os.path.relpath(spans_path, ROOT)}")
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    for k, v in out.items():
        if not math.isfinite(v["value"]):
            raise SystemExit(f"perfbench: metric {k} is not finite")
    print(json.dumps({"correct": bad == 0 and att > 0, "attempted": att,
                      "failed": bad, "metrics": out}))


if __name__ == "__main__":
    main()
