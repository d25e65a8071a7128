#!/usr/bin/env python3
"""graft benchmark: builds graft from source, runs one workload through its
public surfaces, checks every answer against one reached apart from graft,
and prints the metrics as the last line of stdout.

    python3 perfbench/run.py --workload ingest|dedup --seed N \
        --seconds S --trace 0|1

--trace 0 prints the end-to-end metrics; --trace 1 runs the same workload
with spans around every call into a graft layer and prints the per-layer
metrics. See perfbench/README.md.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA_JARS = ["scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
              "scala-reflect-2.13.17.jar"]
HEAP = "1g"
# C1 only: Spark generates and loads new classes for many statements, and
# C2 kept compiling them through the whole run, on the cores the measured
# operations use; with C1 a run's compile work is small and settles early
# (README.md, "Steadiness")
JVM_FLAGS = ["-XX:TieredStopAtLevel=1"]
JVM_TIMEOUT_S = 165
# untimed rounds before the timed phase: the JVM start-up and the first
# round's class loading and compiling fall in them (README.md, "Steadiness")
WARM_ROUNDS = {"ingest": 3, "dedup": 3}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ----------------------------------------------------------------- build --

def sources():
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        fail(f"no graft sources at {os.path.relpath(src, ROOT)}: "
             "run from the root of a graft checkout")
    out = []
    for base in (src, os.path.join(HERE, "harness")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles graft's sources and the harness with scalac into
    perfbench/.build/<hash of the sources>; returns (classes dir, seconds
    spent compiling, 0 when the classes were already there)."""
    files = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(HERE, ".build", h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes, 0.0
    for j in SCALA_JARS:
        if not os.path.exists(os.path.join(SPARK_JARS, j)):
            fail(f"missing {j} in {SPARK_JARS}")
    t0 = time.time()
    shutil.rmtree(os.path.join(HERE, ".build"), ignore_errors=True)
    os.makedirs(classes)
    cp = ":".join(os.path.join(SPARK_JARS, j) for j in SCALA_JARS)
    argfile = os.path.join(classes, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile],
        capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("scalac failed")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    open(os.path.join(classes, ".done"), "w").close()
    return classes, time.time() - t0


# ---------------------------------------------------------------- inputs --

# the reference operation, timed in every round next to graft's: Spark
# alone writes the round's rows as plain parquet (harness: Run.plainWrite)
REF = "plain_write"


def make_inputs(workload, seed, work):
    plan = {"warm_rounds": WARM_ROUNDS[workload]}
    if workload == "ingest":
        inputs = {"rounds": gen.ingest_plan(seed)}
        plan.update(rounds=inputs["rounds"], ts_base_ms=gen.TS_BASE_MS,
                    ts_step_ms=gen.TS_STEP_MS)
        # every round of the plan has the same make-up
        inputs["round"] = collections.Counter(o["op"] for o in inputs["rounds"][0])
        inputs["round_items"] = inputs["round"]["append"] * gen.BATCH_ROWS
        # Spark alone writes each appended batch as plain parquet
        inputs["round"][REF] = inputs["round"]["append"]
    else:
        inputs = gen.dedup_inputs(seed, os.path.join(work, "inputs"))
        plan["corpus"] = inputs["corpus"]
        # Spark alone copies the corpus as plain parquet
        inputs["round"] = {"pass": 1, REF: 1}
        inputs["round_items"] = gen.DOCS
    path = os.path.join(work, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    return inputs, path


def run_harness(classes, args, work, plan_path):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + JVM_FLAGS + [
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC"] + opens +
           ["-cp", classes + ":" + os.path.join(SPARK_JARS, "*"),
            "perfbench.Harness", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--plan", plan_path,
            "--work", work, "--out", out])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"harness exited with {code}", 1)
    with open(out) as f:
        return json.load(f)


# --------------------------------------------------------------- metrics --

def median(xs):
    return statistics.median(xs) if xs else 0.0


# per-op figures the harness records, and the names of their medians
OP_FIGURES = {"ms": "p50_ms", "cpu_ms": "cpu_p50_ms", "gc_ms": "gc_p50_ms",
              "jit_ms": "jit_p50_ms", "codegen": "codegen_compiles_p50"}


def end_to_end(inputs, res, timed, t_setup_end, setup_offset):
    by_cls = {}
    for o in timed:
        by_cls.setdefault(o["cls"], []).append(o)
    detail = {}
    for c, cls_ops in by_cls.items():
        detail[f"{c}_n"] = len(cls_ops)
        for k, name in OP_FIGURES.items():
            detail[f"{c}_{name}"] = median([o[k] for o in cls_ops])
    # one round at the median latency of each of its operations, DML
    # included: a median per class is not moved by a lone slow operation
    round_ms = {k: sum(n * detail[f"{c}_p50_ms"] for c, n in inputs["round"].items()
                       if (c == REF) == (k == REF))
                for k in ("graft", REF)}
    detail["round_p50_ms"] = round_ms["graft"]
    detail["plain_round_p50_ms"] = round_ms[REF]
    detail["items_per_s"] = inputs["round_items"] / (round_ms["graft"] / 1000)
    metrics = {
        "setup_s": (t_setup_end - T_START - setup_offset, "s"),
        # the host's speed drifts by a third within minutes, and moves both
        # sides of this ratio alike (README.md, "Steadiness")
        "vs_plain_write_x": (round_ms["graft"] / round_ms[REF], "x"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB"),
    }
    return metrics, detail


def per_op(spans, timed_ops, name, key="ms", cls=None):
    """Median over the timed ops (of class `cls`) of the per-op sum of
    `key` over the spans called `name`."""
    sums = {i: 0.0 for i, c in timed_ops.items() if cls in (None, c)}
    for s in spans:
        if s["name"] == name and s["op"] in sums:
            sums[s["op"]] += s.get(key, 0.0)
    return median(list(sums.values()))


COUNTERS = ["spark_jobs", "spark_tasks", "executor_cpu_ms", "driver_cpu_ms",
            "bytes_read", "shuffle_write_bytes", "codegen_compiles"]


def layer_units():
    """Name and unit of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def per_layer(inputs, res, index_of_timed):
    """The per-layer metrics every workload reports, and a fuller report
    with one figure per operation class and span name."""
    spans, probes = res["spans"], res["probes"]
    ops = {i: res["ops"][i]["cls"] for i in index_of_timed}
    probe = [s for s in spans if s["op"] == -1]

    def probe_ms(name):
        return median([s["ms"] for s in probe if s["name"] == name])

    m = {"connector.analyze_ms": per_op(spans, ops, "connector.sql", "analyze_ms"),
         "connector.execute_ms": per_op(spans, ops, "connector.sql", "execute_ms")}
    for k in COUNTERS:
        m[f"connector.{k}"] = per_op(spans, ops, "op", k)
    m["table.commit_data_files"] = per_op(spans, ops, "op", "data_files_added")
    m["table.commit_metadata_bytes"] = per_op(spans, ops, "op", "metadata_bytes_added")
    m["table.metadata_load_ms"] = probe_ms("table.metadata_load")
    m["table.plan_ms"] = probe_ms("table.plan")
    m["model.metadata_parse_ms"] = probe_ms("model.metadata_parse")
    m["model.metadata_serialize_ms"] = probe_ms("model.metadata_serialize")
    m.update(probes)
    metrics = {k: {"value": float(m[k]), "unit": u} for k, u in layer_units().items()}

    report = dict(m)
    names = sorted({s["name"] for s in spans if s["op"] >= 0} - {"op"})
    for cls in set(inputs["round"]) - {REF}:
        report[f"op_ms.{cls}"] = per_op(spans, ops, "op", cls=cls)
        for n in names:
            report[f"{n}_ms.{cls}"] = per_op(spans, ops, n, cls=cls)
        for k in ("analyze_ms", "execute_ms"):
            report[f"connector.{k}.{cls}"] = per_op(spans, ops, "connector.sql", k, cls)
        for k in COUNTERS + ["data_files_added", "metadata_bytes_added"]:
            report[f"{k}.{cls}"] = per_op(spans, ops, "op", k, cls)
    for n in names:
        report[f"{n}_ms"] = per_op(spans, ops, n)
        if n.startswith("operators."):
            for k in COUNTERS:
                report[f"{n}.{k}"] = per_op(spans, ops, n, k)
    if "pass" in inputs["round"]:
        report["operators.pairs_found"] = median(
            [len(res["ops"][i]["result"]["pairs"]) for i in index_of_timed])
    return metrics, report


# ------------------------------------------------------------------ main --

def main():
    # a SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARM_ROUNDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classes, build_s = build()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, plan_path = make_inputs(args.workload, args.seed, work)
        res = run_harness(classes, args, work, plan_path)
        ops = res["ops"]
        timed = [o for o in ops if o["timed"]]
        # graft's operations: what the checks and the layer metrics read
        timed_idx = [i for i, o in enumerate(ops) if o["timed"] and o["cls"] != REF]
        ops = [o for o in ops if o["cls"] != REF]
        if args.workload == "ingest":
            errs = checks.check_ingest(args.seed, inputs["rounds"], ops, res["verify"])
        else:
            errs = checks.check_dedup(inputs, ops)
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        shutil.copy(os.path.join(work, "result.json"), os.path.join(
            HERE, "out", f"{args.workload}-trace{args.trace}-result.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, detail = end_to_end(inputs, res, timed,
                             timed[0]["t0_ms"] / 1000, build_s)
    machine = res["machine"]
    detail.update({f"setup.{k}_s": v / 1000 - T_START - build_s
                   for k, v in res["phases_ms"].items()})
    print(f"# workload {args.workload} seed {args.seed}: {len(timed)} timed ops "
          f"({len(res['ops']) - len(timed)} warm-up), build {build_s:.1f} s")
    for k, v in sorted(detail.items()):
        print(f"# {k} {v:.4f}" if isinstance(v, float) else f"# {k} {v}")
    print("# machine " + " ".join(f"{k}={v}" for k, v in sorted(machine.items())))
    for e in errs[:20]:
        print(f"# CHECK FAILED: {e}")
    if args.trace:
        metrics, report = per_layer(inputs, res, timed_idx)
        with open(os.path.join(HERE, "out", f"{args.workload}-trace.json"), "w") as f:
            json.dump({"seed": args.seed, "layers": report, "machine": machine,
                       "end_to_end_traced": {k: v for k, (v, _) in e2e.items()},
                       "detail": detail, "spans": res["spans"]}, f, indent=1)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not errs, "attempted": len(timed), "failed": 0,
                      "metrics": metrics}))
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
