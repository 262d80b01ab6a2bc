#!/usr/bin/env python3
"""The repository benchmark: MiwCli over raw log text, and the iterative
gate queries, timed end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness from
source (into .bench_build/), generates the workload's inputs from the seed
(into .bench_work/), runs the harness in one JVM on local[<cores>], checks
every output, and prints as its last line one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 the per-layer ones, and the spans go to
.bench_work/traces/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_logs  # noqa: E402
import gen_tables  # noqa: E402

GATE_QUERIES = [
    "q123_dedup_route_matrix", "q138_pagerank", "q146_hits", "q189_kcore_peel",
    "q97_bpe_train", "q86_dedup_keep_best", "q01_agg_basic", "q23_minhash_sig",
]

# `setup_rounds`: how many cold set-ups (a fresh JVM's SparkSession start
# plus one warm-up run) an untraced run makes; setup_s is their median.
# The measuring JVM is one of them, the others are JVMs that only set up.
# A gate warm-up pass costs as much as a timed pass (~12 s on 4 cores), so
# the gate sets up once: more rounds would push the runs a benchmark
# comparison makes past their time budget.
# `settle_runs`: untimed runs after set-up, before the measured window;
# the JIT is still compiling the miw path after set-up.
# `timed_runs`: the least number of timed runs; one gate pass is longer
# than the window, and single passes vary by about 10%.
# `traced_runs`: the least number of (untraced, traced) run pairs a traced
# run makes; a miw layer's self time is a difference of two prefix
# timings, so it takes the median of a few. Pairs alternate which run goes
# first; the first gate pass after set-up is the slowest, so the gate
# makes two pairs and tracing.overhead_s is not just that pass's lag.
WORKLOADS = {
    "miw_summary": {"lines": 100_000, "setup_rounds": 3, "settle_runs": 5,
                    "timed_runs": 1, "traced_runs": 3},
    "gate_iterative": {"sf": 0.002, "setup_rounds": 1, "settle_runs": 0, "timed_runs": 2,
                       "traced_runs": 2, "queries": GATE_QUERIES},
}
HEAP = "4g"
DEADLINE_S = 170

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("input_mb_s", "MB/s")]

PER_LAYER = [
    ("LogFormat.compile_s", "s"), ("scan.self_s", "s"),
    ("MiwEngine.parse.self_s", "s"), ("MiwEngine.parse.rows_in", "count"),
    ("MiwEngine.parse.rows_out", "count"), ("MiwEngine.parse.keep_ratio", "ratio"),
    ("MiwEngine.aggregate.self_s", "s"), ("MiwEngine.aggregate.shuffle_write_bytes", "B"),
    ("MiwEngine.aggregate.shuffle_read_bytes", "B"),
    ("MiwEngine.aggregate.shuffle_records", "count"),
    ("MiwEngine.aggregate.spill_bytes", "B"), ("MiwEngine.aggregate.groups", "count"),
    ("MiwEngine.aggregate.combine_ratio", "ratio"),
    ("Output.self_s", "s"), ("Output.bytes", "B"),
    ("queries.build.self_s", "s"), ("queries.build.jobs", "count"),
    ("queries.build.tasks", "count"), ("queries.build.shuffle_write_bytes", "B"),
    ("catalyst.plan.self_s", "s"),
    ("queries.exec.self_s", "s"), ("queries.exec.jobs", "count"),
    ("queries.exec.shuffle_write_bytes", "B"),
] + [(f"gate.{q}.{m}", u) for q in GATE_QUERIES
     for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))] + [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_busy_ratio", "ratio"), ("jvm.gc_s", "s"), ("tracing.overhead_s", "s"),
]

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, the one beside spark-submit
    on the PATH, or pyspark's."""
    cands = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found")


def build(jars):
    """Compiles program + harness unless the sources are unchanged."""
    srcs = []
    for top in ("src/main/scala", "perfbench/harness"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            srcs += [os.path.join(d, f) for f in files]
    srcs.append(os.path.join(HERE, "build.sh"))
    h = hashlib.sha256(jars.encode())
    for p in sorted(srcs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, ".bench_build", "perfbench")
    stamp = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    t0 = time.time()
    os.makedirs(out, exist_ok=True)
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), out, jars], cwd=ROOT, check=True,
                   stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built harness + program in {time.time() - t0:.1f} s")
    return classes


def make_inputs(workload, seed, work):
    """Generates the workload's inputs; returns (harness config part, tallies)."""
    spec = WORKLOADS[workload]
    inp = os.path.join(work, "input")
    os.makedirs(inp)
    if workload == "gate_iterative":
        tally = gen_tables.generate(inp, seed, spec["sf"])
        return {"gate": {"data_dir": inp, "queries": spec["queries"]}}, tally
    path = os.path.join(inp, "access.log")
    tally = gen_logs.generate(path, seed, spec["lines"])
    return {"miw": {"fnames": [path],
                    "format": os.path.join(HERE, "formats", "bench_proxy_summary.json")}}, tally


def run_harness(classes, jars, cfg, timeout):
    """Runs one harness JVM with config `cfg` in its work directory."""
    work = cfg["work"]
    os.makedirs(work, exist_ok=True)
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    # -UsePerfData: the JVM would otherwise write its perf counters to /tmp
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/harness/log4j2.properties"] + JAVA_OPTS +
           ["-cp", f"{classes}:{jars}/*", "perfbench.Harness", cfg_path])
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness failed ({code})")
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


def count_failures(workload, res, tally, work):
    """Marks each attempted op failed when it threw or its output fails a check."""
    ops = res["ops"]
    failed = [bool(o["error"]) for o in ops]
    notes = [o["error"] for o in ops if o["error"]]
    if workload == "gate_iterative":
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle = json.load(f)
        verdict = checks.check_gate(os.path.join(work, "dumps"), os.path.join(work, "input"),
                                    oracle, WORKLOADS[workload]["queries"])
        for q, err in verdict.items():
            if err:  # charged to the warm-up op that wrote the checked dump
                failed[max(i for i, o in enumerate(ops) if o["setup"] and o["name"] == q)] = True
                notes.append(f"{q}: {err}")
        log("gate oracle check: " + ", ".join(
            f"{q}={'ok' if e is None else 'FAIL'}" for q, e in verdict.items()))
    else:
        verdict = {}
        for i, o in enumerate(ops):
            if failed[i]:
                continue
            if o["output"] not in verdict:
                verdict[o["output"]] = checks.check_summary_csv(o["output"], tally)
                notes += verdict[o["output"]]
            failed[i] = bool(verdict[o["output"]])
        log(f"output check: {len(verdict)} distinct output(s), "
            f"{sum(1 for v in verdict.values() if not v)} correct")
    for n in notes[:10]:
        log(f"FAILED: {n}")
    return len(ops), sum(failed)


def compose_metrics(res, trace):
    """The reported metrics: every per-layer metric when traced (a layer a
    workload does not run reports 0), else every end-to-end metric."""
    if trace:
        return {n: {"value": res["layers"].get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    wall = statistics.median(res["walls_s"])
    values = {"setup_s": statistics.median(res["setup_s"]), "wall_s": wall,
              "input_mb_s": res["input_bytes"] / 1e6 / wall}
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    os.chdir(ROOT)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: program sources (src/main/scala) not found")

    jars = spark_jars()
    classes = build(jars)

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        part, tally = make_inputs(a.workload, a.seed, work)
        log(f"inputs for seed {a.seed} generated in {time.time() - t0:.2f} s "
            f"(not timed): {json.dumps(tally)}")
        cores = len(os.sched_getaffinity(0))
        spec = WORKLOADS[a.workload]
        cfg = dict(part, workload=a.workload, seconds=a.seconds, trace=bool(a.trace),
                   cores=cores, work=work, settle_runs=spec["settle_runs"],
                   min_runs=spec["traced_runs"] if a.trace else spec["timed_runs"])
        # the extra cold set-up rounds: JVMs that set up and stop
        rounds = [run_harness(classes, jars, dict(cfg, work=os.path.join(work, f"setup{i}"),
                                                  seconds=0, settle_runs=0, min_runs=0),
                              max(30, DEADLINE_S - (time.time() - t_start)))
                  for i in range(1, 1 if a.trace else spec["setup_rounds"])]
        res = run_harness(classes, jars, cfg, max(30, DEADLINE_S - (time.time() - t_start)))
        attempted = failed = 0
        for r in rounds + [res]:
            n, bad = count_failures(a.workload, r, tally, work)
            attempted, failed = attempted + n, failed + bad
            for warning in r["warnings"]:
                log(f"WARNING: {warning}")
        res["setup_s"] = [r["setup_s"] for r in rounds + [res]]

        walls = res["walls_s"]
        metrics = compose_metrics(res, a.trace)
        if a.trace:
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
            shutil.copyfile(os.path.join(work, "spans.json"), spans)
            log(f"spans written to {os.path.relpath(spans, ROOT)}")
            layers = res["layers"]
            if "trace.wall_s" in layers:
                log(f"traced pass {layers['trace.wall_s']:.4f} s, of which build, plan and "
                    f"exec spans {layers['trace.layer_self_sum_s']:.4f} s")
        print(f"settings: {json.dumps(res['settings'], sort_keys=True)}")
        print(f"load: closed loop, 1 client, {len(walls)} timed run(s) in "
              f"{res['measured_s']:.1f} s; set-up rounds {res['setup_s']}; "
              f"input {res['input_bytes'] / 1e6:.1f} MB; {attempted} ops attempted, "
              f"{failed} failed; run walls (s) {[round(w, 3) for w in walls]}")
        for name, m in metrics.items():
            print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
        print(f"{a.workload} failed_ratio = {failed / attempted:.6g} ({failed} of {attempted})")
        if not a.trace and a.workload.startswith("miw_"):
            print(f"context, not a gate: input_mb_s per core = "
                  f"{metrics['input_mb_s']['value'] / cores:.3g} MB/s; Metis WordCount "
                  f"anchor 300 MB / 5.9 s / 16 cores = {300 / 5.9 / 16:.3g} MB/s per core")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
