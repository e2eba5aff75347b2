#!/usr/bin/env python3
"""Benchmark driver for flatbreadspark.

Usage (from the repository root):

    python3 perfbench/run.py --workload pivot_report --seed 1 --seconds 12 --trace 0

Builds the library and the benchmark driver from source on first use
(``perfbench/build.sbt``), generates the seeded inputs, runs one workload
in a fresh local[4] Spark JVM, checks every op's output against DuckDB and
prints the metrics; the last line of standard output is one JSON object.
With ``--trace 1`` the run records spans and Spark job counters and reports
the per-layer metrics instead of the end-to-end ones.

Exits non-zero if the build fails, a check fails or the run does not
finish in time. Everything a run writes lives under ``.perfbench_run/`` in
the checkout and is deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import oracle  # noqa: E402

TARGET = os.path.join(HERE, "target")
RUNS = os.path.join(ROOT, ".perfbench_run")
RUN_BUDGET_S = 160

# inputs per workload: curation and retrieval share the corpus generator
WORKLOADS = {
    "pivot_report": {"star": dict(gen.STAR_DEFAULTS)},
    "curation_pipeline": {
        "corpus": dict(gen.CORPUS_DEFAULTS, n_docs=1000, n_vectors=1000),
        "warm_corpus": dict(gen.CORPUS_DEFAULTS, n_docs=200, n_vectors=200)},
    "retrieval_serve": {"corpus": dict(gen.CORPUS_DEFAULTS, n_docs=1000,
                                       n_vectors=1500)},
}

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_s", "1/s"),
              ("heap_live_peak_mb", "MB")]

FUNCS = ["graft_dot_f", "graft_lsh_sig", "graft_minhash_sig",
         "graft_simhash_sig", "graft_rolling_hash", "graft_bloom_might_contain",
         "graft_pq_encode", "graft_adc_sum", "graft_nearest_pivot",
         "graft_bpe_encode", "graft_bpe_ids", "graft_bpe_decode",
         "graft_bpe_detok", "graft_wordpiece_encode", "graft_wordpiece_ids",
         "graft_wordpiece_decode", "graft_unicode_normalize"]
# per-layer metrics measured on every gated workload; the module-specific
# ones (pivot.*, transforms.*, output.*, ext.<stage>.*, data.spill_mb,
# data.cached_mb) read 0 wherever a workload does not call that module, so
# they are printed and kept in the artifact but not in the result line
PER_LAYER = (
    [("lib.self_s", "s"), ("lib.jobs", "count"),
     ("sources.write_s", "s"), ("sources.read_s", "s")]
    + [(f"funcs.{f}.rows_per_s", "rows/s") for f in FUNCS]
    + [("driver.gap_s", "s"), ("driver.gap_share", "ratio"),
       ("sink.exec_s", "s"),
       ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
       ("scheduler.tasks", "count"),
       ("executor.task_cpu_s", "s"), ("executor.task_run_s", "s"),
       ("executor.gc_s", "s"), ("executor.busy_cores", "cores"),
       ("data.input_mb", "MB"), ("data.shuffle_write_mb", "MB"),
       ("data.shuffle_read_mb", "MB"), ("trace.op_p50_s", "s")])

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the benchmark's Scala code with sbt when the
    sources changed; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("library sources (src/main/scala) not found next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    stamp_file = os.path.join(TARGET, "perfbench-stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read()
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        die("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=home)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "perfbench-build.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build did not run: {e}")
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if "scala-2.13/classes" in ln and ":" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def quantile(xs, q):
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def run_jvm(cp, args, run_dir, data_dir, warm_dir, out_dir, deadline):
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp"] + ADD_OPENS
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--warm", warm_dir, "--out", out_dir])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die("JVM run timed out" if rc is None else f"JVM run exited with {rc}")


def host_context():
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count()
    return {"loadavg": list(os.getloadavg()), "nproc": nproc}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the run artifact (result.json, "
                    "spans.jsonl) to this directory")
    args = ap.parse_args()
    started = time.time()
    deadline = started + RUN_BUDGET_S

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)

    cp = build()
    # the first run in a checkout builds; the run budget starts after it
    deadline = max(deadline, time.time() + RUN_BUDGET_S - 20)
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "out", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        result = run(args, cp, run_dir, deadline)
        if args.keep:
            os.makedirs(args.keep, exist_ok=True)
            tag = f"{args.workload}-{args.seed}-t{args.trace}"
            with open(os.path.join(args.keep, tag + ".json"), "w") as fh:
                json.dump(result["artifact"], fh, indent=1)
            spans = os.path.join(run_dir, "out", "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(args.keep, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    print(json.dumps(result["line"]))
    sys.exit(0 if result["line"]["correct"] else 1)


def run(args, cp, run_dir, deadline):
    data_dir = os.path.join(run_dir, "data")
    warm_dir = os.path.join(run_dir, "warm")
    out_dir = os.path.join(run_dir, "out")
    tmp_dir = os.path.join(run_dir, "tmp")
    inputs = {}
    t_start = time.time()
    spec = WORKLOADS[args.workload]
    if "star" in spec:
        inputs["star"] = gen.gen_star(data_dir, args.seed, spec["star"]["sf"])
    if "corpus" in spec:
        inputs["corpus"] = gen.gen_corpus(data_dir, args.seed, spec["corpus"])
    if "warm_corpus" in spec:
        os.makedirs(warm_dir)
        inputs["warm_corpus"] = gen.gen_corpus(warm_dir, args.seed, spec["warm_corpus"])
    host = host_context()
    t_gen = time.time()
    run_jvm(cp, args, run_dir, data_dir,
            warm_dir if "warm_corpus" in spec else data_dir, out_dir, deadline)
    t_jvm = time.time()
    host["loadavg_after"] = list(os.getloadavg())
    with open(os.path.join(out_dir, "result.json")) as fh:
        res = json.load(fh)
    with open(os.path.join(out_dir, "oracle.json")) as fh:
        sql = json.load(fh)

    ops = res["ops"]
    failures = {}
    if args.workload == "retrieval_serve":
        errs = oracle.check_retrieval(data_dir, res["retrieval"], sql, tmp_dir)
        q = 0
        for o in ops:
            if o["kind"] == "read":
                if errs[q] is not None:
                    o["ok"] = False
                    failures[f"query#{o['id']}"] = errs[q]
                q += 1
    elif args.workload == "curation_pipeline":
        errs = oracle.check_dumps(data_dir, out_dir, res["checks"], sql, tmp_dir)
        for o, (dump, err) in zip(ops, errs.items()):
            if err is not None:
                o["ok"] = False
                failures[dump] = err
    else:
        errs = oracle.check_dumps(data_dir, out_dir, res["checks"], sql, tmp_dir)
        for o in ops:
            if errs.get(o["name"]) is not None:
                o["ok"] = False
                failures[o["name"]] = errs[o["name"]]
    phases = {"gen_s": t_gen - t_start, "jvm_s": t_jvm - t_gen,
              "check_s": time.time() - t_jvm}
    for o in ops:
        if not o["ok"]:
            failures.setdefault(o["name"], "op failed or its output differs "
                                "from the pinned digest")

    reads = [o["lat_s"] for o in ops if o["kind"] == "read"]
    writes = [o["lat_s"] for o in ops if o["kind"] == "write"]
    total = sum(o["lat_s"] for o in ops)
    n_failed = sum(1 for o in ops if not o["ok"])
    full = {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_s": (statistics.median(reads), "s"),
        "ops_per_s": (len(ops) / total, "1/s"),
        "failed_frac": (n_failed / len(ops), "ratio"),
        "heap_live_peak_mb": (max(res["heap_live_mb"]), "MB"),
    }
    # a tail percentile is reported only with ten samples beyond it
    if len(reads) >= 100:
        full["op_p90_s"] = (quantile(reads, 0.9), "s")
    if writes:
        full["write_p50_s"] = (statistics.median(writes), "s")
    if args.workload == "curation_pipeline":
        full["docs_per_s"] = (res["docs"] * len(ops) / total, "docs/s")

    if args.trace:
        layers = dict(res["layers"])
        layers["output.bytes"] = res.get("output_bytes", 0) / len(ops)
        layers.update(res["funcs"])
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
        shown = {n: (m["value"], m["unit"]) for n, m in metrics.items()}
        for n in sorted(set(layers) - set(shown)):
            unit = ("s" if n.endswith("_s") else "MB" if n.endswith("_mb")
                    else "bytes" if n.endswith("bytes") else "count")
            shown[n] = (layers[n], unit)
    else:
        metrics = {n: {"value": full[n][0], "unit": u} for n, u in END_TO_END}
        shown = full

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"ops {len(ops)} ({len(reads)} read, {len(writes)} write)  "
          f"failed {n_failed}")
    for n, (v, u) in shown.items():
        print(f"  {n:<40} {v:>14.6g} {u}")
    for n, e in failures.items():
        print(f"  FAILED {n}: {e}")
    artifact = {"workload": args.workload, "seed": args.seed,
                "trace": args.trace, "inputs": inputs, "host": host,
                "heap_max_mb": res["heap_max_mb"],
                "spark_version": res["spark_version"], "cores": res["cores"],
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in full.items()},
                "phases": phases, "ops": ops, "failures": failures}
    if args.trace:
        artifact["per_layer"] = metrics
    return {"line": {"correct": not failures, "attempted": len(ops),
                     "failed": n_failed, "metrics": metrics},
            "artifact": artifact}


if __name__ == "__main__":
    main()
