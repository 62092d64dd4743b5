#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curation --seed 3 --seconds 10 --trace 0

Workloads: relational, curation (query families over the fixed tables in
perfbench/data), ingest, stream-ingest (a seeded corpus in the reference's
file layout). The first run in a checkout compiles the harness together
with the engine's sources (sbt, offline); later runs reuse the build.

One run: a cold JVM builds a SparkSession and completes the entry query
(the run's set-up time), untimed warm-up passes follow, then timed passes
on fresh sessions until --seconds have passed; --trace 1 adds one pass
with listeners attached and prints the per-layer metrics instead of the
end-to-end ones. Outputs are checked outside the timed region. The last line of stdout is the
result as one JSON object; everything else (weather stamp, unit table,
per-layer self times) goes before it. See perfbench/README.md.
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

import duckdb

import checks
import gen_corpus
import layers
import workloads as W

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 170  # the whole command must end within 180 s after the build
HEAP = "3g"

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_home():
    """SPARK_HOME, or the first Spark installation (a spark-submit on PATH
    next to a jars/ directory) found on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise BenchError("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build

def _source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise BenchError(f"engine sources not found under {ENGINE_SRC}")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = _source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    offline = ("-Dsbt.override.build.repos=true -Dsbt.offline=true")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repo_cfg):
        offline += f" -Dsbt.repository.config={repo_cfg}"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + offline + " -Xmx2g").strip()
    log("perfbench: compiling the harness and the engine (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        raise BenchError("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: build took {time.time() - t0:.1f} s")


# ---------------------------------------------------------------------------
# inputs

def data_dirs(smoke):
    data = os.path.join(BENCH, "data", "sf0.001" if smoke else "sf0.01")
    return data, os.path.join(BENCH, "data", "sf0.001")


def ensure_corpus(seed, smoke):
    size = "smoke" if smoke else "full"
    with open(gen_corpus.__file__, "rb") as f:  # a changed generator makes new corpora
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(WORK, "corpus", f"{size}_seed{seed}_{gen}")
    done = os.path.join(out, "manifest.json")
    if not os.path.isfile(done):
        shutil.rmtree(out, ignore_errors=True)
        gen_corpus.generate(seed, out + ".tmp", size)
        os.replace(out + ".tmp", out)
    with open(done) as f:
        return out, json.load(f)


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


# ---------------------------------------------------------------------------
# the JVM

def run_harness(a, queries, corpus, deadline):
    data, entry = data_dirs(a.smoke)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "harness.json")
    cpus = os.cpu_count() or 4
    if a.smoke:
        passes = dict(warmup=0, min=1, max=1)
    elif a.workload in W.INGEST_WORKLOADS:
        passes = dict(warmup=2, min=2, max=6)
    else:
        # a query pass is short (2-3 s); its time keeps falling for about
        # five passes while the JIT compiles the engine's hot paths
        passes = dict(warmup=5, min=3, max=12)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    spark_jars = os.path.join(spark_home(), "jars", "*")
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES, spark_jars]), "perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--entry-data", entry, "--corpus", corpus or "",
            "--work", work, "--out", out, "--cpus", str(cpus),
            "--warmup-passes", str(passes["warmup"]),
            "--min-passes", str(passes["min"]), "--max-passes", str(passes["max"]),
            "--steal-ms", "300", "--queries", ",".join(queries)]
    log_path = os.path.join(WORK, "logs", f"{a.workload}_seed{a.seed}_trace{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=lf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"harness did not finish in time; see {log_path}")
    if rc != 0 or not os.path.isfile(out):
        raise BenchError(f"harness failed (exit {rc}); see {log_path}")
    with open(out) as f:
        return json.load(f), work


# ---------------------------------------------------------------------------
# metrics

def tail(latencies):
    """The latency with 10 samples above it; the max for 10 or fewer."""
    s = sorted(latencies)
    return s[len(s) - 11] if len(s) > 10 else s[-1]


def end_to_end(doc, input_bytes, throughput_bytes, stored):
    timed = [p for p in doc["passes"] if p["kind"] == "timed"]
    run_s = statistics.median(p["run_s"] for p in timed)
    ops = [o["latency_s"] for p in timed for o in p["ops"]]
    return {
        "setup_s": doc["cold_setup_s"],
        "run_s": run_s,
        "op_p50_s": statistics.median(ops),
        "op_tail_s": tail(ops),
        "ingest_mb_per_s": throughput_bytes / 1e6 / run_s,
        "stored_bytes_per_input_byte": statistics.median(stored) / input_bytes,
        "peak_heap_mb": statistics.median(p["peak_heap_mb"] for p in timed),
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 tables, a tiny corpus, one pass, no warm-up")
    a = ap.parse_args(argv)
    if a.workload not in W.WORKLOADS:
        log(f"unknown workload {a.workload!r}; one of {', '.join(W.WORKLOADS)}")
        return 2
    try:
        ensure_build()
        return measure(a)
    except BenchError as e:
        log(f"perfbench: {e}")
        return 1


def measure(a):
    deadline = time.time() + RUN_LIMIT_S
    ingest = a.workload in W.INGEST_WORKLOADS
    corpus, manifest, queries = None, None, []
    data, _ = data_dirs(a.smoke)
    if ingest:
        corpus, manifest = ensure_corpus(a.seed, a.smoke)
    else:
        queries = list(W.QUERY_WORKLOADS[a.workload])
    doc, work = run_harness(a, queries, corpus, deadline)

    timed = [p for p in doc["passes"] if p["kind"] == "timed"]
    attempted = sum(len(p["ops"]) for p in timed)
    failed_ops = {(p["index"], o["name"]): o["error"] for p in timed for o in p["ops"] if not o["ok"]}
    wrong, ledgers = {}, {}
    if ingest:
        input_bytes = manifest["csv_bytes"] + manifest["json_bytes"]
        throughput_bytes = manifest["csv_bytes"]
        con = duckdb.connect()
        checks.expected_tables(con, corpus, manifest)
        batch_of = {s["id"]: s["batch"] for s in manifest["sims"]}
        for p in doc["passes"]:
            if p["kind"] == "warmup":
                continue
            w, ledger = checks.check_warehouse(con, p["root"], manifest)
            if p["unenriched_after_backfill"]:
                w["enrichment_per_batch"] = (f"{p['unenriched_after_backfill']} rows "
                                             "unenriched after a backfill")
            ledgers[p["kind"]] = (ledger, p["tables"])
            if p["kind"] == "timed":
                wrong.update({f"pass{p['index']}.{k}": v for k, v in w.items()})
                # a generator-valid file that got quarantined fails its batch
                for sid in ledger["valid_quarantined"]:
                    failed_ops.setdefault((p["index"], f"batch_{batch_of[sid]:02d}"),
                                          f"valid file {sid} quarantined")
        con.close()
        stored = [sum(t["bytes"] for t in p["tables"].values()) for p in timed]
    else:
        expected = {} if a.smoke else W.EXPECTED_ROWS_SF001
        wrong = checks.check_queries(data, doc["results_dir"], queries,
                                     doc["oracle_sql"], expected)
        input_bytes = throughput_bytes = dir_bytes(data)
        stored = [dir_bytes(doc["results_dir"])]
    for (i, n), e in sorted(failed_ops.items()):
        log(f"FAILED pass {i} {n}: {e}")
    for k, v in sorted(wrong.items()):
        log(f"WRONG {k}: {v}")

    e2e = end_to_end(doc, input_bytes, throughput_bytes, stored)
    e2e["fail_ratio"] = len(failed_ops) / max(attempted, 1)
    e2e["wrong_outputs"] = len(wrong)

    passes = [p["kind"] for p in doc["passes"]]
    print(f"workload {a.workload}  seed {a.seed}  cpus {doc['cpus']}  "
          f"warm-up passes {passes.count('warmup')}  timed passes {passes.count('timed')}  "
          f"traced passes {passes.count('traced')}  ops per pass {len(timed[0]['ops'])}  "
          f"op latency samples {attempted}")
    print(f"weather  steal_pre_pct {doc['steal_pre_pct']:.2f}  "
          f"steal_post_pct {doc['steal_post_pct']:.2f}")
    session_setup_s = statistics.median(p["setup_s"] for p in doc["passes"][1:] or doc["passes"])
    print(f"session_setup_s {session_setup_s:.3f} s  (median fresh session + entry query in the warm JVM)")
    for name, unit in W.END_TO_END:
        print(f"  {name:<30} {e2e[name]:>14.6g} {unit}")
    if ingest:
        print(f"  reference ingest throughput {W.REFERENCE_INGEST_MB_PER_S:.3f} MB/s "
              f"(20 GB/day; context, not a gate)")

    if a.trace:
        traced = next(p for p in doc["passes"] if p["kind"] == "traced")
        ledger, tables = ledgers.get("traced", (None, None))
        per_layer, self_s = layers.layer_metrics(
            doc["trace"]["spans"], doc["cpus"], e2e["run_s"], ledger, tables)
        trace_out = os.path.join(WORK, "traces", f"{a.workload}_seed{a.seed}.json")
        os.makedirs(os.path.dirname(trace_out), exist_ok=True)
        with open(trace_out, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "spans": doc["trace"]["spans"]}, f)
        print(f"traced pass run_s {traced['run_s']:.3f} s; spans in {os.path.relpath(trace_out, ROOT)}")
        print("self time: " + "  ".join(f"{k} {v:.3f} s" for k, v in self_s.items()))
        for name, unit in W.PER_LAYER:
            print(f"  {name:<36} {per_layer[name]:>14.6g} {unit}")
        metrics = {n: {"value": per_layer[n], "unit": u} for n, u in W.RESULT_LINE_LAYERS}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in W.RESULT_LINE_METRICS}

    shutil.copyfile(os.path.join(work, "harness.json"),
                    os.path.join(WORK, "logs", f"{a.workload}_seed{a.seed}_trace{a.trace}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": len(failed_ops), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
