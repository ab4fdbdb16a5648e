"""graft benchmark: one seeded, closed-loop workload run.

    python3 perfbench/run.py --workload churn_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine plus the workload program
(perfbench/build.sbt) into .bench_build when the sources changed, generates
the seed's inputs, runs the workload on one GraftSession at local[nproc],
checks its outputs, and prints one JSON result as the last stdout line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The full run record (samples, environment stamp, spans of a
traced run) is kept under .bench_build/records. Exits non-zero when an
output check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 165
JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")

UNITS = {"setup_s": "s", "throughput": "1/s", "op_p50_s": "s", "op_tail_s": "s",
         "read_p50_ms": "ms", "read_tail_ms": "ms", "heap_peak_mb": "MB"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build():
    """Compile the engine and the workload program unless the sources are unchanged;
    returns the runtime classpath."""
    stamp_f = os.path.join(BUILD, "stamp")
    cp_f = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_f) and os.path.exists(stamp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT, timeout=840)
    lines = open(os.path.join(BUILD, "build.log")).read().splitlines()
    if p.returncode != 0 or not lines:
        log("\n".join(lines[-40:]))
        fail("build failed (see .bench_build/build.log)")
    cp = lines[-1].strip()
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    log("perfbench: built in %.1f s" % (time.time() - t))
    return cp


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, run_dir, log_path):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd = [java, "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP,
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens + \
        ["-cp", cp, "graft.perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ---- output checks ----------------------------------------------------------

def check_churn(rec, data_dir):
    import numpy as np
    import pyarrow.parquet as pq
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
    day = gen.ep_day(ev["ts"].cast("int64").to_numpy())
    user = ev["user_id"].to_numpy()
    cents = np.round(ev["value"].to_numpy() * 100).astype(np.int64)
    etype = np.array(ev["event_type"].to_pylist())
    want = {}
    for k in sorted(set(zip(day.tolist(), etype.tolist()))):
        m = (day == k[0]) & (etype == k[1])
        want[k] = (int(m.sum()), len(np.unique(user[m])), int(cents[m].sum()) / 100)
    got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in rec.get("rollup", [])}
    if set(got) != set(want):
        return "rollup end-state has %d (day, type) rows, recompute has %d" % (len(got), len(want))
    for k, (n, u, v) in want.items():
        g = got[k]
        if g[0] != n or g[1] != u or abs(g[2] - v) > 1e-9 * max(1.0, abs(v)):
            return "rollup row %s is %s, recompute gives %s" % (k, g, (n, u, v))
    return None


def check_llm(rec, seed):
    hashes = rec.get("output_hashes") or {}
    if not hashes:
        return "no output hashes recorded"
    path = os.path.join(BUILD, "hashes", "llm_curation-%d.json" % seed)
    if os.path.exists(path):
        before = json.load(open(path))
        for k, h in hashes.items():
            if k in before and before[k] != h:
                return "%s output hash %s differs from an earlier run's %s" % (k, h, before[k])
        hashes = dict(before, **hashes)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(hashes, f)
    return None


# ---- metrics ----------------------------------------------------------------

def end_to_end(rec, gen_s):
    ops = [o["lat_s"] for o in rec["ops"]]
    reads = rec["reads_s"]
    return {
        "setup_s": gen_s + rec["session_build_s"] + stats.median(rec["setup_reps_s"])
        + sum(rec["warmup_s"]),
        "throughput": rec["units_done"] / rec["timed_wall_s"],
        "op_p50_s": stats.median(ops),
        "op_tail_s": stats.tail(ops)[0],
        "read_p50_ms": 1e3 * stats.median(reads),
        "read_tail_ms": 1e3 * stats.tail(reads)[0],
        "heap_peak_mb": rec["heap_peak_bytes"] / 2.0 ** 20,
    }


# per-layer metrics: the timed phase's listeners and spans (per timed op
# unless a state or a ratio), then the probes every traced run makes
PER_LAYER = {
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.queries": "count", "sched.jobs": "count", "sched.stages": "count",
    "sched.tasks": "count", "sched.delay_s": "s", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.busy_ratio": "ratio", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.spill_bytes": "bytes", "scan.files_read": "count",
    "scan.bytes_read": "bytes", "scan.rows_read": "count", "snapshot.commits": "count",
    "snapshot.files_live": "count", "jvm.heap_after_run_mb": "MB", "jvm.gc_s": "s",
    "trace.overhead_pct": "%",
    "scan.files_per_lookup": "count", "snapshot.read_plan_s": "s", "snapshot.dml_s": "s",
    "snapshot.append_s": "s", "snapshot.dv_sidecars": "count",
    "snapshot.bytes_written_per_row_changed": "bytes", "ml.fit_s": "s", "ml.score_s": "s",
    "ml.lbfgs_iters": "count", "kernel.shingle_hashes_ns_per_row": "ns",
    "kernel.minhash_signature_ns_per_row": "ns", "kernel.simhash_bands_ns_per_row": "ns",
    "kernel.bpe_token_count_ns_per_row": "ns", "kernel.quantize_milli_ns_per_row": "ns",
    "kernel.pq_encode_ns_per_row": "ns", "kernel.pq_adc_ns_per_row": "ns",
    "dedup.candidate_pairs": "count", "dedup.confirmed_pairs": "count",
    "dedup.useful_ratio": "ratio", "dedup.cc_rounds": "count",
    "stream.batches": "count", "stream.batch_ms_p50": "ms", "stream.addBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms", "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms", "stream.state_rows": "count", "stream.state_bytes": "bytes",
}


def per_layer(rec, cores):
    ops = rec["ops"]
    n = len(ops)
    nt = max(1, sum(1 for o in ops if o["traced"]))
    t = rec["tasks"]
    p = rec["plan"]
    layer = rec.get("layer", {})
    m = {
        "plan.analysis_s": p["analysis"] / nt, "plan.optimization_s": p["optimization"] / nt,
        "plan.planning_s": p["planning"] / nt, "plan.queries": p["queries"] / nt,
        "sched.jobs": t["jobs"] / n, "sched.stages": t["stages"] / n,
        "sched.tasks": t["tasks"] / n, "sched.delay_s": t["delay_ms"] / 1e3 / n,
        "exec.run_s": t["run_ms"] / 1e3 / n, "exec.cpu_s": t["cpu_ns"] / 1e9 / n,
        "exec.gc_s": t["gc_ms"] / 1e3 / n,
        "exec.busy_ratio": t["run_ms"] / 1e3 / (cores * rec["timed_wall_s"]),
        "shuffle.write_bytes": t["shuffle_write"] / n, "shuffle.read_bytes": t["shuffle_read"] / n,
        "shuffle.spill_bytes": t["spill"] / n, "scan.files_read": p["files"] / nt,
        "scan.bytes_read": t["input_bytes"] / n, "scan.rows_read": t["input_rows"] / n,
        "snapshot.commits": layer.get("snapshot.commits", 0.0) / n,
        "snapshot.files_live": layer.get("snapshot.files_live", 0.0),
        "jvm.heap_after_run_mb": rec["heap_after_run_bytes"] / 2.0 ** 20,
        "jvm.gc_s": rec["gc_s"],
        "trace.overhead_pct": 100.0 * stats.overhead(ops, rec["round"]),
    }
    m.update(rec["probe"])
    return {k: float(m[k]) for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")

    cp = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs",
                           "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("data", "tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    data_dir = os.path.join(run_dir, "data")
    try:
        t = time.time()
        sizes = gen.generate(a.workload, a.seed, data_dir)
        if a.trace:
            gen.probe_tables(a.seed, data_dir)
        gen_s = time.time() - t
        rec_path = os.path.join(run_dir, "record.json")
        jvm_log = os.path.join(run_dir, "jvm.log")
        code = run_jvm(cp, ["--workload", a.workload, "--data", data_dir,
                            "--work", os.path.join(run_dir, "work"), "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--cores", str(cores),
                            "--record", rec_path], run_dir, jvm_log)
        rec = json.load(open(rec_path)) if os.path.exists(rec_path) else {}
        problems = list(rec.get("errors", []))
        if code != 0:
            problems.append("JVM exited with %s" % ("a timeout" if code is None else code))
        if not rec.get("ops"):
            problems.append("no operation completed in the timed phase")
        if rec and not problems:
            check = {"churn_daily": lambda: check_churn(rec, data_dir),
                     "llm_curation": lambda: check_llm(rec, a.seed)}[a.workload]()
            if check:
                problems.append("output check: " + check)
        if problems:
            with open(jvm_log) as f:
                log("".join(f.readlines()[-30:]))
        correct = not problems
        metrics = {}
        if correct:
            values = per_layer(rec, cores) if a.trace else end_to_end(rec, gen_s)
            units = PER_LAYER if a.trace else UNITS
            metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        ops = [o["lat_s"] for o in rec.get("ops", [])]
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": cores, "jvm_heap": JVM_HEAP, "git_sha": git_sha(), "inputs": sizes,
            "env": rec.get("env"), "gen_s": gen_s, "correct": correct, "problems": problems,
            "metrics": metrics, "op_samples": len(ops), "read_samples": len(rec.get("reads_s", [])),
            "op_tail_pct": stats.tail(ops)[1] if ops else None,
            "raw": rec,
        }
        if a.trace and rec.get("spans"):
            record["self_times"] = stats.self_times([s for s in rec["spans"] if s["op"] >= 0])
        os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
        name = "%s-s%d-t%d-%d.json" % (a.workload, a.seed, a.trace, int(time.time() * 1000))
        with open(os.path.join(BUILD, "records", name), "w") as f:
            json.dump(record, f)
        for p in problems:
            log("perfbench: FAILED: " + p)
        log("perfbench: %s seed %d: %d ops (tail = p%s), %d reads, warm-up %s" % (
            a.workload, a.seed, len(ops), record["op_tail_pct"], record["read_samples"],
            ["%.2f" % x for x in rec.get("warmup_s", [])]))
        print(json.dumps({"correct": correct, "attempted": max(1, rec.get("attempted", 0)),
                          "failed": rec.get("failed", 0) or (0 if correct else 1),
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
