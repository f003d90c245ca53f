#!/usr/bin/env python3
"""Benchmark of the graft Yelp engine: one workload per run.

    python3 perfbench/run.py --workload etl_master --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seconds 10 [--sf-dir DIR]

A run builds the engine and the runner from source once per checkout
(sbt, into the checkout), generates the seed's Yelp-shaped input once
per seed, computes the expected answers with DuckDB once per seed, then
starts one JVM that sets up, warms up and measures (perfbench.Runner).
It checks every measured operation's answer and prints, as the last
line of stdout, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Reports and trace spans land in perfbench/.work/reports/.
See perfbench/README.md for what each workload and metric means.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_master", "dashboard", "headliners")
REVIEWS = 40000            # generated reviews per seed (both Yelp workloads)
SETUPS = 3                 # set-ups per run; setup_s is their median
HEAP = "2g"                # pinned and pre-touched, so VmHWM does not follow GC timing
RUN_BUDGET_S = 170         # a run must end within 180 s
# headliners is run by hand: its cold set-up alone takes about a minute
HEADLINERS_BUDGET_S = 1200
BUILD_BUDGET_S = 700       # the first run in a checkout also builds
# C1-only JIT for the ETL: under C2 its pass kept getting faster for
# twenty and more passes, so a run's figure followed how far compilation
# had got; under C1 it is flat after two warm-up passes. The dashboard,
# mostly Catalyst planning, settles under C2 within its warm-up and runs
# slower and noisier under C1.
JIT_FLAGS = {"etl_master": ["-XX:TieredStopAtLevel=1"]}
# Engine knobs that would change what is measured: refuse to run.
REFUSED_ENV = ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_AQE_MIN_PARTITION")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

_child = None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Failure(Exception):
    pass


def _on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def stop_child():
    """Kill the JVM or sbt process group we started and wait for it."""
    global _child
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()
    _child = None


def run_child(cmd, cwd, env, log_path, timeout):
    global _child
    with open(log_path, "w") as out:
        _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                  stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  start_new_session=True)
        try:
            rc = _child.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            stop_child()
            raise Failure(f"{cmd[0]} timed out after {timeout:.0f} s "
                          f"(log: {log_path})")
        _child = None
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise Failure(f"{os.path.basename(cmd[0])} exited {rc}:\n{tail}")


# ----------------------------------------------------------------- build

def engine_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala")))


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(deadline):
    """sbt-compile engine + runner once per source state; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    if shutil.which("sbt") is None:
        raise Failure("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine and runner with sbt (first run in this checkout)")
    t0 = time.time()
    run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
              HERE, env, os.path.join(WORK, "build.log"),
              deadline - time.time())
    log(f"build took {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip(), stamp


# ------------------------------------------------------------------ data

def dataset(seed):
    """The seed's generated input, reused when its hashes still match."""
    d = os.path.join(WORK, "data", f"r{REVIEWS}-s{seed}")
    man_path = os.path.join(d, "manifest.json")
    if os.path.isfile(man_path):
        with open(man_path) as f:
            man = json.load(f)
        try:
            if gen.manifest(d)["files"] == man["files"]:
                return d, man
        except OSError:
            pass
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    man = gen.generate(tmp, seed, REVIEWS)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    log(f"generated seed {seed}: {man['input_bytes'] / 1e6:.1f} MB "
        f"in {time.time() - t0:.1f} s")
    return d, man


def expected(data_dir):
    """DuckDB answers for the seed, computed once and cached."""
    path = os.path.join(data_dir, "expected.json")
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    import oracle
    con = oracle.connect(data_dir)
    exp = {"master": oracle.master_fingerprint(con),
           "analytics": oracle.analytics_answers(con)}
    con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(exp, f)
    os.rename(path + ".tmp", path)
    return exp


# ----------------------------------------------------------------- checks

def op_id(o):
    return f"p{o['pass']}.o{o['index']}.{o['name']}"


def tally(ops, wrong, warm_errors):
    """An operation fails when it raises or when its answer is wrong.
    Returns (errors, attempted, failed, correct); a wrong answer outside
    the measured operations (a set-up check) makes the run incorrect."""
    errors = {op_id(o): o["error"] for o in ops if o["error"] is not None}
    failed = len(set(errors) | {op_id(o) for o in ops if op_id(o) in wrong})
    ids = {op_id(o) for o in ops}
    correct = failed == 0 and not warm_errors and not (set(wrong) - ids)
    return errors, len(ops), failed, correct


def check_etl(ops, exp):
    import oracle
    bad = {}
    for o in ops:
        if o["error"] is None:
            ok, detail = oracle.check_master_output(o["result"], exp["master"])
            if not ok:
                bad[op_id(o)] = detail
    return bad


def check_dashboard(ops, results, exp):
    import oracle
    bad, seen = {}, {}
    for o in ops:
        if o["error"] is not None:
            continue
        key = (o["name"], o["result"])
        if key not in seen:
            got = results.get(o["result"], {"columns": [], "rows": []})
            seen[key] = oracle.same_result(got, exp["analytics"][o["name"]])
        ok, detail = seen[key]
        if not ok:
            bad[op_id(o)] = detail
    return bad


def check_headliners(sf_dir, out_dir):
    """Each headliner's warm-up output against its oracle with the
    dtype-strict rules of tools/check_oracle.py; returns failing names."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    bad = {}
    names = [os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "*"))
             if os.path.isdir(p)]
    for name in sorted(names):
        if name not in oracle_sql:
            continue  # no SQL oracle: the op must just succeed
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = co.main(sf_dir, out_dir, {name})
        if rc != 0:
            bad[name] = buf.getvalue().strip().splitlines()[-2:]
    return bad


# ------------------------------------------------------------------ run

def dir_bytes(path):
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


def git_commit():
    """HEAD of the checkout, or None when the checkout is not itself a
    git work tree (the source stamp then identifies the code)."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=ROOT, capture_output=True, text=True,
                             timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
        return out[1]
    return None


def run_workload(workload, seed, seconds, trace, sf_dir=None, t_start=None):
    """One measured run; returns (result line, report dict)."""
    t_start = t_start or time.time()
    deadline = t_start + (HEADLINERS_BUDGET_S if workload == "headliners"
                          else RUN_BUDGET_S)
    os.makedirs(WORK, exist_ok=True)
    refused = [k for k in REFUSED_ENV if k in os.environ]
    if refused:
        raise Failure(f"refusing to run with engine overrides set: {refused}")
    if not engine_present():
        raise Failure(f"engine sources not found under {ROOT}")
    tb = time.time()
    classpath, stamp = build(t_start + BUILD_BUDGET_S)
    deadline += time.time() - tb  # the build does not eat the run budget

    if workload == "headliners":
        if not sf_dir or not os.path.isdir(sf_dir):
            raise Failure("headliners needs --sf-dir with the TPC-H-ish tables")
        data_dir, man = os.path.abspath(sf_dir), None
    else:
        data_dir, man = dataset(seed)
        exp = expected(data_dir)

    run_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    stripped = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        # stop-the-world parallel GC: no concurrent GC threads competing
        # with the task threads on a small box
        "-XX:+UseParallelGC"] + JIT_FLAGS.get(workload, []) + [
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.ui.enabled=false", "-cp", classpath,
        "perfbench.Runner", "--workload", workload, "--data", data_dir,
        "--out", run_dir, "--seconds", str(seconds), "--trace", str(int(trace)),
        "--seed", str(seed), "--cpus", str(cpus), "--setups", str(SETUPS)]
    load_before = os.getloadavg()[0]
    run_child(cmd, run_dir, env, os.path.join(run_dir, "jvm.log"),
              deadline - time.time() - 5)
    with open(os.path.join(run_dir, "runner.json")) as f:
        r = json.load(f)

    ops = r["ops"]
    v = {}
    if workload == "etl_master":
        wrong = check_etl(ops, exp)
        first = next((o["result"] for o in ops if o["error"] is None), None)
        out_bytes, out_files = dir_bytes(first) if first else (0, 0)
        rows_out = exp["master"]["rows"]
        rows_per_pass = man["reviews"] + man["businesses"] + man["users"]
        v.update({"master.rows_out": rows_out,
                  "master.output_mb": out_bytes / 1e6,
                  "master.output_files": out_files,
                  "master.output_bytes_per_input_byte":
                      out_bytes / man["input_bytes"]})
        shutil.rmtree(os.path.join(run_dir, "etl"), ignore_errors=True)
    elif workload == "dashboard":
        wrong = check_dashboard(ops, r["results"], exp)
        rows_out = r["setup_layers"].get("master.rows_out", 0)
        rows_per_pass = rows_out * len(metrics.ANALYTICS)
        v["master.rows_out"] = rows_out
        if rows_out != exp["master"]["rows"]:
            wrong["cache.fill"] = f"master rows {rows_out} vs {exp['master']['rows']}"
    else:
        bad_q = check_headliners(data_dir, os.path.join(run_dir, "headliners"))
        wrong = {op_id(o): bad_q[o["name"]] for o in ops if o["name"] in bad_q}
        rows_out = 0
        import duckdb
        rows_per_pass = sum(duckdb.sql(f"SELECT count(*) FROM '{p}'").fetchone()[0]
                            for p in glob.glob(os.path.join(data_dir, "*.parquet")))
    errors, attempted, failed, correct = tally(ops, wrong, r["warm_errors"])

    traced_passes = {p["pass"] for p in r["passes"] if p["traced"]}
    untraced_ops = [o for o in ops if o["pass"] not in traced_passes]
    traced_ops = [o for o in ops if o["pass"] in traced_passes]
    op_times = [o["seconds"] for o in ops]
    pass_s = metrics.typical_pass(untraced_ops or traced_ops)
    v.update({
        "setup_s": metrics.median(r["setup_s"]),
        "pass_s": pass_s,
        "op_p50_s": metrics.median_op(untraced_ops or traced_ops),
        "rows_per_s": rows_per_pass / pass_s if pass_s else 0.0,
        "peak_rss_mb": r["peak_rss_mb"],
        "session.start_s": metrics.median(r["session_start_s"]),
        "session.shuffle_partitions": r["shuffle_partitions"],
    })
    if man:
        v["master.dedup_keep_ratio"] = rows_out / man["reviews"]
    for k in ("cache.fill_s", "cache.entries", "cache.mem_mb", "cache.disk_mb"):
        v[k] = r["setup_layers"].get(k, 0.0)
    if trace:
        keys = set().union(*(l.keys() for l in r["layers"])) if r["layers"] else set()
        for k in keys:
            if k != "pass_s":
                v[k] = metrics.median([l.get(k, 0.0) for l in r["layers"]])
        tp = metrics.typical_pass(traced_ops)
        up = metrics.typical_pass(untraced_ops)
        v.update({"trace.pass_s": tp, "trace.untraced_pass_s": up,
                  "trace.overhead_ratio": tp / up - 1 if up else 0.0})
        for k in metrics.PER_LAYER:
            v.setdefault(k, 0.0)  # layer not exercised by this workload
    if workload == "headliners" and not trace:
        v = {k: x for k, x in v.items() if k in metrics.END_TO_END or k == "op_p50_s"}

    p90 = metrics.percentile(op_times, 90)
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
        "correct": correct, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "errors": errors, "wrong_answers": wrong, "warm_errors": r["warm_errors"],
        "metrics": v,
        "op_p90_s": p90, "op_samples": len(op_times),
        "pass_samples_s": [p["seconds"] for p in r["passes"]],
        "setup_samples_s": r["setup_s"],
        "input": man,
        "fingerprint": {
            "commit": git_commit(), "source_stamp": stamp, "cpus": cpus,
            "heap": HEAP, "heap_max_mb": r["heap_max_mb"],
            "java": r["java_version"], "spark": r["spark_version"],
            "spark_conf": r["conf"], "spark_graft_env_stripped": stripped,
            "setups": SETUPS, "reviews": REVIEWS if man else None,
        },
        "box": dict(r["box"], loadavg_before_jvm=load_before),
    }
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    tag = f"{workload}-s{seed}-t{int(trace)}"
    with open(os.path.join(reports, tag + ".json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    shutil.copy(os.path.join(run_dir, "runner.json"),
                os.path.join(reports, tag + "-runner.json"))
    if trace and os.path.isfile(os.path.join(run_dir, "trace.json")):
        shutil.copy(os.path.join(run_dir, "trace.json"),
                    os.path.join(reports, tag + "-spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    line = metrics.result_line(correct, attempted, failed, v, trace)
    return line, report


def summary(report):
    """Human-readable lines: every metric with its unit, plus the
    figures that are not tracked metrics (p90, error rate, box noise)."""
    w = report["workload"]
    out = []
    for k, x in sorted(report["metrics"].items()):
        out.append(f"{w:11s} {k:40s} {x:14.6g} {metrics.unit_of(k)}")
    p90 = report["op_p90_s"]
    out.append(f"{w:11s} {'op_p90_s':40s} " + (
        f"{p90:14.6g} s (n={report['op_samples']})" if p90 is not None else
        f"{'n/a':>14s}   (n={report['op_samples']} < {metrics.P90_MIN_SAMPLES})"))
    out.append(f"{w:11s} {'error_rate':40s} {report['error_rate']:14.6g} ratio "
               f"({report['failed']}/{report['attempted']})")
    b = report["box"]
    out.append(f"{w:11s} box: loadavg {b['loadavg_start']:.2f}->{b['loadavg_end']:.2f}"
               f", other-process cores {b['ext_cores']:.2f}, steal cores "
               f"{b['steal_cores']:.2f}")
    return out


def main(argv=None):
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true",
                    help="run etl_master, dashboard (and headliners with "
                         "--sf-dir) and print every metric with its unit")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="TPC-H-ish table directory (headliners)")
    a = ap.parse_args(argv)
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    signal.signal(signal.SIGTERM, _on_signal)
    try:
        if a.all:
            names = ["etl_master", "dashboard"] + (["headliners"] if a.sf_dir else [])
            for w in names:
                _, rep = run_workload(w, a.seed, a.seconds, a.trace, a.sf_dir)
                print("\n".join(summary(rep)), flush=True)
            return 0
        line, rep = run_workload(a.workload, a.seed, a.seconds, a.trace,
                                 a.sf_dir, t_start)
        print("\n".join(summary(rep)), file=sys.stderr)
        print(line, flush=True)
        return 0
    except Failure as e:
        log(f"error: {e}")
        return 2
    finally:
        stop_child()


if __name__ == "__main__":
    sys.exit(main())
