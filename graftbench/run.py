#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, every metric by name and unit.

    python3 graftbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --smoke

Run from the root of a checkout. The first run builds the program and the
harness from source (graftbench/build.sbt) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run writes seeded
inputs, launches one benchmark JVM on the exported classpath, checks the
outputs against their DuckDB oracles outside the timed region, and prints
the result as the last line of stdout. See graftbench/README.md.
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
sys.path.insert(0, HERE)
import gate  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = {
    "etl_incremental": ["q_uscrn_e2e", "q_wind_e2e", "q_stream_dedup"],
    "dashboard": [
        "q_agg_pricing", "q_revenue_by_nation", "q_market_share", "q_rollup_sales",
        "q_cube_sales", "q_top_n_per_group", "q_pivot_events", "q_hourly_rollup",
        "q_semi_join_bloom",
    ],
}

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("heap_live_peak_mb", "MB"), ("rows_per_s", "1/s"),
]

PER_LAYER = [  # name, unit
    ("build.s", "s"), ("build.jobs", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.physical_ms", "ms"),
    ("plan.actions", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.task_gc_s", "s"),
    ("exec.task_wait_frac", "ratio"),
    ("exec.shuffle_read_bytes", "B"), ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"), ("exec.input_bytes", "B"),
    ("exec.task_failed", "count"), ("exec.stage_retried", "count"),
    ("functions.minhash_rows_per_s", "1/s"), ("functions.simhash_rows_per_s", "1/s"),
    ("functions.window_hash_rows_per_s", "1/s"), ("functions.bpe_rows_per_s", "1/s"),
    ("sources.watermark_s", "s"), ("sources.listing_s", "s"), ("sources.stage_s", "s"),
    ("sources.merge_s", "s"), ("sources.warehouse_merge_s", "s"),
    ("sources.merge_input_bytes", "B"), ("sources.merge_growth", "ratio"),
    ("sources.main_files", "count"), ("sources.stored_bytes_ratio", "ratio"),
    ("pipeline.retries", "count"), ("pipeline.overhead_ms", "ms"),
    ("stream.batches", "count"), ("stream.input_rows", "count"), ("stream.batch_ms_p50", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.query_planning_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
    ("stream.state_rows", "count"), ("stream.state_mem_bytes", "B"),
    ("stream.state_commit_ms", "ms"), ("stream.state_store_instances", "count"),
    ("stream.rows_dropped_by_watermark", "count"),
    ("trace.overhead_ratio", "ratio"),
]

# Flags from the program's build.sbt javaOptions (module opens for Spark on
# JDK 17, UTC everywhere); the heap is sized for sf0.01 on a shared host.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
XMX = "2g"
JVM_TIMEOUT_S = 150
SF_TIMED, SF_SMOKE = "sf0.01", "sf0.001"


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile program + harness with the benchmark's own sbt build and
    export the runtime classpath; skipped while the sources are unchanged."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala/graft: run from the root of a graft checkout")
    fp = source_fingerprint(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp_file = os.path.join(build_dir, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip(), fp
    os.makedirs(build_dir, exist_ok=True)
    sbt_tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=sbt_tmp)
    repos = os.path.expanduser("~/.sbt/repositories")
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={sbt_tmp}"]
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("building program and harness (sbt) ...")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp, fp


def fs_type(path):
    """Filesystem type of the mount holding `path` (tmpfs or a disk fs)."""
    best, kind = "", "unknown"
    path = os.path.realpath(path)
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def run_jvm(cp, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{XMX}", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')}",
        "-cp", cp, "graftbench.Main"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=tmp,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    with open(log_path) as f:
        jvm_log = f.read()
    if rc != 0:
        sys.stderr.write(jvm_log[-6000:])
        fail(f"benchmark JVM failed ({rc})")
    for line in jvm_log.splitlines():
        if line.startswith("[graftbench]"):
            log(line.removeprefix("[graftbench] "))


def quantile_tail(xs):
    """The tail latency, its percentile and n: the highest whole percentile
    with at least ten samples beyond it (nearest rank), once that reaches
    p90 (n >= 100). Below that it is no tail, so the maximum (p100) is
    reported instead."""
    s = sorted(xs)
    n = len(s)
    p = int(100 * (n - 10) / n)
    if p < 90:
        return 100, s[-1], n
    k = max(0, -(-p * n // 100) - 1)  # nearest-rank index
    return p, s[k], n


def timed_run(root, workload, seed, seconds, trace, sf):
    build_dir = os.path.join(root, ".bench_build")
    cp, fp = build(root, build_dir)
    t_setup0 = time.time()
    deadline = t_setup0 + JVM_TIMEOUT_S
    run_dir = os.path.join(build_dir, "runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    try:
        inputs.tables(os.path.join(HERE, "data", sf), os.path.join(in_dir, "tables"), seed)
        if workload == "etl_incremental":
            inputs.etl(os.path.join(in_dir, "etl"), seed, small=(sf == SF_SMOKE))
        queries = WORKLOADS[workload]
        log(f"inputs written in {time.time() - t_setup0:.1f} s")
        t_jvm0 = time.time()
        run_jvm(cp, [workload, str(seed), str(seconds), "1" if trace else "0", in_dir, out_dir,
                     ",".join(queries)], run_dir, deadline)
        with open(os.path.join(out_dir, "result.json")) as f:
            res = json.load(f)
        t_gate0 = time.time()
        log(f"benchmark JVM ran {t_gate0 - t_jvm0:.1f} s")
        verdict = gate.check(root, workload, in_dir, out_dir, res)
        log(f"oracle gate {time.time() - t_gate0:.1f} s")
        if trace:
            dst = os.path.join(build_dir, "traces", f"{workload}-s{seed}.spans.jsonl")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(os.path.join(out_dir, "spans.jsonl"), dst)
            res["spans_file"] = os.path.relpath(dst, root)
            with open(os.path.join(out_dir, "spans.jsonl")) as f:
                res["span_names"] = sorted({json.loads(l)["name"] for l in f if l.strip()})
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["ops"]
    by_op = {}
    for o in ops:
        by_op.setdefault(o["name"], []).append(o["seconds"])
    log("op latencies (s), pass by pass: " + ", ".join(
        f"{k}=" + "/".join(f"{x:.3f}" for x in v) for k, v in sorted(by_op.items())))
    # An operation fails if it threw, or if its output missed the oracle
    # (then every run of it produced that output).
    bad = set(verdict["mismatch"])
    failed = sum(1 for o in ops if o["error"] is not None or o["name"] in bad)
    failed = min(len(ops), failed + verdict["pass_failures"])
    lat = [o["seconds"] for o in ops]
    pass_s = statistics.median(res["untraced_pass_s"])
    tail_p, tail_v, n = quantile_tail(lat)
    metrics = {
        "setup_s": res["first_op_epoch_ms"] / 1e3 - t_setup0,
        "pass_s": pass_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "heap_live_peak_mb": res["heap_live_peak_mb"],
        "rows_per_s": res["rows_per_pass"] / pass_s,
    }
    header = dict(res["header"])
    header.update({
        "workload": workload, "sf": sf, "source_fingerprint": fp[:16],
        "git_sha": git_sha(root), "scratch": fs_type(build_dir),
        "op_tail_percentile": tail_p, "ops": n, "passes": [round(x, 3) for x in res["untraced_pass_s"]],
        "error_rate": failed / max(1, len(ops)), "failures": verdict["failures"],
    })
    return {
        "header": header,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
        "layer": res.get("layer", {}),
        "span_names": res.get("span_names", []),
        "spans_file": res.get("spans_file"),
    }


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def result_line(r, trace):
    names = PER_LAYER if trace else END_TO_END
    src = r["layer"] if trace else r["metrics"]
    return {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": float(src.get(k, 0.0)), "unit": u} for k, u in names},
    }


def smoke(root):
    """Every workload once at sf0.001, untraced and traced, gate included;
    checks that every metric and span name is emitted."""
    problems = []
    for w in WORKLOADS:
        for trace in (False, True):
            r = timed_run(root, w, 1, 1, trace, SF_SMOKE)
            line = result_line(r, trace)
            log(f"smoke {w} trace={int(trace)}: attempted={r['attempted']} failed={r['failed']} "
                f"failures={r['header']['failures']}")
            if r["failed"]:
                problems.append(f"{w}: {r['failed']} failed: {r['header']['failures']}")
            # Layers a workload does not run report 0: sources and pipeline
            # run only in etl_incremental.
            expected = [k for k, _ in (PER_LAYER if trace else END_TO_END)
                        if w == "etl_incremental" or not k.startswith(("sources.", "pipeline."))]
            missing = [k for k in expected if k not in (r["layer"] if trace else r["metrics"])]
            if missing:
                problems.append(f"{w} trace={int(trace)}: metrics not emitted: {missing}")
            if trace:
                want = {"op", "QueryRegistry.build", "exec.noop_write", "exec.job"}
                if w == "etl_incremental":
                    want |= {"pipeline.run", "sources.lastAdded", "sources.newFilePaths",
                             "sources.stage", "sources.mergeToMain", "sources.warehouse_merge"}
                got = {n.split(":")[0] for n in r["span_names"]}
                if want - got:
                    problems.append(f"{w}: spans not emitted: {sorted(want - got)}")
            print(json.dumps({"workload": w, "trace": trace, "header": r["header"], **line}))
    for p in problems:
        log(f"SMOKE FAIL {p}")
    if problems:
        sys.exit(1)
    log("smoke ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="each workload once at sf0.001, gate included")
    a = ap.parse_args()
    root = os.getcwd()
    if a.smoke:
        return smoke(root)
    if not a.workload:
        ap.error("--workload is required")
    r = timed_run(root, a.workload, a.seed, a.seconds, bool(a.trace), SF_TIMED)
    print(json.dumps({"header": r["header"], "spans_file": r["spans_file"]}))
    print(json.dumps(result_line(r, bool(a.trace))))


if __name__ == "__main__":
    main()
