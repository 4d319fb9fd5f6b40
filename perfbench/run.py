#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine (src/main) and the benchmark's JVM program
(perfbench/scala) with the Scala compiler shipped in the Spark jars,
launches that bench JVM directly on the classes, checks every output, and
prints one JSON object as the last stdout line. Everything a run writes goes under a run dir in
the checkout that is deleted at the end. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_run"
# The Spark distribution the engine is built against: $SPARK_HOME, or the
# one whose spark-submit is on PATH.
SPARK_HOME = Path(os.environ.get("SPARK_HOME")
                  or Path(shutil.which("spark-submit") or ".").resolve().parent.parent)
SPARK_JARS = SPARK_HOME / "jars"
# The read-only fixture tables (TESTDATA.md), by scale factor.
FIXTURES = Path(os.environ.get("PERFBENCH_FIXTURES") or Path.home() / "testdata")
SF_DIR = {"registry_cold": str(FIXTURES / "sf0.1"),
          "ingest_write": str(FIXTURES / "sf0.1"),
          "dashboard_serving": str(FIXTURES / "sf0.001")}
# The heap limit of tools/run_direct.sh; the heap grows only as far as the
# engine needs, so peak RSS follows the engine's memory use.
HEAP = ["-Xmx8g"]
DEADLINE_S = 170.0

WORKLOADS = ("ingest_write", "dashboard_serving", "registry_cold")
END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "p50_ms": "ms", "tail_ms": "ms",
    "rate_per_s": "1/s",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DUCK_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build --

def spark_classpath():
    jars = sorted(SPARK_JARS.glob("*.jar"))
    if not jars:
        fail(f"no Spark jars under {SPARK_JARS}")
    return [str(j) for j in jars]


def sources_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(out, sources, classpath):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cp = ":".join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", ":".join(spark_classpath()),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", cp] + [str(s) for s in sources]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail(f"compile failed ({out.name}):\n{r.stdout[-4000:]}")


def build():
    """Compiles the engine and the bench JVM into .bench_build, reusing a
    previous build whose sources hash the same. Returns the classpath."""
    engine_src = sorted((ROOT / "src" / "main").rglob("*.scala"))
    if not engine_src:
        fail("no engine sources under src/main")
    bench_src = sorted((BENCH / "scala").glob("*.scala"))
    jars = spark_classpath()
    engine_key = sources_hash(engine_src)
    bench_key = sources_hash(bench_src + engine_src)
    engine_out = BUILD / f"engine-{engine_key}"
    bench_out = BUILD / f"bench-{bench_key}"
    BUILD.mkdir(exist_ok=True)
    if not (engine_out / ".done").exists():
        for old in BUILD.glob("engine-*"):
            shutil.rmtree(old, ignore_errors=True)
        t0 = time.monotonic()
        scalac(engine_out, engine_src, jars)
        (engine_out / ".done").touch()
        log(f"built engine in {time.monotonic() - t0:.1f} s")
    if not (bench_out / ".done").exists():
        for old in BUILD.glob("bench-*"):
            shutil.rmtree(old, ignore_errors=True)
        scalac(bench_out, bench_src, [str(engine_out)] + jars)
        (bench_out / ".done").touch()
    return [str(bench_out), str(engine_out)] + jars


# ------------------------------------------------------------------ run --

def jvm_command(classpath, jvm_dir, args, out):
    tmp = jvm_dir / "tmp"
    for d in ("tmp", "local", "hive/exec", "hive/local", "hive/resources",
              "hive/querylog", "hive/operation_logs"):
        (jvm_dir / d).mkdir(parents=True, exist_ok=True)
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    flags += [
        *HEAP, "-XX:-UsePerfData", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.stream.error.file={jvm_dir / 'derby.log'}",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    ]
    cmd = ["java"] + flags + ["-cp", ":".join(classpath),
                              "org.apache.spark.sql.perfbench.Main",
                              "--workload", args.workload,
                              "--seed", str(args.seed),
                              "--seconds", str(args.seconds),
                              "--trace", str(args.trace),
                              "--run-dir", str(jvm_dir),
                              "--sf-dir", SF_DIR[args.workload], "--out", str(out)]
    return cmd


def launch(cmd, jvm_dir, deadline):
    """Runs one bench JVM from its own dir. Returns (exit code, seconds
    from launch until it printed READY or None)."""
    err = open(jvm_dir / "stderr.log", "w")
    t0 = time.monotonic()
    # settings that would move Spark's dirs out of the run dir or change
    # the engine's own knobs are not passed on
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=jvm_dir, stdout=subprocess.PIPE,
                            stderr=err, text=True, env=env)
    ready = []

    def read():
        with open(jvm_dir / "stdout.log", "w") as copy:
            for line in proc.stdout:
                if line.startswith("PERFBENCH READY") and not ready:
                    ready.append(time.monotonic() - t0)
                copy.write(line)
                copy.flush()
    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    code = None
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:  # also on SIGTERM: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    reader.join(timeout=10)
    err.close()
    if code != 0:
        tail = (jvm_dir / "stderr.log").read_text(errors="replace")[-3000:]
        log(f"bench JVM exit {code}; stderr tail:\n{tail}")
    return code, (ready[0] if ready else None)


def dir_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


# --------------------------------------------------------------- checks --

# The comparison mirrors tools/selfcheck.py but lives here, so that a
# change to the engine's tools cannot change what the benchmark accepts.
def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # -0.0 and 0.0 are the same value; engines differ in which one a
        # rounded near-zero result carries
        return "NaN" if v != v else repr(v + 0.0)
    if hasattr(v, "isoformat"):
        try:
            v = v.tz_localize(None)
        except (AttributeError, TypeError):
            pass
        if hasattr(v, "to_pydatetime"):
            v = v.to_pydatetime()
        return v.isoformat()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(norm_cell(x) for x in row)
                  for row in df[cols].itertuples(index=False, name=None))
    return cols, rows


def oracle_failures(oracle, sf_dir, tmp_dir):
    """Registry rows whose Spark result differs from DuckDB over the row's
    oracle SQL on the same fixtures."""
    if not oracle:
        return set()
    import duckdb
    con = duckdb.connect(config={"temp_directory": str(tmp_dir)})
    for t in DUCK_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = set()
    for name, o in sorted(oracle.items()):
        try:
            duck = canon(con.execute(o["sql"]).df())
            spark = canon(con.execute(
                f"SELECT * FROM '{o['dir']}/*.parquet'").df())
        except Exception as e:  # a broken oracle or dump is a failed row
            log(f"oracle {name}: {e}")
            bad.add(name)
            continue
        if duck != spark:
            diff = next(((a, b) for a, b in zip(duck[1], spark[1]) if a != b),
                        None)
            log(f"oracle {name}: spark result differs from DuckDB "
                f"(rows duck={len(duck[1])} spark={len(spark[1])}, "
                f"columns {duck[0]}, first differing row duck/spark: {diff})")
            bad.add(name)
    con.close()
    return bad


# -------------------------------------------------------------- metrics --

ROOT_LAYER = {"row": "harness", "stream_row": "harness", "view": "server",
              "adhoc": "server"}
SELF_LAYERS = ["harness", "queries", "catalyst", "execute", "sql",
               "scheduler", "executor", "streaming", "pipeline", "server",
               "fetch"]


# The op whose latency p50_ms and tail_ms describe, per workload: a
# registry row, a daily load of one run date, a JDBC statement.
LATENCY_OPS = {"registry_cold": ("row",), "ingest_write": ("daily",),
               "dashboard_serving": ("view", "adhoc")}


def end_to_end(workload, res, setup_s):
    lat = [o["end"] - o["start"] for o in res["ops"]
           if o["ok"] and o["kind"] in LATENCY_OPS[workload]]
    # The first daily load of a fresh JVM pays the cold compile and is a
    # different op from the warm loads after it: the median describes the
    # warm loads, the tail (the slowest load) the cold one.
    warm = lat[1:] if workload == "ingest_write" else lat
    p50 = stats.percentile(warm, 50) if warm else 0.0
    tail_v, tail_p = stats.tail(lat) if lat else (0.0, 0.0)
    L = res["layers"]
    if workload == "ingest_write":
        rate = ratio(L.get("rows_loaded", 0.0), L.get("daily_ms", 0.0) / 1000.0)
    else:
        rate = len(lat) / res["metrics"]["wall_s"]
    m = {
        "setup_s": setup_s,
        "wall_s": res["metrics"]["wall_s"],
        "p50_ms": p50,
        "tail_ms": tail_v,
        "rate_per_s": rate,
    }
    by_kind = {}
    for o in res["ops"]:
        k = by_kind.setdefault(o["kind"], [0, 0.0])
        k[0] += 1
        k[1] += o["end"] - o["start"]
    detail = {"ops_by_kind": {k: [n, round(ms, 1)] for k, (n, ms) in by_kind.items()},
              "latency_samples": len(lat), "tail_percentile": round(tail_p, 1)}
    if len(lat) <= 20:
        detail["latency_ms"] = sorted(round(x) for x in lat)
    return m, detail


def per_layer(res, leaked_bytes, cpus):
    L = res["layers"]
    ops = res["ops"]
    n_ops = max(1, len(ops))
    wall_s = res["metrics"]["wall_s"]
    mb = 1048576.0
    g = L.get
    plans = g("plans", 0.0)
    jobs_in_build = 0.0
    by_op = {}
    for op, layer, name, s, e in res["spans"]:
        by_op.setdefault(op, []).append((layer, name, s, e))
    for o in ops:
        for layer, name, s, e in by_op.get(o["id"], []):
            if layer == "scheduler" and any(
                    ly == "queries" and bs <= s and e <= be
                    for ly, _, bs, be in by_op.get(o["id"], [])):
                jobs_in_build += 1
    # self time per op, then averaged per op and per workload
    totals = {k: 0.0 for k in SELF_LAYERS}
    by_kind = {}
    worst = 0.0
    driver_only = 0.0
    for o in ops:
        spans = [(ly, s, e) for ly, _, s, e in by_op.get(o["id"], [])]
        st = stats.self_times(o["start"], o["end"], spans,
                              ROOT_LAYER.get(o["kind"], "pipeline"))
        wall = o["end"] - o["start"]
        if wall > 0:
            worst = max(worst, abs(sum(st.values()) - wall) / wall)
        kind = by_kind.setdefault(o["kind"], {"ops": 0, "wall": 0.0})
        kind["ops"] += 1
        kind["wall"] += wall
        for k, v in st.items():
            totals[k] = totals.get(k, 0.0) + v
            kind[k] = kind.get(k, 0.0) + v
        jobs = [(s, e) for ly, _, s, e in by_op.get(o["id"], [])
                if ly == "scheduler"]
        driver_only += wall - union_len(jobs, o["start"], o["end"])
    server_ops = [o for o in ops if o["kind"] in ("view", "adhoc") and o["ok"]]
    n_srv = max(1, len(server_ops))
    exec_ms = sum(o["extra"].get("execute_ms", 0.0) for o in server_ops)
    fetch_ms = sum(o["extra"].get("fetch_ms", 0.0) for o in server_ops)
    spark_ms = sum(union_len([(s, e) for ly, _, s, e in by_op.get(o["id"], [])
                              if ly == "scheduler"], o["start"], o["end"])
                   for o in server_ops)
    build_ms = sum(o["extra"].get("build_ms", 0.0) for o in ops)
    delivered = g("delivered_bytes", 0.0)
    triggers = res["series"].get("trigger_ms", [])
    m = {
        "queries.build_ms": build_ms,
        "queries.build_jobs": jobs_in_build,
        "catalyst.analysis_ms": g("analysis_ms", 0.0),
        "catalyst.optimization_ms": g("optimization_ms", 0.0),
        "catalyst.planning_ms": g("planning_ms", 0.0),
        "catalyst.plans": plans,
        "plans.rule_ms": g("graft_rule_ns", 0.0) / 1e6,
        "plans.rule_effective_share": ratio(g("graft_rule_effective", 0.0),
                                            g("graft_rule_runs", 0.0)),
        "codegen.compiles": g("codegen_compiles", 0.0),
        "codegen.compile_ms": g("codegen_compile_ms", 0.0),
        "codegen.class_kb": g("codegen_class_bytes", 0.0) / 1024.0,
        "codegen.compiles_per_plan": ratio(g("codegen_compiles", 0.0), plans),
        "jvm.jit_ms": g("jit_ms", 0.0),
        "jvm.classes_loaded": g("classes_loaded", 0.0),
        "jvm.gc_ms": g("gc_ms", 0.0),
        "jvm.gc_count": g("gc_count", 0.0),
        "jvm.heap_peak_mb": g("heap_peak_mb", 0.0),
        "jvm.rss_peak_mb": g("rss_peak_mb", 0.0),
        "scheduler.jobs": g("jobs", 0.0),
        "scheduler.stages": g("stages", 0.0),
        "scheduler.tasks": g("tasks", 0.0),
        "scheduler.stages_skipped_share": ratio(
            g("stages_skipped", 0.0), g("stages", 0.0) + g("stages_skipped", 0.0)),
        "scheduler.task_retry_share": ratio(g("task_retries", 0.0), g("tasks", 0.0)),
        "scheduler.task_delay_ms": g("task_delay_ms", 0.0),
        "scheduler.driver_only_ms": driver_only,
        "executor.cpu_s": g("exec_cpu_ns", 0.0) / 1e9,
        "executor.run_s": g("exec_run_ms", 0.0) / 1000.0,
        "executor.deser_ms": g("exec_deser_ms", 0.0),
        "executor.gc_ms": g("exec_gc_ms", 0.0),
        "executor.busy_share": ratio(g("exec_run_ms", 0.0) / 1000.0, wall_s * cpus),
        "shuffle.write_mb": g("shuffle_write_bytes", 0.0) / mb,
        "shuffle.read_mb": g("shuffle_read_bytes", 0.0) / mb,
        "shuffle.fetch_wait_ms": g("fetch_wait_ms", 0.0),
        "shuffle.spill_mb": g("spill_bytes", 0.0) / mb,
        "sources.read_mb": g("input_bytes", 0.0) / mb,
        "sources.rows_read": g("input_rows", 0.0),
        "streaming.triggers": g("triggers", 0.0),
        "streaming.trigger_p50_ms": stats.percentile(triggers, 50) if triggers else 0.0,
        "streaming.empty_trigger_share": ratio(g("empty_triggers", 0.0), g("triggers", 0.0)),
        "streaming.rows_in": g("trigger_rows_in", 0.0),
        "streaming.state_mb": g("state_bytes", 0.0) / mb,
        "streaming.latest_offset_ms": g("trigger_latestOffset_ms", 0.0),
        "streaming.query_planning_ms": g("trigger_queryPlanning_ms", 0.0),
        "streaming.add_batch_ms": g("trigger_addBatch_ms", 0.0),
        "streaming.wal_commit_ms": g("trigger_walCommit_ms", 0.0),
        "streaming.commit_offsets_ms": g("trigger_commitOffsets_ms", 0.0),
        "pipeline.daily_ms": g("daily_ms", 0.0),
        "pipeline.rerun_ms": g("rerun_ms", 0.0),
        "pipeline.stream_twin_ms": g("stream_twin_ms", 0.0),
        "pipeline.curation_ms": g("curation_ms", 0.0),
        "pipeline.rerun_skip_share": ratio(
            g("rerun_offered", 0.0) - g("rerun_loaded", 0.0), g("rerun_offered", 0.0)),
        "pipeline.written_mb": g("written_bytes", 0.0) / mb,
        "pipeline.files_written": g("files_written", 0.0),
        "pipeline.write_amp": ratio(g("written_bytes", 0.0), delivered),
        "pipeline.tmp_leaked_mb": leaked_bytes / mb,
        "pipeline.etl_rows_per_s": ratio(g("rows_loaded", 0.0), g("daily_ms", 0.0) / 1000.0),
        "pipeline.curation_docs_per_s": ratio(g("curation_docs", 0.0),
                                              g("curation_ms", 0.0) / 1000.0),
        "server.qps": len(server_ops) / wall_s if server_ops else 0.0,
        "server.execute_ms": exec_ms / n_srv,
        "server.fetch_ms": fetch_ms / n_srv,
        "server.spark_ms": spark_ms / n_srv,
        "server.overhead_ms": max(0.0, exec_ms + fetch_ms - spark_ms) / n_srv,
        "server.rows_fetched": sum(o["extra"].get("rows", 0.0) for o in server_ops),
        "trace.wall_s": wall_s,
        "trace.spans": float(len(res["spans"])),
        "trace.self_sum_error": worst,
    }
    for k in SELF_LAYERS:
        m[f"self.{k}_ms"] = totals.get(k, 0.0) / n_ops
    # mean self time per op of each kind, in ms
    breakdown = {kind: {k: round(v / d["ops"], 1) for k, v in d.items() if k != "ops"}
                 for kind, d in by_kind.items()}
    return m, breakdown


def ratio(a, b):
    return a / b if b else 0.0


def union_len(intervals, lo, hi):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------------------- main --

def main():
    # turn SIGTERM into an exception so the finally blocks stop the bench
    # JVM and delete the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not Path(SF_DIR[args.workload], "lineitem.parquet").exists():
        fail(f"fixtures missing: {SF_DIR[args.workload]}")

    classpath = build()
    deadline = time.monotonic() + DEADLINE_S
    RUNS.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                                    dir=RUNS))
    sys_tmp = Path(tempfile.gettempdir())
    tmp_before = set(os.listdir(sys_tmp))
    try:
        result = run(args, classpath, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUNS.rmdir()
        except OSError:
            pass
    new_tmp = sorted(set(os.listdir(sys_tmp)) - tmp_before)
    if new_tmp:
        log(f"new entries in {sys_tmp} during the run: {new_tmp[:10]}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, classpath, run_dir, deadline):
    jvm_dir = run_dir / "main"
    out = jvm_dir / "out.json"
    code, ready = launch(jvm_command(classpath, jvm_dir, args, out),
                         jvm_dir, deadline)
    if code != 0 or ready is None or not out.exists():
        fail("bench JVM failed", 4)
    res = json.loads(out.read_text())
    leaked = dir_bytes(jvm_dir / "tmp")

    wrong = oracle_failures(res["oracle"], SF_DIR[args.workload], jvm_dir / "tmp")
    for o in res["ops"]:
        if o["name"] in wrong:
            o["ok"] = False
    failed_checks = [c for c in res["checks"] if not c["ok"]]
    extra = len(failed_checks) + int(res["layers"].get("wire_mismatched", 0))
    attempted, failed = stats.count_failures(res["ops"], extra)
    correct = failed == 0 and not failed_checks and res["ops"]

    e2e, detail = end_to_end(args.workload, res, ready)
    metrics = e2e
    units = END_TO_END
    if args.trace:
        cpus = int(res["env"]["nproc"])
        metrics, detail["self_ms_per_op"] = per_layer(res, leaked, cpus)
        units = {k: layer_unit(k) for k in metrics}
    summary = {
        "env": dict(res["env"], commit=commit_id()),
        "detail": detail,
        "checks": res["checks"],
        "oracle_rows": len(res["oracle"]), "oracle_failed": sorted(wrong),
        "tmp_leaked_mb": round(leaked / 1048576.0, 3),
    }
    for k, v in sorted(metrics.items()):
        print(f"{args.workload} {k} = {v:.6g} {units[k]}")
    print("env " + json.dumps(summary))
    return {"correct": bool(correct), "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def layer_unit(name):
    if name.endswith("_per_s") or name.endswith(".qps"):
        return "1/s"
    if name.endswith(("_share", "_amp", "_per_plan", "_error")):
        return "ratio"
    suffix = name.rsplit("_", 1)[-1]
    return {"ms": "ms", "s": "s", "mb": "MB", "kb": "KB"}.get(suffix, "count")


def commit_id():
    """The checkout's commit when it is a git tree, else a hash of the
    engine and benchmark sources."""
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            p = ROOT / ".git" / ref[5:]
            if p.exists():
                return p.read_text().strip()[:12]
        else:
            return ref[:12]
    files = sorted((ROOT / "src" / "main").rglob("*.scala")) + \
        sorted((BENCH / "scala").glob("*.scala"))
    return "src-" + sources_hash(files)


if __name__ == "__main__":
    sys.exit(main())
