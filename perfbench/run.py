"""graft benchmark: one command, three workloads, every output checked.

    python3 perfbench/run.py --workload etl_csv|batch_rows|rounds \
        --seed N --seconds S --trace 0|1

Builds the engine from source (perfbench/build.py), generates the seeded
inputs, runs the JVM harness (perfbench/scala/graft/perfbench/Main.scala)
once, checks every answer and prints one JSON line last. --seconds is the
nominal length of the timed pass: an operation that takes more than twice
that is cancelled and counts as failed. The last line is
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. The line before it records the run's environment. See
perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources

import build  # noqa: E402
import gen_csv  # noqa: E402

# A run ends within 180 s; the JVM gets what is left after building and archiving.
JVM_TIMEOUT_S = 165
# No operation starts or runs past the JVM's time limit minus this margin,
# which is left for the checks after the pass and the result file.
AFTER_PASS_S = 25
MODULES = ["analytics", "dedup", "similarity", "text", "etl", "sources",
           "streaming", "multimodal", "operators", "plans"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def jvm_cmd(cfg, classpath, run_dir, args, cds):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = {
        "java.io.tmpdir": tmp,
        "spark.local.dir": tmp,
        "spark.ui.enabled": "false",
        "spark.sql.streaming.streamingQueryListeners": "graft.perfbench.StreamTap",
        "derby.system.home": os.path.join(run_dir, "derby"),
        "derby.stream.error.file": os.path.join(run_dir, "derby.log"),
        # Derby flush policy, fixed: commit per 2000-row batch, no fsync.
        "derby.system.durability": "test",
    }
    # a fixed heap (-Xms = -Xmx): G1 then sizes its regions the same way on
    # every run, which keeps the peak RSS comparable between runs;
    # -UsePerfData: no hsperfdata file in the system temp directory
    return (["java", f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}", "-Xss4m", "-XX:-UsePerfData"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] +
            cds + ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main"] + args)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return 0, 0


def run_jvm(cmd, log, cwd, timeout):
    """Runs the JVM to completion; kills it and waits on timeout or when this
    process is stopped. Returns its exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=cwd)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def class_archive(cfg, classpath, build_dir, workload, args):
    """JVM flags that load the workload's class-data sharing archive, made
    first by one untimed run of the warm-up pass alone. Class loading is
    most of a fresh JVM's set-up; the archive removes it from every
    measured run alike. Without an archive the run goes on without one."""
    jsa = os.path.join(build_dir, "cds", f"{workload}.jsa")
    if not os.path.exists(jsa):
        os.makedirs(os.path.dirname(jsa), exist_ok=True)
        train = os.path.join(build_dir, "runs", f"{workload}-train")
        os.makedirs(train)
        cmd = jvm_cmd(cfg, classpath, train, args + ["--out", train, "--train", "1"],
                      [f"-XX:ArchiveClassesAtExit={jsa}"])
        with open(os.path.join(train, "jvm.log"), "w") as log:
            run_jvm(cmd, log, train, JVM_TIMEOUT_S)
        shutil.rmtree(train, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def tail_percentile(values):
    """Upper-tail latency: the highest percentile with at least n//4
    operations beyond it (the value and that percentile)."""
    v = sorted(values)
    i = len(v) - 1 - len(v) // 4
    return v[i], 100.0 * (i + 1) / len(v)


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] (ms) covered by the union of job intervals."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


# ── answer checks ──────────────────────────────────────────────────────

def check_rows(run_dir, ops):
    """Compares each row's Spark answer with its stored DuckDB answer, in
    tools/check.py's canonical form. Returns {name: (ok, rows, why)}."""
    import pandas as pd
    from canon import canon, frames_equal
    out = {}
    for op in ops:
        name = op["name"]
        if not op["ok"]:
            out[name] = (False, 0, op.get("error") or "error")
            continue
        try:
            got = canon(pd.read_parquet(os.path.join(run_dir, "answers", name)))
            exp = canon(pd.read_parquet(os.path.join(HERE, "expected", f"{name}.parquet")))
        except Exception as e:  # unreadable answer or missing expectation
            out[name] = (False, 0, f"unreadable: {e}")
            continue
        why = frames_equal(got, exp)
        out[name] = (why is None, len(got), why)
    return out


def same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and float(a) == float(b)
    return a == b


def check_etl(res, truth):
    """Checks each DAG step's answer and both sinks against the generator's
    truth. Returns {name: (ok, rows, why)}."""
    e = res["etl"]
    sinks = {
        "parquet_sink": ([e["parquet_rows"], e["parquet_regions"]],
                         [truth["valid_rows"], truth["regions"]]),
        "jdbc_sink": (e["jdbc_checksum"], truth["sink_checksum"]),
    }
    out = {}
    for op in res["ops"]:
        name = op["name"]
        if not op["ok"]:
            out[name] = (False, 0, op.get("error") or "error")
            continue
        if name in sinks:
            got, exp = sinks[name]
            rows = truth["valid_rows"]
        else:
            got = op["answer"]
            exp = truth[name]
            if name == "central_stats":
                got = got[0]
            rows = len(got)
        out[name] = (same(got, exp), rows, None if same(got, exp) else f"{got!r:.200} != {exp!r:.200}")
    return out


# ── metrics ────────────────────────────────────────────────────────────

def op_latencies(res):
    """Each operation's own latency: its wall time minus the shared-artifact
    staging it happened to trigger. Staging is a one-time cost per JVM that
    falls on whichever row uses the artifact first, so the seed's order would
    otherwise move it between rows; it stays in wall_s and
    SparkEntry.staging_s."""
    return [op["wall_s"] - op["staging_s"] for op in res["ops"]]


def end_to_end(res, checks, input_rows):
    walls = op_latencies(res)
    tail, _ = tail_percentile(walls)
    failed = sum(1 for ok, _, _ in checks.values() if not ok)
    n = len(checks)
    rows = input_rows if input_rows else sum(r for _, r, _ in checks.values())
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (res["wall_s"], "s"),
        "cpu_s": (res["cpu_s"], "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (tail, "s"),
        "rows_per_s": (rows / res["wall_s"], "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "ok_frac": ((n - failed) / n, "ratio"),
    }


def per_layer(res, cfg):
    MB = 1048576.0
    ops = res["ops"]
    m = {
        "GraftSession.local_s": (res["session_s"], "s"),
        "SparkEntry.queries_s": (res["queries_s"], "s"),
        "SparkEntry.warmup_s": (res["warmup_s"], "s"),
        "SparkEntry.staging_s": (res["staging_s"], "s"),
        "trace.wall_s": (res["wall_s"], "s"),
    }
    in_job = {op["name"]: union_s(op["job_intervals_ms"], op["start_ms"], op["end_ms"]) for op in ops}
    tot = lambda k: sum(op[k] for op in ops)  # noqa: E731
    m.update({
        "spark.jobs": (tot("jobs"), "count"),
        "spark.stages": (tot("stages"), "count"),
        "spark.tasks": (tot("tasks"), "count"),
        "spark.in_job_s": (sum(in_job.values()), "s"),
        "spark.outside_job_s": (sum(op["wall_s"] - in_job[op["name"]] for op in ops), "s"),
        "spark.task_cpu_s": (tot("task_cpu_s"), "s"),
        "spark.gc_s": (res["gc_s"], "s"),
        "spark.max_task_s": (max(op["max_task_s"] for op in ops), "s"),
        "spark.shuffle_write_mb": (tot("shuffle_write_b") / MB, "MB"),
        "spark.shuffle_read_mb": (tot("shuffle_read_b") / MB, "MB"),
        "spark.spill_mb": (tot("spill_b") / MB, "MB"),
        "spark.input_mb": (tot("input_b") / MB, "MB"),
        "spark.output_mb": (tot("output_b") / MB, "MB"),
        "CachePool.cached_mb_peak": (res["cached_peak_b"] / MB, "MB"),
        "CachePool.leaked_rdds": (max(op["leaked_rdds"] for op in ops), "count"),
    })
    module_of = cfg["modules"]
    for mod in MODULES:
        mine = [op for op in ops if module_of.get(op["name"]) == mod]
        m[f"{mod}.wall_s"] = (sum(op["wall_s"] for op in mine), "s")
        m[f"{mod}.outside_job_s"] = (sum(op["wall_s"] - in_job[op["name"]] for op in mine), "s")
        m[f"{mod}.jobs"] = (sum(op["jobs"] for op in mine), "count")
        m[f"{mod}.tasks"] = (sum(op["tasks"] for op in mine), "count")
        m[f"{mod}.shuffle_mb"] = (sum(op["shuffle_write_b"] + op["shuffle_read_b"] for op in mine) / MB, "MB")

    # etl_csv stage split and sinks (0 on the other workloads)
    e = res.get("etl") or {}
    st = e.get("stage_s", {})
    by = {op["name"]: op["wall_s"] for op in ops}
    read = st.get("csv_read", 0.0)
    csv_mb = e.get("csv_bytes", 0) / MB
    valid = e.get("valid_rows", 0)
    jdbc_s = by.get("jdbc_sink", 0.0)
    m.update({
        "sources.csv_read_s": (read, "s"),
        "sources.csv_mb_per_s": (csv_mb / read if read else 0.0, "MB/s"),
        "etl.clean_validate_s": (st.get("clean_validate", 0.0) - read, "s"),
        "etl.rows_rejected": (e.get("rows", 0) - valid, "count"),
        "etl.cast_s": (st.get("cast", 0.0) - st.get("clean_validate", 0.0), "s"),
        "etl.reindex_s": (st.get("reindex", 0.0) - st.get("cast", 0.0), "s"),
        "sources.jdbc_sink_s": (jdbc_s, "s"),
        "sources.jdbc_rows_per_s": (valid / jdbc_s if jdbc_s else 0.0, "1/s"),
        "sources.jdbc_batches": (e.get("jdbc_batches", 0), "count"),
        "sources.parquet_sink_s": (by.get("parquet_sink", 0.0), "s"),
        "sources.files_written": (e.get("parquet_files", 0), "count"),
        "sources.bytes_written_per_input_byte":
            (e.get("parquet_bytes", 0) / e["csv_bytes"] if e.get("csv_bytes") else 0.0, "ratio"),
        "analytics.central_stats_s": (by.get("central_stats", 0.0), "s"),
        "analytics.top_groups_s": (by.get("top_regions", 0.0) + by.get("top_cities", 0.0), "s"),
        "analytics.minmax_s": (by.get("minmax_square", 0.0), "s"),
        "analytics.histogram_s": (by.get("decade_histogram", 0.0), "s"),
        "analytics.topk_filter_s": (by.get("topk_square60", 0.0), "s"),
    })

    # streaming drains (rounds): sums over every micro-batch of the pass
    b = res["stream_batches"]
    d = lambda k: sum(x["duration_ms"].get(k, 0) for x in b)  # noqa: E731
    m.update({
        "streaming.batches": (len(b), "count"),
        "streaming.idle_batches": (sum(1 for x in b if x["rows"] == 0), "count"),
        "streaming.batch_p50_ms": (statistics.median(x["duration_ms"].get("triggerExecution", 0) for x in b) if b else 0.0, "ms"),
        "streaming.trigger_ms": (d("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (d("addBatch"), "ms"),
        "streaming.planning_ms": (d("queryPlanning"), "ms"),
        "streaming.offset_ms": (d("latestOffset") + d("getBatch"), "ms"),
        "streaming.commit_ms": (d("walCommit") + d("commitOffsets"), "ms"),
        "streaming.state_commit_ms": (sum(x["state_commit_ms"] for x in b), "ms"),
        "streaming.state_rows": (max((x["state_rows"] for x in b), default=0), "count"),
    })
    return m


# ── main ───────────────────────────────────────────────────────────────

def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=["etl_csv", "batch_rows", "rounds"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    cfg = load_config()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build.build(build_dir)
    prep_s = time.time() - t_start  # building and archiving stay outside the run's budget

    # runs are sequential: whatever an earlier, stopped run left is stale
    shutil.rmtree(os.path.join(build_dir, "runs"), ignore_errors=True)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    os.makedirs(run_dir)
    w = cfg[a.workload]
    truth = None
    if a.workload == "etl_csv":
        # the seed generates the CSV; the warm-up CSV is small and fixed
        inputs = os.path.join(build_dir, "inputs")
        big = os.path.join(inputs, f"etl_csv-s{a.seed}-r{w['rows']}")
        warm = os.path.join(inputs, f"etl_csv-warm-r{w['warm_rows']}")
        for old in os.listdir(inputs) if os.path.isdir(inputs) else []:
            if os.path.join(inputs, old) not in (big, warm):  # keep one seed's CSV on disk
                shutil.rmtree(os.path.join(inputs, old), ignore_errors=True)
        if not os.path.exists(os.path.join(big, "truth.json")):
            truth = gen_csv.generate(a.seed, w["rows"], w["files"], os.path.join(big, "csv"))
            with open(os.path.join(big, "truth.json"), "w") as fh:
                json.dump(truth, fh, ensure_ascii=False)
        with open(os.path.join(big, "truth.json")) as fh:
            truth = json.load(fh)
        if not os.path.isdir(os.path.join(warm, "csv")):
            gen_csv.generate(0, w["warm_rows"], w["files"], os.path.join(warm, "csv"))
        args = ["--input", os.path.join(big, "csv"), "--warm-input", os.path.join(warm, "csv")]
        input_desc = {"rows": truth["rows"], "bytes": truth["bytes"], "files": truth["files"]}
    else:
        # the seed fixes the order in which the selected rows run
        ops = list(w["rows"])
        random.Random(a.seed).shuffle(ops)
        data = os.path.join(HERE, "data")
        args = ["--input", os.path.join(data, cfg["sf"]), "--warm-input", os.path.join(data, cfg["warm_sf"]),
                "--ops", ",".join(ops)]
        sf_dir = os.path.join(data, cfg["sf"])
        input_desc = {"sf": cfg["sf"], "tables": len(os.listdir(sf_dir)),
                      "bytes": sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))}

    t0 = time.time()
    cds = class_archive(cfg, classpath, build_dir, a.workload, ["--workload", a.workload] + args)
    prep_s += time.time() - t0
    budget = JVM_TIMEOUT_S - (time.time() - t_start - prep_s)
    limits = ["--op-limit-s", str(2 * a.seconds), "--budget-s", str(budget - AFTER_PASS_S)]
    cmd = jvm_cmd(cfg, classpath, run_dir,
                  ["--workload", a.workload, "--trace", str(a.trace), "--out", run_dir] + args + limits,
                  cds)
    steal0, total0 = cpu_ticks()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = run_jvm(cmd, log, run_dir, budget)
    steal1, total1 = cpu_ticks()
    if rc is None:
        sys.stderr.write(f"run: JVM exceeded {budget:.0f}s; killed\n")
        return 3
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.stderr.write(f"run: JVM exited with {rc}\n")
        return 4
    with open(result_file) as fh:
        res = json.load(fh)

    checks = check_etl(res, truth) if a.workload == "etl_csv" else check_rows(run_dir, res["ops"])
    if a.workload == "etl_csv" and a.trace and res["etl"].get("rejects_by_rule") is not None:
        checks["rejects_by_rule"] = (res["etl"]["rejects_by_rule"] == truth["rejects_by_rule"]
                                     and res["etl"]["valid_rows"] == truth["valid_rows"], 0,
                                     "per-rule rejects differ from the generator's truth")
    failing = {k: why for k, (ok, _, why) in checks.items() if not ok}
    for k, why in failing.items():
        sys.stderr.write(f"FAIL {k}: {why}\n")

    if a.trace:
        metrics = per_layer(res, cfg)
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl"))
    else:
        metrics = end_to_end(res, checks, truth["rows"] if truth else None)

    ops_n = len(res["ops"])
    env = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": res["nproc"], "heap": cfg["heap"], "heap_max_mb": res["heap_max_mb"],
        "loadavg_before": res["loadavg_before"], "loadavg_after": res["loadavg_after"],
        # CPU time the hypervisor gave to other guests while the JVM ran
        "cpu_steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "input": input_desc, "operations": ops_n,
        "op_tail_percentile": tail_percentile(op_latencies(res))[1],
        "failing": failing,
        # persistent RDDs an operation left behind after its release
        "leaking_ops": {op["name"]: op["leaked_rdds"] for op in res["ops"] if op["leaked_rdds"]},
        "op_wall_s": {op["name"]: round(op["wall_s"], 4) for op in res["ops"]},
        "op_staging_s": {op["name"]: round(op["staging_s"], 4) for op in res["ops"]},
        "warm_op_wall_s": {op["name"]: round(op["wall_s"], 4) for op in res["warm_ops"]},
        "setup_split_s": {k: round(res[k], 4) for k in ("session_s", "queries_s", "warmup_s")},
        "spark_conf": res["spark_conf"],
    }
    record = {"env": env, "metrics": {k: v for k, (v, _) in metrics.items()}}
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump(record, fh, ensure_ascii=False, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"env": env}, ensure_ascii=False))
    print(json.dumps({
        "correct": not failing,
        "attempted": len(checks),
        "failed": len(failing),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, ensure_ascii=False))
    return 0


if __name__ == "__main__":
    # a stop signal unwinds through run_jvm, which ends the JVM first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
