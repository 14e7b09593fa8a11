"""perfbench: seeded closed-loop benchmark of the xdlake_spark Delta engine.

    python3 perfbench/run.py --workload table_mix --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. One client in this process drives Spark
``local[min(2, nproc)]`` through ``xdlake_spark``'s public API; every input
comes from ``--seed`` (``gen.py``) and every answer is checked against it.
A run sets up five times (session start plus input generation; the median
is ``setup_s``), loads the workload's tables, runs its warm-up rounds,
then runs measured rounds of the workload (``workloads.py``) for
``--seconds`` (at least ``MIN_ROUNDS``). After every write and read
operation it runs a fixed reference Spark job that uses nothing of
``xdlake_spark``; latencies are reported relative to it.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables Spark's
event log and, on every other round, tags each operation's Spark jobs with
a job group, calls the log and plans layers directly, and splits each
operation's wall time by layer; it prints the per-layer metrics and writes
the spans to ``.perfbench_out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A wrong answer or a
failed operation makes the exit code non-zero.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# two task threads leave the other cores of a 4-core host to the driver,
# the JIT and the garbage collector; runs spread less than with four
CORES = min(2, os.cpu_count() or 1)
SETUP_REPEATS = 5
MIN_ROUNDS = 3
SMALL_FILE_BYTES = 1 << 20


def _start_session(tmp: str, trace: bool):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.local.dir", os.path.join(tmp, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
         .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]))
    if trace:
        ev = os.path.join(tmp, "events")
        os.makedirs(ev, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", ev)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _reference_job(spark):
    """A fixed Spark job that uses nothing of ``xdlake_spark``: an
    Arrow-batched Python UDF over generated rows, a shuffle and an
    aggregation, like the engine's own jobs in small."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def words(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: f"w{i * 2654435761 % 1000003:x}")

    n, keys = 40_000, 64
    df = (spark.range(0, n, 1, CORES)
          .select((F.col("id") % keys).alias("k"), words("id").alias("w"))
          .groupBy("k").agg(F.count(F.lit(1)), F.sum(F.length("w"))))
    want = (n, sum(len(f"w{i * 2654435761 % 1000003:x}") for i in range(n)))

    def job():
        rows = df.collect()
        got = (sum(r[1] for r in rows), sum(r[2] for r in rows))
        if len(rows) != keys or got != want:
            raise RuntimeError(f"reference job: {got} != {want}")
    return job


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it: the gateway
    exits when its stdin closes. The next session launches a fresh one."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    with contextlib.suppress(Exception):
        gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _storage(spark, root: str, log_table: str, live: list) -> dict:
    """Walk every table under ``root``: all data files ever written, and
    live data plus log bytes. ``live`` holds the manifests of the
    workload's tables before the closing compaction; ``log_table`` is the
    table whose log size and tail are reported."""
    from spans import walk_table
    from xdlake_spark import DeltaTable
    out = {"files_written": 0, "bytes_written": 0, "table_bytes": 0,
           "live_files": sum(len(a) for a in live),
           "small_files": sum(1 for adds in live for a in adds.values()
                              if a.size < SMALL_FILE_BYTES),
           "log_bytes": 0, "tail_entries": 0}
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        log_dir = os.path.join(path, "_delta_log")
        if not os.path.isdir(log_dir):
            continue
        data, log_bytes, tail = walk_table(path)
        live_bytes = sum(a.size for a in DeltaTable(spark, path).adds.values())
        dv_bytes = sum(s for p, s in data.items() if p.endswith(".bin"))
        out["files_written"] += len(data)
        out["bytes_written"] += sum(data.values())
        out["table_bytes"] += live_bytes + dv_bytes + log_bytes
        if os.path.realpath(path) == os.path.realpath(log_table):
            out["log_bytes"] = log_bytes
            out["tail_entries"] = tail
    return out


def _end_to_end(w, rec, first_span, setup_s, store) -> dict:
    """The end-to-end metrics. Latencies are divided by the median
    latency of the reference job in the same run (``ref_ms``): the host
    is shared, and how fast it runs Spark swings by a third from one
    minute to the next, which moves an operation and the reference job
    alike. The raw figures are printed as ``# info`` lines."""
    from spans import peak_rss_mb
    ref = ref_ms(rec, first_span)
    return {
        "setup_s": (statistics.median(setup_s), "s"),
        "write_p50_rel": (_p50_across_kinds(rec, "write", first_span) / ref,
                          "ratio"),
        "read_p50_rel": (_p50_across_kinds(rec, "read", first_span) / ref,
                         "ratio"),
        "table_bytes_per_input_byte": (store["table_bytes"] / w.input_bytes,
                                       "ratio"),
        "peak_rss_mb": (peak_rss_mb(), "MB"),
    }


def ref_ms(rec, first_span: int) -> float:
    """Median latency of the reference job over the measured rounds."""
    return statistics.median(ms for i, ms in rec.ref_ms if i >= first_span)


def _p50_across_kinds(rec, role: str, first_span: int,
                      attr: str = "ms") -> float:
    """Median latency of each operation kind of ``role``, combined across
    kinds by geometric mean, so every kind counts equally whatever its
    cost and one slow sample of a kind does not move the figure."""
    from spans import p50
    by_kind: dict[str, list[float]] = {}
    for s in rec.spans[first_span:]:
        if s.parent is None and s.role == role:
            by_kind.setdefault(s.name, []).append(getattr(s, attr))
    return math.exp(statistics.fmean(math.log(p50(v))
                                     for v in by_kind.values()))


def _per_layer(w, rec, first_span, rounds, traced_ops, jobs, store
               ) -> tuple[dict, dict]:
    from spans import p50, self_times
    spans = rec.spans
    layers = self_times(rec, jobs)
    tops = {i: s for i, s in enumerate(spans)
            if s.parent is None and s.op in traced_ops}
    m: dict[str, tuple[float, str]] = {}

    def named(name: str) -> list[float]:
        return rec.durations(name, first_span)

    m["log.load_head_ms"] = (p50(named("log.load_head")), "ms")
    m["log.load_pinned_ms"] = (p50(named("log.load_pinned")), "ms")
    m["log.tail_entries"] = (store["tail_entries"], "count")
    m["log.bytes"] = (store["log_bytes"], "bytes")
    m["log.versions"] = (w.tables()[0].version + 1, "count")
    prunes = [s for s in spans[first_span:] if s.name == "plans.prune"]
    kept = sum(s.info["kept"] for s in prunes)
    total = sum(s.info["total"] for s in prunes)
    m["plans.prune_ms"] = (p50([s.ms for s in prunes]), "ms")
    m["plans.files_kept"] = (kept, "count")
    m["plans.files_total"] = (total, "count")
    m["plans.files_kept_ratio"] = (kept / total if total else 0.0, "ratio")

    for role in ("write", "read"):
        ops = [i for i, s in tops.items() if s.role == role]
        m[f"table.{role}_driver_ms"] = (
            p50([layers[i].get("table", 0.0) for i in ops]), "ms")
        per_op = []
        for i in ops:
            js = [j for k, s in enumerate(spans) if s.op == spans[i].op
                  for j in jobs.get(k, [])]
            per_op.append({
                "jobs": len(js),
                "tasks": sum(j.get("tasks", 0) for j in js),
                "max_stage_tasks": max([j.get("max_stage_tasks", 0)
                                        for j in js], default=0),
                "job_ms": layers[i].get("spark", 0.0),
                "run_minus_cpu_ms": sum(j.get("run_ms", 0)
                                        - j.get("cpu_ns", 0) / 1e6
                                        for j in js),
                "shuffle_bytes": sum(j.get("shuffle_bytes", 0) for j in js),
                "spill_bytes": sum(j.get("spill_bytes", 0) for j in js),
            })
        for key, unit in (("jobs", "count"), ("tasks", "count"),
                          ("max_stage_tasks", "count"), ("job_ms", "ms"),
                          ("run_minus_cpu_ms", "ms"),
                          ("shuffle_bytes", "bytes"),
                          ("spill_bytes", "bytes")):
            m[f"spark.{role}.{key}"] = (p50([o[key] for o in per_op]), unit)
    ckpt = [s.ms for s in spans[first_span:]
            if s.parent is None and s.info.get("ckpt")]
    m["table.ckpt_write_ms"] = (p50(ckpt) if ckpt else 0.0, "ms")
    m["table.optimize_ms"] = (p50(named("optimize")), "ms")

    m["storage.files_written"] = (store["files_written"], "count")
    m["storage.bytes_written"] = (store["bytes_written"], "bytes")
    m["storage.write_amp"] = (store["bytes_written"] / w.input_bytes,
                              "ratio")
    m["storage.live_files"] = (store["live_files"], "count")
    m["storage.small_file_ratio"] = (
        store["small_files"] / store["live_files"]
        if store["live_files"] else 0.0, "ratio")

    for name in ("normalize", "exact_dedup", "minhash_pairs", "keepers",
                 "topk"):
        vals = named(name)
        m[f"operators.{name}_ms"] = (p50(vals) if vals else 0.0, "ms")
    planted = getattr(w, "planted", 0)
    m["operators.pairs_per_planted_pair"] = (
        w.found / planted if planted else 0.0, "ratio")
    m["operators.planted_pairs"] = (planted, "count")

    traced = [ms for ms, t in rounds if t]
    plain = [ms for ms, t in rounds if not t]
    n_traced = max(len(traced), 1)
    for layer in ("log", "plans", "table", "operators", "spark"):
        total_ms = sum(layers[i].get(layer, 0.0) for i in tops)
        m[f"self.{layer}_ms_per_round"] = (total_ms / n_traced, "ms")
    m["trace.overhead_ms"] = (p50(traced) - p50(plain), "ms")
    m["trace.traced_rounds"] = (len(traced), "count")

    breakdown = {str(spans[i].op): {"name": spans[i].name,
                                    "wall_ms": spans[i].ms,
                                    "self_ms": layers[i]}
                 for i in tops}
    return m, breakdown


def _op_ledger(breakdown: dict) -> list[str]:
    """One line per traced operation kind: median wall time and the
    median self time of each layer."""
    from spans import p50
    by_kind: dict[str, list[dict]] = {}
    for op in breakdown.values():
        by_kind.setdefault(op["name"], []).append(op)
    lines = []
    for kind, ops in sorted(by_kind.items()):
        layers = sorted({k for op in ops for k in op["self_ms"]})
        parts = " ".join(
            f"{k}={p50([op['self_ms'].get(k, 0.0) for op in ops]):.1f}"
            for k in layers)
        lines.append(f"# op {kind}: n={len(ops)} "
                     f"wall_p50={p50([op['wall_ms'] for op in ops]):.1f}ms "
                     f"self_p50_ms: {parts}")
    return lines


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    # the program under test must import before anything is printed
    import xdlake_spark  # noqa: F401
    import pyarrow
    import pyspark
    from spans import Recorder, spark_jobs_by_span
    from workloads import SIZES, WORKLOADS

    cls = WORKLOADS[workload]
    tmp_parent = os.path.join(REPO, ".perfbench_tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{workload}-", dir=tmp_parent)
    saved_tmp = os.environ.get("TMPDIR"), tempfile.tempdir
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    spark = None
    try:
        load_before = os.getloadavg()[0]
        setup_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = _start_session(tmp, trace)
            rec = Recorder(spark, ref_job=_reference_job(spark),
                           ref_repeats=SIZES[workload]["ref_repeats"])
            w = cls(spark, rec, seed, SIZES[workload],
                    os.path.join(tmp, "tables"))
            w.generate()
            setup_s.append(time.perf_counter() - t0)
        os.makedirs(w.root, exist_ok=True)
        w.prepare()
        t0 = time.perf_counter()
        warmup = w.sizes["warmup_rounds"]
        for i in range(warmup):          # checked, not measured
            w.round(i)
        warmup_s = time.perf_counter() - t0

        first_span = len(rec.spans)
        rounds: list[tuple[float, bool]] = []
        traced_ops: set[int] = set()
        t_start = time.perf_counter()
        i = warmup
        while len(rounds) < MIN_ROUNDS or (
                time.perf_counter() - t_start
                + statistics.median(ms for ms, _ in rounds) / 1000
                <= seconds):
            traced = trace and len(rounds) % 2 == 0
            rec.tracing = traced
            span0 = len(rec.spans)
            t0 = time.perf_counter()
            w.round(i)
            if traced:
                w.probe(i)
            rounds.append(((time.perf_counter() - t0) * 1000, traced))
            if traced:
                traced_ops.update(s.op for s in rec.spans[span0:])
            i += 1
        measure_s = time.perf_counter() - t_start
        rec.tracing = False
        live = [t.adds for t in w.tables()]
        w.finish()
        w.release()
        store = _storage(spark, w.root, w.tables()[0].location.path, live)
        e2e = _end_to_end(w, rec, first_span, setup_s, store)
        spark.stop()
        spark = None
        jobs = spark_jobs_by_span(os.path.join(tmp, "events")) \
            if trace else {}

        attempted, failed = rec.attempted, rec.failed
        env = {"workload": workload, "seed": seed, "trace": int(trace),
               "nproc": os.cpu_count(), "spark_master_cores": CORES,
               "sizes": w.sizes,
               "loadavg_before": load_before,
               "loadavg_after": os.getloadavg()[0],
               "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
               "python": platform.python_version(), "rounds": len(rounds),
               "warmup_s": round(warmup_s, 3),
               "measure_s": round(measure_s, 3),
               "setup_runs_s": [round(s, 3) for s in setup_s]}
        info = dict(w.info(first_span),
                    write_p50_ms=_p50_across_kinds(rec, "write", first_span),
                    read_p50_ms=_p50_across_kinds(rec, "read", first_span),
                    ingest_rows_per_s=w.ingest_rows_per_s(first_span),
                    ref_job_p50_ms=ref_ms(rec, first_span),
                    error_rate=failed / attempted)
        if trace:
            metrics, breakdown = _per_layer(w, rec, first_span, rounds,
                                            traced_ops, jobs, store)
            info_lines = _op_ledger(breakdown)
            out_dir = os.path.join(REPO, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{workload}_seed{seed}.json"),
                      "w") as f:
                json.dump({"env": env, "info": info, "ops": breakdown,
                           "spans": [vars(s) for s in rec.spans]}, f)
        else:
            metrics, info_lines = e2e, []
        for msg in rec.errors[:20]:
            print(f"# WRONG: {msg}")
        print("# env " + json.dumps(env))
        for k, v in info.items():
            print(f"# info {k} = {v:.6g}")
        for line in info_lines:
            print(line)
        for k, (v, unit) in metrics.items():
            print(f"{k} = {v:.6g} {unit}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": unit}
                        for k, (v, unit) in metrics.items()}}))
        return 0 if failed == 0 else 1
    finally:
        # cleanup must reach the JVM and the temp root even when the run
        # was interrupted mid-call and the gateway is broken
        if spark is not None:
            with contextlib.suppress(Exception):
                spark.stop()
        _stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        if saved_tmp[0] is None:
            os.environ.pop("TMPDIR", None)
        else:
            os.environ["TMPDIR"] = saved_tmp[0]
        tempfile.tempdir = saved_tmp[1]
        with contextlib.suppress(OSError):
            os.rmdir(tmp_parent)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["table_mix", "llm_dedup_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    paths = [REPO, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    try:
        return run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    # a terminated run still stops Spark and deletes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
