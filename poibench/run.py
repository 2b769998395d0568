#!/usr/bin/env python3
"""Layered end-to-end benchmark of the POI matchmaker engine.

    python3 poibench/run.py --workload sf0.02-pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` (cached on disk under ``.poibench/``), starts one Spark session
on ``local[<cores this process may use>]``, runs one cold pass, then warm
passes back to back for ``--seconds`` (closed loop, one client), checks
every pass against the sampled DuckDB oracle, and prints one JSON object
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see poibench/README.md). Exits non-zero, printing no result, when the
engine package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sf0.02-pipeline", "amplified-pipeline", "ivf-ann")
# untimed passes after the cold one, while the JIT is still compiling: an
# ivf-ann pass is short and keeps getting faster for eight passes or more
WARMUP = {"ivf-ann": 3}
MIN_WARM = 3  # timed warm passes per run, at the least; pass_s is their median
RESUMES = 9  # resume re-runs per run; read_s (pipelines) is their median
PROBES = 5  # extra probes of the last index (ivf-ann); read_s is the median of all probes
DRIVER_MEM = "2g"


def process_age() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak resident memory (VmHWM) of ``pid`` and its descendants:
    the Spark JVM plus the Python workers it forked."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def configure_env(work: str, run_dir: str) -> None:
    """Keep every file Spark, its workers and DuckDB write inside ``work``.
    Runs before the engine is imported: ``synth`` reads ``OPM_SYNTH_CACHE``
    at import."""
    os.environ["OPM_SYNTH_CACHE"] = os.path.join(work, "synth")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)


def start_spark(run_dir: str, stderr_log: str):
    """The engine's session on local[<cores this process may use>], with the
    JVM's stderr (and its Python workers') sent to ``stderr_log``. The JVM
    and the workers it forks inherit this process's CPU affinity, so they
    run on the same cores. The heap is committed up front (-Xms = -Xmx),
    so the JVM's resident size does not depend on when G1 grows the heap."""
    from osm_poi_matchmaker_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }
    log = open(stderr_log, "ab")
    saved = os.dup(2)
    os.dup2(log.fileno(), 2)
    try:
        return get_spark("poibench", cpus=cores, extra_conf=conf)
    finally:
        os.dup2(saved, 2)
        os.close(saved)
        log.close()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_control_s() -> float:
    """Median time of a fixed pure-Python loop: how fast the host runs
    right now. Printed as context only, never a metric or a gate."""
    xs = []
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i % 7
        xs.append(time.perf_counter() - t)
    return statistics.median(xs)


def summarize(name: str, xs: list[float]) -> None:
    """Human-readable line: median, count and every reading (no percentile
    has ten samples beyond it at these counts)."""
    if xs:
        each = " ".join(f"{x:.3f}" for x in xs)
        print(f"# {name}: median {statistics.median(xs):.4f} s, n={len(xs)}: {each}")


def run(args) -> dict:
    from poibench import gen, oracle, workloads
    from poibench.trace import Tracer

    work, run_dir = args.work, args.run_dir
    t_gen = time.perf_counter()
    pipeline = args.workload != "ivf-ann"
    if pipeline:
        cold, inputs = gen.prepare_pipeline(work, args.seed, amplified=args.workload == "amplified-pipeline")
        expect = oracle.expected_rows(inputs.sf_dir, args.seed)
    else:
        cold = inputs = gen.prepare_ivf(work, args.seed)
        state = workloads.IvfState(inputs, args.seed)
    gen_s = time.perf_counter() - t_gen

    tr = Tracer(enabled=bool(args.trace), stderr_log=os.path.join(run_dir, "spark-stderr.log"))
    t_session = time.perf_counter()
    spark = start_spark(run_dir, tr.stderr_log)
    session_s = time.perf_counter() - t_session
    try:
        # inputs readable: the tables the first pass scans resolve
        if pipeline:
            from osm_poi_matchmaker_spark import synth

            synth.osm_pois(spark, inputs.sf_dir).schema
            synth.pages(spark, inputs.sf_dir).schema
            spark.read.parquet(inputs.pages_path).schema
        else:
            spark.read.parquet(inputs.corpus_path).schema
            spark.read.parquet(inputs.queries_path).schema
        setup_s = process_age() - gen_s
        tr.attach(spark)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        return measure(
            args, spark, tr, cold, inputs, expect if pipeline else state, run_dir, setup_s, session_s, jvm_pid
        )
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spark, tr, cold, inputs, expect_or_state, run_dir, setup_s, session_s, jvm_pid) -> dict:
    from poibench import metrics, workloads

    pipeline = args.workload != "ivf-ann"
    warmup = WARMUP.get(args.workload, 1)
    passes, failures, layer_rows, peak = [], [], [], 0.0
    roots: list[str] = []

    def one_pass(i: int):
        nonlocal peak
        tr.pass_index = i
        try:
            if pipeline:
                root = os.path.join(run_dir, f"pass-{i}")
                roots.append(root)
                res = workloads.pipeline_pass(spark, inputs if i else cold, expect_or_state, root, tr)
                if tr.enabled:
                    res.extra["files"] = metrics.pipeline_pass_files(root)
                if len(roots) > 1:
                    shutil.rmtree(roots[-2], ignore_errors=True)
            else:
                res = workloads.ivf_pass(spark, expect_or_state, tr)
        except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
            failures.append(f"pass {i}: {type(e).__name__}: {e}")
            return None
        peak = max(peak, tree_peak_rss_mb(jvm_pid))
        if res.errors:
            failures.append(f"pass {i}: " + "; ".join(res.errors))
        passes.append(res)
        if tr.enabled and i > warmup:
            spans = [s for s in tr.spans if s.get("pass") == i]
            layer_rows.append(
                metrics.pipeline_layers(spans, res.extra, inputs.n_geotagged)
                if pipeline
                else metrics.ivf_layers(spans, inputs.n_queries)
            )
        return res

    control = [cpu_control_s()]
    first = one_pass(0)
    for i in range(1, warmup + 1):
        one_pass(i)
    attempted = 1 + warmup
    warm: list = []
    t_warm = time.perf_counter()
    i = warmup + 1
    while i <= warmup + MIN_WARM or time.perf_counter() - t_warm < args.seconds:
        attempted += 1
        res = one_pass(i)
        if res is not None:
            warm.append(res)
        i += 1
    reads: list[float] = []
    if pipeline and roots and os.path.isdir(roots[-1]):
        tr.pass_index = i
        for _ in range(RESUMES):
            attempted += 1
            try:
                sec, errs = workloads.resume_pass(spark, inputs, roots[-1], tr)
            except Exception as e:  # noqa: BLE001
                failures.append(f"resume: {type(e).__name__}: {e}")
                continue
            if errs:
                failures.append("resume: " + "; ".join(errs))
            reads.append(sec)
    if not pipeline and warm:
        # probes of the last pass's index, still cached: more read-side samples
        reads = [p.seconds - p.write_s for p in warm]
        tr.pass_index = i
        for _ in range(PROBES):
            attempted += 1
            try:
                sec, errs, _ = workloads.ivf_probe(spark, expect_or_state, warm[-1].extra["cents"], tr)
            except Exception as e:  # noqa: BLE001
                failures.append(f"probe: {type(e).__name__}: {e}")
                continue
            if errs:
                failures.append("probe: " + "; ".join(errs))
            reads.append(sec)
    peak = max(peak, tree_peak_rss_mb(jvm_pid))
    control.append(cpu_control_s())

    for f in failures:
        print(f"# FAILED {f}")
    pass_s = metrics.median(p.seconds for p in warm)
    summarize("first_pass_s", [first.seconds] if first else [])
    summarize("pass_s", [p.seconds for p in warm])
    summarize("write_s", [p.write_s for p in warm])
    if pipeline:
        summarize("read_s (resume)", reads)
        quality = metrics.median(p.extra["matched"] for p in passes)
        rows = inputs.n_geotagged
    else:
        summarize("read_s (probe)", reads)
        quality = metrics.median(p.extra["recall"] for p in passes)
        rows = inputs.n_corpus
    n_failed = len(failures)  # at most one entry per attempt
    print(f"# error_rate {n_failed}/{attempted} = {n_failed / attempted:.4f}")
    print(f"# cpu control (context only): {control[0]:.4f} s before, {control[1]:.4f} s after")

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": rows / pass_s if pass_s else 0.0,
            "write_s": metrics.median(p.write_s for p in warm),
            "read_s": metrics.median(reads),
            "peak_rss_mb": peak,
            "quality": quality,
        }
        units = metrics.E2E
    else:
        values = {k: 0.0 for k in metrics.LAYER}
        for k in values:
            xs = [r[k] for r in layer_rows if k in r]
            if xs:
                values[k] = metrics.median(xs)
        values["session.start_s"] = session_s
        values["trace.pass_s"] = pass_s
        values["trace.first_pass_s"] = first.seconds if first else 0.0
        if pipeline:
            values["checkpoint.resume_read_s"] = metrics.median(reads)
        units = metrics.LAYER
    return {
        "correct": not failures and first is not None and bool(warm),
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": round(float(v), 6), "unit": units[k]} for k, v in values.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="warm-pass measuring time")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.work = os.path.join(ROOT, ".poibench")
    args.run_dir = os.path.join(args.work, f"run-{os.getpid()}")
    configure_env(args.work, args.run_dir)
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import osm_poi_matchmaker_spark  # noqa: F401
        from osm_poi_matchmaker_spark import synth_sql  # noqa: F401
    except ImportError as e:
        print(f"poibench: cannot import the engine or its dependencies: {e}", file=sys.stderr)
        shutil.rmtree(args.run_dir, ignore_errors=True)
        return 2
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
