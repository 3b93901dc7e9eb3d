#!/usr/bin/env python3
"""Table-compare benchmark: one seeded workload, timed for a fixed span.

Usage (from the repository root):

    python3 perfbench/run.py --workload bulk_sparse_drift --seed 1 \\
        --seconds 20 --trace 0

The run generates (or reuses) the workload's inputs for the seed, starts
Spark through ``session.get_spark`` on ``local[<cpus>]``, runs two untimed
warm-up operations, then repeats the operation until ``--seconds`` have
passed, checking every result against the golden answers. It prints each
metric with its unit and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations and reports the per-layer metrics of the
traced ones, plus the tracing overhead (traced minus untraced median).

After every operation, outside its timed wall, the run clears Spark's
cache: the engine persists a bounded-drift diff for the session, and the
next operation's identical plan would otherwise read it from memory instead
of running its own drill-down.

Everything the run writes stays under ``.perfbench-work/`` in the
repository root: the input cache, a per-run directory (Spark scratch,
operation outputs; removed at exit) and a JSON record per run with the
provenance, every operation's timing and, when traced, every span.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import inputs
import tracing

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"
DRIVER_MEM = "3g"  # fits a 15 GB host; session.py's 16g default does not
MB = 1e6
# In a fresh JVM the first operation runs 1.5-2x slower than the second,
# and later ones keep getting faster, while classes load, code is generated
# and the JIT compiles the driver's planning paths, until about the tenth
# (the third still ~1.1-1.2x, the sixth ~1.05x, on 4 cores). Two untimed
# operations belong to set-up. The timed window then fits three or four
# operations: on a shared host whole stretches of a minute or more run
# slower, and a median over more operations rides out a shorter one better
# than a median over two. A third warm-up would cost the window an operation
# within the same run length.
WARMUP_OPS = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "bytes_written_mb": "MB",
}
# layers an operation enters; the session layer is set-up only
LAYERS = ("sources", "discover", "pipeline", "compare", "fixsql", "reconcile",
          "incremental", "report")
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.catalog_s": "s",
    "sources.input_rows": "count",
    "discover.s": "s",
    "pipeline.batch_s": "s",
    "pipeline.overlap": "ratio",
    "compare.construct_s": "s",
    "compare.digest_s": "s",
    "compare.task_cpu_s": "s",
    "compare.gc_s": "s",
    "compare.drilldown_s": "s",
    "compare.shuffle_write_mb": "MB",
    "compare.shuffle_read_mb": "MB",
    "compare.spill_mb": "MB",
    "compare.drilldown_yield": "ratio",
    "compare.column_drift_s": "s",
    "compare.jobs": "count",
    "compare.tasks": "count",
    "compare.catalyst_ms": "ms",
    "compare.driver_gap_s": "s",
    "fixsql.s": "s",
    "fixsql.statements": "count",
    "fixsql.written_mb": "MB",
    "reconcile.apply_s": "s",
    "reconcile.verify_s": "s",
    "reconcile.written_mb": "MB",
    "incremental.fold_s": "s",
    "incremental.verify_s": "s",
    "incremental.jobs": "count",
    "incremental.written_mb": "MB",
    "report.s": "s",
    "driver.py_cpu_s": "s",
    "driver.codegen_classes": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "bench.self_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def _jvm_cpu_s(spark) -> float:
    """CPU seconds (user + system) the Spark JVM has used so far."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (AttributeError, OSError):
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _jvm_counters(spark) -> tuple[int, int, int]:
    """(JIT compilation ms, garbage collection ms, classes compiled by Spark's
    code generator) of the JVM so far."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return mf.getCompilationMXBean().getTotalCompilationTime(), gc, codegen.getCount()


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _provenance(spark, seed: int, cpus: int) -> dict:
    import duckdb
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    code = hashlib.sha256()
    for p in sorted((ROOT / "tidb_large_table_compare_spark").rglob("*.py")):
        code.update(p.read_bytes())
    return {
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
        "code_sha256": code.hexdigest(),
        "seed": seed,
    }


def _stop_spark(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(spans, probe, res, written: dict, statements: int,
                  cpu_s: float) -> dict:
    """Per-layer metrics of one traced operation, from its spans.

    ``probe`` is ``(spans, facts)`` of the workload's probe, or None. Where
    there is one, the per-call split of a verdict (construction, digest,
    drill-down, Catalyst, column drift) comes from it, as a mean per
    verdict; otherwise from the operation's own compare spans."""
    tr = tracing  # short name for the many span helpers below

    def by(layer, *calls, among=spans):
        return [s for s in among if s.layer == layer and (not calls or s.call in calls)]

    def wall(ss):
        return sum(s.wall for s in ss)

    def stage_sum(ss, key):
        return sum(st[key] for st in tr.stages(ss))

    pipe = by("pipeline")
    compare_all = by("compare") + pipe
    verdict = by("compare", "compare_tables", "summary", "collect") + pipe
    n_verdicts = max(res.tables, 1)
    split, facts = probe if probe else (spans, res.facts)
    summary = by("compare", "summary", among=split)
    n_split = max(len(summary), 1)
    drill = by("compare", "collect", among=split)
    drill_rows = stage_sum(drill, "input_records") + stage_sum(drill, "shuffle_read_records")
    digest_s = tr.job_union_s(summary)
    construct_s = wall(by("compare", "compare_tables", among=split)) + wall(summary) - digest_s
    m = {
        "sources.catalog_s": wall(by("sources", "parquet_catalog")),
        "sources.input_rows": stage_sum(spans, "input_records"),
        "discover.s": wall(by("discover")),
        "pipeline.batch_s": wall(pipe),
        "pipeline.overlap": (
            sum(j.end_ms - j.submit_ms for j in tr.jobs(pipe)) / 1e3 / wall(pipe)
            if pipe else 0.0
        ),
        "compare.construct_s": construct_s / n_split,
        "compare.digest_s": digest_s / n_split,
        "compare.task_cpu_s": stage_sum(compare_all, "cpu_ns") / 1e9,
        "compare.gc_s": stage_sum(compare_all, "gc_ms") / 1e3,
        "compare.drilldown_s": wall(drill) / n_split,
        "compare.shuffle_write_mb": stage_sum(compare_all, "shuffle_write_bytes") / MB,
        "compare.shuffle_read_mb": stage_sum(compare_all, "shuffle_read_bytes") / MB,
        "compare.spill_mb": stage_sum(compare_all, "spill_bytes") / MB,
        "compare.drilldown_yield": (
            facts.get("diff_rows", 0) / drill_rows if drill_rows else 0.0
        ),
        "compare.column_drift_s": wall(by("compare", "column_drift", among=split)),
        "compare.jobs": len(tr.jobs(verdict)) / n_verdicts,
        "compare.tasks": sum(j.tasks for j in tr.jobs(verdict)) / n_verdicts,
        "compare.catalyst_ms": facts.get("compare.catalyst_ms", 0.0) / n_split,
        "compare.driver_gap_s": (wall(verdict) - tr.job_union_s(verdict)) / n_verdicts,
        "fixsql.s": wall(by("fixsql")),
        "fixsql.statements": statements,
        "fixsql.written_mb": written.get("fixsql", 0) / MB,
        "reconcile.apply_s": wall(by("reconcile", "apply_fixes")),
        "reconcile.verify_s": wall(by("reconcile", "verify_repair")),
        "reconcile.written_mb": written.get("reconcile", 0) / MB,
        "incremental.fold_s": wall(by("incremental", "apply_changes_to_digests")),
        "incremental.verify_s": wall(by("incremental", "incremental_compare")),
        "incremental.jobs": len(tr.jobs(by("incremental"))),
        "incremental.written_mb": written.get("incremental", 0) / MB,
        "report.s": wall(by("report")),
        "driver.py_cpu_s": cpu_s,
    }
    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(tr.self_time_s(spans, s) for s in by(layer))
    if probe:
        m["compare.self_s"] = sum(
            tr.self_time_s(split, s) for s in by("compare", among=split)) / n_split
    m["bench.self_s"] = sum(tr.self_time_s(spans, s) for s in by("bench"))
    return m


def measure(workload: str, seed: int, seconds: float, trace: bool,
            scale: str = "full") -> dict:
    """Run one benchmark run and return its record."""
    run_dir = WORK / "runs" / f"{workload}-s{seed}-{os.getpid()}-{time.time_ns()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    cpus = int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus())))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    import tempfile

    tempfile.tempdir = None  # pick up the per-run TMPDIR
    spark = None
    try:
        from workloads import WORKLOADS, count_lines

        from tidb_large_table_compare_spark.session import get_spark

        cache = WORK / "cache"
        entry, golden = inputs.prepare(cache, workload, seed, scale)

        t_setup = time.perf_counter()
        tracer = tracing.Tracer(enabled=trace)
        with tracer.span("session", "get_spark"):
            spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        tracer.spark = spark
        session_start_s = tracer.spans[0].wall if trace else 0.0
        for d in (cache / golden["base"], entry):
            if not inputs.verify(d):
                raise RuntimeError(f"input cache entry {d} fails its content check")
        wl = WORKLOADS[workload](spark, cache, golden, run_dir, tracer, cpus)
        wl.setup()
        tracer.enabled = False

        ops: list[dict] = []
        op_spans = {}

        def run_probe():
            """The workload's probe, traced: ``((spans, facts) | None, problems)``."""
            tracer.enabled = True
            try:
                with tracer.span("bench", "probe") as probe_root:
                    got = wl.probe()
            except Exception as exc:  # noqa: BLE001 — counted against the op
                return None, [f"probe raised {type(exc).__name__}: {exc}"]
            finally:
                tracer.enabled = False
                spark.catalog.clearCache()
            if got is None:
                return None, []
            facts, problems = got
            spans = tracing.subtree(tracer.spans, probe_root)
            tracer.resolve(spans)
            return (spans, facts), problems

        def run_op(i: int, traced: bool, warmup: bool = False) -> None:
            out = run_dir / f"op-{i}"
            out.mkdir()
            tracer.enabled, tracer.op = traced, i
            steal0, total0 = _cpu_ticks()
            cpu0 = time.process_time()
            jvm0 = _jvm_cpu_s(spark)
            jit0, gc0, cg0 = _jvm_counters(spark)
            t0 = time.perf_counter()
            error, problems = None, []
            try:
                with tracer.span("bench", "op") as root:
                    res = wl.op(out)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                res, error = None, f"{type(exc).__name__}: {exc}"
            wall = time.perf_counter() - t0
            cpu_s = time.process_time() - cpu0
            jvm_cpu_s = _jvm_cpu_s(spark) - jvm0
            jit1, gc1, cg1 = _jvm_counters(spark)
            steal1, total1 = _cpu_ticks()
            tracer.enabled = False
            rec = {
                "op": i, "warmup": warmup, "traced": traced, "wall_s": wall,
                "py_cpu_s": cpu_s, "jvm_cpu_s": jvm_cpu_s,
                "jit_ms": jit1 - jit0, "gc_ms": gc1 - gc0, "codegen_classes": cg1 - cg0,
                "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            }
            if res is not None:
                written = {p.name: _dir_bytes(p) for p in out.iterdir() if p.is_dir()}
                rec.update(rows=res.rows, tables=res.tables,
                           bytes_written=sum(written.values()),
                           written=written)
                try:
                    problems = wl.check(res, out)
                except Exception as exc:  # noqa: BLE001
                    problems = [f"check raised {type(exc).__name__}: {exc}"]
            # the next operation computes its own diffs (see the module doc)
            spark.catalog.clearCache()
            if res is not None and not problems and traced:
                probe, problems = run_probe()
                if not problems:
                    spans = tracing.subtree(tracer.spans, root)
                    tracer.resolve(spans)
                    statements = (
                        count_lines(out / "fixsql") if (out / "fixsql").is_dir() else 0
                    )
                    rec["layers"] = layer_metrics(spans, probe, res, written,
                                                  statements, cpu_s)
                    rec["layers"]["driver.codegen_classes"] = rec["codegen_classes"]
                    op_spans[i] = spans + (probe[0] if probe else [])
            if problems:
                error = "; ".join(problems)
            rec["error"] = error
            ops.append(rec)
            shutil.rmtree(out, ignore_errors=True)

        for i in range(WARMUP_OPS):
            run_op(i, traced=False, warmup=True)
        setup_s = time.perf_counter() - t_setup
        t_timed = time.perf_counter()
        # a traced run alternates traced and untraced ops and needs at least
        # one of each
        n, least = 0, 2 if trace else 1
        while n < least or time.perf_counter() - t_timed < seconds:
            run_op(WARMUP_OPS + n, traced=trace and n % 2 == 0)
            n += 1
        timed_phase_s = time.perf_counter() - t_timed
        provenance = _provenance(spark, seed, cpus)
        _stop_spark(spark)
        spark = None
        peak_rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss * 1024 / MB
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    timed = [o for o in ops if not o["warmup"]]
    good = [o for o in timed if o["error"] is None]
    failed = sum(o["error"] is not None for o in ops)
    untraced = [o for o in good if not o["traced"]]
    end_to_end = {
        "setup_s": setup_s,
        "op_s_p50": _median([o["wall_s"] for o in untraced]),
        "bytes_written_mb": _median([o["bytes_written"] / MB for o in untraced]),
    }
    # what the timed phase verified per second; recorded, not bounded: with
    # a few operations per run it restates op_s_p50
    throughput = {
        "rows_per_s": sum(o["rows"] for o in good) / timed_phase_s,
        "tables_per_s": sum(o["tables"] for o in good) / timed_phase_s,
    }
    per_layer = {}
    if trace:
        traced = [o for o in good if o["traced"]]
        for name in PER_LAYER_UNITS:
            per_layer[name] = _median([o["layers"][name] for o in traced if name in o["layers"]])
        per_layer["session.start_s"] = session_start_s
        per_layer["jvm.peak_rss_mb"] = peak_rss_mb
        per_layer["trace.overhead_s"] = (
            _median([o["wall_s"] for o in traced]) - end_to_end["op_s_p50"]
        )
    return {
        "workload": workload,
        "trace": trace,
        "scale": scale,
        "seconds": seconds,
        "provenance": provenance,
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "error_rate": failed / len(ops),
        "op_samples": len(untraced),
        "peak_rss_mb": peak_rss_mb,
        "end_to_end": end_to_end,
        "throughput": throughput,
        "per_layer": per_layer,
        "ops": ops,
        "spans": [s.record() for ss in op_spans.values() for s in ss],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # fail fast, before writing anything, when the engine is not here
    sys.path.insert(0, str(ROOT))
    try:
        import tidb_large_table_compare_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package: {exc}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rec = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    path = records / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    path.write_text(json.dumps(rec, indent=1, default=str))

    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    values = rec["per_layer"] if args.trace else rec["end_to_end"]
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    for o in rec["ops"]:
        if o["error"]:
            print(f"op {o['op']} failed: {o['error']}")
    print(f"record: {path}")
    print(f"cpus={rec['provenance']['cpus']} ops={rec['op_samples']} "
          f"attempted={rec['attempted']} failed={rec['failed']} "
          f"error_rate={rec['error_rate']:.3f}")
    for k, v in rec["throughput"].items():
        print(f"{k} = {v:.6g} 1/s (timed phase, not bounded)")
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
