"""The table-compare workloads.

Each workload drives the package's public calls in the order
``cli._run`` makes them, wrapping every call in a tracer span named after
the layer it enters. One call of :meth:`Workload.op` is one timed
operation; :meth:`Workload.check` compares what it produced with the
golden answers and returns the mismatches (empty when correct).

Each operation writes its outputs under its own directory, one
subdirectory per layer (``fixsql``, ``reconcile``, ``incremental``,
``report``), so the runner can measure what each layer wrote.

A traced operation may be followed, outside its timed wall, by
:meth:`Workload.probe`: calls that make visible, one span per call, what
the operation ran where a span cannot reach.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from tidb_large_table_compare_spark.operators.compare import (
    CompareOptions,
    compare_tables,
)
from tidb_large_table_compare_spark.operators.fixsql import fix_sql
from tidb_large_table_compare_spark.operators.incremental import (
    apply_changes_to_digests,
    incremental_compare,
    write_digests,
)
from tidb_large_table_compare_spark.operators.reconcile import (
    apply_fixes,
    verify_repair,
)
from tidb_large_table_compare_spark.plans.discover import discover
from tidb_large_table_compare_spark.plans.pipeline import CompareJob, run_jobs
from tidb_large_table_compare_spark.plans.report import (
    render_final_report,
    report_totals,
)
from tidb_large_table_compare_spark.sources.catalog import parquet_catalog


@dataclass
class OpResult:
    answer: dict  # what check() compares with the golden answers
    rows: int  # rows of both sides verified
    tables: int  # tables given a verdict
    facts: dict = field(default_factory=dict)  # per-layer counts the op saw


def _verdict(row) -> dict:
    return {
        "structure_ok": row.structure_ok,
        "upcount": row.upcount,
        "downcount": row.downcount,
        "equivalent": row.equivalent,
    }


def _expect(golden: dict) -> dict:
    up, down = golden["upcount"], golden["downcount"]
    return {
        "structure_ok": True,
        "upcount": up,
        "downcount": down,
        "equivalent": up == 0 and down == 0,
    }


def _diff(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def count_lines(directory: Path) -> int:
    return sum(
        sum(1 for line in p.open(encoding="utf-8") if line.strip())
        for p in directory.glob("part-*")
    )


def _catalyst_ms(df) -> float:
    """Analysis + optimization + planning of ``df``'s executed query."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


class Workload:
    def __init__(self, spark, cache: Path, golden: dict, work: Path, tracer, cpus: int):
        self.spark = spark
        self.cache = cache
        self.golden = golden
        self.work = work
        self.t = tracer
        self.cpus = cpus

    def path(self, rel: str) -> str:
        return str(self.cache / rel)

    def setup(self) -> None:
        """Work done once per run, before the warm-up (timed in setup_s)."""

    def op(self, out: Path) -> OpResult:
        raise NotImplementedError

    def check(self, res: OpResult, out: Path) -> list[str]:
        raise NotImplementedError

    def probe(self) -> tuple[dict, list[str]] | None:
        """Traced-only calls run after a traced operation; returns the facts
        they saw and their mismatches with the golden answers, or None when
        the workload has none."""
        return None


class BulkSparseDrift(Workload):
    """One sync cycle on a large pair that mostly agrees: fold the master's
    change batch into its digest snapshot, verify the slave against the
    snapshot, then diagnose, export fix SQL, repair and re-verify."""

    def setup(self) -> None:
        g = self.golden
        self.snapshot = str(self.work / "snapshot")
        master = self.spark.read.parquet(self.path(g["snapshot_of"]))
        with self.t.span("incremental", "write_digests"):
            write_digests(self.spark, master, g["pk"], self.snapshot,
                          CompareOptions(row_count_hint=g["snapshot_rows"]))

    def op(self, out: Path) -> OpResult:
        g = self.golden
        facts: dict = {}
        digests = str(out / "incremental" / "digests")
        with self.t.span("sources", "read_parquet"):
            inserts = self.spark.read.parquet(self.path(g["inserts"]))
            deletes = self.spark.read.parquet(self.path(g["deletes"]))
        with self.t.span("incremental", "apply_changes_to_digests"):
            apply_changes_to_digests(self.spark, self.snapshot, digests, g["pk"],
                                     inserts=inserts, deletes=deletes)
        with self.t.span("sources", "read_parquet"):
            left = self.spark.read.parquet(self.path(g["left"]))
            right = self.spark.read.parquet(self.path(g["right"]))
        with self.t.span("incremental", "incremental_compare"):
            cmp = incremental_compare(self.spark, left, right, g["pk"], digests,
                                      table_name=g["table"])
        with self.t.span("compare", "summary"):
            summary = cmp.summary()  # runs the digest pass
        with self.t.span("compare", "collect"):
            row = summary.collect()[0]  # runs the drill-down
        if self.t.enabled:
            facts["compare.catalyst_ms"] = _catalyst_ms(summary)
        # the CLI's composed drill-down order: the diff first, so column
        # drift, fix SQL and repair share it
        cmp.diff_rows()
        with self.t.span("compare", "column_drift"):
            drift = {r.column_name: r.mismatch_rows for r in cmp.column_drift().collect()}
        with self.t.span("fixsql", "fix_sql"):
            fix_sql(cmp).coalesce(1).write.mode("overwrite").text(str(out / "fixsql"))
        repaired_path = str(out / "reconcile")
        with self.t.span("reconcile", "apply_fixes"):
            apply_fixes(left, right, g["pk"], cmp.diff_rows()).write.mode(
                "overwrite"
            ).parquet(repaired_path)
        with self.t.span("reconcile", "verify_repair"):
            repaired = self.spark.read.parquet(repaired_path)
            verify = verify_repair(cmp, repaired).collect()[0]
        facts["diff_rows"] = g["fix_statements"]
        answer = {"verdict": _verdict(row), "column_drift": drift,
                  "verify": _verdict(verify)}
        return OpResult(answer, g["left_rows"] + g["right_rows"], 1, facts)

    def check(self, res: OpResult, out: Path) -> list[str]:
        import pyarrow.parquet as pq

        g = self.golden
        a = res.answer
        repaired = {"structure_ok": True, "upcount": 0, "downcount": 0,
                    "equivalent": True}
        # the folded snapshot must count exactly the master's rows
        folded = pq.read_table(out / "incremental" / "digests", columns=["cnt"])
        return (
            _diff("verdict", a["verdict"], _expect(g))
            + _diff("folded digest rows", sum(folded.column("cnt").to_pylist()),
                    g["left_rows"])
            + _diff("column_drift", a["column_drift"], g["column_drift"])
            + _diff("fix_sql statements", count_lines(out / "fixsql"), g["fix_statements"])
            + _diff("verify_repair", a["verify"], repaired)
        )


class ManySmallTables(Workload):
    """A batch of small pairs, where per-table fixed cost dominates."""

    def op(self, out: Path) -> OpResult:
        g = self.golden
        left_dir, right_dir = self.path(g["left_dir"]), self.path(g["right_dir"])
        pks = {t["name"]: t["pk"] for t in g["tables"]}
        with self.t.span("sources", "parquet_catalog"):
            catalog = parquet_catalog(self.spark, left_dir, list(pks))
            catalog_rows = {r.table_name: r.table_rows for r in catalog.collect()}
        with self.t.span("discover", "discover"):
            worklist = [r.table_name for r in discover(catalog, row_threshold=0,
                                                       pk_type=None).collect()]
        with self.t.span("sources", "read_parquet"):
            jobs = [
                CompareJob(
                    table=f"main.{t}",
                    left=self.spark.read.parquet(f"{left_dir}/{t}.parquet"),
                    right=self.spark.read.parquet(f"{right_dir}/{t}.parquet"),
                    pk=pks[t],
                    options=CompareOptions(row_count_hint=catalog_rows[t]),
                )
                for t in worklist
            ]
        with self.t.span("pipeline", "run_jobs"):
            run = run_jobs(self.spark, jobs, parallelism=self.cpus)
        with self.t.span("report", "render_final_report"):
            lines = [r.line for r in render_final_report(run.summaries).collect()]
        with self.t.span("report", "report_totals"):
            totals = report_totals(run.summaries).collect()[0]
        (out / "report").mkdir(parents=True)
        (out / "report" / "report.txt").write_text("\n".join(lines) + "\n", encoding="utf-8")
        answer = {
            "worklist": sorted(worklist),
            "failed_tables": run.failed_tables,
            "summaries": run.summaries,
            "totals": {k: totals[k] for k in g["totals"]},
            "lines": lines,
        }
        rows = sum(t["left_rows"] + t["right_rows"] for t in g["tables"])
        return OpResult(answer, rows, len(worklist))

    def check(self, res: OpResult, out: Path) -> list[str]:
        g = self.golden
        a = res.answer
        got = {
            r.table.split(".", 1)[1]: {
                "structure_ok": r.structure_ok, "upcount": r.upcount,
                "downcount": r.downcount,
            }
            for r in a["summaries"].collect()
        }
        want = {
            t["name"]: {"structure_ok": t["structure_ok"], "upcount": t["upcount"],
                        "downcount": t["downcount"]}
            for t in g["tables"]
        }
        unreported = [n for n in want if not any(f".{n} " in line for line in a["lines"])]
        return (
            _diff("worklist", a["worklist"], sorted(want))
            + _diff("failed tables", a["failed_tables"], [])
            + _diff("per-table verdicts", got, want)
            + _diff("totals", a["totals"], g["totals"])
            + _diff("tables missing from the report", unreported, [])
        )

    def probe(self) -> tuple[dict, list[str]]:
        """Run the batch's compares one at a time, each as ``run_jobs`` runs
        it in its pool (``compare_tables`` → ``summary()`` → ``collect()``),
        plus ``column_drift`` on the heavy-drift table. Inside ``run_jobs``
        no span can split a verdict into construction, digest and
        drill-down; here each call has its own."""
        g = self.golden
        left_dir, right_dir = self.path(g["left_dir"]), self.path(g["right_dir"])
        catalyst_ms = 0.0
        problems: list[str] = []
        for t in g["tables"]:
            name = t["name"]
            with self.t.span("sources", "read_parquet"):
                left = self.spark.read.parquet(f"{left_dir}/{name}.parquet")
                right = self.spark.read.parquet(f"{right_dir}/{name}.parquet")
            with self.t.span("compare", "compare_tables"):
                cmp = compare_tables(self.spark, left, right, t["pk"],
                                     CompareOptions(row_count_hint=t["left_rows"]),
                                     f"main.{name}")
            with self.t.span("compare", "summary"):
                summary = cmp.summary()  # runs the digest pass
            with self.t.span("compare", "collect"):
                row = summary.collect()[0]  # runs the drill-down
            catalyst_ms += _catalyst_ms(summary)
            up, down = t["upcount"], t["downcount"]
            problems += _diff(f"{name} verdict", _verdict(row), {
                "structure_ok": t["structure_ok"], "upcount": up, "downcount": down,
                "equivalent": t["structure_ok"] and up == 0 and down == 0,
            })
            if t["kind"] == "heavy":
                with self.t.span("compare", "column_drift"):
                    drift = {r.column_name: r.mismatch_rows
                             for r in cmp.column_drift().collect()}
                problems += _diff(f"{name} column_drift", drift, t["column_drift"])
        facts = {"compare.catalyst_ms": catalyst_ms,
                 "diff_rows": sum(t["diff_rows"] for t in g["tables"])}
        return facts, problems


WORKLOADS = {
    "bulk_sparse_drift": BulkSparseDrift,
    "many_small_tables": ManySmallTables,
}
