"""Report aggregation — operators A16-A25 (SURVEY.md §2.A).

Input: a ``summaries`` DataFrame of per-table, per-run results
``(run_ts, table, structure_ok, upcount, downcount)`` — the structured analog
of the parsed ``summary.txt`` fields (``step3_run_syncdiff.sh:204-229``).

The pipeline reproduces the reference's final report exactly:
- keep only rows from the latest run timestamp (A16, ``step3:169-172``)
- guarded casts: non-numeric counts drop out of sums (A20, ``step3:223-226``)
- structure-ok vs structure-diff tallies (A21, ``step3:206-209``)
- TOTAL_UPCOUNT / TOTAL_DOWNCOUNT sums (A22, ``step3:224-227``)
- scaled "N M 行" volume formatting (A23, ``step3:241``)
- fixed-width rendered table (A24, ``step3:190-234``)

Rendering runs on the driver. The report is a terminal/tee artifact in the
reference (``step3:175``) and driver-sized by definition: one summary row per
compared table per run, the same budget as the drill-down IN-list cap. Each
public function collects one Spark projection of ``summaries`` (the cell
casts and the guarded counts stay Spark expressions), then filters, totals,
pads and orders the rows in Python and returns them through
``functions/frames.py::local_frame``. Over a local input (``run_jobs``'
summaries) that collect runs no Spark job; over a parsed-text input it runs
the input's own plan once. Output past Arrow's ``localRelationThreshold``
(48 MB, far beyond any report) still works: Spark falls back to an RDD of
the same rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import window as W

from tidb_large_table_compare_spark.functions.frames import local_frame

EQUIVALENT_MARKER = (
    "The table structure and data in following tables are equivalent"
)  # step3_run_syncdiff.sh:204

# Reference strings, byte-for-byte (step3_run_syncdiff.sh:176-244): the
# STRUCTURE column prints 一致/差异, the header centers TABLE, and the volume
# line counts TOTAL_UPCOUNT only, formatted "N M 行".
REPORT_BORDER = "+-------------------+-----------+---------+-----------+"
REPORT_HEADER = "|       TABLE       | STRUCTURE | UPCOUNT | DOWNCOUNT |"
STRUCTURE_OK_LABEL = "一致"  # step3_run_syncdiff.sh:206
STRUCTURE_DIFF_LABEL = "差异"  # step3_run_syncdiff.sh:204
REPORT_BANNER = "═" * 60  # step3_run_syncdiff.sh:176
REPORT_TITLE = "                    最终比对报告                                    "
NO_SUMMARY_LINE = "没有找到 summary.txt 文件"  # step3_run_syncdiff.sh:182

_TOTALS_SCHEMA = (
    "tables_checked bigint not null, structure_ok_cnt bigint, "
    "structure_diff_cnt bigint, total_upcount bigint not null, "
    "total_downcount bigint not null, volume_label string not null"
)


def _pad_cell(text: str | None, width: int, align: str = "left") -> str:
    """Pad a cell the way bash ``printf %Ns`` does — by BYTES, not characters.

    ``printf "%-9s" 一致`` emits the 6 UTF-8 bytes plus 3 spaces (Python's
    and Java's formatters would pad the 2 *characters* to 9 and break
    bit-parity, step3_run_syncdiff.sh:221). Overlong values pass through
    unpadded, matching printf, and a NULL cell renders as all-spaces like
    printf's empty string (A20: a summary whose count failed the numeric
    guard still renders its row).
    """
    s = text or ""
    pad = " " * max(0, width - len(s.encode("utf-8")))
    return pad + s if align == "right" else s + pad


def report_row_line(
    table: str | None, status: str, up: str | None, down: str | None
) -> str:
    """One rendered body row: ``| %-17s | %-9s | %7s | %9s |`` in printf-byte
    semantics (step3_run_syncdiff.sh:221)."""
    return (
        f"| {_pad_cell(table, 17)} | {_pad_cell(status, 9)} | "
        f"{_pad_cell(up, 7, 'right')} | {_pad_cell(down, 9, 'right')} |"
    )


def latest_run(summaries: DataFrame) -> DataFrame:
    """A16: rows whose run_ts equals the global max run_ts.

    The window has no partition key on purpose — it reduces to a scalar max
    broadcast by Spark, mirroring ``sort -r | head -1`` then filter.
    """
    w = W.Window.partitionBy()
    return summaries.withColumn("__max_ts", F.max("run_ts").over(w)).filter(
        F.col("run_ts") == F.col("__max_ts")
    ).drop("__max_ts")


def _latest_rows(summaries: DataFrame) -> list[Row]:
    """A16/A20: the latest run's rows from ONE collect, body-ordered.

    The projection keeps the Spark-side semantics the rendered text depends
    on: cells are Spark's ``cast("string")`` of whatever types the counts
    have, and the summed counts are the A20 guard — a value that does not
    parse as a long is NULL and drops out of the sums. The latest-run filter
    is ``sort -r | head -1`` on the driver (NULL run_ts never matches, as
    Spark's max/equality drop it). A NULL table renders with a blank cell
    and sorts as the empty name, inside the table body.
    """
    rows = summaries.select(
        "run_ts",
        F.col("table").cast("string").alias("table"),
        F.when(F.col("structure_ok"), True).otherwise(False).alias("ok"),
        F.col("upcount").cast("string").alias("up_cell"),
        F.col("downcount").cast("string").alias("down_cell"),
        F.col("upcount").cast("string").try_cast("long").alias("up"),
        F.col("downcount").cast("string").try_cast("long").alias("down"),
    ).collect()
    latest = max((r.run_ts for r in rows if r.run_ts is not None), default=None)
    # Python orders str by code point, which is Spark's UTF-8 byte order
    return sorted(
        (r for r in rows if r.run_ts is not None and r.run_ts == latest),
        key=lambda r: r.table or "",
    )


def _totals(rows: list[Row]) -> tuple:
    """A21-A23 as one ``_TOTALS_SCHEMA`` tuple. Over zero rows the tallies
    are SQL's NULL sums and the count totals coalesce to 0."""
    ok = sum(r.ok for r in rows) if rows else None
    diff = len(rows) - ok if rows else None
    up = sum(r.up for r in rows if r.up is not None)
    down = sum(r.down for r in rows if r.down is not None)
    # "总数据量: $((TOTAL_UPCOUNT / 1000000))M 行" — upcount only, not
    # up+down (step3_run_syncdiff.sh:241); double division like SQL's "/"
    return len(rows), ok, diff, up, down, f"{math.floor(up / 1e6)}M 行"


def _body_lines(rows: list[Row]) -> list[str]:
    return [
        report_row_line(
            r.table,
            STRUCTURE_OK_LABEL if r.ok else STRUCTURE_DIFF_LABEL,
            r.up_cell,
            r.down_cell,
        )
        for r in rows
    ]


def _summary_lines(rows: list[Row]) -> list[str]:
    """The 汇总统计 tail lines; a NULL tally prints as ``null``, as
    ``format_string`` did."""
    n, ok, diff, _, _, volume = _totals(rows)
    lines = [
        f"[INFO] 汇总统计: 共 {n} 张表",
        f"  结构一致: {'null' if ok is None else ok} 张",
    ]
    if diff:
        lines.append(f"  结构差异: {diff} 张")
    return lines + [f"  总数据量: {volume}"]


def _lines_frame(
    summaries: DataFrame, lines: list[str], schema: str = "line string"
) -> DataFrame:
    return local_frame(summaries.sparkSession, [(line,) for line in lines], schema)


def report_totals(summaries: DataFrame) -> DataFrame:
    """A20-A23: one-row totals over the latest run."""
    row = _totals(_latest_rows(summaries))
    return local_frame(summaries.sparkSession, [row], _TOTALS_SCHEMA)


def render_report(summaries: DataFrame) -> DataFrame:
    """A24/A25: fixed-width ASCII table lines, one row per table, sorted.

    Returns a single-column ``line`` DataFrame (text-sink ready) shaped like
    the reference's final report (``step3_run_syncdiff.sh:190-234``).
    """
    body = _body_lines(_latest_rows(summaries))
    lines = [REPORT_BORDER, REPORT_HEADER, REPORT_BORDER, *body, REPORT_BORDER]
    return _lines_frame(summaries, lines)


def render_summary_block(summaries: DataFrame) -> DataFrame:
    """A21-A23 rendered as the reference's 汇总统计 tail block
    (``step3_run_syncdiff.sh:237-243``; the ANSI color escapes around
    ``[INFO]`` and the diff count are omitted — they are terminal dressing,
    not report content).

    The 结构差异 line appears only when the diff count is positive, exactly
    like the reference's ``if [ "$STRUCTURE_DIFF" -gt 0 ]`` guard.
    """
    lines = _summary_lines(_latest_rows(summaries))
    return _lines_frame(summaries, lines, "line string not null")


def render_final_report(summaries: DataFrame) -> DataFrame:
    """The reference's complete tee block (``step3_run_syncdiff.sh:175-244``,
    ANSI colors omitted): banner + title, the found-files line, the rendered
    table, and the 汇总统计 tail — or the no-summaries message when there is
    nothing to report. One ``line`` column, sink-ready.

    The found-files count is the number of latest-run summary rows (one per
    parsed summary.txt in the text-parser path, one per compared table
    natively) — ``SUMMARY_FILES`` is already latest-run-filtered when
    ``SUMMARY_COUNT=$(... | wc -l)`` runs (step3:169-172, 185).
    """
    rows = _latest_rows(summaries)
    lines = [REPORT_BANNER, REPORT_TITLE, REPORT_BANNER, ""]
    if not rows:
        return _lines_frame(summaries, lines + [NO_SUMMARY_LINE])
    lines += [
        f"[INFO] 找到 {len(rows)} 个 summary.txt 文件",
        "",
        REPORT_BORDER,
        REPORT_HEADER,
        REPORT_BORDER,
        *_body_lines(rows),
        REPORT_BORDER,
        "",
        *_summary_lines(rows),
        "",
    ]
    return _lines_frame(summaries, lines)
