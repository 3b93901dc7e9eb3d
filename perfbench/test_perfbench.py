"""Self-tests of the benchmark at tiny scale.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator tests need only DuckDB; the run tests start Spark.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import inputs  # noqa: E402


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return tmp_path_factory.mktemp("cache")


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_same_seed_gives_same_inputs(workload, cache, tmp_path):
    entry, golden = inputs.prepare(cache, workload, 5, "tiny")
    again, golden_again = inputs.prepare(tmp_path, workload, 5, "tiny")
    manifest = json.loads((entry / "MANIFEST.json").read_text())
    assert manifest == json.loads((again / "MANIFEST.json").read_text())
    assert golden == golden_again
    other, _ = inputs.prepare(cache, workload, 6, "tiny")
    assert json.loads((other / "MANIFEST.json").read_text()) != manifest


def test_tampered_cache_entry_is_rebuilt(cache):
    entry, golden = inputs.prepare(cache, "bulk_sparse_drift", 7, "tiny")
    victim = entry / "slave.parquet"
    data = bytearray(victim.read_bytes())
    data[len(data) // 2] ^= 0xFF
    victim.write_bytes(bytes(data))
    assert not inputs.verify(entry)
    rebuilt, golden_again = inputs.prepare(cache, "bulk_sparse_drift", 7, "tiny")
    assert inputs.verify(rebuilt) and golden_again == golden


def _duckdb_diff(left: str, right: str, pk: list[str]) -> dict:
    """Row classes of a keyed compare of two parquet files, by DuckDB."""
    import duckdb

    con = duckdb.connect()
    lcols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{left}'").fetchall()]
    rcols = {r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{right}'").fetchall()}
    shared = [c for c in lcols if c in rcols and c not in pk]
    on = " AND ".join(f"l.{c} = r.{c}" for c in pk)
    changed = " OR ".join(f"l.{c} IS DISTINCT FROM r.{c}" for c in shared)
    row = con.execute(
        f"SELECT count(*) FILTER (WHERE r.{pk[0]} IS NULL), "
        f"count(*) FILTER (WHERE l.{pk[0]} IS NULL), "
        f"count(*) FILTER (WHERE l.{pk[0]} IS NOT NULL AND r.{pk[0]} IS NOT NULL "
        f"AND ({changed})) "
        f"FROM '{left}' l FULL OUTER JOIN '{right}' r ON {on}"
    ).fetchone()
    missing, extra, modified = row
    drift = {}
    for c in shared:
        drift[c] = con.execute(
            f"SELECT count(*) FROM '{left}' l JOIN '{right}' r ON {on} "
            f"WHERE l.{c} IS DISTINCT FROM r.{c}"
        ).fetchone()[0]
    return {"upcount": missing + modified, "downcount": extra + modified,
            "fix_statements": missing + modified + extra, "column_drift": drift}


def test_golden_counts_match_an_independent_diff(cache):
    _, g = inputs.prepare(cache, "bulk_sparse_drift", 5, "tiny")
    got = _duckdb_diff(str(cache / g["left"]), str(cache / g["right"]), g["pk"])
    assert got == {k: g[k] for k in got}
    _, g = inputs.prepare(cache, "many_small_tables", 5, "tiny")
    kinds = {t["kind"] for t in g["tables"]}
    assert {"identical", "sparse", "heavy", "structure", "keyless"} <= kinds
    for t in g["tables"]:
        shape_pk = dict(inputs.SMALL_SHAPES)[t["name"].split("_", 1)[1]]
        got = _duckdb_diff(str(cache / g["left_dir"] / f"{t['name']}.parquet"),
                           str(cache / g["right_dir"] / f"{t['name']}.parquet"),
                           shape_pk)
        assert (got["upcount"], got["downcount"]) == (t["upcount"], t["downcount"]), t


def test_folded_change_batch_matches_the_new_master(cache):
    import duckdb

    _, g = inputs.prepare(cache, "bulk_sparse_drift", 5, "tiny")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW folded AS (SELECT * FROM '{cache / g['snapshot_of']}' "
        f"EXCEPT ALL SELECT * FROM '{cache / g['deletes']}') "
        f"UNION ALL SELECT * FROM '{cache / g['inserts']}'"
    )
    con.execute(f"CREATE VIEW master AS SELECT * FROM '{cache / g['left']}'")
    for a, b in (("folded", "master"), ("master", "folded")):
        assert con.execute(f"SELECT count(*) FROM (SELECT * FROM {a} "
                           f"EXCEPT ALL SELECT * FROM {b})").fetchone()[0] == 0
    assert con.execute("SELECT count(*) FROM master").fetchone()[0] == g["left_rows"]


# -- runs (start Spark) ------------------------------------------------------


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_tiny_run_is_correct(workload):
    import run

    rec = run.measure(workload, 3, 1, trace=True, scale="tiny")
    assert rec["correct"] and rec["failed"] == 0, [o["error"] for o in rec["ops"]]
    assert rec["attempted"] >= run.WARMUP_OPS + 2  # one traced, one untraced
    assert all(v > 0 for k, v in rec["end_to_end"].items()), rec["end_to_end"]
    assert set(rec["per_layer"]) == set(run.PER_LAYER_UNITS)
    # the per-call split of a verdict is measured on every workload, on
    # many_small_tables by the probe
    split = ("compare.construct_s", "compare.digest_s", "compare.drilldown_s",
             "compare.catalyst_ms", "compare.column_drift_s", "compare.self_s")
    assert all(rec["per_layer"][k] > 0 for k in split), rec["per_layer"]


def test_every_op_starts_with_an_empty_cache(monkeypatch):
    import run
    import workloads

    real = workloads.BulkSparseDrift.op
    seen = []  # (cache empty before the op, cache empty after it)

    def op(self, out):
        cache = self.spark._jsparkSession.sharedState().cacheManager()
        before = cache.isEmpty()
        res = real(self, out)
        seen.append((before, cache.isEmpty()))
        return res

    monkeypatch.setattr(workloads.BulkSparseDrift, "op", op)
    rec = run.measure("bulk_sparse_drift", 3, 1, trace=False, scale="tiny")
    assert rec["correct"] and len(seen) >= run.WARMUP_OPS + 1
    # each op persists its diff, and the next one does not see it
    assert seen == [(True, False)] * len(seen)


def test_wrong_result_counts_as_failed_op(monkeypatch):
    import run

    real = inputs.prepare

    def wrong_golden(*args, **kwargs):
        entry, golden = real(*args, **kwargs)
        return entry, {**golden, "upcount": golden["upcount"] + 1}

    monkeypatch.setattr(inputs, "prepare", wrong_golden)
    rec = run.measure("bulk_sparse_drift", 3, 1, trace=False, scale="tiny")
    assert not rec["correct"]
    assert rec["failed"] == rec["attempted"] >= run.WARMUP_OPS + 1
    assert all("verdict" in o["error"] for o in rec["ops"])
    assert rec["end_to_end"]["op_s_p50"] == 0.0  # failed ops are left out
