"""Seeded benchmark inputs and their golden answers, built with DuckDB.

Every table derives from TPC-H sf0.1, generated in-process by DuckDB's
built-in ``dbgen``, so the benchmark reads nothing outside its own work
directory. Generation has two levels:

- a seed-independent *base* (the TPC-H tables plus the snapshot state of
  the large master), built once per scale;
- per ``(workload, seed)`` inputs: the change batch and the master it
  produces, the drifted slave, the small table cuts, plus ``golden.json``
  with the answers the engine must reproduce.

Golden answers follow from construction, never from running the engine:
the generator picks which rows to modify, delete and insert, and every
modification changes the value it touches (``+1``, ``|| '~'``, ``+1 day``),
so a modified row always differs. ``upcount`` is modified + deleted rows,
``downcount`` is modified + inserted rows, and fix SQL has one statement per
differing row.

Both levels are cached under the work directory, keyed by a hash of this
file so that a changed generator never reuses old inputs, and checked
against a manifest of SHA-256 content hashes before reuse. A cache entry is built in
a private temporary directory and renamed into place, so concurrent runs
never see a half-written entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from pathlib import Path

WORKLOADS = ("bulk_sparse_drift", "many_small_tables")

# Row counts per scale. "full" is what the benchmark measures; "tiny" keeps
# the self-tests fast while exercising the same code.
SCALES = {
    "full": {
        "bulk_rows": 300_000,
        "bulk_changes": (100, 100, 100),  # change batch: updated, deleted, inserted
        # slave drift: modified, deleted, inserted. At most 8 of the 61
        # digest buckets drift, so the drill-down always takes the IN-list
        # path and verify_repair always its bucket-scoped path.
        "bulk_drift": (4, 2, 2),
        "small_tables": 6,
        "small_rows": (1_000, 20_000),
    },
    "tiny": {
        "bulk_rows": 20_000,
        "bulk_changes": (8, 8, 8),
        "bulk_drift": (3, 2, 2),
        "small_tables": 8,
        "small_rows": (200, 1_000),
    },
}
# Drift of the heavy-drift small tables, as fractions of their rows.
_HEAVY_DRIFT = (0.09, 0.005, 0.005)

# Offset for the first key column of inserted rows: above every TPC-H key.
_INSERT_KEY_OFFSET = 10_000_000_000
_TPCH_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "partsupp")

# Shapes cut for many_small_tables: (source, primary key).
SMALL_SHAPES = (
    ("orders", ["o_orderkey"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("customer", ["c_custkey"]),
    ("part", ["p_partkey"]),
    ("partsupp", ["ps_partkey", "ps_suppkey"]),
    ("supplier", ["s_suppkey"]),
)
# Kind of drift of each small table, by position. It is fixed, so that every
# seed does the same work; the seed draws only the cuts and the drifted rows.
# The heavy-drift kind sits on the largest cut (partsupp, 16.2k rows at full
# scale).
SMALL_KINDS = ("identical", "sparse", "keyless", "structure", "heavy",
               "identical", "sparse", "sparse")

# Columns of the lineitem-derived wide table: 12 columns plus the surrogate
# key ``id``.
_LINEITEM_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
    "l_shipdate, l_shipmode"
)
_BULK_MUTABLE = ["l_quantity", "l_extendedprice", "l_shipmode", "l_shipdate"]

# Cache entries carry the generator's version: a hash of this file.
GENERATOR = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]

# Cache entries unused for this long are evicted, which bounds the disk a
# long series of seeds can take.
_EVICT_AFTER_S = 600


def sha256_file(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _manifest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): sha256_file(p)
        for p in sorted(root.rglob("*"))
        if p.is_file() and p.name != "MANIFEST.json"
    }


def verify(root: Path) -> bool:
    """True when ``root`` holds a complete entry whose files match its
    manifest byte for byte."""
    mf = root / "MANIFEST.json"
    if not mf.is_file():
        return False
    try:
        expected = json.loads(mf.read_text())
    except ValueError:
        return False
    return expected == _manifest(root)


def _build_atomically(final: Path, build) -> Path:
    """Return ``final`` after building it with ``build(tmp_dir)`` unless a
    verified entry already exists. The build happens in a private directory
    renamed into place; when a concurrent run wins the rename, its entry is kept."""
    if verify(final):
        os.utime(final)
        return final
    final.parent.mkdir(parents=True, exist_ok=True)
    tmp = final.parent / f".tmp-{final.name}-{os.getpid()}-{time.monotonic_ns()}"
    tmp.mkdir()
    try:
        build(tmp)
        (tmp / "MANIFEST.json").write_text(json.dumps(_manifest(tmp), indent=1))
        if final.exists():
            shutil.rmtree(final, ignore_errors=True)
        try:
            os.rename(tmp, final)
        except OSError:
            if not verify(final):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _evict_stale(cache: Path, keep: Path) -> None:
    now = time.time()
    for entry in cache.iterdir():
        if entry == keep or entry.name.startswith("base-"):
            continue
        try:
            if now - entry.stat().st_mtime > _EVICT_AFTER_S:
                shutil.rmtree(entry, ignore_errors=True)
        except FileNotFoundError:
            pass


# -- DuckDB helpers -----------------------------------------------------------


def _connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET preserve_insertion_order TO true")
    return con


def _copy(con, sql: str, out: Path) -> None:
    out.parent.mkdir(parents=True, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{out}' (FORMAT parquet)")


def _columns(con, view: str) -> list[tuple[str, str]]:
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE {view}").fetchall()]


def _changed(col: str, dtype: str) -> str:
    """An expression that always differs from ``col`` and keeps its type."""
    # integers and decimals gain 1, dates a day
    expr = f"{col} || '~'" if dtype.startswith("VARCHAR") else f"{col} + 1"
    return f"CAST({expr} AS {dtype})"


def _register_keys(con, name: str, pk: list[str], rows: list[tuple], extra=()):
    """Register ``rows`` (pk values, then ``extra`` ints) as DuckDB view
    ``name``."""
    import pyarrow as pa

    cols = list(pk) + list(extra)
    data = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
    con.register(name, pa.table({c: pa.array(v, pa.int64()) for c, v in data.items()}))


def _drifted_sql(con, src: str, pk: list[str], mutable: list[str],
                 mods: str | None, dels: str | None, ins: str | None,
                 extra_col: bool = False, key_offset: int = _INSERT_KEY_OFFSET) -> str:
    """SELECT of ``src`` with modified rows (view ``mods``: pk + ``mask``,
    bit i set ⇒ ``mutable[i]`` changed), deleted rows (``dels``: pk) and
    inserted rows (``ins``: pk of the source row copied under a new key)."""
    types = dict(_columns(con, src))
    cols = list(types)
    on = " AND ".join(f"s.{c} = m.{c}" for c in pk)
    exprs = []
    for c in cols:
        if mods is not None and c in mutable:
            bit = mutable.index(c)
            exprs.append(
                f"CASE WHEN (m.mask >> {bit}) & 1 = 1 "
                f"THEN {_changed('s.' + c, types[c])} ELSE s.{c} END AS {c}"
            )
        else:
            exprs.append(f"s.{c}")
    if extra_col:
        exprs.append("CAST(1 AS BIGINT) AS etl_batch")
    sql = f"SELECT {', '.join(exprs)} FROM {src} s"
    if mods is not None:
        sql += f" LEFT JOIN {mods} m ON {on}"
    if dels is not None:
        sql += f" ANTI JOIN {dels} d ON " + " AND ".join(
            f"s.{c} = d.{c}" for c in pk
        )
    if ins is not None:
        new = [
            f"s.{c} + {key_offset} AS {c}" if c == pk[0] else f"s.{c}"
            for c in cols
        ]
        if extra_col:
            new.append("CAST(1 AS BIGINT) AS etl_batch")
        sql += (
            f" UNION ALL SELECT {', '.join(new)} FROM {src} s SEMI JOIN {ins} i ON "
            + " AND ".join(f"s.{c} = i.{c}" for c in pk)
        )
    return f"SELECT * FROM ({sql}) ORDER BY {', '.join(pk)}"


def _pick_drift(rng: random.Random, keys: list[tuple], n_mod: int, n_del: int,
                n_ins: int, n_mutable: int, heavy: bool = False):
    """Disjoint modified / deleted / insert-source key samples and a
    per-modified-row column mask."""
    picked = [k if isinstance(k, tuple) else (k,)
              for k in rng.sample(keys, n_mod + n_del + n_ins)]
    mods = picked[:n_mod]
    dels = picked[n_mod:n_mod + n_del]
    ins = picked[n_mod + n_del:]
    masks = []
    for _ in mods:
        if heavy:  # several columns per drifted row; the first always
            mask = 1 | (rng.getrandbits(n_mutable - 1) << 1)
        else:
            mask = 1 << rng.randrange(n_mutable)
        masks.append(mask)
    return mods, masks, dels, ins


def _column_drift(mutable: list[str], masks: list[int]) -> dict[str, int]:
    return {c: sum(1 for m in masks if m >> i & 1) for i, c in enumerate(mutable)}


# -- base ---------------------------------------------------------------------


def _build_base(tmp: Path, scale: dict) -> None:
    con = _connect()
    con.execute("CALL dbgen(sf=0.1)")
    for t in _TPCH_TABLES:
        _copy(con, f"SELECT * FROM {t}", tmp / "tpch" / f"{t}.parquet")
    con.execute(
        "CREATE TABLE li AS SELECT row_number() OVER "
        f"(ORDER BY l_orderkey, l_linenumber) AS rn, {_LINEITEM_COLS} FROM lineitem"
    )
    n_li = con.execute("SELECT count(*) FROM li").fetchone()[0]

    def wide(n: int) -> str:
        # replicas shift l_orderkey so business keys stay distinct
        reps = -(-n // n_li)
        return (
            "SELECT CAST(k * {m} + rn AS BIGINT) AS id, "
            "l_orderkey + k * 1000000000 AS l_orderkey, "
            "l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
            "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_shipmode "
            "FROM li, range({reps}) r(k) WHERE k * {m} + rn <= {n} ORDER BY id"
        ).format(m=n_li, reps=reps, n=n)

    _copy(con, wide(scale["bulk_rows"]), tmp / "bulk_snapshot.parquet")
    con.close()


def base_dir(cache: Path, scale_name: str) -> Path:
    scale = SCALES[scale_name]
    return _build_atomically(
        cache / f"base-{scale_name}-{GENERATOR}", lambda tmp: _build_base(tmp, scale)
    )


# -- per-workload inputs ------------------------------------------------------


def _gen_bulk(con, base: Path, tmp: Path, me: str, rng: random.Random,
              scale: dict) -> dict:
    pk, mutable = ["id"], _BULK_MUTABLE
    con.execute(f"CREATE VIEW src AS SELECT * FROM '{base}/bulk_snapshot.parquet'")
    # a change batch moves the master on from the snapshot's state ...
    n_snapshot = scale["bulk_rows"]
    upd, masks, dels, ins = _pick_drift(rng, range(1, n_snapshot + 1),
                                        *scale["bulk_changes"], len(mutable))
    _register_keys(con, "upd", pk, [k + (m,) for k, m in zip(upd, masks)],
                   extra=("mask",))
    _register_keys(con, "dels", pk, dels)
    _register_keys(con, "ins", pk, ins)
    con.execute("CREATE TABLE master AS "
                + _drifted_sql(con, "src", pk, mutable, "upd", "dels", "ins"))
    _copy(con, "SELECT * FROM master", tmp / "master.parquet")
    # ... and arrives as a feed: new rows and new versions in, removed rows
    # and old versions out
    _copy(con, "SELECT * FROM master SEMI JOIN (SELECT id FROM upd UNION ALL "
               f"SELECT id + {_INSERT_KEY_OFFSET} FROM ins) USING (id) ORDER BY id",
          tmp / "inserts.parquet")
    _copy(con, "SELECT * FROM src SEMI JOIN (SELECT id FROM upd UNION ALL "
               "SELECT id FROM dels) USING (id) ORDER BY id",
          tmp / "deletes.parquet")
    # the slave missed a few rows of the new master state
    keys = [tuple(r) for r in con.execute("SELECT id FROM master").fetchall()]
    n = len(keys)
    n_mod, n_del, n_ins = scale["bulk_drift"]
    mods, masks, dels, ins = _pick_drift(rng, keys, n_mod, n_del, n_ins, len(mutable))
    _register_keys(con, "mods", pk, [k + (m,) for k, m in zip(mods, masks)],
                   extra=("mask",))
    _register_keys(con, "dels", pk, dels)
    _register_keys(con, "ins", pk, ins)
    _copy(con, _drifted_sql(con, "master", pk, mutable, "mods", "dels", "ins",
                            key_offset=2 * _INSERT_KEY_OFFSET),
          tmp / "slave.parquet")
    drift = _column_drift(mutable, masks)
    non_pk = [c for c, _ in _columns(con, "master") if c not in pk]
    return {
        "table": "lineitem_replica",
        "pk": pk,
        "snapshot_of": f"{base.name}/bulk_snapshot.parquet",
        "snapshot_rows": n_snapshot,
        "inserts": f"{me}/inserts.parquet",
        "deletes": f"{me}/deletes.parquet",
        "left": f"{me}/master.parquet",
        "right": f"{me}/slave.parquet",
        "left_rows": n,
        "right_rows": n - n_del + n_ins,
        "upcount": n_mod + n_del,
        "downcount": n_mod + n_ins,
        "fix_statements": n_mod + n_del + n_ins,
        "column_drift": {c: drift.get(c, 0) for c in non_pk},
    }


def _gen_small(con, base: Path, tmp: Path, me: str, rng: random.Random,
               scale: dict) -> dict:
    n_tables = scale["small_tables"]
    lo, hi = scale["small_rows"]
    kinds = SMALL_KINDS[:n_tables]
    totals = {}
    for source, pk in SMALL_SHAPES[:n_tables]:
        con.execute(
            f"CREATE TABLE full_{source} AS SELECT row_number() OVER "
            f"(ORDER BY {', '.join(pk)}) AS __rn, * "
            f"FROM '{base}/tpch/{source}.parquet'"
        )
        totals[source] = con.execute(f"SELECT count(*) FROM full_{source}").fetchone()[0]
    tables = []
    for i, kind in enumerate(kinds):
        source, pk = SMALL_SHAPES[i % len(SMALL_SHAPES)]
        name = f"t{i:02d}_{source}"
        total = totals[source]
        # sizes are fixed per table so that every seed verifies as many rows
        size = min(lo + (hi - lo) * i // max(n_tables - 1, 1), total)
        offset = rng.randint(0, total - size)
        order = ", ".join(pk)
        con.execute(f"CREATE OR REPLACE TABLE src AS SELECT * EXCLUDE (__rn) "
                    f"FROM full_{source} WHERE __rn > {offset} "
                    f"AND __rn <= {offset + size} ORDER BY {order}")
        _copy(con, "SELECT * FROM src", tmp / "left" / f"{name}.parquet")
        mutable = [c for c, _ in _columns(con, "src") if c not in pk]
        n_mod = n_del = n_ins = 0
        masks = []
        if kind in ("sparse", "keyless", "heavy"):
            if kind == "heavy":
                n_mod, n_del, n_ins = (max(1, round(size * f)) for f in _HEAVY_DRIFT)
            else:
                n_mod, n_del, n_ins = rng.randint(1, 8), rng.randint(0, 4), rng.randint(0, 4)
            keys = [tuple(r) for r in con.execute(f"SELECT {order} FROM src").fetchall()]
            mods, masks, dels, ins = _pick_drift(rng, keys, n_mod, n_del, n_ins,
                                                 len(mutable), heavy=kind == "heavy")
            _register_keys(con, "mods", pk, [k + (m,) for k, m in zip(mods, masks)],
                           extra=("mask",))
            _register_keys(con, "dels", pk, dels)
            _register_keys(con, "ins", pk, ins)
            sql = _drifted_sql(con, "src", pk, mutable, "mods", "dels", "ins")
        else:
            sql = _drifted_sql(con, "src", pk, mutable, None, None, None,
                               extra_col=kind == "structure")
        _copy(con, sql, tmp / "right" / f"{name}.parquet")
        tables.append({
            "name": name,
            "kind": kind,
            "pk": None if kind == "keyless" else pk,
            "structure_ok": kind != "structure",
            "left_rows": size,
            "right_rows": size - n_del + n_ins,
            "upcount": n_mod + n_del,
            "downcount": n_mod + n_ins,
            # rows of the diff frame: one per differing key, or, keyless, one
            # per differing row (a modified row is an old and a new one)
            "diff_rows": (2 * n_mod if kind == "keyless" else n_mod) + n_del + n_ins,
            "column_drift": _column_drift(mutable, masks),
        })
    return {
        "left_dir": f"{me}/left",
        "right_dir": f"{me}/right",
        "tables": tables,
        "totals": {
            "tables_checked": n_tables,
            "structure_ok_cnt": sum(t["structure_ok"] for t in tables),
            "structure_diff_cnt": sum(not t["structure_ok"] for t in tables),
            "total_upcount": sum(t["upcount"] for t in tables),
            "total_downcount": sum(t["downcount"] for t in tables),
        },
    }


_GENERATORS = {
    "bulk_sparse_drift": _gen_bulk,
    "many_small_tables": _gen_small,
}


def prepare(cache: Path, workload: str, seed: int, scale_name: str = "full") -> tuple[Path, dict]:
    """Build (or reuse, after a content-hash check) the inputs of
    ``workload`` for ``seed``. Returns the input directory and its golden
    answers; the paths in the golden are relative to ``cache``."""
    if workload not in _GENERATORS:
        raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
    scale = SCALES[scale_name]
    cache.mkdir(parents=True, exist_ok=True)
    base = base_dir(cache, scale_name)

    name = f"{workload}-{scale_name}-s{seed}-{GENERATOR}"

    def build(tmp: Path) -> None:
        con = _connect()
        golden = _GENERATORS[workload](con, base, tmp, name, random.Random(seed), scale)
        con.close()
        golden.update(workload=workload, seed=seed, scale=scale_name, base=base.name)
        (tmp / "golden.json").write_text(json.dumps(golden, indent=1))

    entry = _build_atomically(cache / name, build)
    _evict_stale(cache, entry)
    return entry, json.loads((entry / "golden.json").read_text())
