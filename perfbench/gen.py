"""Seeded input generator for the benchmark, run in DuckDB before any clock
starts.

Every value is a function of (seed, row index, salt) through DuckDB's
`hash`, so the same seed writes the same rows whatever the thread count.
A generated directory carries `_inputs.json` with each table's row count
and content checksum; a reused copy is accepted only if both still match.
The curate workload's catalog is not generated: it is the fixed copy in
`catalog/`, checked against its own `_inputs.json` the same way.
"""
import hashlib
import json
import os
import shutil
from pathlib import Path

import duckdb

# Extraction source: an append-ordered table shaped like `events`.
EXTRACT_ROWS = 200_000
# Written as a directory of part files, as a Spark table is, so that each
# scan has a task per core.
EXTRACT_FILES = 8
EXTRACT_STEP_US = 2_000          # ts rises by 2 ms per row (+ jitter < 1 ms)
EXTRACT_T0 = "2024-01-01 00:00:00"
EXTRACT_ROW_GROUP = 10_000
EVENT_TYPES = [("view", 40), ("click", 25), ("purchase", 15),
               ("signup", 10), ("error", 10)]
PROPS_NULL_PERMILLE = 30
USERS = 50_000
# Bulk watermark: rows modified in the last tenth of the range are ignored.
WATERMARK_SHARE = 0.9
# Delta windows of 2 s hold ~1,000 rows each (200 windows in the table).
DELTA_WINDOW_MS = 2_000

# Catalog input of the curate workload: a copy of the repository's sf0.01
# test data (the scale its oracle gate runs at), kept next to this file
# with its fingerprint. It does not depend on the seed.
CATALOG_DIR = Path(__file__).resolve().parent / "catalog"
CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]

def connect(seed):
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
    con.execute("SET enable_progress_bar = false")
    # h(i, salt): non-negative 63-bit hash; u(i, salt): uniform in [0, 1)
    con.execute("CREATE MACRO h(i, salt) AS "
                f"CAST(hash(i, salt, {int(seed)}) >> 1 AS BIGINT)")
    con.execute("CREATE MACRO u(i, salt) AS "
                "(h(i, salt) % 1000000007) / 1000000007.0")
    return con


def _pick(weighted, expr):
    """CASE expression choosing from [(value, weight)] by expr in [0, 1)."""
    total, acc, parts = sum(w for _, w in weighted), 0, []
    for v, w in weighted[:-1]:
        acc += w
        parts.append(f"WHEN {expr} < {acc / total} THEN '{v}'")
    return f"CASE {' '.join(parts)} ELSE '{weighted[-1][0]}' END"


def _copy(con, sql, path, row_group=None):
    opts = "FORMAT PARQUET"
    if row_group:
        opts += f", ROW_GROUP_SIZE {row_group}"
    con.execute(f"COPY ({sql}) TO '{path}' ({opts})")


def extract_t0_ms():
    return int(duckdb.sql(
        f"SELECT epoch_ms(TIMESTAMP '{EXTRACT_T0}')").fetchone()[0])


def extract_watermark_ms():
    span_ms = EXTRACT_ROWS * EXTRACT_STEP_US // 1000
    return extract_t0_ms() + int(span_ms * WATERMARK_SHARE)


def extract_sql():
    step = EXTRACT_STEP_US
    return f"""
      SELECT i AS event_id,
        TIMESTAMP '{EXTRACT_T0}' + to_microseconds(
            i * {step} + h(i, 1) % {step // 2}) AS ts,
        CAST(floor({USERS} * pow(u(i, 2), 3)) AS BIGINT) AS user_id,
        {_pick(EVENT_TYPES, 'u(i, 3)')} AS event_type,
        (h(i, 4) % 100000) / 100.0 AS value,
        CASE WHEN h(i, 5) % 1000 < {PROPS_NULL_PERMILLE} THEN NULL
             ELSE '{{"k": ' || (h(i, 6) % 100) || ', "tag": "t'
                  || (h(i, 7) % 20) || '"}}' END AS props
      FROM range({EXTRACT_ROWS}) r(i) ORDER BY i"""


def gen_extract(con, out):
    # the reference's modified_timestamp string, '%Y-%m-%d %H:%M:%S.%f' + 'Z'
    con.execute(f"""CREATE TEMP TABLE ev AS
        SELECT *, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || 'Z'
        AS modified_timestamp FROM ({extract_sql()})""")
    table = out / "events.parquet"
    table.mkdir()
    per_file = -(-EXTRACT_ROWS // EXTRACT_FILES)
    for f in range(EXTRACT_FILES):
        _copy(con, f"""SELECT * FROM ev WHERE event_id >= {f * per_file}
                  AND event_id < {(f + 1) * per_file} ORDER BY event_id""",
              table / f"part-{f:05d}.parquet", EXTRACT_ROW_GROUP)



def table_glob(directory, name):
    """Parquet glob of a generated table: one file, or a directory of parts."""
    p = Path(directory) / f"{name}.parquet"
    return f"{p}/*.parquet" if p.is_dir() else str(p)


def _fingerprint(con, directory):
    out = {}
    for f in sorted(Path(directory).glob("*.parquet")):
        rows, digest = con.execute(
            "SELECT count(*), coalesce(sum(hash(t)::HUGEINT % 1000000007), 0)"
            " FROM (SELECT * FROM read_parquet(?)) t",
            [table_glob(directory, f.stem)]).fetchone()
        out[f.stem] = {"rows": int(rows), "checksum": str(digest)}
    return out


def catalog():
    """Return the catalog directory after checking that every table still
    has the row count and checksum recorded in its `_inputs.json`."""
    want = json.loads((CATALOG_DIR / "_inputs.json").read_text())
    got = _fingerprint(connect(0), CATALOG_DIR)
    if got != want or set(want) != set(CATALOG_TABLES):
        raise ValueError(f"catalog copy in {CATALOG_DIR} does not match its fingerprint")
    return CATALOG_DIR


def ensure(root, seed):
    """Return the extraction input directory for the seed, generating it unless a
    copy whose row counts and checksums still match is already there. The
    directory name carries a hash of this file, so a changed generator
    never reuses an old copy."""
    version = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]
    out = Path(root) / f"extract-seed{int(seed)}-{version}"
    con = connect(seed)
    stamp = out / "_inputs.json"
    if stamp.exists():
        try:
            if json.loads(stamp.read_text()) == _fingerprint(con, out):
                return out
        except (ValueError, duckdb.Error):
            pass
    for old in Path(root).glob(f"extract-seed{int(seed)}-*"):
        shutil.rmtree(old)  # this seed's copies from other generator versions
    tmp = out.with_name(out.name + ".tmp")
    tmp.mkdir(parents=True)
    gen_extract(con, tmp)
    (tmp / "_inputs.json").write_text(json.dumps(_fingerprint(con, tmp)))
    tmp.rename(out)
    return out
