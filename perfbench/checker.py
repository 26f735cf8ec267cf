"""Output checker: recomputes with DuckDB, from the generated inputs, what
the program should have written, and compares.

- extract_bulk: each sink's row count and order-free digest of its lines.
- extract_delta: the union of committed windows equals DuckDB's rows in
  [first lower, last upper) with no duplicate and no gap; each window holds
  only rows of its own bounds, in rising order; every part file is listed
  in its `_MANIFEST.tsv` with its row count; the final watermark equals
  the last upper bound.
- curate_mix: each query's rows equal its catalog oracle SQL run by DuckDB,
  compared as multisets with the repository's tools/check.py
  normalisation.

`check(...)` returns a list of error strings; empty means correct.
"""
import json
import math
from collections import Counter
from pathlib import Path

import duckdb

import gen

KEPT_TYPES = ("click", "purchase", "signup")

# One rendered record, as Spark's to_json writes the transformed row
# (null fields omitted): event_id, user_id, kind, props, modified_timestamp
# (epoch ms), cents.
JSON_LINE = """'{"event_id":' || event_id || ',"user_id":' || user_id
  || ',"kind":"' || event_type || '"'
  || CASE WHEN props IS NULL THEN ''
     ELSE ',"props":{"k":' || CAST(json_extract(props, '$.k') AS INT)
          || ',"tag":"' || json_extract_string(props, '$.tag') || '"}' END
  || ',"modified_timestamp":' || epoch_ms(ts)
  || ',"cents":' || CAST(trunc(value * 100) AS BIGINT) || '}'"""

SINK_LINES = {
    "kafka": """SELECT topic || chr(9) || event_id || chr(9) || '{"id":' || event_id
        || ',"kind":"' || event_type || '","cents":'
        || CAST(trunc(value * 100) AS BIGINT) || '}' AS line
        FROM src, (VALUES ('events'), ('audit')) t(topic)""",
    "s3": f"""SELECT 'events-' || event_type || '-' || event_id || chr(31)
        || {JSON_LINE} AS line FROM src""",
    "rds": f"""SELECT 'INSERT INTO events_copy (event_id, doc) VALUES ('
        || event_id || ', ''' || {JSON_LINE} || ''')' AS line FROM src""",
    "json": f"SELECT {JSON_LINE} AS line FROM src",
}


def _text_lines(glob):
    return f"""SELECT line FROM (SELECT unnest(string_split(content, chr(10)))
        AS line FROM read_text('{glob}')) WHERE line <> ''"""


def _digest(con, sql):
    return con.execute(f"SELECT count(*), coalesce(sum(hash(line)::HUGEINT), 0) "
                       f"FROM ({sql})").fetchone()


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    return con


def check_bulk(data, work, res, params):
    con = _connect()
    wm = int(params["watermark-ms"])
    con.execute(f"""CREATE VIEW src AS SELECT * FROM
        read_parquet('{gen.table_glob(data, "events")}')
        WHERE event_type IN {KEPT_TYPES} AND epoch_ms(ts) < {wm}""")
    errors = []
    (n_src,) = con.execute("SELECT count(*) FROM src").fetchone()
    bad = [r for r in res["rows"] if r != n_src]
    if bad:
        errors.append(f"extract_bulk: {len(bad)} ops observed {bad[0]} records, "
                      f"DuckDB has {n_src}")
    sinks = Path(work) / "sinks"
    for name, want_sql in SINK_LINES.items():
        if name == "s3":
            got_sql = f"""SELECT s3key || chr(31) || body AS line FROM read_json(
                '{sinks}/s3/part-*', format='newline_delimited',
                columns={{'s3key': 'VARCHAR', 'body': 'VARCHAR'}})"""
        else:
            got_sql = _text_lines(f"{sinks}/{name}/part-*")
        try:
            got = _digest(con, got_sql)
        except duckdb.Error as e:
            errors.append(f"extract_bulk: sink {name} unreadable: {e}")
            continue
        want = _digest(con, want_sql)
        if got != want:
            errors.append(f"extract_bulk: sink {name} has (rows, digest) {got}, "
                          f"DuckDB {want}")
    return errors


def check_delta(data, work, res, params):
    con = _connect()
    first = int(params["first-lower-ms"])
    width = int(params["window-ms"])
    windows = sorted((Path(work) / "windows").glob("w*"))
    errors = []
    if not windows:
        return ["extract_delta: no window was written"]
    last_upper = first + width * len(windows)
    if res["outputs"]["final_watermark"] != last_upper:
        errors.append(f"extract_delta: final watermark "
                      f"{res['outputs']['final_watermark']} != last upper {last_upper}")
    for i, w in enumerate(windows):
        manifest = w / "_MANIFEST.tsv"
        if not manifest.exists():
            errors.append(f"extract_delta: {w.name} has no _MANIFEST.tsv")
            continue
        listed = dict(l.split("\t") for l in manifest.read_text().splitlines() if l)
        files = {p.name for p in w.glob("part-*.tsv")}
        if set(listed) != files:
            errors.append(f"extract_delta: {w.name} files {sorted(files ^ set(listed))} "
                          "not matched by its manifest")
        for name in sorted(files & set(listed)):
            n = sum(1 for l in (w / name).read_text().split("\n") if l)
            if n != int(listed[name]):
                errors.append(f"extract_delta: {w.name}/{name} has {n} rows, "
                              f"manifest says {listed[name]}")
    # window index from the directory name w00001.. (0-based here)
    con.execute(f"""CREATE TABLE got AS SELECT
        CAST(regexp_extract(filename, '/w([0-9]+)/', 1) AS BIGINT) - 1 AS w, line
        FROM (SELECT filename, unnest(string_split(content, chr(10))) AS line
              FROM read_text('{Path(work) / "windows"}/w*/part-*.tsv'))
        WHERE line <> ''""")
    con.execute("""CREATE VIEW parsed AS SELECT w, line,
        CAST(json_extract(line, '$.event_id') AS BIGINT) AS id,
        CAST(json_extract(line, '$.modified_timestamp') AS BIGINT) AS ms FROM got""")
    (dups,) = con.execute("SELECT count(*) - count(DISTINCT id) FROM parsed").fetchone()
    if dups:
        errors.append(f"extract_delta: {dups} rows delivered twice")
    (outside,) = con.execute(
        f"SELECT count(*) FROM parsed WHERE ms < {first} + w * {width} "
        f"OR ms >= {first} + (w + 1) * {width}").fetchone()
    if outside:
        errors.append(f"extract_delta: {outside} rows outside their window's bounds")
    con.execute(f"""CREATE VIEW src AS SELECT * FROM
        read_parquet('{gen.table_glob(data, "events")}')
        WHERE event_type IN {KEPT_TYPES}
          AND epoch_ms(ts) >= {first} AND epoch_ms(ts) < {last_upper}""")
    got = _digest(con, "SELECT line FROM got")
    want = _digest(con, SINK_LINES["json"])
    if got != want:
        errors.append(f"extract_delta: windows hold (rows, digest) {got}, DuckDB has "
                      f"{want} for [{first}, {last_upper})")
    return errors


def _norm(v):
    """tools/check.py's value normalisation."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def check_curate(data, work, res, params):
    con = _connect()
    for t in gen.CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{gen.table_glob(data, t)}')")
    qdir = Path(work) / "queries"
    oracle = json.loads((qdir / "oracle_sql.json").read_text())
    errors = []
    for q in params["queries"].split(","):
        try:
            got = con.execute(f"SELECT * FROM '{qdir}/{q}/*.parquet'").fetchdf()
            want = con.execute(oracle[q]).fetchdf()
        except (duckdb.Error, KeyError) as e:
            errors.append(f"curate_mix: {q}: {type(e).__name__} {e}")
            continue
        gcols, wcols = sorted(got.columns), sorted(want.columns)
        if gcols != wcols:
            errors.append(f"curate_mix: {q}: columns {gcols} != oracle {wcols}")
            continue
        g = Counter(tuple(_norm(v) for v in row)
                    for row in got[gcols].itertuples(index=False, name=None))
        w = Counter(tuple(_norm(v) for v in row)
                    for row in want[wcols].itertuples(index=False, name=None))
        if g != w:
            errors.append(f"curate_mix: {q}: {len(got)} rows differ from the "
                          f"oracle's {len(want)} (e.g. {next(iter(g - w), None)})")
    return errors


CHECKS = {"extract_bulk": check_bulk, "extract_delta": check_delta,
          "curate_mix": check_curate}


def check(workload, data, work, res, params):
    return CHECKS[workload](data, work, res, params)
