#!/usr/bin/env python3
"""Negative test of the output checker.

    python3 perfbench/selftest.py

For each workload it takes the outputs of the last run (running a short one
first if there is none), checks that an untouched copy passes, then
corrupts a copy and checks that the checker fails:
- extract_bulk: one line of the JSON sink is changed;
- extract_delta: a committed window in the middle is dropped;
- curate_mix: one value of one query's result rows is changed.
Exits 1 unless every untouched copy passes and every corruption is caught.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checker  # noqa: E402
import duckdb  # noqa: E402
import run  # noqa: E402


def corrupt_bulk(work):
    part = sorted((work / "sinks" / "json").glob("part-*"))[0]
    lines = part.read_text().split("\n")
    lines[0] = lines[0].replace('"kind":"', '"kind":"x', 1)
    part.write_text("\n".join(lines))


def corrupt_delta(work):
    windows = sorted((work / "windows").glob("w*"))
    shutil.rmtree(windows[len(windows) // 2])


def corrupt_curate(work):
    qdir = sorted(p for p in (work / "queries").iterdir() if p.is_dir())[0]
    part = next(qdir.glob("*.parquet"))
    con = duckdb.connect()
    df = con.execute(f"SELECT * FROM '{part}'").fetchdf()
    col = next(c for c in df.columns if df[c].dtype.kind in "if")
    df.loc[0, col] = df.loc[0, col] + 1
    tmp = part.with_suffix(".tmp")
    con.execute(f"COPY (SELECT * FROM df) TO '{tmp}' (FORMAT PARQUET)")
    tmp.replace(part)


CORRUPT = {"extract_bulk": corrupt_bulk, "extract_delta": corrupt_delta,
           "curate_mix": corrupt_curate}


def main():
    ok = True
    for w, corrupt in CORRUPT.items():
        work = run.WORK / w
        if not (work / "run.json").exists():
            subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                            "--seed", "1", "--seconds", "1"], check=True,
                           stdout=subprocess.DEVNULL)
        meta = json.loads((work / "run.json").read_text())
        res = json.loads((work / "result.json").read_text())
        copy = run.WORK / "selftest" / w
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(work, copy)
        clean = checker.check(w, meta["data"], copy, res, meta["params"])
        corrupt(copy)
        caught = checker.check(w, meta["data"], copy, res, meta["params"])
        print(f"{w}: untouched copy {'passes' if not clean else 'FAILS: ' + clean[0]}; "
              f"corrupted copy {'caught: ' + ' / '.join(caught) if caught else 'NOT CAUGHT'}")
        ok &= not clean and bool(caught)
    shutil.rmtree(run.WORK / "selftest", ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
