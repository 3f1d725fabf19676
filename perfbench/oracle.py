"""Expected outputs, computed by DuckDB in a process of its own, so
DuckDB's memory never counts toward the benchmark's ``peak_rss_mb``:

    python3 perfbench/oracle.py ref <csv_dir> <out.json>
    python3 perfbench/oracle.py verify <data_dir> <deferred.json> <out.json>

``ref`` writes the sorted rows of each query of ``queries.json`` in
``csv_dir``; it runs before the Spark session exists. ``verify`` runs
after the session has stopped. It takes a list of deferred checks
(``check.Deferred``: a registry key and its output written as parquet)
over the inputs in ``data_dir`` and writes, for each, None or the reason it fails.
A key with a DuckDB twin in the registry's ``oracle_sql()`` must match
the twin's column names and checksum triple, both sides folded by
``drive_contract.duck_checksum``, so the canon is the contract's own;
a key without one (rows-only) must return rows. The twins are code of
the program, so their outputs are computed afresh in every run.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit='1GB'")
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def register_tables(con, data_dir: str) -> None:
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):  # Spark-written table: a directory of parts
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):  # the corpus inputs hold documents only
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def verify(data_dir: str, items: list[dict], tmp_dir: str) -> list[str | None]:
    from drive_contract import duck_checksum
    from mini_sql_engine_spark.oracles import ORACLES

    con = connect(tmp_dir)
    register_tables(con, data_dir)
    expected: dict[str, tuple] = {}
    out = []
    for it in items:
        key = it["key"]
        got_sql = f"SELECT * FROM read_parquet('{it['path']}/*.parquet')"
        try:
            if key not in ORACLES:
                n = con.execute(f"SELECT count(*) FROM ({got_sql}) _q").fetchone()[0]
                out.append(None if n else "rows-only key returned no rows")
                continue
            if key not in expected:
                expected[key] = (_columns(con, ORACLES[key]),
                                 list(duck_checksum(con, ORACLES[key])))
            want_cols, want = expected[key]
            got_cols = _columns(con, got_sql)
            got = list(duck_checksum(con, got_sql))
        except Exception as exc:  # an output DuckDB cannot fold fails its op
            out.append(f"verify raised {type(exc).__name__}: {str(exc)[:300]}")
            continue
        if got_cols != want_cols:
            out.append(f"columns {got_cols} != {want_cols}")
        elif got != want:
            out.append(f"checksum {got} != {want} (rows {got[0]}/{want[0]})")
        else:
            out.append(None)
    return out


def _columns(con, sql: str) -> list[str]:
    return sorted(d[0] for d in con.execute(f"DESCRIBE SELECT * FROM ({sql}) _q").fetchall())


def ref_expectations(csv_dir: str) -> list[dict]:
    from check import sorted_rows
    from gen import REF_COLUMNS

    con = connect(os.path.join(csv_dir, "_duckdb_tmp"))
    for name, cols in REF_COLUMNS.items():
        spec = ", ".join(f"'{c}': 'BIGINT'" for c in cols)
        con.execute(
            f"CREATE TABLE {name} AS SELECT * FROM read_csv("
            f"'{os.path.join(csv_dir, name + '.csv')}', header=false, "
            f"quote='\"', columns={{{spec}}})")
    with open(os.path.join(csv_dir, "queries.json")) as fh:
        queries = json.load(fh)
    out = []
    for _, sql in queries:
        cur = con.execute(sql)
        out.append({"ncols": len(cur.description),
                    "rows": sorted_rows(cur.fetchall())})
    return out


def main(argv: list[str]) -> int:
    mode, src, dst = argv[0], argv[1], argv[-1]
    if mode == "ref":
        result = ref_expectations(src)
    elif mode == "verify":
        with open(argv[2]) as fh:
            items = json.load(fh)
        result = verify(src, items, os.path.join(os.path.dirname(dst), "_duckdb_tmp"))
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    tmp = f"{dst}.tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, dst)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
