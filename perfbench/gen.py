"""Seeded input generation for the benchmark workloads.

Everything the program reads during a run is made here from ``--seed``:
the same seed gives byte-identical files. Nothing is read from outside
the checkout. Inputs are cached per seed under the cache root
(``cached_dir``), so a repeated seed skips generation; generation time
is never part of ``setup_s``.

The relational tables follow the schemas and value domains of the
engine's catalog (``mini_sql_engine_spark.catalog.TABLE_SCHEMAS``):
a TPC-H-like star plus ``events``, ``documents`` (word bags from a
30-word vocabulary, about 5% near-duplicates) and ``embeddings``
(unit-norm 64-d float vectors).
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator changes its output, so stale caches are not reused.
GEN_VERSION = 3

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts(start: str, end: str, n: int, rng: np.random.Generator,
        unit: str = "D") -> np.ndarray:
    lo = np.datetime64(start, unit)
    span = int((np.datetime64(end, unit) - lo).astype(np.int64)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word bags; about 5% copy an earlier original document exactly or
    nearly. Copies never copy copies, so every duplicate cluster is a
    star and its size, not its shape, is what the seed changes."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.002:  # exact duplicate of an earlier original
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif i and r < 0.05:  # near-duplicate: one word swapped or "dup" added
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = "dup"
            else:
                words.append("dup")
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
            originals.append(i)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def engine_tables(seed: int, scale: float, n_docs: int,
                  n_vecs: int) -> dict[str, pa.Table]:
    """The catalog's ten tables at ``scale`` (lineitem = 6M x scale
    rows), plus ``n_docs`` documents and ``n_vecs`` embeddings."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = max(15, int(15_000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def arr(x, t):
        return pa.array(x, t)

    out = {
        "region": pa.table({"r_regionkey": arr(range(5), i32),
                            "r_name": arr(REGIONS, s)}),
        "nation": pa.table({"n_nationkey": arr(range(25), i32),
                            "n_name": arr([f"NATION_{i}" for i in range(25)], s),
                            "n_regionkey": arr([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": arr(np.arange(n_cust), i64),
            "c_name": arr([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": arr(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": arr(_money(rng, -999.99, 9999.99, n_cust), f64),
            "c_mktsegment": arr(rng.choice(SEGMENTS, n_cust), s)}),
        "supplier": pa.table({
            "s_suppkey": arr(np.arange(n_supp), i64),
            "s_name": arr([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": arr(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": arr(_money(rng, -999.99, 9999.99, n_supp), f64)}),
        "part": pa.table({
            "p_partkey": arr(np.arange(n_part), i64),
            "p_name": arr([f"{ADJ[a]} {NOUN[b]}" for a, b in
                           rng.integers(0, 8, (n_part, 2))], s),
            "p_brand": arr([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": arr(rng.choice(P_TYPES, n_part), s),
            "p_size": arr(rng.integers(1, 51, n_part), i32),
            "p_retailprice": arr((9000 + np.arange(n_part) % 1000) / 10.0, f64)}),
        "orders": pa.table({
            "o_orderkey": arr(np.arange(n_ord), i64),
            "o_custkey": arr(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": arr(rng.choice(("F", "O", "P"), n_ord), s),
            "o_totalprice": arr(_money(rng, 1000, 500000, n_ord), f64),
            "o_orderdate": _ts("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": arr(rng.choice(PRIORITIES, n_ord), s)}),
        "lineitem": pa.table({
            "l_orderkey": arr(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": arr(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": arr(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": arr(rng.integers(1, 8, n_line), i32),
            "l_quantity": arr(rng.integers(1, 51, n_line).astype(float), f64),
            "l_extendedprice": arr(_money(rng, 900, 105000, n_line), f64),
            "l_discount": arr(rng.integers(0, 11, n_line) / 100.0, f64),
            "l_tax": arr(rng.integers(0, 9, n_line) / 100.0, f64),
            "l_returnflag": arr(rng.choice(("A", "N", "R"), n_line), s),
            "l_linestatus": arr(rng.choice(("F", "O"), n_line), s),
            "l_shipdate": _ts("1995-01-02", "2001-11-04", n_line, rng)}),
        "events": pa.table({
            "event_id": arr(np.arange(n_ev), i64),
            "ts": np.sort(_ts("2024-01-01", "2024-01-30T23:59:59.999999",
                              n_ev, rng, unit="us")),
            "user_id": arr(rng.integers(0, n_users, n_ev), i64),
            "event_type": arr(rng.choice(EVENT_TYPES, n_ev), s),
            "value": arr(np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": arr([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)}),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- #
# Reference-format CSV inputs (metadata.txt + integer CSVs)          #
# ---------------------------------------------------------------- #

REF_ROWS = {"table1": 100_000, "table2": 2_000}
REF_COLUMNS = {"table1": ("A", "B", "C"), "table2": ("B", "D")}
A_MAX = 1_000_000


def ref_tables(seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    n1, n2 = REF_ROWS["table1"], REF_ROWS["table2"]
    t1 = np.stack([rng.integers(0, A_MAX, n1),
                   rng.integers(0, 2 * n2, n1),
                   rng.integers(-5000, 5001, n1)], axis=1)
    t2 = np.stack([rng.permutation(n2), rng.integers(0, 1000, n2)], axis=1)
    return {"table1": t1, "table2": t2}


def write_ref_csvs(seed: int, out_dir: str) -> None:
    """``metadata.txt`` plus ``table1.csv`` (A, B, C) and ``table2.csv``
    (B, D). About 5% of cells are double-quoted, as the format allows."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "metadata.txt"), "w") as fh:
        for name, names in REF_COLUMNS.items():
            fh.write("<begin_table>\n" + name + "\n" + "\n".join(names)
                     + "\n<end_table>\n")
    for name, rows in ref_tables(seed).items():
        lines = []
        for row in rows.tolist():
            cells = [f'"{v}"' if rng.random() < 0.05 else str(v) for v in row]
            lines.append(",".join(cells))
        with open(os.path.join(out_dir, f"{name}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


# Each template names the fraction of rows its literal selects, so every
# seed runs queries of the same size while the literal values differ.
# The first streams about 10,000 rows to the driver, so the CLI's
# result delivery does real work.
REF_TEMPLATES = (
    ("SELECT A, B FROM table1 WHERE A > {a_hi}", {"a_hi": 0.1}),
    ("SELECT * FROM table1 WHERE A < {a_lo} AND C > 0", {"a_lo": 0.02}),
    ("SELECT A, C FROM table1 WHERE A < {a_lo} OR A > {a_hi}",
     {"a_lo": 0.005, "a_hi": 0.005}),
    ("SELECT max(A) FROM table1", {}),
    ("SELECT min(C), sum(C) FROM table1 WHERE A > {a_hi}", {"a_hi": 0.5}),
    ("SELECT avg(C) FROM table1 WHERE A < {a_lo}", {"a_lo": 0.3}),
    ("SELECT DISTINCT B FROM table1 WHERE A < {a_lo}", {"a_lo": 0.01}),
    ("SELECT count(*) FROM table1 WHERE B < {b_lo}", {"b_lo": 0.5}),
    ("SELECT table1.A, table2.D FROM table1, table2 "
     "WHERE table1.B = table2.B AND table1.A < {a_lo}", {"a_lo": 0.02}),
    ("SELECT DISTINCT table2.D FROM table1, table2 "
     "WHERE table1.B = table2.B AND table1.C > {c_hi}", {"c_hi": 0.05}),
)
REF_OPS_PER_TEMPLATE = 4


def ref_queries(seed: int) -> list[tuple[int, str]]:
    """A seeded order of ``REF_OPS_PER_TEMPLATE`` instances of every
    template, as (template index, SQL); each literal is drawn so the
    predicate keeps about its template's fraction of rows (A is uniform
    on [0, A_MAX), B on [0, 2 * rows(table2)), C on [-5000, 5000])."""
    rng = random.Random(seed)
    b_max = 2 * REF_ROWS["table2"]
    out = []
    for t, (sql, sel) in enumerate(REF_TEMPLATES):
        for _ in range(REF_OPS_PER_TEMPLATE):
            lit = {}
            for name, frac in sel.items():
                f = frac * rng.uniform(0.97, 1.03)
                lit[name] = {
                    "a_hi": int(A_MAX * (1 - f)), "a_lo": int(A_MAX * f),
                    "b_lo": int(b_max * f), "c_hi": int(5000 - 10000 * f),
                }[name]
            out.append((t, sql.format(**lit)))
    rng.shuffle(out)
    return out


def seeded_orders(items, seed: int):
    """An endless sequence of passes, each a seeded order of ``items``."""
    rng = random.Random(seed)
    while True:
        order = list(items)
        rng.shuffle(order)
        yield order


def cached_dir(root: str, name: str, build) -> str:
    """Return ``root/name``, building it first with ``build(tmp_dir)``
    if absent. The build goes to a temporary sibling that is renamed
    into place, so an interrupted build never leaves a partial cache."""
    final = os.path.join(root, name)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final
