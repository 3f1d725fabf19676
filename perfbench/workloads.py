"""The workloads: their inputs, their ops and each op's check.

A workload prepares its inputs from the seed (``prepare``, before the
Spark session exists; ``after_setup``, for inputs that need Spark),
warms the session (``warmup``, part of ``setup_s``) and then yields
passes of ops. Every op is a closed-loop call from one client: the
next op starts when the previous one has returned. ``run`` is the
timed call; ``check`` runs outside the timer and returns None, the
reason the output is wrong, or a ``check.Deferred`` that is decided
after the session has stopped.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import subprocess
import sys
import tempfile
from dataclasses import dataclass, field

import gen
from check import Deferred, sorted_rows

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    key: str
    run: object  # () -> result, timed
    check: object  # (result) -> None | str | Deferred, untimed
    build: object = None  # the build half of ``run``, traced as queries.build
    span: str = "op"  # the traced run's span around ``run`` (without ``build``)
    meta: dict = field(default_factory=dict)


def _oracle(*args: str) -> None:
    subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), *args],
                   check=True, stdout=subprocess.DEVNULL)


def _load(path: str):
    with open(path) as fh:
        return json.load(fh)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def verify_deferred(data_dir: str, pending: list[Deferred],
                    work_dir: str) -> list[str | None]:
    """Decide the deferred checks of keys that read ``data_dir`` in one
    DuckDB process: None or the reason each fails."""
    src = os.path.join(work_dir, "deferred.json")
    dst = os.path.join(work_dir, "verified.json")
    with open(src, "w") as fh:
        json.dump([vars(d) for d in pending], fh)
    _oracle("verify", data_dir, src, dst)
    return _load(dst)


def qkey_check(key: str, check_dir: str):
    """Write a key's rows as parquet, to be compared with its DuckDB
    twin after the session has stopped (``oracle.py verify``), so
    neither the Python driver nor the JVM holds the check's work while
    memory is sampled."""
    def check(df):
        os.makedirs(check_dir, exist_ok=True)
        path = os.path.join(tempfile.mkdtemp(dir=check_dir), "out")
        df.write.parquet(path)
        return Deferred(key, path)
    return check


def qkey_op(queries, spark, data_dir: str, key: str, check_dir: str) -> Op:
    def build():
        return queries[key](spark, data_dir)

    def run():
        df = build()
        noop_write(df)
        return df

    return Op(key, run, qkey_check(key, check_dir), build=build)


# ---------------------------------------------------------------- #
# analyst_mix                                                        #
# ---------------------------------------------------------------- #

class AnalystMix:
    """What an analyst sends: registry keys (``KEYS``) over engine
    tables at ``SCALE``, and the reference's query genre through the
    CLI's ``run`` over a seeded ``metadata.txt`` and integer CSVs. One
    pass is a seeded order of all of them."""

    name = "analyst_mix"
    MIN_PASSES = 1
    SCALE = 0.01
    # Relational and analytic keys (none of the pipeline, similarity or
    # graph families), fixed here so a change to the registry cannot
    # change what the workload measures: every 16th such key, in sorted
    # order, of the registry the benchmark was defined on, so each
    # family keeps its share.
    KEYS = ("adoption_curve", "case_when", "date_funcs", "filter_cmp",
            "grouping_sets", "join_advisor", "math_funcs", "ohlc_bars",
            "pivot_multi", "q18_large_orders", "rate_limit_audit", "sample_k",
            "set_union", "table_checks", "weighted_median", "xyz_class")

    def __init__(self, seed: int, cache: str, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.dir = gen.cached_dir(cache, f"analyst_mix-s{seed}-v{gen.GEN_VERSION}",
                                  self._build)
        self.data = os.path.join(self.dir, "data")
        self.csv = os.path.join(self.dir, "csv")

    def _build(self, out: str) -> None:
        gen.write_tables(gen.engine_tables(self.seed, self.SCALE, 500, 500),
                         os.path.join(out, "data"))
        csv = os.path.join(out, "csv")
        gen.write_ref_csvs(self.seed, csv)
        with open(os.path.join(csv, "queries.json"), "w") as fh:
            json.dump(gen.ref_queries(self.seed), fh, indent=0)
        # the CLI queries' expected rows depend on the generated inputs
        # only, so they are cached with them
        _oracle("ref", csv, os.path.join(out, "expected_cli.json"))

    def prepare(self) -> None:
        self.queries = _load(os.path.join(self.csv, "queries.json"))
        self.expected_cli = _load(os.path.join(self.dir, "expected_cli.json"))

    def _run_cli(self, spark, sql: str) -> str:
        from mini_sql_engine_spark.__main__ import run

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = run(sql, self.csv, spark=spark)
        if rc != 0:
            raise RuntimeError(f"CLI exit code {rc}")
        return buf.getvalue()

    def warmup(self, spark) -> None:
        from mini_sql_engine_spark.queries import QUERIES

        # every key once and one query of each CLI template, so the first
        # timed ops do not pay the JVM's warm-up for whichever ops the
        # seed puts first
        for key in self.KEYS:
            noop_write(QUERIES[key](spark, self.data))
        seen = set()
        for t, sql in self.queries:
            if t not in seen:
                seen.add(t)
                self._run_cli(spark, sql)

    def after_setup(self, spark) -> None:
        pass

    def passes(self, spark):
        from mini_sql_engine_spark.queries import QUERIES

        n = len(self.KEYS) + len(self.queries)
        for order in gen.seeded_orders(range(n), self.seed):
            ops = [qkey_op(QUERIES, spark, self.data, k,
                           os.path.join(self.run_dir, "checks"))
                   for k in self.KEYS]
            ops += [self._cli_op(spark, t, sql, exp) for (t, sql), exp
                    in zip(self.queries, self.expected_cli)]
            yield [ops[i] for i in order]

    def _cli_op(self, spark, template: int, sql: str, expected: dict) -> Op:
        def check(out: str):
            lines = out.splitlines()
            if not lines or len(lines[0].split(",")) != expected["ncols"]:
                return f"header {lines[:1]} has not {expected['ncols']} columns"
            got = sorted_rows(ln.split(",") for ln in lines[1:])
            if got != expected["rows"]:
                return f"{len(got)} rows differ from DuckDB's {len(expected['rows'])}"
            return None
        return Op(f"cli_t{template}", lambda: self._run_cli(spark, sql),
                  check, span="cli.run")

    def units(self, ops: list) -> int:
        return len(ops)


# ---------------------------------------------------------------- #
# corpus_dedup_10x                                                   #
# ---------------------------------------------------------------- #

# logical size of one committed (doc_id, cluster_rep) row: two BIGINTs
ROW_BYTES = 16


class CorpusDedup10x:
    """The dedup keys on the 10x blow-up of ``scripts/stress_scale.py``,
    then a write leg that commits ``dedup_cc``'s labels to a fresh
    ACID table, merges updates on ``doc_id`` and reads the result back."""

    name = "corpus_dedup_10x"
    MIN_PASSES = 3
    # one kernel-bound key (its time is executor CPU at execution) and
    # one key bound by its eager barriers (its time is the build's
    # materialize jobs), in this order every pass
    KEYS = ("minhash_sig", "dedup_cc")
    COPIES = 10
    BASE_DOCS, BASE_VECS = 500, 200
    BASE_SCALE = 0.001

    def __init__(self, seed: int, cache: str, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.dir = gen.cached_dir(cache, f"corpus_dedup_10x-s{seed}-v{gen.GEN_VERSION}",
                                  self._build)
        self.base = os.path.join(self.dir, "base")
        # rebuilt by every run, so every run pays (and measures) the same
        self.data = os.path.join(run_dir, "x10")

    def _build(self, out: str) -> None:
        gen.write_tables(gen.engine_tables(self.seed, self.BASE_SCALE,
                                           self.BASE_DOCS, self.BASE_VECS),
                         os.path.join(out, "base"))

    def prepare(self) -> None:
        pass

    def warmup(self, spark) -> None:
        from mini_sql_engine_spark.queries import QUERIES

        for key in self.KEYS:
            noop_write(QUERIES[key](spark, self.base))

    def after_setup(self, spark) -> None:
        """Blow the documents up 10x with ``stress_scale.scale_table``
        (the transformation ``stress_scale.ensure_built`` applies to every
        table; only ``documents`` is read here)."""
        import stress_scale

        docs = spark.read.parquet(os.path.join(self.base, "documents.parquet"))
        stress_scale.scale_table(docs, "documents", stress_scale.KEYS["documents"],
                                 self.COPIES).write.parquet(
            os.path.join(self.data, "documents.parquet"))
        self.n_docs = self.BASE_DOCS * self.COPIES

    def passes(self, spark):
        from mini_sql_engine_spark.queries import QUERIES

        rng = random.Random(self.seed)
        n = 0
        while True:
            n += 1
            ops = [qkey_op(QUERIES, spark, self.data, k,
                           os.path.join(self.run_dir, "checks"))
                   for k in self.KEYS]
            ops += self._acid_ops(spark, ops[-1], rng,
                                  os.path.join(self.run_dir, f"acid{n}"))
            yield ops

    def _acid_ops(self, spark, dedup: Op, rng, path: str) -> list[Op]:
        import pandas as pd

        from mini_sql_engine_spark.sources.acid import AcidTable

        state: dict = {}
        check_dedup = dedup.check

        def dedup_check(df):
            # keep the labels the write leg commits; their rows are
            # checked against DuckDB right here
            state["labels_df"] = df
            state["labels"] = [tuple(r) for r in
                               df.select("doc_id", "cluster_rep").collect()]
            return check_dedup(df)
        dedup.check = dedup_check

        def commit():
            return AcidTable.create(spark, path, state["labels_df"])

        def check_commit(table):
            state["table"] = table
            picked = rng.sample(state["labels"], max(1, len(state["labels"]) // 10))
            fresh = [(10**12 + i, 10**12 + i) for i in range(len(picked) // 2 + 1)]
            state["updates"] = [(d, c + 10**9) for d, c in picked] + fresh
            # from pandas through Arrow: a local relation, so the timed
            # merge starts no Python workers to read its input
            state["updates_df"] = spark.createDataFrame(pd.DataFrame(
                state["updates"], columns=["doc_id", "cluster_rep"], dtype="int64"))
            return None if table.version() == 0 else f"version {table.version()} != 0"

        def merge():
            return state["table"].merge(state["updates_df"], ["doc_id"])

        def check_merge(version):
            return None if version == 1 else f"merge committed version {version} != 1"

        def read():
            return AcidTable(spark, path).read().collect()

        def check_read(rows):
            want = dict(state["labels"])
            want.update(state["updates"])
            got = sorted((r["doc_id"], r["cluster_rep"]) for r in rows)
            return (None if got == sorted(want.items()) else
                    f"read-back rows ({len(got)}) differ from the committed ({len(want)})")

        def frame_bytes(rows_key):
            return lambda: len(state[rows_key]) * ROW_BYTES

        return [Op("acid_commit", commit, check_commit, span="op.acid_commit",
                   meta={"acid": path, "frame_bytes": frame_bytes("labels")}),
                Op("acid_merge", merge, check_merge, span="op.acid_merge",
                   meta={"acid": path, "frame_bytes": frame_bytes("updates")}),
                Op("acid_read", read, check_read, span="op.acid_read")]

    def units(self, ops: list) -> int:
        # input documents: each pass reads the whole corpus once per key
        return self.n_docs * sum(1 for op in ops if op.key == self.KEYS[0])


WORKLOADS = {w.name: w for w in (AnalystMix, CorpusDedup10x)}
