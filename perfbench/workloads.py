"""The three benchmark workloads.

Each workload builds its inputs from the seed (``stage``), may run untimed
passes that check outputs and warm the JVM (``warm_passes``), and
yields the operations of each timed pass (``timed_pass``). An operation is
one call into ``waterbear_spark`` plus an untimed check of its output.
"""

from __future__ import annotations

import math
import os
import random
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from waterbear_spark.generator.records import RecordGenerator
from waterbear_spark.pipeline import training_corpus
from waterbear_spark.quality.medallion import bronze_ingest, silver_refine
from waterbear_spark.queries.catalog import ORACLE_SQL, QUERIES
from waterbear_spark.queries.tables import TABLES
from waterbear_spark.schema.compiler import SchemaCompiler
from waterbear_spark.testing import compare_frames

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass
class Op:
    """One timed call; ``check`` runs untimed and returns a problem or None."""

    name: str
    call: Callable[[], object]
    check: Callable[[object], str | None] | None = None


def _span(tracer, layer: str, name: str):
    """A span around a call into ``layer`` while tracing is on."""
    return tracer.span(layer, name) if tracer is not None and tracer.enabled else nullcontext()


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

# Frozen sample of the query catalog, as it stood when the benchmark was
# defined: the ANN query that serves the staged IVF index through the
# ``sources`` layer (its builder runs about 20 jobs when the index is cold and
# rebuilds the index when the store is empty), the UDTF/Arrow query
# ``udtf_tokenize`` for the Python-worker path, the batch replay of the
# streaming dedup transform, the ``quality`` expectations over nested
# events, and one relational query. The costlier targets ``kmv_set_ops``,
# ``dedup_clusters``, ``dedup_clusters_star``, ``pagerank_bipartite`` and
# ``er_golden_records`` (4-10 s cold and 2.5-5 s warm each on a 4-core host)
# are left out so that a run fits the time a comparison allows and still
# measures five passes; ``dedup_clusters`` and the star connected-components
# operator run on the corpus workload, which calls them. Frozen so that
# adding or renaming queries does not change the workload; a name that
# disappears from QUERIES counts as a failed operation.
CATALOG = (
    "ann_index_manifest",
    "dedup_stream_replay",
    "q6_forecast_revenue",
    "quality_report_event",
    "udtf_tokenize",
)
CATALOG_TINY = ("band_join_orders", "dedup_stream_replay", "udtf_tokenize")


def _query(name: str):
    fn = QUERIES.get(name)
    if fn is None:
        raise KeyError(f"{name} is not in QUERIES")
    return fn


class Catalog:
    """Build each sampled query and run it into the noop sink."""

    name = "catalog"
    clear_cache_after_op = True
    trace_pairs = 2
    # The JIT keeps speeding the first three or four passes up, so the fastest
    # of a run's passes depends on how many it has; a fixed floor keeps that
    # count equal and reaches the plateau.
    min_passes = 5

    def __init__(self, size: str, tracer=None):
        self.sf_dir = os.path.join(DATA, "sf0.01" if size == "full" else "sf0.001")
        self.names = list(CATALOG if size == "full" else CATALOG_TINY)
        self.tracer = tracer
        self.order: list[str] = []
        self._duck = None

    def stage(self, spark: SparkSession, seed: int, dest: str) -> None:
        order = list(self.names)
        random.Random(seed).shuffle(order)
        self.order = order

    def _build(self, spark, name):
        with _span(self.tracer, "queries", f"QUERIES.{name}"):
            return _query(name)(spark, self.sf_dir)

    def warm_passes(self, spark: SparkSession) -> list[list[Op]]:
        """One oracle pass: each query's collected rows against its DuckDB
        twin (rows-only where the catalog declares no oracle SQL)."""
        return [
            [
                Op(name, lambda n=name: self._collect(spark, n), lambda out, n=name: self._oracle(n, out))
                for name in self.order
            ]
        ]

    def _collect(self, spark, name):
        df = self._build(spark, name)
        return df.columns, [tuple(r) for r in df.collect()]

    def _oracle(self, name: str, out) -> str | None:
        sql = ORACLE_SQL.get(name)
        if sql is None:
            return None
        res = self._duckdb().execute(sql)
        d_cols = [d[0] for d in res.description]
        problems = compare_frames(out[0], out[1], d_cols, res.fetchall())
        return "; ".join(problems) or None

    def _duckdb(self):
        if self._duck is None:
            import duckdb

            con = duckdb.connect()
            con.execute(f"SET temp_directory='{os.path.abspath('duckdb_tmp')}'")
            for t in TABLES:
                src = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(src):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
            self._duck = con
        return self._duck

    def timed_pass(self, spark: SparkSession, k: int) -> list[Op]:
        return [Op(name, lambda n=name: self._noop(spark, n)) for name in self.order]

    def _noop(self, spark, name):
        self._build(spark, name).write.mode("overwrite").format("noop").save()

    def tamper(self, out):
        cols, rows = out
        return cols, rows[:-1]

    def scan_base(self) -> dict:
        return {}

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

# CorpusStats and output fingerprint of ``training_corpus`` over the frozen
# documents. Row order must not matter, so every seed must reproduce these.
CORPUS_EXPECTED = {
    "full": {
        "stats": [500, 500, 500, 476, 476, 468, {"test": 54, "train": 365, "validation": 49}, 40],
        "rows": 468,
        "hash": -3666704706765666808,
    },
    "tiny": {
        "stats": [500, 500, 500, 476, 476, 470, {"test": 56, "train": 362, "validation": 52}, 40],
        "rows": 470,
        "hash": -5315336496215376160,
    },
}


class Corpus:
    """``training_corpus`` over the documents, restaged in seed order."""

    name = "corpus"
    clear_cache_after_op = False
    min_passes = 1
    trace_pairs = 1  # five calls of 30-50 s would not fit the 180 s a run may take

    def __init__(self, size: str, tracer=None):
        sf = "sf0.01" if size == "full" else "sf0.001"
        self.src = os.path.join(DATA, sf, "documents.parquet")
        self.expected = CORPUS_EXPECTED[size]
        self.tracer = tracer
        self.sf_dir = ""

    def stage(self, spark: SparkSession, seed: int, dest: str) -> None:
        table = pq.read_table(self.src)
        order = list(range(table.num_rows))
        random.Random(seed).shuffle(order)
        os.makedirs(dest, exist_ok=True)
        pq.write_table(table.take(order), os.path.join(dest, "documents.parquet"))
        self.sf_dir = dest

    def warm_passes(self, spark: SparkSession) -> list[list[Op]]:
        return []

    def timed_pass(self, spark: SparkSession, k: int) -> list[Op]:
        out = os.path.abspath(os.path.join("out", f"corpus-{k}"))

        def call():
            with _span(self.tracer, "pipeline", "training_corpus"):
                return training_corpus(spark, self.sf_dir, out_path=out)

        return [Op("training_corpus", call, lambda res: self._check(spark, res, out))]

    def _check(self, spark, res, out) -> str | None:
        _, st = res
        funnel = [st.n_raw, st.n_quality, st.n_exact_kept, st.n_near_kept, st.n_clean, st.n_lm_kept]
        if any(a < b for a, b in zip(funnel, funnel[1:])):
            return f"funnel not monotone: {funnel}"
        if sum(st.splits.values()) != st.n_lm_kept:
            return f"splits {st.splits} do not sum to n_lm_kept={st.n_lm_kept}"
        row = (
            spark.read.parquet(out)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(doc_id, text, lang, split))").alias("h"),
            )
            .collect()[0]
        )
        seen = {
            "stats": [*funnel, dict(sorted(st.splits.items())), st.n_train_sequences],
            "rows": int(row["n"]),
            "hash": int(row["h"] or 0),
        }
        if seen["rows"] != st.n_lm_kept:
            return f"wrote {seen['rows']} rows, n_lm_kept={st.n_lm_kept}"
        if seen != self.expected:
            return f"output {seen} != expected {self.expected}"
        return None

    def tamper(self, res):
        df, st = res
        st.n_raw += 1  # funnel stays monotone; stats no longer match
        return df, st

    def scan_base(self) -> dict:
        return {"documents_rows": pq.read_metadata(self.src).num_rows}

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------
# medallion
# --------------------------------------------------------------------------

MODELS = os.path.join(os.path.dirname(os.path.dirname(DATA)), "waterbear_spark", "models")
# (rule, modulus, residue, column, bad value as SQL): rows whose
# id % modulus == residue get the bad value in column, which violates rule.
# The residue classes are disjoint, so each row violates at most one rule.
INJECTED = (
    ("[`value`] VALUE", 20, 3, "value", "500.0D"),
    ("[`props`.`k`] VALUE", 25, 7, "props", "named_struct('k', 5)"),
    ("[`event_type`] VALUE", 50, 11, "event_type", "'error'"),
)
GEN_PARTITIONS = 4


def expected_violations(n: int) -> dict[str, int]:
    """Per-rule counts of injected violations over ids [0, n), plus the
    number of rows with any violation under ``"*"``. Pure arithmetic."""
    period = math.lcm(*(inj[1] for inj in INJECTED))
    out = dict.fromkeys([*(inj[0] for inj in INJECTED), "*"], 0)
    full, rest = divmod(n, period)
    for i in range(period):
        times = full + (1 if i < rest else 0)
        hits = [rule for rule, m, r, _, _ in INJECTED if i % m == r]
        for rule in hits:
            out[rule] += times
        out["*"] += times if hits else 0
    return out


class Medallion:
    """``bronze_ingest`` then ``silver_refine`` over generated event JSON."""

    name = "medallion"
    clear_cache_after_op = False
    min_passes = 1
    trace_pairs = 2

    def __init__(self, size: str, tracer=None):
        self.n = 500_000 if size == "full" else 10_000
        self.compiled = SchemaCompiler(MODELS).compile("event")
        self.tracer = tracer
        self.raw = ""

    def stage(self, spark: SparkSession, seed: int, dest: str) -> None:
        per = self.n // GEN_PARTITIONS
        gen = RecordGenerator(MODELS, seed=seed).frame(spark, "event", self.n, GEN_PARTITIONS)
        mid = F.monotonically_increasing_id()
        rid = F.shiftright(mid, 33) * per + mid.bitwiseAND(F.lit((1 << 33) - 1))
        events = gen.withColumn("event_id", rid).withColumns(
            {
                col: F.when(F.col("event_id") % m == r, F.expr(bad)).otherwise(F.col(col))
                for _, m, r, col, bad in INJECTED
            }
        )
        self.raw = os.path.join(dest, "raw")
        events.coalesce(1).write.mode("overwrite").json(self.raw)

    def _cycle(self, spark, tag: str) -> list[Op]:
        out = os.path.abspath("out")
        bronze, silver, quarantine = (
            os.path.join(out, f"{layer}-{tag}") for layer in ("bronze", "silver", "quarantine")
        )

        def ingest():
            with _span(self.tracer, "quality", "bronze_ingest"):
                return bronze_ingest(spark, self.raw, self.compiled, bronze)

        def refine():
            with _span(self.tracer, "quality", "silver_refine"):
                return silver_refine(spark, self.compiled, bronze, silver, quarantine)

        return [
            Op("bronze_ingest", ingest, lambda df: self._check_bronze(df, self.n)),
            Op("silver_refine", refine, lambda res: self._check_silver(res, self.n)),
        ]

    def warm_passes(self, spark: SparkSession) -> list[list[Op]]:
        """Two checked full-size cycles: the JIT keeps speeding these
        operations up over the first cycles of a session."""
        return [self._cycle(spark, f"warm{i}") for i in range(2)]

    def timed_pass(self, spark: SparkSession, k: int) -> list[Op]:
        return self._cycle(spark, str(k))

    @staticmethod
    def _check_bronze(df, rows: int) -> str | None:
        n = df.count()
        return None if n == rows else f"bronze has {n} rows, expected {rows}"

    @staticmethod
    def _check_silver(res, rows: int) -> str | None:
        silver, quarantine = res
        want = expected_violations(rows)
        got_rules = {
            r["rule"]: r["n"]
            for r in quarantine.select(F.explode("violations").alias("rule"))
            .groupBy("rule")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {"*": quarantine.count(), **got_rules}
        n_silver = silver.count()
        problems = []
        if got != want:
            problems.append(f"quarantine counts {got} != {want}")
        if n_silver != rows - want["*"]:
            problems.append(f"silver has {n_silver} rows, expected {rows - want['*']}")
        return "; ".join(problems) or None

    def tamper(self, bronze):
        return bronze.limit(bronze.count() - 1)

    def scan_base(self) -> dict:
        return {"bronze_rows": self.n}

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (Catalog, Corpus, Medallion)}
