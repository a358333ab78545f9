"""The benchmark's units of work and the checks run on each.

``PipelineBench``: one unit is one ``run_pipeline`` call, from the token
scan until the ``dag_edges`` checkpoint is committed.  Every unit is
checked: per-sink rows sum to the input rows, every injected causal pair
is adjacent in ``dag_edges``, and the ``dag_edges`` digest equals the one
of the run's first unit.

``QueryBench``: one unit is one pass over ``bench.py``'s 13 headline
queries, each taken to ``.count()``, in a seed-permuted order.  The first
(untimed) pass collects every result: 10 are compared with their DuckDB
oracle SQL, the 3 queries without oracle SQL get a row count and digest
that later collects must reproduce.  Every timed query must return the
checked row count.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
import shutil
import sys
import time
import traceback
from datetime import datetime, timedelta

from bench import HEADLINE

# bench.py's pipeline_e2e configuration
PIPELINE_CONFIG = {"cause_algorithm": "pc-corr", "ci_bin_size": "1m"}
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def token_t0(seed: int) -> datetime:
    """The seed moves the generated day by whole days (bins stay aligned).
    ``doc_id`` embeds the event time and seeds every variable-token value,
    so this also re-draws those values."""
    from logdag_spark.fixtures.generator import DEFAULT_T0

    return DEFAULT_T0 + timedelta(days=seed % 3650)


def digest_rows(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


class PipelineBench:
    def __init__(self, spark, work: str, scale: float, seed: int):
        from logdag_spark.config import PipelineConfig

        self.spark, self.work, self.scale, self.seed = spark, work, scale, seed
        self.cfg = PipelineConfig(**PIPELINE_CONFIG)
        self.reference_digest: str | None = None
        self.last_digest: str | None = None
        self.n_runs = 0

    def materialise(self, rep: int) -> None:
        """One input set-up: generate, write and count the seeded tokens."""
        from logdag_spark import fixtures as fx

        self.tokens_path = os.path.join(self.work, f"tokens_{rep}")
        tokens = fx.gen_tokens(self.spark, scale=self.scale, t0=token_t0(self.seed))
        fx.contract(tokens).write.mode("overwrite").parquet(self.tokens_path)
        self.n_input = self.spark.read.parquet(self.tokens_path).count()

    def prepare(self) -> None:
        """Driver-side constants shared by every unit (after materialise)."""
        from logdag_spark import fixtures as fx

        t0 = token_t0(self.seed)
        self.dt_range = (t0, t0 + timedelta(hours=24))
        self.schema = self.spark.read.parquet(self.tokens_path).schema
        self.host_meta = fx.host_meta(self.spark)
        self.template_dim = fx.template_dim(self.spark)
        self.hosts = fx.host_rows()
        self.specs = [(s["gid"], s["pattern"]) for s in fx.template_specs()]
        self.truth = {
            (r["host"], r["gid_cause"], r["gid_effect"])
            for r in fx.ground_truth_edges(self.spark, self.scale).collect()
        }

    def warm_up(self) -> tuple[int, list[str]]:
        """One checked, untimed unit: (ops, errors)."""
        return 1, self.unit()[1]

    def final_checks(self, info: dict) -> tuple[int, list[str]]:
        info.update(sink_rows=self.sink_rows, edges=self.n_edges,
                    dag_edges_digest=self.reference_digest)
        return 0, []

    def run(self):
        """One timed ``run_pipeline`` call; returns (wall_s, result, catalog)."""
        from logdag_spark.io.catalog import Catalog
        from logdag_spark.pipeline.runner import run_pipeline

        self.n_runs += 1
        wh = os.path.join(self.work, f"wh_{self.n_runs}")
        cat = Catalog(self.spark, wh, codec="lz4")
        tokens = self.spark.read.schema(self.schema).parquet(self.tokens_path)
        t0 = time.perf_counter()
        res = run_pipeline(
            self.spark, tokens, self.host_meta, self.template_dim,
            self.dt_range, self.cfg, catalog=cat, apply_filters=True,
            hosts=self.hosts, template_specs=self.specs,
            checkpoint_stages=("events_ts", "dag_edges"),
        )
        return time.perf_counter() - t0, res, cat

    def check(self, res) -> list[str]:
        """Correctness of one unit's outputs: [] or one message naming
        every failed check."""
        errors = []
        sink_rows = sum(r["n_rows"] for r in res.sink_counts().collect())
        if sink_rows != self.n_input:
            errors.append(f"sink rows {sink_rows} != input rows {self.n_input}")
        self.sink_rows = sink_rows
        ev = res.evdim.select("unit", "eid", "host", "key", "identifier")
        edges = (
            res.edges.join(ev.toDF("unit", "src_eid", "sh", "sk", "src"), ["unit", "src_eid"])
            .join(ev.toDF("unit", "dst_eid", "dh", "dk", "dst"), ["unit", "dst_eid"])
            .select("unit", "src", "dst", "directed", "weight", "sh", "sk", "dh", "dk")
            .collect()
        )
        digest = digest_rows(r[:5] for r in edges)
        found = {
            (r["sh"], min(int(r["sk"]), int(r["dk"])), max(int(r["sk"]), int(r["dk"])))
            for r in edges if r["sh"] == r["dh"]
        }
        missing = self.truth - found
        if missing:
            errors.append(f"{len(missing)}/{len(self.truth)} injected pairs not adjacent")
        if self.reference_digest is None:
            self.reference_digest = digest
        elif digest != self.reference_digest:
            errors.append("dag_edges digest differs from the run's first unit")
        self.last_digest = digest
        self.n_edges = len(edges)
        return ["; ".join(errors)] if errors else []

    def cleanup(self) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(os.path.join(self.work, f"wh_{self.n_runs}"), ignore_errors=True)

    def unit(self):
        """run + check + cleanup: one operation.  Returns (wall_s, errors);
        wall_s is None when the run raised."""
        try:
            wall, res, _ = self.run()
            errors = self.check(res)
        except Exception as e:  # noqa: BLE001 - any raise is a failed op
            log(traceback.format_exc())
            wall, errors = None, [f"raised {type(e).__name__}: {e}"]
        self.cleanup()
        return wall, errors


def _normalize(pdf):
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(float)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatch(got, want) -> str | None:
    """Order-insensitive comparison of a Spark result with its DuckDB
    oracle.  Float columns agree to a relative 1e-9: the engines sum
    doubles in different orders, which can move a value rounded to 6
    decimals by one step in the last place."""
    import numpy as np
    import pandas as pd

    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]):
            w = want[c].astype(float).to_numpy()
            ok = np.isclose(got[c].to_numpy(), w, rtol=1e-9, atol=1e-9, equal_nan=True)
            if not ok.all():
                return f"{c}: {int((~ok).sum())} float mismatches"
        elif (got[c].astype(str) != want[c].astype(str)).any():
            return f"{c}: value mismatches"
    return None


class QueryBench:
    def __init__(self, spark, sf: str, seed: int):
        from logdag_spark.entry_queries import QUERIES

        self.spark, self.seed = spark, seed
        self.sf_dir = os.path.join(DATA, f"sf{sf}")
        self.queries = QUERIES
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)
        self.expected_rows: dict[str, int] = {}
        self.digests: dict[str, str] = {}

    def materialise(self, rep: int) -> None:
        """One input set-up: read every table through Spark and count its
        rows, all in one job."""
        from pyspark.sql import DataFrame, functions as F

        scans = [
            self.spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet"))
            .select(F.lit(t).alias("table"))
            for t in TABLES
        ]
        counts = functools.reduce(DataFrame.unionAll, scans).groupBy("table").count()
        self.table_rows = {r["table"]: r["count"] for r in counts.collect()}

    def prepare(self) -> None:
        self.n_input = sum(self.table_rows.values())

    def warm_up(self) -> tuple[int, list[str]]:
        """Untimed pass: collect every query, check it against its oracle
        or record its digest.  Returns (ops, errors)."""
        import duckdb

        con = duckdb.connect()
        for t in self.table_rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')"
            )
        errors = []
        for q in self.order:
            fn, sql = self.queries[q]
            try:
                got = fn(self.spark, self.sf_dir).toPandas()
                self.spark.catalog.clearCache()
                self.expected_rows[q] = len(got)
                if sql is not None:
                    bad = oracle_mismatch(got, con.execute(sql).fetchdf())
                else:
                    self.digests[q] = digest_rows(_normalize(got).itertuples(index=False))
                    bad = None
            except Exception as e:  # noqa: BLE001 - any raise is a failed op
                log(traceback.format_exc())
                bad = f"raised {type(e).__name__}: {e}"
            if bad:
                errors.append(f"{q}: {bad}")
        con.close()
        return len(self.order), errors

    def final_checks(self, info: dict) -> tuple[int, list[str]]:
        """Re-collect the queries without oracle SQL: same rows, same digest."""
        errors = []
        for q, want in self.digests.items():
            try:
                got = self.queries[q][0](self.spark, self.sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - any raise is a failed op
                log(traceback.format_exc())
                errors.append(f"{q} raised {type(e).__name__}: {e}")
                continue
            finally:
                self.spark.catalog.clearCache()
            if digest_rows(_normalize(got).itertuples(index=False)) != want:
                errors.append(f"{q}: digest differs between collects")
        info["query_order"] = self.order
        return len(self.digests), errors

    def unit(self, tracer=None):
        """One pass; returns (wall_s, errors).  The pass wall is the sum of
        the per-query (build + count) times."""
        wall, errors = 0.0, []
        self.query_s: dict[str, float] = {}
        for q in self.order:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    n = self._count(q)
                else:
                    n = tracer.span("entry_queries", q, self._count, q)
            except Exception as e:  # noqa: BLE001 - any raise is a failed op
                log(traceback.format_exc())
                errors.append(f"{q} raised {type(e).__name__}: {e}")
                continue
            finally:
                self.query_s[q] = time.perf_counter() - t0
                wall += self.query_s[q]
                self.spark.catalog.clearCache()
            if n != self.expected_rows.get(q):
                errors.append(f"{q}: {n} rows, checked {self.expected_rows.get(q)}")
        return wall, errors

    def _count(self, q: str) -> int:
        return self.queries[q][0](self.spark, self.sf_dir).count()
