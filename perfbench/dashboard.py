"""``dashboard``: the analyst UI.

One closed-loop client cycles 8 interactive registry rows
(:data:`QUERIES`) in a seeded order over generated tables at
:attr:`Dashboard.SF`. One op
is ``q.fn(spark, sf_dir)`` plus one action that computes every output
column: the row count and the sum of ``xxhash64(struct(*))`` as
``decimal(38,0)`` (a ``long`` sum overflows under ANSI mode).

Correctness: at set-up each query's DuckDB oracle runs on the same
parquet files, its result is cast to the Spark query's output schema and
digested the same way inside Spark. Every op, the warm-up pass included,
must reproduce the oracle's digest exactly; any other result counts as a
failed op.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from harness import median

#: One panel from each interactive query module (relational,
#: governance, policy_q, lineage_q, sketch_q, timeseries_q, vector_q,
#: retrieval_q). All 31 interactive rows cost 40-85 s of cold warm-up
#: per run on a shared 4-core machine, more than the benchmark's run
#: budget can carry.
QUERIES = (
    "flagship_pricing_summary", "v1_v2_validate_route", "t4_t6_topk_limits",
    "g1_u3_g4_g5_node_layout", "hh_heavy_hitters", "ts_gapfill", "e4_ivf_topk", "rt_bm25_topk",
)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def digest(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def oracle_digests(spark, queries, schemas: dict, sf_dir: str, out_dir: str) -> dict[str, tuple[int, int]]:
    """Each query's oracle result (DuckDB), written to parquet, cast to
    the Spark query's output schema (``schemas`` by query name) and
    digested inside Spark."""
    import duckdb
    from pyspark.sql import functions as F

    con = duckdb.connect()
    for t in TABLES.split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for q in queries:
        path = os.path.join(out_dir, f"{q.name}.parquet")
        con.execute(f"COPY ({q.oracle}) TO '{path}' (FORMAT parquet)")
        schema = schemas.get(q.name)
        odf = spark.read.parquet(path)
        by_lower = {c.lower(): c for c in odf.columns}
        if schema is None or sorted(by_lower) != sorted(f.name.lower() for f in schema.fields):
            out[q.name] = (-1, 0)  # no schema or other column names: no op can match
            continue
        out[q.name] = digest(odf.select(
            [F.col(by_lower[f.name.lower()]).cast(f.dataType).alias(f.name) for f in schema.fields]
        ))
    con.close()
    return out


class Dashboard:
    SF = 0.1

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.run_dir, "sf")

    def generate(self) -> None:
        import gen

        self.input_bytes = gen.write_tables(self.ctx.seed, self.ctx.sf, self.sf_dir)

    def setup(self) -> float:
        """Registry load and one warm-up pass; returns the program's
        set-up seconds (the oracle work is not counted).

        The warm-up pass submits the queries from one thread per CPU: it
        only has to compile every query's code paths and fill the frame
        memo, and concurrent submission shortens it (28 s instead of
        42 s on a 4-core machine at sf0.1)."""
        from regpulse_lakehouse_spark.queries import load_all

        ctx = self.ctx
        t0 = time.perf_counter()
        registry = load_all()
        self.queries = [registry[n] for n in QUERIES]

        def warm_up(q):
            df = self.run_query(q)
            return df.schema, digest(df)

        with ThreadPoolExecutor(len(self.queries)) as pool:
            futures = {q.name: pool.submit(warm_up, q) for q in self.queries}
        warm, schemas = {}, {}
        for name, fut in futures.items():
            with ctx.op(f"warm-up {name}"):
                schemas[name], warm[name] = fut.result()
        setup_s = time.perf_counter() - t0
        odir = os.path.join(ctx.run_dir, "oracle")
        os.makedirs(odir)
        self.expected = oracle_digests(ctx.spark, self.queries, schemas, self.sf_dir, odir)
        for name, d in warm.items():
            if d != self.expected[name]:
                ctx.failed += 1
                ctx.check(False, f"warm-up {name}: {d} != oracle {self.expected[name]}")
        return setup_s

    def run_query(self, q):
        df = q.fn(self.ctx.spark, self.sf_dir)
        if self.ctx.perturb and q is self.queries[0]:
            df = df.union(df.limit(1))  # one extra row: the digest must differ
        return df

    def measure(self, seconds: float, tracer) -> dict:
        """Whole seeded passes over the queries until ``seconds`` have
        elapsed (at least one pass)."""
        ctx = self.ctx
        rng = np.random.default_rng([ctx.seed, 10])
        lat, traced = [], []
        passes = 0
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < seconds:
            passes += 1
            order = rng.permutation(len(self.queries))
            if tracer.alternate:
                order = np.repeat(order, 2)  # each query once traced, once not
            for i in order:
                q = self.queries[i]
                on = tracer.next_op()
                t0 = time.perf_counter()
                with ctx.op(q.name), tracer.span("op"):
                    with tracer.span("queries.plan"):
                        df = self.run_query(q)
                    with tracer.span("queries.exec"):
                        d = digest(df)
                    ctx.check(d == self.expected[q.name], f"{q.name}: {d} != oracle {self.expected[q.name]}")
                if ctx.op_ok:
                    lat.append((time.perf_counter() - t0) * 1000)
                    traced.append(on)
        wall = time.perf_counter() - t_start
        lat = lat or [0.0]
        return {
            "latency_p50_ms": median(lat),
            "throughput_per_s": len(lat) / wall,
            # every dashboard op is an analyst read
            "read_p50_ms": median(lat),
            "op_ms": lat,
            "op_traced": traced,
        }

    def stored_bytes(self) -> int:
        """Serving state the program keeps on disk: its ``regpulse_*``
        index and store directories under the temp directory."""
        from harness import dir_bytes

        tmp = os.path.join(self.ctx.run_dir, "tmp")
        return sum(dir_bytes(os.path.join(tmp, d)) for d in os.listdir(tmp) if d.startswith("regpulse_"))

    def layers(self, tracer) -> dict:
        n = max(1, tracer.count("op"))
        return {
            "queries.plan_ms": tracer.total("queries.plan") / n,
            "queries.exec_ms": tracer.total("queries.exec") / n,
            "queries.jobs": tracer.total("op", "jobs") / n,
            "queries.tasks": tracer.total("op", "tasks") / n,
        }
