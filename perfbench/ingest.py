"""``ingest``: the governed write path, with reads alongside.

A seeded arrival stream (``gen.arrival_stream``) in the
``SOURCE_DOCUMENTS`` shape is committed one micro-batch at a time by one
closed-loop writer. A commit is ``pipelines.scan.run_scan`` (its run
summary is collected), ``DeltaLogTable.upsert`` of the main items,
``append`` of the review queue, ``insert_if_absent`` of the lineage
links, ``streaming.near_dup.incremental_near_dup`` into a
``PartitionedSignatureStore`` and ``operators.retrieval.bm25_index_append``
of the main items new to the table. After each commit a seeded set of
``bm25_search`` and ``DeltaLogTable.read_where`` reads runs against the
grown table and index.

Set-up (counted in ``setup_s``, not in the commit metrics): the three
tables, the signature store and the index are created empty, as a
deployment provisions them before its first micro-batch. Commit 0 and
one read of each kind are the warm-up: commit 0 already takes the MERGE,
append, anti-join, near-dup probe and index-append paths that every
later commit takes, so every measured path has run once before the
measured commits start at commit 1. On a 4-core machine, at 250
arrivals per commit, the empty create took 29 s, commit 0 31 s and
commits 1 and 2 26 s each: the first call of those paths costs about a
fifth more.

The scan outputs stay lazy, as the package's own
``streaming.ledger.stream_scan`` uses them, so the
``operators.delta_log.write``, ``streaming.near_dup`` and
``operators.retrieval.index_append`` spans include recomputing the scan
plan: a gain in the scan layer also lowers those spans, not only
``pipelines.scan.ms``.

Correctness: the generator knows how every arrival must route, so after
each commit the run summary, the committed row counts of all three
tables (from the Delta log's ``numRecords``), every ``read_where``
result and every search hit are checked against that expectation.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from harness import dir_bytes, median

#: Arrivals per micro-batch at sf0.1. Commit time is mostly fixed per
#: commit: on a 4-core machine a warm commit took 16-20 s at 50 arrivals
#: and 20-27 s at 250. With the empty create and the warm-up commit a
#: run takes about 84 s at 50 and 95 s at 250; 50 keeps a run near its
#: time budget of about 70 s, and one run measures one commit
#: (MIN_COMMITS) for the same reason.
BATCH = 50
WARM_COMMITS = 1  # commit 0 and its reads are set-up
MIN_COMMITS = 1  # measured commits per run, whatever --seconds says
MAX_COMMITS = 8  # micro-batches generated per run; a run stops when they run out
LINK_COLS = ["from_type", "from_id", "to_type", "to_id", "relation"]


class Ingest:
    SF = 0.1

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.run_dir, "lake")

    def generate(self) -> None:
        import gen

        batch = max(25, round(BATCH * self.ctx.sf / 0.1))
        self.batches = gen.arrival_stream(self.ctx.seed, [batch] * MAX_COMMITS)
        self.reads = gen.read_mix(self.ctx.seed, MAX_COMMITS)
        self.window = (dt.date.today() - gen.ANCHOR).days + gen.WINDOW_DAYS
        self.next = 0
        self.pairs = 0
        self.main_ids: dict[str, float] = {}  # id -> confidence
        self.review_rows = 0
        self.links: set[tuple] = set()
        self.input_bytes = 0

    def setup(self) -> float:
        """Create the tables, store and index empty, then run the
        warm-up commit and its reads; returns their seconds."""
        from pyspark.sql import functions as F

        from regpulse_lakehouse_spark.operators import retrieval as R
        from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable
        from regpulse_lakehouse_spark.pipelines.scan import run_scan
        from regpulse_lakehouse_spark.streaming.near_dup import (
            PartitionedSignatureStore,
            incremental_near_dup,
        )

        spark = self.ctx.spark
        t0 = time.perf_counter()
        self.main = DeltaLogTable(spark, os.path.join(self.root, "main"))
        self.review = DeltaLogTable(spark, os.path.join(self.root, "review"))
        self.link_tbl = DeltaLogTable(spark, os.path.join(self.root, "links"))
        self.store = PartitionedSignatureStore(spark, os.path.join(self.root, "sigstore"))
        self.index = os.path.join(self.root, "bm25")
        with self.ctx.op("create"):
            empty = run_scan(self.frame([], 0), "create", days_window=self.window)
            self.main.write(empty.main_items.withColumn("ingest_seq", F.lit(0)))
            self.review.write(empty.review_items.withColumn("ingest_seq", F.lit(0)))
            self.link_tbl.write(empty.links)
            incremental_near_dup(self.near_dup_input(empty), self.store).collect()
            R.write_bm25_index(empty.main_items, self.index, text_col="summary_1line", id_col="id",
                               batch_ref="create")
        while self.next < WARM_COMMITS:
            with self.ctx.op(f"commit {self.next}"):
                self.commit(self.ctx.untraced)
        self.run_reads(self.ctx.untraced, [], warm_up=True)
        return time.perf_counter() - t0

    @staticmethod
    def near_dup_input(res):
        from pyspark.sql import functions as F

        return res.documents.select(F.col("id").alias("doc_id"), F.col("content").alias("text"))

    def frame(self, batch, first_seq: int):
        """The micro-batch as a ``SOURCE_DOCUMENTS`` DataFrame; arrival
        order is ``arrival_seq``."""
        import gen
        from regpulse_lakehouse_spark import schemas

        t0 = dt.datetime.combine(gen.ANCHOR, dt.time())
        rows = [
            (a.id, a.url, a.domain, a.title, a.content,
             t0 + dt.timedelta(seconds=first_seq + i), a.published,
             f"h{first_seq + i:08x}", {"connector": a.profile}, first_seq + i, a.profile)
            for i, a in enumerate(batch)
        ]
        return self.ctx.spark.createDataFrame(rows, schemas.SOURCE_DOCUMENTS)

    def commit(self, tracer) -> int:
        """Commit the next micro-batch; returns its input documents."""
        from pyspark.sql import functions as F

        import gen
        from regpulse_lakehouse_spark.operators import retrieval as R
        from regpulse_lakehouse_spark.pipelines.scan import run_scan
        from regpulse_lakehouse_spark.streaming.near_dup import incremental_near_dup

        ctx = self.ctx
        batch = self.batches[self.next]
        run_id = f"run-{self.next}"
        self.next += 1
        kept = [a for a in batch if a.kept]
        main = [a for a in kept if a.main]
        prev_version = self.main.version
        with tracer.span("pipelines.scan"):
            first_seq = sum(len(b) for b in self.batches[: self.next - 1])
            res = run_scan(self.frame(batch, first_seq), run_id, days_window=self.window)
            summary = res.summary.collect()[0]
        ctx.check(
            (summary["discovered"], summary["accepted"]) == (len(kept), len(main)),
            f"{run_id} summary {summary} != expected {(len(kept), len(main))}",
        )
        main_items = res.main_items
        if ctx.perturb and self.next == WARM_COMMITS + 1:
            main_items = main_items.limit(0)  # drop the first measured batch's main items
        with tracer.span("operators.delta_log.write"):
            self.main.upsert(main_items.withColumn("ingest_seq", F.lit(self.next)), ["id"], "ingest_seq")
            self.review.append(res.review_items.withColumn("ingest_seq", F.lit(self.next)))
            self.link_tbl.insert_if_absent(res.links, LINK_COLS)
        with tracer.span("streaming.near_dup"):
            self.pairs += len(incremental_near_dup(self.near_dup_input(res), self.store).collect())
        new_main = (
            res.main_items.select("id", "summary_1line")
            .join(self.main.read(version=prev_version).select("id"), "id", "left_anti")
        )
        with tracer.span("operators.retrieval.index_append"):
            R.bm25_index_append(new_main, self.index, text_col="summary_1line", id_col="id",
                                batch_ref=run_id)
        # expected state after this commit
        for a in main:
            self.main_ids[f"item-of-{a.id}"] = gen.confidence(a.id)
        self.review_rows += len(kept) - len(main)
        for a in kept:
            self.links.add(("Run", run_id, "SourceDocument", a.id, "produced"))
        for a in main:
            item = f"item-of-{a.id}"
            self.links.add(("Run", run_id, "RegulationItem", item, "produced"))
            self.links.add(("SourceDocument", a.id, "RegulationItem", item, "extracted_from"))
        for a in kept:
            if not a.main:
                self.links.add(("Run", run_id, "RegulationItem", f"item-of-{a.id}", "queued_for_review"))
        for tbl, want, name in (
            (self.main, len(self.main_ids), "main"),
            (self.review, self.review_rows, "review"),
            (self.link_tbl, len(self.links), "links"),
        ):
            got = sum(_num_records(f) for f in tbl.active_files())
            ctx.check(got == want, f"{run_id} {name} rows {got} != expected {want}")
        self.input_bytes += sum(a.nbytes() for a in batch)
        return len(batch)

    def read(self, spec, tracer) -> None:
        from regpulse_lakehouse_spark.operators import retrieval as R

        if spec[0] == "search":
            with tracer.span("operators.retrieval.search"):
                hits = R.bm25_search(self.ctx.spark, self.index, spec[1], k=10, id_col="id").collect()
            stray = [h["id"] for h in hits if h["id"] not in self.main_ids]
            self.ctx.check(not stray, f"search {spec[1]!r} returned ids not in the table: {stray[:3]}")
            return
        _, lo, hi = spec
        with tracer.span("operators.delta_log.read_where") as s:
            rows = self.main.read_where("confidence", lo, hi).collect()
        if s is not None:
            s.counts["files_read"] = len(self.main.files_where("confidence", lo, hi))
            s.counts["files_active"] = len(self.main.active_files())
        want = {i for i, c in self.main_ids.items() if lo <= c <= hi}
        got = [r["id"] for r in rows]
        self.ctx.check(
            sorted(got) == sorted(want), f"read_where [{lo}, {hi}]: {len(got)} rows != expected {len(want)}"
        )

    def run_reads(self, tracer, read_ms: list[float], warm_up: bool = False) -> None:
        """The reads issued after the latest commit (for the warm-up,
        the first of each kind); appends the latency of each that
        succeeds to ``read_ms``."""
        specs = self.reads[self.next - 1]
        if warm_up:
            specs = list({spec[0]: spec for spec in reversed(specs)}.values())
        for spec in specs:
            tracer.next_op(unit=False)
            t0 = time.perf_counter()
            with self.ctx.op(f"read {spec}"), tracer.span("read"):
                self.read(spec, tracer)
            if self.ctx.op_ok:
                read_ms.append((time.perf_counter() - t0) * 1000)

    def measure(self, seconds: float, tracer) -> dict:
        """Commit, then run the reads, until ``seconds`` have elapsed
        and at least :data:`MIN_COMMITS` commits ran."""
        ctx = self.ctx
        first = self.next
        commit_ms, read_ms, traced = [], [], []
        docs = 0
        t_start = time.perf_counter()
        while self.next < MAX_COMMITS and (
            self.next - first < MIN_COMMITS or tracer.want_more()
            or time.perf_counter() - t_start < seconds
        ):
            on = tracer.next_op()
            t0 = time.perf_counter()
            with ctx.op(f"commit {self.next}"), tracer.span("op"):
                n = self.commit(tracer)
            if ctx.op_ok:
                commit_ms.append((time.perf_counter() - t0) * 1000)
                traced.append(on)
                docs += n
            self.run_reads(tracer, read_ms)
        commit_ms, read_ms = commit_ms or [0.0], read_ms or [0.0]
        return {
            "latency_p50_ms": median(commit_ms),
            "throughput_per_s": docs * 1000 / sum(commit_ms) if docs else 0.0,
            "read_p50_ms": median(read_ms),
            "op_ms": commit_ms,
            "op_traced": traced,
        }

    def stored_bytes(self) -> int:
        return dir_bytes(self.root)

    def layers(self, tracer) -> dict:
        n = max(1, tracer.count("pipelines.scan"))
        files = [s.counts for s in tracer.spans if s.name == "operators.delta_log.read_where"]
        return {
            "pipelines.scan.ms": tracer.total("pipelines.scan") / n,
            "pipelines.scan.tasks": tracer.total("pipelines.scan", "tasks") / n,
            "operators.delta_log.write_ms": tracer.total("operators.delta_log.write") / n,
            "operators.delta_log.bytes_written_per_input_byte":
                dir_bytes(os.path.join(self.root, "main")) / max(1, self.input_bytes),
            "operators.delta_log.files_per_commit": len(self.main.active_files()) / max(1, self.next),
            "operators.delta_log.read_where_ms":
                tracer.total("operators.delta_log.read_where") / max(1, len(files)),
            "operators.delta_log.files_read_per_lookup":
                sum(f["files_read"] / max(1, f["files_active"]) for f in files) / max(1, len(files)),
            "streaming.near_dup.ms": tracer.total("streaming.near_dup") / n,
            "streaming.near_dup.pairs": self.pairs / max(1, self.next),
            "streaming.near_dup.store_bytes": dir_bytes(self.store.root),
            "operators.retrieval.index_append_ms": tracer.total("operators.retrieval.index_append") / n,
            "operators.retrieval.index_bytes": dir_bytes(self.index),
            "operators.retrieval.committed_batches": self._committed_batches(),
            "operators.retrieval.search_ms": tracer.total("operators.retrieval.search")
                / max(1, tracer.count("operators.retrieval.search")),
        }

    def _committed_batches(self) -> int:
        from regpulse_lakehouse_spark.operators import retrieval as R

        return len(R.committed_batches(self.ctx.spark, self.index))


def _num_records(add: dict) -> int:
    import json

    return int(json.loads(add.get("stats") or "{}").get("numRecords") or 0)
