"""Scale rehearsal past the graded sf0.1: build a deterministic sf1
(10× sf0.1) under /tmp and measure the heavy query families at both
scales, printing per-query wall-time ratios (VERDICT r5 task 5: every
100 TB claim was resting on plan-shape arguments graded at ~600k rows;
this records an actual scaling curve).

Construction (no RNG, reproducible):

- ``documents`` ×10: copy c offsets doc_id by c·10^7 and suffixes
  EVERY token with ``-c{c}`` — intra-copy duplicate-cluster structure
  is preserved exactly (each copy mirrors the original's near-dup
  pairs) while cross-copy shingle overlap is zero, so pair output and
  candidate volume scale LINEARLY with the corpus (10×). A naive
  replicate-verbatim would grow every duplicate cluster 10× and the
  pairwise output 100× — that measures all-pairs semantics, not plan
  scaling.
- ``embeddings`` ×10: vec_id offset, each component shifted by
  c·0.0037 (keeps vectors distinct; ANN cost depends on volume).
- ``orders``/``lineitem`` ×10: order keys offset by c·10^7, customer
  and part keys untouched — 10× the edge volume over the same
  dimension tables, the shape s6's dedup + anti-join actually faces.
- ``events`` ×10 (round 10 — closes the standing "events not
  replicated" caveat): event_id offset by c·10^7, user_id by c·10^6,
  timestamps UNTOUCHED — cross-copy users are disjoint, so the
  user-keyed families (interval stream join state, session windows,
  heavy-hitter shards) scale their true work 10× while the time grid
  (tumbling buckets, gapfill grid) stays fixed, which is exactly the
  production shape: more traffic, same dashboard resolution.
- remaining tables symlinked from sf0.1 (dimensions don't scale in
  this rehearsal).

Usage: python scripts/scale_rehearsal.py [--copies 10] [--iters 3]
Writes /tmp/regpulse_sf1/ once (idempotent) and prints one JSON line
with cold + warm-median per query per scale and the warm ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HEAVY = [
    "dd_exact_dedup",
    "dd_ngram_jaccard",
    "dd_minhash_lsh_pairs",
    "dd_incremental_near_dup",
    "dd_simhash_near_dup",
    "dd_embedding_near_dup",
    "e4_ivf_topk",
    "e4_batch_similarity",
    "s3_s6_upsert_antijoin",
]

BASE = "/root/testdata/sf0.1"
OFF = 10_000_000


def build_sf1(spark, root: str, copies: int) -> None:
    from pyspark.sql import functions as F

    from regpulse_lakehouse_spark.sources.tpch import TABLES, load_table

    # _built_v2: events replication added r10 — older dirs rebuild
    if os.path.exists(os.path.join(root, "_built_v2")):
        return
    os.makedirs(root, exist_ok=True)

    def replicate(name, transforms):
        df = load_table(spark, BASE, name)
        parts = []
        for c in range(copies):
            parts.append(transforms(df, c))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.coalesce(8).write.mode("overwrite").parquet(
            os.path.join(root, f"{name}.parquet")
        )

    replicate(
        "documents",
        lambda df, c: df.select(
            (F.col("doc_id") + c * OFF).alias("doc_id"),
            *[col for col in df.columns if col not in ("doc_id", "text")],
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(t, F.lit(f"-c{c}")),
                ),
                " ",
            ).alias("text"),
        ).select(*df.columns),
    )
    replicate(
        "embeddings",
        lambda df, c: df.select(
            (F.col("vec_id") + c * OFF).alias("vec_id"),
            *[col for col in df.columns if col not in ("vec_id", "embedding")],
            F.transform(
                F.col("embedding"), lambda x: x + F.lit(c * 0.0037)
            ).cast(df.schema["embedding"].dataType).alias("embedding"),
        ).select(*df.columns),
    )
    replicate(
        "events",
        lambda df, c: df.withColumn(
            "event_id", F.col("event_id") + c * OFF
        ).withColumn("user_id", F.col("user_id") + c * 1_000_000),
    )
    replicate(
        "orders",
        lambda df, c: df.withColumn("o_orderkey", F.col("o_orderkey") + c * OFF),
    )
    replicate(
        "lineitem",
        lambda df, c: df.withColumn("l_orderkey", F.col("l_orderkey") + c * OFF),
    )
    for t in TABLES:
        dst = os.path.join(root, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE, f"{t}.parquet"), dst)
    with open(os.path.join(root, "_built_v2"), "w") as fh:
        fh.write("ok")


def bm25_rehearsal(spark, root: str, copies: int, iters: int) -> dict:
    """Hit-bearing BM25 at scale (r10 VERDICT task 3): the corpus
    construction suffixes every token per copy, so the graded row's
    fixed query matches ZERO docs at sf1/sf10 and the old rehearsal
    number measured the scan-with-no-hits path. The serving shape is
    "corpus grows, query stays": here the scaled point queries ONE
    copy's dialect (terms suffixed ``-c{mid}``), which matches exactly
    as many docs as the base query does at sf0.1 — nonzero hits over a
    10×/100× corpus. Also re-verifies the persisted-index claim at
    scale: bm25_search must read posting files from at most
    |query terms| tb bucket dirs regardless of corpus size."""
    import statistics as st

    from regpulse_lakehouse_spark.operators.retrieval import (
        bm25_search, bm25_topk, committed_batches, write_bm25_index,
    )
    from regpulse_lakehouse_spark.sources.tpch import load_table

    mid = copies // 2
    base_q = "dup vector scan"
    scaled_q = " ".join(f"{t}-c{mid}" for t in base_q.split())
    scaled_tag = f"sf{copies / 10:g}"
    out: dict = {}
    for sf_dir, tag, query in [(BASE, "sf0.1", base_q), (root, scaled_tag, scaled_q)]:
        docs = load_table(spark, sf_dir, "documents")
        t0 = time.perf_counter()
        n = bm25_topk(docs, query, k=25).count()
        cold = round(time.perf_counter() - t0, 3)
        samples = []
        for _ in range(iters):
            t0 = time.perf_counter()
            bm25_topk(docs, query, k=25).count()
            samples.append(time.perf_counter() - t0)
        out[tag] = {
            "query": query, "rows": n, "cold": cold,
            "warm": round(st.median(samples), 3),
            "spread": [round(min(samples), 3), round(max(samples), 3)],
        }
        print(f"  bm25 scan-path {tag}: rows={n} warm={out[tag]['warm']}",
              file=sys.stderr, flush=True)
    out["warm_ratio"] = round(
        out[scaled_tag]["warm"] / max(out["sf0.1"]["warm"], 1e-9), 2
    )
    # persisted-index serving path over the scaled corpus
    idx = f"{root}_bm25idx"
    if not committed_batches(spark, idx):
        write_bm25_index(load_table(spark, root, "documents"), idx)
    res = bm25_search(spark, idx, scaled_q, k=25)
    t0 = time.perf_counter()
    n = res.count()
    cold = round(time.perf_counter() - t0, 3)
    samples = []
    for _ in range(iters):
        t0 = time.perf_counter()
        bm25_search(spark, idx, scaled_q, k=25).count()
        samples.append(time.perf_counter() - t0)
    # bucket-pruning evidence: the physical scan must carry a tb
    # PartitionFilter (df.inputFiles() lists the relation's FULL file
    # index pre-pruning, so it cannot witness this)
    plan = res._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:200] if "PartitionFilters" in plan else ""
    out["index_path"] = {
        "rows": n, "cold": cold, "warm": round(st.median(samples), 3),
        "bucket_pruned": "tb" in pf,
        "partition_filter": pf.split("]")[0][:120],
    }
    print(f"  bm25 index-path {scaled_tag}: rows={n} "
          f"warm={out['index_path']['warm']} pruned={'tb' in pf}",
          file=sys.stderr, flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--queries", nargs="*", default=HEAVY)
    ap.add_argument("--bm25", action="store_true",
                    help="run the hit-bearing BM25 rehearsal instead")
    args = ap.parse_args()

    from regpulse_lakehouse_spark.queries import load_all
    from regpulse_lakehouse_spark.session import get_spark

    spark = get_spark("scale_rehearsal")
    scaled_tag = f"sf{args.copies / 10:g}"
    root = f"/tmp/regpulse_{scaled_tag}"
    build_sf1(spark, root, args.copies)
    if args.bm25:
        print(json.dumps({"bm25": bm25_rehearsal(spark, root, args.copies, args.iters)}))
        return
    registry = load_all()

    out: dict[str, dict] = {}
    for sf_dir, tag in [(BASE, "sf0.1"), (root, scaled_tag)]:
        load_before = round(os.getloadavg()[0], 2)
        for name in args.queries:
            q = registry[name]
            t0 = time.perf_counter()
            n = q.fn(spark, sf_dir).count()
            cold = round(time.perf_counter() - t0, 3)
            samples = []
            for _ in range(args.iters):
                t0 = time.perf_counter()
                q.fn(spark, sf_dir).count()
                samples.append(time.perf_counter() - t0)
            rec = out.setdefault(name, {})
            rec[tag] = {
                "rows": n,
                "cold": cold,
                "warm": round(statistics.median(samples), 3),
                "spread": [round(min(samples), 3), round(max(samples), 3)],
                "loadavg": load_before,
            }
            print(
                f"  {tag} {name}: rows={n} cold={cold} "
                f"warm={rec[tag]['warm']} {rec[tag]['spread']}",
                file=sys.stderr,
                flush=True,
            )
    for name, rec in out.items():
        if "sf0.1" in rec and scaled_tag in rec:
            rec["warm_ratio"] = round(
                rec[scaled_tag]["warm"] / max(rec["sf0.1"]["warm"], 1e-9), 2
            )
            rec["rows_ratio"] = round(
                rec[scaled_tag]["rows"] / max(rec["sf0.1"]["rows"], 1), 2
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
