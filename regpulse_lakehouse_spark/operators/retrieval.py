"""BM25 full-text retrieval — inverted-index construction and ranked
search over the documents table.

Beyond-reference training-data-pipeline operator (the reference's only
retrieval surface is vector file_search, services/api/src/search.ts;
lexical retrieval is the standard complement for corpus curation:
quality-slice mining, targeted decontamination lookups, RAG-corpus
audits). Scoring is Lucene-flavoured BM25:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d, q) = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

Spark-first shape, two serving modes:

- **One-shot** (``bm25_topk``): the query's term set is tiny, so the
  exploded token stream is filtered to query terms BEFORE any
  aggregation — the per-(doc, term) tf agg and per-term df agg only ever
  see matching postings. Corpus stats (N, avgdl) are one tiny aggregate
  (2 scalar values collected). No index needed.
- **Persisted index** (``write_bm25_index`` / ``bm25_search``): one
  Delta table (:class:`~.delta_log.DeltaLogTable`) of posting rows
  (id, dl, term, tf), partitioned by the term bucket
  ``tb = crc32(term) % n_buckets``. Every build, append, delete and
  compaction is exactly one log commit, and the commit carries the
  index state with its data: ``metaData.configuration`` holds
  ``n_buckets``, N and Σdl (avgdl = Σdl / N), and one Delta ``txn``
  action per batch ref records which batches are live. A search
  therefore plans from the replayed log alone — schema, corpus
  statistics and the files of the query's buckets — and its only Spark
  jobs are the scoring query's. df is computed in that query from the
  scanned postings (one posting per (doc, term), so the count of a
  term's postings is its df). A query touches at most |query-terms|
  buckets: the driver keeps only their files, and the ``tb``
  partition filter plus a pushed ``term IN (...)`` scan filter stay
  in the plan. ``dl`` is denormalized onto every posting so query time
  needs no doc-table join; parquet dictionary-encodes the repeats away.

Everything is pure column expressions — no Python stage anywhere.
"""

from __future__ import annotations

import zlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from .delta_log import DeltaLogTable, Snapshot

#: Characters that separate terms; mirrors functions.text.tokens (lowercased).
_K1_DEFAULT = 1.2
_B_DEFAULT = 0.75


def query_terms(query: str) -> list[str]:
    """Driver-side query tokenization — must mirror the corpus-side
    ``tokens(lower(text))`` EXACTLY, i.e. Java's ``\\s`` class
    ([ \\t\\n\\x0b\\f\\r], ASCII-only). Python's ``str.split()`` would
    NOT (it also splits on \\xa0 and other unicode spaces, so a query
    pasted from web text could match different postings than the same
    text tokenized corpus-side). Distinct, order-stable."""
    import re

    seen: dict[str, None] = {}
    for t in re.split(r"[ \t\n\x0b\f\r]+", query.lower()):
        if t:
            seen.setdefault(t, None)
    return list(seen)


def postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    terms: list[str] | None = None,
) -> DataFrame:
    """(term, id, tf, dl) posting rows. With ``terms`` given, the explode
    stream is filtered before the tf aggregate — the shuffle carries only
    matching postings (the one-shot query path)."""
    toks = tokens(F.lower(F.col(text_col)))
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    if terms is not None:
        base = base.filter(F.col("term").isin(*terms))
    return base.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))


def corpus_stats(docs: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(N, avgdl) — one tiny aggregate, two scalars collected. At 100 TB
    these are maintained table statistics; recomputing is one scan of the
    token-count column only (column pruning keeps it narrow)."""
    row = docs.select(F.size(tokens(F.lower(F.col(text_col)))).alias("dl")).agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).first()
    return int(row["n"]), float(row["avgdl"] or 0.0)


def _term_score(n_docs: int, avgdl: float, k1: float, b: float):
    """The per-(doc, term) BM25 contribution as a Column expression
    over ``tf``/``df``/``dl`` — the ONE place the formula lives (the
    single-query and batch paths both score with it, which is what
    keeps their tested equivalence honest)."""
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(max(avgdl, 1e-9)))
    return idf * F.col("tf") * (k1 + 1.0) / denom


def _empty_result(spark, id_field) -> DataFrame:
    """Schema-faithful empty result: the id column keeps the corpus id
    type (a blank query must not change the output schema)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [
            id_field,
            StructField("bm25", DoubleType()),
            StructField("n_terms_matched", LongType()),
        ]
    )
    return spark.createDataFrame([], schema)


def _score(post: DataFrame, df_tbl: DataFrame, n_docs: int, avgdl: float,
           id_col: str, k: int, k1: float, b: float,
           max_df_ratio: float | None = None, min_match: int = 1) -> DataFrame:
    """Join per-term df onto postings, score, sum per doc, global top-k
    (TakeOrdered — k is small). df side is tiny (≤ |query terms| rows)
    and broadcast.

    ``max_df_ratio`` drops query terms matching more than that fraction
    of the corpus BEFORE the postings join — the stopword guard that
    matters at index scale, where 'the' alone is a posting list the
    size of the corpus; because the df side is the broadcast build
    side, pruning it prunes the big probe side for free. ``min_match``
    keeps only docs matching at least that many (surviving) query
    terms — the Lucene minimum_should_match knob."""
    if max_df_ratio is not None:
        df_tbl = df_tbl.filter(F.col("df") <= float(max_df_ratio) * n_docs)
    term_score = _term_score(n_docs, avgdl, k1, b)
    scored = (
        post.join(F.broadcast(df_tbl), "term")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(term_score), 6).alias("bm25"),
            F.count("*").alias("n_terms_matched"),
        )
    )
    if min_match > 1:
        scored = scored.filter(F.col("n_terms_matched") >= min_match)
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = _K1_DEFAULT,
    b: float = _B_DEFAULT,
    max_df_ratio: float | None = None,
    min_match: int = 1,
) -> DataFrame:
    """One-shot BM25 top-k: (id, bm25, n_terms_matched), best first,
    id-ascending tie-break. Two scans of ``docs`` (stats + postings),
    both filtered/pruned; everything after the explode carries only
    query-term postings. ``max_df_ratio``/``min_match`` per _score."""
    terms = query_terms(query)
    if not terms:
        return _empty_result(docs.sparkSession, docs.schema[id_col])
    n_docs, avgdl = corpus_stats(docs, text_col)
    post = postings(docs, text_col, id_col, terms=terms)
    df_tbl = post.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    return _score(post, df_tbl, n_docs, avgdl, id_col, k, k1, b,
                  max_df_ratio=max_df_ratio, min_match=min_match)


# -- persisted index ------------------------------------------------------
#: ``metaData.configuration`` keys of an index (spec values are strings)
_N_BUCKETS = "bm25.nBuckets"
_N_DOCS = "bm25.numDocs"
_SUM_DL = "bm25.sumDl"
#: live delete batches (comma-separated numbers), so that
#: committed_batches lists postings batches only
_DELETES = "bm25.deleteBatches"


def _bucket(term: Column, n_buckets: int) -> Column:
    """The posting's term bucket, as the writer computes it."""
    return F.pmod(F.crc32(term.cast("binary")), F.lit(n_buckets)).cast("int")


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver twin of :func:`_bucket` (crc32 of the UTF-8 bytes): a
    search finds its buckets without running a job."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _open(spark: SparkSession, path: str) -> tuple[DeltaLogTable, Snapshot | None]:
    """The index table and its latest snapshot (None before the first
    commit, e.g. after a torn build)."""
    tbl = DeltaLogTable(spark, path, partition_columns=["tb"])
    try:
        return tbl, tbl.snapshot()
    except FileNotFoundError:
        return tbl, None


def _delete_batches(snap: Snapshot) -> set[int]:
    return {int(b) for b in snap.configuration.get(_DELETES, "").split(",") if b}


def _live_batches(snap: Snapshot | None) -> dict[int, str]:
    """{batch_number: ref} of the live postings batches. Each batch ref
    is a ``txn`` appId whose version is the batch number; version 0
    marks a ref whose batch was folded by a compaction or superseded
    by a rebuild."""
    if snap is None:
        return {}
    deletes = _delete_batches(snap)
    return dict(sorted((v, ref) for ref, v in snap.txns.items() if v > 0 and v not in deletes))


def committed_batches(spark, path: str) -> dict[int, str]:
    """{batch_number: idempotency_ref} of the index's live postings
    batches, read from the log (no Spark job)."""
    return _live_batches(_open(spark, path)[1])


def historical_refs(spark, path: str) -> set[str]:
    """Idempotency refs of batches folded away by compaction (or
    superseded by a rebuild) — append and delete check these too, so
    replays of those batches stay no-ops."""
    snap = _open(spark, path)[1]
    return {ref for ref, v in snap.txns.items() if v == 0} if snap else set()


def _require_index(path: str, snap: Snapshot | None) -> None:
    if not _live_batches(snap):
        raise FileNotFoundError(
            f"no committed batches under {path} — the index is unbuilt or its "
            "build is torn; build it with write_bm25_index"
        )


def _index_batch(
    docs: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> tuple[DataFrame, int, int]:
    """(postings clustered by ``tb``, N, Σdl) of one batch of documents.
    Token-less documents count in N with dl 0. The batch is evaluated
    once: the stats agg and the postings write both read these blocks
    (an append's batch is typically an anti-join against the main
    table, which would otherwise run twice)."""
    docs = docs.select(id_col, text_col).localCheckpoint(eager=False)
    stats = docs.select(
        F.greatest(F.size(tokens(F.lower(F.col(text_col)))), F.lit(0)).alias("dl")
    ).agg(F.count("*").alias("n"), F.sum("dl").alias("s")).first()
    post = (
        postings(docs, text_col, id_col)
        .withColumn("tb", _bucket(F.col("term"), n_buckets))
        .repartition("tb")  # one file per bucket per commit
    )
    return post, int(stats["n"]), int(stats["s"] or 0)


def write_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    batch_ref: str = "build",
) -> None:
    """Build the index at ``path`` as one overwrite commit of a Delta
    table partitioned by ``tb`` (one file per bucket): the postings, the
    corpus statistics and ``batch_ref`` as live batch 1 land together,
    so a torn build commits nothing and a REBUILD over a live index
    leaves readers on the old snapshot until its commit, then the new
    one — never a mix. A rebuild supersedes every earlier batch: their
    refs stay known (:func:`historical_refs`), so replaying one is a
    no-op. An empty ``docs`` commits the schema with no files, and
    searches over it return no hits."""
    tbl, snap = _open(docs.sparkSession, path)
    post, n_docs, sum_dl = _index_batch(docs, text_col, id_col, n_buckets)
    txns = {ref: 0 for ref in snap.txns} if snap else {}
    txns[batch_ref] = 1
    config = {_N_BUCKETS: str(n_buckets), _N_DOCS: str(n_docs), _SUM_DL: str(sum_dl),
              _DELETES: ""}
    tbl.write(post, configuration=config, txns=txns)


def bm25_index_append(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_ref: str | None = None,
) -> int:
    """Grow a persisted index by one batch of NEW documents (disjoint
    ids — upsert is a different operator) in one add-only commit: the
    batch's postings (one file per bucket it fills), N and Σdl raised
    by the batch's counts, and the batch's ref. Nothing is rewritten,
    and since postings and counts are additive, search over
    build+appends is byte-equal to a fresh build over the union — the
    same incremental contract as
    streaming/near_dup.PartitionedSignatureStore and
    quantize.ivf_pq_append.

    Exactly-once: pass ``batch_ref`` (any stable id — the streaming
    micro-batch id, an ingest ledger key) and a replay of an
    already-committed ref is a no-op; a TORN append (files staged, no
    log commit) is invisible, and its replay writes and commits the
    batch afresh under the same number. Returns the batch number (the
    existing one on a no-op replay, 0 for a ref folded by compaction).
    Single writer, like every DeltaLogTable commit here."""
    tbl, snap = _open(docs.sparkSession, path)
    _require_index(path, snap)
    if batch_ref is not None and batch_ref in snap.txns:
        return snap.txns[batch_ref]
    cfg = snap.configuration
    b = max(snap.txns.values()) + 1
    post, n_docs, sum_dl = _index_batch(docs, text_col, id_col, int(cfg[_N_BUCKETS]))
    tbl.append(
        post,
        configuration={_N_DOCS: str(int(cfg[_N_DOCS]) + n_docs),
                       _SUM_DL: str(int(cfg[_SUM_DL]) + sum_dl)},
        txns={batch_ref if batch_ref is not None else f"append-{b}": b},
    )
    return b


def bm25_index_delete(
    spark: SparkSession,
    path: str,
    ids,
    id_col: str = "doc_id",
    batch_ref: str | None = None,
) -> int:
    """Delete documents from the index physically, in one commit: the
    files holding their postings (stats-pruned on the id column, then a
    semi-join, as MERGE prunes) are rewritten without them, and the
    same commit lowers N and Σdl by the deleted documents. Scores right
    after a delete therefore equal a fresh build over the survivors. A
    deleted token-less document has no postings, so nothing tells the
    index it was there: it stays counted in N (with dl 0) until a
    rebuild. ``ids`` is a list or a 1-column DataFrame; either way the
    match uses the POSTINGS' id type (an int-vs-long or
    string-vs-numeric join would coerce both sides and could mis-match
    large ids); a DataFrame whose id type disagrees is rejected loudly
    unless the cast is a lossless integral widening. Same ``batch_ref``
    exactly-once contract as append (a replay returns 0). Returns the
    delete's batch number, taken from the same ordering as appends."""
    tbl, snap = _open(spark, path)
    _require_index(path, snap)
    if batch_ref is not None and batch_ref in snap.txns:
        return 0
    id_type = snap.schema[id_col].dataType
    if isinstance(ids, list):
        from pyspark.sql import types as T

        ids = spark.createDataFrame(
            [(i,) for i in ids], T.StructType([T.StructField(id_col, id_type)])
        )
    elif ids.schema[id_col].dataType != id_type:
        # lossless integral widening (byte→short→int→long) is safe to
        # cast up-front; everything else could mis-match (e.g. a
        # long-vs-int join coerces both sides, and string-vs-numeric
        # would silently match nothing)
        _widen = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
        got = ids.schema[id_col].dataType.simpleString()
        want = id_type.simpleString()
        if got in _widen and want in _widen and _widen[got] < _widen[want]:
            ids = ids.withColumn(id_col, F.col(id_col).cast(id_type))
        else:
            raise TypeError(
                f"ids.{id_col} is {got} but the "
                f"index postings store {want} — pass matching ids "
                "(an implicit coercion could mis-match large numeric ids)"
            )
    cfg = snap.configuration
    b = max(snap.txns.values()) + 1

    def lowered_stats(deleted: DataFrame) -> dict:
        row = deleted.select(id_col, "dl").distinct().agg(
            F.count("*").alias("n"), F.sum("dl").alias("s")
        ).first()
        return {
            _N_DOCS: str(int(cfg[_N_DOCS]) - int(row["n"])),
            _SUM_DL: str(int(cfg[_SUM_DL]) - int(row["s"] or 0)),
            _DELETES: ",".join(str(d) for d in sorted(_delete_batches(snap) | {b})),
        }

    tbl.delete_matching(
        ids.select(id_col), [id_col], configuration=lowered_stats,
        txns={batch_ref if batch_ref is not None else f"delete-{b}": b},
    )
    return b


def apply_changes_to_bm25_index(
    changes: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_ref: str | None = None,
) -> None:
    """Route a keyed change feed (upsert.snapshot_changes /
    VersionedParquetTable.changes: _change_type ∈ insert /
    update_postimage / delete) into the index: deletes AND updates
    delete the old ids' postings first, then inserts AND updates
    append the new text, so an updated doc keeps only its NEW
    postings. With ``batch_ref`` both legs are exactly-once (refs
    ``{ref}-del`` / ``{ref}-add``); a crash between them replays
    safely. This is the incremental bridge from the versioned table to
    the search index — O(changes), never a rebuild."""
    spark = changes.sparkSession
    # the feed is a full-outer snapshot diff — pin it once instead of
    # re-running it for each isEmpty probe + each leg's write
    changes = changes.localCheckpoint(eager=False)
    dels = changes.filter(
        F.col("_change_type").isin("delete", "update_postimage")
    ).select(id_col)
    adds = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(id_col, text_col)
    if not dels.isEmpty():
        bm25_index_delete(
            spark, path, dels, id_col=id_col,
            batch_ref=f"{batch_ref}-del" if batch_ref is not None else None,
        )
    if not adds.isEmpty():
        bm25_index_append(
            adds, path, text_col=text_col, id_col=id_col,
            batch_ref=f"{batch_ref}-add" if batch_ref is not None else None,
        )


def bm25_index_compact(spark: SparkSession, path: str) -> int:
    """Fold all live batches into ONE (the lifecycle's third verb:
    build → append* → compact when the per-bucket file count grows):
    an OPTIMIZE commit that rewrites the index to one file per bucket
    and renumbers the live batches to batch 1. Deletes already removed
    their postings and lowered the statistics, so there is nothing to
    purge and N/Σdl carry over unchanged: search results are
    byte-identical before and after (tested). The folded refs stay in
    the log as ``txn`` actions of version 0 (:func:`historical_refs`),
    so at-least-once replays of pre-compaction batches stay no-ops.
    Compaction also bounds a search's scan to one file per query
    bucket: past 32 files Spark spends one extra listing job per
    search (see DeltaLogTable.read_files). The replaced files stay on
    disk for time travel until ``DeltaLogTable.vacuum``. Returns the
    number of batches folded (postings and delete batches)."""
    tbl, snap = _open(spark, path)
    live = _live_batches(snap)
    deletes = _delete_batches(snap) if snap else set()
    if len(live) <= 1 and not deletes:
        return len(live)
    txns = {ref: 0 for ref in snap.txns}
    txns[f"compact-{len(live)}"] = 1
    tbl.compact(configuration={_DELETES: ""}, txns=txns)
    return len(live) + len(deletes)


def bm25_search(
    spark: SparkSession,
    path: str,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = _K1_DEFAULT,
    b: float = _B_DEFAULT,
    max_df_ratio: float | None = None,
    min_match: int = 1,
) -> DataFrame:
    """Serve BM25 top-k from a persisted index. Planned from the
    replayed log with no Spark job: schema, N and avgdl come from the
    snapshot, the query's buckets from :func:`term_bucket`, and the
    scan reads only the active files of those buckets, with the ``tb``
    partition filter and the ``term IN (...)`` predicate pushed into
    the parquet scan — corpus size never enters the query cost, only
    posting-list length does. ``max_df_ratio`` is the
    posting-list-length guard for exactly that residual cost (see
    _score). Every append adds up to one file per bucket, and Spark
    lists more than 32 scanned files in an extra job, so compact
    (:func:`bm25_index_compact`) once |query terms| × batches passes
    that. Same result contract as ``bm25_topk``."""
    tbl, snap = _open(spark, path)
    _require_index(path, snap)
    schema = snap.schema
    terms = query_terms(query)
    cfg = snap.configuration
    n_buckets = int(cfg[_N_BUCKETS])
    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    files = sorted(
        p for p, add in snap.files.items() if int(add["partitionValues"]["tb"]) in buckets
    )
    if not files:
        return _empty_result(spark, schema[id_col])
    post = (
        tbl.read_files(files, schema)
        .filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*terms))
    )
    # one posting per (doc, term): a term's posting count is its df
    df_tbl = post.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = int(cfg[_N_DOCS])
    avgdl = int(cfg[_SUM_DL]) / n_docs if n_docs else 0.0
    return _score(post, df_tbl, n_docs, avgdl, id_col, k, k1, b,
                  max_df_ratio=max_df_ratio, min_match=min_match)


def bm25_topk_batch(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = _K1_DEFAULT,
    b: float = _B_DEFAULT,
) -> DataFrame:
    """Many queries in ONE plan — no driver loop: (query_id, id, bm25,
    n_terms_matched), per-query top-k, best first. The query table is
    tiny (a serving batch), so its distinct term set broadcasts twice:
    once to pre-filter the exploded corpus stream (postings only ever
    carry the batch's terms) and once to fan matching postings out to
    the queries that want them. Per-term df is one aggregate over the
    same filtered-postings subplan — global df, shared across queries
    (AQE exchange reuse shares the underlying shuffle). Top-k is a
    per-query rank window over scored docs (bounded by matches, ranked
    with Spark's rank-limit pushdown)."""
    from pyspark.sql.window import Window as W

    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(tokens(F.lower(F.col(query_text_col))))).alias("term"),
    )
    term_set = qterms.select("term").distinct()
    n_docs, avgdl = corpus_stats(docs, text_col)
    toks = tokens(F.lower(F.col(text_col)))
    post = (
        docs.select(F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("term"))
        .join(F.broadcast(term_set), "term", "left_semi")
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = post.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    scored = (
        post.join(F.broadcast(df_tbl), "term")
        .join(F.broadcast(qterms), "term")
        .groupBy(query_id_col, id_col)
        .agg(
            F.round(F.sum(_term_score(n_docs, avgdl, k1, b)), 6).alias("bm25"),
            F.count("*").alias("n_terms_matched"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy(query_id_col, F.desc("bm25"), F.asc(id_col))
    )


def hybrid_search_indexed(
    spark: SparkSession,
    bm25_path: str,
    ivf_pq_path: str,
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    fetch_k: int = 50,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    n_probe: int = 4,
    rescore_corpus: DataFrame | None = None,
    c: int = 60,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Index-serving hybrid retrieval: the persisted BM25 index
    (bucket-pruned lexical leg) fused by RRF with the persisted IVF-PQ
    index (cell-pruned ADC leg, operators/quantize.ivf_pq_search) —
    both legs read a handful of partition directories, so a query
    against a 100 TB corpus touches megabytes. The exact-cosine swap
    in ``hybrid_search`` is the corpus-scan counterpart; this is what
    actually serves."""
    from .quantize import ivf_pq_search

    lex = bm25_search(
        spark, bm25_path, query_text, k=fetch_k, id_col=id_col,
        max_df_ratio=max_df_ratio,
    )
    qdf = spark.createDataFrame([("q0", query_vec)], "query_id string, qe array<double>")
    sem_score = "cosine_sim" if rescore_corpus is not None else "adc_score"
    sem = (
        ivf_pq_search(
            spark, ivf_pq_path, qdf, n_probe=n_probe, k=fetch_k,
            id_col=vec_id_col, rescore_corpus=rescore_corpus,
        )
        .withColumnRenamed(vec_id_col, id_col)
        .select(id_col, sem_score)
    )
    return rrf_fuse([(lex, "bm25"), (sem, sem_score)], id_col=id_col, k=k, c=c)


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "bm25",
    rel_col: str = "relevance",
) -> DataFrame:
    """Per-query IR quality metrics of a ranked candidate table against
    graded judgments: (query_id, n_relevant, recall_at_k, mrr,
    ndcg_at_k). ``results`` is any scored candidate list (BM25, ANN,
    fused); ``qrels`` is (query_id, id, relevance) with relevance > 0
    meaning relevant (graded values feed the DCG).

    Standard definitions: recall@k over binary relevance; MRR from the
    first relevant rank (0 when none retrieved); nDCG@k with
    rel/log2(rank+1) gains, ideal ranking taken from the query's own
    qrels. Queries with no relevant judgments are omitted (metrics are
    undefined there).

    Plan shape: ranks are per-query windows over candidate lists
    (bounded by fetch-k) and per-query qrel windows (bounded by
    judgments) — both partitioned by query id, no global sort; one
    equi-join on (query, doc). Runs over a million-query eval table as
    happily as ten."""
    from pyspark.sql.window import Window as W

    wq = W.partitionBy(query_id_col)
    ranked = (
        results.withColumn(
            "_rank",
            F.row_number().over(wq.orderBy(F.desc(score_col), F.asc(id_col))),
        )
        .filter(F.col("_rank") <= k)
        .select(query_id_col, id_col, "_rank")
    )
    judged = qrels.filter(F.col(rel_col) > 0).select(
        query_id_col, id_col, F.col(rel_col).cast("double").alias("_rel")
    )
    # ideal DCG: each query's own judgments, best-first, top-k
    ideal = (
        judged.withColumn(
            "_irank",
            F.row_number().over(wq.orderBy(F.desc("_rel"), F.asc(id_col))),
        )
        .filter(F.col("_irank") <= k)
        .groupBy(query_id_col)
        .agg(F.sum(F.col("_rel") / F.log2(F.col("_irank") + 1)).alias("_idcg"))
    )
    n_rel = judged.groupBy(query_id_col).agg(F.count("*").alias("n_relevant"))
    hits = ranked.join(judged, [query_id_col, id_col])
    per_query = hits.groupBy(query_id_col).agg(
        F.count("*").alias("_n_hits"),
        F.min("_rank").alias("_first_rank"),
        F.sum(F.col("_rel") / F.log2(F.col("_rank") + 1)).alias("_dcg"),
    )
    return (
        n_rel.join(ideal, query_id_col)
        .join(per_query, query_id_col, "left")
        .select(
            query_id_col,
            "n_relevant",
            F.round(F.coalesce(F.col("_n_hits"), F.lit(0)) / F.col("n_relevant"), 6).alias(
                "recall_at_k"
            ),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("_first_rank"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(
                F.coalesce(F.col("_dcg"), F.lit(0.0)) / F.col("_idcg"), 6
            ).alias("ndcg_at_k"),
        )
    )


def rrf_fuse(
    rankings: list[tuple[DataFrame, str]],
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N candidate
    lists: each input is (frame, score_col); a candidate's fused score
    is sum over lists of 1/(c + rank). Returns (id, rrf_score,
    n_lists), best first, id-ascending tie-break.

    Each input must already be a BOUNDED top-k candidate list (the
    retrievers' fetch-k output) — ranks come from one unpartitioned
    row_number window, which is safe precisely because the inputs are
    a few dozen rows, never a corpus. Ranks are 1-based, ordered by
    score desc then id asc (deterministic under score ties)."""
    from pyspark.sql.window import Window as W

    scored = []
    for frame, score_col in rankings:
        w = W.orderBy(F.desc(score_col), F.asc(id_col))
        scored.append(
            frame.select(
                F.col(id_col),
                (F.lit(1.0) / (F.lit(float(c)) + F.row_number().over(w))).alias("_rrf"),
            )
        )
    unioned = scored[0]
    for s in scored[1:]:
        unioned = unioned.unionByName(s)
    return (
        unioned.groupBy(id_col)
        .agg(F.round(F.sum("_rrf"), 9).alias("rrf_score"), F.count("*").alias("n_lists"))
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    fetch_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    c: int = 60,
) -> DataFrame:
    """Lexical + semantic retrieval fused by RRF — the standard hybrid
    serving shape: BM25 top-``fetch_k`` over ``docs`` and exact cosine
    top-``fetch_k`` over ``embeddings`` (broadcast single-row query,
    zero shuffles), fused into one ranked list keyed by ``id_col``.
    Swap the exact cosine leg for operators/quantize.ivf_pq_search at
    index-serving scale — any (id, score) candidate list fuses."""
    from .vector import topk_neighbors

    spark = docs.sparkSession
    lex = bm25_topk(docs, query_text, k=fetch_k, text_col=text_col, id_col=id_col)
    qdf = spark.createDataFrame([(query_vec,)], "qe array<double>")
    sem = topk_neighbors(
        embeddings, qdf, k=fetch_k, id_col=vec_id_col, vec_col=vec_col
    ).withColumnRenamed(vec_id_col, id_col)
    return rrf_fuse([(lex, "bm25"), (sem, "cosine_sim")], id_col=id_col, k=k, c=c)


def rerank_topk(
    candidates: DataFrame,
    query_text: str,
    scorer=None,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-encoder reranking seam — the third stage of the modern
    retrieval stack (retrieve cheap & wide → fuse → rerank the few
    dozen survivors with an expensive pairwise model). ``candidates``
    is a BOUNDED fused list carrying document text; ``scorer`` is the
    model seam: a callable (query: str, texts: pandas.Series) →
    iterable of floats, run executor-side over Arrow batches (the
    same deterministic-stub-with-real-plumbing pattern as the X1
    extraction stage — swap in a real cross-encoder behind the same
    signature; the default stub scores lexical overlap with position
    weighting, deterministic and order-sensitive). Returns
    (id, rerank_score) best-first with id-ascending tie-break; the
    window is unpartitioned but runs over ≤ fetch-k rows by contract,
    never a corpus."""
    import pandas as pd

    from pyspark.sql.window import Window as W

    if scorer is None:
        scorer = default_overlap_scorer

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "rerank_score": [
                        round(float(s), 6)
                        for s in scorer(query_text, pdf[text_col])
                    ],
                }
            )

    id_type = candidates.schema[id_col].dataType.simpleString()
    scored = candidates.select(id_col, text_col).mapInPandas(
        gen, schema=f"`{id_col}` {id_type}, rerank_score double"
    )
    w = W.orderBy(F.desc("rerank_score"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy(F.desc("rerank_score"), F.asc(id_col))
    )


def default_overlap_scorer(query: str, texts) -> list[float]:
    """Deterministic stand-in cross-encoder: position-weighted query-
    term coverage with an adjacency bonus — order-sensitive (a doc
    containing the query terms ADJACENT outranks one with them
    scattered), so reranking visibly reorders a bag-of-words
    candidate list in tests. Pure function of (query, text)."""
    qt = query_terms(query)
    out = []
    for t in texts:
        toks = [w for w in str(t or "").lower().split() if w]
        pos: dict[str, int] = {}
        for i, w in enumerate(toks):
            pos.setdefault(w, i)
        cov = sum(1.0 / (1.0 + pos[q] / 10.0) for q in qt if q in pos)
        adj = sum(
            1.0
            for a, b in zip(qt, qt[1:])
            if a in pos and b in pos and pos[b] - pos[a] == 1
        )
        out.append(cov + 0.5 * adj)
    return out
