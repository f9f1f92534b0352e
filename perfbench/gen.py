"""Seeded input generators for the benchmark.

Every generator takes the run's seed and is pure: the same seed gives
identical inputs. The program under test only ever sees the generated
parquet files or DataFrames.

- :func:`write_tables` writes the ten star-schema tables the query
  registry reads (``region nation customer supplier part orders lineitem
  events documents embeddings``) with the row counts and value
  distributions of the repository's synthetic test data at a given
  scale factor (sf0.1: 600k lineitem rows, 5000 documents).
- :func:`arrival_stream` builds the governed-ingest arrival stream in
  the ``SOURCE_DOCUMENTS`` shape with stated shares of exact-URL
  duplicates, re-ingested ids, near-duplicate revisions and stale
  (out-of-window) documents, plus the expected routing of every arrival.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary of the repository's synthetic ``documents`` table.
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_US_PER_DAY = 86_400_000_000


def _days_since_epoch(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _day_ts(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(_days_since_epoch(lo), _days_since_epoch(hi) + 1, n)
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng, n: int) -> list[str]:
    """Random 10..100-word texts; about 5% are a copy of an earlier
    text with `` dup`` appended (so some collide exactly)."""
    words = np.asarray(DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return texts


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten query-registry tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    n_user = max(10, round(15_000 * sf))
    i32 = pa.int32()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day_ts(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _day_ts(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }),
    }
    t0 = _days_since_epoch(dt.date(2024, 1, 1)) * _US_PER_DAY
    ts = np.sort(rng.integers(t0, t0 + 30 * _US_PER_DAY, n_evt))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_evt, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    texts = doc_texts(np.random.default_rng([seed, 2]), n_doc)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> int:
    """Write :func:`tables` as ``<out_dir>/<name>.parquet``; returns the
    bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


# -- governed ingest --------------------------------------------------------

#: Share of each arrival kind in the ingest stream (the rest are fresh).
#: ``url_dup``: a new id whose URL canonicalizes to an earlier arrival's
#: URL in the same micro-batch (dropped by first-wins URL dedup);
#: ``reingest``: an id committed in an earlier micro-batch, revised
#: (latest-wins upsert); ``near_rev``: a new id whose text is an earlier
#: text plus one word (a near-duplicate pair); ``stale``: published
#: before the date window (filtered out).
#:
#: ``url_dup`` and ``reingest`` follow FIXTURES.md (about 10% exact URL
#: duplicates in ``documents.url``, about 10% of ids re-appearing in
#: ``regulation_items.id``). FIXTURES.md gives no share for near
#: revisions or out-of-window dates; 10% and 5% are assumed.
ARRIVAL_SHARES = {"url_dup": 0.10, "reingest": 0.10, "near_rev": 0.10, "stale": 0.05}
#: Shares of every new arrival, also from FIXTURES.md: hosts outside the
#: allowlist, null ``published_date``, null ``title``, and URLs carrying
#: ``utm_*`` parameters or a trailing slash.
UNKNOWN_HOST_SHARE = 0.10
NULL_DATE_SHARE = 0.20
NULL_TITLE_SHARE = 0.05
URL_VARIANT_SHARE = 0.15
URL_SUFFIXES = ("/", "?utm_source=feed&utm_medium=rss", "/?utm_campaign=weekly")
#: Reads issued after each commit, by kind. No source states a read mix
#: for this system; three searches and two range lookups per commit are
#: assumed. Fixed counts rather than a random draw: searches take
#: several times longer than read_where lookups, so a drawn mix would
#: move the read median between the two.
READS_PER_COMMIT = {"search": 3, "read_where": 2}
ALLOWED_DOMAINS = ("eur-lex.europa.eu", "unece.org", "nhtsa.gov", "example.com")
UNKNOWN_DOMAINS = ("sketchy.biz", "random-blog.net")
#: Publication dates are relative to this day; the runner sets the scan
#: window so its cutoff falls WINDOW_DAYS before it, whatever today is.
ANCHOR = dt.date(2025, 1, 1)
WINDOW_DAYS = 90
CONFIDENCE_MIN = 0.7


def confidence(doc_id: str) -> float:
    """The extractor's id-derived confidence, rounded half-up to four
    places like Spark's ``round`` (an independent restatement used only
    to predict routing)."""
    raw = int(hashlib.md5(doc_id.encode()).hexdigest()[:4], 16) / 65536 / 2 + 0.5
    return float(Decimal(repr(raw)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


@dataclass
class Arrival:
    id: str
    url: str
    domain: str
    title: str | None
    content: str
    published: dt.date | None
    profile: str
    kind: str  # fresh | url_dup | reingest | near_rev | stale

    @property
    def kept(self) -> bool:
        """Survives URL dedup and the date window."""
        return self.kind not in ("url_dup", "stale")

    @property
    def main(self) -> bool:
        """Routed to the main table (valid and tier A)."""
        return (
            self.kept
            and self.profile == "profile_0"
            and self.domain in ALLOWED_DOMAINS
            and confidence(self.id) >= CONFIDENCE_MIN
        )

    def nbytes(self) -> int:
        return sum(len(x.encode()) for x in (self.id, self.url, self.title or "", self.content))


def _canonical(url: str) -> str:
    """A generated URL without its :data:`URL_SUFFIXES` variant."""
    return url.split("?")[0].rstrip("/")


def _quota(rng, n: int, share: float) -> np.ndarray:
    """``n`` flags, ``round(share * n)`` of them set, in seeded order."""
    flags = np.zeros(n, dtype=bool)
    flags[: int(share * n + 0.5)] = True
    return rng.permutation(flags)


def arrival_stream(seed: int, sizes: list[int]) -> list[list[Arrival]]:
    """Micro-batches of ``sizes`` arrivals built from the sf0.1 document
    texts.

    Every batch holds each share of :data:`ARRIVAL_SHARES` and of the
    per-arrival shares exactly (rounded), and its arrivals spread evenly
    over the three source profiles; the seed decides their order and
    content. Random draws per arrival instead made the routing of a
    50-arrival batch, and with it the commit's work, vary from seed to
    seed. A re-ingest needs an id committed in an earlier batch (and
    not already in this one) and a URL duplicate needs an earlier fresh
    arrival in its own batch; an arrival that has neither becomes a
    fresh one."""
    rng = np.random.default_rng([seed, 3])
    texts = doc_texts(np.random.default_rng([seed, 2]), 5000)
    committed: list[Arrival] = []
    batches = []
    n_new = 0
    for size in sizes:
        kinds = np.full(size, "fresh", dtype=object)
        pos = 0
        for kind, share in ARRIVAL_SHARES.items():
            count = int(share * size + 0.5)
            kinds[pos:pos + count] = kind
            pos += count
        kinds = rng.permutation(kinds)
        profiles = rng.permutation(np.arange(size) % 3)
        unknown, null_date, null_title, variant = (
            _quota(rng, size, share)
            for share in (UNKNOWN_HOST_SHARE, NULL_DATE_SHARE, NULL_TITLE_SHARE, URL_VARIANT_SHARE)
        )
        batch: list[Arrival] = []
        for j in range(size):
            kind = str(kinds[j])
            fresh_here = [a for a in batch if a.kind == "fresh"]
            if (kind == "reingest" and not committed) or (kind == "url_dup" and not fresh_here):
                kind = "fresh"
            if kind == "reingest":
                prev = committed[int(rng.integers(0, len(committed)))]
                if any(a.id == prev.id for a in batch):
                    kind = "fresh"
                else:
                    batch.append(Arrival(
                        prev.id, prev.url, prev.domain, prev.title,
                        prev.content + " revised", prev.published, prev.profile, kind,
                    ))
                    continue
            i = n_new
            n_new += 1
            domain = (
                UNKNOWN_DOMAINS[i % 2] if unknown[j]
                else ALLOWED_DOMAINS[int(rng.integers(0, len(ALLOWED_DOMAINS)))]
            )
            text = texts[i % len(texts)]
            url = f"https://{domain}/doc/{i}"
            if kind == "url_dup":
                # the source's URL itself, or its canonical form with a variant
                src = fresh_here[int(rng.integers(0, len(fresh_here)))]
                domain = src.domain
                k = int(rng.integers(0, len(URL_SUFFIXES) + 1))
                url = src.url if k == 0 else _canonical(src.url) + URL_SUFFIXES[k - 1]
            elif variant[j]:
                url += URL_SUFFIXES[int(rng.integers(0, len(URL_SUFFIXES)))]
            if kind == "near_rev" and committed:
                text = committed[int(rng.integers(0, len(committed)))].content + " amended"
            if kind == "stale":
                published = ANCHOR - dt.timedelta(days=int(rng.integers(WINDOW_DAYS + 30, 200)))
            elif null_date[j]:
                published = None
            else:
                published = ANCHOR - dt.timedelta(days=int(rng.integers(0, WINDOW_DAYS - 30)))
            batch.append(Arrival(
                f"doc-{i:06d}", url, domain,
                None if null_title[j] else f"Document {i}",
                text, published, f"profile_{profiles[j]}", kind,
            ))
        committed.extend(a for a in batch if a.kept and a.kind != "reingest")
        batches.append(batch)
    return batches


def read_mix(seed: int, n_commits: int) -> list[list[tuple]]:
    """Per commit, :data:`READS_PER_COMMIT` seeded reads in seeded order:
    ``("search", query)`` or ``("read_where", lo, hi)`` over a 0.01-wide
    band of the confidence column's [0.5, 1.0) range."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for _ in range(n_commits):
        reads = []
        for _ in range(READS_PER_COMMIT["search"]):
            k = int(rng.integers(1, 4))
            reads.append(("search", " ".join(rng.choice(DOC_WORDS[:-6], k, replace=False))))
        for _ in range(READS_PER_COMMIT["read_where"]):
            lo = round(0.5 + int(rng.integers(0, 50)) / 100, 2)
            reads.append(("read_where", lo, round(lo + 0.0099, 4)))
        out.append([reads[i] for i in rng.permutation(len(reads))])
    return out
