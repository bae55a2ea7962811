"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical inputs, and every seed writes the same number of rows, so
run-to-run timing differences come from the engine, not from the input
size.

- ``write_tables`` writes the ten star-schema tables the catalog queries
  read (the column names and value domains of the TPC-H-like test
  data the oracle tests use), with planted near-duplicate documents and cloned
  embeddings so the dedup and ANN queries have real work to do.
- ``write_landing_day`` writes one day of YouTube-API-shaped landing
  JSONL for ``pipeline.daily_run`` and returns the row counts each
  warehouse table must receive for that day.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_engineering_individual_assignment_spark.sources.fixtures import (
    NASTY_COMMENT,
    NASTY_TITLE,
)

# Row counts of the generated star schema (the oracle test data's sf0.01 shape).
TABLE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

VOCAB = (
    "a agg batch column customer fast filter group hash join key line order "
    "part query scan slow small sort spark stream table the value vector "
    "window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "hot", "large", "tiny", "green", "cold", "steel", "red"]
_PART_NOUN = ["ring", "bolt", "gear", "pipe", "valve", "nut", "spring", "cap"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences; a quarter of the documents are edited
    copies (one or two word substitutions) of an earlier document, some
    of them copies of copies, so near-duplicate clusters have depth."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.25:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        texts.append(" ".join(toks))
    return texts


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.15, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.1, (n, dim))
    for i in range(10, n):  # planted clones: near-exact copies
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 1e-3, dim)
            labels[i] = labels[j]
    return vecs.astype(np.float32), labels


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten parquet tables into ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    # sorted draws plus their rank: strictly increasing, so no ties
    ts = np.sort(rng.integers(0, span - e, e)) + np.arange(e) + start
    tables["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(50, e // 67), e),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": np.round(rng.exponential(40.0, e), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
    })
    texts = _documents(rng, n["documents"])
    tables["documents"] = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n["documents"]),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs, labels = _embeddings(rng, n["embeddings"])
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# The package's hostile landing strings (';', non-ASCII, emoji, real and
# literal control sequences), plus an author name with ';' and non-ASCII.
_HOSTILE_AUTHOR = "Ali;ce é"


def write_landing_day(
    out_dir: str, seed: int, day_index: int, n_videos: int
) -> dict[str, object]:
    """Write one day of landing JSONL (search, comments, stats, snippets).

    Returns the landing paths, the landing size in bytes, the per-table
    row counts the day's warehouse partitions must hold, and the
    (views, comments) pairs the regression model is fitted on."""
    rng = np.random.default_rng([seed, day_index])
    os.makedirs(out_dir, exist_ok=True)
    vids = [f"d{day_index}v{i:05d}" for i in range(n_videos)]
    day = f"2024-03-{day_index + 1:02d}"

    def stamp(i: int) -> str:
        return f"{day}T{i % 24:02d}:{i % 60:02d}:{(i * 7) % 60:02d}Z"

    def words(k: int) -> str:
        return " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k))

    search_pages, comment_pages, stats_pages, snippet_pages = [], [], [], []
    n_comments = n_tags = 0
    for p in range(0, n_videos, 50):  # 50 results per search page
        items = [
            {
                "id": {"videoId": v},
                "snippet": {
                    "publishedAt": stamp(i),
                    "title": NASTY_TITLE if i % 97 == 0 else words(6),
                    "description": words(10) + "…",
                },
            }
            for i, v in enumerate(vids[p : p + 50], start=p)
        ]
        token = f"P{p + 50}" if p + 50 < n_videos else None
        search_pages.append({"nextPageToken": token, "items": items})

    views = rng.integers(10, 1_000_000, n_videos)
    comment_counts = (views * rng.uniform(0.00005, 0.00015, n_videos)).astype(np.int64)
    for i, v in enumerate(vids):
        threads = []
        for t in range(int(comment_counts[i])):
            n_rep = int(rng.integers(0, 4)) if t % 3 == 0 else 0
            reply = [
                {"snippet": {
                    "textOriginal": "reply\tone" if r == 0 else words(4),
                    "publishedAt": stamp(i + r), "videoId": v,
                    "authorDisplayName": f"user{r}", "likeCount": r}}
                for r in range(n_rep)
            ]
            threads.append({
                "snippet": {"topLevelComment": {"snippet": {
                    "textOriginal": NASTY_COMMENT if t % 11 == 0 else words(12),
                    "publishedAt": stamp(i + t), "videoId": v,
                    "authorDisplayName": _HOSTILE_AUTHOR if t % 13 == 0 else f"user{t}",
                    "likeCount": int(t % 17)}}},
                "replies": {"comments": reply} if reply else None,
            })
            n_comments += 1 + n_rep
        # paginate the threads 20 to a page; zero-comment videos get none
        for p in range(0, len(threads), 20):
            token = f"C{p + 20}" if p + 20 < len(threads) else None
            comment_pages.append({"nextPageToken": token, "items": threads[p : p + 20]})
        stats_pages.append({"video_id": v, "items": [{"statistics": {
            "viewCount": str(int(views[i])),
            "likeCount": str(int(views[i]) // 40),
            "dislikeCount": str(int(views[i]) // 900),
            "commentCount": str(int(comment_counts[i])),
        }}]})
        k = int(rng.integers(0, 6))
        tags = None if k == 0 else [
            "tag;" + words(1) if j == 0 and i % 5 == 0 else words(2) for j in range(k)
        ]
        n_tags += max(k, 1)  # a missing tags key lands as one empty tag
        snippet_pages.append({"video_id": v, "items": [{"snippet": {
            "description": words(30) + (" é\\r end" if i % 7 == 0 else ""),
            "tags": tags,
        }}]})

    paths, landing_bytes = {}, 0
    for name, pages in (
        ("search", search_pages),
        ("comments", comment_pages),
        ("stats", stats_pages),
        ("snippets", snippet_pages),
    ):
        path = os.path.join(out_dir, f"{name}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            for page in pages:
                fh.write(json.dumps(page, ensure_ascii=False) + "\n")
        paths[name] = path
        landing_bytes += os.path.getsize(path)
    return {
        "paths": paths,
        "landing_bytes": landing_bytes,
        "rows": {
            "video_descriptions": n_videos,
            "video_statistics": n_videos,
            "video_comments": n_comments,
            "video_tags": n_tags,
        },
        "xy": np.stack([views, comment_counts], axis=1).astype(np.float64),
    }
