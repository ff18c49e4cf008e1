"""Seeded synthetic inputs for the benchmark.

Everything the program under test reads is generated here from the
workload seed, with numpy and pyarrow only (no Spark): the star-schema
tables and the ``events``/``documents``/``embeddings`` tables the query
registry loads, the WARC landing of ``crawl_to_shards`` and the ingest
files of ``stream_ingest``. The same seed gives byte-identical files.

Table shapes follow the engine's input contract (column names and
parquet types of the driver tables; ``load_table`` reads them).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "small", "red", "blue", "cold", "thin", "green"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "screw", "plate", "wire"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector index shard join plan cache node task stage file crawl "
    "page host text token model the a of and to in is for with on"
).split()
JUNK = ["x!!! ???", "@@ ## $$ %%", "!!!! ... ;;;", "?? !! ?? !!"]
_SYLLABLES = "ba ko ri mu te sa lo ni pe du ga vi zo he fa".split()
#: 3375 letter-only words for ingest documents: with ``VOCAB``'s 52
#: words, two random 60-120-word documents can share a distinct-token
#: set and so the fingerprint that ingest uses as its exact-dup key.
INGEST_VOCAB = [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES]

#: Row counts at scale 1.0 (TPC-H sf1 proportions); region and nation
#: have fixed sizes.
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
}
LINES_PER_ORDER = 4

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one generated table set."""

    scale: float
    documents: int
    embeddings: int

    def rows(self, table: str) -> int:
        return max(10, int(BASE_ROWS[table] * self.scale))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_days: int, hi_days: int, n: int) -> np.ndarray:
    d = rng.integers(lo_days, hi_days, n)
    return EPOCH_1995 + d.astype("timedelta64[D]").astype("timedelta64[us]")


def doc_text(rng, n_words: int, vocab: list[str] = VOCAB) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def near_copy(text: str) -> str:
    """``text`` with one word appended: a near-duplicate that keeps
    every word shingle of ``text`` and adds one, so MinHash/LSH finds
    it with near certainty. (A word replaced mid-text drops up to
    ``shingle_n`` shingles: Jaccard about 0.9 on a 60-word text, which
    the stream's 4-band x 4-row LSH misses about once in 70.)"""
    return text + " variant"


def documents_table(rng, n: int) -> pa.Table:
    """Random-vocabulary documents. Of every 100, one is an exact copy
    and three are near copies of earlier original documents, so exact
    and near dedup find the same amount of work under every seed."""
    texts: list[str] = []
    originals: list[str] = []
    for i in range(n):
        slot = i % 100
        if originals and slot == 50:
            texts.append(originals[int(rng.integers(0, len(originals)))])
        elif originals and slot in (20, 60, 80):
            texts.append(near_copy(originals[int(rng.integers(0, len(originals)))]))
        else:
            originals.append(doc_text(rng, int(rng.integers(8, 100))))
            texts.append(originals[-1])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def unit_vectors(rng, n: int, dim: int, clusters: int) -> tuple[np.ndarray, np.ndarray]:
    centers = rng.standard_normal((clusters, dim))
    labels = rng.integers(0, clusters, n)
    v = centers[labels] + 0.8 * rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v, labels


def write_tables(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write the ten registry tables to ``out_dir/<name>.parquet`` and
    return their row counts."""
    rng = np.random.default_rng([seed, 1])
    n_cust = sizes.rows("customer")
    n_supp = sizes.rows("supplier")
    n_part = sizes.rows("part")
    n_ord = sizes.rows("orders")
    n_li = n_ord * LINES_PER_ORDER
    n_ev = sizes.rows("events")
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]
            ),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
            ),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_days(rng, 0, 2405, n_ord), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
            "l_shipdate": pa.array(_days(rng, 1, 2500, n_li), pa.timestamp("us")),
        }
    )
    # whole multiples of 7 s: no two events of a user are between 30
    # and 31 minutes apart, where second-truncating date_diff (DuckDB)
    # and exact session gaps (Spark) would split sessions differently
    ts = np.sort(rng.integers(0, 30 * DAY_US // (7 * 10**6), n_ev)) * (7 * 10**6)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    tables["documents"] = documents_table(rng, sizes.documents)
    vecs, labels = unit_vectors(rng, sizes.embeddings, 64, 10)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(sizes.embeddings), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_warc_landing(
    out_dir: str, docs: pa.Table, reps: int, n_files: int
) -> dict[str, int]:
    """WARC landing built with ``tools/crawl_e2e.py``'s per-archive
    builder, called in-process one archive at a time (no worker pool)."""
    from crawl_e2e import _build_one  # tools/ is on sys.path (run.py)

    rows = list(
        zip(
            docs.column("doc_id").to_pylist(),
            docs.column("text").to_pylist(),
            docs.column("source").to_pylist(),
        )
    )
    n_hosts = max(len({r[2] for r in rows}) * 4, 8)
    os.makedirs(out_dir, exist_ok=True)
    n_docs = n_bytes = 0
    for i in range(n_files):
        d, b = _build_one((i, out_dir, rows, reps, n_files, n_hosts))
        n_docs += d
        n_bytes += b
    return {"docs": n_docs, "bytes": n_bytes, "files": n_files}


#: Document kinds the ingest generator plants, in file order.
INGEST_KINDS = ("new", "batch_dup", "exact_dup", "near_dup", "low_quality")


def ingest_files(
    stage_dir: str, seed: int, n_files: int, docs_per_file: int, mix: dict[str, float]
) -> list[dict]:
    """Stage ``n_files`` parquet files of ``(doc_id, text)`` for the
    E5 stream, each with the fixed ``mix`` of document kinds:

    * ``new``: distinct random documents;
    * ``batch_dup``: exact copies of a new document of the same file;
    * ``exact_dup`` / ``near_dup``: exact and one-word-longer copies of new
      documents of earlier files, each source copied at most once per
      file;
    * ``low_quality``: punctuation junk below the quality gate.

    With one file per micro-batch the verdict of every document is
    therefore the kind it was planted as. Ids encode the file:
    ``file * 10**6 + row``. Returns one record per file with its path,
    ids, planted kinds and size.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(stage_dir, exist_ok=True)
    counts = {k: int(round(mix.get(k, 0.0) * docs_per_file)) for k in INGEST_KINDS}
    counts["new"] = docs_per_file - sum(v for k, v in counts.items() if k != "new")
    landed: list[str] = []
    out = []
    for f in range(n_files):
        kinds: list[str] = []
        texts: list[str] = []
        n_old = counts["exact_dup"] + counts["near_dup"] if landed else 0
        sources = list(rng.choice(len(landed), n_old, replace=False)) if n_old else []
        for kind in INGEST_KINDS:
            for _ in range(counts[kind]):
                if kind in ("exact_dup", "near_dup") and not landed:
                    kind = "new"
                if kind == "new":
                    t = doc_text(rng, int(rng.integers(60, 120)), INGEST_VOCAB)
                elif kind == "batch_dup":
                    t = texts[int(rng.integers(0, counts["new"]))]
                elif kind == "exact_dup":
                    t = landed[sources.pop()]
                elif kind == "near_dup":
                    t = near_copy(landed[sources.pop()])
                else:
                    t = JUNK[int(rng.integers(0, len(JUNK)))]
                kinds.append(kind)
                texts.append(t)
        landed.extend(t for t, k in zip(texts, kinds) if k == "new")
        ids = np.arange(len(texts), dtype=np.int64) + f * 1_000_000
        path = os.path.join(stage_dir, f"part-{f:05d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, pa.string())}),
            path,
        )
        out.append(
            {"path": path, "ids": ids.tolist(), "kinds": kinds, "bytes": os.path.getsize(path)}
        )
    return out
