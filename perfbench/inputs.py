"""Seeded input generation. Every input is a pure function of the workload
seed: the same seed writes the same corpus, upsert batches and catalog
tables; the program under test only ever sees the files written here.

  * corpus     — the program's own per-document generator
                 (sources.corpus.doc_row, the rows write_corpus writes),
                 which keeps the 1-in-1000 whale tail of 2,000-10,000-span
                 documents; written with pyarrow as nproc part files, the
                 layout write_corpus gives at local[nproc]. write_corpus
                 itself is not called: its Python RDD job would start the
                 Python worker daemon before the warm-up, and worker
                 start-up belongs in setup_s;
  * batches    — small upsert batches of ~3 updates of existing doc_ids per
                 1 insert of a new doc_id, each update with fresh content;
  * catalog    — the tables the catalog queries read (documents,
                 events, embeddings, orders, lineitem), with the row
                 counts, key ranges and value distributions measured on
                 the repository's sf0.01 test data (TESTDATA.md); the
                 measurements are in NOTES.md, beside each parameter.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPANS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])


def doc_rows(indices, seed):
    from pdf_extractor_spark.sources.corpus import doc_row

    return [doc_row(i, seed) for i in indices]


def rows_digest(rows):
    h = hashlib.md5()
    for doc_id, spans in rows:
        h.update(json.dumps([doc_id, spans], sort_keys=True).encode())
    return h.hexdigest()


def corpus_digest(n_docs, seed):
    """Digest of the first n_docs corpus documents for `seed`."""
    return rows_digest(doc_rows(range(n_docs), seed))


def write_corpus(path, n_docs, seed):
    """The rows sources.corpus.write_corpus(spark, path, n_docs, seed)
    writes, without a Spark job (see the module docstring)."""
    write_rows(path, doc_rows(range(n_docs), seed), parts=os.cpu_count() or 1)


def whale_indices(n_docs):
    return [i for i in range(n_docs) if i % 1000 == 999]


# --- upsert batches -----------------------------------------------------------

def upsert_plan(seed, n_docs, n_batches, batch_docs, updates_per_insert=3):
    """[(doc index, content seed), ...] per batch. Updates draw distinct
    existing doc indices (earlier inserts included); every
    (updates_per_insert + 1)-th slot inserts the next new index. An
    update's content comes from the corpus generator under a content
    seed distinct from the corpus seed, so it differs from the original."""
    rng = random.Random(f"upsert:{seed}")
    next_new = n_docs
    plan = []
    for b in range(n_batches):
        batch, used = [], set()
        for slot in range(batch_docs):
            content_seed = (seed * 7919 + b * 131 + slot + 1) & 0xFFFFFFF
            if slot % (updates_per_insert + 1) == updates_per_insert:
                batch.append((next_new, content_seed))
                used.add(next_new)
                next_new += 1
                continue
            i = rng.randrange(next_new)
            while i in used:
                i = rng.randrange(next_new)
            used.add(i)
            batch.append((i, content_seed))
        plan.append(batch)
    return plan


def batch_rows(batch):
    from pdf_extractor_spark.sources.corpus import doc_row

    return [doc_row(i, content_seed) for i, content_seed in batch]


def plan_digest(plan):
    return rows_digest([r for batch in plan for r in batch_rows(batch)])


def write_rows(path, rows, parts=1):
    """rows as `parts` contiguous parquet part files under path."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // parts)
    for p in range(parts):
        chunk = rows[p * step:(p + 1) * step]
        table = pa.Table.from_pylist(
            [{"doc_id": d, "spans": s} for d, s in chunk], schema=SPANS_ARROW)
        pq.write_table(table, os.path.join(path, f"part-{p:05d}.parquet"))


# --- catalog tables -------------------------------------------------------------

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# Row counts of the sf0.01 tables.
CATALOG_ROWS = {
    "documents": 500, "events": 10000, "embeddings": 500,
    "orders": 15000, "lineitem": 60000,
}
EVENT_USERS = 150           # distinct user_id 0-149
EVENT_GAP_S = 259.2         # mean gap: 10,000 events over 30 days
CUSTOMERS = 1500            # distinct o_custkey 0-1499
PARTS, SUPPLIERS = 2000, 100
SHIP_LAG_DAYS = 95          # l_shipdate runs to 95 days past the last order


def _write(df, path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def write_catalog_tables(out_dir, seed, rows=CATALOG_ROWS):
    """Write <table>.parquet for each catalog table under out_dir."""
    import pandas as pd

    rng = np.random.default_rng([seed, 0xCA7A])
    os.makedirs(out_dir, exist_ok=True)

    # documents: 10-99 words drawn uniformly from a 30-word vocabulary;
    # 5% are near duplicates (an earlier document's text + " dup"), so the
    # dedup and near-dup queries have pairs to find
    n = rows["documents"]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, size=k)))
    _write(pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    # events: a time-ordered log over January 2024
    n = rows["events"]
    start = pd.Timestamp("2024-01-01")
    gaps = rng.exponential(EVENT_GAP_S, size=n).cumsum()
    _write(pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (start + pd.to_timedelta(gaps, unit="s")).values.astype(
            "datetime64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, size=n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n),
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    }), os.path.join(out_dir, "events.parquet"))

    # embeddings: random 64-d unit vectors with independent labels 0-9
    # (vectors of one label are no closer than any other pair)
    n = rows["embeddings"]
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    vecs = rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels,
    }), os.path.join(out_dir, "embeddings.parquet"))

    # TPC-H-shaped orders / lineitem: uniform keys, prices, dates and
    # flags; a line's ship date is independent of its order's date
    no, nl = rows["orders"], rows["lineitem"]
    day0 = np.datetime64("1995-01-01")
    span_days = int((np.datetime64("2001-08-01") - day0).astype(int))
    _write(pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, size=no, dtype=np.int64),
        "o_orderstatus": rng.choice(("O", "F", "P"), size=no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=no), 2),
        "o_orderdate": (day0 + rng.integers(0, span_days + 1, size=no)
                        ).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, size=no),
    }), os.path.join(out_dir, "orders.parquet"))
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, no, size=nl, dtype=np.int64),
        "l_partkey": rng.integers(0, PARTS, size=nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, size=nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, size=nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, size=nl), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.10, size=nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, size=nl), 2),
        "l_returnflag": rng.choice(("N", "R", "A"), size=nl),
        "l_linestatus": rng.choice(("O", "F"), size=nl),
        "l_shipdate": (day0 + rng.integers(1, span_days + SHIP_LAG_DAYS + 1,
                                           size=nl)
                       ).astype("datetime64[us]"),
    }), os.path.join(out_dir, "lineitem.parquet"))
