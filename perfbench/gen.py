"""Seeded input generators: every byte the benchmark feeds the program.

The same seed gives the same inputs. Row-level shapes come from the
repository's fixture generators (``tests/fixtures.py``); this module
sizes them, adds what the fixtures lack (a recommendation cohort, the
headline tables) and writes them to disk the way each source lands
them: parquet, gzipped JSON lines, compressed PDFs, JSON message files.
"""

from __future__ import annotations

import datetime as dt
import functools
import gzip
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tests import fixtures as FX

#: products the recommendation app's cohort query selects (``LIKE 'b%'``)
COHORT_PREFIX = "b"


def _write_parquet(rows: list[dict], path: str) -> int:
    pq.write_table(pa.Table.from_pylist(rows), path)
    return os.path.getsize(path)


def _write_json_gz(rows: list[dict], path: str) -> int:
    with gzip.open(path, "wt", compresslevel=1) as fh:
        for r in rows:
            fh.write(json.dumps(r))
            fh.write("\n")
    return os.path.getsize(path)


def medallion_feeds(
    out_dir: str,
    seed: int,
    customers: int,
    history: int,
    pdfs: int,
    feed_events: int,
    products: int,
    cohort: int,
    cohort_purchases: int = 24,
    history_files: int = 4,
) -> dict:
    """Write the four raw feeds of one hourly cycle under ``out_dir``.

    Returns the generated rows (for the correctness oracles), the feed
    paths and their byte sizes. History rows dominate, as in the
    reference (500 M history rows against 50 M customers). ``cohort``
    customers each get ``cohort_purchases`` purchases of ``b``-prefixed
    products on top of the uniform history, so the recommendation
    app's >= 20-purchase cohort is never empty.
    """
    rng = random.Random(seed)
    cust = FX.gen_customers(customers, seed=rng.randrange(2**31))
    feed = FX.gen_product_feed(feed_events, products, seed=rng.randrange(2**31))
    prods = sorted({r["PRODUCT"] for r in feed})
    cohort_prods = [p for p in prods if p.startswith(COHORT_PREFIX)] or prods[:1]
    hist = FX.gen_txn_history(
        cust, prods + ["XX-0000000Z"], n=history, seed=rng.randrange(2**31)
    )
    heavy = rng.sample(cust, cohort)
    for c in heavy:
        for row in FX.gen_txn_history(
            [c], cohort_prods, n=cohort_purchases, seed=rng.randrange(2**31)
        ):
            hist.append(row)
    texts = FX.gen_invoice_texts(cust, n=pdfs, seed=rng.randrange(2**31))

    paths = {k: os.path.join(out_dir, k) for k in ("customer", "product", "history", "invoices")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    sizes = {
        "customer": _write_parquet(cust, os.path.join(paths["customer"], "part-0.parquet")),
        "product": _write_parquet(feed, os.path.join(paths["product"], "part-0.parquet")),
        "history": sum(
            _write_json_gz(hist[i::history_files], os.path.join(paths["history"], f"part-{i}.json.gz"))
            for i in range(history_files)
        ),
        "invoices": 0,
    }
    for t in texts:
        body = FX.make_pdf(t["PDF_TEXT"], compress=True)
        with open(os.path.join(paths["invoices"], t["RELATIVE_PATH"]), "wb") as fh:
            fh.write(body)
        sizes["invoices"] += len(body)
    return {
        "customers": cust,
        "feed": feed,
        "history": hist,
        "texts": texts,
        "cohort": {c["CUSTOMER_ID"] for c in heavy},
        "paths": paths,
        "sizes": sizes,
        "rows": {
            "customer": len(cust),
            "product": len(feed),
            "history": len(hist),
            "invoices": len(texts),
        },
    }


@functools.lru_cache(maxsize=4)
def _stream_dims(seed: int) -> tuple[list[dict], list[str]]:
    rng = random.Random(seed)
    cust = FX.gen_customers(500, seed=rng.randrange(2**31))
    feed = FX.gen_product_feed(400, 200, seed=rng.randrange(2**31))
    return cust, sorted({r["PRODUCT"] for r in feed})


#: the stream's first day, and how many 10-second ticks a day holds
STREAM_DAY0 = dt.date(2023, 1, 1)
TICKS_PER_DAY = 86_400 // 10


def txn_tick(seed: int, tick: int, messages: int, files: int) -> list[str]:
    """Tick ``tick``'s Kafka-shaped JSON messages
    (``gen_txn_stream_messages`` shape), split into ``files`` message
    files, one message per line — one landing per DAG-cadence tick.

    A live producer stamps each message with its send time, so a tick's
    messages all fall on the tick's day; the fixture's dates spread over
    a year, which would make every tick touch every day of it."""
    cust, prods = _stream_dims(seed)
    day = (STREAM_DAY0 + dt.timedelta(days=tick // TICKS_PER_DAY)).strftime("%m/%d/%Y")
    msgs = []
    for body in FX.gen_txn_stream_messages(cust, prods, n=messages, seed=seed * 100_003 + tick):
        m = json.loads(body)
        m["txn_date"] = day + m["txn_date"][10:]
        msgs.append(json.dumps(m))
    return ["\n".join(msgs[i::files]) + "\n" for i in range(files)]


# ----------------------------------------------------------- headline tables
#
# The headline queries read the TPC-H-like star schema plus the events,
# documents and embeddings tables (TESTDATA.md). These generators follow
# that schema and its value domains so every headline plan and its DuckDB
# oracle run unchanged; only the seed and the row counts differ.

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch.astype("datetime64[D]").astype("datetime64[us]"))


def headline_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten headline tables at scale ``sf`` (``sf=0.01`` is
    60,000 lineitem rows) as ``<out_dir>/<name>.parquet``; returns the
    row count per table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec, dim = 500, 500, 64
    d1995 = int(np.datetime64("1995-01-01", "D").astype(int))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _ts(d1995 + rng.integers(0, 2404, n_ord)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(d1995 + 1 + rng.integers(0, 2498, n_line)),
        }
    )
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ev_ts = np.sort(ts0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, max(10, n_ev // 66), n_ev, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.1:
            # near duplicate: an earlier document with a few words replaced
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = "dup"
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
