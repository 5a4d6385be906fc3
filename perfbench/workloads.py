"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload has ``setup`` (generate inputs, warm the JIT on a small
separate input), ``op`` (one timed operation, returning its latencies),
``check`` (correctness checks, run once after the timed loop) and
``layers`` (per-layer numbers of a traced run). The program is driven
only through its public functions and timed from outside.
"""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import statistics
import time
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.apps.recommendation import (
    recommendations_frame,
)
from summit_23_snowpark_data_lake_workloads_spark.apps.unpaid_invoices import (
    overdue_invoices,
)
from summit_23_snowpark_data_lake_workloads_spark.cache import release_caches
from summit_23_snowpark_data_lake_workloads_spark.operators.unstructured import (
    extract_pdf_text,
)
from summit_23_snowpark_data_lake_workloads_spark.plans.dag import Step, run_dag
from summit_23_snowpark_data_lake_workloads_spark.plans.medallion import reference_dag
from summit_23_snowpark_data_lake_workloads_spark.plans.queries import ORACLES, QUERIES
from summit_23_snowpark_data_lake_workloads_spark.plans.txn_refresh import (
    RollupSpec,
    refresh_chain_txn,
)
from summit_23_snowpark_data_lake_workloads_spark.sources import batch
from summit_23_snowpark_data_lake_workloads_spark.sources.catalog import (
    bootstrap_catalog,
    save_table,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import SnapshotTable
from summit_23_snowpark_data_lake_workloads_spark.sources.txn_catalog import PinnedCatalog
from summit_23_snowpark_data_lake_workloads_spark.streaming.ingest import (
    parse_txn_stream,
    read_json_file_stream,
)
from summit_23_snowpark_data_lake_workloads_spark.streaming.lakehouse_sink import (
    write_stream_to_snapshot_table,
)
from tests import fixtures as FX
from tests.oracle_utils import assert_matches_oracle, duck_connection

from . import gen

CUSTOMER_COLUMNS = list(FX.gen_customers(1)[0])
PRODUCT_COLUMNS = list(FX.gen_product_feed(1, 1)[0])
MEDALLION_TABLES = {
    "raw": ["customer", "product_views_and_purchases", "txn_history", "pdf_raw_text"],
    "processed": ["customer", "invoice_details"],
    "curated": ["product_sales"],
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Context:
    """What every workload gets: the session, the tracer, a private
    root directory, the core count and the seed."""

    def __init__(self, spark, tracer, root: str, cpus: int, seed: int):
        self.spark, self.tracer, self.root = spark, tracer, root
        self.cpus, self.seed = cpus, seed

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p


# ------------------------------------------------------------ medallion_batch


class MedallionBatch:
    """One hourly DAG cycle: the four raw feeds land in the raw layer,
    ``run_dag(reference_dag())`` builds processed and curated, then both
    consume apps are queried. Every cycle reloads the same feeds, as an
    hourly full reload does."""

    name = "medallion_batch"
    #: Customers and history rows are the reference's 50 M and 500 M
    #: scaled by one factor (8e-5), so history rows outnumber customers
    #: ten to one as there. Scaled the same way, its 24,999 PDFs would be
    #: 2 documents; 600 makes extraction about a fifth of pipeline_s on a
    #: 4-core machine, a visible share. The reference states no size for
    #: the product feed; 2,000 events over 300 products is this
    #: benchmark's choice.
    sizes = dict(customers=4000, history=40000, pdfs=600, feed_events=2000, products=300, cohort=60)
    warm_sizes = dict(customers=300, history=3000, pdfs=40, feed_events=200, products=60, cohort=5)
    #: load steps + DAG steps + consume requests in one cycle
    ops_per_cycle, min_cycles = 4 + 3 + 2, 2

    def setup(self, ctx: Context) -> dict:
        self.ctx = ctx
        bootstrap_catalog(ctx.spark)
        t0 = time.perf_counter()
        self.feeds = gen.medallion_feeds(ctx.path("feeds"), ctx.seed, **self.sizes)
        warm = gen.medallion_feeds(ctx.path("warm_feeds"), ctx.seed + 7919, **self.warm_sizes)
        t1 = time.perf_counter()
        self._cycle(warm["paths"])
        return {
            "input_bytes": self.feeds["sizes"],
            "input_rows": self.feeds["rows"],
            "generate_s": round(t1 - t0, 2),
            "warm_cycle_s": round(time.perf_counter() - t1, 2),
        }

    def input_bytes(self) -> int:
        return sum(self.feeds["sizes"].values())

    def _cycle(self, paths: dict) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("sources.batch.customer"):
            save_table(
                batch.read_parquet_by_name(spark, paths["customer"], CUSTOMER_COLUMNS),
                "raw.customer",
            )
        with tr.span("sources.batch.product"):
            save_table(
                batch.read_parquet_by_name(spark, paths["product"], PRODUCT_COLUMNS),
                "raw.product_views_and_purchases",
            )
        with tr.span("sources.batch.txn_history"):
            save_table(batch.read_json_sampled(spark, paths["history"]), "raw.txn_history")
        with tr.span("operators.unstructured.pdf"):
            save_table(
                extract_pdf_text(
                    batch.read_binary_dir(spark, paths["invoices"], "*.pdf"),
                    num_partitions=self.ctx.cpus,
                ),
                "raw.pdf_raw_text",
            )
        with tr.span("plans.dag"):
            run_dag(spark, [self._traced(s) for s in reference_dag()])
        pipeline_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        with tr.span("apps.unpaid_invoices"):
            self.overdue = overdue_invoices(
                spark.table("processed.invoice_details"), spark.table("processed.customer")
            ).toPandas()
        t2 = time.perf_counter()
        with tr.span("apps.recommendation"):
            self.recs = recommendations_frame(
                spark.table("curated.product_sales"),
                spark.table("raw.product_views_and_purchases"),
            )
        t3 = time.perf_counter()
        return {"latencies": [pipeline_s], "requests": [t2 - t1, t3 - t2]}

    def _traced(self, step: Step) -> Step:
        tr, name = self.ctx.tracer, f"plans.dag.{step.name.lower()}"

        def fn(spark):
            with tr.span(name):
                return step.fn(spark)

        return Step(step.name, fn, step.after)

    def op(self, i: int) -> dict:
        with self.ctx.tracer.span("medallion_batch.cycle"):
            return self._cycle(self.feeds["paths"])

    def check(self) -> list[tuple[str, bool, str]]:
        spark, f = self.ctx.spark, self.feeds
        out = []

        want = Counter(
            tuple(sorted(FX.oracle_standardize(c).items())) for c in f["customers"]
        )
        got = Counter(
            tuple(sorted(r.asDict().items())) for r in spark.table("processed.customer").collect()
        )
        out.append(
            ("processed.customer == oracle_standardize", got == want,
             f"{sum(got.values())} rows")
        )

        want_inv = Counter(tuple(sorted(FX.oracle_parse_invoice(t).items())) for t in f["texts"])
        got_inv = Counter(
            tuple(sorted(r.asDict().items()))
            for r in spark.table("processed.invoice_details").collect()
        )
        out.append(
            ("processed.invoice_details == oracle_parse_invoice", got_inv == want_inv,
             f"{sum(got_inv.values())} rows")
        )

        want_sales = self._oracle_product_sales()
        cols = ["TXN_ID", "TXN_DATE", "TXN_QUANTITY", "PRODUCT_ID", "PRODUCT_DESC",
                "PRODUCT_UNIT_PRICE", "SALES_AMT", "PAYMENT_METHOD", "CUSTOMER_ID", "ZIP",
                "FIRST_NAME", "LAST_NAME", "CITY", "STATE", "COUNTRY", "PRODUCT", "TITLE",
                "BRAND", "MAIN_CATEGORY", "SUB_CATEGORY"]
        got_sales = Counter(
            tuple(r) for r in spark.table("curated.product_sales").select(*cols).collect()
        )
        out.append(
            ("curated.product_sales == python recomputation", got_sales == want_sales,
             f"{sum(got_sales.values())} rows")
        )

        cust_ids = {c["CUSTOMER_ID"] for c in f["customers"]}
        n_overdue = sum(
            1
            for t in f["texts"]
            if (inv := FX.oracle_parse_invoice(t))["INV_STATUS"] == "Overdue"
            and inv["CUSTOMER_ID"] in cust_ids
        )
        out.append(
            ("apps.unpaid_invoices rows", len(self.overdue) == n_overdue,
             f"{len(self.overdue)} rows")
        )

        b_buys = Counter(r[8] for r in want_sales if r[3].startswith(gen.COHORT_PREFIX))
        cohort = {c for c, n in b_buys.items() if n >= 20}
        rec_custs = set(self.recs["CUSTOMER_ID"]) if len(self.recs) else set()
        out.append(
            ("apps.recommendation covers a non-empty cohort",
             bool(cohort) and bool(rec_custs) and rec_custs <= cohort,
             f"{len(rec_custs)} of {len(cohort)} cohort customers"),
        )
        return out

    def _oracle_product_sales(self) -> Counter:
        """``enrich_sales`` recomputed in Python: inner join to the
        standardized customers, left join to the deduped product master
        (first row per PRODUCT by PRODUCT, TITLE, BRAND), full-row
        distinct."""
        f = self.feeds
        custs = defaultdict(list)
        for c in f["customers"]:
            custs[c["CUSTOMER_ID"]].append(FX.oracle_standardize(c))
        master = {}
        for p in sorted(f["feed"], key=lambda r: (r["PRODUCT"], r["TITLE"], r["BRAND"])):
            master.setdefault(p["PRODUCT"], p)
        rows = set()
        for h in f["history"]:
            p = master.get(h["PRODUCT_ID"], {})
            for c in custs.get(h["CUSTOMER_ID"], ()):
                rows.add((
                    h["TXN_ID"], h["TXN_DATE"], h["TXN_QUANTITY"], h["PRODUCT_ID"],
                    h["PRODUCT_DESC"], h["PRODUCT_UNIT_PRICE"],
                    h["TXN_QUANTITY"] * h["PRODUCT_UNIT_PRICE"], h["PAYMENT_METHOD"],
                    h["CUSTOMER_ID"], c["ZIP"], c["FIRST_NAME"], c["LAST_NAME"], c["CITY"],
                    c["STATE"], c["COUNTRY"], p.get("PRODUCT"), p.get("TITLE"),
                    p.get("BRAND"), p.get("MAIN_CATEGORY"), p.get("SUB_CATEGORY"),
                ))
        return Counter(rows)

    def stored_bytes(self) -> tuple[int, int]:
        """(files, bytes) under the medallion tables in the warehouse."""
        wh = self.ctx.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        files = nbytes = 0
        for db, tables in MEDALLION_TABLES.items():
            for t in tables:
                for root, _d, fs in os.walk(os.path.join(wh, f"{db}.db", t)):
                    for name in fs:
                        if not name.startswith((".", "_")):
                            files += 1
                            nbytes += os.path.getsize(os.path.join(root, name))
        return files, nbytes

    def layers(self, per_op: list[dict], span_s: dict[str, list[float]]) -> dict:
        spark = self.ctx.spark
        n_docs = self.feeds["rows"]["invoices"]
        ok = spark.table("raw.pdf_raw_text").filter("EXTRACT_OK").count()
        files, nbytes = self.stored_bytes()
        pdf_s = _median(span_s.get("operators.unstructured.pdf", []))
        return {
            "operators.unstructured.docs_per_s": n_docs / pdf_s if pdf_s else 0.0,
            "operators.unstructured.extract_ok_ratio": ok / n_docs,
            "sources.catalog.files_written": files,
            "sources.catalog.bytes_written": nbytes,
        }


# ------------------------------------------------- stream_and_queries: ticks


def _silver_prepare(df):
    return df.select(
        F.to_date("TXN_DATE").alias("day"),
        "PAYMENT_METHOD",
        (F.round(F.col("PRODUCT_UNIT_PRICE") * 100).cast("long") * F.col("TXN_QUANTITY"))
        .cast("long")
        .alias("amt_cents"),
    )


def _gold_prepare(df):
    return df.select(
        "PAYMENT_METHOD",
        F.col("sum_amt_cents").alias("amt_cents"),
        F.col("n_rows").alias("txns"),
    )


SILVER_SCHEMA = "day DATE, PAYMENT_METHOD STRING, n_rows BIGINT, sum_amt_cents BIGINT"
LAYERS = [
    ("silver", RollupSpec(_silver_prepare, ["day", "PAYMENT_METHOD"], ["amt_cents"])),
    ("gold", RollupSpec(_gold_prepare, ["PAYMENT_METHOD"], ["amt_cents", "txns"])),
]


class TxnStream:
    """DAG-cadence ticks of the streaming path: Kafka-shaped message
    files land, an ``availableNow`` drain appends them to a bronze
    ``SnapshotTable``, ``refresh_chain_txn`` folds silver (day x payment
    method) and gold (payment method) in one catalog commit, and gold is
    read back through the catalog. Table history grows tick by tick.
    Two untimed ticks land first and cover both the first (full) and
    the later (incremental) refresh. Silver is partitioned by day, as
    ``refresh_rollup`` asks of a rollup that should rewrite only the
    partitions a tick touched; gold then folds silver's change feed.

    One tick is one flush of the reference's sink connector: its
    producer sends ~100 messages/s and the sink flushes every 10 s (the
    10,000-record and 5 MB limits are not reached first), so a tick
    lands 1,000 messages, in two files for its two connector tasks."""

    messages, files = 1000, 2
    warm_ticks = 2
    ops_per_cycle = 3

    def setup(self, ctx: Context) -> dict:
        self.ctx = ctx
        t0 = time.perf_counter()
        self.lake = self._lake(ctx.path("lake"))
        # untimed ticks into the timed lake: the first refresh is full,
        # the later ones incremental, so every timed tick is an
        # incremental one, warm, on a table with history
        for i in range(self.warm_ticks):
            files = gen.txn_tick(ctx.seed, i, self.messages, self.files)
            self._tick(self.lake, files, self._fold_expected(self.lake, files))
        return {
            "messages_per_tick": self.messages,
            "files_per_tick": self.files,
            "stream_setup_s": round(time.perf_counter() - t0, 2),
        }

    def _lake(self, root: str) -> dict:
        cat = PinnedCatalog(self.ctx.spark, os.path.join(root, "catalog"))
        # a partition spec is table state that the first commit persists:
        # silver is created empty and partitioned before the catalog pins it
        silver = os.path.join(root, "silver")
        SnapshotTable(self.ctx.spark, silver, partition_by=["day"]).create(
            self.ctx.spark.createDataFrame([], SILVER_SCHEMA)
        )
        cat.register("silver", silver)
        cat.register("gold", os.path.join(root, "gold"))
        src = os.path.join(root, "landing")
        os.makedirs(src, exist_ok=True)
        return {
            "root": root,
            "cat": cat,
            "bronze": SnapshotTable(self.ctx.spark, os.path.join(root, "bronze")),
            "src": src,
            "ckpt": os.path.join(root, "checkpoint"),
            "ticks": 0,
            "landed_bytes": 0,
            "silver": Counter(),
            "gold": Counter(),
            "silver_rows": Counter(),
        }

    def _tick(self, lake: dict, files: list[str], expect: dict) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        t0 = time.perf_counter()
        n = lake["ticks"]
        for j, body in enumerate(files):
            path = os.path.join(lake["src"], f"tick{n:05d}-part{j}.json")
            with open(path + ".tmp", "w") as fh:
                fh.write(body)
            os.rename(path + ".tmp", path)
            lake["landed_bytes"] += os.path.getsize(path)
        with tr.span("streaming.drain", query_ids=[]) as sp:
            td = time.perf_counter()
            q = write_stream_to_snapshot_table(
                parse_txn_stream(read_json_file_stream(spark, lake["src"])),
                lake["bronze"],
                "txn_stream",
                lake["ckpt"],
            )
            if sp is not None:
                sp.attrs["query_ids"].append(str(q.id))
            q.awaitTermination()
            drain_s = time.perf_counter() - td
            progress = q.recentProgress
        with tr.span("plans.txn_refresh.refresh"):
            res = refresh_chain_txn(lake["cat"], lake["bronze"], LAYERS, app_id="chain")
        with tr.span("sources.txn_catalog.read"):
            tr0 = time.perf_counter()
            gold = lake["cat"].read("gold").collect()
            read_s = time.perf_counter() - tr0
        tick_s = time.perf_counter() - t0
        lake["ticks"] += 1
        got = {
            r["PAYMENT_METHOD"]: (r["sum_txns"], r["sum_amt_cents"], r["n_rows"]) for r in gold
        }
        return {
            "tick_s": tick_s,
            "read_s": read_s,
            "drain_s": drain_s,
            "batches": len(progress),
            "rows": sum(p["numInputRows"] for p in progress),
            "batch_s": sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0,
            "modes": res["modes"],
            "gold_ok": got == expect,
        }

    def _fold_expected(self, lake: dict, files: list[str]) -> dict:
        """Gold as it must read after this tick: per payment method,
        (messages, amount in cents, silver rows), from every message
        landed so far."""
        for body in files:
            for line in body.splitlines():
                m = json.loads(line)
                day = dt.datetime.strptime(m["txn_date"], "%m/%d/%Y %I:%M:%S.%f %p").date()
                cents = round(m["product_unit_price"] * 100) * m["txn_quantity"]
                key = m["payment_method"]
                lake["gold"][key, "txns"] += 1
                lake["gold"][key, "cents"] += cents
                lake["silver"][day, key] += cents
                lake["silver_rows"][day, key] += 1
        days = Counter(k for (_d, k) in lake["silver"])
        methods = {k for (k, _f) in lake["gold"]}
        return {k: (lake["gold"][k, "txns"], lake["gold"][k, "cents"], days[k]) for k in methods}

    def op(self, i: int) -> dict:
        files = gen.txn_tick(self.ctx.seed, self.warm_ticks + i, self.messages, self.files)
        expect = self._fold_expected(self.lake, files)
        with self.ctx.tracer.span("streaming.tick"):
            return self._tick(self.lake, files, expect)

    def check(self) -> list[tuple[str, bool, str]]:
        lake = self.lake
        n_msgs = sum(lake["silver_rows"].values())
        bronze_n = lake["bronze"].read().count()
        silver = {
            (r["day"], r["PAYMENT_METHOD"]): (r["sum_amt_cents"], r["n_rows"])
            for r in lake["cat"].read("silver").collect()
        }
        want = {k: (lake["silver"][k], lake["silver_rows"][k]) for k in lake["silver"]}
        return [
            ("bronze rows == landed messages", bronze_n == n_msgs, f"{bronze_n} rows"),
            ("silver == python aggregate of landed messages", silver == want, f"{len(silver)} groups"),
        ]

    def layers(self, ticks: list[dict], span_s: dict[str, list[float]]) -> dict:
        lake = self.lake
        # the lake's first (full) refresh ran in set-up: every timed tick counts
        incr = [all(m.startswith("incremental") for m in o["modes"].values()) for o in ticks]
        manifests = 0
        versions = 0
        for t in ("bronze", "silver", "gold"):
            mdir = os.path.join(lake["root"], t, "_manifests")
            for name in os.listdir(mdir):
                if name.startswith("v") and name.endswith(".json"):
                    versions += 1
                    manifests += os.path.getsize(os.path.join(mdir, name))
        gold_pin = lake["cat"].pin("gold")
        gold = SnapshotTable(self.ctx.spark, os.path.join(lake["root"], "gold"))
        rows = sum(o["rows"] for o in ticks)
        batch_s = sum(o["batch_s"] for o in ticks)
        return {
            "streaming.batches_per_tick": _median([o["batches"] for o in ticks]),
            "streaming.rows_per_s": rows / batch_s if batch_s else 0.0,
            "operators.rollup.incremental_ratio": sum(incr) / len(incr) if incr else 0.0,
            "sources.lakehouse.versions": versions,
            "sources.lakehouse.data_files": len(lake["bronze"].snapshot().files),
            "sources.lakehouse.manifest_bytes": manifests,
            "sources.lakehouse.files_per_read": len(gold.snapshot(gold_pin).files),
        }

    def input_bytes(self) -> int:
        return self.lake["landed_bytes"]

    def stored_bytes(self) -> tuple[int, int]:
        files = nbytes = 0
        for t in ("bronze", "silver", "gold", "catalog"):
            for root, _d, fs in os.walk(os.path.join(self.lake["root"], t)):
                for name in fs:
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, name))
        return files, nbytes


# ----------------------------------------------- stream_and_queries: queries


class HeadlineQueries:
    """Read-only passes of headline queries over generated star-schema,
    events, documents and embeddings tables into a ``noop`` sink,
    releasing caches between queries. The warm-up passes run on tables
    of the same size from another seed, so the timed plans match the
    warmed ones; on a 4-core machine a query's latency settles only
    after two or three runs."""

    sf, warm_passes = 0.01, 2
    #: the headline queries whose work is in operators.dedup (shingle
    #: containment, which also persists through the cache registry) and
    #: operators.similarity (brute-force kNN)
    queries = ["containment_near_subset", "knn_bruteforce"]
    ops_per_cycle = len(queries)

    def setup(self, ctx: Context) -> dict:
        self.ctx = ctx
        t0 = time.perf_counter()
        self.dir = ctx.path("tables")
        rows = gen.headline_tables(self.dir, ctx.seed, self.sf)
        warm = ctx.path("warm_tables")
        gen.headline_tables(warm, ctx.seed + 7919, self.sf)
        for _ in range(self.warm_passes):
            for name in self.queries:
                self._run(name, warm)
        return {"input_rows": rows, "queries_setup_s": round(time.perf_counter() - t0, 2)}

    def _run(self, name: str, sf_dir: str) -> float:
        spark = self.ctx.spark
        t0 = time.perf_counter()
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        finally:
            release_caches()
            spark.catalog.clearCache()
            gc.collect()

    def op(self, i: int) -> dict:
        tr = self.ctx.tracer
        times = []
        with tr.span("plans.queries.pass"):
            for name in self.queries:
                with tr.span(f"plans.queries.{name}"):
                    times.append(self._run(name, self.dir))
        return {"pass_s": sum(times), "requests": times}

    def check(self) -> list[tuple[str, bool, str]]:
        con = duck_connection(self.dir)
        out = []
        for name in self.queries:
            try:
                assert_matches_oracle(QUERIES[name](self.ctx.spark, self.dir), con, ORACLES[name])
                out.append((f"{name} == duckdb oracle", True, ""))
            except AssertionError as exc:
                out.append((f"{name} == duckdb oracle", False, str(exc)[:200]))
            finally:
                release_caches()
                self.ctx.spark.catalog.clearCache()
        return out



class StreamAndQueries:
    """The lakehouse serving path: each cycle is one stream tick
    (messages land until gold is readable) followed by one pass of the
    headline queries, as analysts query while the stream lands. The
    cycle's latency is its tick's; its consume requests are the queries.
    At least two cycles run, so the medians do not rest on the first,
    least warmed tick and pass alone."""

    name = "stream_and_queries"
    ticks_per_cycle, min_cycles = 1, 2

    def __init__(self):
        self.stream, self.queries = TxnStream(), HeadlineQueries()
        self.ops_per_cycle = (
            self.ticks_per_cycle * self.stream.ops_per_cycle + self.queries.ops_per_cycle
        )

    def setup(self, ctx: Context) -> dict:
        return {**self.stream.setup(ctx), **self.queries.setup(ctx)}

    def op(self, i: int) -> dict:
        n = self.ticks_per_cycle
        ticks = [self.stream.op(i * n + j) for j in range(n)]
        return {"latencies": [t["tick_s"] for t in ticks], "ticks": ticks, **self.queries.op(i)}

    def check(self) -> list[tuple[str, bool, str]]:
        return self.stream.check() + self.queries.check()

    def layers(self, per_op: list[dict], span_s: dict[str, list[float]]) -> dict:
        return self.stream.layers([t for r in per_op for t in r["ticks"]], span_s)

    def input_bytes(self) -> int:
        return self.stream.input_bytes()

    def stored_bytes(self) -> tuple[int, int]:
        return self.stream.stored_bytes()


WORKLOADS = {w.name: w for w in (MedallionBatch, StreamAndQueries)}
