"""The ``medallion`` workload: seeded shipment CDC batches through the
bronze -> silver -> gold write path, with a DuckDB reference.

One op is one batch: land its JSON files, read them with
``sources.readers.read_json_stage``, merge them into ``fact_shipments``
through a ``plans.runner.ModelRunner`` model (quality checks, audit rows,
``plans.materialize.TableStore`` commits), rebuild five gold marts from
``models.gold``, then drain the landing directory through
``streaming.upsert.stream_merge_upsert`` (availableNow). Batches run one
after another into one warehouse, so the merge target grows with every
batch.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass

from measure import Tracer
from pyspark.sql import functions as F

from logistics_data_pipeline_project_spark.models import gold
from logistics_data_pipeline_project_spark.models.shipments import (
    MERGE_KEYS,
    ingest_shipment_batch,
)
from logistics_data_pipeline_project_spark.plans import quality
from logistics_data_pipeline_project_spark.plans.materialize import TableStore
from logistics_data_pipeline_project_spark.plans.runner import Model, ModelRunner
from logistics_data_pipeline_project_spark.sources.readers import read_json_stage
from logistics_data_pipeline_project_spark.streaming.upsert import stream_merge_upsert

#: Mean rows per batch, the size of a logged shipment MERGE ("Rows
#: affected: 988", SURVEY.md section 6); the seed spreads batch sizes 25%
#: either side.
ROWS_PER_BATCH = 1000
#: Shipment documents per landed JSON file: the source API's page size
#: (SURVEY.md section 6), so a batch lands about ten files.
DOCS_PER_FILE = 100
T0 = dt.datetime(2024, 3, 1)
#: shipment_delay_summary's fixed ``as_of``: its 30-day window starts one
#: day after T0, so batch 0's rows drop out unless a later batch updates them.
AS_OF = dt.date(2024, 3, 31)

# The seller dimension has the logged dim_sellers row count (146,
# SURVEY.md section 6). The carriers, cities and pincodes are assumed:
# the repository records no counts for them.
CARRIERS = [(f"C{100 + i}", n) for i, n in enumerate(
    ["BlueDart", "Delhivery", "Ecom", "XpressBees", "Shadowfax", "DTDC", "Ekart", "Gati"])]
SELLERS = [f"S{i:03d}" for i in range(1, 147)]
CITIES = ["Mumbai", "Delhi", "Bangalore", "Chennai", "Pune", "Kolkata", "Jaipur", "Surat"]
PINCODES = [(f"{400001 + 37 * i}", CITIES[i % len(CITIES)]) for i in range(24)]
STATUSES = ["Delivered", "In Transit", "RTO", "Created"]

GOLD_MARTS = (
    "shipment_delay_summary",
    "seller_rto_performance",
    "courier_sla_breach",
    "shipment_cost_summary",
    "geo_delivery_summary",
)
STREAM_TABLE = "fact_shipments_stream"
STREAM_COLS = ("shipment_id", "order_id", "carrier_id", "seller_id", "created_at",
               "shipping_cost", "status")


@dataclass(frozen=True)
class Shape:
    """What the seed varies: batch sizes, the share of rows that update
    a key from an earlier batch, and the share that repeat a key already
    in the same batch."""

    sizes: tuple[int, ...]
    update_share: float
    repeat_share: float


def shape_for(seed: int, n_batches: int) -> Shape:
    # the update and repeat shares are assumptions: the logs the batch
    # size comes from do not say how many rows were updates
    rng = random.Random(seed)
    update_share, repeat_share = rng.uniform(0.2, 0.4), rng.uniform(0.05, 0.15)
    sizes = tuple(round(ROWS_PER_BATCH * rng.uniform(0.75, 1.25)) for _ in range(n_batches))
    return Shape(sizes, update_share, repeat_share)


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def generate_batches(seed: int, n_batches: int) -> list[list[dict]]:
    """The seed's first ``n_batches`` CDC batches as JSON-ready shipment
    documents (a longer sequence starts with the same batches).

    Batch b's ``created_at`` values fall on day b, so a key's version in
    a later batch is always newer; a repeated key inside one batch may tie
    on ``created_at`` and is then decided by ``shipment_id``."""
    shape = shape_for(seed, n_batches)
    rng = random.Random(seed * 7919 + 1)
    batches: list[list[dict]] = []
    known: list[tuple[str, str, str]] = []
    known_set: set[tuple[str, str, str]] = set()
    serial = 0
    for b, size in enumerate(shape.sizes):
        day = T0 + dt.timedelta(days=b)
        docs: list[dict] = []
        in_batch: list[tuple[tuple[str, str, str], dt.datetime]] = []
        for _ in range(size):
            r = rng.random()
            if in_batch and r < shape.repeat_share:
                key, prev = rng.choice(in_batch)
                created = min(prev + dt.timedelta(minutes=rng.choice([0, 0, 7, 90])),
                              day + dt.timedelta(hours=23, minutes=59))
            else:
                if known and r < shape.repeat_share + shape.update_share:
                    key = rng.choice(known)
                else:
                    serial += 1
                    key = (f"O{serial:06d}", rng.choice(CARRIERS)[0], rng.choice(SELLERS))
                created = day + dt.timedelta(seconds=rng.randrange(0, 23 * 3600))
            in_batch.append((key, created))
            docs.append(_document(rng, f"SH{b:02d}{len(docs):05d}", key, created))
        for k, _ in in_batch:
            if k not in known_set:
                known_set.add(k)
                known.append(k)
        batches.append(docs)
    return batches


def _document(rng: random.Random, sid: str, key: tuple[str, str, str],
              created: dt.datetime) -> dict:
    order_id, carrier_id, seller_id = key
    status = rng.choice(STATUSES)
    tat = rng.randint(1, 9)
    delivered = created + dt.timedelta(days=tat, hours=rng.randint(0, 12))
    pincode, city = rng.choice(PINCODES)
    tracking = [
        {"status": "Created", "timestamp": _ts(created - dt.timedelta(minutes=rng.randint(1, 50)))},
        {"status": "Created", "timestamp": _ts(created)},
    ]
    if status == "Delivered":
        tracking.append({"status": "Delivered", "timestamp": _ts(delivered)})
    return {
        "shipment_id": sid,
        "carrier": {"carrier_id": carrier_id, "carrier_name": dict(CARRIERS)[carrier_id]},
        "route": {
            "origin": {"city": rng.choice(CITIES), "pincode": rng.choice(PINCODES)[0],
                       "warehouse_id": f"W{rng.randint(1, 6)}"},
            "destination": {"city": city, "pincode": pincode,
                            "customer_address_type": rng.choice(["Home", "Office"])},
        },
        "order_reference": {"order_id": order_id, "seller_id": seller_id,
                            "channel": rng.choice(["App", "Web", "Store"])},
        "charges": {
            "shipping_cost": round(rng.uniform(20, 200), 2),
            "fuel_surcharge": round(rng.uniform(0, 30), 2),
            "insurance": round(rng.uniform(0, 10), 2),
            "cod_fee": rng.choice([0.0, 10.0, 25.5]),
        },
        "shipment_details": {
            "status": status, "rto_flag": status == "RTO", "delay_flag": rng.random() < 0.3,
            "delivery_tat_days": tat, "created_at": _ts(created),
            "delivered_at": _ts(delivered), "status_tracking": tracking,
        },
    }


def dims() -> dict[str, list[dict]]:
    return {
        "dim_sellers": [{"SELLER_ID": s, "SELLER_NAME": f"Seller {s[1:]}"} for s in SELLERS],
        "dim_couriers": [{"COURIER_ID": c, "NAME": n} for c, n in CARRIERS],
        "dim_locations": [{"PINCODE": p, "CITY": c} for p, c in PINCODES],
    }


class TimedStore(TableStore):
    """The benchmark's TableStore: times every commit and read and counts
    what each commit wrote. Figures accumulate in ``figures``."""

    def __init__(self, spark, warehouse_dir: str, tracer: Tracer, figures: dict) -> None:
        super().__init__(spark, warehouse_dir)
        self.tracer = tracer
        self.figures = figures
        self._local = threading.local()

    def _files(self, name: str) -> set[str]:
        if not self.exists(name):
            return set()
        vdir = self.path(name)
        return {os.path.join(vdir, f) for f in os.listdir(vdir) if f.endswith(".parquet")}

    def _commit(self, kind: str, name: str, df, meta) -> None:
        if getattr(self._local, "busy", False):
            # an append that falls back to an overwrite is one commit
            getattr(super(), kind)(name, df, meta=meta)
            return
        before = {os.path.basename(f) for f in self._files(name)} if self.tracer.enabled else set()
        self._local.busy = True
        t = time.perf_counter()
        try:
            with self.tracer.span(f"store.{kind}", table=name):
                getattr(super(), kind)(name, df, meta=meta)
        finally:
            self._local.busy = False
        self.figures[f"store.{kind}_s"] += time.perf_counter() - t
        if self.tracer.enabled:
            # appended versions hardlink the files they carry over
            new = [f for f in self._files(name) if os.path.basename(f) not in before]
            self.figures["store.bytes_written"] += sum(os.path.getsize(f) for f in new)
            self.figures["store.rows_written"] += _parquet_rows(new)

    def overwrite(self, name, df, meta=None):
        self._commit("overwrite", name, df, meta)

    def append(self, name, df, meta=None):
        self._commit("append", name, df, meta)

    def read(self, name, version=None):
        t = time.perf_counter()
        with self.tracer.span("store.read", table=name):
            out = super().read(name, version)
        self.figures["store.read_s"] += time.perf_counter() - t
        return out


def _parquet_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def warehouse_bytes(root: str) -> int:
    """Bytes of every retained version of every table under ``root``."""
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _key_checks(df) -> list[quality.CheckResult]:
    """The fact's merge key is present and unique."""
    out = []
    for name, check in (("not_null", quality.not_null), ("unique", quality.unique)):
        n = check(df, MERGE_KEYS)
        out.append(quality.CheckResult(name, "fact_shipments", n == 0, n))
    return out


class Pipeline:
    """The medallion pipeline over a fresh warehouse under ``work``.

    ``stats`` accumulates the per-layer figures; :meth:`begin` zeroes it
    and sets the tracer for the next stretch of batches."""

    def __init__(self, spark, work: str, batches: list[list[dict]], keys: tuple[str, ...]) -> None:
        self.spark, self.batches = spark, batches
        self.tracer = Tracer(enabled=False)
        self.stats = dict.fromkeys(keys, 0.0)
        shutil.rmtree(work, ignore_errors=True)
        self.landing = os.path.join(work, "landing")
        self.checkpoint = os.path.join(work, "stream_checkpoint")
        os.makedirs(self.landing)
        self.store = TimedStore(spark, os.path.join(work, "warehouse"), self.tracer, self.stats)
        for name, rows in dims().items():
            self.store.overwrite(name, spark.createDataFrame(rows))
        self.raw = None
        self.raw_schema = None
        self.landed_bytes = 0
        self.done = 0
        # concurrent gold marts, never more threads than cores
        self.runner = ModelRunner(spark, self.store,
                                  threads=min(3, len(os.sched_getaffinity(0))))
        self.runner.register(Model(
            "fact_shipments", self._timed_model(self._fact),
            checks=self._timed_checks(_key_checks)))
        as_of = F.lit(AS_OF)
        marts = {
            "shipment_delay_summary": lambda ref: gold.shipment_delay_summary(
                ref("fact_shipments"), as_of=as_of),
            "seller_rto_performance": lambda ref: gold.seller_rto_performance(
                ref("fact_shipments"), ref("dim_sellers")),
            "courier_sla_breach": lambda ref: gold.courier_sla_breach(
                ref("fact_shipments"), ref("dim_couriers")),
            "shipment_cost_summary": lambda ref: gold.shipment_cost_summary(ref("fact_shipments")),
            "geo_delivery_summary": lambda ref: gold.geo_delivery_summary(
                ref("fact_shipments"), ref("dim_locations")),
        }
        for name, build in marts.items():
            self.runner.register(Model(
                name, self._timed_model(lambda spark, ref, build=build: build(ref)),
                deps=("fact_shipments",)))

    def begin(self, tracer: Tracer) -> None:
        self.tracer = self.store.tracer = tracer
        self.stats.update(dict.fromkeys(self.stats, 0.0))

    def _fact(self, spark, ref):
        target = self.store.read("fact_shipments") if self.store.exists("fact_shipments") else None
        return ingest_shipment_batch(self.raw, target)

    def _timed_model(self, fn):
        def run(spark, ref):
            t = time.perf_counter()
            with self.tracer.span("runner.model"):
                out = fn(spark, ref)
            self.stats["runner.model_s"] += time.perf_counter() - t
            return out
        return run

    def _timed_checks(self, fn):
        def run(df):
            t = time.perf_counter()
            with self.tracer.span("runner.checks"):
                out = fn(df)
            self.stats["runner.checks_s"] += time.perf_counter() - t
            return out
        return run

    def run_batch(self) -> None:
        """One op: land the next batch through to the streamed target's commit."""
        b = self.done
        docs = self.batches[b]
        with self.tracer.span("land"):
            for k in range(math.ceil(len(docs) / DOCS_PER_FILE)):
                path = os.path.join(self.landing, f"b{b:03d}_{k:03d}.json")
                with open(path, "w") as f:
                    json.dump(docs[k * DOCS_PER_FILE:(k + 1) * DOCS_PER_FILE], f)
                self.landed_bytes += os.path.getsize(path)
                self.stats["sources.input_bytes"] += os.path.getsize(path)
        t = time.perf_counter()
        with self.tracer.span("sources.read"):
            self.raw = read_json_stage(self.spark, os.path.join(self.landing, f"b{b:03d}_*.json"))
        self.stats["sources.read_s"] += time.perf_counter() - t
        if self.raw_schema is None:
            self.raw_schema = self.raw.schema
        with self.tracer.span("runner.run") as run:
            # the gold marts run on the runner's pool threads: hang their
            # spans under this one
            self.tracer.root = run.sid
            self.runner.run()
        self.tracer.root = None
        with self.tracer.span("stream.run"):
            self._stream()
        self.stats["rows_merged"] += len(docs)
        self.done += 1

    def _stream(self) -> None:
        src = (self.spark.readStream.schema(self.raw_schema).option("multiLine", "true")
               .json(self.landing))
        flat = src.select(
            F.col("shipment_id"),
            F.col("order_reference.order_id").alias("order_id"),
            F.col("carrier.carrier_id").alias("carrier_id"),
            F.col("order_reference.seller_id").alias("seller_id"),
            F.try_to_timestamp(F.col("shipment_details.created_at")).alias("created_at"),
            F.col("charges.shipping_cost").cast("double").alias("shipping_cost"),
            F.col("shipment_details.status").alias("status"),
        )
        q = stream_merge_upsert(flat, self.store, STREAM_TABLE, keys=list(MERGE_KEYS),
                                cursor_col="created_at", tiebreak_col="shipment_id",
                                checkpoint_dir=self.checkpoint)
        try:
            drained = q.awaitTermination(120)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None or not drained:
            raise RuntimeError(f"stream merge did not drain: {q.exception() or 'timed out'}")
        for p in q.recentProgress:
            d = p.durationMs
            self.stats["stream.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            self.stats["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
            self.stats["stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
            self.stats["stream.wal_commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3

    def versions_live(self) -> int:
        root = self.store.warehouse_dir
        return sum(len(self.store.versions(t)) for t in os.listdir(root))

    def outputs(self) -> dict[str, list[dict]]:
        """Final fact, streamed target and gold marts, as plain rows read
        straight from each table's committed snapshot."""
        import pyarrow.parquet as pq

        names = ("fact_shipments", STREAM_TABLE) + GOLD_MARTS
        return {n: pq.read_table(self.store.path(n)).to_pylist() for n in names}


# -- DuckDB reference --------------------------------------------------------


def _flat_rows(batches: list[list[dict]]) -> list[dict]:
    rows = []
    for docs in batches:
        for d in docs:
            det = d["shipment_details"]
            track = det["status_tracking"]
            created = [t["timestamp"] for t in track if t["status"] == "Created"]
            delivered = [t["timestamp"] for t in track if t["status"] == "Delivered"]
            rows.append({
                "shipment_id": d["shipment_id"],
                "carrier_id": d["carrier"]["carrier_id"],
                "carrier_name": d["carrier"]["carrier_name"],
                "origin_city": d["route"]["origin"]["city"],
                "origin_pincode": d["route"]["origin"]["pincode"],
                "warehouse_id": d["route"]["origin"]["warehouse_id"],
                "destination_city": d["route"]["destination"]["city"],
                "destination_pincode": d["route"]["destination"]["pincode"],
                "customer_address_type": d["route"]["destination"]["customer_address_type"],
                "order_id": d["order_reference"]["order_id"],
                "seller_id": d["order_reference"]["seller_id"],
                "channel": d["order_reference"]["channel"],
                **{k: float(v) for k, v in d["charges"].items()},
                "status": det["status"],
                "rto_flag": det["rto_flag"],
                "delay_flag": det["delay_flag"],
                "delivery_tat_days": det["delivery_tat_days"],
                "created_at": det["created_at"],
                "delivered_at": det["delivered_at"],
                "status_created_at": max(created) if created else None,
                "status_delivered_at": max(delivered) if delivered else None,
            })
    return rows


_TS_COLS = ("created_at", "delivered_at", "status_created_at", "status_delivered_at")

REFERENCE_SQL = {
    "fact_shipments": """
        SELECT * FROM raw QUALIFY row_number() OVER (
          PARTITION BY order_id, carrier_id, seller_id
          ORDER BY created_at DESC, shipment_id DESC) = 1""",
    STREAM_TABLE: f"SELECT {', '.join(STREAM_COLS)} FROM fact",
    "shipment_delay_summary": """
        SELECT carrier_name AS courier_name, destination_city AS delivery_zone,
          count(*) AS total_shipments,
          avg(date_diff('day', CAST(status_created_at AS DATE),
                        CAST(status_delivered_at AS DATE))) AS avg_delivery_days,
          sum(CASE WHEN delay_flag THEN 1 ELSE 0 END) AS delayed_shipments,
          spark_round(100.0::DOUBLE * sum(CASE WHEN delay_flag THEN 1 ELSE 0 END) / count(*), 2)
            AS delay_rate_pct
        FROM fact WHERE status_created_at >= DATE '{as_of}' - INTERVAL 30 DAYS
        GROUP BY 1, 2""",
    "seller_rto_performance": """
        SELECT s.SELLER_ID AS seller_id, s.SELLER_NAME AS seller_name,
          count(*) AS total_orders, spark_round(avg(delivery_tat_days), 2) AS avg_tat,
          sum(CASE WHEN rto_flag THEN 1 ELSE 0 END) AS rto_orders,
          spark_round(100.0::DOUBLE * sum(CASE WHEN rto_flag THEN 1 ELSE 0 END) / count(*), 2)
            AS rto_pct,
          spark_round(sum(shipping_cost), 2) AS total_shipping_cost
        FROM fact f JOIN dim_sellers s ON f.seller_id = s.SELLER_ID GROUP BY 1, 2""",
    "courier_sla_breach": """
        SELECT c.NAME AS courier_name, count(*) AS total_shipments,
          sum(CASE WHEN delay_flag THEN 1 ELSE 0 END) AS sla_breaches,
          spark_round(100.0::DOUBLE * sum(CASE WHEN delay_flag THEN 1 ELSE 0 END) / count(*), 2)
            AS breach_pct
        FROM fact f JOIN dim_couriers c ON f.carrier_id = c.COURIER_ID GROUP BY 1""",
    "shipment_cost_summary": """
        SELECT carrier_name AS CARRIER_NAME,
          spark_round(avg(shipping_cost), 2) AS avg_shipping_cost,
          spark_round(avg(fuel_surcharge), 2) AS avg_fuel_surcharge,
          spark_round(avg(insurance), 2) AS avg_insurance,
          spark_round(avg(cod_fee), 2) AS avg_cod_fee
        FROM fact GROUP BY 1""",
    "geo_delivery_summary": """
        SELECT f.destination_pincode AS DESTINATION_PINCODE, l.CITY AS CITY,
          count(*) AS shipment_count, spark_round(avg(delivery_tat_days), 2) AS avg_delivery_days,
          100.0::DOUBLE * sum(CASE WHEN delay_flag THEN 1 ELSE 0 END) / count(*) AS delay_rate
        FROM fact f JOIN dim_locations l ON f.destination_pincode = l.PINCODE GROUP BY 1, 2""",
}


def reference(batches: list[list[dict]]) -> dict[str, list[dict]]:
    """Expected outputs computed by DuckDB straight from the batches."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        # Spark's ROUND on a DOUBLE rounds its shortest decimal form HALF_UP;
        # DuckDB's rounds the binary value, which differs at .xx5 boundaries
        con.execute("CREATE MACRO spark_round(x, d) AS "
                    "CAST(round(CAST(CAST(x AS VARCHAR) AS DECIMAL(38, 12)), d) AS DOUBLE)")
        raw = pd.DataFrame(_flat_rows(batches))
        for c in _TS_COLS:
            raw[c] = pd.to_datetime(raw[c])
        con.register("raw", raw)
        for name, rows in dims().items():
            con.register(name, pd.DataFrame(rows))
        con.execute(f"CREATE TABLE fact AS {REFERENCE_SQL['fact_shipments']}")
        out = {}
        for name, sql in REFERENCE_SQL.items():
            sql = "SELECT * FROM fact" if name == "fact_shipments" else sql
            cur = con.execute(sql.format(as_of=AS_OF.isoformat()))
            cols = [d[0] for d in cur.description]
            out[name] = [dict(zip(cols, r)) for r in cur.fetchall()]
        return out
    finally:
        con.close()


def _norm_row(row: dict) -> tuple:
    out = []
    for k in sorted(row, key=str.lower):
        v = row[k]
        if hasattr(v, "isoformat"):
            v = v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
        elif isinstance(v, bool) or v is None or isinstance(v, str):
            pass
        elif isinstance(v, (int, float)) or hasattr(v, "as_tuple"):
            v = float(v)
        out.append((k.lower(), v))
    return tuple(out)


#: The columns that may differ by one cent: ROUND(avg, 2) over double
#: charges lands on either side of a half cent when the two engines sum in
#: different orders. A sum of cent values sits on a cent, so it rounds
#: alike in both engines, and averages of integer columns are exact in
#: both: they get no allowance.
ROUNDED_AVGS = {
    "shipment_cost_summary": frozenset(
        ("avg_shipping_cost", "avg_fuel_surcharge", "avg_insurance", "avg_cod_fee")),
}


def _cents(v: float) -> bool:
    return abs(v * 100 - round(v * 100)) < 1e-6


def _close(a: tuple, b: tuple, cent_cols: frozenset[str] = frozenset()) -> bool:
    if len(a) != len(b):
        return False
    for (ka, va), (kb, vb) in zip(a, b):
        if ka != kb:
            return False
        if isinstance(va, float) and isinstance(vb, float):
            if math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9):
                continue
            if not (ka in cent_cols and _cents(va) and _cents(vb)
                    and abs(abs(va - vb) - 0.01) < 1e-9):
                return False
        elif va != vb:
            return False
    return True


def compare(got: dict[str, list[dict]], want: dict[str, list[dict]]) -> list[str]:
    """Mismatch descriptions, one per table that differs (empty: all match).
    Rows compare order-insensitively; floats to a relative 1e-9, since
    Spark and DuckDB may sum in different orders, except that a column of
    ``ROUNDED_AVGS`` may differ by the one cent such an order moves it
    across."""
    bad = []
    for name, rows in want.items():
        cent_cols = ROUNDED_AVGS.get(name, frozenset())
        g = sorted((_norm_row(r) for r in got[name]), key=repr)
        w = sorted((_norm_row(r) for r in rows), key=repr)
        if len(g) != len(w):
            bad.append(f"{name}: {len(g)} rows, reference has {len(w)}")
            continue
        diff = [(x, y) for x, y in zip(g, w) if not _close(x, y, cent_cols)]
        if diff:
            bad.append(f"{name}: {len(diff)} rows differ, first {diff[0]}")
    return bad
