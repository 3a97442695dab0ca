"""The two workloads. Each one sets up, runs one op at a time (closed
loop, one client) and checks its outputs outside the timed ops.

* `queries`: 20 declared queries over the catalog, each op one query
  (build, physical plan, execute into the `noop` sink). Ten are ads and
  relational queries that touch no index, lake or Python worker; ten
  are corpus (LLM-curation) queries served from indexes built in set-up,
  with Arrow Python workers, heavy Spark-driver builds and a read-only lake.
* `lake_ingest`: REST-shaped JSON batches through the source, pipeline
  and lake-sink layers, an incremental view refresh and a pruned scan.

Queries run in rounds: a round runs each query once, in an order the
seed permutes, so the composition never depends on the seed. Set-up
runs two untimed rounds, the output check and a warm-up. A run stops
at the first timed round boundary after its time is up. `lake_ingest`
always makes at least MIN_BATCHES timed batches, so what it stores is
the same for a seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import pickle
import random
import time

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

import datagen
from aws_data_pipeline_ads_spark.catalog import TABLES
from aws_data_pipeline_ads_spark.lakelog import LakeTable
from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView
from aws_data_pipeline_ads_spark.pipeline.envelope import transform_source
from aws_data_pipeline_ads_spark.pipeline.quality import remove_duplicates
from aws_data_pipeline_ads_spark.pipeline.sink import lake_sink
from aws_data_pipeline_ads_spark.plans import physical_plan
from aws_data_pipeline_ads_spark.queries import REGISTRY, text_q
from aws_data_pipeline_ads_spark.sources.http_json import normalize_envelope, source_to_df
from aws_data_pipeline_ads_spark.sources.registry import SourceConfig
from tools.check_oracle import compare

ADS_QUERIES = (
    "q_join_star", "q_agg_rollup", "q_window_rank", "q_tpch_q1", "q_tpch_q3",
    "q_session_gap", "q_funnel", "q_tumbling_window", "q_attribution_join",
    "q_hll_rollup",
)
LLM_QUERIES = (
    "q_dedup_exact", "q_minhash_lsh", "q_neardup_verified", "q_text_stats",
    "q_line_dedup", "q_decontaminate", "q_embedding_knn", "q_embedding_ann",
    "q_image_bmp", "q_lake_pruned_scan",
)
QUERIES = ADS_QUERIES + LLM_QUERIES


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def write_oracles(sf_dir: str, out_dir: str) -> None:
    """Pickle each query's DuckDB oracle result into `out_dir`; the
    measured process compares its own results against them."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name in QUERIES:
        con.sql(REGISTRY[name].oracle).df().to_pickle(f"{out_dir}/{name}.pkl")
    con.close()


class QueryWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.order: list[str] = []
        self.bad: set[str] = set()
        self.index_build_s = 0.0

    def setup(self):
        spark, sf, tr = self.ctx.spark, self.ctx.sf_dir, self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("indexcache.build"):
            # the index builders the served queries call; building
            # q_embedding_ann's DataFrame builds its LSH layout
            for build_index in (text_q.bloom_index, text_q.minhash_index,
                                text_q.lakescan_index):
                build_index(spark, sf)
            REGISTRY["q_embedding_ann"].build(spark, sf)
        self.index_build_s = time.perf_counter() - t0
        # The output check is also the first warm-up round: every query
        # runs once and its result is compared with the DuckDB oracle.
        for name in QUERIES:
            try:
                with open(f"{self.ctx.oracle_dir}/{name}.pkl", "rb") as f:
                    want = pickle.load(f)
                err = compare(REGISTRY[name].build(spark, sf).toPandas(), want)
            except Exception as e:  # noqa: BLE001 — a raising query fails its check
                err = f"{type(e).__name__}: {e}"
            if err:
                self.ctx.log(f"check {name}: {err}")
                self.bad.add(name)
        # One more untimed round: the timed ops then meet a JVM past the
        # steepest part of its JIT warm-up, which steadied CPU per op.
        for name in QUERIES:
            try:
                self.op(name)
            except Exception as e:  # noqa: BLE001 — a raising query fails its check
                self.ctx.log(f"warm-up {name}: {type(e).__name__}: {e}")
                self.bad.add(name)

    def next_op(self) -> str:
        if not self.order:
            self.order = list(QUERIES)
            self.rng.shuffle(self.order)
        return self.order.pop()

    def at_boundary(self) -> bool:
        return not self.order

    def op(self, name: str) -> bool:
        spark, sf, tr = self.ctx.spark, self.ctx.sf_dir, self.ctx.tracer
        with tr.span("queries.build"):
            df = REGISTRY[name].build(spark, sf)
        with tr.span("queries.plan"):
            physical_plan(df)
        with tr.span("queries.execute"):
            df.write.mode("overwrite").format("noop").save()
        return True

    def group(self, name: str) -> str:
        return name

    def restart(self, tag: str) -> QueryWorkload:
        """The workload for another pass (named `tag`) on a new session:
        the same one, as every op builds from the current session."""
        return self

    def check(self) -> set[str]:
        return self.bad

    def layer_metrics(self) -> dict[str, float]:
        return {"indexcache.build_s": self.index_build_s,
                "indexcache.bytes": dir_bytes(self.ctx.idx_root)}

    def stored_ratio(self) -> float:
        """Bytes the queries serve from per input byte: the catalog
        tables plus the corpus indexes, over the catalog tables."""
        sf = self.ctx.sf_dir
        inp = sum(os.path.getsize(f"{sf}/{t}.parquet") for t in TABLES)
        return (inp + dir_bytes(self.ctx.idx_root)) / inp


# Explicit reader schemas: records land through from_json (PERMISSIVE),
# the hardened path of sources.http_json.records_to_df.
_SCHEMAS = {
    "marketing": "id BIGINT, title STRING, price STRING, description STRING, "
                 "category STRING, image STRING, rating STRUCT<rate: DOUBLE, count: BIGINT>",
    "sales": "userId BIGINT, id BIGINT, title STRING, body STRING",
    "crm": "email STRING, phone STRING, location STRUCT<country: STRING, city: STRING>, "
           "registered STRUCT<date: STRING, age: BIGINT>, login STRUCT<uuid: STRING>, "
           "name STRUCT<title: STRING, first: STRING, last: STRING>",
}
# Per source: the view's derived group column, then its measure.
_VIEWS = {
    "marketing": {"category": "product.category", "price": "product.price"},
    "sales": {"user_id": "sale.user_id", "body_chars": "length(sale.body)"},
    "crm": {"country": "raw_data.location.country", "age": "raw_data.registered.age"},
}
_AS_OF = dt.datetime(2024, 6, 1)
MAINTAIN_EVERY = 10
BOOTSTRAP_BATCHES = len(_VIEWS)  # one per source: every view is built in set-up
MIN_BATCHES = 8


class LakeIngestWorkload:
    """One op is one batch made queryable: fetch, shape, commit, view
    refresh and a pruned scan of the new batch. Every tenth batch also
    compacts, checkpoints and vacuums the table and its view, so stored
    bytes level off."""

    def __init__(self, ctx, lake_dir: str = "lake"):
        self.ctx = ctx
        self.root = os.path.join(ctx.run_dir, lake_dir)
        self.schemas = {src: T.StructType.fromDDL(ddl) for src, ddl in _SCHEMAS.items()}
        self.tables: dict[str, LakeTable] = {}
        self.views: dict[str, LakeMaterializedView] = {}
        self.batches = 0
        self.payload: tuple[str, str] | None = None
        # figures over the first BOOTSTRAP_BATCHES + MIN_BATCHES batches
        self.json_bytes = self.records = self.kept = 0
        self.snapshot: dict[str, float] = {}
        self.scan_files = self.head_files = 0

    def setup(self):
        for src, derive in _VIEWS.items():
            group, measure = list(derive)
            self.tables[src] = LakeTable(self.ctx.spark, f"{self.root}/{src}")
            self.views[src] = LakeMaterializedView(
                self.ctx.spark, self.tables[src], f"{self.root}/{src}_mv", key="record_id",
                group_cols=["extracted_date", group], measures=[measure], derive=derive)
        for _ in range(BOOTSTRAP_BATCHES):
            if not self.op(self.next_op()):
                raise RuntimeError("a bootstrap batch failed its check")

    def restart(self, tag: str) -> LakeIngestWorkload:
        """The workload for another pass (named `tag`) on a new session:
        a fresh lake fed the same batches, so every pass sees the same
        lake states."""
        fresh = LakeIngestWorkload(self.ctx, f"lake-{tag}")
        fresh.setup()
        return fresh

    def next_op(self) -> int:
        """The next batch number; its payload is generated here, before
        the op's clock starts."""
        self.payload = datagen.ingest_batch(self.ctx.seed, self.batches)
        self.batches += 1
        return self.batches - 1

    def at_boundary(self) -> bool:
        return self.batches >= BOOTSTRAP_BATCHES + MIN_BATCHES

    def op(self, i: int) -> bool:
        spark, tr = self.ctx.spark, self.ctx.tracer
        src, body = self.payload
        as_of = _AS_OF + dt.timedelta(minutes=i)
        table, view = self.tables[src], self.views[src]
        cfg = SourceConfig(name=src, url=f"https://{src}.example/api",
                           default_limit=datagen.BATCH_RECORDS,
                           max_records=datagen.BATCH_RECORDS)
        with tr.span("sources.source_to_df"):
            raw = source_to_df(spark, cfg, schema=self.schemas[src],
                               http_get=lambda url, timeout: (200, body))
        with tr.span("pipeline.shape"):
            shaped = remove_duplicates(transform_source(raw, src, as_of), ["record_id"])
        with tr.span("lakelog.commit"):
            lake_sink(shaped, table, src, as_of.date(), txn_id=f"batch-{i}")
        with tr.span("lakemv.refresh"):
            view.refresh()
        with tr.span("lakelog.scan"):
            newest = table.scan({"extracted_at": (as_of, as_of)})
            n_scanned = newest.count()
        if i % MAINTAIN_EVERY == MAINTAIN_EVERY - 1:
            with tr.span("lakelog.maintain"):
                for t in (table, view.table):
                    t.compact(incremental=True)
                    t.checkpoint()
                    t.vacuum()
        return self._account(i, src, body, newest, n_scanned)

    def _account(self, i, src, body, newest, n_scanned) -> bool:
        """Per-batch bookkeeping and check: the pruned scan must return
        exactly the rows the batch committed."""
        table = self.tables[src]
        committed = next(h["meta"]["record_count"] for h in reversed(table.history())
                         if h["txn_id"] == f"batch-{i}")
        self.scan_files += len(newest.inputFiles())
        self.head_files += len(table.read().inputFiles())
        if i < BOOTSTRAP_BATCHES + MIN_BATCHES:
            self.json_bytes += len(body)
            self.records += datagen.BATCH_RECORDS
            self.kept += committed
        if i == BOOTSTRAP_BATCHES + MIN_BATCHES - 1:
            self.snapshot = self._stored_now()
        return n_scanned == committed

    def _stored_now(self) -> dict[str, float]:
        lake = sum(dir_bytes(t.path) for t in self.tables.values())
        state = sum(dir_bytes(v.table.path) for v in self.views.values())
        log = sum(dir_bytes(t.log_dir) for t in self.tables.values())
        return {"stored_bytes_per_input_byte": (lake + state) / self.json_bytes,
                "lakelog.log_bytes": log, "lakelog.data_bytes": lake - log,
                "lakemv.state_bytes": state,
                "lakelog.head_files": sum(len(t.read().inputFiles())
                                          for t in self.tables.values())}

    def group(self, i: int) -> str:
        return datagen.SOURCES[i % len(datagen.SOURCES)]

    def check(self) -> set[str]:
        """Sources whose view differs from a from-scratch GROUP BY over
        the lake head, or whose head row count differs from the number
        of distinct records ingested. Record ids hash the whole record,
        and the reader schemas cover every field the payloads carry, so
        distinct records and distinct record ids are the same count."""
        bad = set()
        distinct: dict[str, set[str]] = {}
        for i in range(self.batches):
            src, body = datagen.ingest_batch(self.ctx.seed, i)
            distinct.setdefault(src, set()).update(
                json.dumps(r, sort_keys=True) for r in normalize_envelope(json.loads(body)))
        for src, view in self.views.items():
            group, measure = list(_VIEWS[src])
            head = self.tables[src].read()
            for name, expr in _VIEWS[src].items():
                head = head.withColumn(name, F.expr(expr))
            full = head.groupBy("extracted_date", group).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(measure).alias(f"n_{measure}"),
                F.sum(F.col(measure).cast("decimal(38,6)")).alias(f"sum_{measure}"))
            err = compare(view.read().select(*full.columns).toPandas(), full.toPandas())
            n_head = head.count()
            if not err and n_head != len(distinct[src]):
                err = f"head holds {n_head} rows for {len(distinct[src])} distinct records"
            if err:
                self.ctx.log(f"check {src}: {err}")
                bad.add(src)
        return bad

    def layer_metrics(self) -> dict[str, float]:
        out = {k: v for k, v in self.snapshot.items() if k != "stored_bytes_per_input_byte"}
        out["pipeline.rows_kept_ratio"] = self.kept / self.records
        out["lakelog.scan_files_ratio"] = self.scan_files / self.head_files
        return out

    def stored_ratio(self) -> float:
        return self.snapshot["stored_bytes_per_input_byte"]
