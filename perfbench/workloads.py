"""The benchmark's workloads.

Each workload prepares its inputs from the seed (untimed), runs one
untimed warm-up pass, then runs timed passes. A pass returns one
``(operation, seconds)`` sample per operation. Output checks run outside
the timed region; a failed check or a raised operation is counted, never
fatal. ``traced_pass`` times the layers of one pass with spans and Spark
counters (see ``spans.py`` and ``counters.py``).
"""

from __future__ import annotations

import concurrent.futures as cf
import contextlib
import hashlib
import json
import os
import random
import shutil
import threading
import time
import traceback

import pyarrow.parquet as pq

import stacgen
import tables
from counters import EXEC_KEYS
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

OPERATOR_MIX = [
    "q_minhash_dedup", "q_ann_ivf", "q_lang_id_trigram", "q_triangle_count",
    "q_item_item_cf", "q_label_propagation", "q_weighted_median",
    "q_logreg_train",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def output_digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a query result (``testing.canonical_rows``)."""
    from hls_stac_parquet_spark.testing import canonical_rows

    canon = canonical_rows(list(columns), rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


@contextlib.contextmanager
def patched(targets: list[tuple[object, str]], wrap):
    """Replace ``module.attr`` with ``wrap(original)`` for each target,
    restoring the originals on exit."""
    saved = [(m, a, getattr(m, a)) for m, a in targets]
    try:
        for m, a, orig in saved:
            setattr(m, a, wrap(orig))
        yield
    finally:
        for m, a, orig in saved:
            setattr(m, a, orig)


class Workload:
    name = ""

    def __init__(self, work_dir: str, seed: int):
        self.work = work_dir
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self._lock = threading.Lock()  # warm-up threads report here

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        with self._lock:
            self.failed += 1
        log(f"FAILED {what}: {exc!r}" if exc else f"FAILED {what}")
        if exc is not None:
            traceback.print_exc()

    def mismatch(self, what: str) -> None:
        with self._lock:
            self.mismatches.append(what)
        log(f"CHECK MISMATCH {what}")

    def check_timed(self) -> dict:
        """Check the timed passes' outputs; return facts for the run record."""
        return {}

    def cleanup(self) -> None:
        pass


# ---------------------------------------------------------------------------
# registry-query workloads
# ---------------------------------------------------------------------------


class QueryWorkload(Workload):
    """A fixed set of registry queries, noop sink, seeded order per pass."""

    names: list[str] = []
    warmup_threads = 1

    def __init__(self, work_dir: str, seed: int):
        super().__init__(work_dir, seed)
        from hls_stac_parquet_spark.queries import REGISTRY

        self.registry = REGISTRY
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)

    def prepare(self) -> None:
        self.sf_dir = tables.ensure_tables(os.path.join(self.work, "data"))

    def order(self, pass_idx: int) -> list[str]:
        names = list(self.names)
        random.Random(f"{self.seed}:{pass_idx}").shuffle(names)
        return names

    def check_output(self, name: str, df) -> None:
        rows = [tuple(r) for r in df.collect()]
        exp = self.expected[name]
        if len(rows) != exp["rows"]:
            self.mismatch(f"{name}: {len(rows)} rows, expected {exp['rows']}")
        elif exp.get("digest") and output_digest(df.columns, rows) != exp["digest"]:
            self.mismatch(f"{name}: output digest differs")

    def warmup(self, spark) -> None:
        """One untimed pass; each query's collected output is checked.
        ``warmup_threads`` queries run at once: compiling each plan is
        driver work the pass exists to pay, and threads overlap it."""

        def one(name: str) -> None:
            try:
                self.check_output(name, self.registry[name].fn(spark, self.sf_dir))
            except Exception as e:  # noqa: BLE001
                self.fail(f"warm-up {name}", e)

        with cf.ThreadPoolExecutor(self.warmup_threads) as pool:
            list(pool.map(one, self.order(-1)))
        spark.catalog.clearCache()

    def timed_pass(self, spark, pass_idx: int) -> list[tuple[str, float]]:
        samples = []
        for name in self.order(pass_idx):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                _noop(self.registry[name].fn(spark, self.sf_dir))
            except Exception as e:  # noqa: BLE001
                self.fail(name, e)
            samples.append((name, time.perf_counter() - t0))
            spark.catalog.clearCache()
        return samples

    def traced_pass(self, spark, tracer: Tracer, counters) -> dict:
        from hls_stac_parquet_spark import queries
        from hls_stac_parquet_spark.queries import registry

        mods = [getattr(queries, m) for m in dir(queries)]
        targets = [(m, "t") for m in mods if getattr(m, "t", None) is registry.t]

        def wrap_t(orig):
            def traced_t(spark_, sf_dir, name):
                with tracer.span("queries.registry.t"):
                    return orig(spark_, sf_dir, name)
            return traced_t

        resident = []
        t0 = time.perf_counter()
        with patched(targets, wrap_t):
            for name in self.order(0):
                with tracer.span("query", op=name):
                    with tracer.span("queries.build"):
                        df = self.registry[name].fn(spark, self.sf_dir)
                    with tracer.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec"):
                        _noop(df)
                spark.catalog.clearCache()
                resident.append(counters.resident())
        wall = time.perf_counter() - t0
        layers = layer_totals(tracer)
        out = {
            "queries.registry.t.calls": layers.get("queries.registry.t", {}).get("count", 0),
            "queries.registry.t.s": _self(layers, "queries.registry.t"),
            "queries.registry.t.jobs": _ctr(layers, "queries.registry.t", "jobs"),
            "queries.build.s": _self(layers, "queries.build"),
            "queries.build.jobs": _ctr(layers, "queries.build", "jobs"),
            "plan.s": _self(layers, "plan"),
            "exec.s": _self(layers, "exec"),
        }
        out.update(exec_counters(layers, ["exec"]))
        out.update(python_counters(layers))
        for key in ("materialize.resident_rdds", "materialize.resident_bytes"):
            out[key] = max(r[key] for r in resident)
        out["trace.wall_s"] = wall
        out["trace.layer_sum_s"] = sum(r["self_s"] for r in layers.values())
        out["trace.hook_s"] = sum(r["hook_s"] for r in layers.values())
        return out


class Tpch(QueryWorkload):
    name = "tpch"
    warmup_threads = 4

    @property
    def names(self) -> list[str]:
        return sorted(n for n in self.registry if n.startswith("q_tpch_"))


class OperatorMix(QueryWorkload):
    name = "operator_mix"
    names = OPERATOR_MIX
    # q_logreg_train and q_label_propagation flip session-wide conf
    # (spark.sql.adaptive.enabled), so their warm-up runs one at a time


# ---------------------------------------------------------------------------
# stac_month: E1 then E2 over one generated collection-month
# ---------------------------------------------------------------------------


class StacMonth(Workload):
    name = "stac_month"
    granules_per_day = 1600
    pool_per_day = 2000  # items each day's granules are drawn from
    warmup_granules_per_day = 20

    def prepare(self) -> None:
        self.root = os.path.join(self.work, f"stac-{self.seed}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        pool = stacgen.ensure_item_pool(
            os.path.join(self.work, "data"), self.pool_per_day
        )
        self.month = stacgen.generate_month(
            os.path.join(self.root, "input"), self.seed, self.granules_per_day, pool
        )
        self.warm_month = stacgen.generate_month(
            os.path.join(self.root, "warm-input"), self.seed + 1,
            self.warmup_granules_per_day, pool,
        )
        self.results: list[tuple[dict, list[str], dict]] = []
        log(f"stac_month input: {self.month['granules']} granules, "
             f"{self.month['items']} items, {self.month['dead']} dead links")

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def _e1(self, spark, month: dict, dest: str) -> list[str]:
        from hls_stac_parquet_spark.plans.daily_ingest import (
            cache_daily_stac_json_links,
        )

        days = stacgen.month_days()
        return cache_daily_stac_json_links(
            spark, stacgen.COLLECTION_CONCEPT_ID, stacgen.COLLECTION_ID,
            days[0], os.path.join(dest, "links"), end_date=days[-1],
            protocol="file", fixture_dir=month["cmr_dir"],
        )

    def _e2(self, spark, dest: str) -> dict:
        from hls_stac_parquet_spark.plans.monthly_compact import (
            write_monthly_stac_geoparquet,
        )

        return write_monthly_stac_geoparquet(
            spark, stacgen.COLLECTION_ID, stacgen.YEAR, stacgen.MONTH,
            os.path.join(dest, "links"), os.path.join(dest, "gp"),
        )

    def warmup(self, spark) -> None:
        dest = os.path.join(self.root, "warm-out")
        try:
            paths = self._e1(spark, self.warm_month, dest)
            self.check(self.warm_month, paths, self._e2(spark, dest), {})
        except Exception as e:  # noqa: BLE001
            self.fail("warm-up", e)

    def timed_pass(self, spark, pass_idx: int) -> list[tuple[str, float]]:
        dest = os.path.join(self.root, f"out-{pass_idx}")
        samples, paths, res = [], None, None
        self.attempted += 2
        t0 = time.perf_counter()
        try:
            paths = self._e1(spark, self.month, dest)
        except Exception as e:  # noqa: BLE001
            self.fail("E1", e)
        t1 = time.perf_counter()
        samples.append(("E1", t1 - t0))
        if paths is not None:
            try:
                res = self._e2(spark, dest)
            except Exception as e:  # noqa: BLE001
                self.fail("E2", e)
        samples.append(("E2", time.perf_counter() - t1))
        if res is not None:
            self.results.append(
                (res, paths, {"e1_s": t1 - t0, "e2_s": samples[1][1]})
            )
        return samples

    def check(self, month: dict, paths: list[str], res: dict, info: dict) -> None:
        """The month's output: one manifest per day, every live item
        written, every dead link counted, files Hilbert-sorted with a
        ``geo`` footer and in total order across files."""
        n_days = len(stacgen.month_days())
        if len(paths) != n_days:
            self.mismatch(f"{len(paths)} manifests, expected {n_days}")
        if res["written"] != month["items"]:
            self.mismatch(f"written {res['written']}, expected {month['items']}")
        if res["failed"] != month["dead"]:
            self.mismatch(f"failed {res['failed']}, expected {month['dead']}")
        nbytes, rows, prev_max = 0, 0, None
        for path in sorted(res["files"]):
            local = path[len("file://"):] if path.startswith("file://") else path
            meta = pq.read_metadata(local)
            if b"geo" not in (meta.metadata or {}):
                self.mismatch(f"{local}: no geo footer")
            keys = pq.read_table(local, columns=["hilbert_idx"]).column(0).to_numpy()
            if len(keys) and ((keys[1:] < keys[:-1]).any() or
                              (prev_max is not None and keys[0] < prev_max)):
                self.mismatch(f"{local}: not sorted by hilbert_idx")
            if len(keys):
                prev_max = keys[-1]
            rows += meta.num_rows
            nbytes += os.path.getsize(local)
        if rows != res["written"]:
            self.mismatch(f"files hold {rows} rows, result says {res['written']}")
        info["bytes"] = nbytes

    def check_timed(self) -> dict:
        """Check every timed pass; return the last pass's output facts."""
        info: dict = {}
        for res, paths, times in self.results:
            info = dict(times)
            self.check(self.month, paths, res, info)
            info.update(written=res["written"], files=len(res["files"]))
        return info

    # -- traced pass ------------------------------------------------------
    def traced_pass(self, spark, tracer: Tracer, counters) -> dict:
        from pyspark.sql import functions as F

        from hls_stac_parquet_spark import store as store_mod
        from hls_stac_parquet_spark.functions.mgrs import mgrs_dim_table
        from hls_stac_parquet_spark.functions.spatial import hilbert_index_udf
        from hls_stac_parquet_spark.functions.urls import extract_mgrs
        from hls_stac_parquet_spark.model import STAC_ITEM_SCHEMA
        from hls_stac_parquet_spark.operators.completeness import (
            expected_days, require_complete,
        )
        from hls_stac_parquet_spark.operators.manifests import (
            fan_in_manifests, split_failures,
        )
        from hls_stac_parquet_spark.plans import daily_ingest, monthly_compact
        from hls_stac_parquet_spark.plans.daily_ingest import extract_stac_json_links
        from hls_stac_parquet_spark.sinks import geoparquet, manifest
        from hls_stac_parquet_spark.sinks.manifest import read_manifests
        from hls_stac_parquet_spark.sources.cmr import register_cmr_source
        from hls_stac_parquet_spark.sources.stac_fetch import fetch_stac_items

        dest = os.path.join(self.root, "out-traced")
        links_dest = os.path.join(dest, "links")
        days = stacgen.month_days()
        store_calls = [0]

        def count_calls(orig):
            def counted(*a, **k):
                store_calls[0] += 1
                return orig(*a, **k)
            return counted

        store_targets = [(m, "get_store") for m in
                         (daily_ingest, monthly_compact, manifest, geoparquet, store_mod)]
        span = tracer.span

        # E1 prefixes: CMR scan, then link extraction; then the real call
        register_cmr_source(spark)
        granules = spark.read.format("cmr").options(
            collection_concept_id=stacgen.COLLECTION_CONCEPT_ID,
            temporal_start=days[0].isoformat(), temporal_end=days[-1].isoformat(),
            fixture_dir=self.month["cmr_dir"],
        ).load().filter(F.col("collection_concept_id") == stacgen.COLLECTION_CONCEPT_ID)
        n_partitions = granules.rdd.getNumPartitions()
        with span("prefix.cmr", op="E1") as p_cmr:
            n_granules = granules.count()
        with span("prefix.extract", op="E1") as p_links:
            n_links = extract_stac_json_links(granules, protocol="file").count()
        with patched(store_targets, count_calls):
            with span("plans.daily_ingest", op="E1") as e1:
                paths = self._e1(spark, self.month, dest)
            e1_store_calls = store_calls[0]

            # E2 prefixes, built from the functions E2 composes
            def manifests_df():
                return read_manifests(spark, links_dest, stacgen.COLLECTION_ID,
                                      stacgen.YEAR, stacgen.MONTH)

            urls = fan_in_manifests(manifests_df()).select("url")
            with span("prefix.read", op="E2") as p_read:
                _noop(urls)
            with span("operators.completeness", op="E2") as p_comp:
                exp = expected_days(spark, days[0], days[-1]).select(
                    F.dayofmonth("day").alias("day"))
                require_complete(exp, manifests_df().select("day"))
            ok, dead = split_failures(fetch_stac_items(urls))
            with span("prefix.fetch", op="E2") as p_fetch:
                _noop(ok)
            with span("plans.monthly_compact.dead_count", op="E2") as p_dead:
                n_dead = dead.count()
            items = ok.withColumn("item", F.from_json("body", STAC_ITEM_SCHEMA)).select(
                "url", "item.*")
            hoisted = (
                items.withColumn("collection", F.lit(stacgen.COLLECTION_ID))
                .withColumn("mgrs_tile", extract_mgrs("url"))
                .withColumn("datetime", F.to_timestamp(F.col("properties.datetime")))
                .withColumn("eo_cloud_cover", F.col("properties.`eo:cloud_cover`"))
                .withColumn("bbox_xmin", F.element_at("bbox", 1))
                .withColumn("bbox_ymin", F.element_at("bbox", 2))
                .withColumn("bbox_xmax", F.element_at("bbox", 3))
                .withColumn("bbox_ymax", F.element_at("bbox", 4))
                .withColumn("geometry", F.col("geometry.coordinates"))
            )
            with span("prefix.parse", op="E2") as p_parse:
                _noop(hoisted)
            located = hoisted.join(
                F.broadcast(mgrs_dim_table(spark, hoisted, "mgrs_tile")), "mgrs_tile", "left")
            with span("prefix.mgrs", op="E2") as p_mgrs:
                _noop(located)
            keyed = located.withColumn(
                "hilbert_idx", hilbert_index_udf(F.col("tile_lon"), F.col("tile_lat")))
            with span("prefix.hilbert", op="E2") as p_hil:
                _noop(keyed)
            with span("plans.monthly_compact", op="E2") as e2:
                res = self._e2(spark, dest)
            e2_store_calls = store_calls[0] - e1_store_calls

        info: dict = {}
        self.check(self.month, paths, res, info)
        expected_rows = self.results[-1][0]["written"] if self.results else None
        if expected_rows is not None and res["written"] != expected_rows:
            self.mismatch(f"traced run wrote {res['written']} rows, "
                          f"untraced {expected_rows}")
        layers = {
            "sources.cmr.s": p_cmr.dur,
            "plans.daily_ingest.extract.s": p_links.dur - p_cmr.dur,
            "sinks.manifest.write.s": e1.dur - p_links.dur,
            "sinks.manifest.read.s": p_read.dur,
            "operators.completeness.s": p_comp.dur,
            "sources.stac_fetch.s": p_fetch.dur - p_read.dur,
            "plans.monthly_compact.dead_count.s": p_dead.dur,
            "stac.parse.s": p_parse.dur - p_fetch.dur,
            "functions.mgrs.s": p_mgrs.dur - p_parse.dur,
            "functions.spatial.hilbert.s": p_hil.dur - p_mgrs.dur,
            "sinks.geoparquet.s": e2.dur - p_comp.dur - p_dead.dur - p_hil.dur,
        }
        out = dict(layers)
        out.update({
            "sources.cmr.partitions": n_partitions,
            "sources.cmr.granules": n_granules,
            "plans.daily_ingest.links_kept_frac": n_links / max(n_granules, 1),
            "sinks.manifest.files": len(paths),
            "store.calls": e1_store_calls + e2_store_calls,
            "sources.stac_fetch.urls": n_links,
            "sources.stac_fetch.failed": n_dead,
            "plans.monthly_compact.jobs": e2.counters.get("jobs", 0),
            "sinks.geoparquet.files": len(res["files"]),
            "sinks.geoparquet.bytes": info.get("bytes", 0),
            "ingest_granules_per_s": n_granules / e1.dur,
            "compact_items_per_s": res["written"] / e2.dur,
            "bytes_per_item": info.get("bytes", 0) / max(res["written"], 1),
            "exec.s": e1.dur + e2.dur,
        })
        real = [s for s in tracer.spans if s.name.startswith("plans.")
                and s.name != "plans.monthly_compact.dead_count"]
        totals = layer_totals(tracer, real)
        out.update(exec_counters(totals, list(totals)))
        out.update(python_counters(layer_totals(tracer)))
        out.update(counters.resident())
        out["trace.wall_s"] = e1.dur + e2.dur
        out["trace.layer_sum_s"] = sum(layers.values())
        out["trace.prefix_s"] = sum(
            s.dur for s in tracer.spans if s.name.startswith("prefix.")
        ) + p_dead.dur + p_comp.dur
        return out


# ---------------------------------------------------------------------------
# span roll-ups
# ---------------------------------------------------------------------------


def layer_totals(tracer: Tracer, spans=None) -> dict[str, dict]:
    """Per span name: count, total, self seconds and summed counters."""
    selfs = tracer.self_times()
    out: dict[str, dict] = {}
    for s in spans if spans is not None else tracer.spans:
        row = out.setdefault(
            s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0, "hook_s": 0.0})
        row["count"] += 1
        row["total_s"] += s.dur
        row["self_s"] += selfs[s.id]
        row["hook_s"] += s.hook_s
        for k, v in s.counters.items():
            row[k] = row.get(k, 0) + v
    return out


def _self(layers: dict, name: str) -> float:
    return layers.get(name, {}).get("self_s", 0.0)


def _ctr(layers: dict, name: str, key: str) -> float:
    return layers.get(name, {}).get(key, 0)


def exec_counters(layers: dict, names: list[str]) -> dict:
    return {f"exec.{k}": sum(_ctr(layers, n, k) for n in names) for k in EXEC_KEYS}


def python_counters(layers: dict) -> dict:
    keys = ("python.boot_s", "python.total_s", "python.bytes_sent",
            "python.rows_received")
    return {k: sum(row.get(k, 0) for row in layers.values()) for k in keys}


WORKLOADS = {w.name: w for w in (StacMonth, Tpch, OperatorMix)}
