"""The workloads, run as a closed loop: one client submits one build
or one query at a time, each after the previous one completed.

- ``city_dense``: the whole per-country build on a hotspot page mix:
  geocode -> ``delineate_blocks`` -> ``suggest_pip_cell_deg`` ->
  ``assign_points_to_polygons`` -> ``compute_k`` ->
  ``allocate_population`` -> ``combine_blocks`` / ``regional_rollup``
  -> ``checkpointed_run`` and ``write_parquet``. One operation is one
  build.
- ``query_mix``: registry queries on generated tables, in an order set
  by the seed. One operation is one query; one pass runs each once.

Only public functions of the program are called, and only with the
DataFrames (or, for queries, the table directory) the benchmark
generated.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import gen
import gate
import numpy as np
import pyarrow.parquet as pq
from tracing import Spans, StreamBatches, Usage, stage_delta, stage_totals

WORKLOADS = ["city_dense", "query_mix"]
CITY = {"nx": 3, "ny": 3, "grid": 6, "pages": 40_000, "mix": "hotspot"}

# query -> family: one or two queries per family of the suite, as many
# as one run's time allows on a 4-core host
QUERY_MIX = {
    "q01_pricing_summary": "relational",
    "q27_asof_join": "relational",
    "d31_incremental_dedup": "training",
    "e06_embedding_dup_clusters": "embedding",
    "tbl_merge_scan": "table",
    "s08_stream_hll_merge": "stream",
}
FAMILIES = ["relational", "training", "embedding", "table", "stream"]
# queries built on iterative connected components
CC_QUERIES = {"d10_dup_components", "d25_fuzzy_corpus_pipeline",
              "e06_embedding_dup_clusters"}
QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]
INPUT_SETUPS = 3  # input set-ups per run; setup_s takes their median

CITY_LAYERS = ["delineate", "cell_size", "geocode", "pip", "k", "population",
               "combine", "write"]
PER_LAYER = (
    ["geocode_s", "delineate_s", "delineate_jobs", "cell_size_s", "pip_s",
     "pip_jobs", "pip_cells", "pip_candidates", "pip_refine_yield", "k_s",
     "k_jobs", "streets_near_s", "street_pairs", "kernel_cpu_s",
     "kernel_empty_cpu_s", "kernel_block_p50_ms", "kernel_block_max_s",
     "sites", "unique_sites", "triangulate_cpu_s", "population_s",
     "combine_s", "write_s", "write_bytes", "write_files"]
    + [f"q_{f}_s" for f in FAMILIES]
    + ["query_jobs", "cc_jobs", "stream_batches", "stream_planning_ms",
       "stream_addbatch_ms", "stream_commit_ms", "shuffle_write_mb",
       "spill_mb", "session_start_s", "input_gen_s", "traced_wall_s",
       "span_cover"]
)


class Bench:
    """One run: the Spark session, the generated inputs and the
    samples taken. ``work`` is a scratch directory the run owns."""

    def __init__(self, workload: str, seed: int, work: str):
        self.workload, self.seed, self.work = workload, seed, work
        self.spark = None
        self.inputs: dict = {}
        self.inputs_s: list[float] = []
        self.session_s = self.warm_s = self.setup_s = float("nan")
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    # ---------------------------------------------------------- set-up

    def setup(self):
        """Start the session (this launches the JVM) and warm the
        Python workers once, then generate and cache the inputs
        ``INPUT_SETUPS`` times; for queries, then warm the SQL engine.
        ``setup_s`` is the session and warm-up time plus the median
        input time."""
        from kblock_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        _warm_workers(self.spark, WORKER_MODULES[self.workload])
        self.session_s, self.warm_s = t1 - t0, time.perf_counter() - t1
        make = _city_inputs if self.workload == "city_dense" else _query_inputs
        for _ in range(INPUT_SETUPS):
            for df in self.inputs.get("cached", ()):
                df.unpersist()
            t2 = time.perf_counter()
            self.inputs = make(self.spark, self.seed, self.work)
            self.inputs_s.append(time.perf_counter() - t2)
        if self.workload == "query_mix":
            t3 = time.perf_counter()
            _warm_sql(self.spark, self.inputs["dir"])
            self.warm_s += time.perf_counter() - t3
        self.setup_s = self.session_s + self.warm_s + statistics.median(self.inputs_s)

    def stop(self):
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - must not leave it running
                    proc.kill()
                    proc.wait()

    # ------------------------------------------------------ operations

    def _count(self, problems: list[str]) -> bool:
        """Keep the first few problems; True when there are none."""
        self.problems += problems[: max(0, 5 - len(self.problems))]
        return not problems

    def city_op(self, spans: Spans | None = None) -> dict:
        """One timed build, then its gate (untimed)."""
        out = os.path.join(self.work, f"out{self.attempted}")
        self.attempted += 1
        try:
            with Usage() as use:
                res = city_build(self.spark, self.inputs, out, spans)
            res["written"] = [os.path.join(r, f) for r, _, fs in os.walk(out)
                              for f in fs if f.endswith(".parquet")]
            res["write_files"] = len(res["written"])
            res["write_bytes"] = sum(os.path.getsize(f) for f in res["written"])
            t0 = time.perf_counter()
            problems = self._city_gate(res)
            res["gate_s"] = time.perf_counter() - t0
        except Exception as ex:  # noqa: BLE001 - a failed build is counted
            self.failed += 1
            self._count([f"build raised {type(ex).__name__}: {ex}"])
            return {"ok": False}
        finally:
            shutil.rmtree(out, ignore_errors=True)
        ok = self._count(problems)
        self.failed += not ok
        return {"ok": ok, "use": use, "res": res,
                "results": len(res["k_rows"])}

    def _city_gate(self, res: dict) -> list[str]:
        from pyspark.sql import functions as F

        from kblock_spark.pipeline import streets_near_blocks

        urls = [r[0] for r in res["assigned"].select("url").collect()]
        st = {"rows": len(urls), "urls": len(set(urls))}
        res["assigned_rows"] = st["rows"]
        written = sum(pq.ParquetFile(f).metadata.num_rows for f in res["written"]
                      if f"{os.sep}combined{os.sep}" in f)
        problems = gate.city_problems(
            len(self.inputs["pages_pdf"]), gen.block_count(**CITY), st,
            res["k_rows"], written,
        )
        ids = gate.sample_blocks(res["k_rows"], self.seed + self.attempted)
        sample = res["blocks"].where(F.col("block_id").isin(ids))
        near = streets_near_blocks(self.inputs["streets"], sample, res["cell_deg"])
        expected, _ = gate.serial_k(gate.block_inputs(near, sample, res["assigned"]))
        return problems + gate.k_rows_problems(res["k_rows"], expected)

    def query_pass(self, spans: Spans | None = None) -> dict:
        """Run every query of the mix once, in the seed's order."""
        order = _query_order(self.seed)
        span = spans.span if spans else _no_span
        d = self.inputs["dir"]
        times = {}
        with Usage() as use:
            for name in order:
                self.attempted += 1
                t0 = time.perf_counter()
                with span(name, family=QUERY_MIX[name]):
                    try:
                        df = self.inputs["fns"][name](self.spark, d)
                        got = (df.columns, [tuple(r) for r in df.collect()])
                    except Exception as ex:  # noqa: BLE001 - counted
                        got = ex
                times[name] = time.perf_counter() - t0
                if isinstance(got, Exception):
                    problems = [f"{name} raised {type(got).__name__}: {got}"]
                else:
                    problems = gate.query_problems(
                        name, *got, self.inputs["oracle"][name])
                self.failed += not self._count(problems)
        return {"ok": True, "use": use, "results": len(order), "times": times}


@contextlib.contextmanager
def _no_span(name, **attrs):
    yield {}


def _query_order(seed: int) -> list[str]:
    names = list(QUERY_MIX)
    np.random.default_rng([seed, 6]).shuffle(names)
    return names


# ---------------------------------------------------------------- set-up

# modules whose Python UDFs the workload runs, imported while warming
WORKER_MODULES = {
    "city_dense": ["kblock_spark.pipeline", "kblock_spark.ops.population"],
    "query_mix": ["kblock_spark.ops.similarity"],
}


def _warm_workers(spark, modules: list[str]):
    """Start the Python workers with ``modules`` imported."""
    import importlib

    import pandas as pd

    def warm(it):
        for m in modules:
            importlib.import_module(m)
        for _ in it:
            yield pd.DataFrame({"x": [1]})

    n = spark.sparkContext.defaultParallelism * 4
    spark.range(0, n, 1, n).mapInPandas(warm, "x long").count()


def _warm_sql(spark, d: str):
    """One scan, join, aggregate and string explode over the tables, so
    that the JVM's first-query cost does not fall on whichever query
    the seed puts first (that cost ranged from 1 s to 12 s by query)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{d}/lineitem.parquet")
    orders = spark.read.parquet(f"{d}/orders.parquet")
    li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "l_returnflag").agg(F.sum("l_extendedprice"), F.count("*")).collect()
    spark.read.parquet(f"{d}/documents.parquet").select(
        F.explode(F.split("text", " ")).alias("w")).groupBy("w").count().collect()


def _city_inputs(spark, seed: int, work: str) -> dict:
    c = CITY
    pdfs = {
        "admin": gen.admin_units(c["nx"], c["ny"]),
        "streets": gen.streets(c["nx"], c["ny"], c["grid"], seed),
        "pages": gen.pages(c["pages"], c["mix"], seed, c["nx"], c["ny"]),
        "pixels": gen.pixels(c["nx"], c["ny"], seed),
    }
    out = {k: spark.createDataFrame(v) for k, v in pdfs.items()}
    # the small tables stay local relations; caching them buys nothing
    out["pages"] = out["pages"].cache()
    out["pages"].count()
    out["cached"] = [out["pages"]]
    out["pages_pdf"] = pdfs["pages"]
    return out


def _query_inputs(spark, seed: int, work: str) -> dict:
    """Write the tables. The DuckDB oracles are computed later,
    untimed."""
    from kblock_spark.queries import REGISTRY

    d = os.path.join(work, "tables")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    gen.write_query_tables(seed, d)
    return {"dir": d, "fns": {q: REGISTRY[q][0] for q in QUERY_MIX}}


def query_oracles(d: str) -> dict:
    """DuckDB's rows for every query of the mix."""
    import duckdb

    from kblock_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        return {q: gate.oracle_rows(con, REGISTRY[q][1]) for q in QUERY_MIX}
    finally:
        con.close()


# ------------------------------------------------------------------ city

def city_build(spark, inp: dict, out: str, spans: Spans | None = None) -> dict:
    """The full build. With ``spans``, every layer's output is
    materialised inside its own span, so the spans add up to the
    build's wall time."""
    from pyspark.sql import functions as F

    from kblock_spark.io.manifest import CheckpointManifest, checkpointed_run
    from kblock_spark.io.sinks import write_parquet
    from kblock_spark.kernels.blocks import delineate_blocks
    from kblock_spark.kernels.extract import geocoded_points
    from kblock_spark.ops.combine import combine_blocks, regional_rollup
    from kblock_spark.ops.population import allocate_population
    from kblock_spark.ops.spatial_join import (
        assign_points_to_polygons,
        suggest_pip_cell_deg,
    )
    from kblock_spark.pipeline import compute_k

    traced = spans is not None
    span = spans.span if traced else _no_span

    def done(df):
        if traced:
            df = df.cache()
            df.count()
        return df

    with span("delineate"):
        blocks = done(delineate_blocks(inp["admin"], inp["streets"]).cache())
    with span("cell_size"):
        cd = suggest_pip_cell_deg(blocks)
    with span("geocode"):
        points = done(geocoded_points(inp["pages"], cd))
    with span("pip"):
        assigned = done(assign_points_to_polygons(
            points, blocks, point_cols=["url", "lon", "lat"],
            poly_key="block_id", poly_cols=["gadm_code"], cell_deg=cd,
            broadcast_polys=True,
        ).cache())
    with span("k"):
        k = compute_k(blocks, assigned, inp["streets"], cd).cache()
        k_rows = {r["block_id"]: r.asDict() for r in k.collect()}
    with span("population"):
        buildings = assigned.withColumn(
            "building_area",
            (F.pmod(F.xxhash64("url"), F.lit(90)) + F.lit(10)).cast("double"),
        ).select("block_id", "gadm_code", "lon", "lat", "building_area")
        population = done(allocate_population(inp["pixels"], buildings, blocks).cache())
    with span("combine"):
        combined = done(combine_blocks(blocks, k, population))
        rollup = done(regional_rollup(combined))
    with span("write"):
        checkpointed_run(
            spark, blocks.withColumn("part_key", F.col("gadm_code")),
            "part_key", lambda df: df, f"{out}/blocks",
            CheckpointManifest(spark, f"{out}/manifest"),
        )
        write_parquet(combined, f"{out}/combined", ["gadm_code"])
        write_parquet(rollup, f"{out}/rollup")
    return {"blocks": blocks, "points": points, "assigned": assigned,
            "k_rows": k_rows, "cell_deg": cd, "out": out,
            "cached": [blocks, points, assigned, k, population, combined, rollup]}


def _release(sample: dict):
    """Drop what a build cached; the inputs stay cached."""
    for df in sample.get("res", {}).get("cached", ()):
        df.unpersist()


# ------------------------------------------------------------- the runs

def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        deadline: float) -> tuple[dict, dict]:
    """Set up, then run operations until ``seconds`` have passed (at
    least one); with ``trace``, run one traced operation instead.
    Returns (metrics, record)."""
    b = Bench(workload, seed, work)
    try:
        b.setup()
        if workload == "query_mix":
            b.inputs["oracle"] = query_oracles(b.inputs["dir"])
        op = b.city_op if workload == "city_dense" else b.query_pass
        if trace:
            layers = _traced(b, op)
            return layers["metrics"], _record(b, layers["ops"], layers)
        samples = []
        t0 = time.perf_counter()
        while not samples or (
            time.perf_counter() - t0 < seconds and time.time() < deadline
        ):
            samples.append(op())
            _release(samples[-1])
            if not samples[-1]["ok"]:
                break
        ops = [s for s in samples if "use" in s]
        return _end_to_end(b, ops), _record(b, ops, {})
    finally:
        b.stop()


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _end_to_end(b: Bench, ops: list[dict]) -> dict:
    wall = _median([o["use"].wall_s for o in ops])
    return {
        "setup_s": (b.setup_s, "s"),
        "wall_s": (wall, "s"),
        "results_per_s": (_median([o["results"] / o["use"].wall_s for o in ops]), "1/s"),
        "cpu_s": (_median([o["use"].cpu_s for o in ops]), "s"),
        "peak_rss_mb": (_median([o["use"].peak_rss / 2**20 for o in ops]), "MB"),
        "ok_ops": (1.0 - b.failed / max(b.attempted, 1), "share"),
    }


def _traced(b: Bench, op) -> dict:
    """One operation with spans, job and stage counters and the stream
    listener, then the counters that need jobs of their own and the
    serial kernel timing. The traced operation is the session's first,
    as the one an untraced run times, so ``traced_wall_s`` minus the
    untraced runs' ``wall_s`` is the tracing overhead."""
    spark = b.spark
    spans = Spans(spark)
    listener = StreamBatches()
    spark.streams.addListener(listener)
    before = stage_totals(spark)
    sample = op(spans)
    listener.flush(spark)
    spark.streams.removeListener(listener)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(stage_delta(before, stage_totals(spark)))
    m.update(listener.totals())
    wall = sample["use"].wall_s if "use" in sample else float("nan")
    m["traced_wall_s"] = wall
    m["span_cover"] = spans.total("wall_s") / wall
    m["session_start_s"] = b.session_s
    m["input_gen_s"] = statistics.median(b.inputs_s)
    if b.workload == "city_dense":
        for name in CITY_LAYERS:
            m[f"{name}_s"] = spans.total("wall_s", name=name)
        for name in ("delineate", "pip", "k"):
            m[f"{name}_jobs"] = spans.total("jobs", name=name)
        if "res" in sample:
            m["write_files"] = sample["res"]["write_files"]
            m["write_bytes"] = sample["res"]["write_bytes"]
            if sample["ok"]:
                m.update(_city_counters(b, sample["res"]))
            _release(sample)
    else:
        for f in FAMILIES:
            m[f"q_{f}_s"] = spans.total("wall_s", family=f)
        m["query_jobs"] = spans.total("jobs")
        m["cc_jobs"] = sum(s["jobs"] for s in spans.spans if s["name"] in CC_QUERIES)
    return {"metrics": {k: (v, _unit(k)) for k, v in m.items() if k in PER_LAYER},
            "spans": spans.spans, "all": m,
            "ops": [sample] if "use" in sample else []}


def _city_counters(b: Bench, res: dict) -> dict:
    """Counters that need jobs of their own, taken after the traced
    build: PIP candidates, street pairs, write size and the serial
    per-block kernel and triangulation time."""
    import kblock_spark.kernels.complexity as cx
    from kblock_spark.ops.spatial_join import polygons_with_cells
    from kblock_spark.pipeline import streets_near_blocks

    m = {}
    cells = polygons_with_cells(
        res["blocks"].select("block_id", "ring_sizes", "coords"), res["cell_deg"]
    ).select("cell", "block_id").cache()
    m["pip_cells"] = cells.count()
    m["pip_candidates"] = res["points"].join(cells, "cell").count()
    m["pip_refine_yield"] = res["assigned_rows"] / max(m["pip_candidates"], 1)
    cells.unpersist()
    t0 = time.perf_counter()
    near = streets_near_blocks(b.inputs["streets"], res["blocks"], res["cell_deg"]).cache()
    m["street_pairs"] = near.count()
    m["streets_near_s"] = time.perf_counter() - t0

    inputs = gate.block_inputs(near, res["blocks"], res["assigned"])
    near.unpersist()
    tri = []
    real = cx.delaunay_edges

    def timed(points):
        t = time.thread_time()
        try:
            return real(points)
        finally:
            tri.append(time.thread_time() - t)

    cx.delaunay_edges = timed
    try:
        expected, cpu = gate.serial_k(inputs)
    finally:
        cx.delaunay_edges = real
    b.failed += not b._count(gate.k_rows_problems(res["k_rows"], expected))
    empty = [b_ for b_, r in expected.items() if r["building_count"] == 0]
    m["kernel_cpu_s"] = sum(cpu.values())
    m["kernel_empty_cpu_s"] = sum(cpu[e] for e in empty)
    m["kernel_block_p50_ms"] = statistics.median(cpu.values()) * 1e3
    m["kernel_block_max_s"] = max(cpu.values())
    m["triangulate_cpu_s"] = sum(tri)
    m["sites"] = sum(len(v[2]) for v in inputs.values())
    m["unique_sites"] = sum(len(np.unique(v[2], axis=0)) for v in inputs.values())
    return m


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "write_bytes":
        return "bytes"
    if name in ("pip_refine_yield", "span_cover"):
        return "share"
    return "count"


def _record(b: Bench, ops: list[dict], layers: dict) -> dict:
    return {
        "workload": b.workload,
        "seed": b.seed,
        "setup": {"setup_s": b.setup_s, "session_s": b.session_s,
                  "warm_s": b.warm_s, "inputs_s": b.inputs_s},
        "ops": [{"wall_s": o["use"].wall_s, "cpu_s": o["use"].cpu_s,
                 "peak_rss_mb": o["use"].peak_rss / 2**20,
                 "gate_s": o.get("res", {}).get("gate_s"),
                 "query_s": o.get("times")} for o in ops],
        "attempted": b.attempted,
        "failed": b.failed,
        "problems": b.problems,
        "layers": layers.get("all"),
        "spans": layers.get("spans"),
    }
