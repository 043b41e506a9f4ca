"""The ``query_suite`` workload: the 23 ``bench.py`` query leaves, each
run to completion into the noop sink, in one shared session.

Set-up writes the input tables (``scripts/make_sf_scaled.py`` at
sf0.01 size) and pays the session's first-use costs on a throwaway
read, window and Arrow UDF. The timed pass is a closed loop over the
leaves in ``bench.BENCH_QUERIES`` order. It is each leaf's first run in
the session (a second, warm pass does not fit the run's time budget),
so a leaf's wall includes its own planning and code generation; for the
same reason the order is fixed rather than drawn from the seed, since
the first leaf to use an operator pays its first-use cost. The inputs
do not depend on the seed either. Each leaf's rows are digested on the
way into the sink (``DataFrame.observe``), and the row count and
order-insensitive content hash are checked against ``pins.json``. After
each leaf the number of persisted RDDs is recorded before the cache is
cleared, so a leaked ``persist`` stays visible and cannot speed up a
later leaf.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time
from contextlib import nullcontext

from pyspark.sql import Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

import bench
from host import log, tree_cpu_s
from spans import BOOKKEEPING, Tracer
from stats import Ops, noop

LEAVES = tuple(bench.BENCH_QUERIES)
SCALE = 0.1  # x sf0.1 row counts
TOY_SCALE = 0.01
LAYER_UNITS = {
    f"queries.{leaf}.{m}": u
    for leaf in LEAVES
    for m, u in (("wall_s", "s"), ("exchanges", "count"), ("persisted_rdds", "count"))
}
_EXCHANGE = re.compile(r"(?m)^[\s:|+\-]*(?:Broadcast|Shuffle|Reused)?Exchange\b")


def _digest_aggs(df) -> list:
    """Row count and the sum of a per-row hash over every column: an
    order-insensitive digest. Floating-point values enter at 9
    significant digits, since aggregation order may move their last
    bits."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.format_string("%.9e", c.cast("double"))
        elif isinstance(f.dataType, T.BinaryType):
            c = F.md5(c)
        cols.append(F.coalesce(c.cast("string"), F.lit("\u0000null")))
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")]


def exchanges(df) -> int:
    """Exchange operators in the leaf's physical plan (before AQE)."""
    return len(_EXCHANGE.findall(df._jdf.queryExecution().executedPlan().treeString()))


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _session_warmup(spark, data: str) -> None:
    """Pay the costs every leaf would otherwise race to pay first (parquet
    reader, a window, the Arrow Python workers), so they are not charged
    to whichever leaf happens to run first."""
    from dbp_etl_spark.functions.extract import extract_and_lang_udf

    spark.read.parquet(f"{data}/region.parquet").count()
    spark.range(10000).select(
        F.row_number().over(Window.partitionBy(F.col("id") % 7).orderBy("id"))
    ).count()
    noop(
        spark.range(10000).select(
            extract_and_lang_udf(
                F.encode(F.lit("<p>warm</p>"), "utf-8"),
                F.lit(True),
                F.lit(None).cast("string"),
                F.lit(None).cast("string"),
            )
        )
    )


def write_inputs(out_dir: str, scale: float) -> None:
    """The input tables, written by the repo's sf-scaled generator
    (``scripts/make_sf_scaled.py``, whose distributions follow the sf0.1
    fixtures) at ``scale`` x the sf0.1 row counts."""
    script = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)),
                          "scripts", "make_sf_scaled.py")
    subprocess.run([sys.executable, script, out_dir, str(scale)], check=True,
                   stdout=subprocess.DEVNULL)


def _timed_pass(spark, data: str, pins: dict | None, ops: Ops, tracer=None) -> dict:
    from dbp_etl_spark.queries import QUERIES

    out = {"wall": {}, "persisted": {}, "exchanges": {}, "digests": {}, "intervals": []}
    out["pc_start"], cpu0 = time.perf_counter(), tree_cpu_s()
    for leaf in LEAVES:
        e0, t0 = time.time(), time.perf_counter()
        obs = Observation(f"digest-{leaf}")
        frame = {}

        def leaf_op():
            frame["df"] = QUERIES[leaf](spark, data)
            noop(frame["df"].observe(obs, *_digest_aggs(frame["df"])))

        with tracer.span(f"queries.{leaf}") if tracer else nullcontext():
            ok = ops.attempt(f"leaf {leaf}", leaf_op)
        if ok:
            out["wall"][leaf] = time.perf_counter() - t0
        out["intervals"].append((e0, time.time()))
        out["persisted"][leaf] = persisted_rdds(spark)
        spark.catalog.clearCache()
        if ok:
            got = obs.get
            out["digests"][leaf] = digest = f"{got['n']}:{got['h'] or 0}"
            if pins is not None:
                ops.check(f"{leaf} digest {digest} vs pinned {pins.get(leaf)}", digest == pins.get(leaf))
            if tracer is not None:
                with tracer.span(BOOKKEEPING):
                    out["exchanges"][leaf] = exchanges(frame["df"])
    out["pc_end"], out["cpu_s"] = time.perf_counter(), tree_cpu_s() - cpu0
    return out


def run(spark, work: str, seconds: float, trace: bool, scale: float,
        pins: dict | None, ops: Ops) -> dict:
    """Set up, then timed passes until ``seconds`` of leaf time are
    measured; with ``trace`` one more pass runs traced."""
    data = os.path.join(work, "querydata")
    write_inputs(data, scale)
    _session_warmup(spark, data)
    log("query data written, session warmed")
    out = {"passes": []}
    measured = 0.0
    while not out["passes"] or measured < seconds:
        failed = ops.failed
        out["passes"].append(_timed_pass(spark, data, pins, ops))
        measured += sum(out["passes"][-1]["wall"].values())
        log(f"timed pass {len(out['passes'])} done")
        if ops.failed > failed:
            break
    out["timed_start"] = out["passes"][0]["pc_start"]
    if trace:
        tracer = Tracer()
        traced = out["traced"] = _timed_pass(spark, data, pins, ops, tracer)
        out["tracers"] = [tracer]
        out["untraced_wall"] = sum(out["passes"][0]["wall"].values())
        out["traced_wall"] = sum(traced["wall"].values())
        out["layers"] = {}
        for leaf in LEAVES:
            out["layers"][f"queries.{leaf}.wall_s"] = traced["wall"].get(leaf, 0.0)
            out["layers"][f"queries.{leaf}.exchanges"] = traced["exchanges"].get(leaf, 0)
            out["layers"][f"queries.{leaf}.persisted_rdds"] = traced["persisted"].get(leaf, 0)
    return out
