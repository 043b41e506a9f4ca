"""The ``cdc_apply`` workload: a bulk copy-on-write upsert followed by a
merge-on-read trickle with change-feed reads, on one session.

Bulk phase (measures throughput): ``bench.py``'s CDC shape (20% of
events on 4 hot urls, ~4 events per url, 30% update, 5% delete,
out-of-order ``warc_ts``) in 2 batches, applied to a fresh 32-bucket
copy-on-write table with ``lineage_mode="global"``. Dedup, the Arrow
html->(text, lang) UDF and whole-bucket rewrites do the work.

Trickle phase (measures latency): a merge-on-read, changelog-enabled
table seeded with ``trickle_urls`` urls, then 2k-event batches (85%
update, 10% delete, 1% malformed) with ``compact_every=5`` and
errors/lineage side outputs; each commit is followed by a
``read_changes(prev_snapshot)`` consumer read. Per-batch fixed cost,
commit, compaction and merge-on-read resolution dominate.

Both phases are closed loops: one client, each batch applied by its
own ``CDCRunner.run`` call once the previous one returned.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from host import log, tree_cpu_s
from spans import PROBE, Tracer
from stats import Ops, noop


@dataclass(frozen=True)
class CdcSize:
    bulk_events: int = 120_000
    bulk_buckets: int = 32
    trickle_urls: int = 5_000
    trickle_events: int = 2_000
    # timed batches; the seed batch counts toward compact_every, so the
    # last timed batch compacts
    trickle_batches: int = 4
    trickle_buckets: int = 4
    compact_every: int = 5


TOY = CdcSize(
    bulk_events=4_000,
    bulk_buckets=4,
    trickle_urls=400,
    trickle_events=100,
    trickle_batches=3,
    trickle_buckets=2,
    compact_every=4,
)

PHASES = ("bulk", "trickle")
# one staged log feeds both tables: bulk batches 0 and 1, then the
# trickle table's seed batch and its timed batches
TRICKLE_SEED = 2
# per-phase layer metrics (names follow the engine's modules)
PHASE_LAYERS = (
    ("probe.functions.extract.busy_s", "s"),
    ("probe.cdc.dedup.busy_s", "s"),
    ("probe.cdc.merge.deadletter_split_s", "s"),
    ("probe.lake.table.read_s", "s"),
    ("lake.table.write_s", "s"),
    ("lake.table.files_written", "count"),
    ("lake.table.bytes_written", "bytes"),
    ("lake.table.bytes_per_event", "bytes/event"),
    ("lake.table.commit_s", "s"),
    ("lake.table.commits", "count"),
    ("lake.table.manifest_bytes", "bytes"),
    ("lake.table.state_read_s", "s"),
    ("cdc.runner.self_s", "s"),
    ("cdc.merge.self_s", "s"),
    ("cdc.merge.rows_in", "count"),
    ("cdc.merge.rows_written", "count"),
    ("cdc.merge.rows_changed", "count"),
    ("cdc.merge.rows_late_noop", "count"),
    ("cdc.merge.useful_write_ratio", "ratio"),
    ("cdc.merge.buckets_candidate", "count"),
    ("cdc.merge.buckets_rewritten", "count"),
)
TRICKLE_LAYERS = (
    ("lake.table.compact_s", "s"),
    ("lake.table.compactions", "count"),
    ("lake.table.delta_files_live", "count"),
    ("lake.table.feed_read_s", "s"),
    ("cdc.runner.side_outputs_s", "s"),
    ("cdc.merge.rows_deadlettered", "count"),
)
LAYER_UNITS = {
    **{f"{p}.{n}": u for p in PHASES for n, u in PHASE_LAYERS},
    **{f"trickle.{n}": u for n, u in TRICKLE_LAYERS},
}


def _schema():
    from dbp_etl_spark.lake import TableSchema

    return TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
            ]
        )
    )


def bulk_log(spark, size: CdcSize, seed: int) -> DataFrame:
    from dbp_etl_spark.cdc import generate_changes

    return generate_changes(
        spark,
        size.bulk_events,
        size.bulk_events // 4,
        n_batches=2,
        hot_fraction_pct=20,
        hot_urls=4,
        seed=seed,
    )


def trickle_log(spark, size: CdcSize, seed: int) -> DataFrame:
    """Batch ``TRICKLE_SEED`` seeds ``trickle_urls`` urls; the batches
    after it are the trickle, each strictly newer than all before it."""
    from dbp_etl_spark.cdc import generate_changes

    out = generate_changes(
        spark,
        2 * size.trickle_urls,
        size.trickle_urls,
        n_batches=1,
        hot_fraction_pct=0,
        seed=seed + 1,
    ).withColumn("batch_id", F.lit(TRICKLE_SEED).cast("long"))
    for i in range(1, size.trickle_batches + 1):
        out = out.unionByName(
            generate_changes(
                spark,
                size.trickle_events,
                size.trickle_urls,
                n_batches=1,
                update_pct=85,
                delete_pct=10,
                hot_fraction_pct=0,
                malformed_pct=1,
                seed=seed + 100 + i,
            )
            .withColumn(
                "warc_ts",
                F.timestamp_seconds(F.unix_timestamp("warc_ts") + F.lit(10_000_000 * i)),
            )
            .withColumn("batch_id", F.lit(TRICKLE_SEED + i).cast("long"))
        )
    return out


def replay_digest(log: DataFrame) -> str:
    """The expected live ``url -> html`` state, computed without the
    engine: over the whole log, the latest event per url (warc_ts desc,
    a delete beats a write at equal warc_ts, then payload md5 desc);
    a winning delete means the url is absent. Malformed events
    (null url, op, warc_ts, or a write without payload) are dropped."""
    valid = log.filter(
        F.col("url").isNotNull()
        & F.col("warc_ts").isNotNull()
        & F.col("op").isin("insert", "update", "delete")
        & ((F.col("op") == "delete") | F.col("html").isNotNull())
    )
    order = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(),
        F.when(F.col("op") == "delete", 1).otherwise(0).desc(),
        F.md5(F.col("html")).desc_nulls_last(),
    )
    latest = (
        valid.withColumn("_rn", F.row_number().over(order))
        .filter((F.col("_rn") == 1) & (F.col("op") != "delete"))
    )
    return live_digest(latest)


def live_digest(df: DataFrame) -> str:
    """Order-insensitive digest of the (url, html) pairs of ``df``."""
    h = F.xxhash64(F.col("url"), F.md5(F.col("html"))).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return f"{row['n']}:{row['h']}"


def _warm_bulk(spark, work: str, seed: int) -> None:
    """An untimed miniature of the bulk phase on a throwaway table, so the
    copy-on-write path is not first used inside the timed phase."""
    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake import LakeTable

    table = LakeTable.create(spark, f"{work}/warm", _schema(), key="url", num_buckets=4)
    runner = CDCRunner(table, salt_buckets=32, lineage_mode="global")
    warm_log = bulk_log(spark, TOY, seed)
    for b in (0, 1):
        runner.run(batch(warm_log, b))


class _Unit:
    """One bulk table and one seeded trickle table, plus their runners."""

    def __init__(self, spark, work: str, tag: str, size: CdcSize, log: DataFrame):
        from dbp_etl_spark.cdc import CDCRunner
        from dbp_etl_spark.lake import LakeTable

        self.log = log
        root = os.path.join(work, f"unit-{tag}")
        self.bulk = CDCRunner(
            LakeTable.create(
                spark, f"{root}/bulk", _schema(), key="url", num_buckets=size.bulk_buckets
            ),
            salt_buckets=32,
            lineage_mode="global",
        )
        self.trickle = CDCRunner(
            LakeTable.create(
                spark,
                f"{root}/trickle",
                _schema(),
                key="url",
                num_buckets=size.trickle_buckets,
                merge_on_read=True,
                changelog=True,
            ),
            errors_path=f"{root}/errors",
            lineage_path=f"{root}/lineage",
            compact_every=size.compact_every,
        )
        self.trickle.run(batch(log, TRICKLE_SEED))


def batch(log: DataFrame, b: int) -> DataFrame:
    return log.filter(F.col("batch_id") == b)


def _stage(spark, work: str, size: CdcSize, seed: int) -> tuple[DataFrame, dict]:
    """Stage both phases' events as one log partitioned by batch id;
    return it with each batch's event count."""
    from dbp_etl_spark.cdc import CDCRunner

    log = CDCRunner.stage_by_batch(
        bulk_log(spark, size, seed).unionByName(trickle_log(spark, size, seed)),
        f"{work}/log",
    )
    sizes = {
        r["batch_id"]: r["n"]
        for r in log.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return log, sizes


def phase_log(log: DataFrame, phase: str) -> DataFrame:
    low = F.col("batch_id") < TRICKLE_SEED
    return log.filter(low if phase == "bulk" else ~low)


def _timed_unit(unit: _Unit, sizes: dict, ops: Ops, layers: dict | None = None) -> dict:
    """Apply the bulk log, then the timed trickle batches; return walls.

    With ``layers`` (the traced pass) each phase runs under its own
    wrappers, and each batch is first probed with the wrappers off."""
    out = {"bulk": [], "trickle": [], "feed": [], "intervals": []}
    out["events"] = {"bulk": 0, "trickle": 0}
    out["cpu_s"] = {}
    out["pc_start"] = time.perf_counter()
    for phase in PHASES:
        cpu0 = tree_cpu_s()
        runner = unit.bulk if phase == "bulk" else unit.trickle
        ids = [b for b in sorted(sizes) if (b < TRICKLE_SEED) == (phase == "bulk")]
        ids = ids if phase == "bulk" else ids[1:]
        layer = layers[phase] if layers else None
        if layer is not None:
            layer.install()
        for b in ids:
            events = batch(unit.log, b)
            if layer is not None:
                layer.t.uninstall()
                with layer.t.span(PROBE):
                    layer.probe(runner.table, events, b)
                layer.install()
            prev = runner.table.snapshot_id
            e0, t0 = time.time(), time.perf_counter()
            ok = ops.attempt(f"{phase} batch {b}", lambda: runner.run(events))
            out[phase].append(time.perf_counter() - t0)
            out["events"][phase] += sizes[b] if ok else 0
            if phase == "trickle":
                t0 = time.perf_counter()
                with layer.t.span("lake.table.feed_read") if layer else nullcontext():
                    ops.attempt(f"feed read {b}", lambda: noop(runner.table.read_changes(prev)))
                out["feed"].append(time.perf_counter() - t0)
            out["intervals"].append((e0, time.time()))
        out["cpu_s"][phase] = tree_cpu_s() - cpu0
        if layer is not None:
            layer.t.uninstall()
    out["pc_end"] = time.perf_counter()
    return out


def _check(unit: _Unit, replay: dict, pins: dict | None, ops: Ops, tracers=None) -> dict:
    """Pinned state hashes (default seed) and the independent replay."""
    reads, hashes = {}, {}
    for phase in PHASES:
        table = (unit.bulk if phase == "bulk" else unit.trickle).table
        t0 = time.perf_counter()
        with tracers[phase].span("lake.table.state_read") if tracers else nullcontext():
            state = table.state_hash()
        reads[phase] = time.perf_counter() - t0
        hashes[phase] = state
        if pins is not None:
            ops.check(f"{phase} state hash {state} vs pinned {pins[phase]}", state == pins[phase])
        got = live_digest(table.read().select("url", "html"))
        ops.check(f"{phase} live url->html {got} vs replay {replay[phase]}", got == replay[phase])
    return reads, hashes


class _Layers:
    """Wrappers and counters for one phase's traced pass."""

    def __init__(self, tracer: Tracer):
        self.t = tracer
        self.probe_s: dict[str, float] = {}

    def install(self) -> None:
        import dbp_etl_spark.cdc.runner as runner_mod
        from dbp_etl_spark.cdc.runner import CDCRunner
        from dbp_etl_spark.lake.table import LakeTable

        t = self.t
        t.wrap(CDCRunner, "run", "cdc.runner")
        t.wrap(CDCRunner, "_side_outputs", "cdc.runner.side_outputs")
        t.wrap(runner_mod, "merge_batch", "cdc.merge", after=self._merged)

        def write_name(parent):
            return "lake.table.compact.rewrite" if parent == "lake.table.compact" else "lake.table.write"

        for attr in ("overwrite_buckets", "write_deltas"):
            t.wrap(LakeTable, attr, write_name, before=self._files_before, after=self._written)
        t.wrap(LakeTable, "_commit", "lake.table.commit", after=self._committed)
        t.wrap(
            LakeTable, "compact", "lake.table.compact",
            before=lambda a: a[0].snapshot_id,
            after=lambda res, a, sid: self._count("compactions", res.snapshot_id != sid),
        )

    def _count(self, key: str, n) -> None:
        self.t.counts[key] += n

    def _merged(self, res, args, _token) -> None:
        if res.skipped:
            return
        c = res.counts
        self._count("rows_changed", sum(c.get(k, 0) for k in ("insert", "update", "delete")))
        self._count("rows_late_noop", c.get("late", 0) + c.get("noop", 0))
        entry = args[0].manifest["committed_batches"].get(str(res.batch_id), {})
        self._count("buckets_candidate", len(entry.get("candidate_buckets", ())))
        if res.deadletter is not None:
            self._count("rows_deadlettered", res.deadletter.count())

    def _files_before(self, args) -> tuple:
        return {f["path"] for f in args[0].manifest["files"]}, self.t.current

    def _written(self, res, args, token: tuple) -> None:
        import pyarrow.parquet as pq

        before, caller = token
        added = [f for f in res.manifest["files"] if f["path"] not in before]
        paths = [os.path.join(res.root, f["path"]) for f in added]
        paths += [
            os.path.join(res.root, p)
            for p in res.manifest.get("summary", {}).get("changelog_files", [])
        ]
        self._count("files_written", len(paths))
        self._count("bytes_written", sum(os.path.getsize(p) for p in paths))
        if caller != "lake.table.compact":
            self._count("buckets_rewritten", len({f["bucket"] for f in added}))
            self._count(
                "rows_written",
                sum(pq.ParquetFile(os.path.join(res.root, f["path"])).metadata.num_rows for f in added),
            )

    def _committed(self, res, _args, _token) -> None:
        path = os.path.join(res.root, "_meta", f"v{res.snapshot_id}.json")
        self._count("manifest_bytes", os.path.getsize(path))

    def probe(self, table, events: DataFrame, b) -> None:
        """Time the lazy layers of one batch on their own, each with a
        noop sink, against the table state the batch will merge into."""
        from dbp_etl_spark.cdc.dedup import dedup_latest_cdc
        from dbp_etl_spark.cdc.merge import split_deadletter
        from dbp_etl_spark.functions.extract import extract_and_lang_udf

        def timed(key, fn):
            t0 = time.perf_counter()
            fn()
            self.probe_s[key] = self.probe_s.get(key, 0.0) + time.perf_counter() - t0

        valid, dead = split_deadletter(events)
        timed("probe.cdc.merge.deadletter_split_s", lambda: (noop(valid), noop(dead)))
        # the dedup probe times dedup alone, not the log scan and split
        valid = valid.persist()
        valid.count()
        winners = dedup_latest_cdc(valid, "url", batch_col="batch_id", batch_order=[b])
        timed("probe.cdc.dedup.busy_s", lambda: noop(winners))
        cand = sorted(
            r[0]
            for r in valid.select(table.bucket_expr().alias("b")).distinct().collect()
        )
        timed(
            "probe.lake.table.read_s",
            lambda: noop(table.read(buckets=cand, include_deleted=True)),
        )
        html = winners.filter(F.col("html").isNotNull()).select("html").persist()
        html.count()
        ex = extract_and_lang_udf(
            F.col("html"), F.lit(True), F.lit(None).cast("string"), F.lit(None).cast("string")
        )
        timed("probe.functions.extract.busy_s", lambda: noop(html.select(ex.alias("ex"))))
        html.unpersist()
        valid.unpersist()
        self._count("rows_in", events.count())

    def metrics(self, phase: str, events: int, table) -> dict:
        st = self.t.self_times()
        c = self.t.counts
        m = dict(self.probe_s)
        m["lake.table.write_s"] = st.get("lake.table.write", 0.0)
        m["lake.table.commit_s"] = st.get("lake.table.commit", 0.0)
        m["lake.table.state_read_s"] = st.get("lake.table.state_read", 0.0)
        m["cdc.runner.self_s"] = st.get("cdc.runner", 0.0)
        m["cdc.merge.self_s"] = st.get("cdc.merge", 0.0)
        m["lake.table.commits"] = self.t.calls().get("lake.table.commit", 0)
        for k in ("files_written", "bytes_written", "manifest_bytes"):
            m[f"lake.table.{k}"] = c.get(k, 0)
        m["lake.table.bytes_per_event"] = c.get("bytes_written", 0) / max(events, 1)
        for k in ("rows_in", "rows_written", "rows_changed", "rows_late_noop",
                  "buckets_candidate", "buckets_rewritten"):
            m[f"cdc.merge.{k}"] = c.get(k, 0)
        m["cdc.merge.useful_write_ratio"] = c.get("rows_changed", 0) / max(c.get("rows_written", 0), 1)
        if phase == "trickle":
            m["lake.table.compact_s"] = st.get("lake.table.compact", 0.0) + st.get(
                "lake.table.compact.rewrite", 0.0
            )
            m["lake.table.compactions"] = c.get("compactions", 0)
            m["lake.table.delta_files_live"] = sum(
                1 for f in table.manifest["files"] if f.get("delta")
            )
            m["lake.table.feed_read_s"] = st.get("lake.table.feed_read", 0.0)
            m["cdc.runner.side_outputs_s"] = st.get("cdc.runner.side_outputs", 0.0)
            m["cdc.merge.rows_deadlettered"] = c.get("rows_deadlettered", 0)
        return {f"{phase}.{k}": v for k, v in m.items()}


def run(spark, work: str, seed: int, seconds: float, trace: bool, size: CdcSize,
        pins: dict | None, ops: Ops) -> dict:
    """Stage the log, then apply units (fresh tables; the trickle table
    seeded untimed) until ``seconds`` of batch and feed-read time are
    measured; each unit is checked. With ``trace`` one more unit runs
    traced."""
    events, sizes = _stage(spark, work, size, seed)
    log("log staged")
    out = {"sizes": sizes, "units": []}
    _warm_bulk(spark, work, seed)
    log("bulk path warmed")
    replay = None
    measured = 0.0
    while not out["units"] or measured < seconds:
        failed = ops.failed
        unit = _Unit(spark, work, f"u{len(out['units'])}", size, events)
        log("tables seeded")
        timed = _timed_unit(unit, sizes, ops)
        log("timed unit done")
        if replay is None:
            replay = {phase: replay_digest(phase_log(events, phase)) for phase in PHASES}
        timed["state_read"], out["state_hash"] = _check(unit, replay, pins, ops)
        log("unit checked")
        out["units"].append(timed)
        measured += sum(timed["bulk"]) + sum(timed["trickle"]) + sum(timed["feed"])
        if ops.failed > failed:
            break
    out["timed_start"] = out["units"][0]["pc_start"]
    if not trace:
        return out

    traced_unit = _Unit(spark, work, "traced", size, events)
    layers = {phase: _Layers(Tracer()) for phase in PHASES}
    out["traced"] = _timed_unit(traced_unit, sizes, ops, layers)
    _check(traced_unit, replay, pins, ops, tracers={p: layers[p].t for p in PHASES})
    out["layers"] = {}
    for phase in PHASES:
        runner = traced_unit.bulk if phase == "bulk" else traced_unit.trickle
        out["layers"].update(
            layers[phase].metrics(phase, out["traced"]["events"][phase], runner.table)
        )
    out["tracers"] = [layers[p].t for p in PHASES]
    out["untraced_wall"], out["traced_wall"] = (
        sum(u["bulk"]) + sum(u["trickle"]) + sum(u["feed"]) for u in (out["units"][0], out["traced"])
    )
    return out
