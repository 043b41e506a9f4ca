"""Crash-injection: a failure between the data write and the manifest
commit must leave the table unchanged (orphan files only), and a retry
must succeed with correct final state — the atomicity half of
exactly-once. The writer x crash-point matrix runs this for every
LakeTable writer."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc import CDCRunner, generate_changes, merge_batch
from dbp_etl_spark.lake import LakeTable, TableSchema

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def test_torn_version_pointer_impossible(spark, tmp_path):
    """The VERSION pointer swings via os.replace (atomic on POSIX):
    readers either see the old snapshot id or the new one, and the
    manifest it points to is always fully written (fsync before
    replace). Sanity-check the invariant: every historical manifest
    referenced by VERSION parses."""
    import json
    import os

    t = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(PAGES), key="url", num_buckets=4
    )
    CDCRunner(t).run(generate_changes(spark, 300, 30, n_batches=3, seed=10))
    meta = os.path.join(t.root, "_meta")
    with open(os.path.join(meta, "VERSION")) as f:
        head = int(f.read())
    for i in range(head + 1):
        p = os.path.join(meta, f"v{i}.json")
        if os.path.exists(p):
            with open(p) as f:
                m = json.load(f)
            assert m["snapshot_id"] == i
    assert head == t.snapshot_id


def test_torn_manifest_is_not_a_commit(spark, tmp_path):
    """A crash mid-manifest-create can leave a partial (unparsable)
    v{N}.json on stores without atomic create. Roll-forward must stop
    at it (it is NOT a commit) and a retrying writer must replace it
    and commit successfully."""
    t = LakeTable.create(
        spark, str(tmp_path / "torn"), TableSchema.from_struct(PAGES), key="url", num_buckets=4
    )
    events = generate_changes(spark, 300, 30, n_batches=1, seed=7)
    merge_batch(t, events.filter(F.col("batch_id") == 0), 0)
    assert t.snapshot_id == 1

    # simulate a torn create of the NEXT snapshot's manifest
    import os

    torn = os.path.join(t.root, "_meta", "v2.json")
    with open(torn, "w") as f:
        f.write('{"snapshot_id": 2, "files": [')  # truncated JSON

    # readers: roll-forward stops at the torn file
    t2 = LakeTable.load(spark, t.root)
    assert t2.snapshot_id == 1
    assert t2.read().count() == t.read().count()

    # writer: retry replaces the torn manifest and commits
    more = generate_changes(spark, 300, 30, n_batches=1, seed=9)
    merge_batch(t2, more, "b2")
    assert t2.snapshot_id == 2
    assert t2.is_committed("b2")
    t3 = LakeTable.load(spark, t.root)
    assert t3.snapshot_id == 2
    assert t3.state_hash() == t2.state_hash()


# ------------------------------------------------ writer x crash-point matrix


def mk_rows(spark, n, tag="v1"):
    return spark.range(n).select(
        F.concat(F.lit("https://h.example/p"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<p>"), F.col("id"), F.lit(tag), F.lit("</p>")), "utf-8").alias("html"),
        F.concat(F.col("id").cast("string"), F.lit(tag)).alias("text"),
        F.lit("en").alias("lang"),
    )


def _seeded(spark, root, **kw):
    t = LakeTable.create(
        spark, root, TableSchema.from_struct(PAGES), key="url", num_buckets=4, **kw
    )
    return t.append(mk_rows(spark, 20), batch_id="seed")


def _two_appends(spark, root, **kw):
    return _seeded(spark, root, **kw).append(mk_rows(spark, 8, tag="v2"), batch_id="b1")


def _staged_wap(spark, root):
    t = _seeded(spark, root)
    t.wap_branch("x").append(mk_rows(spark, 5, tag="v2"), batch_id="wb")
    return t


def _merged_b0(spark, root):
    t = LakeTable.create(
        spark, root, TableSchema.from_struct(PAGES), key="url", num_buckets=4
    )
    merge_batch(t, _events(spark).filter(F.col("batch_id") == 0), 0)
    return t


def _events(spark):
    return generate_changes(spark, 500, 50, n_batches=2, seed=9)


# writer -> (setup(spark, root), write(spark, table), ledger id or None).
# set_stats_columns, add_column and expire_snapshots are not ledger-keyed:
# their retry is guarded on the effect being visible, as a caller's is.
_CRASH_CASES = {
    "add_constraint": (
        _seeded,
        lambda spark, t: t.add_constraint("c", "lang IS NOT NULL", batch_id="w"),
        "w",
    ),
    "drop_constraint": (
        lambda spark, root: _seeded(spark, root, constraints={"c": "lang IS NOT NULL"}),
        lambda spark, t: t.drop_constraint("c", batch_id="w"),
        "w",
    ),
    "set_stats_columns": (
        _seeded,
        lambda spark, t: t if t.manifest.get("stats_col_ids") else t.set_stats_columns(["warc_ts"]),
        None,
    ),
    "overwrite_buckets": (
        _seeded,
        lambda spark, t: t.overwrite_buckets(
            t.read(buckets=[0]).withColumn("lang", F.lit("de")), [0], "w"
        ),
        "w",
    ),
    "write_deltas": (
        lambda spark, root: _seeded(spark, root, merge_on_read=True),
        lambda spark, t: t.write_deltas(
            mk_rows(spark, 20, tag="v2").filter(t.bucket_expr() == 0), [0], "w"
        ),
        "w",
    ),
    "append": (_seeded, lambda spark, t: t.append(mk_rows(spark, 5, tag="v2"), batch_id="w"), "w"),
    "add_column": (
        _seeded,
        lambda spark, t: t if "extra" in t.schema.names() else t.add_column("extra", "string"),
        None,
    ),
    "rebucket": (_seeded, lambda spark, t: t.rebucket(2, "w"), "w"),
    "migrate_to_buckets": (_seeded, lambda spark, t: t.migrate_to_buckets(8, "w"), "w"),
    "expire_snapshots": (
        _two_appends,
        lambda spark, t: t if t.min_retained_snapshot else t.expire_snapshots(keep_last=1),
        None,
    ),
    "tag_snapshot": (_seeded, lambda spark, t: t.tag_snapshot("t1", batch_id="w"), "w"),
    "untag_snapshot": (
        lambda spark, root: _seeded(spark, root).tag_snapshot("t1"),
        lambda spark, t: t.untag_snapshot("t1", batch_id="w"),
        "w",
    ),
    "publish_wap": (_staged_wap, lambda spark, t: t.publish_wap("x", batch_id="w"), "w"),
    "rollback_to": (
        lambda spark, root: _two_appends(spark, root, changelog=True),
        lambda spark, t: t.rollback_to(1, batch_id="w"),
        "w",
    ),
    "delete_where": (
        lambda spark, root: _seeded(spark, root, changelog=True),
        lambda spark, t: t.delete_where(F.col("text") == "3v1", batch_id="w"),
        "w",
    ),
    "update_where": (
        lambda spark, root: _seeded(spark, root, changelog=True),
        lambda spark, t: t.update_where(
            F.col("text").isin("0v1", "1v1"), {"lang": F.lit("de")}, batch_id="w"
        ),
        "w",
    ),
    "vacuum_tombstones": (
        lambda spark, root: _seeded(spark, root).delete_where(F.col("text") == "3v1", "d"),
        lambda spark, t: t.vacuum_tombstones("2100-01-01 00:00:00", "w"),
        "w",
    ),
    "compact": (_two_appends, lambda spark, t: t.compact("w"), "w"),
    "merge_batch": (
        _merged_b0,
        lambda spark, t: merge_batch(t, _events(spark).filter(F.col("batch_id") == 1), 1),
        "1",
    ),
}


class _Crash(Exception):
    pass


def _fingerprint(t):
    """What an uncrashed run must agree on: visible state, head
    snapshot, and the summary keys of every retained commit (a
    double-applied write shows up as an extra snapshot)."""
    return (
        t.state_hash(),
        t.snapshot_id,
        [sorted(h["summary"]) for h in t.history()],
    )


def _live_paths(t) -> set:
    live = set()
    for h in range(t.min_retained_snapshot, t.snapshot_id + 1):
        m = t._manifest_at(h)
        for f in m["files"]:
            live.add(f["path"])
            if f.get("kbloom"):
                live.add(f["kbloom"]["path"])
        live.update(m["summary"].get("changelog_files") or [])
    return live


def _data_paths(root) -> set:
    out = set()
    for d, _dirs, names in os.walk(os.path.join(root, "data")):
        for n in names:
            if not n.startswith(("_", ".")):
                out.add(os.path.relpath(os.path.join(d, n), root))
    return out


@pytest.fixture(scope="module")
def clean_run(spark, tmp_path_factory):
    """writer -> fingerprint of an uncrashed run, made once per writer
    and shared by its crash points."""
    runs: dict = {}

    def get(writer):
        if writer not in runs:
            setup, write, _ = _CRASH_CASES[writer]
            t = setup(spark, str(tmp_path_factory.mktemp("clean") / "t"))
            write(spark, t)
            runs[writer] = _fingerprint(LakeTable.load(spark, t.root))
        return runs[writer]

    return get


@pytest.mark.parametrize("point", ["pre_manifest", "pre_pointer"])
@pytest.mark.parametrize("writer", sorted(_CRASH_CASES))
def test_writer_crash_matrix(spark, tmp_path, monkeypatch, clean_run, writer, point):
    """Crash every writer (a) after its data write, before the manifest
    create, and (b) after the manifest create, before the VERSION
    pointer swing. After reload and retry the table equals an uncrashed
    run, the batch is committed exactly once, and orphan GC reclaims
    everything the crashed attempt wrote."""
    setup, write, bid = _CRASH_CASES[writer]
    t = setup(spark, str(tmp_path / "t"))
    snap0, hash0 = t.snapshot_id, t.state_hash()

    fs = t._fs
    if point == "pre_manifest":
        real_create = fs.create_text_exclusive

        def create(path, content):
            name = os.path.basename(path)
            if name.startswith("v") and name.endswith(".json"):
                raise _Crash("simulated crash before manifest publish")
            real_create(path, content)

        monkeypatch.setattr(fs, "create_text_exclusive", create)
    else:
        real_write = fs.write_text

        def write_text(path, content):
            if path.endswith("VERSION"):
                raise _Crash("simulated crash before pointer write")
            real_write(path, content)

        monkeypatch.setattr(fs, "write_text", write_text)
    with pytest.raises(_Crash):
        write(spark, t)
    monkeypatch.undo()

    t2 = LakeTable.load(spark, t.root)
    if point == "pre_manifest":
        # table is untouched: same snapshot, same state, batch not committed
        assert t2.snapshot_id == snap0
        assert t2.state_hash() == hash0
        assert bid is None or not t2.is_committed(bid)
    else:
        # the manifest create IS the commit point: load() rolls the
        # pointer forward and the batch is committed
        assert t2.snapshot_id == snap0 + 1
        assert bid is None or t2.is_committed(bid)
    committed = t2.snapshot_id

    write(spark, t2)  # retry
    t2 = LakeTable.load(spark, t.root)
    if point == "pre_pointer":
        assert t2.snapshot_id == committed  # the retry no-ops
    assert _fingerprint(t2) == clean_run(writer)
    if bid is not None:
        assert t2.manifest["committed_batches"][bid]["snapshot_id"] == snap0 + 1

    t2.remove_orphan_files(grace_sec=0)
    assert _data_paths(t2.root) == _live_paths(t2)
    assert t2.state_hash() == clean_run(writer)[0]
