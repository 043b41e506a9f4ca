"""LakeTable: atomic snapshots, idempotent ledger, bucket pruning,
schema evolution without rewrite, time travel."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.lake import LakeTable, TableSchema
from dbp_etl_spark.lake.table import CommitConflict

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def mk_rows(spark, n, tag="v1"):
    return spark.range(n).select(
        F.concat(F.lit("https://h.example/p"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<p>"), F.col("id"), F.lit(tag), F.lit("</p>")), "utf-8").alias("html"),
        F.concat(F.col("id").cast("string"), F.lit(tag)).alias("text"),
        F.lit("en").alias("lang"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "pages"), TableSchema.from_struct(PAGES), key="url", num_buckets=8
    )


def test_create_load_roundtrip(spark, table):
    t2 = LakeTable.load(spark, table.root)
    assert t2.snapshot_id == 0
    # user-facing read hides the internal tombstone column
    assert t2.read().columns == ["url", "warc_ts", "html", "text", "lang"]
    assert t2.schema.names() == ["url", "warc_ts", "html", "text", "lang", "_deleted"]
    assert t2.read().count() == 0


def test_append_and_read(spark, table):
    table.append(mk_rows(spark, 100), batch_id="b0")
    assert table.snapshot_id == 1
    df = table.read()
    assert df.count() == 100
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_idempotent_ledger(spark, table):
    table.append(mk_rows(spark, 10), batch_id="b0")
    snap = table.snapshot_id
    table.append(mk_rows(spark, 10), batch_id="b0")  # replay: no-op
    assert table.snapshot_id == snap
    assert table.read().count() == 10
    assert table.is_committed("b0")


def test_bucket_pruning_reads_subset(spark, table):
    table.append(mk_rows(spark, 200), batch_id="b0")
    all_rows = table.read().count()
    some = table.read(buckets=[0, 1]).count()
    assert 0 < some < all_rows
    # pruned read only lists files of those buckets
    files = [f for f in table.manifest["files"] if f["bucket"] in (0, 1)]
    assert len(files) < len(table.manifest["files"])
    # union of per-bucket reads == full read
    total = sum(table.read(buckets=[b]).count() for b in range(8))
    assert total == all_rows


def test_overwrite_buckets_carries_untouched_files(spark, table):
    table.append(mk_rows(spark, 200), batch_id="b0")
    before = {f["path"]: f for f in table.manifest["files"]}
    bucket0 = table.read(buckets=[0]).withColumn("text", F.lit("rewritten"))
    table.overwrite_buckets(bucket0, [0], batch_id="b1")
    after = table.manifest["files"]
    untouched = [f for f in after if f["bucket"] != 0]
    for f in untouched:
        assert f["path"] in before  # carried forward by reference, not rewritten
    assert set(table.read().filter(F.col("text") == "rewritten").select("url").toPandas()["url"]) == set(
        table.read(buckets=[0]).select("url").toPandas()["url"]
    )


def test_overwrite_rejects_stray_buckets(spark, table):
    table.append(mk_rows(spark, 50), batch_id="b0")
    with pytest.raises(ValueError, match="undeclared buckets"):
        table.overwrite_buckets(mk_rows(spark, 50), [0], batch_id="b1")


def test_schema_add_column_reads_old_files_as_null(spark, table):
    table.append(mk_rows(spark, 20), batch_id="b0")
    table.add_column("lang2", "string")
    df = table.read()
    assert "lang2" in df.columns
    assert df.filter(F.col("lang2").isNull()).count() == 20
    # new writes carry the new column
    new_rows = mk_rows(spark, 5, tag="v2").withColumn("lang2", F.lit("xx"))
    table.append(new_rows, batch_id="b1")
    assert table.read().filter(F.col("lang2") == "xx").count() == 5
    assert table.read().count() == 25


def test_schema_rename_no_rewrite(spark, table):
    table.append(mk_rows(spark, 20), batch_id="b0")
    files_before = sorted(f["path"] for f in table.manifest["files"])
    table.rename_column("text", "text_v2")
    assert sorted(f["path"] for f in table.manifest["files"]) == files_before  # no rewrite
    df = table.read()
    assert "text_v2" in df.columns and "text" not in df.columns
    assert df.filter(F.col("text_v2").isNotNull()).count() == 20


def test_schema_widen_int_to_long(spark, tmp_path):
    schema = TableSchema.from_struct(
        T.StructType(
            [T.StructField("url", T.StringType()), T.StructField("n", T.IntegerType())]
        )
    )
    t = LakeTable.create(spark, str(tmp_path / "w"), schema, key="url", num_buckets=4)
    t.append(
        spark.range(10).select(
            F.concat(F.lit("u"), F.col("id")).alias("url"), F.col("id").cast("int").alias("n")
        ),
        batch_id="b0",
    )
    t.widen_column("n", "long")
    df = t.read()
    assert dict(df.dtypes)["n"] == "bigint"
    assert df.agg(F.sum("n")).collect()[0][0] == 45
    with pytest.raises(ValueError, match="cannot widen"):
        t.widen_column("url", "long")


def test_time_travel(spark, table):
    table.append(mk_rows(spark, 10), batch_id="b0")
    snap1 = table.snapshot_id
    table.append(mk_rows(spark, 5, tag="v2"), batch_id="b1")
    assert table.read().count() == 15
    assert table.read(snapshot_id=snap1).count() == 10


def test_commit_conflict_detection(spark, table):
    stale = LakeTable.load(spark, table.root)
    table.append(mk_rows(spark, 5), batch_id="b0")
    with pytest.raises(CommitConflict):
        stale.append(mk_rows(spark, 5), batch_id="b1")


def test_state_hash_stable_across_partitioning(spark, table):
    table.append(mk_rows(spark, 100), batch_id="b0")
    h1 = table.state_hash()
    h2 = table.state_hash()
    assert h1 == h2
    assert h1.startswith("100:")


def test_commit_exclusive_create_blocks_racing_writer(spark, table):
    """Two writers that BOTH pass the VERSION check (the check-then-act
    window) cannot both publish v{N}.json: the second exclusive create
    fails atomically as CommitConflict, no lost update."""
    t2 = LakeTable.load(spark, table.root)
    table.append(mk_rows(spark, 5), batch_id="b0")
    # make t2's VERSION read stale so it passes the snapshot check and
    # reaches the manifest-create step, as a genuinely concurrent writer would
    real_read = t2._fs.read_text

    def stale_read(path):
        return "0" if path.endswith("VERSION") else real_read(path)

    t2._fs.read_text = stale_read
    with pytest.raises(CommitConflict):
        t2.append(mk_rows(spark, 5), batch_id="b1")
    # winner's commit survives intact
    t3 = LakeTable.load(spark, table.root)
    assert t3.read().count() == 5
    assert "b0" in t3.committed_batches()
    assert "b1" not in t3.committed_batches()


def test_hadoopfs_uri_root_full_cycle(spark, tmp_path):
    """Table root as a file: URI — every metadata op (create, commit,
    ledger, evolution, time travel, load, exists) goes through the
    Hadoop FileSystem API, i.e. the object-store code path."""
    from dbp_etl_spark.lake.fs import HadoopFS

    root = "file:" + str(tmp_path / "pages_uri")
    t = LakeTable.create(
        spark, root, TableSchema.from_struct(PAGES), key="url", num_buckets=4
    )
    assert isinstance(t._fs, HadoopFS)
    assert LakeTable.exists(root, spark)
    t.append(mk_rows(spark, 20), batch_id="b0")
    snap1 = t.snapshot_id
    t.append(mk_rows(spark, 20), batch_id="b0")  # idempotent replay
    assert t.read().count() == 20
    t.append(mk_rows(spark, 7, tag="v2"), batch_id="b1")
    assert t.read().count() == 27
    assert t.read(snapshot_id=snap1).count() == 20  # time travel
    t = t.add_column("mirror_of", "string")  # evolution via shim
    assert "mirror_of" in t.read().columns
    t2 = LakeTable.load(spark, root)
    assert t2.snapshot_id == t.snapshot_id
    assert t2.state_hash() == t.state_hash()


def test_map_column_wide_dim_evolution(spark, tmp_path):
    """A ~200-field metadata dict stored as map<string,string> (the
    reference's LPTS record shape, load/LPTSExtractReader.py:469-1077):
    create, ingest, evolve with a struct column, read old snapshots."""
    dim = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("props", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "dim"), TableSchema.from_struct(dim), key="url", num_buckets=4
    )
    wide = spark.range(50).select(
        F.concat(F.lit("k"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
        F.map_from_arrays(
            F.transform(F.sequence(F.lit(0), F.lit(199)), lambda i: F.concat(F.lit("f"), i)),
            F.transform(F.sequence(F.lit(0), F.lit(199)), lambda i: F.concat(F.col("id"), F.lit("-"), i)),
        ).alias("props"),
    )
    t.append(wide, batch_id="b0")
    snap1 = t.snapshot_id
    got = t.read().filter(F.col("url") == "k7").collect()[0]["props"]
    assert len(got) == 200 and got["f42"] == "7-42"

    # evolve: add a struct column; old files read back with NULL struct
    t = t.add_column("geo", "struct<lat:double,lon:double>")
    assert t.read().filter(F.col("geo").isNotNull()).count() == 0
    t.append(
        spark.createDataFrame(
            [("k_new", None, None, False, (1.5, 2.5))],  # incl. hidden _deleted
            t.schema.to_struct(),
        ),
        batch_id="b1",
    )
    rows = t.read().filter(F.col("url") == "k_new").collect()
    assert rows[0]["geo"]["lat"] == 1.5
    # time travel: old snapshot has the pre-evolution schema
    old = t.read(snapshot_id=snap1)
    assert "geo" not in old.columns and old.count() == 50
    # reload from disk: map/struct types survive the manifest roundtrip
    t2 = LakeTable.load(spark, t.root)
    assert t2.schema.to_struct() == t.schema.to_struct()


def test_state_checks_clean_and_injected_violations(spark, tmp_path):
    """Integrity module: a healthy post-MERGE table reports all zeros
    (incl. lineage-vs-ledger reconciliation); injected corruption —
    a duplicate visible key and a visible row superseded by a newer
    tombstone — is caught."""
    from dbp_etl_spark.cdc import CDCRunner, generate_changes
    from dbp_etl_spark.lake.integrity import state_checks

    t = LakeTable.create(
        spark, str(tmp_path / "chk"), TableSchema.from_struct(PAGES), key="url", num_buckets=4
    )
    runner = CDCRunner(t, lineage_path=str(tmp_path / "lineage"), lineage_mode="per_bucket")
    runner.run(generate_changes(spark, 1500, 80, n_batches=2, seed=5))
    rep = {r["check"]: r["n_violations"] for r in state_checks(t, runner.lineage()).collect()}
    assert rep == {
        "null_key": 0,
        "dup_visible_key": 0,
        "tombstone_supersedes_visible": 0,
        "lineage_ledger_mismatch": 0,
    }

    # inject: append (no key semantics) a second visible row for an
    # existing url AND a tombstone newer than a visible row
    victim = t.read().limit(1).collect()[0]
    bad = spark.createDataFrame(
        [
            (victim["url"], victim["warc_ts"], b"x", "dup", "en", False),
            (victim["url"], victim["warc_ts"], None, None, None, True),
        ],
        t.schema.to_struct(),
    )
    t.append(bad, batch_id="corrupt")
    rep2 = {r["check"]: r["n_violations"] for r in state_checks(t).collect()}
    assert rep2["dup_visible_key"] == 1
    assert rep2["tombstone_supersedes_visible"] >= 1
    # and the ledger reconciliation flags the unexplained batch
    rep3 = {r["check"]: r["n_violations"] for r in state_checks(t, runner.lineage()).collect()}
    assert rep3["lineage_ledger_mismatch"] == 0  # corrupt batch had no counts -> not compared


def test_drop_column_and_readd_does_not_resurrect(spark, table):
    """Iceberg drop semantics: metadata-only drop, and a re-added column
    with the same NAME is a NEW column (fresh id) — pre-drop values
    must stay invisible, not leak back from the old data files."""
    t = table.append(mk_rows(spark, 6, tag="v1"), batch_id="seed")
    assert all(r["lang"] == "en" for r in t.read().collect())

    t = t.drop_column("lang")
    assert "lang" not in t.read().columns
    assert t.read().count() == 6  # data intact, column gone

    t = t.add_column("lang", "string")
    rows = t.read().collect()
    assert all(r["lang"] is None for r in rows)  # NOT resurrected
    # the re-added column has a fresh id, never the dropped one
    ids = [c.col_id for c in t.schema.columns if c.name == "lang"]
    assert ids[0] == t.last_column_id

    # new writes populate the new column normally
    t = t.append(mk_rows(spark, 2, tag="v2"), batch_id="after")
    got = {r["text"]: r["lang"] for r in t.read().collect()}
    assert got["0v2"] == "en" and got["0v1"] is None

    # reload from disk agrees (counter persisted in the manifest)
    t2 = LakeTable.load(spark, t.root)
    assert t2.last_column_id == t.last_column_id
    assert all(r["lang"] is None for r in t2.read().filter("text like '%v1'").collect())


def test_drop_structural_column_refused(spark, table):
    for col in ("url", "warc_ts", "_deleted"):
        with pytest.raises(ValueError, match="structural"):
            table.drop_column(col)


def test_read_changes_cdf(spark, table):
    """Change-data-feed reader: row-level diff between snapshots —
    inserts, updates (post-image), deletes; untouched rows absent."""
    from dbp_etl_spark.cdc import CDCRunner
    from dbp_etl_spark.lake.table import SnapshotExpired

    t = table
    base = mk_rows(spark, 10, tag="v1").withColumn(
        "op", F.lit("insert")
    ).withColumn("batch_id", F.lit(0).cast("long"))
    CDCRunner(t, salt_buckets=4).run(base)
    t = t.refresh()
    s0 = t.snapshot_id

    # batch 1: update 2 urls (later ts), delete 1, insert 1 new
    upd = spark.createDataFrame(
        [
            ("https://h.example/p0", 1800000000, b"<p>new0</p>", "update"),
            ("https://h.example/p1", 1800000000, b"<p>new1</p>", "update"),
            ("https://h.example/p2", 1800000000, None, "delete"),
            ("https://h.example/pNEW", 1800000000, b"<p>fresh</p>", "insert"),
        ],
        "url string, ts long, html binary, op string",
    ).select(
        "url",
        F.timestamp_seconds("ts").alias("warc_ts"),
        "html",
        "op",
        F.lit(1).cast("long").alias("batch_id"),
    )
    CDCRunner(t, salt_buckets=4).run(upd)
    t = t.refresh()

    feed = {r["url"]: r["_change_type"] for r in t.read_changes(s0).collect()}
    assert feed == {
        "https://h.example/p0": "update_post",
        "https://h.example/p1": "update_post",
        "https://h.example/p2": "delete",
        "https://h.example/pNEW": "insert",
    }
    # post-image carried for updates, pre-image key-only for deletes
    rows = {r["url"]: r for r in t.read_changes(s0).collect()}
    assert bytes(rows["https://h.example/p0"]["html"]) == b"<p>new0</p>"
    assert rows["https://h.example/p2"]["text"] is not None  # pre-image of deleted row

    # zero-churn window: empty feed, nothing scanned
    assert t.read_changes(t.snapshot_id).count() == 0
    # expired window raises cleanly
    t.expire_snapshots(keep_last=1)
    t = t.refresh()
    with pytest.raises(SnapshotExpired):
        t.read_changes(s0)


def test_key_bloom_filter_written(spark, tmp_path):
    """Data files carry a parquet bloom filter on the merge key (point
    lookups skip row groups within the pruned bucket's files). Pinned
    by the size delta vs a bloom-disabled table over identical rows."""
    import os

    def total_bytes(root):
        tot = 0
        for dirpath, _d, files in os.walk(os.path.join(root, "data")):
            tot += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return tot

    rows = mk_rows(spark, 200, tag="b")
    t1 = LakeTable.create(
        spark, str(tmp_path / "bloom"), TableSchema.from_struct(PAGES), num_buckets=2,
        bloom_key=True,
    )
    t1.append(rows, batch_id="x")
    t2 = LakeTable.create(
        spark, str(tmp_path / "nobloom"), TableSchema.from_struct(PAGES), num_buckets=2
    )
    t2.append(rows, batch_id="x")
    assert total_bytes(t1.root) > total_bytes(t2.root) + 50_000
    # content identical regardless
    assert t1.state_hash() == t2.state_hash()


def test_read_changes_across_schema_evolution(spark, table):
    """CDF across an add_column boundary: old snapshot rows align to
    the current schema (pre-image NULL for the added column) instead of
    failing analysis."""
    t = table.append(mk_rows(spark, 4, tag="v1"), batch_id="seed")
    s0 = t.snapshot_id
    t = t.add_column("score", "double")
    enriched = mk_rows(spark, 2, tag="v2").withColumn("score", F.lit(0.5))
    t = t.append(enriched, batch_id="b2")
    feed = t.read_changes(s0)
    assert "score" in feed.columns
    by_type = {}
    for r in feed.collect():
        by_type.setdefault(r["_change_type"], []).append(r)
    # appends of existing urls (append has no key semantics): new rows
    # appear as inserts/updates, none crash on the missing old column
    assert feed.count() > 0
    assert all(r["score"] in (0.5, None) for rs in by_type.values() for r in rs)


def test_delete_where_and_update_where(spark, table):
    from dbp_etl_spark.cdc import CDCRunner

    ev = mk_rows(spark, 12, tag="v1").withColumn("op", F.lit("insert")).withColumn(
        "batch_id", F.lit(0).cast("long")
    )
    CDCRunner(t := table, salt_buckets=4).run(ev)
    t = t.refresh()
    s0 = t.snapshot_id

    # UPDATE ... SET lang='de' WHERE text endswith specific rows
    t = t.update_where(F.col("text").isin("0v1", "1v1"), {"lang": F.lit("de")}, batch_id="upd")
    langs = {r["text"]: r["lang"] for r in t.read().collect()}
    assert langs["0v1"] == "de" and langs["1v1"] == "de" and langs["2v1"] != "de"

    # DELETE WHERE
    pre_count = t.read().count()
    t = t.delete_where(F.col("text") == "3v1", batch_id="del")
    assert t.read().count() == pre_count - 1
    assert t.read().filter("text = '3v1'").count() == 0
    # tombstone is ts-guarded: a replayed equal-ts write stays suppressed,
    # a newer write resurrects
    url3 = "https://h.example/p3"
    replay = ev.filter(F.col("url") == url3).withColumn("batch_id", F.lit(7).cast("long"))
    CDCRunner(t, salt_buckets=4).run(replay)
    t = t.refresh()
    assert t.read().filter(F.col("url") == url3).count() == 0  # equal ts: delete wins
    newer = replay.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).withColumn(
        "batch_id", F.lit(8).cast("long")
    )
    CDCRunner(t, salt_buckets=4).run(newer)
    t = t.refresh()
    assert t.read().filter(F.col("url") == url3).count() == 1  # newer write resurrects

    # idempotent by ledger; structural assignment refused; CDF sees the ops
    assert t.delete_where(F.col("text") == "3v1", batch_id="del").snapshot_id == t.snapshot_id
    with pytest.raises(ValueError, match="structural"):
        t.update_where(F.lit(True), {"warc_ts": F.current_timestamp()}, batch_id="x")
    feed = {(r["url"], r["_change_type"]) for r in t.read_changes(s0).collect()}
    assert ("https://h.example/p0", "update_post") in feed


def test_create_view_sql_surface(spark, table):
    t = table.append(mk_rows(spark, 5, tag="q"), batch_id="b")
    t.create_view("pages_v")
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT lang) AS l FROM pages_v").collect()[0]
    assert got["n"] == 5 and got["l"] == 1


# ------------------------------------------------ writer output shape pins
#
# Every LakeTable writer publishes one manifest. Code outside the writers
# reads its top-level keys, the ledger entry of the committed batch id(s)
# (cdc/scd.py, lake/integrity.py, perfbench) and the snapshot summary.
# Each case returns (table after the write, ledger ids to inspect).

_BASE_KEYS = {
    "snapshot_id",
    "parent_id",
    "key",
    "num_buckets",
    "schema_version",
    "schemas",
    "files",
    "committed_batches",
    "summary",
    "bloom_key",
}


def _mk(spark, tmp_path, **kw):
    return LakeTable.create(
        spark, str(tmp_path / "w"), TableSchema.from_struct(PAGES), key="url", num_buckets=8, **kw
    )


def _seeded(spark, tmp_path, **kw):
    return _mk(spark, tmp_path, **kw).append(mk_rows(spark, 20), batch_id="seed")


def _w_add_constraint(spark, tmp_path):
    return _seeded(spark, tmp_path).add_constraint("c", "lang IS NOT NULL", batch_id="w"), ["w"]


def _w_drop_constraint(spark, tmp_path):
    t = _seeded(spark, tmp_path, constraints={"c": "lang IS NOT NULL"})
    return t.drop_constraint("c", batch_id="w"), ["w"]


def _w_set_stats_columns(spark, tmp_path):
    return _seeded(spark, tmp_path).set_stats_columns(["warc_ts"]), []


def _w_overwrite_buckets(spark, tmp_path):
    t = _seeded(spark, tmp_path)
    return (
        t.overwrite_buckets(
            t.read(buckets=[0]), [0], "w", summary={"k": 1}, summary_fn=lambda: {"m": 2}
        ),
        ["w"],
    )


def _w_write_deltas(spark, tmp_path):
    t = _seeded(spark, tmp_path, merge_on_read=True)
    rows = mk_rows(spark, 20, tag="v2").filter(t.bucket_expr() == 0)
    return t.write_deltas(rows, [0], "w", summary={"k": 1}, summary_fn=lambda: {"m": 2}), ["w"]


def _w_append(spark, tmp_path):
    return _seeded(spark, tmp_path).append(mk_rows(spark, 5), batch_id="w", summary={"k": 1}), ["w"]


def _w_append_list_replay(spark, tmp_path):
    # a list batch id is a fused group: every member lands in the
    # ledger, so replaying the group is a no-op
    t = _seeded(spark, tmp_path).append(mk_rows(spark, 5), batch_id=["a", 7], summary={"k": 1})
    return t.append(mk_rows(spark, 5), batch_id=["a", 7], summary={"k": 1}), ["a", 7]


def _w_evolve(spark, tmp_path):
    return _seeded(spark, tmp_path).add_column("extra", "string"), []


def _w_rebucket(spark, tmp_path):
    return _seeded(spark, tmp_path).rebucket(4, "w"), ["w"]


def _w_migrate_to_buckets(spark, tmp_path):
    return _seeded(spark, tmp_path).migrate_to_buckets(16, "w"), ["w"]


def _w_expire_snapshots(spark, tmp_path):
    t = _seeded(spark, tmp_path).append(mk_rows(spark, 5, tag="v2"), batch_id="b1")
    t.expire_snapshots(keep_last=1)
    return t, []


def _w_tag_snapshot(spark, tmp_path):
    return _seeded(spark, tmp_path).tag_snapshot("t1", batch_id="w"), ["w"]


def _w_untag_snapshot(spark, tmp_path):
    return _seeded(spark, tmp_path).tag_snapshot("t1").untag_snapshot("t1", batch_id="w"), ["w"]


def _w_publish_wap(spark, tmp_path):
    t = _seeded(spark, tmp_path)
    t.wap_branch("x").append(mk_rows(spark, 5, tag="v2"), batch_id="wb")
    return t.publish_wap("x", batch_id="w"), ["w"]


def _w_rollback_to(spark, tmp_path):
    t = _seeded(spark, tmp_path).append(mk_rows(spark, 5, tag="v2"), batch_id="b1")
    return t.rollback_to(1, batch_id="w"), ["w"]


def _w_merge_fused(spark, tmp_path):
    from dbp_etl_spark.cdc import generate_changes, merge_batch

    t = _mk(spark, tmp_path)
    ev = generate_changes(spark, 60, 12, n_batches=2, seed=5)
    merge_batch(t, ev, [0, 1])
    return t, [0, 1]


_WRITER_SHAPES = {
    "add_constraint": (
        _w_add_constraint,
        {"constraints"},
        {"snapshot_id"},
        {"add_constraint": {"c": "lang IS NOT NULL"}},
    ),
    "drop_constraint": (_w_drop_constraint, {"constraints"}, {"snapshot_id"}, {"drop_constraint": "c"}),
    "set_stats_columns": (_w_set_stats_columns, {"stats_col_ids"}, None, {"stats_columns": ["warc_ts"]}),
    "overwrite_buckets": (_w_overwrite_buckets, set(), {"snapshot_id", "k", "m"}, {"k": 1, "m": 2}),
    "write_deltas": (_w_write_deltas, {"merge_on_read"}, {"snapshot_id", "k", "m"}, {"k": 1, "m": 2}),
    "append": (_w_append, set(), {"snapshot_id", "k"}, {"k": 1}),
    "append_list_replay": (_w_append_list_replay, set(), {"snapshot_id", "k"}, {"k": 1}),
    "evolve": (_w_evolve, {"last_column_id"}, None, {"schema_op": "add:extra:string"}),
    "rebucket": (_w_rebucket, set(), {"snapshot_id"}, {"rebucket": {"from": 8, "to": 4}}),
    "migrate_to_buckets": (
        _w_migrate_to_buckets,
        set(),
        {"snapshot_id", "migration_flip"},
        {"migration_flip": {"from": 8, "to": 16}},
    ),
    "expire_snapshots": (
        _w_expire_snapshots,
        {"ledger_watermarks", "min_retained_snapshot"},
        None,
        {"expire_snapshots": {"keep_last": 1, "min_retained": 2, "ledger_pruned": 0}},
    ),
    "tag_snapshot": (_w_tag_snapshot, {"tags"}, {"snapshot_id"}, {"tag": {"t1": 1}}),
    "untag_snapshot": (_w_untag_snapshot, {"tags"}, {"snapshot_id"}, {"untag": "t1"}),
    "publish_wap": (
        _w_publish_wap,
        set(),
        {"snapshot_id", "wap_id"},
        {
            "wap_publish": {
                "wap_id": "x",
                "mode": "fast_forward",
                "buckets": [0, 1, 2, 4],
                "batches": ["wb"],
            }
        },
    ),
    "rollback_to": (_w_rollback_to, set(), {"snapshot_id"}, {"rollback_to": 1}),
    "merge_fused": (
        _w_merge_fused,
        set(),
        {"snapshot_id", "fused_group", "counts", "max_warc_ts", "dirty_buckets", "candidate_buckets"},
        None,
    ),
}


@pytest.mark.parametrize("writer", sorted(_WRITER_SHAPES))
def test_writer_manifest_shape(spark, tmp_path, writer):
    build, extra_keys, entry_keys, summary = _WRITER_SHAPES[writer]
    t, ids = build(spark, tmp_path)
    head = LakeTable.load(spark, t.root)
    assert head.manifest == t.manifest
    m = t.manifest
    assert m["parent_id"] == m["snapshot_id"] - 1
    assert set(m) == _BASE_KEYS | extra_keys, sorted(m)
    for b in ids:
        assert set(m["committed_batches"][str(b)]) == entry_keys
        assert m["committed_batches"][str(b)]["snapshot_id"] == m["snapshot_id"]
    if summary is not None:
        assert m["summary"] == summary
    else:  # merge: the ledger entry is the summary plus the snapshot id
        assert set(m["summary"]) == entry_keys - {"snapshot_id"}

