"""Distributed manifest scans: when the checkpoint sidecar is large,
plan_scan / read_where / count_where / agg_where / table_stats run the
store's live-file fold (``livefold.py``) on the executors, one
``mapInArrow`` pass over the sidecar frame with one partial per
partition merged on the driver, instead of materializing the entry
list in driver Python.

Equivalence is the contract: with DISTRIBUTED_MANIFEST_MIN_BYTES
forced to 0 (everything takes the sidecar venue) every observable —
pruned file sets, skip counts, read results, stats — must match the
driver venue, which runs the same fold over the cached manifest. The
10k→1M flat driver-memory evidence lives in
scripts/stress_distributed_scan.py; these tests pin semantics at test
scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyairbyte_spark import manifest as mf
from pyairbyte_spark.writers import CommitLogTableStore


@pytest.fixture()
def stores(spark, tmp_path, monkeypatch):
    """Two stores over the SAME warehouse: one forced distributed, one
    on the driver path — resolution mode must not change any answer."""
    monkeypatch.setattr(mf, "PARQUET_CHECKPOINT_MIN_ENTRIES", 1)
    dist = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    dist.DISTRIBUTED_MANIFEST_MIN_BYTES = 0
    drv = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    return dist, drv


def _df(spark, rows, raw_prefix="r"):
    df = spark.createDataFrame(rows, ["id", "v"])
    return df.withColumn(
        "_airbyte_raw_id", F.concat(F.lit(raw_prefix), F.col("id").cast("string"))
    ).withColumn("_airbyte_extracted_at", F.current_timestamp())


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "v").collect())


def _plan_key(plan):
    return (
        plan["files_total"],
        plan["files_selected"],
        sorted(
            (g["base"], tuple(sorted(g["paths"] or [])))
            for g in plan["groups"]
        ),
    )


def _seed(spark, store):
    for i in range(4):
        store.write_append(
            _df(spark, [(i * 10 + j, f"v{i * 10 + j}") for j in range(5)],
                f"p{i}").coalesce(1),
            "t",
        )
    # the writer cached its own resolved manifests; drop them so the
    # scan re-resolves and the size threshold decides the venue
    store._invalidate_manifests("t")


@pytest.mark.slow
def test_plan_scan_equivalence(spark, stores):
    dist, drv = stores
    _seed(spark, dist)
    for preds in ([], [("id", "<", 5)], [("id", ">=", 30)],
                  [("id", "in", (2, 31))], [("v", "=", "v12")]):
        p_dist = dist.plan_scan("t", preds)
        p_drv = drv.plan_scan("t", preds)
        assert p_dist.get("distributed") is True
        assert "distributed" not in p_drv
        assert _plan_key(p_dist) == _plan_key(p_drv), preds
        assert p_dist["files_selected"] < p_dist["files_total"] or not preds


def test_read_where_equivalence_and_empty(spark, stores):
    dist, drv = stores
    _seed(spark, dist)
    got = _rows(dist.read_where("t", [("id", "<", 12)]))
    assert got == _rows(drv.read_where("t", [("id", "<", 12)]))
    assert got == [(i, f"v{i}") for i in [0, 1, 2, 3, 4, 10, 11]]
    # everything skipped: schema comes from one live file, zero rows
    empty = dist.read_where("t", [("id", ">", 10_000)])
    assert empty.count() == 0
    assert set(empty.columns) == set(drv.read_where("t", []).columns)


def test_distributed_across_delta_chain_dml(spark, stores):
    """Deltas (appends), a DELETE rewrite, and a rename all resolve
    relationally — results identical to the driver path."""
    dist, drv = stores
    _seed(spark, dist)
    drv.delete_where("t", [("id", "<", 3)])
    drv.rename_column("t", "v", "val")
    dist._invalidate_manifests("t")
    a = sorted(tuple(r) for r in
               dist.read_where("t", [("id", "<", 20)]).select("id", "val").collect())
    b = sorted(tuple(r) for r in
               drv.read_where("t", [("id", "<", 20)]).select("id", "val").collect())
    assert a == b
    assert a[0] == (3, "v3")


def test_distributed_bucket_liveness(spark, stores):
    """Carried merge entries list ALL files but only live buckets
    count; the relational liveness filter must prune identically."""
    dist, drv = stores
    drv.write_merge(
        _df(spark, [(i, f"a{i}") for i in range(40)]).repartition(4),
        "m", ["id"],
    )
    drv.write_merge(
        _df(spark, [(i, f"b{i}") for i in range(0, 40, 7)], "s").coalesce(1),
        "m", ["id"],
    )
    dist._invalidate_manifests("m")
    drv._invalidate_manifests("m")
    p_dist, p_drv = dist.plan_scan("m", []), drv.plan_scan("m", [])
    assert p_dist.get("distributed") is True
    assert _plan_key(p_dist) == _plan_key(p_drv)
    assert _rows(dist.read_where("m", [])) == _rows(drv.read_where("m", []))


def test_table_stats_equivalence(spark, stores):
    dist, drv = stores
    _seed(spark, dist)
    drv.delete_where("t", [("id", ">=", 30)])
    dist._invalidate_manifests("t")
    s_dist = dist.table_stats("t")
    s_drv = drv.table_stats("t")
    assert s_dist == s_drv
    assert s_dist["rows"] == 15
    assert s_dist["columns"]["id"]["min"] == 0


def test_threshold_keeps_small_tables_on_driver_path(spark, tmp_path,
                                                     monkeypatch):
    monkeypatch.setattr(mf, "PARQUET_CHECKPOINT_MIN_ENTRIES", 1)
    store = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    store.write_append(_df(spark, [(1, "a")]).coalesce(1), "t")
    plan = store.plan_scan("t", [])
    assert "distributed" not in plan  # default 8 MiB threshold
    assert plan["manifest"].get("entries")


@pytest.mark.slow
def test_survivor_collapse_equivalence(spark, stores):
    """Unselective-predicate spill: with the collapse threshold forced
    to 0, fully-surviving entries become whole-dir groups (no per-file
    paths cross the driver) while partially-pruned entries keep
    explicit file lists — and every observable (counts, skip stats,
    read results) still matches the driver path exactly."""
    dist, drv = stores
    _seed(spark, dist)
    dist.DISTRIBUTED_SURVIVOR_COLLAPSE_MIN = 0
    for preds in ([], [("id", ">=", 5)], [("id", "<", 35)],
                  [("id", ">=", 0)]):
        p_dist = dist.plan_scan("t", preds)
        p_drv = drv.plan_scan("t", preds)
        assert p_dist.get("distributed") is True
        assert p_dist["files_total"] == p_drv["files_total"]
        assert p_dist["files_selected"] == p_drv["files_selected"]
        # entries with every live file surviving collapsed to
        # whole-dir groups; the driver path always ships file lists
        collapsed = [g for g in p_dist["groups"] if g["paths"] is None]
        partial = [g for g in p_dist["groups"] if g["paths"] is not None]
        if p_dist["files_selected"] == p_dist["files_total"]:
            assert collapsed and not partial
        assert _rows(dist.read_where("t", preds)) == _rows(
            drv.read_where("t", preds)
        ), preds
    # a predicate pruning whole entries AND splitting one: mixed plan
    got = _rows(dist.read_where("t", [("id", "in", (2, 12, 31))]))
    assert got == [(2, "v2"), (12, "v12"), (31, "v31")]


def test_partials_merge_across_partitions(spark, tmp_path, monkeypatch):
    """A sidecar plus delta commits gives a multi-partition entries
    frame, so every op's per-partition partials really merge on the
    driver: plan_scan, count_where, table_stats and agg_where (counts,
    min/max, harvested sums, avg) must equal the driver venue."""
    monkeypatch.setattr(mf, "PARQUET_CHECKPOINT_MIN_ENTRIES", 1)
    drv = CommitLogTableStore(
        spark, str(tmp_path / "wh"), "main", harvest_sums=True
    )
    for i in range(4):  # v1 full (the sidecar), v2..v4 delta commits
        rows = [(i * 10 + j, None if j == 2 else f"v{j}") for j in range(8)]
        drv.write_append(_df(spark, rows, f"p{i}").coalesce(2), "t")
    dist = CommitLogTableStore(
        spark, str(tmp_path / "wh"), "main", harvest_sums=True
    )
    dist.DISTRIBUTED_MANIFEST_MIN_BYTES = 0
    assert mf.is_delta(dist._read_commit_json("t", 4))
    _top, entries_df, man = dist._scan_source("t", None)
    assert man is None and entries_df.rdd.getNumPartitions() >= 2
    # the sidecar venue must never materialize the entry list
    monkeypatch.setattr(
        dist,
        "_read_manifest",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("sidecar venue materialized the manifest")
        ),
    )
    aggs = [
        ("count", "*"), ("count", "v"), ("min", "id"), ("max", "id"),
        ("sum", "id"), ("avg", "id"),
    ]
    for preds in ([("id", "<", 12)], [[("id", "<", 3)], [("id", ">=", 25)]]):
        p_dist, p_drv = dist.plan_scan("t", preds), drv.plan_scan("t", preds)
        assert p_dist.get("distributed") is True
        assert _plan_key(p_dist) == _plan_key(p_drv), preds
        assert dist.count_where("t", preds) == drv.count_where("t", preds)
        assert dist.agg_where("t", aggs, preds) == drv.agg_where(
            "t", aggs, preds
        ), preds
    # min/max only: the dominance-pruned tail
    mm, preds = [("min", "id"), ("max", "id")], [("id", ">=", 5)]
    assert dist.agg_where("t", mm, preds) == drv.agg_where("t", mm, preds)
    s_dist = dist.table_stats("t")
    assert s_dist == drv.table_stats("t")
    assert s_dist["rows"] == 32 and s_dist["columns"]["id"]["max"] == 37
