"""Checkpoint/resume + streaming smoke tests."""

from __future__ import annotations

import json
import os

from osm_poi_matchmaker_spark.plans.pipeline import build_poi_pipeline

SF = "/root/testdata/sf0.001"


def test_pipeline_runs_and_resumes(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    pipe = build_poi_pipeline(root, SF)

    out1 = pipe.run(spark)
    assert pipe.executed == ["extract", "match", "export_prep"]
    n_match = out1["match"].count()
    assert n_match > 0

    # warm resume: nothing recomputes, same data comes back
    pipe2 = build_poi_pipeline(root, SF)
    out2 = pipe2.run(spark)
    assert pipe2.executed == []
    assert out2["match"].count() == n_match

    # lineage rows landed next to the match checkpoint
    lineage = spark.read.parquet(os.path.join(root, "match", "lineage"))
    assert lineage.count() > 0
    cols = set(lineage.columns)
    assert {"cell_bucket", "cell_min", "cell_max", "input_rows", "matched_rows",
            "dist_min", "dist_max"} <= cols

    # manifest sanity
    with open(os.path.join(root, "match", "manifest.json")) as f:
        man = json.load(f)
    assert man["rows"] == n_match

    # version bump on stage 2 → stages 2..3 recompute, stage 1 stays warm
    pipe3 = build_poi_pipeline(root, SF)
    pipe3.stages[1].version = "2"
    pipe3.run(spark)
    assert pipe3.executed == ["match", "export_prep"]


def test_streaming_windowed_events(spark, tmp_path):
    import shutil

    from osm_poi_matchmaker_spark.streaming.events import (
        run_stream_once,
        windowed_event_stats,
    )

    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", stream_dir / "events.parquet")

    batch = spark.read.parquet(f"{SF}/events.parquet")
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_stats(batch).collect()
    }

    run_stream_once(spark, str(stream_dir), batch.schema, out_table="event_stats_test")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("event_stats_test").collect()
    }
    assert got == expected


def test_attach_live_tags_semantics(spark):
    """S16 (online_poi_matching.py:238-324): cache-first for ways/nodes,
    relations bypass the cache via abs(osm_id), fetch failures stay NULL,
    write-back = fetched objects + way nd members minus existing keys."""
    from osm_poi_matchmaker_spark.operators.enrich import attach_live_tags

    matched = spark.createDataFrame(
        [
            (1, 10, "node"),      # cache hit
            (2, 11, "way"),       # cache miss, api hit → append + members
            (3, -12, "relation"), # relation: abs() against api, no cache
            (4, 13, "node"),      # cache miss, api miss → NULL
            (5, 14, "node"),      # cache miss, api hit (also an 11-member)
        ],
        "page_id long, osm_id long, node_type string",
    )
    cache = spark.createDataFrame(
        [(10, "node", "cached-10"), (15, "node", "cached-15")],
        "osm_id long, node_type string, live_tags string",
    )
    api = spark.createDataFrame(
        [
            (10, "node", "api-10", 1, None),
            (11, "way", "api-way-11", 2, [14, 15, 99]),
            (12, "relation", "api-rel-12", 3, None),
            (14, "node", "api-14", 4, None),
            (15, "node", "api-15", 5, None),
        ],
        "osm_id long, node_type string, live_tags string, osm_version long, nd array<long>",
    )
    enriched, appends = attach_live_tags(matched, cache, api)
    tags = {r["page_id"]: r["osm_live_tags"] for r in enriched.collect()}
    assert tags == {
        1: "cached-10",   # cache wins over api
        2: "api-way-11",
        3: "api-rel-12",  # abs(-12), cache never consulted
        4: None,          # fetch failed after RETRY
        5: "api-14",
    }
    got = {(r["osm_id"], r["node_type"]): r["live_tags"] for r in appends.collect()}
    # way 11 itself, node 14 (miss-fetched AND an nd member — deduped),
    # but NOT nd member 15 (already cached), NOT 99 (api miss), NOT the
    # relation, NOT cache hits.
    assert got == {(11, "way"): "api-way-11", (14, "node"): "api-14"}
