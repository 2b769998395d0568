"""End-to-end and per-layer metric tables, and how each is computed.

``E2E`` and ``LAYER`` list every metric a run prints, with its unit; the
names match BENCHMARK.json. Every workload prints every name: a layer a
workload never calls reports 0 in the traced run.
"""

from __future__ import annotations

import os
import statistics

import duckdb

from .trace import is_join, op_count, op_sum

E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "write_s": "s",
    "read_s": "s",
    "peak_rss_mb": "MB",
    "quality": "ratio",
}

STAGES = ("extract", "match", "export_prep")

LAYER = {
    "session.start_s": "s",
    "extract.build_s": "s",
    "extract.plan_s": "s",
    "extract.exec_s": "s",
    "extract.rows_in": "rows",
    "extract.rows_out": "rows",
    "extract.python_rows": "rows",
    "extract.python_bytes": "bytes",
    "tiling.cells_occupied": "count",
    "tiling.max_cell_rows": "rows",
    "tiling.skew": "ratio",
    "match.build_s": "s",
    "match.py4j_calls": "count",
    "match.warn_lines": "count",
    "match.plan_s": "s",
    "match.exec_s": "s",
    "match.candidate_rows": "rows",
    "match.candidates_per_page": "ratio",
    "match.broadcast_bytes": "bytes",
    "match.shuffle_bytes": "bytes",
    "match.spill_bytes": "bytes",
    "lineage.exec_s": "s",
    "lineage.rows": "rows",
    "knn.build_s": "s",
    "knn.plan_s": "s",
    "knn.exec_s": "s",
    "knn.pairs_examined": "count",
    "knn.pairs_per_point": "ratio",
    "knn.ring1_hit_rate": "ratio",
    "knn.cached_frames_left": "count",
    **{f"checkpoint.{s}.build_s": "s" for s in STAGES},
    **{f"checkpoint.{s}.write_s": "s" for s in STAGES},
    "checkpoint.bytes_written": "bytes",
    "checkpoint.bytes_per_row": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.resume_read_s": "s",
    "export.exec_s": "s",
    "export.files_written": "count",
    "export.bytes_written": "bytes",
    "similarity.build.build_s": "s",
    "similarity.build.plan_s": "s",
    "similarity.build.exec_s": "s",
    "similarity.probe.build_s": "s",
    "similarity.probe.plan_s": "s",
    "similarity.probe.exec_s": "s",
    "similarity.assign_pairs": "count",
    "similarity.probe_pairs_per_query": "ratio",
    "similarity.window_ops": "count",
    "similarity.shuffle_bytes": "bytes",
    "similarity.py4j_calls": "count",
    "trace.pass_s": "s",
    "trace.first_pass_s": "s",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def pipeline_pass_files(root: str) -> dict:
    """Checkpoint / export footprint of one pass, and the extract's cell
    occupancy (tiling skew), read from the pass's own outputs."""
    out = {}
    files = size = rows = 0
    for st in STAGES:
        f, b = dir_stats(os.path.join(root, st))
        files, size = files + f, size + b
    con = duckdb.connect()
    try:
        for st in STAGES:
            rows += con.execute(
                "SELECT count(*) FROM read_parquet(?)", [os.path.join(root, st, "data", "*.parquet")]
            ).fetchone()[0]
        cells, max_rows, med_rows = con.execute(
            "SELECT count(*), max(n), median(n) FROM (SELECT cell_id, count(*) AS n "
            "FROM read_parquet(?) GROUP BY cell_id)",
            [os.path.join(root, "extract", "data", "*.parquet")],
        ).fetchone()
    finally:
        con.close()
    out["checkpoint.files_written"], out["checkpoint.bytes_written"] = files, size
    out["checkpoint.bytes_per_row"] = size / rows if rows else 0.0
    out["tiling.cells_occupied"], out["tiling.max_cell_rows"] = cells, max_rows
    out["tiling.skew"] = max_rows / med_rows if med_rows else 0.0
    out["export.files_written"], out["export.bytes_written"] = dir_stats(os.path.join(root, "exports"))
    return out


def _span_seconds(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _ops(spans: list[dict], name: str) -> list:
    out = []
    for s in spans:
        if s["name"] == name:
            out.extend(s.get("ops", []))
    return out


def _rows(ops, pred) -> float:
    return op_sum(ops, "number of output rows", pred)


def pipeline_layers(spans: list[dict], extra: dict, n_pages: int) -> dict:
    """Per-layer values of one traced pipeline pass."""
    v = {}
    for st in STAGES:
        v[f"checkpoint.{st}.build_s"] = _span_seconds(spans, f"checkpoint.{st}.build")
        v[f"checkpoint.{st}.write_s"] = _span_seconds(spans, f"checkpoint.{st}.write")
    ex = _ops(spans, "checkpoint.extract.write")
    python_nodes = lambda n: "Python" in n or "Arrow" in n  # noqa: E731
    v.update({
        "extract.build_s": _span_seconds(spans, "extract.build"),
        "extract.plan_s": _span_seconds(spans, "checkpoint.extract.plan"),
        "extract.exec_s": v["checkpoint.extract.write_s"],
        "extract.rows_in": _rows(ex, lambda n: n.startswith("Scan")),
        "extract.rows_out": _rows(ex, lambda n: "InsertIntoHadoopFsRelationCommand" in n),
        "extract.python_rows": _rows(ex, python_nodes),
        "extract.python_bytes": op_sum(ex, "data sent to Python workers", python_nodes),
    })
    m = _ops(spans, "checkpoint.match.write")
    build = [s for s in spans if s["name"] == "match.build"]
    cand = _rows(m, is_join)
    v.update({
        "match.build_s": _span_seconds(spans, "match.build"),
        "match.py4j_calls": sum(s["py4j_calls"] for s in build),
        "match.warn_lines": sum(s["warn_lines"] for s in build),
        "match.plan_s": _span_seconds(spans, "checkpoint.match.plan"),
        "match.exec_s": v["checkpoint.match.write_s"],
        "match.candidate_rows": cand,
        "match.candidates_per_page": cand / n_pages,
        "match.broadcast_bytes": op_sum(m, "data size", lambda n: n.startswith("BroadcastExchange")),
        "match.shuffle_bytes": op_sum(m, "shuffle bytes written"),
        "match.spill_bytes": op_sum(m, "spill size"),
    })
    lin = _ops(spans, "lineage.exec")
    v["lineage.exec_s"] = _span_seconds(spans, "lineage.exec")
    v["lineage.rows"] = _rows(lin, lambda n: "InsertIntoHadoopFsRelationCommand" in n)
    k = _ops(spans, "knn.exec")
    pairs = _rows(k, is_join)
    v.update({
        "knn.build_s": _span_seconds(spans, "knn.build"),
        "knn.plan_s": _span_seconds(spans, "knn.plan"),
        "knn.exec_s": _span_seconds(spans, "knn.exec"),
        "knn.pairs_examined": pairs,
        "knn.pairs_per_point": pairs / n_pages,
        "knn.ring1_hit_rate": extra["ring1_hits"] / n_pages,
        "knn.cached_frames_left": extra["knn_cached_frames_left"],
        "export.exec_s": _span_seconds(spans, "export.exec"),
    })
    v.update(extra["files"])
    return v


def ivf_layers(spans: list[dict], n_queries: int) -> dict:
    """Per-layer values of one traced ivf-ann pass."""
    build, probe = _ops(spans, "similarity.build.exec"), _ops(spans, "similarity.probe.exec")
    both = build + probe
    sim_spans = [s for s in spans if s["name"].startswith("similarity.")]
    v = {
        f"similarity.{side}.{ph}_s": _span_seconds(spans, f"similarity.{side}.{ph}")
        for side in ("build", "probe")
        for ph in ("build", "plan", "exec")
    }
    v.update({
        "similarity.assign_pairs": _rows(both, lambda n: "NestedLoopJoin" in n),
        "similarity.probe_pairs_per_query": _rows(probe, lambda n: n.endswith("HashJoin")) / n_queries,
        "similarity.window_ops": op_count(both, lambda n: n == "Window"),
        "similarity.shuffle_bytes": op_sum(both, "shuffle bytes written"),
        "similarity.py4j_calls": sum(s.get("py4j_calls", 0) for s in sim_spans),
    })
    return v
