"""Sampled DuckDB oracle and the per-pass output checks.

A page's cascade winner and its nearest POI depend only on that page and
the POI table, so the registry's oracle SQL (``oracle_sql()["match_cascade"]``
and ``["knn_nearest"]``) evaluated over a seeded sample of pages gives the
exact expected rows for those pages (the sampling argument of *Random
Sampling Over Spatial Range Joins*, ICDE 2025). The full oracle at sf0.1
takes minutes; a few hundred sampled pages take about a second.

Checks read the Spark outputs (checkpoint parquet, export parquet, the
collected kNN frame) with DuckDB, so checking never runs a Spark job.
Each returns a list of failure strings; an empty list means the pass is
correct.
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pandas as pd

from . import gen

SAMPLE_PAGES = 200
MATCH_COLS = ["page_id", "osm_id", "node_type", "stage", "priority", "distance_m", "poi_code", "poi_new"]
KNN_COLS = ["page_id", "osm_id", "distance_m"]


def sample_page_ids(sf_dir: str, seed: int) -> list[int]:
    """A seeded uniform sample of the base page ids."""
    keys = pd.read_parquet(os.path.join(sf_dir, "customer.parquet"))["c_custkey"].to_numpy()
    rng = np.random.default_rng([seed, 4])
    return sorted(int(k) for k in rng.choice(keys, min(SAMPLE_PAGES, len(keys)), replace=False))


def expected_rows(sf_dir: str, seed: int) -> dict:
    """Oracle rows for the sampled pages, cached next to the inputs:
    ``{"sample": [...], "match_cascade": [...], "knn_nearest": [...]}``."""
    path = os.path.join(sf_dir, "oracle_sample.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import __spark_entry__ as entry

    sample = sample_page_ids(sf_dir, seed)
    sql = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{sf_dir}/customer.parquet') "
        f"WHERE c_custkey IN ({','.join(map(str, sample))})"
    )
    con.execute(f"CREATE VIEW part AS SELECT * FROM read_parquet('{sf_dir}/part.parquet')")
    out = {"sample": sample}
    for name, cols in (("match_cascade", MATCH_COLS), ("knn_nearest", KNN_COLS)):
        df = con.execute(f"SELECT {', '.join(cols)} FROM ({sql[name]}) ORDER BY page_id").df()
        out[name] = _canon(df, cols)
    con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.rename(path + ".tmp", path)
    return out


def _canon(df: pd.DataFrame, cols: list[str]) -> list[list]:
    """Rows as JSON-stable lists (NULL -> None, numpy scalars -> Python)."""
    rows = []
    for rec in df[cols].itertuples(index=False):
        rows.append([None if pd.isna(v) else (v.item() if hasattr(v, "item") else v) for v in rec])
    return rows


def _scaled(rows: list[list], replicas: int) -> dict:
    """{spark page_id: expected row}: each base row once per replica id."""
    out = {}
    for row in rows:
        for r in range(replicas):
            pid = row[0] * replicas + r if replicas > 1 else row[0]
            out[pid] = [pid] + row[1:]
    return out


def _compare(got: list[list], want: dict, what: str) -> list[str]:
    errs = []
    seen = {}
    for row in got:
        if row[0] in seen:
            errs.append(f"{what}: page {row[0]} has more than one row")
        seen[row[0]] = row
    for pid, row in want.items():
        if pid not in seen:
            errs.append(f"{what}: page {pid} missing, oracle {row}")
        elif seen[pid] != row:
            errs.append(f"{what}: page {pid} got {seen[pid]}, oracle {row}")
    for pid in seen.keys() - want.keys():
        errs.append(f"{what}: page {pid} not in the oracle, got {seen[pid]}")
    return errs[:5]


def sample_ids(oracle: dict, replicas: int) -> list[int]:
    """Spark-side page ids of the sampled pages (every replica)."""
    return sorted(p * replicas + r if replicas > 1 else p for p in oracle["sample"] for r in range(replicas))


def check_match(con: duckdb.DuckDBPyConnection, oracle: dict, inputs: "gen.PipelineInputs") -> list[str]:
    """Check the relation ``out_match``: one row per geotagged page, and
    the sampled pages' winners equal the oracle's (for every replica)."""
    n, n_ids = con.execute("SELECT count(*), count(DISTINCT page_id) FROM out_match").fetchone()
    errs = []
    if n != inputs.n_geotagged or n_ids != inputs.n_geotagged:
        errs.append(f"match: {n} rows / {n_ids} page ids, expected {inputs.n_geotagged}")
    ids = ",".join(map(str, sample_ids(oracle, inputs.replicas)))
    got = con.execute(
        "SELECT page_id, osm_id, node_type, stage, priority, ROUND(distance, 2), poi_code, poi_new "
        f"FROM out_match WHERE page_id IN ({ids}) ORDER BY page_id"
    ).fetchall()
    return errs + _compare([list(r) for r in got], _scaled(oracle["match_cascade"], inputs.replicas), "match")


def check_knn(con: duckdb.DuckDBPyConnection, oracle: dict, inputs: "gen.PipelineInputs") -> list[str]:
    """Check the relation ``out_knn``: at most one row per page, and the
    sampled pages' nearest POIs equal the oracle's (for every replica)."""
    n, n_ids = con.execute("SELECT count(*), count(DISTINCT page_id) FROM out_knn").fetchone()
    errs = []
    if n != n_ids or n > inputs.n_geotagged:
        errs.append(f"knn: {n} rows / {n_ids} page ids for {inputs.n_geotagged} pages")
    ids = ",".join(map(str, sample_ids(oracle, inputs.replicas)))
    got = con.execute(
        f"SELECT page_id, osm_id, ROUND(distance, 2) FROM out_knn WHERE page_id IN ({ids}) ORDER BY page_id"
    ).fetchall()
    return errs + _compare([list(r) for r in got], _scaled(oracle["knn_nearest"], inputs.replicas), "knn")


def check_ivf(result: pd.DataFrame, corpus: np.ndarray, queries: np.ndarray, n_queries: int) -> list[str]:
    """Structural and numeric checks of an ``ivf_topk`` answer
    (query_id, match_id, cosine_sim, rank): five ranked rows per query,
    corpus ids only, and each reported cosine equal to the exact one."""
    errs = []
    if result["query_id"].nunique() != n_queries:
        errs.append(f"ivf: {result['query_id'].nunique()} queries answered of {n_queries}")
    for qid, grp in result.groupby("query_id"):
        ranks = sorted(grp["rank"].tolist())
        if ranks != [1, 2, 3, 4, 5]:
            errs.append(f"ivf: query {qid} ranks {ranks}")
            continue
        grp = grp.sort_values("rank")
        mids = grp["match_id"].to_numpy()
        if mids.min() < 0 or mids.max() >= len(corpus) or len(set(mids)) != 5:
            errs.append(f"ivf: query {qid} match ids {mids.tolist()}")
            continue
        q = queries[qid - gen.IVF_QUERY_ID0]
        c = corpus[mids]
        exact = (c @ q) / (np.linalg.norm(c, axis=1) * np.linalg.norm(q))
        sims = grp["cosine_sim"].to_numpy()
        if np.abs(exact - sims).max() > 2e-6 or np.any(np.diff(sims) > 0):
            errs.append(f"ivf: query {qid} cosines {sims.tolist()} vs exact {exact.round(6).tolist()}")
    return errs[:5]


def recall_at_5(result: pd.DataFrame, truth: dict) -> float:
    """Share of the exact top-5 ids found in the returned top-5."""
    got = result.groupby("query_id")["match_id"].apply(set).to_dict()
    hits = sum(len(got.get(q, set()) & set(ids)) for q, ids in truth.items())
    return hits / (5 * len(truth))
