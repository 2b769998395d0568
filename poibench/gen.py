"""Seeded input generation for the benchmark workloads.

Everything here runs without Spark (numpy, pyarrow, DuckDB), so the
generated tables are ready before the timed session starts, and they are
cached on disk per seed: a second run with the same seed reuses them.

* Pipeline workloads: the seed draws the ``part`` key set (POIs) and a
  subset of it as the ``customer`` key set (pages), so every page has its
  co-located twin POI, as in the TPC-H-shaped testdata. Because every
  synthetic property (jitter class, hotspot, address class, brand) is a
  function of ``key % m``, a random key set keeps the designed mix.
  The derived ``pages`` / ``osm_pois`` tables are written into the
  program's own synthetic-table cache with DuckDB from ``synth_sql`` (the
  SQL mirror of ``synth.py``), so the Spark job reads them as stored input
  tables instead of deriving them inside the timed session.
* ``amplified-pipeline`` replicates the base pages ``AMPLIFY`` times with
  remapped ids ``page_id * AMPLIFY + rep`` (the layout of
  ``scaling_bench.build_amplified_input``).
* ``ivf-ann``: a clustered 16-dim corpus plus queries that are planted
  near-duplicates of corpus vectors, and the exact cosine top-5 per query.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Base size of the pipeline workloads: TPC-H proportions (customer 150k x
# sf, part 200k x sf) at sf 0.02.
N_PAGES, N_POIS = 3_000, 4_000
KEY_SPACE = 1_000_000  # keys are drawn from [1, KEY_SPACE)
AMPLIFY = 8
N_FILES = 8  # parquet files per table, so scans split across the cores

# ivf-ann. 16 dims, not 64: the index build issues py4j calls and generated
# code per dimension, and at 64 a warm pass took ~6 s, too few samples per run.
IVF_N, IVF_DIM, IVF_QUERIES, IVF_CLUSTERS = 2_048, 16, 256, 32
IVF_CENTROID_MOD = 45  # ~sqrt(IVF_N) modulo-seeded centroids
IVF_QUERY_ID0 = 10_000_000  # query ids never collide with corpus ids

PAGES_SCHEMA = pa.schema(
    [
        ("page_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass
class PipelineInputs:
    sf_dir: str  # holds customer.parquet / part.parquet
    pages_path: str  # the pages table the extract stage scans
    replicas: int  # 1, or AMPLIFY for the amplified workload
    n_geotagged: int  # geotagged pages in pages_path (one match row each)
    from_html: bool = False  # extract re-derives text from html (pandas UDF)


@dataclass
class IvfInputs:
    corpus_path: str
    queries_path: str
    n_corpus: int
    n_queries: int
    exact_top5: dict  # query_id -> [corpus ids], exact cosine order


def _write_files(table: pa.Table, out_dir: str, n_files: int = N_FILES) -> None:
    """Write ``table`` as ``n_files`` parquet parts plus a ``_SUCCESS`` marker,
    atomically (build in a temp dir, then rename)."""
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def base_keys(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(page keys, poi keys) for ``seed``: pages are a subset of the POIs."""
    rng = np.random.default_rng([seed, 1])
    poi_keys = np.sort(rng.choice(np.arange(1, KEY_SPACE), N_POIS, replace=False))
    page_keys = np.sort(rng.choice(poi_keys, N_PAGES, replace=False))
    return page_keys.astype(np.int64), poi_keys.astype(np.int64)


def synth_table_path(sf_dir: str, name: str) -> str:
    """Where ``synth.pages`` / ``synth.osm_pois`` look for their stored table.

    Reads the program's cache root and schema version, so the path follows
    ``synth`` if either changes. ``OPM_SYNTH_CACHE`` must be set first."""
    from osm_poi_matchmaker_spark import synth

    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(synth._CACHE_ROOT, tag, f"{name}_v{synth._SCHEMA_VERSION}")


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with ``customer`` / ``part`` views over ``sf_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("customer", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def synth_tables(sf_dir: str) -> tuple[pa.Table, pa.Table]:
    """``pages`` and ``osm_pois`` derived from ``sf_dir`` with the DuckDB
    mirror of ``synth.pages_df`` / ``synth.osm_pois_df`` (row order by key)."""
    from osm_poi_matchmaker_spark import synth_sql

    con = duck(sf_dir)
    pages = con.execute(
        f"WITH {synth_sql.pages_cte()} SELECT page_id, url, "
        "make_timestamp((1704067200 + page_id % 86400) * 1000000) AS warc_ts, "
        "encode(CONCAT('<html><body><p>', text, '</p></body></html>')) AS html, "
        "text, lang FROM pages ORDER BY page_id"
    ).arrow()
    pois = con.execute(f"WITH {synth_sql.pois_cte()} SELECT * FROM pois ORDER BY osm_id").arrow()
    con.close()
    return pages.cast(PAGES_SCHEMA), pois


def _geotagged(con: duckdb.DuckDBPyConnection) -> int:
    from osm_poi_matchmaker_spark import synth_sql

    return con.execute(
        f"{synth_sql.base_ctes()} SELECT count(*) FROM pages_x "
        "WHERE lat IS NOT NULL AND lon IS NOT NULL"
    ).fetchone()[0]


def prepare_pipeline(work: str, seed: int, amplified: bool) -> tuple[PipelineInputs, PipelineInputs]:
    """Generate (or reuse) the seeded pipeline inputs under ``work``.

    Returns (cold-pass inputs, warm-pass inputs). They are the same for the
    base workload. The amplified workload's cold pass runs the base pages
    through the HTML extract path, the small job a fresh JVM pays for
    first; its warm passes run the replicated pages."""
    sf_dir = os.path.join(work, "inputs", f"base-s{seed}")
    pages_path = synth_table_path(sf_dir, "pages")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        os.makedirs(sf_dir, exist_ok=True)
        page_keys, poi_keys = base_keys(seed)
        pq.write_table(pa.table({"c_custkey": page_keys}), f"{sf_dir}/customer.parquet")
        pq.write_table(pa.table({"p_partkey": poi_keys}), f"{sf_dir}/part.parquet")
        pages, pois = synth_tables(sf_dir)
        _write_files(pois, synth_table_path(sf_dir, "osm_pois"))
        _write_files(pages, pages_path)
    meta = os.path.join(sf_dir, "geotagged.json")
    if not os.path.exists(meta):
        con = duck(sf_dir)
        with open(meta, "w") as f:
            json.dump({"geotagged": _geotagged(con)}, f)
        con.close()
    with open(meta) as f:
        n_geo = json.load(f)["geotagged"]
    base = PipelineInputs(sf_dir, pages_path, 1, n_geo, from_html=amplified)
    if not amplified:
        return base, base
    amp_path = os.path.join(work, "inputs", f"amp-s{seed}-x{AMPLIFY}")
    if not os.path.exists(os.path.join(amp_path, "_SUCCESS")):
        src = pq.read_table(pages_path).sort_by("page_id")
        idx = np.repeat(np.arange(src.num_rows), AMPLIFY)
        rep = np.tile(np.arange(AMPLIFY, dtype=np.int64), src.num_rows)
        big = src.take(pa.array(idx))
        ids = big.column("page_id").to_numpy() * AMPLIFY + rep
        big = big.set_column(0, "page_id", pa.array(ids))
        # spread replicas over the files, as a real crawl would be
        order = np.random.default_rng([seed, 2]).permutation(big.num_rows)
        _write_files(big.take(pa.array(order)), amp_path, n_files=2 * N_FILES)
    return base, PipelineInputs(sf_dir, amp_path, AMPLIFY, n_geo * AMPLIFY, from_html=True)


def ivf_vectors(seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(corpus, queries, source corpus index of each query) for ``seed``."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(IVF_CLUSTERS, IVF_DIM))
    member = rng.integers(0, IVF_CLUSTERS, IVF_N)
    corpus = centers[member] + 0.6 * rng.normal(size=(IVF_N, IVF_DIM))
    src = rng.choice(IVF_N, IVF_QUERIES, replace=False)
    queries = corpus[src] + 0.05 * rng.normal(size=(IVF_QUERIES, IVF_DIM))
    # 6 decimals keeps the parquet doubles short and exactly reproducible
    return np.round(corpus, 6), np.round(queries, 6), src


def exact_top5(corpus: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """Exact cosine top-5 corpus indices per query (ties by lower index)."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    return np.array([np.lexsort((np.arange(len(s)), -s))[:5] for s in sims])


def prepare_ivf(work: str, seed: int) -> IvfInputs:
    """Generate (or reuse) the seeded ivf-ann corpus, queries and truth."""
    d = os.path.join(work, "inputs", f"ivf-s{seed}-d{IVF_DIM}-q{IVF_QUERIES}")
    corpus_path, queries_path = os.path.join(d, "corpus"), os.path.join(d, "queries")
    truth_path = os.path.join(d, "exact_top5.json")
    if not os.path.exists(truth_path):
        os.makedirs(d, exist_ok=True)
        corpus, queries, _ = ivf_vectors(seed)
        list_t = pa.list_(pa.float64())
        _write_files(
            pa.table(
                {"vec_id": pa.array(np.arange(IVF_N, dtype=np.int64)),
                 "embedding": pa.array(list(corpus), type=list_t)}
            ),
            corpus_path,
        )
        qids = np.arange(IVF_QUERIES, dtype=np.int64) + IVF_QUERY_ID0
        _write_files(
            pa.table({"vec_id": pa.array(qids), "embedding": pa.array(list(queries), type=list_t)}),
            queries_path,
            n_files=1,
        )
        top = exact_top5(corpus, queries)
        with open(truth_path + ".tmp", "w") as f:
            json.dump({str(int(q)): [int(i) for i in row] for q, row in zip(qids, top)}, f)
        os.rename(truth_path + ".tmp", truth_path)
    with open(truth_path) as f:
        truth = {int(q): ids for q, ids in json.load(f).items()}
    return IvfInputs(corpus_path, queries_path, IVF_N, IVF_QUERIES, truth)
