#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 poibench/selftest.py    # ~20 s, one short Spark session

* The same seed gives byte-identical inputs; a different seed gives
  different page ids.
* The output checks catch a wrong answer: flipping one winner's ``osm_id``,
  dropping one page, or corrupting one replica of the amplified output
  makes the check fail, while the oracle's own rows pass.
* The DuckDB-generated ``pages`` / ``osm_pois`` tables equal what
  ``synth.pages_df`` / ``synth.osm_pois_df`` derive in Spark.

Exits 0 when every test passes. Writes only under ``.poibench/selftest``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".poibench", "selftest")


def _digest(work: str) -> dict[str, str]:
    """sha256 of every generated input file under ``work`` (the oracle's
    cached answer is derived, not an input)."""
    out = {}
    for sub in ("inputs", "synth"):
        for d, _, names in os.walk(os.path.join(work, sub)):
            for n in names:
                if n != "oracle_sample.json":
                    p = os.path.join(d, n)
                    with open(p, "rb") as f:
                        out[os.path.relpath(p, work)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_inputs_deterministic(gen) -> None:
    def generate():
        shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "synth"), ignore_errors=True)
        gen.prepare_pipeline(WORK, 7, amplified=True)
        gen.prepare_ivf(WORK, 7)
        return _digest(WORK)

    first, second = generate(), generate()
    assert first and first == second, "same seed gave different input bytes"
    a, _ = gen.base_keys(7)
    b, _ = gen.base_keys(8)
    assert set(a) != set(b), "different seeds gave the same page ids"
    print(f"ok  inputs: {len(first)} files byte-identical for one seed; seeds 7/8 differ")


def _fixture(gen, oracle, replicas: int):
    """A DuckDB connection whose out_match / out_knn hold exactly the
    oracle's rows for the sampled pages (every replica), plus inputs that
    say those are all the geotagged pages."""
    import duckdb
    import pandas as pd

    cold, _ = gen.prepare_pipeline(WORK, 7, amplified=False)
    expect = oracle.expected_rows(cold.sf_dir, 7)
    m = pd.DataFrame(list(oracle._scaled(expect["match_cascade"], replicas).values()), columns=oracle.MATCH_COLS)
    m = m.rename(columns={"distance_m": "distance"})
    k = pd.DataFrame(list(oracle._scaled(expect["knn_nearest"], replicas).values()), columns=oracle.KNN_COLS)
    k = k.rename(columns={"distance_m": "distance"})
    inputs = gen.PipelineInputs(cold.sf_dir, cold.pages_path, replicas, len(m))
    con = duckdb.connect()
    return con, m, k, expect, inputs


def _errors(oracle, con, m, k, expect, inputs) -> list[str]:
    con.register("out_match", m)
    con.register("out_knn", k)
    return oracle.check_match(con, expect, inputs) + oracle.check_knn(con, expect, inputs)


def test_checks_catch_wrong_answers(gen, oracle) -> None:
    for replicas in (1, 3):
        con, m, k, expect, inputs = _fixture(gen, oracle, replicas)
        assert _errors(oracle, con, m, k, expect, inputs) == [], "oracle rows must pass"
        matched = m.index[m["osm_id"].notna()][0]
        flipped = m.copy()
        flipped.loc[matched, "osm_id"] = flipped.loc[matched, "osm_id"] + 1
        assert _errors(oracle, con, flipped, k, expect, inputs), "flipped osm_id not caught"
        dropped = m.drop(index=m.index[len(m) // 2])
        assert _errors(oracle, con, dropped, k, expect, inputs), "dropped page not caught"
        knn_flip = k.copy()
        knn_flip.loc[k.index[0], "osm_id"] = knn_flip.loc[k.index[0], "osm_id"] + 1
        assert _errors(oracle, con, m, knn_flip, expect, inputs), "flipped knn winner not caught"
        knn_drop = k.drop(index=k.index[-1])
        assert _errors(oracle, con, m, knn_drop, expect, inputs), "dropped knn page not caught"
        con.close()
        print(f"ok  checks: flip / drop caught on match and knn (replicas={replicas})")


def test_ivf_check(gen, oracle) -> None:
    import numpy as np
    import pandas as pd

    corpus, queries, _ = gen.ivf_vectors(7)
    top = gen.exact_top5(corpus, queries)
    rows = []
    for qi, ids in enumerate(top):
        q = queries[qi]
        for rank, i in enumerate(ids, 1):
            c = corpus[i]
            sim = float(np.round(c @ q / (np.linalg.norm(c) * np.linalg.norm(q)), 6))
            rows.append((gen.IVF_QUERY_ID0 + qi, int(i), sim, rank))
    res = pd.DataFrame(rows, columns=["query_id", "match_id", "cosine_sim", "rank"])
    assert oracle.check_ivf(res, corpus, queries, len(queries)) == [], "exact answer must pass"
    bad = res.copy()
    bad.loc[0, "match_id"] = int(top[0][0]) ^ 1
    assert oracle.check_ivf(bad, corpus, queries, len(queries)), "wrong ivf id not caught"
    assert oracle.check_ivf(res.iloc[1:], corpus, queries, len(queries)), "missing ivf row not caught"
    truth = {gen.IVF_QUERY_ID0 + qi: [int(i) for i in ids] for qi, ids in enumerate(top)}
    assert oracle.recall_at_5(res, truth) == 1.0
    print("ok  ivf check: exact answer passes, a wrong id or a missing row fails")


def test_generator_matches_synth(gen) -> None:
    from poibench.run import start_spark, stop_spark

    from osm_poi_matchmaker_spark import synth

    cold, _ = gen.prepare_pipeline(WORK, 7, amplified=False)
    run_dir = os.path.join(WORK, "spark")
    spark = start_spark(run_dir, os.path.join(run_dir, "stderr.log"))
    try:
        for name, derive in (("pages", synth.pages_df), ("osm_pois", synth.osm_pois_df)):
            ours = spark.read.parquet(gen.synth_table_path(cold.sf_dir, name))
            theirs = derive(spark, cold.sf_dir)
            # a stored parquet table is all-nullable, as synth's own cache is
            assert ours.schema.simpleString() == theirs.schema.simpleString(), (
                f"{name}: {ours.schema.simpleString()} != {theirs.schema.simpleString()}"
            )
            diff = ours.exceptAll(theirs).count() + theirs.exceptAll(ours).count()
            assert diff == 0, f"{name}: {diff} rows differ from synth.py"
    finally:
        stop_spark(spark)
    print("ok  generator: pages / osm_pois equal synth.py's derivation")


def main() -> int:
    sys.path.insert(0, ROOT)
    from poibench.run import configure_env

    shutil.rmtree(WORK, ignore_errors=True)
    configure_env(WORK, os.path.join(WORK, "spark"))
    from poibench import gen, oracle

    try:
        test_inputs_deterministic(gen)
        test_checks_catch_wrong_answers(gen, oracle)
        test_ivf_check(gen, oracle)
        test_generator_matches_synth(gen)
    except AssertionError as e:
        print(f"FAIL {e}")
        return 1
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("all self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
