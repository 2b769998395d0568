"""The match cascade — the reference's core operator, Spark-first.

Reference behavior (``dao/poi_base.py:149-793``): for EACH harvested POI it
runs up to 5 staged SQL queries against PostGIS, in descending specificity;
the first stage returning rows wins, and within a stage candidates are
ranked ``ORDER BY priority ASC, distance ASC`` and the top row taken
(``poi_base.py:742-744, 779-783``). One SQL round-trip per POI per stage —
the anti-pattern this engine exists to remove.

Spark rebuild: ALL pages and ALL stages meet in ONE equi-join on a tagged
key ``(arm, ks, kl, pc)`` — arm number, attribute key strings, cell id,
brand id. Each arm is one way for a page and a POI to share a key:

  arm 1 (930): additional-ref equality  ks=[ref]              (poi_base.py:251-279)
  arm 2 (930): unique-name equality     ks=[name]             (poi_base.py:312-338)
  arm 3 (965): name ~ rx ∧ csn ∧ city   ks=[csn, city]        (poi_base.py:376-406)
  arm 4 (940): name ∧ city ∧ street ∧ hn ks=[city, street, hn] (poi_base.py:444-475)
  stage 5, the radius query (poi_base.py:519-719), as two cell-keyed arms:
  arm 5: kl = cell on the d_perfect grid, 3×3 ring
      950: name ∧ street ∧ hn, dist < d_perfect
      970: name ∧ (street ∨ hn), dist < d_safe
      980: name, dist < d_safe
  arm 6: kl = cell on the d_unsafe grid (~4× finer), 3×3 ring
      990: ¬avoid-name, dist < d_unsafe

Candidate side: each POI is tagged ONCE (12 literal-pattern rlikes + 12
tag checks, codegen'd) with the brands it may match, then explodes into
its arm keys — ``pc`` ranges over the brands eligible for that arm, so
brand compatibility is a JOIN KEY, not a post-join filter, and the join
emits only compatible pairs. Probe side: each page resolves its brand
from plan-time literals (the 12-row dimension is known while building
the plan — no brand-dim join) and emits the keys of the arms it
qualifies for. A key is emitted only when every component is non-null:
hash-join keys of array type compare null ELEMENTS as equal, where the
reference's SQL equality never matches a NULL.

After the join, one CASE on ``arm`` sets stage/priority, applying the
tier and radius rules as codegen'd column expressions. A min-struct
aggregate (stage → priority → distance → osm_id) then reproduces "first
non-empty stage wins, best (priority, distance) within stage" exactly —
with osm_id as the deterministic tie-break the reference leaves to
incidental row order.

Scale notes (100 TB): pages ≫ pois by many orders of magnitude (10^12
pages vs a country-level OSM POI extract, ~10^6 rows / a few hundred MB
columnar), so the join BROADCASTS the keyed candidate side: the page
side — the 100 TB side — is never shuffled by the cascade at all, and
the only full shuffle is ~one row per page into the map-side-combined
aggregate. At planet scale (10^8 POIs) the identical plan degrades
gracefully: ``broadcast_candidates=False`` drops the hint (→ one shuffle
equi-join on the same key, AQE skew-join splitting mega-cells) and moves
the ring explode to the candidate side so 9× of the SMALL side crosses
the exchange. Winners are identical on both paths
(test_match_priority.py::test_shuffle_path_identical_winners).

On the shuffle path the unbounded attribute arms (2/3/4) are the measured
bottleneck — their join output grows as |pages-with-name| × |same-named
POIs| (BENCH.md "Shuffle-degradation cascade"). ``name_arm_radius_m``
bounds them by a coarse cell ring in ``kl`` + an exact distance
post-filter; an explicit, tested semantic relaxation (off by default —
the reference's unique-name stage is distance-unbounded).
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import haversine_m
from ..sqltext import sql_string
from ..tiling import X_SPAN, coarse_mult_for_radius, coarse_ring_spec

# Priorities exactly as the reference assigns them (dao/poi_base.py:254-683).
PRIO_REF = 930
PRIO_UNIQUE_NAME = 930  # stage 2 — same priority as stage 1; stage order breaks the tie
PRIO_NAME_CSN_CITY = 965
PRIO_NAME_FULL_ADDR = 940
PRIO_NAME_STREET_HN = 950
PRIO_NAME_PARTIAL = 970
PRIO_NAME_ONLY = 980
PRIO_NONAME = 990

# Per-brand tag predicate over the candidate's OSM tags, by poi_type
# (analogue of ``utils/poitypes.py:15-96``); unknown types match nothing.
TYPE_PREDICATE_SQL = {
    "shop": "shop IN ('convenience', 'supermarket')",
    "fuel": "amenity = 'fuel'",
    "post_office": "amenity = 'post_office'",
    "bank": "amenity = 'bank'",
    "railway_station": "railway = 'station'",
}


def _double(x: float) -> str:
    """A DOUBLE literal: Spark parses a bare ``2.0`` as DECIMAL."""
    return f"{float(x)!r}D"


def _cell_sql(lat: str, lon: str, mult: int) -> str:
    """``tiling.coarse_cell_id`` as Spark SQL text."""
    return (
        f"CAST(FLOOR(({lat} + 90.0D) * {_double(mult)}) AS BIGINT) * {X_SPAN}L"
        f" + CAST(FLOOR(({lon} + 180.0D) * {_double(mult)}) AS BIGINT)"
    )


def _ring_sql(k: int) -> str:
    """The (2k+1)² cell-id offsets of a Chebyshev ring, as an array literal."""
    return "array(" + ", ".join(
        f"{dy * X_SPAN + dx}L" for dy in range(-k, k + 1) for dx in range(-k, k + 1)
    ) + ")"


def _ids_sql(hits: list[tuple[int, str]]) -> str:
    """array<int> of the brand ids whose condition holds on the row."""
    return "array_compact(array(" + ", ".join(
        f"IF({cond}, {pc}, NULL)" for pc, cond in hits
    ) + "))"


def _keys_sql(arms: list[tuple[int, list[str], str, str]]) -> str:
    """array<struct<arm, ks, kl, pc>> of a row's join keys.

    ``arms``: (arm, key string columns, cell column or ``0L``, brand-id
    array). An arm contributes one key per brand id, and only when every
    key component is non-null (see the module docstring)."""
    parts = []
    for arm, ks, kl, pcs in arms:
        cond = " AND ".join(f"({c}) IS NOT NULL" for c in [*ks, kl])
        ks_arr = f"array({', '.join(ks)})" if ks else "CAST(array() AS ARRAY<STRING>)"
        parts.append(
            f"IF({cond}, transform({pcs}, pc -> named_struct("
            f"'arm', {arm}, 'ks', {ks_arr}, 'kl', {kl}, 'pc', pc)), NULL)"
        )
    return f"flatten(array_compact(array({', '.join(parts)})))"


def _prep_pois(pois: DataFrame, brands: list) -> DataFrame:
    """Project candidates + precompute per-POI brand eligibility.

    The reference evaluates the tag predicate and ``LOWER(name) ~*
    LOWER(:name)`` inside every per-POI SQL probe (poi_base.py:193-211,
    utils/poitypes.py). Porting those naively puts a regex compile and a
    CASE chain on every JOINED row — catastrophic in mega-cells. Instead
    each candidate is tagged ONCE with:

      type_hits   — brand ids whose tag predicate this POI satisfies
      cand_brands — brand ids satisfying tag predicate AND name regex
      near_brands — type_hits minus brands whose avoid-name regex matches

    plus pre-lowercased address keys, so the 10^7-row hot path is integer
    keys + direct string equality only.
    """
    # Stage the lowered name as a REAL column first: ``name_lc`` is
    # referenced by all ~24 rlikes below, and inlining the lower() into
    # each (what a single select produces) re-runs the ICU case mapping
    # per reference — thread dumps showed Lower.execBinaryICU as the top
    # CPU frame of the build side. A multi-referenced non-cheap alias is
    # a projection boundary CollapseProject won't merge away.
    staged = pois.selectExpr(
        "osm_id", "node_type", "shop", "amenity", "railway", "ref_value",
        "lat AS o_lat", "lon AS o_lon",
        "lower(addr_city) AS lc_o_city",
        "lower(addr_street) AS lc_o_street",
        "lower(addr_housenumber) AS lc_o_hn",
        "lower(addr_conscriptionnumber) AS lc_o_csn",
        "lower(name) AS name_lc",
    )
    tpred = {pc: TYPE_PREDICATE_SQL.get(b["poi_type"], "FALSE") for pc, b in brands}
    return staged.selectExpr(
        "osm_id", "node_type", "ref_value", "name_lc", "o_lat", "o_lon",
        "lc_o_city", "lc_o_street", "lc_o_hn", "lc_o_csn",
        _ids_sql([(pc, tpred[pc]) for pc, _ in brands]) + " AS type_hits",
        _ids_sql([
            (pc, f"{tpred[pc]} AND name_lc RLIKE {sql_string(b['search_rx'])}")
            for pc, b in brands
        ]) + " AS cand_brands",
        _ids_sql([
            (pc, tpred[pc] if not b["avoid_rx"] else
             f"{tpred[pc]} AND NOT coalesce(name_lc RLIKE {sql_string(b['avoid_rx'])}, FALSE)")
            for pc, b in brands
        ]) + " AS near_brands",
    )


def match_cascade(
    pages_geo: DataFrame,
    pois: DataFrame,
    common: DataFrame,
    brand_rows: list | None = None,
    broadcast_candidates: bool = True,
    name_arm_radius_m: float | None = None,
) -> DataFrame:
    """All pages × candidate OSM POIs → best match per page.

    ``pages_geo``: output of :func:`..extract.geotag.geotag_pages`.
    Returns one row per matched page: page_id, osm_id, node_type, stage,
    priority, distance (meters, full precision — round at the edge),
    poi_code.
    ``brand_rows``: optional local copy of the dimension rows (mappings
    with pc_id/poi_code/poi_name/poi_type/search_rx/avoid_rx/d_perfect/
    d_safe/d_unsafe/ref_name) — skips the collect() job that fetches them when
    the caller already holds them.
    ``broadcast_candidates``: True (default) = the country-scale plan,
    the keyed candidate side broadcasts and the ring explode sits
    probe-side. False = the planet-scale degradation (10^8 POIs, a
    candidate side too big to broadcast): the join becomes a shuffle
    equi-join on the same key, and the ring explode moves to the
    CANDIDATE side so 9× of the small side — never of the 10^12-row page
    side — crosses the exchange. Winners are identical either way
    (tested); only the physical strategy changes.

    ``name_arm_radius_m``: None (default) keeps the reference's semantics
    exactly — the attribute arms (unique-name 2, name+csn+city 3,
    name+address 4) are UNBOUNDED by distance (poi_base.py:312-338), so
    on the shuffle path their join output grows as
    |pages-with-name| × |same-named POIs|, the measured degradation
    bottleneck (BENCH.md "Shuffle-degradation cascade"). Setting a radius
    (e.g. 50_000.0) is an explicit SEMANTIC RELAXATION for planet-scale
    candidate sets: those arms additionally key ``kl`` on a coarse cell
    ring at that radius and post-filter ``distance < name_arm_radius_m``,
    so a mega-name key fans out only within its spatial bucket instead of
    globally. Arm 1 (additional-ref equality) stays unbounded — refs are
    near-unique keys with no blowup. Winners are identical to the
    unbounded plan whenever every true match lies within the radius
    (tested at fixture scale on both physical paths).
    """
    # 12-row dimension: plan-time constants (regex set, radii, name → brand),
    # not a data dependency — same trick as the reference's pc_id→type dict
    # (online_poi_matching.py:44-45), but resolved once per plan.
    common_rows = brand_rows if brand_rows is not None else common.collect()
    brands = [(int(r["pc_id"]), r) for r in common_rows]
    by_name = defaultdict(list)
    for pc, b in brands:
        if b["poi_name"] is not None:
            by_name[b["poi_name"]].append(pc)
    name_map = "map(" + ", ".join(
        f"{sql_string(n)}, array({', '.join(map(str, pcs))})" for n, pcs in by_name.items()
    ) + ")"
    ref_pcs = [pc for pc, b in brands if b["ref_name"] is not None]

    def brand_radius(field: str) -> str:
        """The joined brand's radius ``field`` (literal map lookup)."""
        return "map(" + ", ".join(f"{pc}, {_double(b[field])}" for pc, b in brands) + ")[p.pc]"

    # Grids: (cells per degree, ring radius in cells) of each cell-keyed
    # arm. The named tiers ring at the d_perfect-sized grid; the no-name
    # tier (990, d < 5 m) at the finer grid its tiny radius permits.
    grids = {
        5: (coarse_mult_for_radius(max(r["d_perfect"] for r in common_rows)), 1),
        6: (coarse_mult_for_radius(max(r["d_unsafe"] for r in common_rows)), 1),
    }
    if name_arm_radius_m is not None:
        # the bound is a caller-chosen relaxation radius, legitimately
        # settable beyond the mult=1 grid pitch — coarse_ring_spec widens
        # the ring ((2k+1)² cells) instead of missing near-pitch pairs
        grids.update(dict.fromkeys((2, 3, 4), coarse_ring_spec(name_arm_radius_m)))

    def cell(arm: int, lat: str, lon: str) -> str:
        return _cell_sql(lat, lon, grids[arm][0]) if arm in grids else "0L"

    # No persist() inside the operator: caching is the CALLER's checkpoint
    # decision (bench.py / scaling_bench.py / plans/pipeline.py persist the
    # geotagged extract). An operator-internal persist leaks one cache
    # entry per invocation — under storage pressure the LRU evicts dead
    # MEMORY_AND_DISK blocks *to disk*, and repeated cascade calls turn
    # into an I/O storm.
    #
    # Probe side: a slim projection (the keys, coordinates and the
    # stage-5 address columns) of the pages whose name is a brand — the
    # literal-map lookup replaces the brand-dim join.
    p = pages_geo.selectExpr(
        "page_id", "lat", "lon", "ref",
        f"{name_map}[name] AS pcs",
        "lower(uname) AS lc_uname",
        "lower(city) AS lc_city",
        "lower(street) AS lc_street",
        "lower(housenumber) AS lc_hn",
        "lower(csn) AS lc_csn",
    ).where("pcs IS NOT NULL")
    probe_arms = [
        (2, ["lc_uname"], cell(2, "lat", "lon"), "pcs"),
        (3, ["lc_csn", "lc_city"], cell(3, "lat", "lon"), "pcs"),
        (4, ["lc_city", "lc_street", "lc_hn"], cell(4, "lat", "lon"), "pcs"),
        (5, [], cell(5, "lat", "lon"), "pcs"),
        (6, [], cell(6, "lat", "lon"), "pcs"),
    ]
    o = _prep_pois(pois, brands)
    cand_arms = [
        (2, ["name_lc"], cell(2, "o_lat", "o_lon"), "type_hits"),
        (3, ["lc_o_csn", "lc_o_city"], cell(3, "o_lat", "o_lon"), "cand_brands"),
        (4, ["lc_o_city", "lc_o_street", "lc_o_hn"], cell(4, "o_lat", "o_lon"), "cand_brands"),
        (5, [], cell(5, "o_lat", "o_lon"), "cand_brands"),
        (6, [], cell(6, "o_lat", "o_lon"), "near_brands"),
    ]
    if ref_pcs:
        # arm 1 only for brands that carry an additional ref (ref_name)
        ref_ok = f"filter(pcs, pc -> pc IN ({', '.join(map(str, ref_pcs))}))"
        probe_arms.insert(0, (1, ["ref"], "0L", ref_ok))
        cand_arms.insert(0, (1, ["ref_value"], "0L", "type_hits"))
    probe = p.selectExpr(
        "page_id", "lat", "lon", "lc_street", "lc_hn", f"inline({_keys_sql(probe_arms)})"
    )
    cand = o.selectExpr(
        "osm_id", "node_type", "o_lat", "o_lon", "lc_o_street", "lc_o_hn",
        f"inline({_keys_sql(cand_arms)})",
    )

    # The RING EXPLODE (cell arms → every cell of the arm's ring) lives on
    # the PROBE (page) side. Both sides are valid — a point is within k
    # ring-steps of a candidate's cell iff the candidate is within k
    # ring-steps of the point's cell, so exploding either side produces
    # the identical pair set — and the choice is a measured tradeoff, not
    # a principle:
    #
    #   * BROADCAST path (default): probe-side explode keeps the hash
    #     relation 9× smaller and cache-resident; the 9 extra probes per
    #     page are pipelined in-task (no shuffle — the explode feeds the
    #     broadcast probe directly) and mostly hit empty cells. A
    #     control-bracketed interleaved A/B of the full 3.84M-page job at
    #     8 pinned cores measured probe-side at 74.8/83.2/99.1 s vs
    #     candidate-side at 101.2/87.0/90.7 s (min 74.8 vs 87.0, each
    #     pass bracketed by a pure-CPU host-drift control) — the fat
    #     9×-exploded hash relation costs more than the extra probes
    #     save, at every parallelism level tried (2/8/32).
    #   * SHUFFLE path (the 10^8-POI degradation, hint dropped): the
    #     explode MUST move to the candidate side — probe-side explode
    #     would put 9× of the 10^12-row side through the exchange;
    #     candidate-side puts 9× of the small side. fuzzy.py/relocate.py,
    #     which are shuffle-shaped at scale, explode candidate-side for
    #     exactly that reason.
    ring = "array(0L)"
    for arm, (_, k) in sorted(grids.items()):
        ring = f"IF(arm = {arm}, {_ring_sql(k)}, {ring})"
    ring_cell = f"explode(transform({ring}, d -> kl + d))"
    if broadcast_candidates:
        probe = probe.selectExpr("*", f"{ring_cell} AS probe_cell")
        cand = F.broadcast(cand.withColumnRenamed("kl", "cand_cell"))
    else:
        probe = probe.withColumnRenamed("kl", "probe_cell")
        cand = cand.selectExpr("*", f"{ring_cell} AS cand_cell")

    joined = probe.alias("p").join(
        cand.alias("c"),
        F.expr("p.arm = c.arm AND p.ks = c.ks AND probe_cell = cand_cell AND p.pc = c.pc"),
    ).withColumn(
        "distance", haversine_m(F.col("lat"), F.col("lon"), F.col("o_lat"), F.col("o_lon"))
    )

    def bounded(prio: int) -> str:
        if name_arm_radius_m is None:
            return str(prio)
        return f"IF(distance < {_double(name_arm_radius_m)}, {prio}, NULL)"

    # A candidate that qualifies for a named tier (arm 5) may ALSO emit a
    # 990 row from arm 6; that row sorts strictly after the named row in
    # the min-struct, so winners are unchanged.
    s_eq, h_eq = "lc_street = lc_o_street", "lc_hn = lc_o_hn"
    priority = f"""CASE p.arm
        WHEN 1 THEN {PRIO_REF}
        WHEN 2 THEN {bounded(PRIO_UNIQUE_NAME)}
        WHEN 3 THEN {bounded(PRIO_NAME_CSN_CITY)}
        WHEN 4 THEN {bounded(PRIO_NAME_FULL_ADDR)}
        WHEN 5 THEN CASE
            WHEN {s_eq} AND {h_eq} AND distance < {brand_radius('d_perfect')} THEN {PRIO_NAME_STREET_HN}
            WHEN ({s_eq} OR {h_eq}) AND distance < {brand_radius('d_safe')} THEN {PRIO_NAME_PARTIAL}
            WHEN distance < {brand_radius('d_safe')} THEN {PRIO_NAME_ONLY} END
        ELSE IF(distance < {brand_radius('d_unsafe')}, {PRIO_NONAME}, NULL) END"""
    all_arms = joined.selectExpr(
        "page_id", "osm_id", "node_type", "least(p.arm, 5) AS stage",
        f"{priority} AS priority", "distance", "p.pc AS cand_pc",
    ).where("priority IS NOT NULL")

    # "first non-empty stage wins; within stage ORDER BY priority, distance"
    # (poi_base.py:720-786) + deterministic osm_id tie-break.
    #
    # Expressed as min(struct(...)) rather than a row_number window: the
    # struct's lexicographic order IS the cascade order, and an aggregate
    # gets map-side partial combining — each shuffle partition ships one
    # candidate per page instead of every candidate. At mega-cell densities
    # that is the difference between shuffling millions and thousands.
    #
    # pc_id → poi_code as ONE literal map lookup (JVM-side; the dimension
    # is known while building the plan — a map keeps the expression tree
    # flat where a 12-branch CASE chain would deepen every plan copy).
    code_map = "map(" + ", ".join(
        f"{pc}, {sql_string(b['poi_code'])}" for pc, b in brands
    ) + ")"
    return all_arms.groupBy("page_id").agg(
        F.expr("min(struct(stage, priority, distance, osm_id, node_type, cand_pc))").alias("b")
    ).selectExpr(
        "page_id", "b.osm_id", "b.node_type", "b.stage", "b.priority", "b.distance",
        f"{code_map}[b.cand_pc] AS poi_code",
    )


def match_pages(
    pages_geo: DataFrame,
    pois: DataFrame,
    common: DataFrame,
    brand_rows: list | None = None,
    broadcast_candidates: bool = True,
    name_arm_radius_m: float | None = None,
) -> DataFrame:
    """Full outcome table: every geotagged page, matched or new.

    ``poi_new`` mirrors the reference's unmatched → new-POI flag
    (``libs/online_poi_matching.py:64, 334``).
    """
    best = match_cascade(
        pages_geo, pois, common, brand_rows=brand_rows,
        broadcast_candidates=broadcast_candidates,
        name_arm_radius_m=name_arm_radius_m,
    )
    return (
        pages_geo.select("page_id", "url", "name", "lat", "lon", "cell_id")
        .join(best, "page_id", "left")
        .withColumn("poi_new", F.col("osm_id").isNull())
    )  # carries the winner's poi_code (NULL for new POIs)
