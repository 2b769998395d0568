"""Deterministic synthetic POI-domain tables derived from the driver's
TPC-H-ish parquet (customer → ``pages``, part → ``osm_pois``).

Why derive instead of random-generate: the correctness gate compares every
Spark query against a DuckDB oracle over the SAME parquet inputs, so the
synthetic web pages / OSM candidates must be reproducible in pure ANSI SQL.
Every derivation below is integer arithmetic (multiply, mod) plus one final
``CAST(x AS DOUBLE)/1e5`` — bit-identical across engines (verified by
tests/test_oracle_parity.py). ``synth_sql.py`` carries the mirrored SQL.

Shape follows BASELINE.json's ``input_hint``:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)
and FIXTURES.md §2 for ``osm_pois`` / §3 for ``poi_common``.

Placement design (mirrors FIXTURES.md §2 "positive & negative cases at each
radius boundary"): page k and POI a share a base position when k == a; the
POI is jittered by class ``a % 7``:

    cls 0  →   0 m   (exact hit)
    cls 1  →  ~9 m   (inside every radius)
    cls 2  → ~44 m   (inside safe=70/posta, outside shop-safe=50)
    cls 3  → ~200 m  (inside perfect=300 only)
    cls 4  → ~445 m  (outside perfect → only distance-free attribute tiers)
    cls 5  → ~33 m but decoy name        (name predicates must reject)
    cls 6  → ~1.5 km east                (kNN range behavior)

Address-completeness classes (page side): ``k%17==3`` pages carry no
address, ``k%19==11`` pages street+housenumber but no city — without
them the dense synthetic address keys let stage 4 match every page and
the radius tiers (950/970/980/990) never win. Unique-name landmarks:
``k%53==0`` pages name a "Hall {0..4}" (stage-2 tier), ``a%41==0`` POIs
carry the matching exact names.

40% of pages/POIs cluster in a 4×6 km "Budapest" hotspot (mega-cell skew per
BASELINE.json north_rule — exercises AQE skew handling and salting).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sqltext import sql_string

# ---------------------------------------------------------------------------
# Brand dimension (analogue of poi_common, dao/data_structure.py:319-341)
# poi_type drives the tag predicate (utils/poitypes.py:15-96 analogue);
# distances follow utils/config.py:241-295 defaults (perfect 300 / safe 70 /
# unsafe 5; shops 50, post office 250).
# ---------------------------------------------------------------------------
BRANDS = [
    # pc_id, poi_code, poi_name, poi_type, search_rx, avoid_rx, d_perfect, d_safe, d_unsafe, ref_name
    (0, "hutescoexp", "Tesco Expressz", "shop", "tesco expressz", None, 300, 50, 5, None),
    (1, "hutescoext", "Tesco Extra", "shop", "tesco extra", None, 300, 50, 5, None),
    (2, "huspar", "Spar", "shop", "spar", None, 300, 50, 5, None),
    (3, "hualdi", "Aldi", "shop", "aldi", None, 300, 50, 5, None),
    (4, "hulidl", "Lidl", "shop", "lidl", None, 300, 50, 5, None),
    (5, "hucba", "CBA", "shop", "cba", None, 300, 50, 5, None),
    (6, "humolpet", "MOL", "fuel", "mol", None, 300, 70, 5, None),
    (7, "huomv", "OMV", "fuel", "omv", None, 300, 70, 5, None),
    (8, "huposta", "Magyar Posta", "post_office", "magyar posta", None, 300, 250, 5, None),
    (9, "humav", "MAV allomas", "railway_station", "mav allomas", None, 300, 70, 5, "mav"),
    (10, "hukh", "KH Bank", "bank", "kh bank", None, 300, 70, 5, None),
    (11, "huotp", "OTP Bank", "bank", "otp bank", "otp travel", 300, 70, 5, None),
]

COMMON_SCHEMA = T.StructType(
    [
        T.StructField("pc_id", T.IntegerType()),
        T.StructField("poi_code", T.StringType()),
        T.StructField("poi_name", T.StringType()),
        T.StructField("poi_type", T.StringType()),
        T.StructField("search_rx", T.StringType()),
        T.StructField("avoid_rx", T.StringType()),
        T.StructField("d_perfect", T.IntegerType()),
        T.StructField("d_safe", T.IntegerType()),
        T.StructField("d_unsafe", T.IntegerType()),
        T.StructField("ref_name", T.StringType()),
    ]
)

# Multipliers for the integer hash chains (fixed, documented, mirrored in SQL)
M_LAT, M_LON, M_HOTLAT, M_HOTLON = 2654435761, 998244353, 48271, 69621
HOT_LAT_E5, HOT_LON_E5 = 4749790, 1904020  # "Budapest" hotspot center


def poi_common_df(spark: SparkSession) -> DataFrame:
    """~12-row brand dimension — always broadcast (J1, create_db.py:253-256).

    Built as a SQL VALUES literal, NOT ``createDataFrame(rows)``: the
    latter plans as a Python-RDD scan (``Scan ExistingRDD``), and every
    broadcast rebuild of the dimension then spins up Python workers —
    thread dumps of the match job showed tasks serialized on
    ``SparkEnv.createPythonWorker``. A VALUES literal is a JVM-side
    LocalRelation: no Python anywhere in the cascade's hot path.
    """

    def lit(v):
        return str(int(v)) if isinstance(v, int) else sql_string(v)

    rows = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in BRANDS)
    cols = ", ".join(COMMON_SCHEMA.fieldNames())
    return spark.sql(f"SELECT * FROM (VALUES {rows}) AS t({cols})")


# Plan-time view of the brand dimension: the cascade resolves regex sets and
# radii as literals while building the plan (match.py), so callers that know
# the dimension locally can skip the driver-side collect() job.
BRAND_ROWS = [dict(zip(COMMON_SCHEMA.fieldNames(), row)) for row in BRANDS]


# ---------------------------------------------------------------------------
# Materialization: in production `pages` / `osm_pois` are stored Iceberg
# tables; here we derive them once per scale factor and cache as parquet so
# every query starts from a real columnar scan (predicate pushdown, column
# pruning) instead of re-evaluating the wide synth expression — whose
# codegen exceeds Janino's 64 KB method limit if inlined into each plan.
# ---------------------------------------------------------------------------
_CACHE_ROOT = os.environ.get(
    "OPM_SYNTH_CACHE", os.path.join(tempfile.gettempdir(), "opm_synth_cache")
)

# Bump when any synthetic-table schema/derivation changes — busts the
# materialized parquet cache (old files would silently miss new columns).
_SCHEMA_VERSION = 5


def _materialize(spark: SparkSession, sf_dir: str, name: str, builder) -> DataFrame:
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(_CACHE_ROOT, tag, f"{name}_v{_SCHEMA_VERSION}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        # Atomic write-then-rename (VERDICT r3 ask #7): concurrent
        # suites sharing $OPM_SYNTH_CACHE must never see a half-written
        # table or have parquet files yanked from under an open scan.
        # Each writer builds into its own unique temp dir (same
        # filesystem) and renames it into place; the rename either
        # installs the table atomically or fails because a concurrent
        # writer won — in which case the loser discards its copy and
        # reads the winner's. The published dir is never mutated.
        import shutil
        import uuid

        tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        # write enough files that downstream scans parallelize — a single
        # parquet file caps the whole extract stage at 1 task regardless
        # of cluster size (a real Iceberg table would be split-planned)
        builder(spark, sf_dir).repartition(32).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.exists(marker):
                # Corpse from a crashed pre-atomic writer. Never rmtree the
                # published path in place (ADVICE r4 TOCTOU: a winner could
                # rename a complete table there between the marker check and
                # the rmtree, and we'd delete it mid-scan). rename is atomic:
                # move the suspect aside first, and if it turns out to be a
                # complete table (raced winner), put it straight back.
                corpse = f"{path}.corpse-{os.getpid()}-{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(path, corpse)
                except OSError:
                    pass  # nothing there, or another racer owns it now
                else:
                    if os.path.exists(os.path.join(corpse, "_SUCCESS")):
                        try:
                            os.rename(corpse, path)  # raced winner: restore
                        except OSError:
                            shutil.rmtree(corpse, ignore_errors=True)
                    else:
                        shutil.rmtree(corpse, ignore_errors=True)
                try:
                    os.rename(tmp, path)
                except OSError:
                    pass  # lost a second race — a winner published meanwhile
            if os.path.exists(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `pages` input table (materialized-once parquet scan)."""
    return _materialize(spark, sf_dir, "pages", pages_df)


# ---------------------------------------------------------------------------
# Postcode polygons (analogue of boundary='postal_code' rows in
# planet_osm_polygon, libs/osm.py:32-49): a 5×5 rectangle grid over the HU
# bbox, one per nation row. Bounds are offset by 5e-6° so no synthetic
# point (integer micro-degrees) ever lies exactly on an edge — PIP results
# are then identical for any consistent boundary convention.
# ---------------------------------------------------------------------------
PC_LAT0, PC_LON0 = 45.699995, 16.099995
PC_DLAT, PC_DLON = 0.58, 1.36


def roads_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Road candidates (highway rows analogue) for the fuzzy street join:
    placed ~28 m north of the shared anchor, names with typo/decoy
    variants exercising each fuzzy predicate arm."""
    a = F.col("p_partkey")
    lat_e5, lon_e5 = _lat_lon_e5(a)
    num = (a % 30).cast("string")
    name = (
        F.when(a % 19 == 0, F.concat(F.lit("Boulevard "), num))
        .when(a % 17 == 0, F.concat(F.lit("Stret "), num))
        .otherwise(F.concat(F.lit("Street "), num))
    )
    return spark.read.parquet(f"{sf_dir}/part.parquet").select(
        a.cast("long").alias("road_id"),
        name.alias("road_name"),
        ((lat_e5 + 25).cast("double") / 100000.0).alias("lat"),
        (lon_e5.cast("double") / 100000.0).alias("lon"),
    )


def buildings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Building candidates for the relocation join (J3): centroid ~21 m
    from the shared anchor, same street + housenumber."""
    a = F.col("p_partkey")
    lat_e5, lon_e5 = _lat_lon_e5(a)
    return spark.read.parquet(f"{sf_dir}/part.parquet").select(
        a.cast("long").alias("building_id"),
        F.concat(F.lit("Street "), (a % 30).cast("string")).alias("b_street"),
        (a % 40 + 1).cast("string").alias("b_housenumber"),
        ((lat_e5 - 15).cast("double") / 100000.0).alias("lat"),
        ((lon_e5 + 15).cast("double") / 100000.0).alias("lon"),
    )


def water_polygons_df(spark: SparkSession) -> DataFrame:
    """Three fixed water rectangles (water QC J6, poi_base.py:851-869):
    one overlapping the Budapest hotspot, two rural."""
    # bounds carry a 5e-6 offset (same trick as the postcode grid) so no
    # integer-micro-degree point sits exactly on an edge
    # VALUES literal (JVM LocalRelation) — same reason as poi_common_df
    df = spark.sql(
        "SELECT * FROM (VALUES"
        " (0, 47.492995D, 47.503005D, 19.024995D, 19.045005D),"
        " (1, 46.199995D, 46.400005D, 17.499995D, 17.900005D),"
        " (2, 47.799995D, 48.000005D, 20.499995D, 20.800005D)"
        ") AS t(poly_id, lat_min, lat_max, lon_min, lon_max)"
    )
    wkt = F.concat(
        F.lit("POLYGON(("),
        F.col("lon_min").cast("string"), F.lit(" "), F.col("lat_min").cast("string"), F.lit(","),
        F.col("lon_max").cast("string"), F.lit(" "), F.col("lat_min").cast("string"), F.lit(","),
        F.col("lon_max").cast("string"), F.lit(" "), F.col("lat_max").cast("string"), F.lit(","),
        F.col("lon_min").cast("string"), F.lit(" "), F.col("lat_max").cast("string"), F.lit(","),
        F.col("lon_min").cast("string"), F.lit(" "), F.col("lat_min").cast("string"),
        F.lit("))"),
    )
    return df.withColumn("way_wkt", wkt)


def city_dim_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """City dimension (city table analogue, dao/data_structure.py:364-375):
    unique (name, postcode) pairs derived from supplier keys."""
    k = F.col("s_suppkey") % 50
    return (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .select(
            k.cast("int").alias("city_id"),
            F.concat(F.lit("City"), k.cast("string")).alias("city_name"),
            (F.lit(1000) + k).cast("string").alias("city_post_code"),
        )
        .distinct()
    )


def ways_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """planet_osm_ways analogue (id, nodes bigint[]) for the S6 way-nodes
    lookup (poi_base.py:136-142; consumed post-match by
    online_poi_matching.py:213-223). One row per way-typed candidate
    (p_partkey % 3 == 1, mirroring osm_pois_df's node_type derivation);
    the node list is a deterministic function of the way id so the DuckDB
    oracle can regenerate it."""
    a = F.col("p_partkey")
    way = a.cast("long")
    return (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .where(a % 3 == 1)
        .select(
            way.alias("way_id"),
            F.transform(
                F.sequence(F.lit(0), (a % 4 + 1).cast("int")),
                lambda i: way * 10 + i,
            ).alias("nodes"),
        )
    )


def _rect_wkt(x_min, y_min, x_max, y_max):
    def _f(c):
        return F.format_number(c, 6).cast("string")

    return F.concat(
        F.lit("POLYGON(("),
        _f(x_min), F.lit(" "), _f(y_min), F.lit(","),
        _f(x_max), F.lit(" "), _f(y_min), F.lit(","),
        _f(x_max), F.lit(" "), _f(y_max), F.lit(","),
        _f(x_min), F.lit(" "), _f(y_max), F.lit(","),
        _f(x_min), F.lit(" "), _f(y_min),
        F.lit("))"),
    )


def admin_polygons_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """admin_level='8' boundary rows for the J5 city lookup (libs/osm.py:92-109).

    Two populations, built to make the reference's swapped-probe quirk
    (``ST_MakePoint(:lat,:lon)`` — latitude on x, libs/osm.py:97) observable:

    * 25 "legacy" cells from ``nation`` whose x axis carries LATITUDE —
      the only rows a swapped probe can ever fall inside. Each cell's x
      span (0.70°) overlaps the next row's (step 0.58°), so boundary-strip
      points are contained by two cells and the ``ORDER BY name LIMIT 1``
      tie-break (libs/osm.py:98) decides.
    * 5 normal-orientation rows from ``region`` (x = longitude, like real
      planet_osm_polygon) that the swapped probe can NEVER hit — the
      observable consequence of the reference bug, preserved.
    """
    n = F.col("n_nationkey")
    row_i, col_i = F.floor(n / 5).cast("int"), (n % 5).cast("int")
    x_min = F.lit(PC_LAT0) + row_i * F.lit(PC_DLAT)
    y_min = F.lit(PC_LON0) + col_i * F.lit(PC_DLON)
    legacy = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        n.cast("int").alias("poly_id"),
        F.concat(F.lit("City"), F.lpad(n.cast("string"), 2, "0")).alias("name"),
        _rect_wkt(x_min, y_min, x_min + F.lit(0.70), y_min + F.lit(PC_DLON)).alias("way_wkt"),
    )
    r = F.col("r_regionkey")
    nx_min = F.lit(PC_LON0) + r * F.lit(PC_DLON)
    ny_min = F.lit(PC_LAT0) + r * F.lit(PC_DLAT)
    normal = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        (r + 100).cast("int").alias("poly_id"),
        F.concat(F.lit("Normal"), r.cast("string")).alias("name"),
        _rect_wkt(nx_min, ny_min, nx_min + F.lit(PC_DLON), ny_min + F.lit(PC_DLAT)).alias("way_wkt"),
    )
    return legacy.unionByName(normal)


def postcode_polygons_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = F.col("n_nationkey")
    row_i, col_i = F.floor(n / 5).cast("int"), n % 5
    lat_min = F.lit(PC_LAT0) + row_i * F.lit(PC_DLAT)
    lon_min = F.lit(PC_LON0) + col_i * F.lit(PC_DLON)
    lat_max, lon_max = lat_min + F.lit(PC_DLAT), lon_min + F.lit(PC_DLON)

    def _f(c):
        return F.format_number(c, 6).cast("string")

    wkt = F.concat(
        F.lit("POLYGON(("),
        _f(lon_min), F.lit(" "), _f(lat_min), F.lit(","),
        _f(lon_max), F.lit(" "), _f(lat_min), F.lit(","),
        _f(lon_max), F.lit(" "), _f(lat_max), F.lit(","),
        _f(lon_min), F.lit(" "), _f(lat_max), F.lit(","),
        _f(lon_min), F.lit(" "), _f(lat_min),
        F.lit("))"),
    )
    return spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        n.cast("int").alias("poly_id"),
        (F.lit(1000) + n).cast("string").alias("postcode"),
        lat_min.alias("lat_min"),
        lat_max.alias("lat_max"),
        lon_min.alias("lon_min"),
        lon_max.alias("lon_max"),
        wkt.alias("way_wkt"),
    )


# ---------------------------------------------------------------------------
# District polygons (round 4): NON-CONVEX shapes for the ray-cast PIP.
# The postcode/admin/water sets above are axis-aligned rectangles, so
# their oracles only ever prove bbox containment; these L-shaped
# districts (NE quadrant notched out) + one 'metro' rectangle overlapping
# all of them force the oracle through the SAME even-odd ray-cast
# arithmetic the production UDF runs (operators/pip.py _ray_cast), and
# the overlap exercises the ORDER BY name LIMIT 1 first-hit semantics
# (district names 'dNN' sort before 'metro', so metro wins only inside
# the notches). All edges are axis-parallel and every vertex coordinate
# ends in 5e-6° while points sit on the 1e-5° grid — no point ever lies
# on an edge, and the crossing intersection is exact (xint == vertex x),
# so Spark and DuckDB agree bit-for-bit. Coordinate strings are built
# from INTEGER micro*10 (e6) values in both engines — never by float
# formatting — so the parsed doubles are identical by construction.
# ---------------------------------------------------------------------------
LAT0_E6 = 45_699_995  # == PC_LAT0 * 1e6
LON0_E6 = 16_099_995  # == PC_LON0 * 1e6
DLAT_E6 = 580_000  # == PC_DLAT * 1e6
DLON_E6 = 1_360_000  # == PC_DLON * 1e6


def _e6_str(c):
    """Integer e6 coordinate -> decimal string, pure integer ops."""
    return F.concat(
        (c.cast("long") / F.lit(1_000_000)).cast("long").cast("string"),
        F.lit("."),
        F.lpad((c.cast("long") % F.lit(1_000_000)).cast("string"), 6, "0"),
    )


def district_polygons_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(poly_id, name, way_wkt): 25 L-shaped districts on the 5×5 HU
    grid + the overlapping 'metro' rectangle covering the whole grid."""
    n = F.col("n_nationkey").cast("long")
    row_i, col_i = (n / 5).cast("long"), n % 5
    x0 = F.lit(LON0_E6) + col_i * F.lit(DLON_E6)
    y0 = F.lit(LAT0_E6) + row_i * F.lit(DLAT_E6)
    w, h = F.lit(DLON_E6), F.lit(DLAT_E6)
    hw, hh = F.lit(DLON_E6 // 2), F.lit(DLAT_E6 // 2)

    def vert(xe, ye):
        return F.concat(_e6_str(xe), F.lit(" "), _e6_str(ye))

    l_ring = F.concat(
        F.lit("POLYGON(("),
        vert(x0, y0), F.lit(","),
        vert(x0 + w, y0), F.lit(","),
        vert(x0 + w, y0 + hh), F.lit(","),
        vert(x0 + hw, y0 + hh), F.lit(","),
        vert(x0 + hw, y0 + h), F.lit(","),
        vert(x0, y0 + h), F.lit(","),
        vert(x0, y0),
        F.lit("))"),
    )
    districts = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        n.alias("poly_id"),
        F.format_string("d%02d", n.cast("int")).alias("name"),
        l_ring.alias("way_wkt"),
    )
    mx0, my0 = F.lit(LON0_E6), F.lit(LAT0_E6)
    mx1 = F.lit(LON0_E6 + 5 * DLON_E6)
    my1 = F.lit(LAT0_E6 + 5 * DLAT_E6)
    metro_ring = F.concat(
        F.lit("POLYGON(("),
        vert(mx0, my0), F.lit(","),
        vert(mx1, my0), F.lit(","),
        vert(mx1, my1), F.lit(","),
        vert(mx0, my1), F.lit(","),
        vert(mx0, my0),
        F.lit("))"),
    )
    metro = spark.range(1).select(
        F.lit(25).cast("long").alias("poly_id"),
        F.lit("metro").alias("name"),
        metro_ring.alias("way_wkt"),
    )
    return districts.unionAll(metro)


def enclave_polygons_df(spark: SparkSession) -> DataFrame:
    """(poly_id, name, way_wkt): a donut 'county' (outer rectangle over
    the dense Budapest-area district cells WITH a rectangular hole) and
    the 'enclave' polygon filling that hole — the multi-ring WKT shape
    real admin boundaries have (enclaves/exclaves). Points inside the
    hole must resolve to the enclave, NOT the county: the even-odd
    ray-cast crosses both boundaries, so a bbox or outer-ring-only test
    gives the wrong polygon there. Same integer-e6 string construction
    as the district polygons."""
    # outer: district-grid rows 2-3 × cols 1-2; hole: a half-cell rect
    # containing the Budapest point cluster
    x0o, x1o = LON0_E6 + DLON_E6, LON0_E6 + 3 * DLON_E6
    y0o, y1o = LAT0_E6 + 2 * DLAT_E6, LAT0_E6 + 4 * DLAT_E6
    x0h, x1h = LON0_E6 + 2 * DLON_E6, LON0_E6 + 2 * DLON_E6 + DLON_E6 // 2
    y0h, y1h = LAT0_E6 + 3 * DLAT_E6, LAT0_E6 + 3 * DLAT_E6 + DLAT_E6 // 2

    def ring(x0, y0, x1, y1):
        def vert(xe, ye):
            return F.concat(_e6_str(F.lit(xe)), F.lit(" "), _e6_str(F.lit(ye)))

        return F.concat(
            vert(x0, y0), F.lit(","), vert(x1, y0), F.lit(","),
            vert(x1, y1), F.lit(","), vert(x0, y1), F.lit(","), vert(x0, y0),
        )

    county = F.concat(
        F.lit("POLYGON(("), ring(x0o, y0o, x1o, y1o),
        F.lit("),("), ring(x0h, y0h, x1h, y1h), F.lit("))"),
    )
    enclave = F.concat(F.lit("POLYGON(("), ring(x0h, y0h, x1h, y1h), F.lit("))"))
    return spark.range(1).select(
        F.lit(0).cast("long").alias("poly_id"),
        F.lit("county").alias("name"),
        county.alias("way_wkt"),
    ).unionAll(
        spark.range(1).select(
            F.lit(1).cast("long").alias("poly_id"),
            F.lit("enclave").alias("name"),
            enclave.alias("way_wkt"),
        )
    )


def osm_pois(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OSM candidate table (materialized-once parquet scan)."""
    return _materialize(spark, sf_dir, "osm_pois", osm_pois_df)


def _brand_name_col(key):
    c = F.when(F.lit(False), F.lit(""))
    for pc_id, _, name, *_ in BRANDS:
        c = c.when(key % 12 == pc_id, F.lit(name))
    return c.otherwise(F.lit(""))


def _lat_lon_e5(key):
    """Shared placement formula for pages(key=c_custkey) and pois(key=p_partkey)."""
    hot = key % 5 < 2
    lat = F.when(hot, F.lit(HOT_LAT_E5) + (key * M_HOTLAT) % 4000 - 2000).otherwise(
        F.lit(4575000) + (key * M_LAT) % 280000
    )
    lon = F.when(hot, F.lit(HOT_LON_E5) + (key * M_HOTLON) % 6000 - 3000).otherwise(
        F.lit(1615000) + (key * M_LON) % 670000
    )
    return lat.cast("long"), lon.cast("long")


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-style ``pages`` table (input_hint schema), one page per
    customer row. The geotag / address payload is embedded in ``text`` (and
    a minimal ``html``) so the extractor has real work to do."""
    k = F.col("c_custkey")
    lat_e5, lon_e5 = _lat_lon_e5(k)
    name = _brand_name_col(k)
    city = F.concat(F.lit("City"), (k % 50).cast("string"))
    street = F.concat(F.lit("Street "), (k % 30).cast("string"))
    hn = (k % 40 + 1).cast("string")
    csn = F.when(k % 37 == 0, F.concat(k.cast("string"), F.lit("/2")))
    ref = F.when(k % 12 == 9, F.concat(F.lit("MAV"), (k % 97).cast("string")))
    # unique-name landmark (stage-2 cascade tier, poi_base.py:312-338):
    # 1/53 of pages name a "Hall {0..4}" landmark matched by exact
    # lowercased name equality against the POI side
    uname = F.when(k % 53 == 0, F.concat(F.lit("Hall "), (k % 5).cast("string")))

    # Address completeness classes: without them every page stage-4
    # matches (the 600-cycle address collisions always supply a same-brand
    # same-address POI) and the radius tiers (950/970/980/990) never WIN —
    # leaving the cascade's distance semantics unvalidated by the oracle.
    #   k%17==3 → no address at all   (name+radius tiers decide)
    #   k%19==11 → street+hn, no city (tier 950 street∧hn < d_perfect)
    # the leading space lives inside the non-empty branches: a bare
    # "addr: " tail would leave trailing whitespace that the HTML
    # prettify roundtrip strips, breaking byte parity
    addr = (
        F.when(k % 17 == 3, F.lit(""))
        .when(k % 19 == 11, F.concat(F.lit(" "), street, F.lit(" "), hn))
        .otherwise(F.concat(F.lit(" "), city, F.lit(", "), street, F.lit(" "), hn))
    )
    text = F.concat(
        F.lit("POI "),
        name,
        F.lit(" | geo:"),
        lat_e5.cast("string"),
        F.lit(","),
        lon_e5.cast("string"),
        F.lit(" | addr:"),
        addr,
        F.when(csn.isNotNull(), F.concat(F.lit(" hrsz "), csn)).otherwise(F.lit("")),
        F.when(ref.isNotNull(), F.concat(F.lit(" ref "), ref)).otherwise(F.lit("")),
        F.when(uname.isNotNull(), F.concat(F.lit(" uniq "), uname)).otherwise(F.lit("")),
    )
    return (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            k.alias("page_id"),
            F.concat(F.lit("https://cc.example/"), k.cast("string")).alias("url"),
            F.timestamp_seconds(F.lit(1704067200).cast("long") + k % 86400).alias("warc_ts"),
            F.encode(
                F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")), "UTF-8"
            ).alias("html"),
            text.alias("text"),
            F.when(k % 10 < 8, F.lit("hu")).otherwise(F.lit("de")).alias("lang"),
        )
    )


def osm_pois_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM-side candidate table (planet_osm_point/_polygon analogue),
    one POI per part row, jittered per class (module docstring)."""
    a = F.col("p_partkey")
    lat_e5, lon_e5 = _lat_lon_e5(a)
    cls = a % 7
    lat_e5 = lat_e5 + (
        F.when(cls == 1, 8)
        .when(cls == 2, 40)
        .when(cls == 3, 180)
        .when(cls == 4, 400)
        .when(cls == 5, 30)
        .otherwise(0)
    )
    lon_e5 = lon_e5 + F.when(cls == 6, 2000).otherwise(0)

    brand = a % 12
    base_name = _brand_name_col(a)
    name = F.when(cls == 5, F.concat(F.lit("Random Bolt "), a.cast("string"))).otherwise(base_name)
    # avoid-name decoys: some OTP rows are "OTP Travel" (tier-990 exclusion)
    name = F.when((brand == 11) & (a % 3 == 0), F.lit("OTP Travel")).otherwise(name)
    # unique-name landmarks (stage-2 tier): POIs named "Hall {0..4}",
    # matched by exact lowercased equality from the page's uniq token
    name = F.when(a % 41 == 0, F.concat(F.lit("Hall "), (a % 5).cast("string"))).otherwise(name)
    # case variants — the cascade matches names case-insensitively (poi_base.py:193-211)
    name = F.when(a % 29 == 0, F.upper(name)).otherwise(name)

    hn_key = F.when(a % 11 == 0, (a + 1) % 40 + 1).otherwise(a % 40 + 1)
    return (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(
            F.when(a % 3 == 2, -a).otherwise(a).cast("long").alias("osm_id"),
            F.when(a % 3 == 0, F.lit("node"))
            .when(a % 3 == 1, F.lit("way"))
            .otherwise(F.lit("relation"))
            .alias("node_type"),
            name.alias("name"),
            F.when(brand.isin(0, 5), F.lit("convenience"))
            .when(brand.isin(1, 2, 3, 4), F.lit("supermarket"))
            .alias("shop"),
            F.when(brand.isin(6, 7), F.lit("fuel"))
            .when(brand == 8, F.lit("post_office"))
            .when(brand.isin(10, 11), F.lit("bank"))
            .alias("amenity"),
            F.when(brand == 9, F.lit("station")).alias("railway"),
            F.concat(F.lit("City"), (a % 50).cast("string")).alias("addr_city"),
            F.concat(F.lit("Street "), (a % 30).cast("string")).alias("addr_street"),
            hn_key.cast("string").alias("addr_housenumber"),
            F.when(a % 37 == 0, F.concat(a.cast("string"), F.lit("/2"))).alias(
                "addr_conscriptionnumber"
            ),
            # addr:postcode tag: present on 1/4 of POIs, a '0' sentinel on
            # another 1/4 (exercises smart_postcode_check's skip list,
            # online_poi_matching.py:443-448), absent otherwise
            F.when(a % 4 == 0, (F.lit(1000) + a % 25).cast("string"))
            .when(a % 4 == 1, F.lit("0"))
            .alias("addr_postcode"),
            F.when(brand == 9, F.concat(F.lit("MAV"), (a % 97).cast("string"))).alias("ref_value"),
            (lat_e5.cast("double") / 100000.0).alias("lat"),
            (lon_e5.cast("double") / 100000.0).alias("lon"),
        )
    )
