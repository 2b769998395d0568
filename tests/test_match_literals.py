"""Plan-time literals spliced into Spark SQL text must mean exactly what
the Python strings say: brand names, codes and regexes reach the match
cascade as SQL text, and Spark's parser unescapes backslash sequences."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_poi_matchmaker_spark.operators.match import TYPE_PREDICATE_SQL, _prep_pois
from osm_poi_matchmaker_spark.sqltext import sql_string

_POIS_SCHEMA = (
    "osm_id long, node_type string, name string, shop string, amenity string,"
    " railway string, addr_city string, addr_street string,"
    " addr_housenumber string, addr_conscriptionnumber string,"
    " addr_postcode string, ref_value string, lat double, lon double"
)


def test_sql_string_round_trips_through_parser(spark):
    values = [
        "it's", "back\\slash", r"\d+", "\\\\", r"\\d", "'\\'", "tab\there",
        "\\u0041", r"50\% off_\_", "Kőbánya–Kispest ÁRVÍZTŰRŐ 東京", "",
    ]
    row = spark.sql(
        "SELECT " + ", ".join(f"{sql_string(v)} AS c{i}" for i, v in enumerate(values))
    ).collect()[0]
    assert list(row) == values
    assert spark.sql(f"SELECT {sql_string(None)} AS v").collect()[0]["v"] is None


def test_backslash_class_regex_tags_like_column_rlike(spark):
    rx = r"\bspar\s+\d+"
    brand = {"pc_id": 7, "poi_type": "shop", "search_rx": rx, "avoid_rx": r"\d{3}"}
    names = ["Spar 12", "spar  7", "Spar Express", "SPAR\t3", "Interspar 1",
             "spar 123", "Spar d", None]
    pois = spark.createDataFrame(
        [(i, "node", n, "convenience", None, None, None, None, None, None, None,
          None, 47.5, 19.0) for i, n in enumerate(names)],
        _POIS_SCHEMA,
    )
    tagged = {
        r["osm_id"]: (7 in r["cand_brands"], 7 in r["near_brands"])
        for r in _prep_pois(pois, [(7, brand)]).collect()
    }
    name_lc = F.lower(F.col("name"))
    type_ok = F.expr(TYPE_PREDICATE_SQL["shop"])
    expected = {
        r["osm_id"]: (bool(r["cand"]), bool(r["near"]))
        for r in pois.select(
            "osm_id",
            (type_ok & name_lc.rlike(rx)).alias("cand"),
            (type_ok & ~F.coalesce(name_lc.rlike(brand["avoid_rx"]), F.lit(False))).alias("near"),
        ).collect()
    }
    assert tagged == expected
    # the pattern is live, not vacuous: some names match, some do not
    assert {c for c, _ in tagged.values()} == {True, False}
    assert {n for _, n in tagged.values()} == {True, False}
