"""Star-schema model builders replayed on reference-shaped fixtures
(FIXTURES.md): the semantics the reference's own quality checks and
golden outputs pin down (SURVEY.md §5/§6)."""

import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.plans import model
from udacity_data_engineering_capstone_project_spark.plans.quality import (
    nonempty_check,
    predicate_absent_check,
    quality_suite,
    unique_key_check,
)

LABELS = """
value i94cntyl
   236 = 'AFGHANISTAN'
   101 = 'ALBANIA'
   582 = 'MEXICO Air Sea, and Not Reported (I-94, no land arrivals)'
   998 = 'INVALID: STATELESS'
   999 = 'No Country Code'
   997 = 'did not show respect'
;
value i94prtl
   'ALC' = 'ALCAN, AK'
   'ANC' = 'ANCHORAGE, AK'
   'NYC' = 'NEW YORK, NY'
;
value i94model
   1 = 'Air'
   2 = 'Sea'
   3 = 'Land'
   9 = 'Not reported'
;
value i94addrl
   'AL' = 'ALABAMA'
   'AK' = 'ALASKA'
   'NY' = 'NEW YORK'
   'XX' = 'UNKNOWN'
;
"""


@pytest.fixture(scope="module")
def dims(spark):
    return {
        "visa": model.build_visa_dim(spark),
        "mode": model.build_mode_dim(spark, LABELS),
        "port": model.build_port_dim(spark, LABELS),
        "codes": model.build_country_codes(spark, LABELS),
    }


def test_visa_mode_dims(dims):
    assert {(r.id, r.type) for r in dims["visa"].collect()} == {
        (1, "Business"), (2, "Pleasure"), (3, "Student"),
    }
    modes = {r.id: r.mode for r in dims["mode"].collect()}
    assert modes == {1: "Air", 2: "Sea", 3: "Land", 9: "Not reported"}


def test_port_dim_splits_state(dims):
    rows = {r.code: (r.port, r.state_code) for r in dims["port"].collect()}
    assert rows["ALC"] == ("ALCAN", "AK")
    assert rows["NYC"] == ("NEW YORK", "NY")


def test_country_cleansing_and_mexico_repair(dims):
    # etl.py:293-300: drop 'country'/'invalid'/'not show' labels, fix 582
    rows = {r.code: r.country for r in dims["codes"].collect()}
    assert 998 not in rows and 999 not in rows and 997 not in rows
    assert rows[582] == "MEXICO"
    assert rows[236] == "AFGHANISTAN"


def test_country_dim_left_join_keeps_unmatched(spark, dims):
    temps = spark.createDataFrame(
        [
            ("2000-01-01", "10.0", "0.1", "Kabul", "Afghanistan", "34.5N", "69.2E"),
            ("2000-02-01", "14.0", "0.1", "Kabul", "Afghanistan", "34.5N", "69.2E"),
            ("2000-01-01", "20.0", "0.1", "Tirana", "albania", "41.3N", "19.8E"),
        ],
        "dt string, AverageTemperature string, AverageTemperatureUncertainty string, "
        "City string, Country string, Latitude string, Longitude string",
    )
    dim = model.build_country_dim(dims["codes"], temps)
    rows = {r.code: r for r in dim.collect()}
    assert rows[236].average_temperature == 12.0  # mean of 10 and 14
    assert rows[101].average_temperature == 20.0  # case-insensitive join (upper)
    assert rows[582].average_temperature is None  # left join keeps mexico


def test_demographics_pivot_and_surrogate(spark):
    header = (
        "City string, State string, `Median Age` string, `Male Population` string, "
        "`Female Population` string, `Total Population` string, "
        "`Number of Veterans` string, `Foreign-born` string, "
        "`Average Household Size` string, `State Code` string, Race string, Count string"
    )
    demo = spark.createDataFrame(
        [
            ("Anchorage", "Alaska", "32.5", "150", "140", "290", "20", "30", "2.5", "AK", "White", "200"),
            ("Anchorage", "Alaska", "32.5", "150", "140", "290", "20", "30", "2.5", "AK", "Asian", "50"),
            ("New York", "New York", "36.0", "400", "420", "820", "40", "300", "2.2", "NY", "White", "500"),
            # no city: dropped, as the reference's inner join drops it
            (None, "Alaska", "30.0", "10", "10", "20", "1", "2", "2.0", "AK", "White", "7"),
            # a race with no column: ignored
            ("Anchorage", "Alaska", "32.5", "150", "140", "290", "20", "30", "2.5", "AK", "Other", "9"),
        ],
        header,
    )
    dim = model.build_demographics_dim(demo)
    rows = {(r.state_code, r.city): r for r in dim.collect()}
    assert set(rows) == {("AK", "Anchorage"), ("NY", "New York")}
    anc = rows[("AK", "Anchorage")]
    assert anc.white == 200 and anc.asian == 50
    assert anc.black_or_african_american == 0  # fill(0) for missing race
    assert anc.american_indian_and_alaska_native == anc.hispanic_or_latino == 0
    assert anc.median_age == 32.5 and anc.total_population == 290
    ids = [r.id for r in dim.collect()]
    assert len(ids) == len(set(ids))  # surrogate key unique
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in dim.schema] == [
        ("state_code", "string", True),
        ("state", "string", True),
        ("city", "string", True),
        ("median_age", "double", True),
        ("male_population", "int", True),
        ("female_population", "int", True),
        ("total_population", "int", True),
        ("number_of_veterans", "int", True),
        ("foreign_born", "int", True),
        ("average_household_size", "double", True),
        ("american_indian_and_alaska_native", "bigint", True),
        ("asian", "bigint", True),
        ("black_or_african_american", "bigint", True),
        ("hispanic_or_latino", "bigint", True),
        ("white", "bigint", True),
        ("id", "bigint", False),
    ]


@pytest.fixture(scope="module")
def fact(spark):
    # FIXTURES.md §1 shape, minimal columns the builder touches
    cols = (
        "cicid double, i94yr double, i94mon double, i94cit double, i94res double, "
        "i94port string, arrdate double, depdate double, i94mode double, "
        "i94addr string, i94bir double, i94visa double, count double, "
        "dtadfile string, visapost string, occup string, entdepa string, "
        "entdepd string, entdepu string, matflag string, biryear double, "
        "dtaddto string, gender string, insnum string, airline string, "
        "admnum double, fltno string, visatype string"
    )
    rows = [
        (1.0, 2016.0, 4.0, 236.0, 236.0, "ANC", 20574.0, 20582.0, 1.0, "AK",
         30.0, 2.0, 1.0, "20160430", None, None, "G", "O", None, "M", 1986.0,
         "10292016", "M", None, "UA", 1.0, "UA100", "B2"),
        (2.0, 2016.0, 4.0, 101.0, 101.0, "NYC", 20560.0, 20660.0, 1.0, "NY",
         40.0, 1.0, 1.0, "20160416", None, None, "G", "O", None, "M", 1976.0,
         "10152016", "F", None, "DL", 2.0, "DL200", "B1"),
        # null gender -> dropped by na.drop(subset) (etl.py:105)
        (3.0, 2016.0, 4.0, 148.0, 148.0, "ALC", 20545.0, None, 3.0, "AL",
         25.0, 2.0, 1.0, "20160401", None, None, "G", None, None, None, 1991.0,
         None, None, None, "AA", 3.0, "AA300", "B2"),
    ]
    return spark.createDataFrame(rows, cols)


def test_fact_cleaning_and_stay(fact):
    out = model.build_fact(fact)
    rows = {r.cicid: r for r in out.collect()}
    assert set(rows) == {1, 2}  # null-gender row dropped
    assert rows[1].stay == 8  # 20582 - 20574 (ipynb cell 25: dep-arr days)
    assert rows[1].arrdate == 20574 and isinstance(rows[1].arrdate, int)
    assert "count" not in out.columns and "admnum" not in out.columns


def test_date_dim_attributes(fact):
    out = model.build_date_dim(model.build_fact(fact))
    rows = {r.sasdate: r for r in out.collect()}
    # domain = union of arrdate and depdate values of surviving rows
    assert set(rows) == {20574, 20582, 20560, 20660}
    d = rows[20574]  # 2016-04-30, a Saturday
    assert str(d.isodate) == "2016-04-30"
    assert d.year == 2016 and d.month == 4 and d.day == 30
    assert d.dayofweek == 7 and d.isweekend == 1
    assert d.season == "Spring"


def test_star_join_completeness(spark, fact, dims):
    # Q-STAR (ipynb cell 83): star join row count == fact row count
    f = model.build_fact(fact)
    date_dim = model.build_date_dim(f)
    temps = spark.createDataFrame(
        [("2000-01-01", "10.0", "0.1", "Kabul", "Afghanistan", "34.5N", "69.2E")],
        "dt string, AverageTemperature string, AverageTemperatureUncertainty string, "
        "City string, Country string, Latitude string, Longitude string",
    )
    country = model.build_country_dim(dims["codes"], temps)
    starred = model.build_star_query(
        f, date_dim, country, dims["visa"], dims["mode"], dims["port"]
    )
    assert starred.count() == f.count()


def test_quality_suite_on_model(fact, dims):
    f = model.build_fact(fact)
    report = quality_suite(
        [
            nonempty_check(f, "fact_nonempty"),
            unique_key_check(f, ["cicid"], "fact_pk"),
            unique_key_check(dims["port"], ["code"], "port_pk"),
            predicate_absent_check(
                dims["codes"],
                F.lower(F.col("country")).contains("invalid"),
                "cleansing_persisted",
            ),
        ]
    )
    assert all(r.passed == 1 for r in report.collect())


def test_build_airport_dim(spark):
    from udacity_data_engineering_capstone_project_spark.plans.model import (
        build_airport_dim,
    )

    rows = [
        ("00A", "heliport", "Total Rf Heliport", "11", "NA", "US", "US-PA",
         "Bensalem", "00A", None, "00A", "-74.93, 40.07"),
        ("00A", "heliport", "Total Rf Heliport", "11", "NA", "US", "US-PA",
         "Bensalem", "00A", None, "00A", "-74.93, 40.07"),  # dup row
        ("EGLL", "large_airport", "Heathrow", "83", "EU", "GB", "GB-ENG",
         "London", "EGLL", "LHR", "LHR", "-0.4614, 51.4775"),
    ]
    cols = ("ident string, type string, name string, elevation_ft string, "
            "continent string, iso_country string, iso_region string, "
            "municipality string, gps_code string, iata_code string, "
            "local_code string, coordinates string")
    out = build_airport_dim(spark.createDataFrame(rows, cols))
    assert out.count() == 2  # full-row dedup
    assert "iata_code" not in out.columns and "coordinates" not in out.columns
    r = {x.ident: x for x in out.collect()}
    assert r["00A"].country == "US" and r["00A"].state == "PA"
    assert abs(r["EGLL"].latitude - (-0.4614)) < 1e-9
    assert r["EGLL"].elevation_ft == 83
    assert dict(out.dtypes)["latitude"] == "double"
