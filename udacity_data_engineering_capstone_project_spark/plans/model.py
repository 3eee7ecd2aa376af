"""Star-schema model builders: the reference pipeline, re-expressed.

One builder per output table of the reference's ETL (etl.py
``process_*`` functions, SURVEY.md §1/§3.1), taking DataFrames/parsed
dicts in and returning lazy DataFrames out. Differences from the
reference are deliberate modernizations (SURVEY.md §4.3/§7.4/§7.5):

- SAS-date conversion and season classification are built-in column
  expressions, not Python UDFs (functions/dates.py) — no
  BatchEvalPythonExec in any plan.
- ``first()`` aggregations become ``max()`` (deterministic; values are
  constant within group in the demographics source, so semantics are
  unchanged).
- Surrogate keys use ``row_number`` over a deterministic order, not
  ``monotonically_increasing_id`` (stable across recomputes).
- ``median_age`` keeps its real name (the reference enshrines a
  ``maiden_age`` typo, etl.py:195).
- Aggregate aliases are set inside ``agg`` — no 13-way rename chains.
- No dim does work its output does not need: demographics is one
  aggregation, not two joined; ``i94addr ⟕ demographics`` (etl.py:204)
  is not reproduced; nothing is deduped or sorted only to be written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.dates import date_attrs, sas_to_date
from ..sources.readers import from_records, parse_sas_labels

#: Hard-coded visa categories (reference etl.py:232).
VISA_CATEGORIES = [(1, "Business"), (2, "Pleasure"), (3, "Student")]

#: Reference drop list for the fact table (etl.py:103-104, minus its
#: duplicated 'entdepu' entry).
FACT_DROP_COLS = [
    "visapost", "occup", "entdepu", "insnum", "count", "entdepa",
    "entdepd", "matflag", "biryear", "dtaddto", "admnum",
]

#: Demographics CSV header -> model column names (etl.py:148-159).
DEMOGRAPHICS_RENAMES = {
    "City": "city",
    "State": "state",
    "Median Age": "median_age",
    "Male Population": "male_population",
    "Female Population": "female_population",
    "Total Population": "total_population",
    "Number of Veterans": "number_of_veterans",
    "Foreign-born": "foreign_born",
    "Average Household Size": "average_household_size",
    "State Code": "state_code",
    "Race": "race",
    "Count": "count",
}

#: Input schemas (SURVEY.md §1.3), so no read runs a plan-time job. The
#: I94 parquet carries every numeric as double (13 columns; 15 strings).
I94_SCHEMA = (
    "cicid double, i94yr double, i94mon double, i94cit double, i94res double, "
    "i94port string, arrdate double, depdate double, i94mode double, "
    "i94addr string, i94bir double, i94visa double, count double, "
    "dtadfile string, visapost string, occup string, entdepa string, "
    "entdepd string, entdepu string, matflag string, biryear double, "
    "dtaddto string, gender string, insnum string, airline string, "
    "admnum double, fltno string, visatype string"
)
#: The CSVs stay all-string, as the reference read them (etl.py:145,370);
#: the builders cast what they use.
DEMOGRAPHICS_CSV_SCHEMA = ", ".join(f"`{h}` string" for h in DEMOGRAPHICS_RENAMES)
TEMPERATURES_CSV_SCHEMA = (
    "dt string, AverageTemperature string, AverageTemperatureUncertainty string, "
    "City string, Country string, Latitude string, Longitude string"
)

#: Race values counted per city -> their columns (etl.py:182-190;
#: FIXTURES.md §3); other values are not counted.
RACE_COL_NAMES = {
    "American Indian and Alaska Native": "american_indian_and_alaska_native",
    "Asian": "asian",
    "Black or African-American": "black_or_african_american",
    "Hispanic or Latino": "hispanic_or_latino",
    "White": "white",
}


def build_visa_dim(spark: SparkSession) -> DataFrame:
    """dim_I94visa (etl.py:225-249): 3-row lookup from the hard-coded
    category list, explicit schema (no ``_1``/``_2`` rename dance)."""
    return from_records(spark, VISA_CATEGORIES, "id int, type string")


def build_mode_dim(spark: SparkSession, labels_text: str) -> DataFrame:
    """dim_I94mode (etl.py:252-276): parsed from the SAS label file's
    ``i94model`` block (Air/Sea/Land/Not reported)."""
    pairs = [(int(k), v) for k, v in parse_sas_labels(labels_text, "i94model").items()]
    return from_records(spark, pairs, "id int, mode string")


def build_port_dim(spark: SparkSession, labels_text: str) -> DataFrame:
    """dim_I94port (etl.py:330-359): ``i94prtl`` labels are
    ``"PORT NAME, ST"`` — split on the last comma into port + state
    code, trim both, dropna (the parsed codes are unique and stripped)."""
    pairs = list(parse_sas_labels(labels_text, "i94prtl").items())
    df = from_records(spark, pairs, "code string, label string")
    port_split = F.split(F.col("label"), ", ")
    return df.select(
        "code",
        F.trim(port_split.getItem(0)).alias("port"),
        F.trim(F.element_at(port_split, -1)).alias("state_code"),
    ).dropna()


def build_country_codes(spark: SparkSession, labels_text: str) -> DataFrame:
    """Country-code lookup (etl.py:279-306): ``i94cntyl`` block, with
    the reference's cleansing — drop labels containing
    'country'/'invalid'/'not show' (case-insensitive) and repair code
    582 to 'MEXICO' (etl.py:299-300). Pairs that the int cast makes
    equal ("01", "1") are deduped on the driver."""
    labels = parse_sas_labels(labels_text, "i94cntyl").items()
    pairs = list(dict.fromkeys((int(k), v) for k, v in labels))
    df = from_records(spark, pairs, "code int, country string")
    lc = F.lower(F.col("country"))
    return (
        df.filter(
            ~lc.contains("country") & ~lc.contains("invalid") & ~lc.contains("not show")
        )
        .withColumn(
            "country",
            F.when(F.col("code") == 582, "MEXICO").otherwise(F.col("country")),
        )
        .dropna()
    )


def build_country_dim(
    country_codes: DataFrame, temperatures: DataFrame
) -> DataFrame:
    """dim_Country (etl.py:362-406): per-country average temperature
    joined (left) onto the code lookup; country names uppercased on
    both sides for the join key. ``first(Latitude)`` becomes ``max``
    (deterministic)."""
    temps = (
        temperatures.withColumn("country_u", F.upper(F.col("Country")))
        .groupBy("country_u")
        .agg(
            F.round(F.avg(F.col("AverageTemperature").cast("double")), 2).alias(
                "average_temperature"
            ),
            F.max("Latitude").alias("latitude"),
            F.max("Longitude").alias("longitude"),
        )
    )
    return (
        country_codes.withColumn("country_u", F.upper(F.col("country")))
        .join(F.broadcast(temps), "country_u", "left")
        .drop("country_u")
    )


def build_demographics_dim(demographics: DataFrame) -> DataFrame:
    """dim_Demographics (etl.py:138-222): rename CSV headers, cast
    numerics, drop rows without state or city (the reference's inner
    join drops them) and collapse to one row per (state, city) in one
    aggregation: ``max`` of the per-city-constant columns instead of
    nondeterministic ``first``, and per race the sum of its counts (0
    if none) in place of the pivot joined back. A ``row_number``
    surrogate key is stable, unlike ``monotonically_increasing_id``
    (SURVEY.md §7.4). The reference's state lookup keeps states with no
    city (SURVEY.md J2); joined onto the cities it adds nothing."""
    df = demographics.withColumnsRenamed(DEMOGRAPHICS_RENAMES).dropna(
        subset=["state", "city"]
    )
    df = df.withColumns(
        {
            "median_age": F.col("median_age").cast("double"),
            "average_household_size": F.col("average_household_size").cast("double"),
            "male_population": F.col("male_population").cast("int"),
            "female_population": F.col("female_population").cast("int"),
            "total_population": F.col("total_population").cast("int"),
            "number_of_veterans": F.col("number_of_veterans").cast("int"),
            "foreign_born": F.col("foreign_born").cast("int"),
            "count": F.col("count").cast("int"),
        }
    )
    races = [
        F.sum(F.when(F.col("race") == race, F.col("count"))).alias(name)
        for race, name in RACE_COL_NAMES.items()
    ]
    cities = (
        df.groupBy("state", "city")
        .agg(
            F.max("state_code").alias("state_code"),
            F.max("median_age").alias("median_age"),
            F.max("male_population").alias("male_population"),
            F.max("female_population").alias("female_population"),
            F.max("total_population").alias("total_population"),
            F.max("number_of_veterans").alias("number_of_veterans"),
            F.max("foreign_born").alias("foreign_born"),
            F.max("average_household_size").alias("average_household_size"),
            *races,
        )
        .na.fill(0, list(RACE_COL_NAMES.values()))
    )
    w = Window.orderBy("state_code", "city")
    return cities.select(
        "state_code",
        *(c for c in cities.columns if c != "state_code"),
        F.row_number().over(w).cast("long").alias("id"),
    )


def build_fact(i94: DataFrame) -> DataFrame:
    """fact_I94 (etl.py:95-135): drop unused columns, require
    airline/gender/i94addr non-null, drop all-null rows, derive
    ``stay`` = depdate - arrdate in days (pure SAS-day arithmetic — the
    reference round-trips through a string UDF + to_date + datediff;
    the difference of day offsets is the same integer), cast the double
    columns to int."""
    df = (
        i94.drop(*FACT_DROP_COLS)
        .na.drop(subset=["airline", "gender", "i94addr"])
        .dropna(how="all")
    )
    df = df.withColumn(
        "stay", (F.col("depdate") - F.col("arrdate")).cast("int")
    )
    int_cols = [
        "cicid", "i94yr", "i94mon", "i94cit", "i94res",
        "arrdate", "depdate", "i94mode", "i94bir", "i94visa",
    ]
    return df.withColumns({c: F.col(c).cast("int") for c in int_cols})


def build_date_dim(fact: DataFrame) -> DataFrame:
    """dim_Date (etl.py:409-453): the date domain is the positional
    UNION DISTINCT of arrival and departure SAS dates (etl.py:417-419 —
    positional on purpose, SURVEY.md §7.4), expanded to ISO date +
    calendar attributes. ``dayofweek`` is 1=Sunday and weekend={1,7},
    matching the reference exactly."""
    dates = (
        fact.select("arrdate").union(fact.select("depdate")).distinct().dropna()
    )
    df = dates.select(
        F.col("arrdate").cast("int").alias("sasdate"),
        sas_to_date(F.col("arrdate")).alias("isodate"),
    )
    return date_attrs(df, "isodate")


def build_airport_dim(airports: DataFrame) -> DataFrame:
    """Airport dimension (notebook cell 68 at ipynb:1466; saved at cell
    77 but deliberately not joined into the model, ipynb:390 cell 17).

    Drops the mostly-null ``iata_code``, splits ``iso_region`` on "-"
    into (country, state) and ``coordinates`` on ", " into (latitude,
    longitude) — reference column naming kept, including its
    lat/long-vs-lon-lat ambiguity — then casts elevation to int and
    the coordinates to double. Dedup + drop all-null rows mirror the
    reference's cleaning discipline on the other dims.
    """
    return (
        airports.drop("iata_code")
        .withColumn("country", F.split(F.col("iso_region"), "-").getItem(0))
        .withColumn("state", F.split(F.col("iso_region"), "-").getItem(1))
        .drop("iso_country", "iso_region")
        .withColumn(
            "latitude", F.split(F.col("coordinates"), ", ").getItem(0).cast("double")
        )
        .withColumn(
            "longitude", F.split(F.col("coordinates"), ", ").getItem(1).cast("double")
        )
        .drop("coordinates")
        .withColumn("elevation_ft", F.col("elevation_ft").cast("int"))
        .dropDuplicates()
        .dropna(how="all")
    )


def build_star_query(
    fact: DataFrame,
    date_dim: DataFrame,
    country_dim: DataFrame,
    visa_dim: DataFrame,
    mode_dim: DataFrame,
    port_dim: DataFrame,
) -> DataFrame:
    """Q-STAR (ipynb cell 82): denormalize the fact back to
    human-readable — inner join the date dim on arrival date, left join
    the four lookups. All dims broadcast; at 100 TB the fact side never
    shuffles for this query. Row count must equal the fact row count
    (completeness check, ipynb cell 83)."""
    from ..operators.joins import star_join

    return star_join(
        fact,
        [
            (date_dim, fact["arrdate"] == date_dim["sasdate"], "inner"),
            (country_dim, fact["i94cit"] == country_dim["code"], "left"),
            (visa_dim, fact["i94visa"] == visa_dim["id"], "left"),
            (mode_dim, fact["i94mode"] == mode_dim["id"], "left"),
            (port_dim, fact["i94port"] == port_dim["code"], "left"),
        ],
    )

