"""Sources: SAS label parsing, CSV/in-memory readers, write layouts."""

from udacity_data_engineering_capstone_project_spark.sources.readers import (
    from_records,
    parse_sas_labels,
    read_csv,
    read_table,
)

LABELS = """
value i94model
   1 = 'Air'
   2 = 'Sea'
;
value i94prtl
   'ALC'\t=\t'ALCAN, AK'
;
"""


def test_parse_sas_labels_blocks():
    assert parse_sas_labels(LABELS, "i94model") == {"1": "Air", "2": "Sea"}
    assert parse_sas_labels(LABELS, "i94prtl") == {"ALC": "ALCAN, AK"}
    assert parse_sas_labels(LABELS, "missing") == {}


def test_from_records_schema(spark):
    df = from_records(spark, [(1, "a")], "id int, name string")
    assert df.columns == ["id", "name"]
    assert df.schema["id"].dataType.simpleString() == "int"


def test_read_csv_with_schema(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a;b\n1;x\n2;y\n")
    df = read_csv(spark, str(p), schema="a int, b string", sep=";")
    assert {(r.a, r.b) for r in df.collect()} == {(1, "x"), (2, "y")}


def test_events_read_converts_nanos(spark, sf_dir):
    df = read_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert df.count() == 1000


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.sources.writers import (
        write_bucketed,
    )

    a = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
        "va", F.col("k") * 2
    )
    b = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
        "vb", F.col("k") * 3
    )
    write_bucketed(a, "bkt_a", "k", n_buckets=4, sort_by="k")
    write_bucketed(b, "bkt_b", "k", n_buckets=4, sort_by="k")
    try:
        # disable broadcast so the co-location (not a broadcast) is tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucketing replaced the shuffle
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_salted_join_equals_plain_join(spark):
    from udacity_data_engineering_capstone_project_spark.operators.joins import (
        salted_join,
    )

    # skewed left: one hot key
    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 0), (3, 1)], "k int, v int"
    )
    right = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "k int, name string")
    got = salted_join(left, right, "k")
    want = left.join(right, "k")
    assert got.count() == want.count() == 501  # 500 hot k=1 rows + k=2
    assert sorted((r.k, r.v, r.name) for r in got.collect()) == sorted(
        (r.k, r.v, r.name) for r in want.collect()
    )


def test_zorder_value_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.sources.writers import (
        zorder_value,
    )

    df = spark.createDataFrame([(0b101, 0b011)], "a int, b int").select(
        zorder_value(F.col("a"), F.col("b"), bits=3).alias("z")
    )
    # a bits -> even positions (1,0,1), b bits -> odd (0,1,1):
    # z = b2 a2 b1 a1 b0 a0 = 0 1 1 0 1 1 = 0b011011
    assert df.collect()[0].z == 0b011011


def test_zordered_write_skips_on_both_dims(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.sources.readers import (
        read_table,
    )
    from udacity_data_engineering_capstone_project_spark.sources.writers import (
        write_zordered,
    )

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey"
    )
    # normalize both dims into [0, 1024) — z-order interleaves raw
    # bits, so comparable scales are the caller's contract
    b = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_orderkey"), F.max("l_orderkey"),
    ).collect()[0]
    pk0, pk1, ok0, ok1 = b
    scaled = li.select(
        ((F.col("l_partkey") - pk0) * 1023 / (pk1 - pk0))
        .cast("int")
        .alias("pk_n"),
        ((F.col("l_orderkey") - ok0) * 1023 / (ok1 - ok0))
        .cast("int")
        .alias("ok_n"),
    )
    path = str(tmp_path / "li_z")
    write_zordered(scaled, path, "pk_n", "ok_n", n_files=8, bits=10)

    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("pk_n") - F.min("pk_n")).alias("pk_span"),
            (F.max("ok_n") - F.min("ok_n")).alias("ok_span"),
        )
        .collect()
    )
    assert len(per_file) >= 4
    # z-clustering: the AVERAGE file is narrow on BOTH dimensions —
    # a single-column sort would leave the other dim at ~full (1023)
    avg_pk = sum(r.pk_span for r in per_file) / len(per_file)
    avg_ok = sum(r.ok_span for r in per_file) / len(per_file)
    assert avg_pk < 0.7 * 1023
    assert avg_ok < 0.7 * 1023


def test_jsonl_malformed_rows_quarantined_not_fatal(spark, tmp_path):
    """Dirty-ingest discipline: malformed JSON lines must land in
    _corrupt_record (PERMISSIVE) for quarantine instead of killing a
    100 TB job; clean rows parse normally alongside them."""
    from pyspark.sql import functions as F

    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        "{not json at all}\n"
        '{"id": 2, "v": "b"}\n'
        '{"id": "not-an-int", "v": "c"}\n'
    )
    df = (
        spark.read.schema("id long, v string, _corrupt_record string")
        .json(str(p))
        .cache()
    )  # cache: corrupt-record queries need the full row context
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert {(r.id, r.v) for r in good.collect()} == {(1, "a"), (2, "b")}
    assert bad.count() == 2  # syntax error + type mismatch both quarantined
    df.unpersist()


def test_csv_dropmalformed_mode(spark, tmp_path):
    p = tmp_path / "dirty.csv"
    p.write_text("id,v\n1,a\nnot-an-int,b\n2,c\n")
    strict = (
        spark.read.option("header", "true")
        .option("mode", "DROPMALFORMED")
        .schema("id int, v string")
        .csv(str(p))
    )
    assert {(r.id, r.v) for r in strict.collect()} == {(1, "a"), (2, "c")}


def test_hashrange_pyds_partitions_and_values(spark):
    """Custom Python DataSource contract: all n rows arrive across the
    requested partitions, i is a complete range, and h matches the
    local md5 recipe for spot rows."""
    from udacity_data_engineering_capstone_project_spark.sources.pyds import (
        _hash14,
        register_hashrange,
    )

    register_hashrange(spark)
    df = (
        spark.read.format("hashrange")
        .option("n", 257)
        .option("parts", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = {r.i: r.h for r in df.collect()}
    assert sorted(rows) == list(range(257))
    for i in (0, 1, 100, 256):
        assert rows[i] == _hash14(i)
