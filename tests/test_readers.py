"""Reader normalization: whatever precision/zone flavor the parquet files
carry (ns-as-long legacy, us NTZ, us LTZ), ``read_parquet_table`` must hand
downstream operators LTZ ``timestamp`` columns — the round-3 testdata
regeneration switched events.ts from ns to us-NTZ and broke every
``unix_micros`` consumer until the reader normalized it.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.sources.readers import read_parquet_table


@pytest.fixture(scope="module")
def ts_rows():
    return [
        datetime.datetime(2024, 1, 1, 12, 0, 0),
        datetime.datetime(2024, 1, 1, 12, 30, 0),
    ]


def _write(tmpdir, arrow_type, rows):
    path = str(tmpdir / "t.parquet")
    tbl = pa.table({"ts": pa.array(rows, type=arrow_type), "v": [1, 2]})
    pq.write_table(tbl, path)
    return path


def test_ntz_micros_file_normalizes_to_ltz(spark, tmp_path, ts_rows):
    path = _write(tmp_path, pa.timestamp("us"), ts_rows)
    df = read_parquet_table(spark, path)
    assert dict(df.dtypes)["ts"] == "timestamp"
    # UTC session: the NTZ wall clock IS the instant
    got = df.select(F.unix_micros("ts").alias("u")).orderBy("u").collect()
    assert got[0]["u"] == int(ts_rows[0].replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)


def test_utc_micros_file_stays_ltz(spark, tmp_path, ts_rows):
    path = _write(tmp_path, pa.timestamp("us", tz="UTC"), ts_rows)
    df = read_parquet_table(spark, path)
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_unix_micros_consumers_work_on_current_testdata(spark):
    # the actual driver-facing contract: events.ts supports unix_micros
    df = read_parquet_table(spark, "/root/testdata/sf0.001/events.parquet")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.select(F.unix_micros("ts")).first()[0] is not None


def test_merge_schema_evolution_read(spark, tmp_path):
    """Schema evolution across file generations: v2 files add a column;
    mergeSchema unifies, v1 rows get NULLs, and the enforced reader's
    declared-schema path serves the superset schema."""
    from pyspark.sql import types as T

    from noaa_ais_glue_lakehouse_spark.sources.readers import read_parquet_enforced

    base = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(base)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(base)

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}

    declared = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("added_later", T.IntegerType()),  # not in any file
        ]
    )
    out = read_parquet_enforced(spark, base, declared)
    assert [f.name for f in out.schema.fields] == ["id", "v", "score", "added_later"]
    got = {r["id"]: (r["score"], r["added_later"]) for r in out.collect()}
    assert got == {1: (None, None), 2: (9.5, None)}


def test_enforced_read_raises_on_type_drift_cast_to_schema_absorbs_it(spark, tmp_path):
    """An INT64 ``mmsi`` file read against an IntegerType declaration:
    the enforced read analyzes without complaint (no footer is opened)
    and raises when it executes; cast-by-name over an inferred read is
    the drift-tolerant form."""
    from pyspark.sql import types as T

    from noaa_ais_glue_lakehouse_spark.sources.readers import (
        cast_to_schema,
        read_parquet_enforced,
    )

    path = str(tmp_path / "drift")
    spark.createDataFrame([(366000001,)], "mmsi long").write.parquet(path)
    declared = T.StructType([T.StructField("mmsi", T.IntegerType())])

    enforced = read_parquet_enforced(spark, path, declared)
    assert enforced.schema == declared
    # a Py4JJavaError carrying the Spark error class
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        enforced.collect()

    tolerant = cast_to_schema(spark.read.parquet(path), declared)
    assert tolerant.schema == declared
    assert [r["mmsi"] for r in tolerant.collect()] == [366000001]
