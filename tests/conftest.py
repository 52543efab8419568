from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from write_optimized_vector_database_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def open_parquet_reader(spark):
    """Opens one Parquet file with the JVM parquet-mr reader, to inspect
    its footer (column chunks, bloom filter offsets) and read its bloom
    filters. The caller closes the reader."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()

    def _open(parquet_file):
        path = jvm.org.apache.hadoop.fs.Path(parquet_file)
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
        return jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)

    return _open
