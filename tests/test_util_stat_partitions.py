"""util.stat_partitions: footer row counts from input-file URIs, with
only successful footer reads memoized."""

from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

from hustle_spark import util


def fake(files, par=8):
    """Stand-ins for the two objects stat_partitions touches: a frame
    exposing inputFiles() and a session exposing defaultParallelism."""
    df = SimpleNamespace(inputFiles=lambda: list(files))
    spark = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=par))
    return df, spark


def write_rows(path, n):
    pq.write_table(pa.table({"x": list(range(n))}), path)


def test_stat_partitions_reads_every_file_uri_spelling(tmp_path):
    d = tmp_path / "with space"
    d.mkdir()
    f = d / "part-0.parquet"
    write_rows(f, 2000)
    escaped = str(f).replace(" ", "%20")
    for uri in (f"file://{escaped}", f"file:{escaped}", str(f)):
        df, spark = fake([uri])
        # ceil(2000 / 512) = 4 tasks, below the 8-core clamp
        assert util.stat_partitions(df, spark, rows_per_task=512) == 4, uri


def test_stat_partitions_does_not_memoize_failed_reads(tmp_path):
    f = tmp_path / "late.parquet"
    df, spark = fake([f"file://{f}"])
    # footer unreadable (file absent): fall back to full parallelism
    assert util.stat_partitions(df, spark, rows_per_task=512) == 8
    write_rows(f, 1000)
    # the failure was not cached: the next call reads the footer
    assert util.stat_partitions(df, spark, rows_per_task=512) == 2
