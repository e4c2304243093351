"""S3 bulk-insert parity: every decoder and hook path of insert()."""

import json
from contextlib import contextmanager

from pyspark.sql import functions as F

import hustle_spark as h


def make_table(cat):
    return cat.create(
        "ev", ["index string date", "index uint32 n", "string tag"], partition="date"
    )


def test_insert_csv_decoder(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    make_table(cat)
    csv = tmp_path / "in.csv"
    csv.write_text("date,n,tag\n2014-01-20,1,a\n2014-01-20,2,b\n2014-01-21,3,c\n")
    assert h.insert(cat, "ev", phile=str(csv), decoder="csv") == 3
    t = cat.table("ev")
    assert t.df.count() == 3
    assert cat.partitions("ev") == ["2014-01-20", "2014-01-21"]


def test_insert_streams_dataframe(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    make_table(cat)
    src = spark.createDataFrame(
        # extra column must be dropped, string n must coerce to long
        [("2014-01-20", "7", "x", "JUNK")], "date string, n string, tag string, junk string"
    )
    assert h.insert(cat, "ev", streams=src) == 1
    row = cat.table("ev").df.collect()[0]
    assert row.n == 7 and row.tag == "x"
    assert "junk" not in cat.table("ev").columns


def test_insert_preprocess_hook(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    make_table(cat)
    src = tmp_path / "in.json"
    rows = [{"date": "2014-01-20", "n": i, "tag": "raw"} for i in range(4)]
    src.write_text("\n".join(json.dumps(r) for r in rows))

    def preprocess(df):
        # the reference's per-row hook, expressed as a distributed transform
        return df.withColumn("tag", F.upper("tag")).filter(F.col("n") % 2 == 0)

    assert h.insert(cat, "ev", phile=str(src), preprocess=preprocess) == 2
    got = sorted((r.n, r.tag) for r in cat.table("ev").df.collect())
    assert got == [(0, "RAW"), (2, "RAW")]


def test_insert_requires_source(spark, tmp_path):
    import pytest

    cat = h.connect(spark, tmp_path)
    make_table(cat)
    with pytest.raises(ValueError, match="phile= or streams="):
        h.insert(cat, "ev")


def test_external_connectors_gate_cleanly(spark):
    import pytest
    from pyspark.sql import types as T

    from hustle_spark.sources.external import (
        ConnectorUnavailable,
        connector_status,
        read_avro,
        read_kafka_events,
        write_delta,
    )

    status = connector_status(spark)
    assert set(status) == {"kafka", "delta", "iceberg", "avro"}
    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    if not status["kafka"]:
        with pytest.raises(ConnectorUnavailable, match="Kafka"):
            read_kafka_events(spark, "localhost:9092", "events", schema)
    if not status["delta"]:
        with pytest.raises(ConnectorUnavailable, match="Delta"):
            write_delta(spark.range(1), "/root/repo/.scratch/never_written")
    if not status["avro"]:
        with pytest.raises(ConnectorUnavailable, match="Avro"):
            read_avro(spark, "/root/repo/.scratch/never_read")


def test_compact_merges_small_files(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    cat.create("logs", ["index uint32 n", "string tag"])
    for i in range(6):
        cat.append("logs", spark.createDataFrame([(i, f"t{i}")], "n long, tag string"))
    files_before = list((tmp_path / "logs").rglob("*.parquet"))
    assert len(files_before) >= 6
    before = sorted((r.n, r.tag) for r in cat.table("logs").df.collect())

    n_after = cat.compact("logs", target_file_mb=128)
    assert n_after < len(files_before)
    files_after = list((tmp_path / "logs").rglob("*.parquet"))
    assert len(files_after) == n_after
    # data identical, schema sidecar preserved, table still declared
    assert sorted((r.n, r.tag) for r in cat.table("logs").df.collect()) == before
    assert cat.schema("logs")  # sidecar survived the swap


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    cat.create("ev2", ["index string date", "uint32 n"], partition="date")
    for i in range(4):
        cat.append(
            "ev2",
            spark.createDataFrame(
                [(f"2014-01-2{i % 2}", i)], "date string, n long"
            ),
        )
    before = sorted((r.date, r.n) for r in cat.table("ev2").df.collect())
    cat.compact("ev2", target_file_mb=128)
    # hive layout kept: partition dirs still present, values intact
    assert cat.partitions("ev2") == ["2014-01-20", "2014-01-21"]
    assert sorted((r.date, r.n) for r in cat.table("ev2").df.collect()) == before


def test_insert_streams_missing_partition_column_fails(spark, tmp_path):
    import pytest

    cat = h.connect(spark, tmp_path)
    make_table(cat)
    src = spark.createDataFrame([(1, "x")], "n long, tag string")  # no date
    with pytest.raises(ValueError, match="partition column"):
        h.insert(cat, "ev", streams=src)


def test_compact_crash_recovery_restores_trash(spark, tmp_path):
    """A crash between compact()'s two swap renames leaves the table dir
    missing with data in _<name>.trash.*; the orphan sweep restores it
    on next resolution (ADVICE r2)."""
    cat = h.connect(spark, tmp_path)
    cat.create("logs3", ["uint32 n"])
    cat.append("logs3", spark.createDataFrame([(1,), (2,)], "n long"))
    before = sorted(r.n for r in cat.table("logs3").df.collect())
    # simulate the mid-swap crash state
    (tmp_path / "logs3").rename(tmp_path / "_logs3.trash.deadbeef")
    (tmp_path / "_logs3.compact.cafef00d").mkdir()  # dead staging dir
    cat2 = h.connect(spark, tmp_path)
    assert sorted(r.n for r in cat2.table("logs3").df.collect()) == before
    assert not list(tmp_path.glob("_logs3.trash.*"))
    assert not list(tmp_path.glob("_logs3.compact.*"))


def test_connect_sweeps_stale_trash_next_to_live_table(spark, tmp_path):
    """A crash AFTER staging.rename(path) but BEFORE rmtree(trash)
    leaves the table dir PRESENT plus a stale _<name>.trash.* sibling —
    invisible to tables(), holding disk equal to the table. connect()
    must reclaim it without touching the live table (ADVICE r3)."""
    cat = h.connect(spark, tmp_path)
    cat.create("logs5", ["uint32 n"])
    cat.append("logs5", spark.createDataFrame([(7,)], "n long"))
    # simulate the post-swap crash state: live dir + stale trash/staging
    stale_t = tmp_path / "_logs5.trash.0badc0de"
    stale_t.mkdir()
    (stale_t / "junk.parquet").write_bytes(b"x" * 128)
    (tmp_path / "_logs5.compact.feedbeef").mkdir()
    cat2 = h.connect(spark, tmp_path)
    assert not list(tmp_path.glob("_logs5.trash.*"))
    assert not list(tmp_path.glob("_logs5.compact.*"))
    assert [r.n for r in cat2.table("logs5").df.collect()] == [7]


def test_compact_refuses_stray_root_files_in_partitioned_table(spark, tmp_path):
    """Root-level parquet in a partitioned table would be silently
    dropped by the per-partition copy; compact must refuse (ADVICE r2)."""
    import pytest as _pytest

    cat = h.connect(spark, tmp_path)
    cat.create("ev3", ["index string date", "uint32 n"], partition="date")
    cat.append("ev3", spark.createDataFrame([("2014-01-20", 1)], "date string, n long"))
    stray = tmp_path / "ev3" / "manual.parquet"
    spark.createDataFrame([("2014-01-21", 9)], "date string, n long").toPandas().to_parquet(stray)
    with _pytest.raises(ValueError, match="non-hive data files"):
        cat.compact("ev3")
    assert stray.exists()  # nothing was destroyed


def test_chunk_documents_rejects_reserved_columns(spark):
    import pytest as _pytest

    from hustle_spark.functions.text import chunk_documents

    df = spark.createDataFrame([(1, "a b c", 5)], "doc_id long, text string, chunk_idx long")
    with _pytest.raises(ValueError, match="chunk_documents reserves"):
        chunk_documents(df)


def test_roundtrip_export_gate_rewrites_partial_dir(spark):
    """orc_roundtrip_agg gates its cached export on _SUCCESS: a dir
    left by a crashed partial write (no marker) must be rewritten, not
    silently aggregated (ADVICE r2)."""
    import shutil
    from pathlib import Path

    from hustle_spark import registry

    sf_dir = "/root/testdata/sf0.001"
    cat = registry._cat(spark, sf_dir)
    dst = Path(str(cat.scratch / "orc_orders"))
    # run once to build the export, then simulate a crashed write
    first = registry.QUERIES["orc_roundtrip_agg"].fn(spark, sf_dir).collect()
    assert (dst / "_SUCCESS").is_file()
    shutil.rmtree(dst)
    dst.mkdir(parents=True)  # bare dir, no _SUCCESS, no data
    again = registry.QUERIES["orc_roundtrip_agg"].fn(spark, sf_dir).collect()
    assert (dst / "_SUCCESS").is_file()  # rewritten, not trusted
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))


def test_compact_recovery_prefers_newest_trash(spark, tmp_path):
    """Repeated crashes can strand several trash dirs; the sweep must
    restore the NEWEST (latest data) and clear the rest."""
    import os
    import time

    cat = h.connect(spark, tmp_path)
    cat.create("logs4", ["uint32 n"])
    cat.append("logs4", spark.createDataFrame([(1,)], "n long"))
    old = tmp_path / "_logs4.trash.00000001"
    old.mkdir()
    (old / "stale.txt").write_text("older crash remnant")
    past = time.time() - 3600
    os.utime(old, (past, past))
    (tmp_path / "logs4").rename(tmp_path / "_logs4.trash.00000002")
    cat2 = h.connect(spark, tmp_path)
    assert [r.n for r in cat2.table("logs4").df.collect()] == [1]
    assert not list(tmp_path.glob("_logs4.trash.*"))


def test_write_sharded_roundtrip(spark, tmp_path):
    import hashlib

    from pyspark.sql import functions as F

    from hustle_spark.sources.sharding import shard_of, write_sharded

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    out = tmp_path / "sharded"
    manifest = write_sharded(df, out, n_shards=8)
    rows = {r.shard: (r.n_rows, r.sum_ids) for r in manifest.collect()}
    # python replay of the assignment: first md5 hex byte mod 8
    expect: dict = {}
    for i in range(200):
        s = int(hashlib.md5(f"{i}:shard".encode()).hexdigest()[:2], 16) % 8
        n, t = expect.get(s, (0, 0))
        expect[s] = (n + 1, t + i)
    assert rows == expect
    # shard membership is partitioning-independent: a repartitioned
    # input yields the identical manifest
    manifest2 = write_sharded(df.repartition(7), tmp_path / "sharded2", n_shards=8)
    assert {tuple(r) for r in manifest2.collect()} == {tuple(r) for r in manifest.collect()}
    # every row lands in exactly one shard and survives the roundtrip
    back = spark.read.parquet(str(out)).filter(F.col("shard").isNotNull())
    assert back.count() == 200
    assert back.select("doc_id").distinct().count() == 200
    # bounds enforced
    import pytest

    with pytest.raises(ValueError, match="n_shards"):
        shard_of(F.col("doc_id"), 1000)
    # empty input: empty manifest, no schema-inference crash
    empty_manifest = write_sharded(df.limit(0), tmp_path / "sharded_empty", n_shards=8)
    assert empty_manifest.count() == 0


def test_delete_accepts_one_shot_iterator(spark, tmp_path):
    import hustle_spark as h

    cat = h.connect(spark, tmp_path / "dcat", scratch=tmp_path / "dscr")
    cat.create("t", ["string day", "uint64 k"], partition="day")
    cat.append("t", spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "day string, k long"))
    # a GENERATOR (one-shot) must still match every listed partition
    deleted = cat.delete("t", (d for d in ["a", "c"]))
    assert sorted(deleted) == ["a", "c"]
    assert cat.partitions("t") == ["b"]


def test_insert_guards_missing_partition_in_phile(spark, tmp_path):
    import json

    import pytest

    import hustle_spark as h

    cat = h.connect(spark, tmp_path / "icat", scratch=tmp_path / "iscr")
    cat.create("ev", ["string day", "uint64 k"], partition="day")
    src = tmp_path / "in.jsonl"
    # records MISSPELL the partition column ('date' instead of 'day')
    src.write_text("\n".join(json.dumps({"date": "x", "k": i}) for i in range(5)))
    with pytest.raises(ValueError, match="partition column"):
        h.insert(cat, "ev", phile=str(src))
    # nothing may have landed in the default partition
    assert "__HIVE_DEFAULT_PARTITION__" not in cat.partitions("ev")


def test_insert_recoerce_after_preprocess(spark, tmp_path):
    import json

    import hustle_spark as h
    from pyspark.sql import functions as F

    cat = h.connect(spark, tmp_path / "pcat", scratch=tmp_path / "pscr")
    cat.create("ev", ["string day", "uint64 k"], partition="day")
    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(
        json.dumps({"day": "d1", "k": i}) for i in range(4)))
    # hook adds an undeclared column and retypes k: both must be undone
    n = h.insert(cat, "ev", phile=str(src),
                 preprocess=lambda df: df.withColumn("extra", F.lit("x"))
                                         .withColumn("k", F.col("k").cast("string")))
    assert n == 4
    t = cat.table("ev").df
    assert sorted(t.columns) == ["day", "k"]
    assert dict(t.dtypes)["k"] == "bigint"


# ---- one-write compaction, declared-schema resolution, append order ----


@contextmanager
def counted_jobs(spark, group):
    """Count the Spark jobs started inside the block (listener bus
    drained on both sides, so no job is missed or misattributed)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    sc.setJobGroup(group, group)
    jobs: list = []
    try:
        yield jobs
    finally:
        bus.waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)


def assert_files_sorted(table_dir, column):
    import pyarrow.parquet as pq

    files = sorted(table_dir.rglob("*.parquet"))
    assert files
    for f in files:
        vals = pq.read_table(f, columns=[column]).column(0).to_pylist()
        assert vals == sorted(vals), f"{f.relative_to(table_dir)} not sorted on {column}"


def hive_dirs(table_dir):
    return sorted(p.name for p in table_dir.iterdir() if p.is_dir())


def test_compact_one_write_keeps_rows_dirs_sort_and_splits(spark, tmp_path):
    """Compaction rewrites a partitioned table in one Spark write: rows
    identical, partition dirs verbatim (a non-date string and the NULL
    default partition included), a partition above the target split into
    several files, every file sorted on the indexed column."""
    cat = h.connect(spark, tmp_path)
    cat.create("ev", ["index string date", "index uint32 user_id", "string tag"], partition="date")
    rows = spark.range(60000).select(
        # 80% of rows in the big partition, the rest in '007' and NULL
        F.when(F.col("id") % 10 < 8, "2014-01-20")
        .when(F.col("id") % 10 == 8, "007")
        .alias("date"),
        # few distinct ids: dictionary-encoded, so no 1 MiB bloom filter
        # per file inflates the partition sizes
        (F.col("id") * 7919 % 1000).alias("user_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("tag"),
    )
    for k in range(3):
        cat.append("ev", rows.filter(F.col("user_id") % 3 == k))
    table_dir = tmp_path / "ev"
    big = table_dir / "date=2014-01-20"
    assert sum(p.stat().st_size for p in big.glob("*.parquet")) > 1024 * 1024
    dirs = hive_dirs(table_dir)
    assert {"date=007", "date=2014-01-20", "date=__HIVE_DEFAULT_PARTITION__"} <= set(dirs)
    before = sorted(map(tuple, cat.table("ev").df.collect()), key=str)

    n = cat.compact("ev", target_file_mb=1)

    assert n == len(list(table_dir.rglob("*.parquet")))
    assert hive_dirs(table_dir) == dirs
    assert len(list(big.glob("*.parquet"))) > 1
    for small in ("date=007", "date=__HIVE_DEFAULT_PARTITION__"):
        assert len(list((table_dir / small).glob("*.parquet"))) == 1
    assert sorted(map(tuple, cat.table("ev").df.collect()), key=str) == before
    assert_files_sorted(table_dir, "user_id")
    assert cat.partitions("ev") == ["007", "2014-01-20", "__HIVE_DEFAULT_PARTITION__"]


def test_compact_job_count_is_independent_of_partitions(spark, tmp_path):
    """Guard: one compaction is a bounded number of Spark jobs (a scan +
    shuffle job and the write job), not a few jobs per partition."""
    cat = h.connect(spark, tmp_path)
    for n_parts in (2, 8):
        name = f"p{n_parts}"
        cat.create(name, ["string day", "index uint32 k"], partition="day")
        for _ in range(2):
            cat.append(name, spark.range(64).select(
                F.format_string("d%02d", F.col("id") % n_parts).alias("day"),
                (F.col("id") * 31 % 64).alias("k"),
            ))
        with counted_jobs(spark, f"compact-{name}") as jobs:
            assert cat.compact(name) == n_parts
        assert 1 <= len(jobs) <= 3, (n_parts, jobs)


def test_declared_table_resolves_without_jobs_and_keeps_string_partition(spark, tmp_path):
    """A table with a sidecar is read with its declared schema: the
    `string` partition column comes back as a string (not DATE), and
    re-resolving after an insert starts no Spark job before the action."""
    cat = h.connect(spark, tmp_path)
    make_table(cat)
    src = tmp_path / "in.json"
    src.write_text("\n".join(
        json.dumps({"date": f"2014-01-2{i % 2}", "n": i, "tag": "t"}) for i in range(6)))
    assert h.insert(cat, "ev", phile=str(src)) == 6
    assert h.insert(cat, "ev", phile=str(src)) == 6  # drops the Table cache
    with counted_jobs(spark, "resolve-declared") as jobs:
        t = cat.table("ev")
        q = h.select(t.date, t.n, where=t.n > 2)
    assert jobs == []
    assert dict(t.df.dtypes)["date"] == "string"
    got = sorted(tuple(r) for r in q.collect())
    assert got == sorted([("2014-01-21", 3), ("2014-01-20", 4), ("2014-01-21", 5)] * 2)


def test_partitioned_insert_files_sorted_on_index(spark, tmp_path):
    """Every file of an indexed, partitioned insert is non-decreasing on
    the indexed column: the append sort leads with the partition column,
    so Spark's planned write keeps the index order instead of re-sorting."""
    cat = h.connect(spark, tmp_path)
    cat.create("ev", ["string date", "index uint32 user_id", "string tag"], partition="date")
    src = tmp_path / "in.json"
    src.write_text("\n".join(
        json.dumps({"date": f"2014-01-2{i % 3}", "user_id": i * 7919 % 1009, "tag": "t"})
        for i in range(3000)))
    assert h.insert(cat, "ev", phile=str(src)) == 3000
    assert len(cat.partitions("ev")) == 3
    assert_files_sorted(tmp_path / "ev", "user_id")
