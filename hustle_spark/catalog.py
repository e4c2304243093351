"""Catalog: table registration / create / drop / partition lifecycle.

Reference semantics (public repo: ``hustle/__init__.py``): tables live
as DDFS tags ``hustle:<table>[:<partition>]`` whose attributes hold the
schema; ``Table.create`` declares, ``insert`` appends marbles,
``delete`` drops whole partitions (the only deletion unit),
``drop`` removes the table, ``tables()/schema()/partitions()``
enumerate metadata.

Spark mapping: a catalog directory holds one subdirectory of Parquet
per table (Hive-style ``<part>=<value>/`` layout when partitioned) plus
``_hustle_schema.json`` carrying the hustle column specs and index
hints. Partition pruning and columnar scans come from Catalyst/Parquet;
append-only ingest is ``mode("append")``; delete-by-partition is a
directory remove — identical lifecycle, zero custom storage.

Scale notes: at 100 TB the catalog dir sits on HDFS/S3; everything here
is path manipulation + Spark reads, so nothing changes. Indexed columns
(``index`` spec prefix) are sorted within every written file and carry
the Parquet bloom-filter write option — together the analogue of
hustle's EWAH bitmap indexes. The sort gives point predicates row-group
skipping through tight min/max statistics. parquet-mr writes a column's
bloom filter only when its chunk falls back from dictionary to plain
encoding: with Spark 4.1's defaults, an int64 column with 1,000
distinct values (5,000- or 100,000-row files) or 20,000 distinct in
100,000 rows got none, while all-distinct files (5,000 or 100,000 rows)
each carried a fixed 1 MiB filter, the writer's maximum when no
expected distinct count is set.
"""

from __future__ import annotations

import json
import shutil
import uuid
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import TableSchema
from .table import Table

SCHEMA_FILE = "_hustle_schema.json"
# directory value Spark writes for a NULL partition value
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _indexed(schema: TableSchema | None) -> list[str]:
    """Indexed data columns (the partition column is indexed by its
    directory layout, not by a sort or bloom filter)."""
    if schema is None:
        return []
    return [c for c in schema.indexed_columns if c != schema.partition]


def _nanos_timestamp_columns(path: Path) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) under ``path``."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
    except ImportError:  # pragma: no cover
        return []
    target = path
    if path.is_dir():
        files = sorted(path.rglob("*.parquet"))
        if not files:
            return []
        target = files[0]
    try:
        schema = pq.read_schema(str(target))
    except Exception:
        return []
    out = []
    for field_ in schema:
        t = field_.type
        if pa.types.is_timestamp(t) and t.unit == "ns":
            out.append(field_.name)
    return out


class Catalog:
    def __init__(self, spark: SparkSession, root: str | Path, scratch: str | Path | None = None):
        self.spark = spark
        self.root = Path(root)
        self.scratch = Path(scratch) if scratch else self.root / "_scratch"
        self._cache: dict[str, Table] = {}
        self._sweep_stale_compaction_dirs()

    def _sweep_stale_compaction_dirs(self) -> None:
        """Connect-time orphan sweep. ``_recover_orphans`` (below) runs
        only when a table DIR is missing — so a crash after
        ``staging.rename(path)`` but before ``rmtree(trash)`` leaves a
        stale ``_<name>.trash.*`` that is hidden from tables() yet
        silently holds disk equal to the table size (ADVICE r3). One
        pass at connect time reclaims every trash/staging sibling whose
        table dir is present; missing-dir cases still go through the
        restore path in _recover_orphans."""
        if not self.root.is_dir():
            return
        for d in self.root.glob("_*.trash.*"):
            name = d.name[1:].split(".trash.")[0]
            if (self.root / name).is_dir():
                shutil.rmtree(d, ignore_errors=True)
        for d in self.root.glob("_*.compact.*"):
            name = d.name[1:].split(".compact.")[0]
            if (self.root / name).is_dir():
                shutil.rmtree(d, ignore_errors=True)

    # ---- discovery ----

    def tables(self) -> list[str]:
        """List table names: bare ``<name>.parquet`` files (driver
        testdata layout) and managed table directories."""
        names: set[str] = set()
        if self.root.exists():
            for p in self.root.iterdir():
                if p.name.startswith("_") or p.name.startswith("."):
                    continue
                if p.is_file() and p.suffix == ".parquet":
                    names.add(p.stem)
                elif p.is_dir():
                    names.add(p.name)
        return sorted(names)

    def table(self, name: str) -> Table:
        if name in self._cache:
            return self._cache[name]
        path, schema = self._resolve(name)
        if schema is None:
            df = self._read_parquet(path)
        elif not any(path.rglob("*.parquet")):
            # created but never written: empty relation from the
            # declared schema (a freshly-created hustle table is
            # queryable before its first insert)
            df = self.spark.createDataFrame([], schema.to_struct())
        else:
            # a declared table is read with its declared schema: no
            # footer probe, no schema-inference job, and the partition
            # column keeps its declared type (a `string date` partition
            # stays a string instead of being inferred as DATE)
            df = self.spark.read.schema(schema.to_struct()).parquet(str(path))
        t = Table(name, df, schema=schema, catalog=self)
        self._cache[name] = t
        return t

    def _read_parquet(self, path: Path) -> DataFrame:
        """Read parquet, transparently handling TIMESTAMP(NANOS) columns
        (Spark's vectorized reader rejects them; the driver testdata's
        ``events.ts`` is nanos). We read nanos as raw int64 and convert
        to TimestampType at microsecond precision — a metadata-only
        change per batch, no row-at-a-time work."""
        ns_cols = _nanos_timestamp_columns(path)
        if not ns_cols:
            return self._ltz(self.spark.read.parquet(str(path)))
        # nanosAsLong is pinned session-wide (session.DEFAULT_CONFIGS /
        # tune_existing); set it here too for foreign sessions that
        # bypassed both, and deliberately do NOT restore it — the scan
        # is lazy, so toggling the conf back before the action runs
        # would make the read fail or misread at execution time.
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self.spark.read.parquet(str(path))
        dtypes = dict(df.dtypes)
        for c in ns_cols:
            # Spark-written files carry row metadata declaring the
            # column TimestampType, which overrides nanosAsLong and
            # yields a ready timestamp — only convert when the scan
            # actually surfaced the raw int64
            if dtypes.get(c) != "bigint":
                continue
            # integer division keeps full int64 precision (a float path
            # would lose it: 1.7e18 ns exceeds double's 53-bit mantissa)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return self._ltz(df)

    def _ltz(self, df: DataFrame) -> DataFrame:
        """Normalize TIMESTAMP_NTZ columns to session-TZ TimestampType.

        Plain pyarrow/pandas-written micros files (isAdjustedToUTC=
        false, e.g. the driver testdata) surface as NTZ under Spark 4's
        default inferTimestampNTZ; the engine convention is LTZ with a
        UTC session (session.DEFAULT_CONFIGS), where this cast is a
        metadata-only reinterpretation of the same micros value. It
        keeps every downstream epoch/interval expression valid — ANSI
        Spark refuses NTZ→numeric casts — and matches the declared-
        schema streaming source, so batch and stream reads of the same
        file agree bit-for-bit."""
        ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        for c in ntz:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        return df

    def _recover_orphans(self, name: str, path: Path | None = None) -> None:
        """Crash-recovery sweep for ``compact``'s non-atomic dir swap.

        The swap is ``path.rename(trash); staging.rename(path);
        rmtree(trash)`` — a crash between the renames leaves the table
        dir missing with the data intact in ``_<name>.trash.*``. This
        sweep (run on table resolution when the dir is absent, and at
        the start of every ``compact``) restores the newest stranded
        trash dir and deletes dead trash/staging siblings once the
        table dir is in place, so no manual recovery is ever needed.
        """
        path = path or (self.root / name)
        parent = path.parent
        trash = list(parent.glob(f"_{name}.trash.*"))
        staging = list(parent.glob(f"_{name}.compact.*"))
        if not path.exists() and trash:
            newest = max(trash, key=lambda p: p.stat().st_mtime)
            newest.rename(path)
            trash.remove(newest)
        if path.exists():
            for d in trash + staging:
                shutil.rmtree(d)

    def _resolve(self, name: str) -> tuple[Path, TableSchema | None]:
        file_path = self.root / f"{name}.parquet"
        dir_path = self.root / name
        if not dir_path.is_dir() and not file_path.exists():
            self._recover_orphans(name, dir_path)
        if dir_path.is_dir():
            schema = None
            sf = dir_path / SCHEMA_FILE
            if sf.exists():
                schema = TableSchema.from_json_dict(json.loads(sf.read_text()))
            return dir_path, schema
        if file_path.exists():
            return file_path, None
        raise KeyError(f"no table {name!r} under {self.root}")

    def schema(self, name: str) -> list[str]:
        """Hustle-style schema listing (reference ``schema(t)``)."""
        t = self.table(name)
        if t.hustle_schema:
            return [c.spec or f"{c.type_name} {c.name}" for c in t.hustle_schema.columns]
        return [f"{f.dataType.simpleString()} {f.name}" for f in t.df.schema.fields]

    def partitions(self, name: str) -> list[str]:
        """Partition values present (reference ``partitions(t)``)."""
        path, schema = self._resolve(name)
        if schema is None or schema.partition is None or not path.is_dir():
            return []
        prefix = f"{schema.partition}="
        return sorted(
            p.name[len(prefix):] for p in path.iterdir()
            if p.is_dir() and p.name.startswith(prefix)
        )

    # ---- lifecycle ----

    def create(self, name: str, columns: list[str], partition: str | None = None) -> Table:
        """Reference ``Table.create(name, columns=[...], partition=...)``."""
        schema = TableSchema.parse(name, columns, partition)
        dir_path = self.root / name
        if dir_path.exists():
            raise ValueError(f"table {name!r} already exists")
        dir_path.mkdir(parents=True)
        (dir_path / SCHEMA_FILE).write_text(json.dumps(schema.to_json_dict(), indent=2))
        empty = self.spark.createDataFrame([], schema.to_struct())
        t = Table(name, empty, schema=schema, catalog=self)
        self._cache[name] = t
        return t

    def drop(self, name: str) -> None:
        """Reference ``drop(table)`` — remove table + data."""
        dir_path = self.root / name
        if dir_path.is_dir():
            shutil.rmtree(dir_path)
        self._cache.pop(name, None)

    def delete_partitions(self, name: str, values: list[str]) -> None:
        """Reference ``delete(where=...)`` — deletion only by whole
        partition (append-only model, SURVEY section 1)."""
        path, schema = self._resolve(name)
        if schema is None or schema.partition is None:
            raise ValueError(f"table {name!r} is not partitioned")
        for v in values:
            pdir = path / f"{schema.partition}={v}"
            if pdir.is_dir():
                shutil.rmtree(pdir)
        self._cache.pop(name, None)

    def delete(self, name: str, where) -> list[str]:
        """Reference ``delete(where=<partition predicate>)``: a
        predicate over the partition column selects whole partitions to
        drop. ``where`` is a Python predicate over the partition value
        string (e.g. ``lambda d: d < '2014-01-21'``) or an explicit
        value list. Returns the partition values deleted."""
        values = self.partitions(name)
        if callable(where):
            doomed = [v for v in values if where(v)]
        else:
            # materialize ONCE: a generator would be consumed by the
            # first membership test and silently match nothing after
            wanted = set(where)
            doomed = [v for v in values if v in wanted]
        self.delete_partitions(name, doomed)
        return doomed

    # ---- write paths ----

    def append(self, name: str, df: DataFrame) -> None:
        """Append a DataFrame into a managed table (the marble push)."""
        path, schema = self._resolve(name)
        writer = df.write.mode("append")
        if schema is not None:
            keys = [schema.partition] if schema.partition else []
            indexed = _indexed(schema)
            if indexed:
                # sort + bloom filter per indexed column ~= hustle's
                # per-value bitmap index. The partition column leads the
                # sort: Spark's planned write orders rows by it and
                # would re-sort (dropping the index order) otherwise
                writer = df.sortWithinPartitions(*keys, *indexed).write.mode("append")
                for c in indexed:
                    writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            if keys:
                writer = writer.partitionBy(*keys)
        writer.parquet(str(path))
        self._cache.pop(name, None)

    def compact(self, name: str, target_file_mb: int = 128) -> int:
        """Small-file compaction: rewrite a managed table so data files
        approach ``target_file_mb`` each. Micro-batch appends accumulate
        tiny files; at scale, file count drives scan task count and
        listing pressure, so periodic compaction is a core operational
        task (the 100 TB analogue of the reference's marble GC).
        Returns the number of data files after compaction.

        The whole table is rewritten by ONE Spark write, whatever its
        partition count (a scan + shuffle job and the write job):

        - File sizing: each hive partition's bytes are listed on the
          driver and give its file count ``n = ceil(bytes / target)``.
          Rows are spread by ``repartition(sum(n), part, salt)`` with
          ``salt = pmod(xxhash64(<data columns>), n[part])``, so a hot
          partition larger than the target still splits into up to
          ``n`` files while a small one stays one file. The salt is a
          hash of the row, not ``rand()``, so a retried task rebuilds
          exactly the rows it had. Hash collisions between
          ``(part, salt)`` keys can only merge files, never lose rows.
        - The read uses the DECLARED schema when the table has one: no
          schema-inference job, files are rewritten in the declared
          types with none of ``_read_parquet``'s read-time conversions
          (nanos->micros, NTZ->LTZ) baked in, and partition values
          round-trip as their directory strings — a ``string``
          partition ``007`` stays ``007``, never a DATE or an integer.
          A column outside the declared schema is not part of the table
          (``table()`` never shows it) and is not rewritten. A table
          without a sidecar is read as raw parquet.
        - Rows are sorted within each task by ``(part, *indexed)``. The
          partition column leads, which satisfies Spark's planned-write
          ordering, so the index sort survives into every file. Bloom
          filter options are re-applied to the indexed columns.

        An unpartitioned table is the one-partition case of the same
        path (no ``partitionBy``).

        Single-writer, single-process semantics (the engine's
        append-only model has no concurrent writers): the rewrite lands
        in a sibling staging dir and is swapped in with two renames.
        The swap is NOT atomic — a crash between the two renames leaves
        the table dir absent with the data intact in a
        ``_<name>.trash.*`` sibling; ``compact`` (and ``table``
        resolution) therefore starts with an orphan sweep that restores
        a stranded trash dir and clears dead staging dirs, so the
        recovery path is automatic on next contact. DataFrames resolved
        BEFORE the compaction must be re-acquired afterwards
        (``catalog.table`` re-resolves; the internal cache is
        invalidated here). On a multi-writer lake this swap is where a
        transactional table format's commit protocol — and its snapshot
        retention — would slot in.
        """
        path, schema = self._resolve(name)
        self._recover_orphans(name, path)
        if not path.is_dir():
            raise ValueError(f"table {name!r} is not a managed directory table")
        data_files = [p for p in path.rglob("*.parquet")]
        if not data_files:
            return 0
        part = schema.partition if schema is not None else None
        if part:
            stray = sorted(p.name for p in path.glob("*.parquet"))
            if stray:
                # a foreign/manual write left data files at the table
                # root; the partitioned rewrite would silently drop them
                # and the trash removal would destroy them
                raise ValueError(
                    f"partitioned table {name!r} has non-hive data files "
                    f"at its root ({stray[:3]}{'...' if len(stray) > 3 else ''}); "
                    "refusing to compact — move them into a "
                    f"{part}=<value>/ directory first"
                )
            # partition value as Spark reads it back from the directory
            # name: unescaped, the default partition read as NULL
            sizes = {
                unquote(pdir.name.split("=", 1)[1]):
                    sum(p.stat().st_size for p in pdir.rglob("*.parquet"))
                for pdir in path.iterdir()
                if pdir.is_dir() and "=" in pdir.name
            }
            key = F.coalesce(F.col(part).cast("string"), F.lit(HIVE_DEFAULT_PARTITION))
        else:
            sizes = {"": sum(p.stat().st_size for p in data_files)}
            key = F.lit("")
        target_bytes = target_file_mb * 1024 * 1024
        n_out = {v: max(1, -(-b // target_bytes)) for v, b in sizes.items()}

        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema.to_struct())
        df = reader.parquet(str(path))
        # only partitions that split need a map entry; a key the map
        # misses gets one file
        split = [F.lit(x) for v, n in n_out.items() if n > 1 for x in (v, n)]
        n_of = F.coalesce(F.create_map(*split)[key], F.lit(1)) if split else F.lit(1)
        data_cols = [c for c in df.columns if c != part]
        salt = F.pmod(F.xxhash64(*data_cols), n_of) if data_cols else F.lit(0)
        keys = [part] if part else []
        indexed = _indexed(schema)
        out = df.repartition(sum(n_out.values()), *keys, salt)
        if keys or indexed:
            out = out.sortWithinPartitions(*keys, *indexed)
        writer = out.write.mode("overwrite")
        for c in indexed:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if keys:
            writer = writer.partitionBy(*keys)
        staging = path.parent / f"_{name}.compact.{uuid.uuid4().hex[:8]}"
        writer.parquet(str(staging))
        # carry the schema sidecar, then swap dirs
        sidecar = path / SCHEMA_FILE
        if sidecar.exists():
            shutil.copy2(sidecar, staging / SCHEMA_FILE)
        trash = path.parent / f"_{name}.trash.{uuid.uuid4().hex[:8]}"
        path.rename(trash)
        staging.rename(path)
        shutil.rmtree(trash)
        self._cache.pop(name, None)
        return len(list(path.rglob("*.parquet")))

    def materialize(self, df: DataFrame, name: str | None = None) -> Table:
        """``nest=True`` support: persist a result as a queryable Table
        (reference wrote marbles to a fresh DDFS tag). The name must
        not collide with a managed table: the nested result lives in
        the session cache + scratch only, so shadowing a root table
        would silently flip ``table(name)`` between two datasets
        across cache invalidations."""
        name = name or f"nest_{uuid.uuid4().hex[:8]}"
        # both managed-table forms: a directory table or a bare
        # <name>.parquet file (same lookup _resolve performs)
        if (self.root / name).is_dir() or (self.root / f"{name}.parquet").exists():
            raise ValueError(
                f"nest name {name!r} collides with a managed table; "
                "pick a distinct nest_name"
            )
        out = self.scratch / name
        if out.exists():
            shutil.rmtree(out)
        df.write.mode("overwrite").parquet(str(out))
        t = Table(name, self.spark.read.parquet(str(out)), catalog=self)
        self._cache[name] = t
        return t


def connect(spark: SparkSession, root: str | Path, scratch: str | Path | None = None) -> Catalog:
    """Open a catalog over a directory of parquet tables (the analogue of
    pointing a hustle client at a DDFS master)."""
    return Catalog(spark, root, scratch=scratch)
