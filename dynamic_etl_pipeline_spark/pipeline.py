"""The end-to-end dynamic ETL pipeline: the reference's upload loop
(app.py:296-366) as one declarative DataFrame flow.

Reference flow (per upload): suffix dispatch -> per-record regex
extraction loop -> schema inference -> key-set diff + version bump ->
per-record validation -> per-record SQLite INSERT (a new connection per
record, app.py:135 — the measured 955 rec/s bottleneck, BASELINE.md §A).

Engine flow (per batch): read_any (Spark reader) -> extract_patterns
(codegen regexp) -> SchemaRegistry.register (no Spark job) ->
validate + lineage (codegen) -> one partition-parallel parquet append.
Same semantics, no per-row Python, no per-row transactions — the
whole pipeline is a single Spark job and scales with partition count.

Reads (records(), snapshot(), the upsert's target) go through
``_read_store``: the union schema of the drifted partitions is folded
from the part files' parquet footers with pyarrow and declared, so
building the frame runs no Spark job.
"""

from __future__ import annotations

import functools
import json
import os
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.extract import extract_patterns
from .ingest import read_any
from .materialize import observe
from .quality import ISSUES_COL, validate, with_lineage
from .schema_registry import SchemaRegistry


_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FRACTIONAL = {"float", "double"}


def _widen_dtype(a: str, b: str) -> str:
    """Tightest common simple type for drifted record-store columns
    (the store only ever holds ingest-shaped scalars; nested types
    can't drift because they'd differ as whole columns). Integer pairs
    widen to the larger integer, any integer/fractional or float/double
    mix widens to double, anything else irreconcilable widens to
    string — which every scalar casts to losslessly."""
    if a == b:
        return a
    if a in _INT_RANK and b in _INT_RANK:
        return a if _INT_RANK[a] >= _INT_RANK[b] else b
    numeric = _FRACTIONAL | set(_INT_RANK) | {"decimal"}
    if (a.split("(")[0] in numeric) and (b.split("(")[0] in numeric):
        return "double"
    return "string"


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the store's mutation lock (and the caller's
    ``lock_timeout`` expired). The store is untouched — retry later."""


@dataclass
class IngestReport:
    """What the reference surfaces in its UI after an upload
    (app.py:352-371): counts, schema version, whether it evolved."""

    n_records: int
    n_good: int
    n_with_issues: int
    schema_version: int
    schema_changed: bool


def _observe_quality(df: DataFrame):
    """Attach the upload's record and issue counts to ``df``; the write
    that stores it collects them."""
    return observe(
        df,
        n_records=F.count(F.lit(1)),
        n_bad=F.sum((F.size(F.col(ISSUES_COL)) > 0).cast("long")),
    )


def _report(counts: dict, version: int, changed: bool) -> IngestReport:
    n_bad = counts["n_bad"] or 0
    return IngestReport(
        n_records=counts["n_records"],
        n_good=counts["n_records"] - n_bad,
        n_with_issues=n_bad,
        schema_version=version,
        schema_changed=changed,
    )


# -- store reads --------------------------------------------------------
# A mergeSchema read runs one Spark job to merge every part file's
# footer before the caller's action starts. Spark writers already put
# the Catalyst schema in each footer, so this module reads those with
# pyarrow, folds them the way that job would and declares the result.

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _leaf_files(root: str) -> list[str]:
    """The files Spark's file index lists under ``root``, in the sorted
    path order its schema merge folds them in."""
    def listed(name: str) -> bool:
        return not (name.startswith(".") or name.endswith("._COPYING_")
                    or (name.startswith("_") and "=" not in name
                        and not name.startswith(("_metadata", "_common_metadata"))))

    files = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if listed(d)]
        files += [os.path.join(dirpath, f) for f in filenames if listed(f)]
    return sorted(files)


@functools.lru_cache(maxsize=4096)
def _footer_schema_json(path: str, size: int, mtime_ns: int) -> str | None:
    """The Catalyst schema JSON in one part file's footer (None when
    another writer left it out); keyed by size and mtime, so a rewrite
    reads the footer again."""
    import pyarrow.parquet as pq

    raw = (pq.read_schema(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
    return None if raw is None else raw.decode()


def _file_schema(spark: SparkSession, path: str) -> T.StructType:
    """One part file's schema: the Catalyst JSON in its footer, or a
    Spark read of that file when its writer left the key out."""
    st = os.stat(path)
    raw = _footer_schema_json(path, st.st_size, st.st_mtime_ns)
    if raw is None:
        return spark.read.parquet(path).schema
    return T.StructType.fromJson(json.loads(raw))


def _merge_type(a: T.DataType, b: T.DataType, case_sensitive: bool) -> T.DataType:
    """``StructType.merge`` restated: the left field's name and metadata
    win, nullability ORs, and leaf types must be equal (Spark's own
    widening, e.g. of decimals, is left to Spark)."""
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        key = (lambda n: n) if case_sensitive else str.lower
        right = {key(f.name): f for f in b.fields}
        fields = [
            T.StructField(
                f.name,
                _merge_type(f.dataType, right[key(f.name)].dataType, case_sensitive),
                f.nullable or right[key(f.name)].nullable,
                f.metadata,
            ) if key(f.name) in right else f
            for f in a.fields
        ]
        left = {key(f.name) for f in a.fields}
        return T.StructType(fields + [f for f in b.fields if key(f.name) not in left])
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge_type(a.elementType, b.elementType, case_sensitive),
                           a.containsNull or b.containsNull)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(_merge_type(a.keyType, b.keyType, case_sensitive),
                         _merge_type(a.valueType, b.valueType, case_sensitive),
                         a.valueContainsNull or b.valueContainsNull)
    if a == b:
        return a
    raise TypeError(f"unequal leaf types {a} and {b}")


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema a mergeSchema read of ``path`` infers, from the part
    files' footers, read with pyarrow; None for any store this restatement
    does not cover (summary files, foreign writers, unreadable footers,
    unequal leaf types, a data column named like a partition column, an
    empty listing)."""
    files = _leaf_files(path)
    if not files or any(os.path.basename(f).startswith("_") for f in files):
        return None
    case_sensitive = spark.conf.get("spark.sql.caseSensitive").lower() == "true"
    try:
        stats = [os.stat(f) for f in files]
        distinct = dict.fromkeys(
            _footer_schema_json(f, st.st_size, st.st_mtime_ns)
            for f, st in zip(files, stats)
        )
        if None in distinct:
            return None
        schemas = [T.StructType.fromJson(json.loads(s)) for s in distinct]
        merged = functools.reduce(
            lambda a, b: _merge_type(a, b, case_sensitive), schemas
        )
    except (OSError, ValueError, LookupError, TypeError):
        # an unreadable footer (pyarrow's errors derive from these),
        # schema JSON the types module rejects, or unequal leaf types
        return None
    # a data column named like a partition column keeps its file
    # position when inferred but moves last when declared
    part_cols = {
        seg.split("=", 1)[0].lower()
        for f in files
        for seg in os.path.relpath(os.path.dirname(f), path).split(os.sep)
        if "=" in seg
    }
    if part_cols & {f.name.lower() for f in merged.fields}:
        return None
    return merged


def _read_store(spark: SparkSession, path: str) -> DataFrame:
    """Read a record-store directory with the union schema of its
    drifted partitions. The schema comes from the footers, read with
    pyarrow (no Spark job); anything that path does not cover falls
    back to Spark's mergeSchema read, whose schema or error the caller
    gets."""
    schema = _footer_schema(spark, path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    try:
        return spark.read.option("mergeSchema", "true").parquet(path)
    except Exception as exc:
        if "merge" in str(exc).lower():
            raise RuntimeError(
                f"record store {path} has TYPE-drifted "
                "partitions parquet schema merge cannot reconcile "
                "(e.g. a column ingested as bigint in one batch and "
                "double in another); run EtlPipeline.migrate() to "
                "rewrite drifted partitions to the widened union "
                "schema, then re-read"
            ) from exc
        raise


class EtlPipeline:
    """Batch ingestion into a parquet record store with schema
    versioning, pattern extraction, validation, and lineage."""

    def __init__(self, spark: SparkSession, store_dir: str,
                 text_column: str = "content", lock_timeout: float = 60.0):
        self.spark = spark
        self.store = Path(store_dir)
        self.records_path = str(self.store / "records")
        self.registry = SchemaRegistry(spark, store_dir)
        self.text_column = text_column
        self.lock_timeout = lock_timeout

    # -- concurrent-writer safety ---------------------------------------
    # The swap protocol (staging write -> _SUCCESS -> generation rename)
    # is crash-recoverable for ONE writer; two concurrent mutations could
    # interleave generation swaps or reap each other's staging dirs. All
    # mutations therefore serialize on an exclusive flock over
    # <store>/.store.lock: advisory, released automatically if the holder
    # dies (no stale-lock janitor needed), and exclusive across both
    # processes and threads (flock contends per open file description).
    # This intentionally assumes the store lives on a POSIX filesystem —
    # which the rename-based swap already requires; an object-store port
    # would swap both for a CAS on a generation-pointer object.

    @contextmanager
    def _mutation_lock(self, timeout: float | None = None):
        import fcntl
        import os
        import time

        timeout = self.lock_timeout if timeout is None else timeout
        self.store.mkdir(parents=True, exist_ok=True)
        fd = os.open(self.store / ".store.lock", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            deadline = time.monotonic() + timeout
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.monotonic() >= deadline:
                        raise ConcurrentWriteError(
                            f"store {self.store} is locked by another writer "
                            f"(waited {timeout:.1f}s)"
                        ) from None
                    time.sleep(0.05)
            os.ftruncate(fd, 0)
            os.write(fd, f"pid={os.getpid()}\n".encode())
            yield
        finally:
            os.close(fd)  # closing the fd drops the flock

    def _try_recover_records(self) -> None:
        """Best-effort crash recovery on read paths: if another LIVE
        writer holds the lock there is nothing to recover (its state is
        consistent-by-protocol and must not be reaped from under it) —
        skip instead of blocking the read."""
        try:
            with self._mutation_lock(timeout=0.0):
                self._recover_records()
        except ConcurrentWriteError:
            pass

    def transform(self, df: DataFrame) -> tuple[DataFrame, int, bool]:
        """Extraction + schema registration + validation + lineage —
        the full app.py:318-363 pipeline, lazily planned."""
        if self.text_column in df.columns:
            # Reference app.py:318-322: only records with truthy content
            # get _extracted_patterns.
            df = df.withColumn("_extracted_patterns", extract_patterns(self.text_column))
        version, changed = self.registry.register_df(df)
        df = validate(df, self.registry.latest()[1])
        df = with_lineage(df, version)
        return df, version, changed

    def ingest(self, path: str, **reader_kwargs) -> IngestReport:
        """Read -> transform -> append to the record store -> report.

        The quality counts ride along as ``observe`` metrics collected
        DURING the write — one execution of the pipeline, not a write
        pass plus a count pass (the reference re-loops too,
        app.py:353-366).
        """
        # the lock spans transform too: register_df mutates the schema
        # catalog (version assignment must not race a concurrent ingest)
        with self._mutation_lock():
            df, version, changed = self.transform(
                read_any(self.spark, path, **reader_kwargs)
            )
            df, read = _observe_quality(df)
            # Record store is partitioned by schema version: batches with
            # different shapes land in different directories, and reads
            # reconstruct the drifted union from the footers (SURVEY §1.4,
            # _read_store). The version is constant per batch by
            # construction, so write straight into the Hive-style
            # partition dir — same on-disk layout as partitionBy() without
            # the dynamic-partition commit machinery.
            (
                df.drop("_schema_version")
                .write.mode("append")
                .parquet(f"{self.records_path}/_schema_version={version}")
            )
        return _report(read(), version, changed)

    def upsert(self, path: str | None = None, keys: list[str] | None = None,
               *, df: DataFrame | None = None, **reader_kwargs) -> IngestReport:
        """Keyed ingest: batch records whose keys already exist REPLACE
        the stored record (latest wins — content, patterns, lineage,
        quality annotations all taken from the new batch); new keys
        insert. The reference can only append (app.py:133-141); this is
        the MERGE-maintained record store.

        Execution is the join-and-rewrite strategy (operators/merge.py):
        merge into a staging directory partitioned by schema version,
        then swap into place. Concurrent mutations serialize on the
        store's exclusive flock (``_mutation_lock``; a second writer
        waits up to ``lock_timeout`` then gets ``ConcurrentWriteError``
        with the store untouched). The swap is crash-RECOVERABLE:
        Spark's _SUCCESS marker distinguishes a committed
        staging dir from a half-written one, and ``_recover_records``
        (run before every upsert and read) either promotes a committed
        staging dir or rolls back to the previous store, so no crash
        window loses records or bricks later upserts. Schema drift is
        handled by aligning the store to the union of schemas before
        the merge, so a batch that adds columns upserts cleanly (old
        rows read NULL for the new columns).
        """
        from .operators.merge import merge_upsert

        if not keys:
            raise ValueError("upsert requires non-empty merge keys")
        src = df if df is not None else read_any(self.spark, path, **reader_kwargs)
        store = Path(self.records_path)
        # the lock spans the whole read-modify-write INCLUDING transform:
        # the merge must see the store state it will replace, and
        # register_df's catalog version assignment must not race another
        # writer's
        with self._mutation_lock():
            self._recover_records()
            batch, version, changed = self.transform(src)
            # schema-alignment probe taken BEFORE observe so the
            # Observation node appears exactly once in the merged plan
            align = batch.limit(0)
            batch, read = _observe_quality(batch)
            if not store.exists():
                (
                    batch.drop("_schema_version")
                    .write.mode("append")
                    .parquet(f"{self.records_path}/_schema_version={version}")
                )
            else:
                target = _read_store(self.spark, self.records_path).unionByName(
                    align, allowMissingColumns=True
                )
                merged = merge_upsert(target, batch, keys)
                tmp = store.with_name("records.upserting")
                (
                    merged.write.mode("overwrite")
                    .partitionBy("_schema_version")
                    .parquet(str(tmp))
                )
                # commit point is the tmp write's _SUCCESS marker: every
                # crash window after it is rolled FORWARD by
                # _recover_records, every one before it rolled back.
                # The displaced store is archived as a numbered generation
                # (time travel): snapshot()/history()/vacuum() below.
                archive = store.with_name(
                    f"records.gen-{self._next_generation():06d}"
                )
                store.rename(archive)
                tmp.rename(store)
        return _report(read(), version, changed)

    def _recover_records(self) -> None:
        """Finish or roll back an interrupted upsert swap. Callers must
        hold ``_mutation_lock`` (mutations take it around their whole
        read-modify-write; read paths go through ``_try_recover_records``
        which skips when a live writer holds it).
        The commit point is Spark's _SUCCESS marker in the
        staging dir: a committed merge is rolled FORWARD by completing
        the generation-archive swap (archive the displaced store as
        records.gen-NNNNNN if the crash hit before that rename, then
        promote staging); an uncommitted staging dir is discarded (the
        store was never touched). ``records.old`` is the pre-generation
        layout's staging name — kept only as legacy-crash cleanup for
        stores written by older builds."""
        import shutil

        store = Path(self.records_path)
        tmp = store.with_name("records.upserting")
        old = store.with_name("records.old")
        if (tmp / "_SUCCESS").exists():
            # roll forward: the merge was committed, finish the swap
            # wherever it was interrupted
            if store.exists():
                store.rename(store.with_name(
                    f"records.gen-{self._next_generation():06d}"
                ))
            tmp.rename(store)
        elif not store.exists() and old.exists():
            old.rename(store)  # legacy (pre-generation) rollback
        for d in (tmp, old):
            if store.exists() and d.exists():
                shutil.rmtree(d)
        # finish interrupted per-partition swaps (compact()/migrate()):
        # a crash between their rename and cleanup leaves *.old /
        # *.compacting / *.migrating dirs that partition discovery (and
        # the _schema_version=* glob) would misread as partitions
        if store.exists():
            for leftover in list(store.glob("_schema_version=*.old")):
                target = leftover.with_name(
                    leftover.name[: -len(".old")]
                )
                if target.exists():
                    shutil.rmtree(leftover)  # swap completed; drop old
                else:
                    leftover.rename(target)  # swap never landed; roll back
            for suffix in (".compacting", ".migrating"):
                for tmp_dir in list(store.glob(f"_schema_version=*{suffix}")):
                    shutil.rmtree(tmp_dir)  # staging is always re-creatable

    def records(self, latest_n: int | None = None,
                version: int | None = None) -> DataFrame:
        """Browse stored records (reference get_records app.py:169-173;
        ORDER BY ingest time DESC LIMIT n plans as TakeOrderedAndProject).

        ``version`` filters on the partition column, so the scan prunes
        to one schema-version directory instead of listing the store.
        The schema is the union of the drifted partitions, read from the
        footers by ``_read_store``: no Spark job runs before the
        caller's action. A type-drifted store raises ``RuntimeError``
        pointing at ``migrate()``.
        """
        self._try_recover_records()
        df = _read_store(self.spark, self.records_path)
        if version is not None:
            df = df.filter(F.col("_schema_version") == version)
        if latest_n is not None:
            df = df.orderBy(F.desc("_ingested_at")).limit(latest_n)
        return df

    # -- time travel ----------------------------------------------------
    # Every committed upsert swap archives the displaced store as
    # records.gen-NNNNNN — a full immutable snapshot of the table as it
    # was BEFORE that rewrite (the lakehouse time-travel contract,
    # rebuilt from rename + parquet: no table format required). Plain
    # ingest() appends and compact() rewrites are content-preserving,
    # so they do not cut generations.

    def _generation_dirs(self) -> list[Path]:
        store = Path(self.records_path)
        return sorted(store.parent.glob("records.gen-*"))

    def _next_generation(self) -> int:
        gens = self._generation_dirs()
        if not gens:
            return 1
        return int(gens[-1].name.rsplit("-", 1)[1]) + 1

    def history(self) -> list[dict]:
        """Archived generations, oldest first: generation number, path,
        and commit time (the mtime of the swap)."""
        import datetime as _dt

        return [
            {
                "generation": int(p.name.rsplit("-", 1)[1]),
                "path": str(p),
                "archived_at": _dt.datetime.fromtimestamp(p.stat().st_mtime),
            }
            for p in self._generation_dirs()
        ]

    def snapshot(self, generation: int) -> DataFrame:
        """Read the record store as of BEFORE the given upsert: time
        travel to archived generation N (1-based, see history()), with
        the same footer-declared union schema as records()."""
        path = Path(self.records_path).with_name(
            f"records.gen-{generation:06d}"
        )
        if not path.exists():
            known = [h["generation"] for h in self.history()]
            raise ValueError(
                f"no archived generation {generation}; available: {known}"
            )
        return _read_store(self.spark, str(path))

    def diff(self, generation: int, other: int | None = None) -> DataFrame:
        """Row-level diff between two store states (round 4): rows in
        the NEWER state but not the older tagged ``added``, rows only
        in the older tagged ``removed`` — time travel's inspection
        half (what did that upsert actually change?). ``other=None``
        diffs archived generation N against the CURRENT store. Bag
        semantics via exceptAll (duplicate cardinality respected);
        schema drift handled by unionByName-style null-padding on both
        sides before the except. One shuffle per side at any scale —
        the same two-except shape as the set-op queries."""
        old = self.snapshot(generation)
        new = self.records() if other is None else self.snapshot(other)
        cols = sorted(set(old.columns) | set(new.columns))
        # pad drift columns with NULL cast to the dtype of the side
        # that HAS the column (ADVICE r4): a hard-coded string pad made
        # exceptAll compare typed values via set-op string coercion
        dtypes = {**dict(old.dtypes), **dict(new.dtypes)}

        def pad(df):
            out = df
            for c in cols:
                if c not in df.columns:
                    out = out.withColumn(
                        c, F.lit(None).cast(dtypes.get(c, "string"))
                    )
            return out.select(*cols)

        old_p, new_p = pad(old), pad(new)
        added = new_p.exceptAll(old_p).withColumn("change", F.lit("added"))
        removed = old_p.exceptAll(new_p).withColumn(
            "change", F.lit("removed")
        )
        return added.unionByName(removed)

    def vacuum(self, retain: int = 2) -> int:
        """Drop all but the newest ``retain`` generations; returns how
        many were deleted. Storage grows one full table copy per upsert
        until vacuumed — the same retention trade every time-traveling
        table format makes, here made explicit."""
        import shutil

        if retain < 0:
            raise ValueError("retain must be >= 0")
        with self._mutation_lock():
            gens = self._generation_dirs()
            doomed = gens[:-retain] if retain else gens
            for p in doomed:
                shutil.rmtree(p)
            return len(doomed)

    def export_sqlite(self, db_path: str, batch_size: int = 10_000) -> int:
        """Export the record store + schema catalog into the reference's
        SQLite artifact shape (``etl_data.db``: ``records`` app.py:68-74,
        ``schema_history`` app.py:76-81, ``schema_changes`` app.py:83-91)
        so downstream consumers of the reference's DB file keep working.

        Interop utility for SMALL extracts, by design driver-side: rows
        stream through ``toLocalIterator`` in one transaction per batch
        (vs the reference's connection-per-record, app.py:135). This is
        deliberately NOT a data path — at corpus scale the store stays
        parquet and queries run in place; exporting 100 TB through one
        SQLite file is a category error, so no distributed writer is
        provided. Returns the number of record rows exported.
        """
        import sqlite3

        from .quality import INGESTED_COL, VERSION_COL

        recs = self.records()
        meta = {VERSION_COL, INGESTED_COL, ISSUES_COL}
        data_cols = [c for c in recs.columns if c not in meta]
        payload = recs.select(
            F.to_json(F.struct(*data_cols)).alias("data"),
            F.col(VERSION_COL).cast("int").alias("schema_version"),
            F.date_format(INGESTED_COL, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            .alias("ingested_at"),
            F.to_json(F.col(ISSUES_COL)).alias("quality_issues"),
        )
        con = sqlite3.connect(db_path)
        try:
            con.executescript("""
                CREATE TABLE IF NOT EXISTS records (
                    id INTEGER PRIMARY KEY AUTOINCREMENT,
                    data TEXT, schema_version INTEGER,
                    ingested_at TEXT, quality_issues TEXT);
                CREATE TABLE IF NOT EXISTS schema_history (
                    id INTEGER PRIMARY KEY AUTOINCREMENT,
                    version INTEGER, schema TEXT, created_at TEXT);
                CREATE TABLE IF NOT EXISTS schema_changes (
                    id INTEGER PRIMARY KEY AUTOINCREMENT,
                    old_version INTEGER, new_version INTEGER,
                    added_fields TEXT, removed_fields TEXT, created_at TEXT);
            """)
            n = 0
            batch: list[tuple] = []
            for row in payload.toLocalIterator():
                batch.append(tuple(row))
                if len(batch) >= batch_size:
                    con.executemany(
                        "INSERT INTO records "
                        "(data, schema_version, ingested_at, quality_issues) "
                        "VALUES (?,?,?,?)", batch)
                    n += len(batch)
                    batch = []
            if batch:
                con.executemany(
                    "INSERT INTO records "
                    "(data, schema_version, ingested_at, quality_issues) "
                    "VALUES (?,?,?,?)", batch)
                n += len(batch)
            # catalog tables are metadata-small: collect() is correct here
            for r in self.registry.history().orderBy("version").collect():
                con.execute(
                    "INSERT INTO schema_history (version, schema, created_at) "
                    "VALUES (?,?,?)",
                    (r["version"], r["schema_json"],
                     r["created_at"].isoformat()),
                )
            for r in self.registry.changes().orderBy("new_version").collect():
                con.execute(
                    "INSERT INTO schema_changes (old_version, new_version, "
                    "added_fields, removed_fields, created_at) VALUES (?,?,?,?,?)",
                    (r["old_version"], r["new_version"],
                     json.dumps(list(r["added_fields"])),
                     json.dumps(list(r["removed_fields"])),
                     r["created_at"].isoformat()),
                )
            con.commit()
        finally:
            con.close()
        return n

    def migrate(self) -> int:
        """Physically conform drifted partitions to the store's union
        schema (the reference only RECORDS schema evolution,
        app.py:205-215; this applies it). Ingest-time drift leaves each
        ``_schema_version=N`` partition with the column set of ITS
        batch; the package's reads paper over the drift by folding the
        footers' schemas, but plain external readers see only one
        partition's columns. migrate() rewrites ONLY the partitions that
        diverge from the union schema — a missing column is NULL-padded
        with the union dtype, and a column whose TYPE drifted (e.g. an
        int batch followed by a double batch) is cast to the widened
        union dtype (ADVICE r5: padding alone left type conflicts).
        The union schema is computed from every part file's parquet
        footer directly (NOT a mergeSchema read — Spark refuses to
        merge long/double footers, so a type-drifted store can't even
        be read until migrated; this makes migrate() the repair path).
        One partition can hold several schemas: a batch whose types
        drift under an unchanged key set keeps its schema version. The
        widening is numeric: integers widen to the larger integer,
        any integer/fractional mix widens to double, and a
        numeric/string conflict widens to string. Swaps use the same
        atomic per-partition rename as compact(). The
        ``_schema_version`` value is provenance and is preserved — a
        migrated row still says which schema ingested it.

        Content-preserving (records() output is unchanged), so like
        compact() it cuts NO time-travel generation. After it runs, a
        plain non-mergeSchema read serves the full union schema.
        Returns the number of partitions rewritten.
        """
        import shutil

        store = Path(self.records_path)
        with self._mutation_lock():
            self._recover_records()
            if not store.exists():
                return 0
            # union schema from every part file's footer with numeric
            # widening (mergeSchema would refuse long/double drift)
            part_schemas = {
                part_dir: {f: _file_schema(self.spark, f)
                           for f in _leaf_files(str(part_dir))}
                for part_dir in sorted(store.glob("_schema_version=*"))
            }
            union_cols: list[str] = []
            dtypes: dict[str, str] = {}
            for schemas in part_schemas.values():
                for schema in schemas.values():
                    for field in schema.fields:
                        c, t = field.name, field.dataType.simpleString()
                        if c == "_schema_version":
                            continue
                        if c not in dtypes:
                            union_cols.append(c)
                            dtypes[c] = t
                        else:
                            dtypes[c] = _widen_dtype(dtypes[c], t)
            rewritten = 0
            for part_dir, schemas in part_schemas.items():
                groups: dict[T.StructType, list[str]] = {}
                for f, schema in schemas.items():
                    groups.setdefault(schema, []).append(f)
                types = {
                    g: {x.name: x.dataType.simpleString() for x in g.fields}
                    for g in groups
                }
                if all(types[g].get(c) == dtypes[c]
                       for g in groups for c in union_cols):
                    continue
                # each group of same-schema files is read with its own
                # schema, NULL-padded and cast to the union, then unioned
                out = functools.reduce(DataFrame.unionByName, [
                    self.spark.read.schema(g).parquet(*files).select(*[
                        (F.col(c) if c in types[g] else F.lit(None))
                        .cast(dtypes[c]).alias(c)
                        for c in union_cols
                    ])
                    for g, files in groups.items()
                ])
                tmp = part_dir.with_name(part_dir.name + ".migrating")
                out.write.mode("overwrite").parquet(str(tmp))
                old = part_dir.with_name(part_dir.name + ".old")
                part_dir.rename(old)
                tmp.rename(part_dir)
                shutil.rmtree(old)
                rewritten += 1
            return rewritten

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Compact each schema-version partition's micro-batch files.

        Continuous appends leave one small file per batch per partition —
        the classic small-file problem that throttles scan parallelism at
        scale (every file is a task + a footer read). Rewrites each
        partition into ceil(bytes/target) files and swaps atomically via
        rename. Returns the number of partitions compacted.
        """
        import math
        import shutil

        store = Path(self.records_path)
        with self._mutation_lock():
            self._recover_records()
            if not store.exists():
                return 0
            compacted = 0
            for part_dir in sorted(store.glob("_schema_version=*")):
                files = [f for f in part_dir.glob("*.parquet")]
                if len(files) <= 1:
                    continue
                total = sum(f.stat().st_size for f in files)
                n_out = max(1, math.ceil(total / target_file_bytes))
                tmp = part_dir.with_name(part_dir.name + ".compacting")
                (
                    self.spark.read.parquet(str(part_dir))
                    .repartition(n_out)
                    .write.mode("overwrite").parquet(str(tmp))
                )
                old = part_dir.with_name(part_dir.name + ".old")
                part_dir.rename(old)
                tmp.rename(part_dir)
                shutil.rmtree(old)
                compacted += 1
            return compacted
