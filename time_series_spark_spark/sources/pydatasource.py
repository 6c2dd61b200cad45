"""A11 (round 5): custom Python DataSource (Spark 4 `pyspark.sql.datasource`)
— the extension point for reading systems Spark has no built-in connector
for. This one is a deterministic synthetic-series generator, which gives
the repo a corpus-independent load source AND demonstrates the two things
a production connector must get right at 100 TB:

- **partition planning**: `partitions()` returns one `InputPartition` per
  series shard, so Spark schedules reads in parallel with no driver
  bottleneck (the generator is rate-unbounded; a real connector would
  shard by file/offset/key-range exactly the same way);
- **filter pushdown**: `pushFilters()` accepts series_id range/equality
  predicates and PRUNES SHARDS before any row is generated — the Python
  analogue of parquet row-group pruning (Spark 4.1 `SupportsPushFilters`);
  unsupported predicates are returned so Spark re-applies them on top.

Rows are generated per-series from a seed-derived RNG, so the output is
bit-identical regardless of partition count or scheduling order — pinned
by tests/test_udfs.py.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    SimpleDataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from time_series_spark_spark.sources import fsio

SCHEMA = "series_id bigint, ts timestamp, value double"
_EPOCH_US = 1_700_000_000_000_000  # fixed base so output is reproducible


class _SeriesShard(InputPartition):
    def __init__(self, series_ids: Sequence[int]):
        self.series_ids = list(series_ids)


class SyntheticSeriesReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_series = int(options.get("n_series", 16))
        self.points = int(options.get("points_per_series", 96))
        self.seed = int(options.get("seed", 7))
        self.n_shards = int(options.get("n_shards", 4))
        self.step_us = int(float(options.get("freq_hours", 1.0)) * 3_600_000_000)
        self.lo = 0  # series_id bounds, narrowed by pushed filters
        self.hi = self.n_series - 1

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Absorb series_id range/equality predicates into shard pruning;
        yield back everything else for Spark to evaluate post-scan.

        Not every Filter dataclass carries ``attribute`` (pyspark 4.x ``Not``
        wraps a ``child`` instead), so probe with getattr — a pushed negation
        must be yielded back for Spark to re-apply, not crash the read."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[-1] if attr else None
            if col == "series_id" and isinstance(f, EqualTo):
                self.lo = max(self.lo, int(f.value))
                self.hi = min(self.hi, int(f.value))
            elif col == "series_id" and isinstance(f, GreaterThan):
                self.lo = max(self.lo, int(f.value) + 1)
            elif col == "series_id" and isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, int(f.value))
            elif col == "series_id" and isinstance(f, LessThan):
                self.hi = min(self.hi, int(f.value) - 1)
            elif col == "series_id" and isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, int(f.value))
            else:
                yield f  # unsupported → Spark re-applies it

    def partitions(self) -> Sequence[_SeriesShard]:
        ids = [s for s in range(self.n_series) if self.lo <= s <= self.hi]
        shards = [
            _SeriesShard(ids[i :: self.n_shards])
            for i in range(self.n_shards)
        ]
        return [sh for sh in shards if sh.series_ids]

    def read(self, partition: _SeriesShard):
        import datetime

        import numpy as np

        for sid in partition.series_ids:
            # per-SERIES rng: output independent of sharding/scheduling
            rng = np.random.default_rng(self.seed * 100_003 + sid)
            noise = rng.normal(0.0, 0.5, self.points)
            t = np.arange(self.points)
            vals = (
                10.0
                + sid
                + 3.0 * np.sin(2 * np.pi * t / 24.0)
                + noise
            )
            for i in range(self.points):
                ts = datetime.datetime.fromtimestamp(
                    (_EPOCH_US + i * self.step_us) / 1e6,
                    tz=datetime.timezone.utc,
                ).replace(tzinfo=None)
                yield (sid, ts, round(float(vals[i]), 6))


class SyntheticSeriesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_series"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> SyntheticSeriesReader:
        return SyntheticSeriesReader(self.options)


def register_synthetic_source(spark) -> None:
    """Idempotent registration of the custom source on a session.
    Python-source filter pushdown ships disabled in Spark 4.1; it is a
    runtime SQL conf, so enabling it here keeps the source working under
    the driver's plain session."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticSeriesDataSource)


# --------------------------------------------------------------------------
# A12: streaming Python DataSource (SimpleDataSourceStreamReader)
# --------------------------------------------------------------------------
class SyntheticTickStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked synthetic tick stream: each micro-batch emits the
    rows between the last committed offset and `latest = committed +
    rows_per_batch`, capped at ``max_rows``. Offsets are plain dicts
    ({"i": n}) checkpointed by the engine — the exactly-once bookkeeping
    a real queue connector implements against its broker; here the
    'broker' is the deterministic generator, so replay-equivalence is
    provable. Note: Trigger.AvailableNow falls back to single-batch
    execution for simple stream readers (engine limitation, logged by
    MicroBatchExecution), so the registered drain query sizes one batch
    to the cap; multi-batch offset advancement and readBetweenOffsets
    failure-replay are exercised reader-level in pytest."""

    def __init__(self, options: dict):
        self.rows_per_batch = int(options.get("rows_per_batch", 50))
        self.max_rows = int(options.get("max_rows", 200))
        self.seed = int(options.get("seed", 7))
        self.step_us = int(options.get("freq_seconds", 60)) * 1_000_000

    def initialOffset(self) -> dict:
        return {"i": 0}

    def _rows(self, start: int, end: int) -> list:
        # a LIST, not a generator: the engine pickles the prefetched
        # batch for replay, and generators cannot be pickled
        import datetime

        import numpy as np

        rows = []
        for i in range(start, end):
            rng = np.random.default_rng(self.seed * 999_983 + i)
            ts = datetime.datetime.fromtimestamp(
                (_EPOCH_US + i * self.step_us) / 1e6,
                tz=datetime.timezone.utc,
            ).replace(tzinfo=None)
            rows.append((i, ts, round(float(10.0 + rng.normal(0.0, 1.0)), 6)))
        return rows

    def read(self, start: dict):
        i0 = start["i"]
        i1 = min(i0 + self.rows_per_batch, self.max_rows)
        return self._rows(i0, i1), {"i": i1}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replayed after a failure: must be deterministic for the range
        return self._rows(start["i"], end["i"])

    def commit(self, end: dict) -> None:
        pass  # generator has nothing to acknowledge


class SyntheticTickStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_ticks"

    def schema(self) -> str:
        return "tick_id bigint, ts timestamp, value double"

    def simpleStreamReader(self, schema) -> SyntheticTickStreamReader:
        return SyntheticTickStreamReader(self.options)


def _pickle_module_by_value() -> None:
    """Make this module's DataSource classes self-contained under pickle.

    The engine cloudpickles a registered Python DataSource and unpickles
    it in separate Python workers. Executor-side workers see files shipped
    via ``addPyFile``, but the DRIVER-side planner worker for streaming
    sources (``python_streaming_source_runner``) does not — a class
    pickled by reference to ``time_series_spark_spark`` raises
    ModuleNotFoundError there when the repo isn't on that interpreter's
    path. Registering this module and ``fsio`` (the versioned table's
    reader, which imports only the stdlib and pyarrow) for pickle-BY-VALUE
    embeds their definitions in the pickle itself, so no worker needs the
    package importable. Idempotent; uses pyspark's vendored cloudpickle
    (the one the engine serializes with)."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(fsio)


def register_tick_stream_source(spark) -> None:
    _pickle_module_by_value()
    spark.dataSource.register(SyntheticTickStreamDataSource)


# ---------------------------------------------------------------------------
# J11e (round 9): streaming source OVER the A13 manifest-versioned table —
# the read-side complement of the J11d sink (Delta's streaming read /
# incremental version feed, from first principles). It resolves versions
# through ``fsio`` — both modules are pickled by value into the planner
# worker (see _pickle_module_by_value).
# ---------------------------------------------------------------------------
def _table_fs(path: str) -> fsio.TableFS:
    """The table at ``path`` on the pyarrow filesystem its scheme names
    (local, s3://, hdfs://, gs://…). A plain local path is made absolute,
    so the driver and the planner worker resolve the same table."""
    import os

    from pyarrow import fs as pafs

    if "://" not in path:
        path = os.path.abspath(path)
    fs, root = pafs.FileSystem.from_uri(path.rstrip("/"))
    return fsio.TableFS(root, fs)


class _VersionFileSlice(InputPartition):
    """One input partition = a BIN-PACKED list of chunks, each chunk a
    contiguous run of ROW GROUPS of one data file of one committed
    version. Two sizing rules, both Spark's own file-scan model:

    - a single BIG file splits at row-group boundaries into multiple
      partitions (round 10 — the A19 lesson: parquet parallelizes only
      at row groups, so one-partition-per-FILE would serialize the read
      of a large appended file);
    - many SMALL files pack into one partition until
      ``max(bytes, OPEN_COST_BYTES)`` sums past the target (round 11 —
      the FilePartition/openCostInBytes lesson: streaming sinks commit
      small files at micro-batch cadence, and for a PYTHON data source
      every partition is a worker round-trip, so one-partition-per-file
      turns a 100-version backfill into thousands of fixed-overhead
      tasks).
    """

    def __init__(self, chunks: list):
        # chunks: [(file_path, version, [row_group, ...]), ...]
        self.chunks = chunks

    # single-chunk accessors (the common steady-state shape; also keeps
    # the big-file-split tests reading naturally)
    @property
    def file_path(self) -> str:
        (fp, _, _), = self.chunks
        return fp

    @property
    def version(self) -> int:
        (_, v, _), = self.chunks
        return v

    @property
    def row_groups(self) -> list:
        (_, _, rgs), = self.chunks
        return rgs


class VersionedTableStreamReader(DataSourceStreamReader):
    """Incremental version feed over a manifest-versioned table
    (`sources/io.py::write_versioned`): offsets are COMMITTED VERSION
    NUMBERS ({"version": v} = versions ≤ v consumed), each micro-batch
    emits the data files ADDED by versions (start, end], and every row
    carries a ``_commit_version`` column (Delta CDF's _commit_version).

    Scale/semantics notes, in the order they matter at 100 TB:

    - **Planning is manifest-only.** latestOffset() reads the
      latest-version hint; partitions() reads each version's manifest
      once (its ``adds``) — never opens a data file.
    - **One InputPartition per added file** → Spark schedules reads in
      parallel; read() streams pyarrow record batches (Arrow path, no
      per-row Python), cast to the table's committed schema.
    - **Append-only contract** (what the J11d sink writes): by default a
      REPLACE commit's files all count as "added" — rows from replaced
      versions are not retracted (Delta's ignoreChanges). Pass
      ``.option("onReplace", "fail")`` to get Delta's default posture
      instead: the plan fails loudly on any replace commit in the feed
      range (round 11; manifests record the commit ``mode``).
      ``mode="optimize"`` commits (dataChange=false layout rewrites —
      OPTIMIZE/ZORDER, round 13) emit NOTHING under either posture:
      the rows are the snapshot's own, so re-emitting would duplicate
      them and failing would forbid compacting a streamed table.
    - **Vacuum interplay**: manifests survive vacuum_versioned, so
      offset arithmetic always works, but data files below the
      retention floor may be gone — a start offset below ``floor − 1``
      raises loudly (the read would be silently partial otherwise),
      mirroring read_versioned's floor check.
    - **Replay-safe**: partitions(start, end) is a pure function of the
      immutable manifests, so a post-crash replay of a committed range
      reads byte-identical data.
    - **Known limitation — no admission control**: the Python
      ``DataSourceStreamReader`` API has no ``latestOffset(start, limit)``
      hook (Spark's SupportsAdmissionControl), so a backfill plans the
      whole pending range as ONE micro-batch (availableNow captures the
      target offset once). A stateful workaround (tracking the last
      committed offset in the reader) breaks on restart — the first
      post-restart trigger cannot know the checkpointed position — so it
      is deliberately not attempted; bounded-batch backfill at 100 TB
      should seed from a bounded snapshot (initial floor) or wait for
      the engine API to grow the hook.
    """

    def __init__(self, options: dict, schema=None):
        path = options.get("path")
        if not path:
            raise ValueError("versioned_table source requires .option('path', ...)")
        # options carry strings only, so the filesystem is resolved from
        # the path's scheme rather than injected
        self.tfs = _table_fs(path)
        # onReplace: what to do when the feed range contains a REPLACE
        # commit (overwrite). "added" (default, the documented behavior)
        # emits the replace's files as adds without retracting replaced
        # rows — Delta's ignoreChanges. "fail" raises at plan time —
        # Delta's default posture, for consumers whose downstream state
        # would be silently corrupted by re-emitted data.
        self.on_replace = str(options.get("onReplace", "added")).lower()
        if self.on_replace not in ("added", "fail"):
            raise ValueError(
                f"onReplace must be 'added' or 'fail', got {self.on_replace!r}"
            )
        # the declared source schema (latest manifest + _commit_version);
        # read() pads/casts every file to it so commits written BEFORE an
        # additive schema change stream null-filled, exactly like the
        # batch read (A13c)
        self._schema = schema

    def initialOffset(self) -> dict:
        # Fresh consumer: begin with the FULL SNAPSHOT of the retention
        # floor version (Delta's isStartingVersion), then increments.
        # Snapshot-at-floor, not added-files-since-floor: carry-forward
        # manifests mean the floor version REFERENCES files first added
        # by pruned versions — a fresh consumer must still see those
        # rows (they are part of every readable snapshot).
        return {"version": fsio.retention_floor(self.tfs), "snapshot": True}

    def latestOffset(self) -> dict:
        # once per micro-batch → must not LIST the manifest directory
        # (O(versions) at streaming cadence): the latest-version hint
        # makes this O(1)
        latest = fsio.latest_version(self.tfs)
        if latest is None:
            raise FileNotFoundError(f"no committed versions in {self.tfs.root}")
        return {"version": latest, "snapshot": False}

    # pack row-group runs into input partitions of roughly this many
    # (uncompressed) bytes — the same knob as Spark's maxPartitionBytes;
    # small-group files still coalesce into one task, a single huge
    # multi-group file fans out
    TARGET_SLICE_BYTES = 128 * 1024 * 1024
    # a small file still costs a file open + a Python-worker task — count
    # every chunk as at least this many bytes when bin-packing, so a
    # micro-batch of tiny streaming-sink files coalesces instead of
    # scheduling one fixed-overhead task per file (Spark's
    # spark.sql.files.openCostInBytes, same default)
    OPEN_COST_BYTES = 4 * 1024 * 1024

    def partitions(self, start: dict, end: dict):
        """Plan the micro-batch (start, end] from MANIFESTS ONLY: the
        full file list (delta-chain walk) of the snapshot version when
        ``start`` is the initial snapshot offset, plus each later
        version's ``adds``. Row-group split points come from the
        manifests' commit-time ``add_stats``/``file_stats`` (the writer
        read the footers it had just produced — round 11), so planning
        does ZERO data-file I/O. Offsets whose data files may have been
        vacuumed (below the retention floor) fail loudly AT PLAN TIME —
        an O(1) floor comparison, not a per-file existence probe —
        instead of surfacing a partial scan; files added at versions ≥
        floor are referenced by a retained manifest and therefore never
        pruned."""
        tfs = self.tfs
        v0 = int(start["version"])
        v1 = int(end["version"])
        floor = fsio.retention_floor(tfs)
        stats: dict = {}
        if start.get("snapshot", False):
            if v0 < floor:
                raise ValueError(
                    f"snapshot version {v0} was pruned by vacuum "
                    f"(retention floor {floor} of {self.tfs.root}): "
                    "restart from a fresh checkpoint to read the floor "
                    "snapshot"
                )
            snap = fsio.Snapshot(tfs, v0)
            if snap.has_dvs:
                # merge-on-read tombstones (round 14): the snapshot read
                # here is raw pyarrow row-group slices — emitting it
                # would resurrect every logically-deleted row for the
                # fresh consumer. Materialize first (one OPTIMIZE — a
                # dataChange=false commit this source already skips),
                # then start the stream. Failing loudly beats silently
                # feeding deleted rows downstream.
                raise ValueError(
                    f"snapshot version {v0} of {self.tfs.root} carries "
                    "merge-on-read deletion vectors; a fresh stream "
                    "would emit logically-deleted rows — run "
                    "compact_versioned (OPTIMIZE materializes the "
                    "tombstones as a dataChange=false commit) and start "
                    "the stream after it"
                )
            todo = [(v0, rel) for rel in snap.files]
            stats.update(snap.file_stats)
        else:
            if v0 + 1 < floor:
                raise ValueError(
                    f"versions {v0 + 1}..{min(v1, floor - 1)} may have "
                    f"data files pruned by vacuum (retention floor "
                    f"{floor} of {self.tfs.root}): this checkpoint "
                    "cannot be resumed — restart from a fresh "
                    "checkpoint to read the floor snapshot"
                )
            todo = []
        for v in range(v0 + 1, v1 + 1):
            m = fsio.read_manifest(tfs, v)
            mode = m["mode"]
            if mode == "optimize":
                # dataChange=false (round 13 — Delta's OPTIMIZE posture):
                # a pure layout rewrite of the SAME logical rows emits
                # NOTHING under either onReplace posture — re-emitting
                # its adds would duplicate every row downstream, and
                # failing would make compaction of a streamed table
                # impossible
                continue
            if self.on_replace == "fail" and mode != "append":
                # replace AND restore both leave downstream state stale:
                # replace re-emits rows as adds, restore logically
                # REMOVES rows without retracting them
                raise ValueError(
                    f"version {v} of {self.tfs.root} is a "
                    f"{mode.upper()} commit and this "
                    "stream was started with onReplace=fail: downstream "
                    "state would silently diverge — restart from a "
                    "fresh checkpoint (snapshot-at-floor) or read with "
                    "onReplace=added to accept it"
                )
            todo += [(v, rel) for rel in sorted(m["adds"])]
            stats.update(m["add_stats"])
        # (1) split each file into row-group runs of ≤ TARGET_SLICE_BYTES
        chunks: list = []  # (path, version, [row groups], bytes)
        for v, rel in todo:
            p = tfs.path(rel)
            run: list = []
            run_bytes = 0
            for g, gb in enumerate(stats[rel]):
                if run and run_bytes + gb > self.TARGET_SLICE_BYTES:
                    chunks.append((p, v, run, run_bytes))
                    run, run_bytes = [], 0
                run.append(g)
                run_bytes += gb
            if run:
                chunks.append((p, v, run, run_bytes))
        # (2) bin-pack runs into input partitions, each run costing at
        # least OPEN_COST_BYTES — tiny streaming-commit files share one
        # Python-worker task, big files keep one task per run
        parts = []
        pack: list = []
        pack_cost = 0
        for p, v, run, run_bytes in chunks:
            cost = max(run_bytes, self.OPEN_COST_BYTES)
            if pack and pack_cost + cost > self.TARGET_SLICE_BYTES:
                parts.append(_VersionFileSlice(pack))
                pack, pack_cost = [], 0
            pack.append((p, v, run))
            pack_cost += cost
        if pack:
            parts.append(_VersionFileSlice(pack))
        # a batch may legitimately add zero files (empty commit) — an
        # empty list yields an empty micro-batch
        return parts

    def read(self, partition: "_VersionFileSlice"):
        import pyarrow as pa
        import pyarrow.parquet as pq

        target = None
        if self._schema is not None:
            # pad/cast to the declared schema (minus the version stamp):
            # files predating an additive schema change lack the added
            # columns — null-fill them, mirroring the batch read
            from pyspark.sql.pandas.types import to_arrow_schema

            import pyspark.sql.types as T

            target = to_arrow_schema(
                T.StructType(
                    [
                        f
                        for f in self._schema.fields
                        if f.name != "_commit_version"
                    ]
                )
            )
        for file_path, version, row_groups in partition.chunks:
            table = pq.ParquetFile(
                file_path, filesystem=self.tfs.fs
            ).read_row_groups(row_groups)
            if target is not None:
                arrays = [
                    table[f.name].cast(f.type)
                    if f.name in table.column_names
                    else pa.nulls(table.num_rows, type=f.type)
                    for f in target
                ]
                table = pa.table(arrays, schema=target)
            ver = pa.array([version] * table.num_rows, type=pa.int64())
            table = table.append_column("_commit_version", ver)
            yield from table.to_batches(max_chunksize=1 << 16)

    def commit(self, end: dict) -> None:
        pass  # manifests are immutable; nothing to acknowledge

    def stop(self) -> None:
        pass


class VersionedTableStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def schema(self):
        import json

        from pyspark.sql.types import LongType, StructField, StructType

        tfs = _table_fs(self.options["path"])
        latest = fsio.latest_version(tfs)
        if latest is None:
            raise FileNotFoundError(f"no committed versions in {tfs.root}")
        st = StructType.fromJson(
            json.loads(fsio.read_manifest(tfs, latest)["schema"])
        )
        # the feed schema is NULLABLE everywhere: files committed before
        # an additive schema change are null-padded for the added
        # columns, so a non-nullable field in the latest commit's schema
        # (e.g. from spark.range) would make the Arrow reader reject the
        # padding ("Value at index is null")
        st = StructType(
            [
                StructField(f.name, f.dataType, nullable=True, metadata=f.metadata)
                for f in st.fields
            ]
        )
        return st.add("_commit_version", LongType())

    def streamReader(self, schema) -> VersionedTableStreamReader:
        return VersionedTableStreamReader(self.options, schema)


def register_versioned_table_stream_source(spark) -> None:
    _pickle_module_by_value()
    spark.dataSource.register(VersionedTableStreamDataSource)
