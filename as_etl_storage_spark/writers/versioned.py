"""Versioned tables: a minimal transaction-log layer over parquet.

Delta Lake is not available in this environment; this module provides the
subset of its semantics the engine's write modes promise — atomic commits,
snapshot isolation, and time travel — with the same mechanism Delta uses:
an append-only log of manifest files, one per version, each listing the
data files that make up that version.

    <table>/
      _log/00000000.json             {"version": 0, "op": "overwrite",
                                      "files": [...]}    full snapshot
      _log/00000001.json             {"version": 1, "op": "append",
                                      "add": [...]}      delta
      _log/00000010.checkpoint.parquet  checkpoint: one row per data file
                                     (path + JSON stats/dv cells + bloom
                                     sidecar ref), O(1) metadata in the
                                     footer. FULL (self-contained) or
                                     INCREMENTAL (rows = adds since the
                                     ``base_cp`` checkpoint — Delta's v2
                                     shape; chains compact periodically)
                                     (legacy *.checkpoint.json still read)
      _filters/flt-....parquet       bloom-filter sidecars (opt-in
                                     vt.bloomFilter.* TBLPROPERTIES),
                                     one per commit, referenced by the
                                     manifests' ``filters`` maps
      part-....parquet               data files (immutable once committed)

Commit protocol: write data files first (invisible until referenced), then
publish the next manifest with the log store's ``put_if_absent`` — the
store's atomic-exclusive create is the commit point, and a concurrent
committer loses the race and retries on a fresh version number
(optimistic concurrency, like Delta). The store is injectable (Delta's
LogStore abstraction, see logstore.py): POSIX ``os.link`` semantics by
default, conditional put for S3-class object stores with no atomic
rename. Readers list the log once and pin a version => consistent
snapshots for free; old versions stay readable until vacuumed.

Log scale (the part that must survive a 100 TB table with ~10^6 data
files and an unbounded commit history): an *append* manifest records only
its OWN files (``add``) — commit cost is O(new files), independent of
table size, and two concurrent appends can never lose each other's files
because neither rewrites the full list. Overwrite/replace are full
snapshots by nature (``files``) — they reset the state. A reader
reconstructs version v by walking back from v to the nearest full
snapshot — a ``*.checkpoint.parquet`` (written best-effort every
CHECKPOINT_EVERY appends, exactly Delta's parquet checkpoint) or a
full manifest — then replaying the ``add`` deltas forward; replay depth
is bounded by CHECKPOINT_EVERY. vacuum writes a checkpoint at the oldest
retained version before truncating older manifests, so retained delta
versions never dangle (Delta's rule: never clean the log past the last
checkpoint).
"""

from __future__ import annotations

import functools
import itertools
import json
import operator
import os
import re
import time
import uuid
from array import array
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class VersionedTableError(RuntimeError):
    pass


class _CheckpointChainBroken(VersionedTableError):
    """An incremental checkpoint references a base checkpoint that no
    longer exists (vacuumed). Internal: the log replay (_replay) catches
    it and falls back to replaying manifests — vacuum guarantees a
    self-contained full snapshot at the oldest retained version, so the
    fallback always terminates."""


#: best-effort full-snapshot checkpoint cadence: bounds a reader's delta
#: replay depth AND the log prefix vacuum must preserve. Small enough to
#: keep replay trivial, large enough that checkpoint writes (O(files))
#: stay rare on an append-heavy workload.
CHECKPOINT_EVERY = 10

#: incremental (v2-style) checkpoint chain bound: at most this many
#: incremental checkpoints may stack on one full checkpoint before the
#: next checkpoint write compacts the chain back to a full snapshot.
#: Steady-state append-only ingest therefore writes O(delta) checkpoints
#: (independent of table file count) and pays one O(files) full
#: checkpoint every ``(INCREMENTAL_CHAIN_MAX + 1) * CHECKPOINT_EVERY``
#: appends — Delta's v2-checkpoint shape (sidecar deltas + periodic
#: compaction), with the delta rows carried in the checkpoint file
#: itself rather than separate sidecars.
INCREMENTAL_CHAIN_MAX = 9

#: full-snapshot commits (overwrite / replace / DML rewrite / convert /
#: restore) at or above this file count get an immediate best-effort
#: full checkpoint, built from the IN-MEMORY manifest (zero JSON
#: re-parse, see the manifest cache in _commit): later property walks
#: and checkpoint writes then terminate at the parquet checkpoint's
#: footer instead of re-parsing an O(files) JSON manifest — the last
#: O(files) JSON parse in the log path. Small snapshots skip it: the
#: manifest parse they would avoid is already trivial.
SNAPSHOT_CHECKPOINT_MIN_FILES = 64


class _OpPolicy(NamedTuple):
    #: the op can remove or change a row: a ``vt.appendOnly`` table
    #: refuses it at the commit gate (Delta's delta.appendOnly)
    changes_rows: bool
    #: False records ``data_change: false`` — the version re-packs the
    #: same rows or changes only metadata, so incremental consumers skip
    #: it instead of erroring into a full re-read
    data_change: bool
    #: a concurrent commit is no conflict: an append delta composes with
    #: any winner by construction, an overwrite is whole-table
    #: last-writer-wins. Every other op was computed against its base
    #: snapshot and aborts (past the rebase over concurrent pure appends
    #: that ``rebase_on_appends`` allows)
    composes: bool


_CHANGES_ROWS = _OpPolicy(True, True, False)
_NO_DATA_CHANGE = _OpPolicy(False, False, False)

#: THE per-op commit policy: every op that commits has exactly one row.
_OP_POLICY: dict[str, _OpPolicy] = {
    "append": _OpPolicy(False, True, True),
    "overwrite": _OpPolicy(True, True, True),
    **dict.fromkeys(
        (
            "delete",
            "update",
            "merge",
            "replace",
            "replace_where",
            "overwrite_partitions",
            "restore",
        ),
        _CHANGES_ROWS,
    ),
    # clone/convert: the target-must-be-empty pre-check is TOCTOU; a
    # collision means another writer beat us to the fresh log, and
    # publishing on top would silently replace their content
    "clone": _OpPolicy(False, True, False),
    "convert": _OpPolicy(False, True, False),
    # compact and the row-tracking backfill rewrite the SAME rows (the
    # backfill only materializes the hidden id column) from a snapshot
    # a last-writer-wins commit would make stale; metadata-only DDL was
    # validated against its base (a drop's not-found check included)
    **dict.fromkeys(
        (
            "compact",
            "enable_row_tracking",
            "set_properties",
            "unset_properties",
            "add_constraint",
            "drop_constraint",
            "add_column",
            "add_generated_column",
            "add_identity_column",
            "drop_column",
            "widen_column",
            "rename_column",
        ),
        _NO_DATA_CHANGE,
    ),
}

#: table properties every full snapshot carries forward unless the
#: commit sets them (restore passes its source version's maps,
#: overwrite_schema resets the generated map): the ``_walk_to`` keys a
#: snapshot or checkpoint must record so the walk terminates on them.
_CARRIED = ("constraints", "properties", "generated", "identity")

#: merge-on-read: a scan subtracts small deletion vectors with one
#: filter on (file, row position) that the driver builds from the
#: ``_dv/`` sidecars — no Spark job (``_subtract_dv``). The filter holds
#: one bitmap per vectored file and looks each row's file up among them;
#: past this many sidecar rows to read on the driver (from the sidecars'
#: footers, before any position is read) or bitmap words to build, or
#: past this many vectored files to look up, the scan anti-joins the
#: sidecars instead.
DV_FILTER_MAX_ROWS = 100_000
DV_FILTER_MAX_FILES = 64

_DV_SCHEMA = "__vt_file string, __vt_pos bigint"


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


@functools.lru_cache(maxsize=4096)
def _dv_rows(path: str) -> int:
    """Rows of one ``_dv/`` sidecar, from its footer."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


@functools.lru_cache(maxsize=256)
def _dv_positions(path: str) -> dict[str, array]:
    """Data-file basename → masked row positions of one ``_dv/`` sidecar,
    read with pyarrow on the driver. Sidecars are immutable (uuid-named,
    never rewritten), so the read is memoized by path; callers read only
    sidecars within ``DV_FILTER_MAX_ROWS``, so the memo holds at most
    256 × that many 8-byte positions."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["__vt_file", "__vt_pos"])
    out: dict[str, array] = {}
    for f, pos in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
        out.setdefault(f, array("q")).append(pos)
    return out


class _Change(NamedTuple):
    """What one row-level DML does to the rows of the files it touched,
    as its ``build`` states it to ``_rewrite_commit``."""

    #: scanned rows that leave the table (masked by a vector, or dropped
    #: from a rewritten file); they keep the scan's (file, position)
    leave: DataFrame | None
    #: scanned rows that stay (written again only for rewritten files)
    keep: DataFrame | None
    #: changed rows' new images, written to fresh files
    images: DataFrame | None = None
    #: inserted rows, written to fresh files (the only rows identity
    #: columns allocate for)
    insert: DataFrame | None = None
    #: change-data frames (Delta CDF), each with its ``_change_type``
    cdf: list = []


#: the comparison each ``(col, op, literal)`` triple names
_COMPARE = {"=": operator.eq, "<": operator.lt, "<=": operator.le,
            ">": operator.gt, ">=": operator.ge}


def _union_all(frames: list) -> DataFrame | None:
    """unionByName of the non-None ``frames``; None when there are none."""
    live = [f for f in frames if f is not None]
    return functools.reduce(DataFrame.unionByName, live) if live else None


def _layout_only(manifest: dict) -> bool:
    """True for a version that re-packed the SAME rows (compact /
    OPTIMIZE): its manifest carries ``data_change: false`` (Delta's flag
    on OPTIMIZE add-actions), with the op name as the fallback for
    manifests written before the flag existed. Incremental consumers
    (``changes()``, the ``versioned_changes`` stream source) skip these
    versions wholesale — the content delta across any range is exactly
    its append deltas, however the snapshot is packed."""
    return manifest.get("data_change") is False or manifest.get("op") == "compact"


class VersionedTable:
    def __init__(self, spark: SparkSession, path: str, log_store=None):
        from as_etl_storage_spark.writers.logstore import PosixLogStore

        self.spark = spark
        # normalized: a trailing separator would break every
        # prefix/startswith comparison against self.path (notably the
        # basePath ancestor guard in _scan_files — failing it silently
        # reads hive partition columns as NULL)
        self.path = os.path.normpath(path)
        self.log_dir = os.path.join(self.path, "_log")
        # the LOG's storage primitive (Delta's LogStore): every
        # manifest/checkpoint byte goes through it, so commit atomicity
        # is a property of the injected store, not of this class —
        # POSIX os.link semantics by default; an object store brings
        # its conditional put. Data files are out of scope (Spark
        # writes them; a commit only makes them visible by reference).
        self._store = log_store if log_store is not None else PosixLogStore()
        # commit-timestamp memo for resolve_timestamp: manifests are
        # immutable once written, so a (version -> ts) entry never goes
        # stale; repeated timestamp reads/stream starts stop re-parsing
        # the whole log (the walk itself is cheap — ~tens of ms per
        # 1,000 manifests, see SCALE.md log_1k_versions — this bounds
        # the REPEATED cost)
        self._ts_memo: dict[int, float] = {}
        # transient manifest cache (path -> parsed dict): populated by
        # _commit around the post-snapshot checkpoint write so the
        # walks the checkpoint assembly runs terminate at the JUST-
        # COMMITTED manifest without re-parsing its (possibly O(files))
        # JSON from disk. Never long-lived: entries are removed in the
        # same finally block that installed them.
        self._mf_cache: dict[str, dict] = {}
        # bloom-filter sidecar names for files staged by THIS op,
        # accumulated by _write_data_files and drained into the
        # manifest by _commit (file -> sidecar relpath). Stale entries
        # are harmless (uuid file names never recur) but _commit clears
        # the map on publish to bound growth.
        self._pending_filters: dict[str, str] = {}

    @classmethod
    def convert(
        cls,
        spark: SparkSession,
        path: str,
        partition_by: list[str] | None = None,
        log_store=None,
        distributed: bool = False,
    ) -> "VersionedTable":
        """CONVERT an existing plain-parquet directory into a versioned
        table IN PLACE (Delta's ``CONVERT TO DELTA``): commits a v0
        full-snapshot manifest referencing the directory's files where
        they lie — zero bytes rewritten — with per-file stats read from
        their footers and the merged schema recorded in the log. The
        migration primitive: a pipeline already writing plain parquet
        adopts transactions, time travel, DML and OCC with one metadata
        commit; every later write goes through the normal protocol.

        Hive-partitioned layouts convert too, but the partition columns
        must be DECLARED (``partition_by=[...]``, Delta's own rule for
        CONVERT on partitioned tables) and must match the directory
        segments — inferring them silently would bake a wrong layout
        into the log. Duplicate file BASENAMES across partition
        directories are refused (file identity inside DML/DV scans is
        basename-keyed; Spark's own writers never produce them).

        ``distributed=True`` fans the one-time footer-stat collection
        out as a Spark job (per-partition pyarrow footer reads, the
        distributed-vacuum shape) instead of a driver loop — the object
        store / 10^6-file path, where a serial million-footer driver
        loop is the bottleneck. Requires executors to see the table's
        filesystem (trivially true locally). Everything after v0 is the
        normal O(new-files) protocol either way."""
        vt = cls(spark, path, log_store=log_store)
        if vt.latest_version() is not None:
            raise VersionedTableError(
                f"{path} already has a transaction log; convert targets "
                f"plain parquet directories only"
            )
        files: list[str] = []
        for root, dirs, names in os.walk(vt.path):
            dirs[:] = [
                d
                for d in dirs
                if d not in ("_log", "_cdc", "_dv", "_filters")
                and not d.startswith("__stage__")
                and not d.startswith(".")
            ]
            for f in names:
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    files.append(
                        os.path.relpath(os.path.join(root, f), vt.path)
                    )
        if not files:
            raise VersionedTableError(
                f"no parquet files under {path}; nothing to convert"
            )
        files.sort()
        # ALL validations run BEFORE the de-collision rename pass below:
        # a convert that fails validation must leave the plain-parquet
        # directory untouched, not mutated-but-uncommitted
        # declared vs actual hive layout: every file must carry exactly
        # the declared segments (order-insensitively present)
        pb = list(partition_by or [])
        want = {c.lower() for c in pb}
        for f in files:
            got = {c.lower() for c in cls._hive_segment_cols(f)}
            if got != want:
                raise VersionedTableError(
                    f"convert: file {f!r} carries partition segments "
                    f"{sorted(got)} but partition_by={pb}; every file "
                    f"must match the declared layout exactly (Delta's "
                    f"CONVERT rule for partitioned tables)"
                )
        reader = spark.read.option("mergeSchema", "true")
        if pb:
            reader = reader.option("basePath", vt.path)
        schema = reader.parquet(
            *(os.path.join(vt.path, f) for f in files)
        ).schema
        clash = [
            f.name
            for f in schema.fields
            if f.name.lower() in cls._RESERVED_NAMES
        ]
        if clash:
            raise VersionedTableError(
                f"convert: column names {clash} are reserved for "
                f"internal row identity / manifest bookkeeping"
            )
        # file identity inside DML/DV scans is basename-keyed (internal
        # writes mint unique names); Spark's dynamic-partition writes
        # legitimately reuse one task's filename across partition dirs,
        # so convert de-collides by renaming the 2nd+ occurrence IN
        # PLACE (same directory, fresh unique name) — convert takes
        # ownership of the directory, exactly Delta's CONVERT posture
        seen: set[str] = set()
        for i, f in enumerate(files):
            bn = os.path.basename(f)
            if bn in seen:
                fresh = f"part-{uuid.uuid4().hex[:12]}.parquet"
                rel = os.path.join(os.path.dirname(f), fresh)
                os.rename(
                    os.path.join(vt.path, f), os.path.join(vt.path, rel)
                )
                files[i] = rel
                bn = fresh
            seen.add(bn)
        known = None
        if distributed and files:
            root = vt.path
            sc = spark.sparkContext
            known = dict(
                sc.parallelize(
                    files, max(1, min(64, len(files) // 1000 + 1))
                )
                .map(lambda n: (n, VersionedTable._file_stats(root, n)))
                .collect()
            )
        v = vt._commit(
            files,
            "convert",
            None,
            known_stats=known,
            partition_by=pb,
            schema=cls._nullable_json(schema),
            params={"n_files": len(files), "distributed": distributed},
        )
        assert v == 0
        return vt

    @staticmethod
    def _hive_segment_cols(name: str) -> set[str]:
        return {
            seg.partition("=")[0]
            for seg in name.replace(os.sep, "/").split("/")[:-1]
            if "=" in seg
        }

    # -- log ------------------------------------------------------------
    def _versions(self) -> list[int]:
        out = []
        for f in self._store.list_names(self.log_dir):
            if f.endswith(".json"):
                try:
                    out.append(int(f[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _load_json(self, path: str) -> dict | None:
        """The manifest at ``path`` through the log store, or None when
        it does not exist (walks use absence as 'keep walking' /
        'truncated')."""
        hit = self._mf_cache.get(path)
        if hit is not None:
            return hit
        if not self._store.exists(path):
            return None
        return json.loads(self._store.read_bytes(path))

    def _manifest(self, version: int) -> dict:
        path = os.path.join(self.log_dir, f"{version:08d}.json")
        hit = self._mf_cache.get(path)
        if hit is not None:
            return hit
        return json.loads(self._store.read_bytes(path))

    def _checkpoint_path(self, version: int) -> str:
        """LEGACY single-JSON checkpoint path (still read; never written
        by this version — see _write_checkpoint)."""
        return os.path.join(self.log_dir, f"{version:08d}.checkpoint.json")

    def _checkpoint_pq_path(self, version: int) -> str:
        """Parquet checkpoint path (Delta's own checkpoint format
        choice): one row per live data file, table metadata in the
        footer — columnar, splittable, ``spark.read``-able."""
        return os.path.join(self.log_dir, f"{version:08d}.checkpoint.parquet")

    def _find_checkpoint(self, version: int) -> str | None:
        """Path of the checkpoint at ``version`` in either format
        (parquet preferred), or None when the version has no
        checkpoint."""
        pq_path = self._checkpoint_pq_path(version)
        if self._store.exists(pq_path):
            return pq_path
        js = self._checkpoint_path(version)
        return js if self._store.exists(js) else None

    #: footer key holding the checkpoint's O(1) table metadata
    _CP_META_KEY = b"vt.meta"

    def _read_checkpoint(self, path: str, part: str) -> dict:
        """One PART of a checkpoint, resolving incremental (v2-style)
        chains: an incremental checkpoint's rows are the APPEND DELTA
        since its ``base_cp`` checkpoint, so the files/stats/dv parts
        merge the whole chain base-first (append chains only ever ADD
        files — nothing in a chain segment removes or mutates an
        entry). The ``meta`` part never chains: every checkpoint's
        footer carries the complete O(1) property set.

        Raises :class:`_CheckpointChainBroken` when a chain's base was
        vacuumed away; _replay falls back to the manifests (vacuum
        guarantees a self-contained snapshot at the oldest retained
        version, so the fallback terminates)."""
        out = self._read_checkpoint_one(path, part)
        if part == "meta":
            return out
        base_v = out.pop("__base_cp__", None)
        depth = 0
        while base_v is not None:
            depth += 1
            if depth > INCREMENTAL_CHAIN_MAX + 1:
                raise _CheckpointChainBroken(
                    f"checkpoint chain under {path} exceeds the "
                    f"INCREMENTAL_CHAIN_MAX bound — corrupt chain"
                )
            bp = self._find_checkpoint(base_v)
            if bp is None:
                raise _CheckpointChainBroken(
                    f"incremental checkpoint {path} references base "
                    f"checkpoint version {base_v}, which no longer "
                    f"exists (vacuumed)"
                )
            prev = self._read_checkpoint_one(bp, part)
            base_v = prev.pop("__base_cp__", None)
            if part == "files":
                out["files"] = list(prev.get("files", [])) + out["files"]
            else:
                merged = dict(prev.get(part, {}))
                merged.update(out[part])
                out[part] = merged
        return out

    def _read_checkpoint_one(self, path: str, part: str) -> dict:
        """One PART of ONE checkpoint file, reading only the bytes that
        part needs — the reason the format is parquet: at 10^6
        add-entries a schema/constraints/txns lookup is a FOOTER read
        (O(1)), a snapshot reconstruction reads the ``path`` column
        only, and stats/dv reads skip each other's columns. ``part``:

        - ``'meta'`` — every O(1) key (version, txns, partition_by,
          constraints, schema, dropped_columns, column_mapping,
          features, created_ts, generated) from the footer;
        - ``'files'`` — ``{'files': [...]}`` from the path column;
        - ``'stats'`` — ``{'stats': {file: bounds}}``;
        - ``'dv'`` — ``{'dv': {file: entry}}``;
        - ``'filters'`` — ``{'filters': {file: filter-sidecar relpath}}``
          from the ``flt`` column (checkpoints written before the bloom
          index existed lack the column and contribute ``{}`` — skipping
          off, never wrong).

        Each part is keyed as a full-snapshot manifest keys it, so
        _replay's folds read a checkpoint and a manifest alike.
        Incremental checkpoints additionally surface their base pointer
        as ``'__base_cp__'`` for files/stats/dv/filters (the chain resolver
        pops it). A legacy JSON checkpoint returns its whole payload
        regardless (it is one blob; there is nothing to skip)."""
        if path.endswith(".json"):
            return json.loads(self._store.read_bytes(path))
        import pyarrow.parquet as pq

        sch = pq.read_schema(self._store.open_arrow(path))
        meta = json.loads((sch.metadata or {})[self._CP_META_KEY])
        if part == "meta":
            return meta
        cols = {
            "files": ["path"],
            "stats": ["path", "stats"],
            "dv": ["path", "dv"],
            "filters": ["path", "flt"],
        }[part]
        if part == "filters" and "flt" not in sch.names:
            out: dict = {"filters": {}}  # pre-bloom-index checkpoint
            if meta.get("base_cp") is not None:
                out["__base_cp__"] = int(meta["base_cp"])
            return out
        tbl = pq.read_table(self._store.open_arrow(path), columns=cols)
        paths = tbl.column("path").to_pylist()
        if part == "files":
            out = {"files": paths}
        elif part == "filters":
            out = {
                "filters": {
                    p: raw
                    for p, raw in zip(paths, tbl.column("flt").to_pylist())
                    if raw is not None
                }
            }
        else:
            key = cols[1]
            body = {
                p: json.loads(raw)
                for p, raw in zip(paths, tbl.column(key).to_pylist())
                if raw is not None
            }
            if part == "dv":
                # entries whose file had no row (defensive; see writer)
                body.update(meta.get("dv_extra", {}))
            out = {key: body}
        if meta.get("base_cp") is not None:
            out["__base_cp__"] = int(meta["base_cp"])
        return out

    def _publish_manifest(self, version: int, manifest: dict) -> bool:
        """Atomically publish ``manifest`` as ``version``; False when the
        version was claimed concurrently (the optimistic-concurrency
        race). The manifest must APPEAR atomically complete — a torn or
        empty version file bricks every later _manifest() — and the
        create must be exclusive. Both are the log store's
        ``put_if_absent`` contract (Delta's LogStore): POSIX implements
        it with fsync'd-temp + os.link, an object store with
        conditional put; this class only needs the contract."""
        target = os.path.join(self.log_dir, f"{version:08d}.json")
        return self._store.put_if_absent(
            target, json.dumps(manifest).encode()
        )

    #: table features this implementation can read AND write correctly.
    #: Delta's minReaderVersion/minWriterVersion protocol action,
    #: restated as named feature flags (Delta 3.x table features): a
    #: manifest records the feature set in force the first time each is
    #: committed, and every snapshot access compares it against this set
    #: — a reader predating deletion vectors would otherwise resurrect
    #: deleted rows; one predating column mapping would read physical
    #: junk names; one predating external references would miss a
    #: clone's data entirely. Failing fast NAMING the feature turns
    #: silent wrong rows into an actionable upgrade error.
    SUPPORTED_FEATURES = frozenset(
        {
            "deletion-vectors",
            "column-mapping",
            "type-widening",
            "external-files",
            "generated-columns",
            "identity-columns",
            # r16: stable row IDs materialized through DML rewrites
            # (Delta's row tracking). A pre-feature writer's DML rewrite
            # would silently DROP the hidden _row_id column from every
            # rewritten file — the flag fails it fast by name instead.
            "row-tracking",
        }
    )

    def _features_at(self, version: int) -> frozenset:
        """Feature flags in force at ``version`` (same walk as the other
        table properties; snapshots/checkpoints embed the set so it
        survives rewrites and vacuum). Monotone: features are never
        removed — Delta's protocol never downgrades."""
        val, _ = self._walk_to(version, "features")
        return frozenset(val or ())

    def _check_features(self, version: int) -> None:
        """Fail fast when the log uses a feature this implementation
        does not understand — BEFORE any bytes are read or written
        (misreading them is the failure mode this fence prevents)."""
        unknown = self._features_at(version) - self.SUPPORTED_FEATURES
        if unknown:
            raise VersionedTableError(
                f"table at {self.path} uses feature(s) "
                f"{sorted(unknown)} that this reader/writer does not "
                f"support (supported: {sorted(self.SUPPORTED_FEATURES)}); "
                f"upgrade the library before touching this table — "
                f"proceeding would misread its bytes"
            )

    def _replay(self, version: int, part: str) -> Iterator[dict]:
        """THE log replay: yield the delta manifests from ``version``
        back, newest first, and end with the anchor — checkpoint
        ``part`` (see _read_checkpoint_one) or a full-snapshot manifest
        (``"files" in m``). A checkpoint record keys its part as the
        snapshot manifest does (``files``/``stats``/``filters``/``dv``,
        and the meta footer's ``txns`` and O(1) properties), so every
        accessor is a fold that need not ask which anchor it got.
        Lazy: a consumer that stops early reads no further. Replay depth
        is bounded by the checkpoint cadence on a healthy log; a
        vacuumed log keeps a self-contained snapshot at its oldest
        version (see vacuum), so the walk cannot run off the front — a
        missing manifest means the version is below that floor, and
        every accessor fails here alike (a quiet empty answer would
        restart identity marks, skip CHECK constraints and re-commit
        idempotent batches)."""
        v = version
        while True:
            cp = self._find_checkpoint(v)
            if cp is not None:
                try:
                    anchor = self._read_checkpoint(cp, part)
                except _CheckpointChainBroken:
                    pass  # vacuumed base: replay manifests instead
                else:
                    yield anchor
                    return
            m = self._load_json(
                os.path.join(self.log_dir, f"{v:08d}.json")
            )
            if m is None:
                raise VersionedTableError(
                    f"cannot reconstruct version {version}: manifest {v} is "
                    f"missing and no checkpoint covers it — the log was "
                    f"truncated past the last full snapshot"
                )
            yield m
            if "files" in m:  # full snapshot (overwrite/replace, or v0)
                return
            v -= 1

    def _overlay_at(self, version: int, key: str) -> dict:
        """File-keyed map ``key`` at ``version``: delta layers overlay
        the anchor's map, oldest first. Old manifests without ``key``
        contribute nothing."""
        *deltas, anchor = self._replay(version, key)
        out = dict(anchor.get(key, {}))
        for m in reversed(deltas):
            out.update(m.get(key, {}))
        return out

    def _state(self, version: int) -> list[str]:
        """Full data-file list at ``version``: the anchor's ``files``
        plus the append ``add`` deltas replayed forward.

        Every snapshot access funnels through here, so this is also the
        protocol fence: an unsupported-feature table fails fast with the
        feature named (see _check_features)."""
        self._check_features(version)
        *deltas, anchor = self._replay(version, "files")
        files = anchor["files"]
        for m in reversed(deltas):
            files = files + m["add"]
        return files

    def _txns_at(self, version: int) -> dict[str, int]:
        """Application → highest committed batch id at ``version`` (Delta
        SetTransaction): the idempotence ledger for streaming appends.
        Full-snapshot manifests and checkpoints embed the accumulated map
        (``txns``) so markers survive overwrite/compact/vacuum; append
        manifests carry their own ``txn`` pair."""
        *deltas, anchor = self._replay(version, "meta")
        out = dict(anchor.get("txns", {}))
        for m in reversed(deltas):
            if "txn" in m:
                app, batch = m["txn"]
                out[app] = max(batch, out.get(app, -1))
        return out

    def _walk_to(self, version: int, key: str) -> tuple[object, dict]:
        """THE table-property lookup (partition layout, constraints,
        schema, …): the first replayed record carrying ``key`` — any
        manifest carrying it, or the anchor, which means the property
        predates recording when it lacks the key. Returns (value-or-None,
        that record). ``dv`` is the one per-FILE property served here:
        a parquet checkpoint keeps it in the rows, everything else is an
        O(1) footer read."""
        for m in self._replay(version, "dv" if key == "dv" else "meta"):
            if key in m:
                break
        return m.get(key), m

    def _partition_by_at(self, version: int) -> list[str]:
        """Partition columns in effect at ``version`` (Delta's metaData
        action, carried by full-snapshot manifests and checkpoints)."""
        val, _ = self._walk_to(version, "partition_by")
        return list(val or [])

    def partition_columns(self) -> list[str]:
        """The table's current partition columns ([] when unpartitioned)."""
        latest = self.latest_version()
        return [] if latest is None else self._partition_by_at(latest)

    def _constraints_at(self, version: int) -> dict[str, str]:
        """name → CHECK expression in effect at ``version`` (Delta's
        table constraints). Constraint commits are metadata-only delta
        manifests carrying the FULL map; snapshots and checkpoints embed
        the map so it survives overwrite/compact/vacuum."""
        val, _ = self._walk_to(version, "constraints")
        return dict(val or {})

    def constraints(self) -> dict[str, str]:
        """The table's current CHECK constraints ({} when none)."""
        latest = self.latest_version()
        return {} if latest is None else self._constraints_at(latest)

    def _generated_at(self, version: int) -> dict[str, str]:
        """column → generation expression in effect at ``version``
        (Delta's generated columns): same walk as constraints; snapshot
        manifests and checkpoints embed the map so it survives
        overwrite/compact/vacuum."""
        val, _ = self._walk_to(version, "generated")
        return dict(val or {})

    def generated_columns(self) -> dict[str, str]:
        """The table's current generated-column map ({} when none)."""
        latest = self.latest_version()
        return {} if latest is None else self._generated_at(latest)

    def _identity_at(self, version: int) -> dict[str, dict]:
        """column → {"start", "step", "high"} identity specs in effect
        at ``version`` (Delta's GENERATED ALWAYS AS IDENTITY): ``high``
        is the last allocated value (None before the first allocation)
        — THE high-water mark, persisted in the log so allocation
        survives restarts, snapshot resets, checkpoints and vacuum.
        Same walk as constraints; allocating appends carry the full
        updated map so the walk terminates at them."""
        val, _ = self._walk_to(version, "identity")
        return dict(val or {})

    def identity_columns(self) -> dict[str, dict]:
        """The table's current identity-column specs ({} when none).
        Hidden specs (the row-tracking ``_row_id`` allocator) are
        internal bookkeeping, not user columns — excluded here."""
        latest = self.latest_version()
        if latest is None:
            return {}
        return {
            c: sp
            for c, sp in self._identity_at(latest).items()
            if not sp.get("hidden")
        }

    # -- row tracking (Delta's stable row IDs, r16) -----------------------
    #: hidden physical column holding each row's stable id — materialized
    #: into every data file of a row-tracked table, preserved through
    #: update/merge/compact rewrites, dropped on delete, freshly
    #: allocated on insert. Not part of the table schema; exposed only by
    #: read(with_row_ids=True) / change_feed(with_row_ids=True).
    _ROW_ID = "_row_id"

    @staticmethod
    def _hidden_ids(idmap: dict[str, dict]) -> list[str]:
        """Names of the hidden (row-tracking) specs in an identity map."""
        return sorted(c for c, sp in idmap.items() if sp.get("hidden"))

    def _row_tracked_at(self, version: int | None) -> bool:
        """Whether row tracking is in force at ``version`` — i.e. every
        live data file carries a materialized ``_row_id`` column. Driven
        by the hidden identity spec (the allocator), which enablement
        commits together with the ``row-tracking`` feature flag."""
        if version is None:
            return False
        return any(
            sp.get("hidden") for sp in self._identity_at(version).values()
        )

    def _with_row_id(
        self, schema: "T.StructType | None"
    ) -> "T.StructType | None":
        """``schema`` extended with the hidden ``_row_id`` field — what
        every REWRITE-side scan of a row-tracked table must declare, so
        the ids physically stored in the files ride through the rewrite
        select into the new files instead of being projected away."""
        if schema is None:
            return None
        return T.StructType(
            [
                *schema.fields,
                T.StructField(self._ROW_ID, T.LongType(), True),
            ]
        )

    def enable_row_tracking(self) -> int:
        """Turn on row tracking (Delta's ``delta.enableRowTracking``):
        every row gets a STABLE hidden id (``_row_id``) that survives
        update/merge/compact/cluster rewrites — deleted ids never
        reappear, inserted rows allocate fresh ids above the high-water
        mark, and CDF update pre/postimages pair by id. The primitive
        for incremental materialized views and merge-free CDC joins:
        downstream consumers key on an id that is stable across
        restatements instead of re-deriving row identity from payload.

        Mechanics: the id is a HIDDEN identity spec (``start 0, step
        1``) riding the existing allocator — in-plan prefix-sum
        assignment on every insert path, high-water advance from footer
        row counts at commit, OCC abort when a concurrent commit moved
        the mark, restore keeping the LATEST mark so retained history
        can never collide with new allocations. Enablement BACKFILLS:
        the current snapshot is rewritten once with ids materialized
        (cost ∝ table, paid once — Delta's own backfill does the same),
        and the ``row-tracking`` protocol feature is committed so a
        pre-feature writer fails fast by name instead of silently
        dropping ids in a rewrite. Idempotent: enabling an enabled
        table is a no-op returning the current version.

        Caveat (documented, matches the NULL-id posture Delta has for
        pre-materialization files): ``restore()`` to a version BEFORE
        enablement resurrects files without materialized ids — those
        rows read ``_row_id`` as NULL (the restore warns, and
        ``row_tracking_stale()`` answers from metadata); re-run
        ``enable_row_tracking()`` after such a restore to re-backfill
        them — the repair rewrite is SCOPED to the files whose manifest
        stats lack ``_row_id`` bounds (cost ∝ resurrected files, not
        ∝ table), the stat-backed rest carried by name."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(
                f"no committed versions at {self.path}; create the table "
                f"first (row tracking enables on an existing table)"
            )
        idmap = self._identity_at(base)
        files = self._state(base)
        # backfill scope: the full snapshot on first enablement; on a
        # RE-enable only the files that need it (see below)
        rewrite_files = files
        carry_files: list[str] = []
        carry_stats: dict = {}
        if self._row_tracked_at(base):
            # idempotent — unless a restore resurrected pre-enablement
            # files (no materialized ids): then re-backfill them. The
            # common all-materialized case answers from the MANIFEST
            # alone (every file written with the column carries _row_id
            # footer bounds), so a scheduler re-running the enablement
            # spec pays metadata, not a column scan; only files whose
            # stats LACK the entry trigger the real NULL probe — and
            # (r17, ADVICE r16) only THOSE files are rewritten, the
            # stat-backed rest carried by name with stats reused, so a
            # boundary-restore repair costs ∝ resurrected files, not
            # ∝ table.
            stats_probe = self._stats_at(base)
            need = [
                f
                for f in files
                if self._ROW_ID not in (stats_probe.get(f) or {})
            ]
            sch_probe = self._scan_schema(base)
            if not need or sch_probe is None:
                return base
            need_set = set(need)
            missing = self._scan_files(
                need,
                self._with_row_id(sch_probe),
                {
                    f: e
                    for f, e in self._dv_at(base).items()
                    if f in need_set
                },
                mapping=self._mapping_at(base),
                partition_by=self._partition_by_at(base),
            ).where(F.col(self._ROW_ID).isNull())
            if missing.isEmpty():
                # pre-#stats manifests: materialized but unstatted files
                # need no rewrite either
                return base
            rewrite_files = need
            carry_files = [f for f in files if f not in need_set]
            carry_stats = {
                f: stats_probe[f] for f in carry_files if f in stats_probe
            }
        clash = [
            f.name
            for f in (self.table_schema(base).fields or [])
            if f.name.lower() in self._RT_RESERVED
        ]
        if clash:
            # the single gate the conditional reservation leans on: the
            # names only become reserved for writes/DDL once tracking is
            # ON, so the pre-tracking table stays fully usable and the
            # refusal lands HERE, with the migration path spelled out
            raise VersionedTableError(
                f"cannot enable row tracking: the table has a user column "
                f"named {clash[0]!r}, which collides with the hidden "
                f"row-id machinery; rename_column({clash[0]!r}, <new>) "
                f"first, then re-run enable_row_tracking()"
            )
        if self._schema_at(base) is None:
            raise VersionedTableError(
                "cannot enable row tracking on a legacy log without a "
                "recorded schema; run any write (or overwrite) first so "
                "the schema is recorded"
            )
        prev_high = (
            idmap.get(self._ROW_ID, {}).get("high")
            if self._ROW_ID in idmap
            else None
        )
        new_idmap = {
            **idmap,
            self._ROW_ID: {
                "start": 0,
                "step": 1,
                "high": prev_high,
                "hidden": True,
            },
        }
        pb = self._partition_by_at(base)
        mapping = self._mapping_at(base)
        # a user column renamed AWAY from _row_id still stores its bytes
        # under the physical name _row_id (rename is mapping-only) — the
        # backfill scan would declare a duplicate physical field. The
        # backfill rewrites every file anyway, so it re-homes the
        # clashing PHYSICAL name to a fresh one in the same commit; the
        # scan reads through the OLD mapping, the write and the commit
        # carry the new one.
        write_mapping = mapping
        phys_clash = {
            lg: ph
            for lg, ph in (mapping or {}).items()
            if ph.lower() in self._RT_RESERVED
        }
        if phys_clash:
            write_mapping = {
                **mapping,
                **{
                    lg: f"col-{uuid.uuid4().hex[:12]}"
                    for lg in phys_clash
                },
            }
        if not files:
            # empty snapshot: metadata-only enablement (the spec + flag);
            # the first insert allocates from the mark
            return self._commit(
                None, "enable_row_tracking", base, new_files=[],
                identity=new_idmap,
            )
        # backfill: one rewrite of the SCOPED files materializing ids
        # for their rows (ids that already exist — a re-enable after a
        # boundary restore — are KEPT; only NULL slots allocate, via
        # coalesce against a fresh allocation). Rewritten files' vectors
        # are purged by the rewrite; carried files keep theirs through
        # the commit's carry loop, same as compact.
        scope_set = set(rewrite_files)
        scoped_dv = {
            f: e for f, e in self._dv_at(base).items() if f in scope_set
        }
        if phys_clash:
            # the physical _row_id in the files is the USER column's
            # bytes (the table was never tracked, so no real ids exist):
            # scan WITHOUT declaring the row-id field — it would collide
            # — and null-seed it so the allocator fills every slot
            scan = self._scan_files(
                rewrite_files,
                self._scan_schema(base),
                scoped_dv,
                mapping=mapping,
                partition_by=pb,
            ).withColumn(self._ROW_ID, F.lit(None).cast("long"))
        else:
            scan = self._scan_files(
                rewrite_files,
                self._with_row_id(self._scan_schema(base)),
                scoped_dv,
                mapping=mapping,
                partition_by=pb,
            )
        pinned = scan.persist()
        try:
            keep = "__vt_rt_keep"  # the rows' EXISTING ids, if any
            alloc = self._with_identity_allocation(
                pinned.withColumnRenamed(self._ROW_ID, keep),
                {self._ROW_ID: new_idmap[self._ROW_ID]},
            )
            filled = alloc.withColumn(
                self._ROW_ID,
                F.coalesce(F.col(keep), F.col(self._ROW_ID)),
            ).drop(keep)
            new_files = self._write_data_files(filled, pb, write_mapping)
        finally:
            pinned.unpersist()
        return self._commit(
            carry_files + new_files,
            "enable_row_tracking",
            base,
            partition_by=pb,
            known_stats=carry_stats,
            identity=new_idmap,
            identity_files=carry_files + new_files,
            enforced_identity=idmap or None,
            mapping=write_mapping if phys_clash else None,
            params={
                "backfilled_files": len(rewrite_files),
                "carried_files": len(carry_files),
            },
        )

    def row_tracking_stale(self) -> bool:
        """True when a row-tracked table's CURRENT snapshot holds files
        without materialized row ids — the state a ``restore()`` to a
        pre-enablement version leaves behind (resurrected files read
        ``_row_id`` as NULL). Metadata-only: answered from the manifest
        stats (files written under tracking carry ``_row_id`` footer
        bounds), no column scan. The repair is ``enable_row_tracking()``,
        whose re-backfill is scoped to exactly these files."""
        v = self.latest_version()
        if v is None or not self._row_tracked_at(v):
            return False
        st = self._stats_at(v)
        return any(
            self._ROW_ID not in (st.get(f) or {}) for f in self._state(v)
        )

    # -- table schema (Delta's metaData.schemaString analog) -------------
    def _schema_record_at(
        self, version: int
    ) -> tuple[dict | None, list[str]]:
        """(schema jsonValue, dropped-column tombstones) in effect at
        ``version``, via the same walk as _constraints_at; (None, []) for
        logs written before schema recording (legacy — readers fall back
        to parquet footer merging). Recording the schema in the LOG is
        what Delta does (metaData.schemaString), and it matters at
        scale: a reader with a declared schema never merges 10^6 file
        footers on the driver, and a write with an incompatible type is
        rejected at the write — not discovered as CANNOT_MERGE_SCHEMAS
        by the next unlucky reader. The tombstones guard DROP COLUMN's
        one hazard (see drop_column); they ride the SAME terminating
        manifest as the schema."""
        val, manifest = self._walk_to(version, "schema")
        if val is None:
            return None, []  # log predates schema recording
        return val, list(manifest.get("dropped_columns", []))

    def _schema_at(self, version: int) -> dict | None:
        return self._schema_record_at(version)[0]

    def _dropped_at(self, version: int) -> list[str]:
        return self._schema_record_at(version)[1]

    def _mapping_at(self, version: int) -> dict[str, str]:
        """logical → PHYSICAL column names in effect at ``version``
        (Delta's columnMapping.mode=name, restated over the log):
        data/CDC files always store PHYSICAL names — stable for the
        file's lifetime — and RENAME COLUMN only rewrites the mapping,
        never a data byte. Sparse: only renamed columns have entries.
        Rides every manifest that carries ``schema`` (same walk
        termination), so snapshot resets and checkpoints carry it."""
        val, _ = self._walk_to(version, "column_mapping")
        return dict(val or {})

    def _physical(self, mapping: dict[str, str], name: str) -> str:
        return mapping.get(name, name) if mapping else name

    @staticmethod
    def _phys_triples(
        triples: list | None, mapping: dict[str, str] | None
    ) -> list | None:
        """Triple predicates translated to PHYSICAL column names — the
        form the rebase guard needs, since concurrent appends' manifest
        stats are keyed physically. None when there are no triples (a
        generic predicate keeps the abort-on-anything rule)."""
        if not triples:
            return None
        return [
            ((mapping or {}).get(c, c), o, v) for (c, o, v) in triples
        ]

    # -- deletion vectors (Delta's merge-on-read DELETE) ------------------
    def _dv_at(self, version: int) -> dict:
        """file → {"files": [dv parquet names], "rows": n} of deletion
        vectors in force at ``version`` (Delta's deletionVector actions):
        positions of DELETED rows recorded in sidecar files so a
        selective delete rewrites ZERO data files — readers subtract the
        positions (merge-on-read). Rides snapshot manifests + checkpoints
        via the same walk as the schema; a rewrite that replaces a file
        drops its entry (the new file has no deleted positions)."""
        val, _ = self._walk_to(version, "dv")
        return dict(val or {})

    def _write_sidecar_files(
        self, df: DataFrame, subdir: str, prefix: str
    ) -> list[str]:
        """Stage-write ``df`` and move its parts under ``<subdir>/`` with
        ``<prefix>-*.parquet`` names, returning manifest names. Shared by
        the CDF (``_cdc``) and deletion-vector (``_dv``) sidecars — both
        are per-commit payload outside every snapshot."""
        out_dir = os.path.join(self.path, subdir)
        staging = os.path.join(self.path, f"__stage__{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(staging)
        os.makedirs(out_dir, exist_ok=True)
        names = []
        for f in sorted(os.listdir(staging)):
            if not f.endswith(".parquet"):
                continue
            name = f"{prefix}-{uuid.uuid4().hex[:12]}.parquet"
            os.rename(os.path.join(staging, f), os.path.join(out_dir, name))
            names.append(f"{subdir}/{name}")
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        return names

    def _write_dv_files(self, df: DataFrame) -> list[str]:
        """Write (file basename, row position) pairs under ``_dv/`` as
        ONE part: vectors are small by design, and a per-scan-partition
        fan-out would stamp hundreds of sidecar names onto every touched
        file's entry — every later reader then opens them all. The
        single writer is safe because the per-file churn rule bounds
        what reaches it to half the touched rows, and ``df`` reads the
        DML kernel's already-built pinned scan, so the coalesce never
        pulls a file scan into the writer's one task."""
        return self._write_sidecar_files(df.coalesce(1), "_dv", "dv")

    def table_schema(self, version: int | None = None) -> "T.StructType":
        """The table's schema at ``version`` (latest when None). Served
        from the log when recorded; legacy logs derive it once from a
        merged-footer scan of the version's files."""
        latest = self.latest_version()
        if latest is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        v = latest if version is None else version
        stored = self._schema_at(v)
        if stored is not None:
            return T.StructType.fromJson(stored)
        return self._scan_files(self._state(v)).schema

    @staticmethod
    def _canon_schema(schema) -> tuple:
        """Order-sensitive (lower-name, type) signature for schema
        equality: nullability and name case are presentation, not
        structure (Spark resolves columns case-insensitively and parquet
        columns are always nullable on read)."""
        if isinstance(schema, dict):
            schema = T.StructType.fromJson(schema)
        return tuple(
            (f.name.lower(), f.dataType.simpleString()) for f in schema.fields
        )

    _INT_RANK = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
    _FLOAT_RANK = {"float": 1, "double": 2}

    @classmethod
    def _can_upcast(cls, src: "T.DataType", dst: "T.DataType") -> bool:
        """Lossless implicit widenings a write may apply silently —
        integral → wider integral, float → double, and untyped NULL to
        anything (Delta's canUpCast posture). Everything else must be an
        explicit table rewrite."""
        s, d = src.simpleString(), dst.simpleString()
        if s == "void":
            return True
        if s in cls._INT_RANK and d in cls._INT_RANK:
            return cls._INT_RANK[s] <= cls._INT_RANK[d]
        if s in cls._FLOAT_RANK and d in cls._FLOAT_RANK:
            return cls._FLOAT_RANK[s] <= cls._FLOAT_RANK[d]
        return False

    def _align(
        self,
        df: DataFrame,
        stored: dict | None,
        merge_schema: bool,
        op: str,
        dropped: list[str] | None = None,
        mapping: dict[str, str] | None = None,
        generated: dict[str, str] | None = None,
        passthrough: tuple = (),
    ) -> tuple[DataFrame, dict]:
        """Schema enforcement at the write (Delta's rule): the incoming
        frame is resolved against the table schema — missing columns
        null-filled, safe widenings cast, column order normalized — and
        anything else is an error at the WRITE, never a poisoned table.
        ``merge_schema`` (Delta's mergeSchema) opts into additive
        evolution: unknown columns append to the schema; old files read
        them as NULL. Returns (aligned frame, resulting schema json).

        ``passthrough``: hidden internal columns (the row-tracking
        ``_row_id``) an INTERNAL rewrite frame legitimately carries —
        exempt from the reserved/extras checks, appended verbatim after
        the aligned schema columns when present, never recorded in the
        schema. User-facing writes never pass this.

        ``generated`` (Delta's generated columns): a column the frame
        LACKS is computed from its expression inside the write plan; a
        column the frame SUPPLIES is validated against it (null-safe
        equality fused as assert_true — a mismatching row fails the
        write job before anything commits, same mechanics as CHECK
        constraints)."""
        if generated:
            have = {c.lower() for c in df.columns}
            for gname, gexpr in sorted(generated.items()):
                if gname.lower() not in have:
                    df = df.withColumn(gname, F.expr(gexpr))
                else:
                    df = df.where(
                        F.coalesce(
                            F.assert_true(
                                F.col(gname).eqNullSafe(F.expr(gexpr)),
                                F.lit(
                                    f"generated column {gname!r} "
                                    f"violated: value != ({gexpr})"
                                ),
                            ),
                            F.lit(True),
                        )
                    )
        # __vt_file/__vt_pos carry the scan-side (file, position) identity
        # — a user column by the same name would be silently clobbered
        # inside every DV-filtered rewrite; #rows/#bytes are the manifest's
        # reserved per-file scalar slots — a column bound stored under
        # them would be clobbered by the scalars, silently disabling
        # manifest pruning on that column
        # casefolded: Spark resolution is case-insensitive by default, so
        # a column named __VT_FILE would collide with the identity column
        # at scan time exactly as the lowercase form does
        pt_lower = {p.lower() for p in passthrough}
        # the row-tracking names are only reserved once the feature is
        # on (see _RT_RESERVED): a pre-tracking table with a user
        # _row_id column stays writable
        reserved = self._reserved_at(self.latest_version())
        clash = [
            f.name
            for f in df.schema.fields
            if f.name.lower() in reserved
            and f.name.lower() not in pt_lower
        ]
        if clash:
            raise VersionedTableError(
                f"{op}: column names {clash} are reserved for internal "
                f"row identity / manifest bookkeeping"
                + (
                    " (row tracking is enabled on this table)"
                    if any(c.lower() in self._RT_RESERVED for c in clash)
                    else ""
                )
                + "; rename them"
            )
        pt_cols = [
            F.col(f.name)
            for f in df.schema.fields
            if f.name.lower() in pt_lower
        ]
        if stored is None:
            # first write / legacy log: the frame defines the schema
            return df, self._nullable_json(df.schema)
        tgt = T.StructType.fromJson(stored)
        by_lower = {f.name.lower(): f for f in df.schema.fields}
        tgt_lower = {f.name.lower() for f in tgt.fields}
        extras = [
            f
            for f in df.schema.fields
            if f.name.lower() not in tgt_lower
            and f.name.lower() not in pt_lower
        ]
        if extras and not merge_schema:
            raise VersionedTableError(
                f"{op}: columns {[f.name for f in extras]} are not in the "
                f"table schema {[f.name for f in tgt.fields]}; pass "
                f"merge_schema=True to evolve the schema additively"
            )
        if extras and dropped:
            lower_dropped = {d.lower() for d in dropped}
            resurrect = [
                f.name for f in extras if f.name.lower() in lower_dropped
            ]
            if resurrect:
                raise VersionedTableError(
                    f"{op}: columns {resurrect} were DROPPED and files "
                    f"written before the drop still hold their old bytes "
                    f"— re-adding the name would resurrect stale values. "
                    f"Rewrite the table first "
                    f"(overwrite(..., overwrite_schema=True))"
                )
        if extras and mapping:
            # a new column's default physical name IS its logical name;
            # if that collides with the PHYSICAL name serving a renamed
            # column, new files' bytes would be read as the OTHER
            # column's data — use add_column, which assigns a fresh
            # physical name on collision
            live_phys = {
                mapping.get(f.name, f.name).lower() for f in tgt.fields
            }
            collide = [
                f.name for f in extras if f.name.lower() in live_phys
            ]
            if collide:
                raise VersionedTableError(
                    f"{op}: columns {collide} collide with the PHYSICAL "
                    f"name of a renamed column — evolving them here would "
                    f"cross-wire the stored bytes. Add them with "
                    f"add_column(), which assigns a distinct physical name"
                )
        cols = []
        for f in tgt.fields:
            src = by_lower.get(f.name.lower())
            if src is None:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif src.dataType == f.dataType:
                cols.append(F.col(src.name).alias(f.name))
            elif src.dataType.simpleString() == f.dataType.simpleString():
                # structurally identical modulo NESTED nullability
                # (ArrayType.containsNull, struct-field nullable) —
                # nullability is presentation here, same posture as
                # _canon_schema: cast to the NULLABLE-normalized stored
                # form (never into a non-null slot, which Spark refuses
                # even for identical structure) rather than refusing a
                # semantically identical frame. Legacy logs may have
                # recorded containsNull=False before normalization.
                cols.append(
                    F.col(src.name)
                    .cast(self._deep_nullable(f.dataType))
                    .alias(f.name)
                )
            elif self._can_upcast(src.dataType, f.dataType):
                cols.append(F.col(src.name).cast(f.dataType).alias(f.name))
            else:
                raise VersionedTableError(
                    f"{op}: column {f.name!r} arrives as "
                    f"{src.dataType.simpleString()} but the table schema "
                    f"says {f.dataType.simpleString()}; only lossless "
                    f"widenings are cast implicitly — changing a column "
                    f"type needs a full rewrite "
                    f"(overwrite(..., overwrite_schema=True))"
                )
        new_fields = list(tgt.fields)
        for f in extras:
            cols.append(F.col(f.name))
            new_fields.append(T.StructField(f.name, f.dataType, True))
        return (
            df.select(*cols, *pt_cols),
            self._nullable_json(T.StructType(new_fields)),
        )

    @classmethod
    def _deep_nullable(cls, dt: "T.DataType") -> "T.DataType":
        """``dt`` with nullability normalized to True at EVERY level
        (array containsNull, map valueContainsNull, struct fields).
        Nested nullability is presentation, not structure — recording a
        frame's incidental containsNull=False would refuse every later
        semantically-identical append whose elements happen to be
        nullable (the cast nullable→non-null is illegal in Spark)."""
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(cls._deep_nullable(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(
                cls._deep_nullable(dt.keyType),
                cls._deep_nullable(dt.valueType),
                True,
            )
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(f.name, cls._deep_nullable(f.dataType), True)
                    for f in dt.fields
                ]
            )
        return dt

    @classmethod
    def _nullable_json(cls, schema: "T.StructType") -> dict:
        """Schema as jsonValue with every field nullable at every level —
        what the files actually guarantee on read (parquet row groups may
        omit any column after evolution, and nested nullability is
        presentation; see _deep_nullable)."""
        return T.StructType(
            [
                T.StructField(f.name, cls._deep_nullable(f.dataType), True)
                for f in schema.fields
            ]
        ).jsonValue()

    def _derived_schema_json(self, version: int) -> dict | None:
        """Legacy-log table schema derived from the files (one
        mergeSchema walk), normalized for RECORDING: every field
        nullable, and hive partition columns widened to their
        inference-stable types (int family → bigint, float → double).
        Partition values live in directory NAMES, so the scan's
        partition inference can flip a bigint table column to int —
        recording that narrow type would refuse every later append as a
        forbidden downcast. None when the version references no files
        (a hand-edited empty snapshot): nothing to derive from."""
        files = self._state(version)
        if not files:
            return None
        sch = self._scan_files(files).schema
        pb = {c.lower() for c in self._partition_by_at(version)}
        fields = []
        for f in sch.fields:
            dt = f.dataType
            if f.name.lower() in pb:
                s = dt.simpleString()
                if s in ("tinyint", "smallint", "int"):
                    dt = T.LongType()
                elif s == "float":
                    dt = T.DoubleType()
            fields.append(T.StructField(f.name, dt, True))
        return T.StructType(fields).jsonValue()

    #: recognized ``vt.``-prefixed table properties (Delta's ``delta.*``
    #: namespace, restated). A reserved-prefix key outside this set is
    #: refused at set_properties — a misspelled config key silently
    #: doing nothing is the failure mode this fence prevents. Keys
    #: without the prefix are free-form user metadata (Delta's rule).
    _KNOWN_PROPERTIES = {
        # post-commit auto-compaction (Delta's autoOptimize.autoCompact):
        # opt-in; see append()'s post-commit hook
        "vt.autoCompact.minFiles",
        "vt.autoCompact.targetFileBytes",
        # per-file bloom-filter indexes for = / IN point-lookup skipping
        # (Delta's bloom filter index): columns + target false-positive
        # rate; see writers/bloom.py and read(prune=...)
        "vt.bloomFilter.columns",
        "vt.bloomFilter.fpp",
        # per-table checkpoint cadence (Delta's delta.checkpointInterval):
        # overrides the module CHECKPOINT_EVERY default
        "vt.checkpointInterval",
        # incremental-materialized-view bookkeeping, recorded on the
        # VIEW table by writers/materialize.py: the source path, the
        # last source (and, for enrichment views, dimension) version
        # the view reflects, and the definition fingerprint (a changed
        # definition forces a rebuild)
        "vt.mv.source",
        "vt.mv.sourceVersion",
        "vt.mv.dimVersion",
        "vt.mv.fingerprint",
        # default vacuum retention window in hours (Delta's
        # delta.deletedFileRetentionDuration): vacuum() uses it when the
        # caller passes no retain_hours
        "vt.vacuum.retainHours",
        # refuse row-removing commits (Delta's delta.appendOnly): the
        # compliance/audit-table switch — appends, layout maintenance
        # and metadata stay allowed; DELETE/UPDATE/MERGE/overwrite/
        # restore are refused at commit
        "vt.appendOnly",
        # declared clustering keys (Delta's liquid-clustering CLUSTER BY,
        # the declarative half): every compact() without an explicit
        # zorder — including auto-compaction — re-clusters on these
        # columns, so the layout that makes stats selective maintains
        # itself as data arrives
        "vt.clusterBy",
        # full-re-cluster cadence for incremental clustering (r15):
        # every Nth clustering round rewrites the whole scope instead of
        # just the unclustered tail — bounds the range overlap that
        # tail-only rounds accumulate. 0/absent = tail-only forever.
        "vt.clusterBy.fullEvery",
        # cluster-on-write (r16, Delta's liquid clustering at ingest):
        # appends and overwrites range-partition + sort on the declared
        # vt.clusterBy keys BEFORE the write, so files are born with
        # tight prunable bounds and incremental maintenance finds an
        # empty tail. Opt-in: it costs one range exchange per ingest
        # batch — the right trade on read-heavy tables, wrong on
        # ingest-bound ones (let auto-compact sort later instead).
        "vt.clusterBy.onWrite",
    }

    def properties(self, version: int | None = None) -> dict[str, str]:
        """Table properties in effect (TBLPROPERTIES): free-form string
        pairs plus the recognized ``vt.*`` config namespace. Walked like
        every other table property; full-snapshot manifests and
        checkpoint footers embed the map so it survives rewrites and
        vacuum."""
        v = self.latest_version() if version is None else version
        if v is None:
            return {}
        return self._properties_at(v)

    def _properties_at(self, version: int) -> dict[str, str]:
        val, _ = self._walk_to(version, "properties")
        return dict(val or {})

    def set_properties(self, props: dict[str, str]) -> int:
        """ALTER TABLE SET TBLPROPERTIES: merge ``props`` into the
        table's property map as a metadata-only commit. Keys and values
        must be strings; ``vt.``-prefixed keys must be recognized config
        (see _KNOWN_PROPERTIES) and are value-validated here — a bad
        value must fail at SET time, not corrupt every later write."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        for k, v in props.items():
            if not isinstance(k, str) or not isinstance(v, str):
                raise VersionedTableError(
                    f"table properties are string pairs; got {k!r}={v!r}"
                )
            if k.startswith("vt.") and k not in self._KNOWN_PROPERTIES:
                raise VersionedTableError(
                    f"unknown reserved property {k!r}; recognized: "
                    f"{sorted(self._KNOWN_PROPERTIES)} (non-'vt.' keys "
                    f"are free-form)"
                )
        merged = self._properties_at(base)
        merged.update(props)
        # validate the MERGED map: cross-key rules (clusterBy.onWrite
        # needs clusterBy) must see keys set in earlier commits too
        self._validate_known_properties(merged)
        for key in ("vt.bloomFilter.columns", "vt.clusterBy"):
            if key not in props:
                continue
            # validate the columns against the CURRENT schema so a typo
            # fails here; files written before the property simply have
            # no filter / old layout (never a correctness issue)
            sch = self._schema_at(base)
            if sch is None:
                continue
            have = {f["name"].lower() for f in sch.get("fields", [])}
            want = [
                c.strip() for c in props[key].split(",") if c.strip()
            ]
            missing = [c for c in want if c.lower() not in have]
            if missing:
                raise VersionedTableError(
                    f"{key} names unknown columns {missing}; "
                    f"table columns: {sorted(have)}"
                )
        return self._commit(
            None, "set_properties", base, new_files=[], properties=merged
        )

    def unset_properties(self, keys: list[str]) -> int:
        """ALTER TABLE UNSET TBLPROPERTIES: remove ``keys`` from the map
        (missing keys are not an error, SQL's IF EXISTS semantic)."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        merged = self._properties_at(base)
        for k in keys:
            merged.pop(k, None)
        return self._commit(
            None, "unset_properties", base, new_files=[], properties=merged
        )

    @classmethod
    def _validate_known_properties(cls, props: dict[str, str]) -> None:
        ints = (
            "vt.autoCompact.minFiles",
            "vt.autoCompact.targetFileBytes",
            "vt.checkpointInterval",
        )
        for k in ints:
            if k in props:
                try:
                    n = int(props[k])
                except ValueError:
                    n = -1
                if n < 1:
                    raise VersionedTableError(
                        f"{k} must be a positive integer, got {props[k]!r}"
                    )
        for vk in ("vt.mv.sourceVersion", "vt.mv.dimVersion"):
            if vk in props:
                try:
                    n = int(props[vk])
                except ValueError:
                    n = -1
                if n < 0:
                    raise VersionedTableError(
                        f"{vk} must be a non-negative integer "
                        f"version, got {props[vk]!r}"
                    )
        if "vt.clusterBy.fullEvery" in props:
            try:
                n = int(props["vt.clusterBy.fullEvery"])
            except ValueError:
                n = -1
            if n < 0:
                raise VersionedTableError(
                    "vt.clusterBy.fullEvery must be a non-negative "
                    f"integer (0 = tail-only forever), got "
                    f"{props['vt.clusterBy.fullEvery']!r}"
                )
        if "vt.bloomFilter.fpp" in props:
            try:
                f = float(props["vt.bloomFilter.fpp"])
            except ValueError:
                f = -1.0
            if not (0.0 < f < 1.0):
                raise VersionedTableError(
                    f"vt.bloomFilter.fpp must be in (0, 1), got "
                    f"{props['vt.bloomFilter.fpp']!r}"
                )
        if "vt.vacuum.retainHours" in props:
            try:
                h = float(props["vt.vacuum.retainHours"])
            except ValueError:
                h = -1.0
            if h < 0:
                raise VersionedTableError(
                    f"vt.vacuum.retainHours must be >= 0, got "
                    f"{props['vt.vacuum.retainHours']!r}"
                )
        if "vt.appendOnly" in props and props["vt.appendOnly"] not in (
            "true",
            "false",
        ):
            raise VersionedTableError(
                f"vt.appendOnly must be 'true' or 'false', got "
                f"{props['vt.appendOnly']!r}"
            )
        if "vt.clusterBy.onWrite" in props:
            if props["vt.clusterBy.onWrite"] not in ("true", "false"):
                raise VersionedTableError(
                    f"vt.clusterBy.onWrite must be 'true' or 'false', got "
                    f"{props['vt.clusterBy.onWrite']!r}"
                )
            if props["vt.clusterBy.onWrite"] == "true" and not props.get(
                "vt.clusterBy", ""
            ).strip():
                raise VersionedTableError(
                    "vt.clusterBy.onWrite=true needs vt.clusterBy to "
                    "declare the clustering keys (set both together)"
                )

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr) — Delta's table
        constraint: existing data is validated first (one scan; any
        violating row aborts, as Delta does), then the constraint is
        committed as a metadata-only version every later write enforces.
        SQL CHECK semantics: a row violates only when the expression is
        FALSE — NULL passes."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        cons = self._constraints_at(base)
        if name in cons:
            raise VersionedTableError(
                f"constraint {name!r} already exists: {cons[name]!r}"
            )
        bad = (
            self.read(version_as_of=base)
            .where(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1)
            .count()
        )
        if bad:
            raise VersionedTableError(
                f"cannot add constraint {name!r}: existing rows violate "
                f"CHECK ({expr})"
            )
        cons[name] = expr
        return self._commit(
            None, "add_constraint", base, new_files=[], constraints=cons
        )

    def drop_constraint(self, name: str) -> int:
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        cons = self._constraints_at(base)
        if name not in cons:
            raise VersionedTableError(
                f"no constraint {name!r}; have {sorted(cons)}"
            )
        del cons[name]
        return self._commit(
            None, "drop_constraint", base, new_files=[], constraints=cons
        )

    # -- column DDL (metadata-only, enabled by the log-recorded schema) --
    def _recorded_schema_for_ddl(self, base: int, op: str) -> "T.StructType":
        """The table schema as a StructType for an ALTER: log-recorded
        when present, else derived from the files once (the ALTER commit
        then records it — legacy logs self-migrate through DDL too)."""
        stored = self._schema_at(base)
        if stored is None:
            stored = self._derived_schema_json(base)
        if stored is None:
            raise VersionedTableError(
                f"{op}: the table schema is unrecoverable — no recorded "
                f"schema and version {base} references no data files"
            )
        return T.StructType.fromJson(stored)

    def add_column(self, name: str, ddl_type: str) -> int:
        """ALTER TABLE ADD COLUMN — metadata-only (Delta's): the evolved
        schema is committed as an O(1) manifest, ZERO data files are
        touched, and every existing file reads the new column as NULL
        under the declared-schema scan. ``ddl_type`` is a Spark DDL type
        string (``"bigint"``, ``"array<double>"``, ...)."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        try:
            dt = T.DataType.fromDDL(ddl_type)
        except Exception as exc:
            raise VersionedTableError(
                f"add_column: unparseable DDL type {ddl_type!r}: {exc}"
            ) from None
        if name.lower() in self._reserved_at(base):
            # casefolded: Spark resolves names case-insensitively
            raise VersionedTableError(
                f"add_column: {name!r} is reserved for internal row "
                f"identity / manifest bookkeeping"
            )
        sch = self._recorded_schema_for_ddl(base, "add_column")
        if any(f.name.lower() == name.lower() for f in sch.fields):
            raise VersionedTableError(
                f"column {name!r} already exists in {[f.name for f in sch.fields]}"
            )
        tombstones = self._dropped_at(base)
        if name.lower() in (d.lower() for d in tombstones):
            raise VersionedTableError(
                f"add_column: {name!r} was DROPPED and files written "
                f"before the drop still hold its old bytes — re-adding "
                f"the name would resurrect stale values. Rewrite the "
                f"table first (overwrite(..., overwrite_schema=True))"
            )
        mapping = self._mapping_at(base)
        live_phys = {
            self._physical(mapping, f.name).lower() for f in sch.fields
        }
        if name.lower() in live_phys:
            # the logical name is free, but its default physical name is
            # SERVING a renamed column's bytes — assign a fresh physical
            # (Delta's columnMapping does this with UUID field ids), so
            # old files' bytes under that name stay wired to the renamed
            # column and the new column reads NULL from them
            mapping = {**mapping, name: f"col-{uuid.uuid4().hex[:12]}"}
        evolved = T.StructType([*sch.fields, T.StructField(name, dt, True)])
        return self._commit(
            None, "add_column", base, new_files=[],
            schema=evolved.jsonValue(),
            dropped=tombstones, mapping=mapping,
        )

    def add_generated_column(
        self, name: str, ddl_type: str, expr: str
    ) -> int:
        """ALTER TABLE ADD COLUMN ... GENERATED ALWAYS AS (Delta's
        generated columns): ``name`` is computed as ``expr`` over the
        row's other columns at every write — a frame lacking the column
        gets it computed; a frame supplying it is VALIDATED (null-safe
        equality, a mismatch fails the write job before anything
        commits). The canonical use is the derived partition key —
        ``add_generated_column("d", "date", "CAST(ts AS DATE)")`` then
        ``partition_by=["d"]`` — where enforcement is what keeps
        partition pruning TRUSTWORTHY (a mis-derived d would silently
        misplace rows).

        Only allowed while the table holds NO data files (Delta declares
        generated columns at table creation for the same reason): files
        written before the declaration would read the column as NULL,
        silently violating the invariant the column exists to provide.
        Create the table empty (``overwrite`` of a zero-row frame),
        declare, then write."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        # EMPTY means zero ROWS (an empty overwrite still writes a
        # 0-row part file): resolved from the manifest #rows stats,
        # falling back to a limit(1) probe for pre-stat legacy files
        stats = self._stats_at(base)
        rows = 0
        for f in self._state(base):
            r = stats.get(f, {}).get("#rows")
            if isinstance(r, int):
                rows += r
            else:
                rows = -1
                break
        if rows == -1:
            rows = self.read(version_as_of=base).limit(1).count()
        if rows:
            raise VersionedTableError(
                "add_generated_column requires an EMPTY table: rows "
                "written before the declaration would read the column "
                "as NULL, violating the invariant it declares. Declare "
                "generated columns at creation (overwrite an empty "
                "frame first), or rewrite the table"
            )
        try:
            dt = T.DataType.fromDDL(ddl_type)
        except Exception as exc:
            raise VersionedTableError(
                f"add_generated_column: unparseable DDL type "
                f"{ddl_type!r}: {exc}"
            ) from None
        if name.lower() in self._reserved_at(base):
            raise VersionedTableError(
                f"add_generated_column: {name!r} is reserved for "
                f"internal row identity / manifest bookkeeping"
            )
        sch = self._recorded_schema_for_ddl(base, "add_generated_column")
        if any(f.name.lower() == name.lower() for f in sch.fields):
            raise VersionedTableError(
                f"column {name!r} already exists in "
                f"{[f.name for f in sch.fields]}"
            )
        # the expression must analyze against the CURRENT schema — a
        # typo'd reference fails HERE with Spark's own resolution error,
        # not at the first write
        try:
            self.spark.createDataFrame([], sch).select(
                F.expr(expr).cast(dt).alias(name)
            ).schema
        except Exception as exc:
            raise VersionedTableError(
                f"add_generated_column: expression {expr!r} does not "
                f"analyze against {[f.name for f in sch.fields]}: {exc}"
            ) from None
        id_refs = sorted(
            c
            for c in self._identity_at(base)
            if re.search(rf"\b{re.escape(c)}\b", expr, re.IGNORECASE)
        )
        if id_refs:
            # identity values are ALLOCATED after alignment computes
            # generated columns — an expression over them would be
            # computed from the pre-allocation NULL slot, silently
            raise VersionedTableError(
                f"add_generated_column: expression {expr!r} references "
                f"identity columns {id_refs}; generated columns cannot "
                f"derive from allocated values"
            )
        evolved = T.StructType([*sch.fields, T.StructField(name, dt, True)])
        return self._commit(
            None,
            "add_generated_column",
            base,
            new_files=[],
            schema=evolved.jsonValue(),
            dropped=self._dropped_at(base),
            mapping=self._mapping_at(base),
            generated={**self._generated_at(base), name: expr},
        )

    def add_identity_column(
        self, name: str, start: int = 1, step: int = 1
    ) -> int:
        """ALTER TABLE ADD COLUMN ... GENERATED ALWAYS AS IDENTITY
        (Delta's identity columns): ``name`` (bigint) is ALLOCATED by
        the table at every insert-like write — monotonic in commit
        order, collision-free, gap-TOLERANT (a lost commit race or an
        over-reserved range leaves gaps, exactly Delta's contract;
        identity is a key, not a row number). Frames must NOT supply
        the column (ALWAYS, not BY DEFAULT); UPDATE cannot assign it;
        merge sources omit it (updated rows keep the target's value,
        inserted rows allocate).

        The high-water mark lives in the LOG (``identity`` key, same
        walk as constraints) and advances with each allocating commit;
        per-row assignment happens IN-PLAN via the prefix-sum shape
        (one partition-id exchange plus a ≤P-row offsets broadcast —
        operators/rank.py's kernel cost), never through the driver.
        Declared on EMPTY tables only, like generated columns. Not
        supported with replace_where/overwrite_partitions (restates
        would re-allocate restated rows' identities); use merge."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        if not isinstance(start, int) or not isinstance(step, int) or step == 0:
            raise VersionedTableError(
                f"identity start/step must be integers with step != 0; "
                f"got start={start!r} step={step!r}"
            )
        stats = self._stats_at(base)
        rows = 0
        for f in self._state(base):
            r = stats.get(f, {}).get("#rows")
            if isinstance(r, int):
                rows += r
            else:
                rows = -1
                break
        if rows == -1:
            rows = self.read(version_as_of=base).limit(1).count()
        if rows:
            raise VersionedTableError(
                "add_identity_column requires an EMPTY table: rows "
                "written before the declaration would read the column "
                "as NULL — no retroactive allocation. Declare identity "
                "columns at creation (overwrite an empty frame first)"
            )
        if name.lower() in self._reserved_at(base):
            raise VersionedTableError(
                f"add_identity_column: {name!r} is reserved for "
                f"internal row identity / manifest bookkeeping"
            )
        sch = self._recorded_schema_for_ddl(base, "add_identity_column")
        if any(f.name.lower() == name.lower() for f in sch.fields):
            raise VersionedTableError(
                f"column {name!r} already exists in "
                f"{[f.name for f in sch.fields]}"
            )
        if name.lower() in {g.lower() for g in self._generated_at(base)}:
            raise VersionedTableError(
                f"{name!r} is already a generated column"
            )
        evolved = T.StructType(
            [*sch.fields, T.StructField(name, T.LongType(), True)]
        )
        return self._commit(
            None,
            "add_identity_column",
            base,
            new_files=[],
            schema=evolved.jsonValue(),
            dropped=self._dropped_at(base),
            mapping=self._mapping_at(base),
            identity={
                **self._identity_at(base),
                name: {"start": start, "step": step, "high": None},
            },
        )

    def _identity_supplied(
        self, df: DataFrame, idmap: dict, op: str
    ) -> None:
        """GENERATED ALWAYS: a frame supplying an identity column is an
        error at the write — the table allocates, callers never do."""
        supplied = sorted(
            c
            for c in df.columns
            if c.lower() in {k.lower() for k in idmap}
        )
        if supplied:
            raise VersionedTableError(
                f"{op}: columns {supplied} are GENERATED ALWAYS AS "
                f"IDENTITY — the table allocates their values; remove "
                f"them from the frame"
            )

    def _with_identity_allocation(
        self, df: DataFrame, idmap: dict
    ) -> DataFrame:
        """Allocate identity values for every row of ``df`` IN-PLAN:
        ``prev_high + step * k`` with k = 1..n over an arbitrary but
        collision-free global order. Cost shape (the rank kernel's,
        operators/rank.py): the corpus moves through ONE exchange (the
        partition-id window feeding row_number); per-partition counts
        come from a separate ≤P-row aggregate lineage whose cumulative
        offsets broadcast-join back — per-row assignment never touches
        the driver. Callers persist ``df`` first so the two lineages
        see identical partitions."""
        from pyspark.sql import Window

        from as_etl_storage_spark.operators.parallelism import (
            constant_partition_key,
        )

        pid, loc, off, cnt = (
            "__vt_id_pid",
            "__vt_id_loc",
            "__vt_id_off",
            "__vt_id_cnt",
        )
        base = df.withColumn(pid, F.spark_partition_id())
        w_local = Window.partitionBy(pid).orderBy(
            F.monotonically_increasing_id()
        )
        ann = base.withColumn(loc, F.row_number().over(w_local))
        stats = base.groupBy(pid).agg(F.count(F.lit(1)).alias(cnt))
        w_off = (
            Window.partitionBy(constant_partition_key(F.col(pid)))
            .orderBy(pid)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = stats.withColumn(
            off,
            F.coalesce(F.sum(cnt).over(w_off), F.lit(0)).cast("long"),
        ).select(pid, off)
        out = ann.join(F.broadcast(offs), pid)
        k = (F.col(off) + F.col(loc)).cast("long")
        for c, sp in sorted(idmap.items()):
            prev = (
                sp["high"]
                if sp.get("high") is not None
                else sp["start"] - sp["step"]
            )
            out = out.withColumn(
                c, (F.lit(prev) + F.lit(sp["step"]) * k).cast("long")
            )
        return out.drop(pid, loc, off)

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only: the narrowed schema
        is committed, no data file is rewritten, and the declared-schema
        scan simply never selects the dropped column's bytes (the
        column-mapping-free form Delta needs columnMapping for; possible
        here because scans take the schema from the LOG, not the
        footers). Time travel before the drop still sees the column.
        Partition columns and columns referenced by a CHECK constraint
        refuse — they'd leave the table inconsistent."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        sch = self._recorded_schema_for_ddl(base, "drop_column")
        keep = [f for f in sch.fields if f.name.lower() != name.lower()]
        if len(keep) == len(sch.fields):
            raise VersionedTableError(
                f"no column {name!r}; have {[f.name for f in sch.fields]}"
            )
        if not keep:
            raise VersionedTableError("cannot drop the table's only column")
        if name.lower() in (c.lower() for c in self._partition_by_at(base)):
            raise VersionedTableError(
                f"cannot drop partition column {name!r}; re-layout with "
                f"overwrite(..., partition_by=[...]) first"
            )
        referencing = {
            cname: expr
            for cname, expr in self._constraints_at(base).items()
            if re.search(rf"\b{re.escape(name)}\b", expr, re.IGNORECASE)
        }
        if referencing:
            raise VersionedTableError(
                f"cannot drop {name!r}: CHECK constraints reference it: "
                f"{referencing}; drop them first"
            )
        gen = self._generated_at(base)
        gen_refs = {
            gname: gexpr
            for gname, gexpr in gen.items()
            if gname.lower() != name.lower()
            and re.search(rf"\b{re.escape(name)}\b", gexpr, re.IGNORECASE)
        }
        if gen_refs:
            raise VersionedTableError(
                f"cannot drop {name!r}: generated columns are computed "
                f"from it: {gen_refs}"
            )
        # dropping a generated column drops its invariant with it
        gen = {
            g: e for g, e in gen.items() if g.lower() != name.lower()
        }
        # dropping an identity column drops its spec (the watermark dies
        # with the declaration; a re-add starts a fresh sequence)
        idm = self._identity_at(base)
        idm_new = {
            c: sp for c, sp in idm.items() if c.lower() != name.lower()
        }
        # tombstone the PHYSICAL name: that's what old files still hold
        # bytes under — re-adding it (add_column or merge_schema
        # evolution) is refused until a schema-redefining overwrite
        # rewrites every file. Dropping a RENAMED column tombstones its
        # physical, so the original logical name (whose bytes those are)
        # stays blocked while genuinely fresh names stay free.
        mapping = self._mapping_at(base)
        actual = next(
            f.name for f in sch.fields if f.name.lower() == name.lower()
        )
        phys = self._physical(mapping, actual)
        mapping = {k: v for k, v in mapping.items() if k != actual}
        return self._commit(
            None,
            "drop_column",
            base,
            new_files=[],
            schema=T.StructType(keep).jsonValue(),
            dropped=[*self._dropped_at(base), phys],
            mapping=mapping,
            generated=gen,
            identity=idm_new if idm_new != idm else None,
        )

    def widen_column(self, name: str, ddl_type: str) -> int:
        """ALTER TABLE ALTER COLUMN TYPE — metadata-only type WIDENING
        (Delta 3.2's type widening): the schema records the wider type
        in an O(1) manifest, ZERO data files are touched, and existing
        files keep their narrow physical type — Spark 4's parquet reader
        widens at scan time under the declared schema (int family
        upward, float → double; the same lossless set _can_upcast allows
        for writes, so the read and write posture agree). Narrowing or
        cross-family changes are refused — they need a full rewrite
        (overwrite(..., overwrite_schema=True))."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        try:
            dt = T.DataType.fromDDL(ddl_type)
        except Exception as exc:
            raise VersionedTableError(
                f"widen_column: unparseable DDL type {ddl_type!r}: {exc}"
            ) from None
        sch = self._recorded_schema_for_ddl(base, "widen_column")
        fields = list(sch.fields)
        idx = [
            i for i, f in enumerate(fields) if f.name.lower() == name.lower()
        ]
        if not idx:
            raise VersionedTableError(
                f"no column {name!r}; have {[f.name for f in fields]}"
            )
        i = idx[0]
        cur = fields[i].dataType
        if cur == dt or cur.simpleString() == dt.simpleString():
            raise VersionedTableError(
                f"widen_column: {name!r} already has type "
                f"{cur.simpleString()}"
            )
        if not self._can_upcast(cur, dt) or cur.simpleString() == "void":
            raise VersionedTableError(
                f"widen_column: {cur.simpleString()} → {dt.simpleString()} "
                f"is not a lossless widening; changing a column type "
                f"otherwise needs a full rewrite "
                f"(overwrite(..., overwrite_schema=True))"
            )
        fields[i] = T.StructField(fields[i].name, dt, True)
        return self._commit(
            None,
            "widen_column",
            base,
            new_files=[],
            schema=T.StructType(fields).jsonValue(),
            dropped=self._dropped_at(base),
            mapping=self._mapping_at(base),
        )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN — metadata-only via column mapping
        (Delta's columnMapping.mode=name, restated over the log): data
        files keep their PHYSICAL column names forever; the rename
        commits a schema with the new LOGICAL name plus a logical →
        physical mapping entry, and every scan resolves through the
        mapping with one zero-cost alias projection. ZERO data files are
        touched (asserted by the contract query); time travel before the
        rename still shows the old name; manifest pruning keeps working
        because stats are keyed physically.

        Refused for: partition columns (hive directory names ARE the
        physical layout), columns referenced by CHECK constraints (the
        stored expression would dangle), reserved names, names already
        present, and tombstoned names (conservative — consistent with
        add_column)."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        sch = self._recorded_schema_for_ddl(base, "rename_column")
        fields = list(sch.fields)
        idx = [
            i for i, f in enumerate(fields) if f.name.lower() == old.lower()
        ]
        if not idx:
            raise VersionedTableError(
                f"no column {old!r}; have {[f.name for f in fields]}"
            )
        i = idx[0]
        if new.lower() != old.lower() and any(
            f.name.lower() == new.lower() for f in fields
        ):
            raise VersionedTableError(
                f"column {new!r} already exists in "
                f"{[f.name for f in fields]}"
            )
        if new.lower() in self._reserved_at(base):
            # casefolded: Spark resolves names case-insensitively
            raise VersionedTableError(
                f"rename_column: {new!r} is reserved for internal row "
                f"identity / manifest bookkeeping"
            )
        if old.lower() in (c.lower() for c in self._partition_by_at(base)):
            raise VersionedTableError(
                f"cannot rename partition column {old!r}: hive directory "
                f"names are the physical layout; re-layout with "
                f"overwrite(..., partition_by=[...]) first"
            )
        referencing = {
            cname: expr
            for cname, expr in self._constraints_at(base).items()
            if re.search(rf"\b{re.escape(old)}\b", expr, re.IGNORECASE)
        }
        if referencing:
            raise VersionedTableError(
                f"cannot rename {old!r}: CHECK constraints reference it: "
                f"{referencing}; drop them first"
            )
        gen = self._generated_at(base)
        gen_hit = {
            gname: gexpr
            for gname, gexpr in gen.items()
            if gname.lower() == old.lower()
            or re.search(rf"\b{re.escape(old)}\b", gexpr, re.IGNORECASE)
        }
        if gen_hit:
            # the expression is stored as TEXT over logical names — a
            # rename of the column or of anything it references would
            # silently break the invariant at the next write
            raise VersionedTableError(
                f"cannot rename {old!r}: generated columns define or "
                f"reference it: {gen_hit}; drop them first"
            )
        idm = self._identity_at(base)
        if old.lower() in {c.lower() for c in idm}:
            # the spec map is keyed by logical name; conservative, like
            # the generated-column rule (a keyed rewrite is possible but
            # identity columns are keys — renaming keys mid-life invites
            # more trouble than it solves)
            raise VersionedTableError(
                f"cannot rename identity column {old!r}; drop it first "
                f"(the sequence restarts on re-add)"
            )
        tombstones = self._dropped_at(base)
        if new.lower() in (d.lower() for d in tombstones):
            raise VersionedTableError(
                f"rename_column: {new!r} was DROPPED and files written "
                f"before the drop still hold bytes under it — renaming "
                f"onto the name invites misreads. Rewrite the table "
                f"first (overwrite(..., overwrite_schema=True))"
            )
        mapping = self._mapping_at(base)
        actual = fields[i].name
        phys = mapping.pop(actual, actual)
        if new != phys:
            mapping[new] = phys
        fields[i] = T.StructField(new, fields[i].dataType, True)
        return self._commit(
            None,
            "rename_column",
            base,
            new_files=[],
            schema=T.StructType(fields).jsonValue(),
            dropped=tombstones,
            mapping=mapping,
        )

    def _stats_at(self, version: int) -> dict[str, dict]:
        """File → column-bounds map at ``version``. Old-format manifests
        without ``stats`` contribute nothing — absent stats disable
        skipping for those files, never correctness."""
        return self._overlay_at(version, "stats")

    def _write_checkpoint(self, version: int, force_full: bool = False) -> None:
        """Best-effort checkpoint AFTER manifest ``version`` is
        committed. Crash-safe by construction: readers that don't find
        it replay deltas instead; temp+rename keeps a torn write from
        ever appearing under the checkpoint name.

        PARQUET format (Delta's own checkpoint format choice): one row
        per data file — ``path`` plus JSON-encoded ``stats`` and ``dv``
        cells — with every O(1) table property (schema, txns,
        constraints, features, …) in the footer metadata. Why it matters
        at 10^6 add-entries: the old single-JSON blob was O(files) to
        parse for ANY lookup; the parquet form serves property walks
        from the footer alone, snapshot reconstruction from the ``path``
        column alone, and is splittable/``spark.read``-able if a reader
        ever wants to distribute it (see _read_checkpoint).

        INCREMENTAL by default (Delta's v2-checkpoint shape): when every
        manifest since the previous checkpoint is an append-shaped delta
        and the chain is still short (INCREMENTAL_CHAIN_MAX), the rows
        are just the NEW adds with a ``base_cp`` footer pointer to the
        previous checkpoint — the write is O(delta), independent of
        table file count, which is what an always-on streaming sink's
        checkpoint cadence must cost. The footer META is always
        complete (computed from O(1) walks), so property lookups never
        chain. ``force_full=True`` (vacuum's truncation floor, and the
        post-snapshot-commit hook) compacts the chain to a
        self-contained full snapshot."""
        if not force_full:
            inc = self._incremental_delta(version)
            if inc is not None:
                base_cp, chain, adds, add_stats, add_flt = inc
                meta = self._checkpoint_meta(version)
                meta["base_cp"] = base_cp
                meta["chain"] = chain
                # chain segments are pure adds: new files never carry
                # dv entries, so the dv column is all-NULL here and dv
                # resolution reads the base's rows
                self._put_checkpoint(
                    version, adds, add_stats, {}, meta, flt=add_flt
                )
                return
        state = self._state(version)
        stats = self._stats_at(version)
        keep = set(state)
        stats = {f: s for f, s in stats.items() if f in keep}
        dv = self._dv_at(version)
        flt = {
            f: s for f, s in self._filters_at(version).items() if f in keep
        }
        meta = self._checkpoint_meta(version)
        # a dv entry keyed off-snapshot has no row to ride (cannot
        # happen by construction — dv entries die with their file — but
        # losing one would resurrect deleted rows, so belt-and-braces)
        dv_extra = {f: e for f, e in dv.items() if f not in keep}
        if dv_extra:
            meta["dv_extra"] = dv_extra
        self._put_checkpoint(version, state, stats, dv, meta, flt=flt)

    def _checkpoint_interval(self, version: int) -> int:
        """Checkpoint cadence in effect (Delta's
        delta.checkpointInterval): the ``vt.checkpointInterval``
        TBLPROPERTY when set, else the module default. Best-effort: an
        unreadable log answers the default (the cadence is an
        optimization, never a correctness input)."""
        try:
            raw = self._properties_at(version).get("vt.checkpointInterval")
            if raw:
                return max(1, int(raw))
        except Exception:  # noqa: BLE001 - cadence is advisory
            pass
        return CHECKPOINT_EVERY

    def _checkpoint_meta(self, version: int) -> dict:
        """The complete O(1) property set every checkpoint footer
        carries (full and incremental alike — meta lookups never chain).
        All inputs are bounded walks: each terminates at the previous
        checkpoint's footer or an intervening manifest that recorded the
        key."""
        meta: dict = {
            "version": version,
            "txns": self._txns_at(version),
            "partition_by": self._partition_by_at(version),
        }
        for key in _CARRIED:
            val, _ = self._walk_to(version, key)
            if val:
                meta[key] = val
        meta.update(
            self._schema_entries(version, *self._schema_record_at(version))
        )
        feats = self._features_at(version)
        if feats:
            # the walk terminates at checkpoints: the protocol fence
            # must survive log truncation like every other property
            meta["features"] = sorted(feats)
        # creation time must survive log truncation (vacuum writes its
        # checkpoint right before deleting the head manifests)
        meta["created_ts"] = self._created_ts(version)
        return meta

    def _incremental_delta(
        self, version: int
    ) -> tuple[int, int, list[str], dict[str, dict], dict[str, str]] | None:
        """(base_cp_version, chain_depth, adds, stats, filters) when an
        incremental checkpoint can cover ``version`` — every manifest
        back to the previous checkpoint is an append-shaped delta
        (``add`` without ``files``; metadata-only commits qualify, their
        delta is empty) and stacking on that checkpoint stays inside
        INCREMENTAL_CHAIN_MAX. None → write a full checkpoint."""
        walk_cap = 4 * self._checkpoint_interval(version)
        # the head is read as a manifest: a checkpoint already written at
        # ``version`` is the one being replaced, never the base
        head = self._load_json(
            os.path.join(self.log_dir, f"{version:08d}.json")
        )
        if head is None:
            return None
        deltas: list[dict] = []
        try:
            walk = itertools.chain([head], self._replay(version - 1, "meta"))
            for m in itertools.islice(walk, walk_cap + 1):
                if "op" not in m:  # a checkpoint's footer: the base
                    break
                if "files" in m or "add" not in m:
                    return None  # a full snapshot in range: re-anchor
                deltas.append(m)
            else:
                return None  # unhealthy cadence: re-anchor with a full
        except Exception:  # noqa: BLE001 - truncated/unreadable: re-anchor
            return None
        chain = int(m.get("chain", 0) or 0) + 1
        if chain > INCREMENTAL_CHAIN_MAX:
            return None
        adds: list[str] = []
        stats: dict[str, dict] = {}
        flt: dict[str, str] = {}
        for d in reversed(deltas):
            adds.extend(d["add"])
            stats.update(d.get("stats", {}))
            flt.update(d.get("filters", {}))
        return version - len(deltas), chain, adds, stats, flt

    def _put_checkpoint(
        self,
        version: int,
        paths: list[str],
        stats: dict[str, dict],
        dv: dict,
        meta: dict,
        flt: dict[str, str] | None = None,
    ) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        flt = flt or {}
        table = pa.table(
            {
                "path": pa.array(paths, pa.string()),
                "stats": pa.array(
                    [
                        json.dumps(stats[f]) if f in stats else None
                        for f in paths
                    ],
                    pa.string(),
                ),
                "dv": pa.array(
                    [
                        json.dumps(dv[f]) if f in dv else None
                        for f in paths
                    ],
                    pa.string(),
                ),
                "flt": pa.array(
                    [flt.get(f) for f in paths], pa.string()
                ),
            }
        )
        table = table.replace_schema_metadata(
            {self._CP_META_KEY: json.dumps(meta).encode()}
        )
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        # checkpoints are derived data — identical content from any
        # writer of this version — so the store's overwrite put is safe
        self._store.put(
            self._checkpoint_pq_path(version),
            sink.getvalue().to_pybytes(),
        )

    def _compose_concurrent_appends(
        self,
        base: int | None,
        latest: int,
        op: str,
        triples: list[tuple[str, str, object]] | None,
    ) -> tuple[list[str], dict[str, dict]]:
        """The concurrent commits ``base+1..latest`` as composable append
        deltas: their added files + stats, for a maintenance/DML rebase.
        Raises (→ the op aborts, the original conflict rule) when any
        concurrent commit is NOT a pure append — a rewrite/DML/metadata
        change invalidates the op's snapshot — or, with ``triples``, when
        any added file's stats MAY satisfy the predicate conjunction the
        op was computed against (a row the op's scan never saw could
        match: Delta's ConcurrentAppendException). Missing stats are a
        conservative conflict: "cannot prove disjoint" must never become
        "assume disjoint"."""
        added: list[str] = []
        stats: dict[str, dict] = {}
        for v in range((base if base is not None else -1) + 1, latest + 1):
            try:
                m = self._manifest(v)
            except FileNotFoundError:
                raise VersionedTableError(
                    f"concurrent commit {v} has no readable manifest "
                    f"(vacuumed?); re-run the {op}"
                ) from None
            # pure append DELTA only: a schema-evolving append changes
            # metadata the op's rows were validated against (Delta fails
            # the racing txn on any metadata change); metadata-only
            # commits, DML, rewrites and other maintenance all conflict
            if m.get("op") != "append" or "add" not in m or "schema" in m:
                raise VersionedTableError(
                    f"concurrent commit {v} is {m.get('op')!r}, not a pure "
                    f"append; {op} was computed against a stale snapshot — "
                    f"re-run the {op}"
                )
            mstats = m.get("stats", {})
            for f in m["add"]:
                st = mstats.get(f)
                if triples is not None and (
                    st is None
                    or all(
                        self._file_may_match(st, c, o, val)
                        for (c, o, val) in triples
                    )
                ):
                    raise VersionedTableError(
                        f"concurrent append {v} added files that may "
                        f"match the {op} predicate — its row set is "
                        f"stale; re-run the {op}"
                    )
                added.append(f)
                if st is not None:
                    stats[f] = st
        return added, stats

    def _schema_entries(
        self,
        version: int | None,
        schema: dict | None,
        dropped: list[str] | None = None,
        mapping: dict[str, str] | None = None,
    ) -> dict:
        """The schema record a manifest or checkpoint carries ({} without
        a schema): the schema with its dropped-column tombstones and its
        column mapping beside it, parts not given carried from
        ``version``. All three terminate the same walk, so the mapping
        rides every schema-carrying record, even empty — one without it
        would end the mapping walk early and resurrect a stale (or lose a
        live) mapping."""
        if schema is None:
            return {}
        if dropped is None:
            dropped = [] if version is None else self._dropped_at(version)
        if mapping is None:
            mapping = {} if version is None else self._mapping_at(version)
        return {
            "schema": schema,
            "dropped_columns": dropped,
            "column_mapping": mapping,
        }

    def _manifest_features(
        self, version: int | None, op: str, manifest: dict
    ) -> list[str]:
        """The feature flags a manifest records: the set in force at
        ``version`` (monotone — Delta's protocol never downgrades) plus
        what THIS commit introduces, so a pre-feature reader or writer
        fails fast by name instead of misreading the table."""
        feats = set(
            self._features_at(version) if version is not None else ()
        )
        if manifest.get("column_mapping"):
            # files store physical names that differ from the logical ones
            feats.add("column-mapping")
        if op == "widen_column":
            # older files hold narrower types than the recorded schema
            feats.add("type-widening")
        if manifest.get("generated"):
            # a pre-feature writer would append without computing or
            # validating the generated columns — silently breaking the
            # invariant
            feats.add("generated-columns")
        idm = manifest.get("identity") or {}
        if idm:
            # a pre-feature writer would neither allocate nor advance
            # the watermark: NULL or colliding ids
            feats.add("identity-columns")
        if any(
            isinstance(sp, dict) and sp.get("hidden") for sp in idm.values()
        ):
            # a pre-feature DML rewrite would silently DROP the hidden
            # _row_id column from rewritten files
            feats.add("row-tracking")
        if any(os.path.isabs(f) for f in manifest.get("files", ())):
            feats.add("external-files")  # a clone references its source
        if manifest.get("dv"):
            feats.add("deletion-vectors")
        return sorted(feats)

    def _commit(
        self,
        files: list[str] | None,
        op: str,
        base_version: int | None,
        new_files: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        cdc: list[str] | None = None,
        known_stats: dict[str, dict] | None = None,
        partition_by: list[str] | None = None,
        enforced_constraints: dict[str, str] | None = None,
        schema: dict | None = None,
        enforced_schema: dict | None = None,
        dropped: list[str] | None = None,
        dv: dict | None = None,
        enforced_partition_by: list[str] | None = None,
        rebase_on_appends: object = None,
        mapping: dict[str, str] | None = None,
        constraints: dict[str, str] | None = None,
        properties: dict[str, str] | None = None,
        params: dict | None = None,
        generated: dict[str, str] | None = None,
        identity: dict[str, dict] | None = None,
        identity_files: list[str] | None = None,
        enforced_identity: dict[str, dict] | None = None,
    ) -> int | None:
        """The one code path that writes a manifest: every commit, data
        or metadata, is an atomic O_EXCL manifest create with Delta-style
        conflict resolution on version collision, per the op's
        _OP_POLICY row.

        Two manifest shapes. Given only ``new_files`` (``files`` None)
        the commit is a DELTA: ``add`` lists the new files and the
        manifest records only the metadata the caller passed (an
        append's evolved schema or advanced identity mark; a DDL's full
        new map over an empty ``add``). Its cost is O(new files)
        regardless of table size, a key it does not record leaves that
        property's walk untouched, and losing the race needs no rebase:
        no full list is rewritten, so a concurrent winner's files cannot
        be dropped. Given ``files`` the commit is a full SNAPSHOT that
        resets the state and carries every table property the caller did
        not set (_CARRIED, the schema record, the kept files' deletion
        vectors, the feature flags). Version 0 is always a snapshot.

        ``cdc``: change-data file names (under ``_cdc/``) recorded on
        row-level DML commits (delete/update/merge) — Delta's CDF
        add-cdc-file actions. ``known_stats``: bounds already in the log
        for files this commit KEEPS (the untouched side of a file-pruned
        DML rewrite) — footers are re-read only for files not covered, so
        a delete touching 3 of 10^6 files collects 3 footers, not 10^6.

        ``identity_files``: the files holding the rows an identity
        allocation numbered; their footer ``#rows`` advance the
        ``identity`` high-water mark.

        ``enforced_partition_by``: the hive layout the commit's files
        were STAGED under (appends pass it) — a rebase past a concurrent
        overwrite that re-declared the layout must fail, or the commit
        would mix flat files into a now-partitioned table (Delta fails
        the racing txn on any metadata change).

        ``rebase_on_appends`` (Delta's file-level OCC for maintenance /
        predicate-bounded ops): instead of aborting on ANY concurrent
        commit, a full-snapshot op may REBASE over concurrent PURE
        APPENDS by re-listing the winners' added files into its own
        snapshot. ``True`` = compose unconditionally (compact: a layout
        rewrite removes only the files it read, so a concurrent append
        composes by construction — without this, always-on streaming
        ingest starves OPTIMIZE forever). A ``[(col, op, literal), …]``
        triple list = compose ONLY when no added file's stats can match
        the predicate the op was computed against (Delta's
        ConcurrentAppendException check for DELETE/UPDATE/MERGE); any
        possibly-matching file, missing stats, or non-append concurrent
        commit aborts as before. ``None`` = the op's policy row decides."""
        policy = _OP_POLICY[op]
        os.makedirs(self.log_dir, exist_ok=True)
        # per-file min/max from the footers just written (Delta's add-file
        # stats) — computed once; a commit-race retry reuses them
        stat_files = list(new_files or []) if files is None else list(files)
        known = known_stats or {}
        stats = self._collect_stats([f for f in stat_files if f not in known])
        stats.update({f: known[f] for f in stat_files if f in known})
        if identity and identity_files is not None:
            # advance the high-water mark from the footer #rows ALREADY
            # collected — no extra job, no driver-side row counting. The
            # files hold every row the allocation numbered, so the mark
            # never falls behind an allocated id; counting rows it did
            # not number only widens a gap (identity is gap-tolerant by
            # contract)
            n = sum(
                int(stats[f]["#rows"]) for f in identity_files if f in stats
            )
            identity = {
                c: {
                    **sp,
                    "high": (
                        sp["high"]
                        if sp.get("high") is not None
                        else sp["start"] - sp["step"]
                    )
                    + sp["step"] * n,
                }
                for c, sp in identity.items()
            }
        given = dict(
            zip(_CARRIED, (constraints, properties, generated, identity))
        )
        for _ in range(50):
            latest = self.latest_version()
            if latest is not None:
                # protocol fence on the WRITE side too: an append never
                # reconstructs the snapshot (_state), so it must check
                # here — committing on top of an ununderstood feature
                # could violate invariants that feature maintains
                self._check_features(latest)
                if policy.changes_rows and self._properties_at(latest).get(
                    "vt.appendOnly"
                ) == "true":
                    # Delta's delta.appendOnly: the audit-table switch,
                    # refused AT COMMIT so no write beats the gate
                    raise VersionedTableError(
                        f"table at {self.path} is append-only "
                        f"(vt.appendOnly=true); {op} would remove or "
                        f"change rows — unset the property first"
                    )
            if txn is not None and latest is not None:
                # idempotence check INSIDE the retry loop: a concurrent
                # same-app writer may have landed this batch between
                # attempts (Delta's SetTransaction rule: skip when the
                # app's highest committed batch already covers this one)
                app, batch = txn
                if self._txns_at(latest).get(app, -1) >= batch:
                    return None
            if latest != base_version:
                # someone committed after this writer snapshotted its base
                if (
                    enforced_constraints is not None
                    and self._constraints_at(latest) != enforced_constraints
                ):
                    # the data was validated against the BASE's CHECK
                    # constraints; rebasing past a concurrent
                    # add/drop_constraint would commit rows no one
                    # validated against the new map (Delta fails the
                    # racing txn on any metadata change, same rule)
                    raise VersionedTableError(
                        f"concurrent commit changed the table constraints "
                        f"past base {base_version}; re-run the {op} so its "
                        f"rows are validated against the current map"
                    )
                if enforced_schema is not None:
                    cur_schema = self._schema_at(latest)
                    if cur_schema is not None and self._canon_schema(
                        cur_schema
                    ) != self._canon_schema(enforced_schema):
                        # same rule as constraints: the rows were aligned
                        # against the BASE's schema; a concurrent schema
                        # change makes that alignment stale
                        raise VersionedTableError(
                            f"concurrent commit changed the table schema "
                            f"past base {base_version}; re-run the {op} so "
                            f"its rows are aligned against the current "
                            f"schema"
                        )
                if (
                    enforced_identity is not None
                    and self._identity_at(latest) != enforced_identity
                ):
                    # the allocation read the BASE's high-water mark; a
                    # concurrent allocating commit moved it — composing
                    # would hand out the same ids twice. Abort; the
                    # re-run allocates from the new mark (Delta treats
                    # identity watermark moves as txn conflicts too).
                    raise VersionedTableError(
                        f"concurrent commit advanced an identity "
                        f"high-water mark past base {base_version}; "
                        f"re-run the {op} so its ids allocate from the "
                        f"current mark"
                    )
                if enforced_partition_by is not None and self._partition_by_at(
                    latest
                ) != list(enforced_partition_by):
                    # the files were STAGED under the base's layout; a
                    # concurrent overwrite(partition_by=[...]) re-declared
                    # it — committing would mix flat files into a
                    # partitioned table (or stale hive dirs into a new
                    # layout), breaking basePath scans / partition values
                    raise VersionedTableError(
                        f"concurrent commit re-declared the partition "
                        f"layout past base {base_version} (staged under "
                        f"{list(enforced_partition_by)}, table now "
                        f"{self._partition_by_at(latest)}); re-run the "
                        f"{op} against the new layout"
                    )
                if rebase_on_appends is not None:
                    # file-level conflict resolution: compose with
                    # concurrent pure appends (raises on anything else,
                    # or on an append that may match the read predicate)
                    add_files, add_stats = self._compose_concurrent_appends(
                        base_version,
                        latest,
                        op,
                        None
                        if rebase_on_appends is True
                        else rebase_on_appends,
                    )
                    have = set(files or [])
                    files = list(files or []) + [
                        f for f in add_files if f not in have
                    ]
                    stats.update(add_stats)
                    base_version = latest
                    continue  # re-enter with the rebased state
                if not policy.composes:
                    raise VersionedTableError(
                        f"concurrent commit advanced the log to {latest} past "
                        f"base {base_version}; {op} was computed against a "
                        f"stale snapshot — re-run the {op}"
                    )
                base_version = latest
            version = (latest + 1) if latest is not None else 0
            manifest: dict = {"version": version, "op": op}
            sch, drp = schema, dropped
            if files is None and version > 0:
                manifest.update(
                    add=list(new_files or []),
                    stats=stats,
                    base=base_version,
                    ts=time.time(),
                )
                if txn is not None:
                    manifest["txn"] = [txn[0], txn[1]]
                manifest.update(
                    {k: v for k, v in given.items() if v is not None}
                )
            else:
                snap = files if files is not None else list(new_files or [])
                txns = self._txns_at(latest) if latest is not None else {}
                if txn is not None and txn[1] > txns.get(txn[0], -1):
                    txns[txn[0]] = txn[1]
                manifest.update(
                    files=snap,
                    stats=stats,
                    txns=txns,
                    base=base_version,
                    ts=time.time(),
                )
                if partition_by:
                    # Delta's metaData action: the snapshot's layout
                    manifest["partition_by"] = list(partition_by)
                for key, val in given.items():
                    if val is None and latest is not None:
                        val, _ = self._walk_to(latest, key)
                    if val:
                        manifest[key] = val
                if sch is None and latest is not None:
                    # the frame was scanned FROM the table (compact, DML
                    # rewrites, replace): its recorded schema carries
                    sch, carried = self._schema_record_at(latest)
                    if drp is None:
                        drp = carried
                live_dv = dv
                if live_dv is None and latest is not None:
                    # deletion vectors carry restricted to files still in
                    # THIS snapshot: an entry for a rewritten or dropped
                    # file dies with the file (overwrite/compact reset to
                    # {}, partial rewrites keep the untouched files')
                    keep = set(snap)
                    live_dv = {
                        f: e
                        for f, e in self._dv_at(latest).items()
                        if f in keep
                    }
                if live_dv:
                    manifest["dv"] = live_dv
            manifest.update(self._schema_entries(latest, sch, drp, mapping))
            if not policy.data_change:
                manifest["data_change"] = False
            if cdc:
                # row-level change files (Delta CDF add-cdc-file):
                # what changed, readable without diffing snapshots
                manifest["cdc"] = list(cdc)
            if params:
                # Delta's operationParameters (audit trail)
                manifest["params"] = params
            # bloom-filter sidecar refs ride the manifest like stats (see
            # _filters_at): fresh files take their pending sidecar, a
            # snapshot's kept files carry theirs — guarded by the
            # directory probe so tables without the index pay nothing
            carried_flt = (
                self._filters_at(latest)
                if "files" in manifest
                and latest is not None
                and (
                    self._pending_filters
                    or os.path.isdir(os.path.join(self.path, "_filters"))
                )
                else {}
            )
            flt = {
                f: self._pending_filters.get(f, carried_flt.get(f))
                for f in manifest.get("files", manifest.get("add"))
                if f in self._pending_filters or f in carried_flt
            }
            if flt:
                manifest["filters"] = flt
            if "files" in manifest or not policy.data_change:
                # feature flags ride every snapshot (the walk never loses
                # them across a rewrite) and every metadata delta (the
                # commits that introduce them); a data delta cannot
                # introduce one
                feats = self._manifest_features(latest, op, manifest)
                if feats:
                    manifest["features"] = feats
            if not self._publish_manifest(version, manifest):
                continue  # lost the commit race; loop re-reads the log
            self._pending_filters = {}
            if (
                "add" in manifest
                and version % self._checkpoint_interval(version) == 0
            ):
                # bound future readers' delta replay — every delta counts
                # toward the cadence, metadata deltas included. Best-effort
                # AFTER the commit point: the commit IS published, so a
                # failure here (disk full, concurrent vacuum racing the
                # manifest walk) must not surface as a failed commit — a
                # caller retrying a "failed" append would duplicate rows.
                try:
                    self._write_checkpoint(version)
                except Exception:  # noqa: BLE001 - readers replay deltas instead
                    pass
            elif (
                "files" in manifest
                and len(manifest["files"]) >= SNAPSHOT_CHECKPOINT_MIN_FILES
            ):
                # a LARGE full-snapshot commit (overwrite / DML rewrite /
                # convert / restore) gets its checkpoint immediately,
                # assembled from the IN-MEMORY manifest via the transient
                # cache — zero JSON re-parse now, and every later
                # property walk / checkpoint write terminates at the
                # parquet footer instead of parsing this O(files) JSON
                # manifest again. Best-effort for the same reason as the
                # delta cadence above.
                mf_path = os.path.join(self.log_dir, f"{version:08d}.json")
                self._mf_cache[mf_path] = manifest
                try:
                    self._write_checkpoint(version, force_full=True)
                except Exception:  # noqa: BLE001 - readers parse the manifest instead
                    pass
                finally:
                    self._mf_cache.pop(mf_path, None)
            return version
        raise VersionedTableError("could not commit after 50 attempts")

    # -- data files -----------------------------------------------------
    def _job_label(self, desc: str):
        """Label the Spark jobs a DML phase launches (guide §1.5) so
        commit-protocol traces and the UI attribute every job to its
        phase (envelope / discovery / rewrite / insert / cdf / stats).
        Restores the caller's description on exit; job descriptions are
        thread-local, so labels set inside _overlapped's worker threads
        never leak across the concurrent staging writes."""
        from contextlib import contextmanager

        sc = self.spark.sparkContext

        @contextmanager
        def _ctx():
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"vt:{desc}")
            try:
                yield
            finally:
                sc.setJobDescription(prev)

        return _ctx()

    def _overlapped(self, *thunks):
        """Run a commit's INDEPENDENT staging writes (touched-file
        rewrite, insert files, CDF sidecar) as concurrent driver-thread
        jobs so each job's task tail back-fills cores the others leave
        idle — the overlap-independent-jobs shape. Every thunk stages
        under its own uuid directory and results return in submission
        order, so the commit's manifest is identical to the sequential
        order. ``None`` thunks return None (absent branch). On failure
        every sibling future is still awaited (a half-staged sibling
        only leaves unreferenced files for vacuum's grace sweep — the
        same exposure a failure BETWEEN the sequential writes always
        had), then the first error re-raises. Job descriptions are
        thread-local, so each thunk sets its own label."""
        from concurrent.futures import ThreadPoolExecutor

        live = [t for t in thunks if t is not None]
        with ThreadPoolExecutor(max_workers=max(1, len(live))) as pool:
            futs = [
                pool.submit(t) if t is not None else None for t in thunks
            ]
            out: list = []
            err: BaseException | None = None
            for f in futs:
                if f is None:
                    out.append(None)
                    continue
                try:
                    out.append(f.result())
                except BaseException as e:  # noqa: BLE001
                    out.append(None)
                    if err is None:
                        err = e
        if err is not None:
            raise err
        return out

    def _write_data_files(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        mapping: dict[str, str] | None = None,
    ) -> list[str]:
        """Stage the frame's parquet files and move them under the table
        root, returning their manifest names. With ``partition_by`` the
        write is hive-layout (``col=value/part-*.parquet``) and the
        manifest names keep the partition directories — the partition a
        file belongs to is readable from its NAME, which is what lets
        _collect_stats turn partition values into prunable bounds
        without touching a footer.

        ``mapping``: logical → physical column names; data files ALWAYS
        store physical names, so every file across the table's history
        agrees regardless of renames (partition columns are never
        renameable, so ``partition_by`` needs no translation)."""
        if mapping:
            df = df.select(
                *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
            )
        staging = os.path.join(self.path, f"__stage__{uuid.uuid4().hex[:8]}")
        w = df.write.mode("overwrite")
        if partition_by:
            missing = [c for c in partition_by if c not in df.columns]
            if missing:
                raise VersionedTableError(
                    f"partition columns {missing} not in frame columns "
                    f"{df.columns}"
                )
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        os.makedirs(self.path, exist_ok=True)
        files = []
        for root, _dirs, names in os.walk(staging):
            rel_dir = os.path.relpath(root, staging)
            for f in sorted(names):
                if not f.endswith(".parquet"):
                    continue
                name = f"part-{uuid.uuid4().hex[:12]}.parquet"
                rel = name if rel_dir == "." else os.path.join(rel_dir, name)
                target = os.path.join(self.path, rel)
                os.makedirs(os.path.dirname(target), exist_ok=True)
                os.rename(os.path.join(root, f), target)
                files.append(rel)
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        files = sorted(files)
        if files:
            # bloom-filter index build (opt-in TBLPROPERTY; {} when not
            # configured). Advisory: a failed build never fails the
            # write — those files just have no filter to skip on.
            try:
                built = self._build_filters(files)
            except Exception:  # noqa: BLE001 - index is advisory
                built = {}
            if built:
                self._pending_filters.update(built)
        return files

    def _write_cdc_files(
        self, df: DataFrame, mapping: dict[str, str] | None = None
    ) -> list[str]:
        """Write change rows under ``_cdc/`` and return their manifest
        names (``_cdc/cdc-*.parquet``). Change files are NOT part of any
        snapshot — _state never lists them — they are per-version CDF
        payload, referenced only by their commit's ``cdc`` field and read
        only by change_feed()/the CDF stream. Like data files they store
        PHYSICAL column names (``mapping``), so a change feed spanning a
        rename reads every change file uniformly; ``_change_type`` is
        metadata and never mapped."""
        if mapping:
            df = df.select(
                *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
            )
        return self._write_sidecar_files(df, "_cdc", "cdc")

    def _collect_stats(self, files: list[str]) -> dict[str, dict]:
        """Per-file [min, max] for top-level primitive columns, read from
        the parquet footers the write just produced (Delta's per-add-file
        stats). A column missing min/max in ANY row group is dropped for
        that file — absent stats mean "cannot skip", never "no rows".
        Only JSON-faithful primitives are kept (int/float/str/bool):
        timestamps/decimals would round-trip lossily through the manifest
        and a lossy bound is a wrong bound.

        A partitioned file's partition values (parsed from its
        ``col=value`` path segments, typed best-effort like Spark's own
        partition inference: int, then float, then string) are injected
        as degenerate ``[v, v]`` bounds — so ``read(prune=…)`` on a
        partition column skips whole partitions from the manifest alone,
        which IS partition pruning, through the same code path as stats
        skipping.

        Past a driver-loop threshold the footer reads fan out as a Spark
        job (r15; the convert(distributed=True) shape): a 10k-file
        backfill append paid 10k SEQUENTIAL driver footer opens — on an
        object store that serial walk IS the commit latency. The
        returned per-file dicts are a few hundred bytes of bounds, so
        collecting them is O(files) metadata, not data."""
        root = self.path
        if len(files) > 32:
            return dict(
                self.spark.sparkContext.parallelize(
                    files, max(1, min(64, len(files) // 8 + 1))
                )
                .map(lambda n: (n, VersionedTable._file_stats(root, n)))
                .collect()
            )
        return {n: self._file_stats(root, n) for n in files}

    @staticmethod
    def _file_stats(root: str, name: str) -> dict:
        """One file's footer stats (the per-file body of
        :meth:`_collect_stats`) — a staticmethod over (root, name) so
        distributed collectors (``convert(distributed=True)``) can run
        it on executors against a shared filesystem / object store."""
        import pyarrow.parquet as pq

        f = pq.ParquetFile(os.path.join(root, name))
        md = f.metadata
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        nulls: dict[str, int] = {}
        dropped: set[str] = set()
        null_dropped: set[str] = set()
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                cname = col.path_in_schema
                if "." in cname:
                    continue  # nested leaf — no top-level bound
                st = col.statistics
                # per-column NULL counts (Delta's nullCount stat):
                # what IS NULL / IS NOT NULL pruning reads. Tracked
                # independently of min/max — an all-NULL column has
                # no bounds but a perfectly good null count
                if (
                    st is None
                    or st.null_count is None
                    or cname in null_dropped
                ):
                    null_dropped.add(cname)
                    nulls.pop(cname, None)
                else:
                    nulls[cname] = nulls.get(cname, 0) + int(st.null_count)
                if cname in dropped:
                    continue
                ok_types = (int, float, str, bool)
                try:
                    # ACCESSING .min/.max raises ArrowNotImplementedError
                    # for types pyarrow cannot extract (e.g. decimal on
                    # some physical layouts) — absent stats mean "cannot
                    # skip", never a failed commit
                    lo, hi = (
                        (st.min, st.max)
                        if st is not None and st.has_min_max
                        else (None, None)
                    )
                except Exception:  # noqa: BLE001 - stats are advisory
                    lo, hi = None, None
                if not isinstance(lo, ok_types) or not isinstance(
                    hi, ok_types
                ):
                    dropped.add(cname)
                    mins.pop(cname, None)
                    maxs.pop(cname, None)
                    continue
                if cname not in mins or lo < mins[cname]:
                    mins[cname] = lo
                if cname not in maxs or hi > maxs[cname]:
                    maxs[cname] = hi
        bounds = {c: [mins[c], maxs[c]] for c in mins if c in maxs}
        for col, val in VersionedTable._partition_values(name).items():
            bounds[col] = [val, val]
            nulls[col] = 0  # a col=value hive segment holds no NULL
        if "__HIVE_DEFAULT_PARTITION__" in name:
            from urllib.parse import unquote

            for seg in name.replace(os.sep, "/").split("/")[:-1]:
                c, _, raw = seg.partition("=")
                if c and unquote(raw) == "__HIVE_DEFAULT_PARTITION__":
                    nulls[c] = md.num_rows  # the NULL partition
        # reserved scalar entries (not column bounds): per-file row
        # and byte counts — metadata-only COUNT(*) and compaction
        # planning read these from the log instead of the filesystem
        bounds["#rows"] = md.num_rows
        bounds["#bytes"] = os.path.getsize(os.path.join(root, name))
        if nulls:
            bounds["#nulls"] = nulls
        return bounds

    @staticmethod
    def _partition_values(name: str) -> dict[str, object]:
        """``col=value`` pairs parsed from a manifest name's directory
        segments (hive layout), typed best-effort (int → float → str,
        Spark's own partition-inference order); ``__HIVE_DEFAULT_
        PARTITION__`` is the null marker and contributes no bound."""
        from urllib.parse import unquote

        out: dict[str, object] = {}
        if os.path.isabs(name):
            # a SHALLOW CLONE's external reference: the absolute path's
            # directories are the SOURCE's layout, where arbitrary
            # enclosing directories may LOOK like hive segments — blind
            # parsing would fabricate bounds. Partitioned clones parse
            # external hive segments in-plan instead (_scan_files),
            # filtered to the table's DECLARED partition columns and
            # anchored to the innermost occurrence.
            return out
        parts = name.replace(os.sep, "/").split("/")[:-1]
        for seg in parts:
            if "=" not in seg:
                continue
            col, _, raw = seg.partition("=")
            raw = unquote(raw)
            if raw == "__HIVE_DEFAULT_PARTITION__":
                continue  # NULL partition: no usable bound
            val: object
            try:
                val = int(raw)
            except ValueError:
                try:
                    val = float(raw)
                except ValueError:
                    val = raw
            out[col] = val
        return out

    # -- bloom-filter indexes (point-lookup data skipping) ---------------
    def _bloom_config(
        self, version: int | None = None
    ) -> tuple[list[str], float] | None:
        """(logical columns, fpp) when the bloom-filter index is
        configured (``vt.bloomFilter.columns`` TBLPROPERTY), else None.
        Opt-in by design: the index costs one column re-read per new
        file at write time, which only pays for itself on tables that
        serve selective ``key = X`` lookups."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        props = self._properties_at(v)
        cols = [
            c.strip()
            for c in props.get("vt.bloomFilter.columns", "").split(",")
            if c.strip()
        ]
        if not cols:
            return None
        return cols, float(props.get("vt.bloomFilter.fpp", "0.01"))

    @staticmethod
    def _file_filter_rows(
        root: str, name: str, cols: list[str], fpp: float
    ) -> list[tuple[str, str, str, int, bytes]]:
        """(file, column, type-tag, ndv, blob) rows for one data file —
        a staticmethod over (root, name) so the build fans out as a
        Spark job at high file counts (the convert/vacuum distributed
        shape). Reads ONLY the indexed columns (column-pruned pyarrow
        read); a column the file lacks, or whose type the index does
        not support, simply contributes no row (skipping disabled for
        that file+column, never correctness)."""
        import pyarrow.parquet as pq

        from as_etl_storage_spark.writers import bloom

        pf = pq.ParquetFile(os.path.join(root, name))
        have = [c for c in cols if c in pf.schema_arrow.names]
        if not have:
            return []
        tbl = pf.read(columns=have)
        out = []
        for c in have:
            built = bloom.build_column_filter(
                tbl.column(c).to_pylist(), fpp
            )
            if built is not None:
                blob, tag, ndv = built
                out.append((name, c, tag, ndv, blob))
        return out

    @staticmethod
    def _write_filter_sidecar(
        root: str, rows: list[tuple[str, str, str, int, bytes]]
    ) -> str:
        """Write bloom rows (file/column/tag/ndv/blob) as one sidecar
        parquet under ``_filters/``, returning its table-relative path.
        Atomic tmp+rename so sidecars appear whole, like data files.
        Static so EXECUTOR tasks can call it — the build fan-out writes
        per-partition sidecars in place instead of shipping blobs back
        to the driver."""
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = os.path.join(
            "_filters", f"flt-{_uuid.uuid4().hex[:12]}.parquet"
        )
        target = os.path.join(root, rel)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        table = pa.table(
            {
                "file": pa.array([r[0] for r in rows], pa.string()),
                "column": pa.array([r[1] for r in rows], pa.string()),
                "tag": pa.array([r[2] for r in rows], pa.string()),
                "ndv": pa.array([r[3] for r in rows], pa.int64()),
                "blob": pa.array([r[4] for r in rows], pa.binary()),
            }
        )
        tmp = target + f".tmp-{_uuid.uuid4().hex[:8]}"
        pq.write_table(table, tmp)
        os.replace(tmp, target)
        return rel

    @staticmethod
    def _partition_filter_sidecar(
        root: str, names: list[str], cols: list[str], fpp: float
    ) -> list[tuple[str, str]]:
        """One fan-out task's share of the bloom build: compute filter
        rows for ``names`` and write them as THIS TASK'S OWN sidecar,
        returning only (file, sidecar-relpath) pairs. The ndv-sized
        blobs never leave the executor (r15 fix: collecting them made
        driver memory ∝ commit size — a 10k-file high-ndv backfill
        could put GBs on the driver; the manifest format already
        supports many sidecars per commit). A task retry can orphan a
        written sidecar; vacuum's keep_flt sweep reclaims it exactly
        like an unreferenced data file."""
        rows = [
            r
            for n in names
            for r in VersionedTable._file_filter_rows(root, n, cols, fpp)
        ]
        if not rows:
            return []
        rel = VersionedTable._write_filter_sidecar(root, rows)
        return [(r[0], rel) for r in rows]

    def _build_filters(self, files: list[str]) -> dict[str, str]:
        """Build bloom filters for freshly staged ``files`` and write
        them as sidecar parquet(s) under ``_filters/`` (columns file/
        column/tag/ndv/blob), returning file -> sidecar-relpath for the
        manifest. Columns are translated to PHYSICAL names (data files
        always store physical names). Past a driver-loop threshold the
        build fans out as a Spark job whose tasks write their own
        per-partition sidecars — only (file, relpath) pairs return to
        the driver, so driver memory is independent of commit size.
        ADVISORY index: any failure here returns {} — a write must
        never fail because its index did."""
        cfg = self._bloom_config()
        if cfg is None or not files:
            return {}
        cols, fpp = cfg
        latest = self.latest_version()
        mapping = self._mapping_at(latest) if latest is not None else {}
        phys = [mapping.get(c, c) for c in cols]
        root = self.path
        if len(files) > 32:
            sc = self.spark.sparkContext
            pairs = (
                sc.parallelize(
                    files, max(1, min(64, len(files) // 8 + 1))
                )
                .mapPartitions(
                    lambda it: VersionedTable._partition_filter_sidecar(
                        root, list(it), phys, fpp
                    )
                )
                .collect()
            )
            return dict(pairs)
        rows = [
            r
            for n in files
            for r in self._file_filter_rows(root, n, phys, fpp)
        ]
        if not rows:
            return {}
        rel = self._write_filter_sidecar(self.path, rows)
        return {r[0]: rel for r in rows}

    def _filters_at(self, version: int) -> dict[str, str]:
        """File -> filter-sidecar map at ``version``. Absent entries
        disable skipping for those files, never correctness."""
        return self._overlay_at(version, "filters")

    def _bloom_prune(
        self,
        files: list[str],
        prune: list[tuple[str, str, object]],
        version: int,
        mapping: dict[str, str],
    ) -> list[str]:
        """Drop files whose bloom filters PROVE an equality/IN conjunct
        cannot match — the point-lookup half of data skipping, applied
        after the min/max pass. Conservative throughout: no filter, an
        unsupported literal type, a type-tag mismatch (Spark would cast
        where the index cannot), or an unreadable sidecar all mean
        'cannot skip'. Sidecars are read once per (sidecar, probe), not
        per file: steady state one commit's files share one sidecar."""
        from as_etl_storage_spark.writers import bloom

        probes: list[tuple[str, list]] = []  # (physical col, literals)
        for c, op, v in prune:
            if op == "=":
                probes.append((mapping.get(c, c), [v]))
            elif op == "in" and isinstance(v, (list, tuple)) and v:
                probes.append((mapping.get(c, c), list(v)))
        if not probes or not files:
            return files
        fmap = self._filters_at(version)
        if not fmap:
            return files
        hashed: list[tuple[str, list[tuple[int, str]]]] = []
        for col, lits in probes:
            hs = [bloom.hash_one(x) for x in lits]
            if any(h is None for h in hs):
                continue  # a literal the index can't hash: keep all
            hashed.append((col, hs))
        if not hashed:
            return files
        need_cols = {c for c, _ in hashed}
        # group candidate files by sidecar; load each sidecar once
        by_sidecar: dict[str, list[str]] = {}
        for f in files:
            sc = fmap.get(f)
            if sc is not None:
                by_sidecar.setdefault(sc, []).append(f)
        if not by_sidecar:
            return files
        import pyarrow.parquet as pq

        blobs: dict[tuple[str, str], tuple[bytes, str]] = {}
        for sc, flist in by_sidecar.items():
            try:
                tbl = pq.read_table(
                    os.path.join(self.path, sc),
                    columns=["file", "column", "tag", "blob"],
                )
            except Exception:  # noqa: BLE001 - advisory index
                continue
            want = set(flist)
            for fn, cn, tg, bl in zip(
                tbl.column("file").to_pylist(),
                tbl.column("column").to_pylist(),
                tbl.column("tag").to_pylist(),
                tbl.column("blob").to_pylist(),
            ):
                if fn in want and cn in need_cols:
                    blobs[(fn, cn)] = (bl, tg)
        if not blobs:
            return files
        flt_memo: dict[tuple[str, str], object] = {}
        out = []
        for f in files:
            drop = False
            for col, hs in hashed:
                entry = blobs.get((f, col))
                if entry is None:
                    continue
                bl, tg = entry
                if any(tag != tg for _, tag in hs):
                    continue  # literal of another canonical type
                flt = flt_memo.get((f, col))
                if flt is None:
                    try:
                        flt = bloom.SplitBlockBloomFilter.from_bytes(bl)
                    except Exception:  # noqa: BLE001 - advisory index
                        continue
                    flt_memo[(f, col)] = flt
                if not any(
                    flt.might_contain_hash(h) for h, _ in hs
                ):
                    drop = True  # no listed value can be in this file
                    break
            if not drop:
                out.append(f)
        return out

    @staticmethod
    def _checked(df: DataFrame, cons: dict[str, str]) -> DataFrame:
        """Constraint enforcement with ZERO extra passes: each CHECK is
        an assert_true evaluated inside the write's own scan — a
        violating row fails the write job before anything commits
        (staged files are unreferenced and vacuum-swept). SQL CHECK
        semantics: NULL passes; only FALSE violates."""
        out = df
        for name, expr in sorted(cons.items()):
            ok = F.coalesce(F.expr(expr), F.lit(True))
            out = out.where(
                F.coalesce(
                    F.assert_true(
                        ok,
                        F.lit(
                            f"CHECK constraint {name!r} violated: ({expr})"
                        ),
                    ),
                    F.lit(True),
                )
            )
        return out

    # -- write ops ------------------------------------------------------
    def append(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
    ) -> int | None:
        """Append as a new version. ``txn=(app_id, batch_id)`` makes the
        append IDEMPOTENT (Delta's txnAppId/txnVersion): a batch id the
        app has already committed is skipped — returns None and removes
        its staged files — which is exactly what a replayed foreachBatch
        micro-batch needs for exactly-once sink semantics. Commit cost
        stays O(new files): the ledger check reads manifests, never
        data. Appends to a partitioned table write hive layout under the
        table's declared partition columns automatically.

        Schema enforcement (Delta's rule): the frame is aligned to the
        table schema — missing columns null-filled, lossless widenings
        cast, unknown columns an ERROR unless ``merge_schema=True``
        (Delta's mergeSchema), which evolves the schema additively."""
        base = self.latest_version()
        if txn is not None and base is not None:
            # cheap pre-check before paying the data write; the
            # authoritative check re-runs inside the commit loop
            if self._txns_at(base).get(txn[0], -1) >= txn[1]:
                return None
        pb = self._partition_by_at(base) if base is not None else []
        missing_pb = [
            c for c in pb if c.lower() not in (x.lower() for x in df.columns)
        ]
        if missing_pb:
            # a forgotten partition column is a caller bug: null-filling
            # it would silently land the rows in
            # __HIVE_DEFAULT_PARTITION__ with no prunable bounds
            raise VersionedTableError(
                f"append lacks partition columns {missing_pb}; the table "
                f"is partitioned by {pb}"
            )
        cons = self._constraints_at(base) if base is not None else {}
        stored, tombstones = (
            self._schema_record_at(base) if base is not None else (None, [])
        )
        mapping = self._mapping_at(base) if base is not None else {}
        legacy = base is not None and stored is None
        if legacy:
            # pre-recording log: the TABLE schema is the files' merged
            # schema, not this frame's — aligning against the frame
            # would record a subset and silently drop legacy-evolved
            # columns from every later declared-schema read
            stored = self._derived_schema_json(base)
        idmap = self._identity_at(base) if base is not None else {}
        if idmap:
            self._identity_supplied(df, idmap, "append")
        df, new_schema = self._align(
            df, stored, merge_schema, "append", tombstones, mapping,
            generated=self._generated_at(base) if base is not None else {},
        )
        evolved = (
            legacy
            or stored is None
            or self._canon_schema(stored) != self._canon_schema(new_schema)
        )
        pinned = None
        if idmap:
            # allocate AFTER alignment (which null-filled the identity
            # slots); the INPUT is persisted so the allocation's two
            # lineages (row numbering + per-partition counts) see one
            # evaluation of a possibly-non-deterministic frame
            pinned = df.persist()
            df = self._with_identity_allocation(pinned, idmap)
        cow_keys: list[str] = []
        if base is not None:
            df, cow_keys = self._cluster_on_write(
                df, self._properties_at(base), pb
            )
        try:
            new_files = self._write_data_files(
                self._checked(df, cons), pb, mapping
            )
        finally:
            if pinned is not None:
                pinned.unpersist()
        v = self._commit(
            None,
            "append",
            base,
            new_files=new_files,
            txn=txn,
            enforced_constraints=cons,
            params={"clusterOnWrite": cow_keys} if cow_keys else None,
            # record the schema when this append changed it (or first
            # recorded it on a legacy log); plain appends stay O(files)
            schema=new_schema if evolved else None,
            enforced_schema=stored,
            mapping=mapping if evolved else None,
            # files were staged under THIS layout: a rebase past a
            # concurrent re-layout overwrite must fail, not mix layouts
            enforced_partition_by=pb,
            identity=idmap or None,
            identity_files=new_files,
            enforced_identity=idmap or None,
        )
        if v is None:
            # lost an idempotence race after staging: the files are
            # unreferenced by construction — remove them now instead of
            # waiting for vacuum's grace sweep
            for f in new_files:
                try:
                    os.remove(os.path.join(self.path, f))
                except OSError:
                    pass
        else:
            # post-commit auto-compaction (opt-in TBLPROPERTY): the
            # append IS committed — like the checkpoint cadence, this
            # hook must never surface as a failed append
            try:
                self._maybe_auto_compact(v, new_files)
            except Exception:  # noqa: BLE001 - maintenance is best-effort
                pass
        return v

    def _cluster_on_write(
        self,
        df: DataFrame,
        props: dict[str, str],
        pb: list[str],
    ) -> tuple[DataFrame, list[str]]:
        """Cluster-on-write (r16, Delta's liquid clustering at ingest):
        when ``vt.clusterBy.onWrite=true``, range-partition + sort the
        batch on the declared ``vt.clusterBy`` keys so its files are
        BORN with tight prunable bounds — ordering-sensitive skipping
        works on fresh ingest without waiting for a maintenance round,
        and incremental clustering finds those files already sorted
        (they join the tail again only if a deletion vector lands on
        them or they are small enough to be worth re-packing). Costs
        one range exchange per batch — which is why it is opt-in. The
        output partition count preserves the incoming frame's, so the
        property changes layout, not file granularity. Returns
        (possibly re-laid frame, the keys applied — [] when off)."""
        if props.get("vt.clusterBy.onWrite") != "true":
            return df, []
        declared = [
            c.strip()
            for c in props.get("vt.clusterBy", "").split(",")
            if c.strip()
        ]
        have = {c.lower() for c in df.columns}
        keys = [c for c in declared if c.lower() in have]
        if not keys:
            return df, []  # keys dropped by DDL: layout is advisory
        n = max(1, df.rdd.getNumPartitions())
        # on a partitioned table the range key leads with the partition
        # columns (same rule as compact's zorder write): same-partition
        # rows land in the same tasks, so the hive write does not
        # fragment into files × partitions
        range_cols = [*pb, *keys] if pb else keys
        return (
            df.repartitionByRange(n, *range_cols).sortWithinPartitions(
                *range_cols
            ),
            keys,
        )

    def _maybe_auto_compact(
        self, version: int, new_files: list[str]
    ) -> int | None:
        """Post-commit auto-compaction (Delta's autoOptimize.autoCompact,
        restated): when ``vt.autoCompact.minFiles`` is set and the file
        count this append touched reached it, run compact() right here —
        scoped to the TOUCHED PARTITIONS on a partitioned table, so the
        rewrite is proportional to the ingest, not the table. Solves the
        streaming small-file pile-up (one file set per micro-batch, a
        day of 90 s batches = ~1000 tiny files per partition) without a
        manual OPTIMIZE job. Safe under always-on ingest by
        construction: compact's OCC REBASES over concurrent pure appends
        (never starves them, never aborts them), commits
        ``data_change: false`` (incremental consumers skip it), and any
        real conflict (concurrent DML) just abandons this round — the
        next batch retries. Returns the compaction version, or None when
        the policy did not fire."""
        props = self._properties_at(version)
        raw = props.get("vt.autoCompact.minFiles")
        if raw is None:
            return None
        min_files = int(raw)
        target = int(
            props.get(
                "vt.autoCompact.targetFileBytes", str(128 * 1024 * 1024)
            )
        )
        pb = self._partition_by_at(version)
        state = self._state(version)
        if not pb:
            if len(state) < min_files:
                return None
            try:
                return self.compact(target_file_bytes=target)
            except VersionedTableError:
                return None  # concurrent non-append: next batch retries
        # partition-scoped: compact only touched partitions that crossed
        # the threshold; untouched partitions are carried by name
        per_dir: dict[str, int] = {}
        for f in state:
            d = os.path.dirname(f)
            per_dir[d] = per_dir.get(d, 0) + 1
        out: int | None = None
        for d in sorted({os.path.dirname(f) for f in new_files}):
            if per_dir.get(d, 0) < min_files:
                continue
            probe = d + os.sep + "x.parquet"
            vals = self._partition_values(probe)
            triples: list[tuple[str, str, object]] = [
                (c, "=", v) for c, v in vals.items()
            ]
            # the NULL partition parses to no value: pin it with isnull
            # so the scope never silently widens to the whole table
            triples += [
                (c, "isnull", None)
                for c in self._hive_segment_cols(probe)
                if c not in vals
            ]
            if not triples:
                continue  # defensive: never whole-table by accident
            try:
                out = self.compact(
                    target_file_bytes=target, where=triples
                )
            except VersionedTableError:
                return out  # conflict: abandon the round, keep ingesting
        return out

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        overwrite_schema: bool = False,
    ) -> int:
        """Replace the table's content as a new version.

        ``partition_by`` declares (or redeclares — an overwrite resets
        the whole snapshot, so re-laying it out is legal, Delta's
        ``overwriteSchema`` posture) hive partition columns: data files
        land under ``col=value/`` directories, every file's partition
        values become degenerate manifest bounds (partition pruning via
        ``read(prune=…)`` with zero footer reads), and all later writes
        — appends, DML rewrites, compaction — preserve the layout.
        ``None`` keeps the table's current layout; ``[]`` flattens.

        Replacing the ROWS does not replace the SCHEMA: the frame is
        aligned to the table schema exactly as append is (Delta enforces
        schema on overwrite too). ``overwrite_schema=True`` (Delta's
        overwriteSchema) redefines the schema to the frame's own."""
        base = self.latest_version()
        if partition_by is None:
            partition_by = (
                self._partition_by_at(base) if base is not None else []
            )
        if base is not None and not overwrite_schema and partition_by:
            renamed = [
                c for c in partition_by if c in self._mapping_at(base)
            ]
            if renamed:
                # hive directory names ARE the physical layout; a
                # partition column must have physical == logical.
                # (Without this check the physical rename inside
                # _write_data_files would make the partitionBy lookup
                # fail with a misleading "not in frame columns" error.)
                raise VersionedTableError(
                    f"cannot partition by renamed columns {renamed}: hive "
                    f"directory names are physical. Re-layout with "
                    f"overwrite(..., overwrite_schema=True), which resets "
                    f"the column mapping by rewriting every file"
                )
        cons = self._constraints_at(base) if base is not None else {}
        stored = (
            self._schema_at(base)
            if base is not None and not overwrite_schema
            else None
        )
        # a schema-redefining overwrite rewrites every file under the
        # frame's own (logical) names — the mapping resets with the
        # tombstones; otherwise files keep physical names
        mapping = (
            self._mapping_at(base)
            if base is not None and not overwrite_schema
            else {}
        )
        gen = (
            self._generated_at(base)
            if base is not None and not overwrite_schema
            else {}
        )
        idmap_full = self._identity_at(base) if base is not None else {}
        if overwrite_schema:
            # a schema-redefining overwrite resets USER identity specs
            # with the schema they described, but row tracking (hidden
            # spec + feature flag, both monotone) survives: the new rows
            # allocate fresh ids above the existing mark
            idmap = {
                c: sp for c, sp in idmap_full.items() if sp.get("hidden")
            }
        else:
            idmap = idmap_full
        if idmap:
            self._identity_supplied(df, idmap, "overwrite")
        df, new_schema = self._align(
            df, stored, False, "overwrite", generated=gen
        )
        pinned = None
        if idmap:
            # new rows allocate from the CURRENT mark — the mark never
            # rolls back with the rows (replaced rows' ids must not be
            # reissued while retained history still references them)
            pinned = df.persist()
            df = self._with_identity_allocation(pinned, idmap)
        cow_keys: list[str] = []
        if base is not None and not overwrite_schema:
            # a cluster-on-write overwrite is born fully clustered — it
            # acts as the incremental-clustering anchor (a full rewrite
            # sorted on the keys IS a full clustering of the snapshot)
            df, cow_keys = self._cluster_on_write(
                df, self._properties_at(base), partition_by
            )
        try:
            new_files = self._write_data_files(
                self._checked(df, cons), partition_by, mapping
            )
        finally:
            if pinned is not None:
                pinned.unpersist()
        return self._commit(
            new_files,
            "overwrite",
            base,
            params={"clusterOnWrite": cow_keys} if cow_keys else None,
            partition_by=partition_by,
            enforced_constraints=cons,
            schema=new_schema,
            enforced_schema=stored,
            # a schema-redefining overwrite rewrites every file under the
            # new schema — dropped-column tombstones are cleared (this is
            # the documented way to free a dropped name for reuse), and
            # the generated-column map resets with the schema it
            # described
            dropped=[] if overwrite_schema else None,
            mapping=mapping,
            generated={} if overwrite_schema else None,
            # overwrite_schema resets user identity specs but KEEPS the
            # hidden row-tracking spec (idmap is hidden-only there)
            identity=(idmap if overwrite_schema else (idmap or None)),
            identity_files=new_files,
            enforced_identity=idmap or None,
        )

    def overwrite_partitions(
        self, df: DataFrame, merge_schema: bool = False
    ) -> int:
        """Dynamic partition overwrite (Spark's ``partitionOverwriteMode=
        dynamic`` / Delta's partition-scoped ``replaceWhere``), as ONE
        atomic commit: replaces exactly the partitions PRESENT in the
        incoming frame and carries every other partition's files by name
        — the nightly-restate pattern (recompute yesterday's partition,
        leave years of history untouched) without ever listing or
        rewriting the untouched 99%. The partition set is one
        small-distinct collect (bounded by partition count, never rows);
        untouched files are classified by their manifest names alone.
        Data-changing with no change files (like overwrite, the replaced
        rows' identity is not derivable without reading them), so
        incremental consumers recover via snapshot. Commits with the
        stale-base conflict rule."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        pb = self._partition_by_at(base)
        if not pb:
            raise VersionedTableError(
                "overwrite_partitions needs a partitioned table; declare "
                "partition columns with overwrite(df, partition_by=[...])"
            )
        missing = [c for c in pb if c not in df.columns]
        if missing:
            raise VersionedTableError(
                f"incoming frame lacks partition columns {missing}"
            )
        idmap = self._identity_at(base)
        visible_ids = {
            c: sp for c, sp in idmap.items() if not sp.get("hidden")
        }
        hidden_ids = {c: sp for c, sp in idmap.items() if sp.get("hidden")}
        if visible_ids:
            raise VersionedTableError(
                "overwrite_partitions is not supported on tables with "
                "identity columns: a partition restate would re-allocate "
                "the restated rows' identities. Use merge (updates keep "
                "the target's ids; inserts allocate)"
            )
        if hidden_ids:
            # row tracking composes: restated rows are NEW rows (fresh
            # ids); untouched partitions' files carry theirs by name
            self._identity_supplied(df, hidden_ids, "overwrite_partitions")
        stored, tombstones = self._schema_record_at(base)
        mapping = self._mapping_at(base)
        # merge_schema lets a partition restate carry an added column
        # (nightly-restate pipelines evolve too); untouched partitions'
        # files read it as NULL — same additive rule as append
        df, new_schema = self._align(
            df, stored, merge_schema, "overwrite_partitions", tombstones,
            mapping, generated=self._generated_at(base),
        )
        schema_evolved = stored is not None and self._canon_schema(
            stored
        ) != self._canon_schema(new_schema)
        pinned = None
        if hidden_ids:
            pinned = df.persist()
            df = self._with_identity_allocation(pinned, hidden_ids)
        # write FIRST, then classify by the new files' own partition
        # directories: both old and new names were rendered by the same
        # hive encoder, so the replaced-partition match is exact by
        # construction — comparing parsed python values against
        # DataFrame values would silently mismatch on any type whose
        # value doesn't round-trip through the directory-name parse
        # (digit-only strings, dates, decimals) and DUPLICATE rows
        # instead of replacing them. Staged files are invisible until
        # the commit below, so writing first is safe.
        try:
            new_files = self._write_data_files(
                self._checked(df, self._constraints_at(base)), pb, mapping
            )
        finally:
            if pinned is not None:
                pinned.unpersist()
        replaced_dirs = {os.path.dirname(f) for f in new_files}
        files = self._state(base)
        untouched = [
            f for f in files if os.path.dirname(f) not in replaced_dirs
        ]
        known = self._stats_at(base)
        return self._commit(
            untouched + new_files,
            "overwrite_partitions",
            base,
            known_stats={f: known[f] for f in untouched if f in known},
            partition_by=pb,
            schema=new_schema if schema_evolved else None,
            enforced_schema=stored,
            identity=(idmap or None) if hidden_ids else None,
            identity_files=new_files,
            enforced_identity=(idmap or None) if hidden_ids else None,
        )

    def replace_where(
        self,
        df: DataFrame,
        predicate,
        merge_schema: bool = False,
        mode: str = "dv",
    ) -> int:
        """Arbitrary-predicate scoped overwrite (Delta's ``replaceWhere``
        write option): atomically DELETE every row matching ``predicate``
        and INSERT ``df``, as ONE commit — the idiomatic "recompute one
        date range" operation for predicates finer than a partition
        (``overwrite_partitions`` covers the partition-scoped form).

        Delta's enforcement rule holds: every WRITTEN row must satisfy
        the predicate — a violating row fails the write job before
        anything commits (staged files are unreferenced and
        vacuum-swept), because silently writing out-of-scope rows would
        turn "replace this slice" into "replace this slice and corrupt
        another". CHECK constraints are enforced on the incoming rows in
        the same pass.

        Cost shape is the row-level DML shape, never the overwrite
        shape: files the predicate provably cannot match are carried BY
        NAME with their manifest stats reused (with the ``[(col, op,
        literal), …]`` triple form the discovery scan itself is
        manifest-pruned); files wholly inside the predicate are dropped;
        only BOUNDARY files — holding both matching and non-matching
        rows — change. ``mode`` is :meth:`delete`'s: with ``'dv'`` (the
        default) a boundary file mostly outside the slice keeps its data
        under a deletion vector masking the replaced rows, and one
        mostly inside it is rewritten with its non-matching rows;
        ``'rewrite'`` rewrites every boundary file. Replacing one day in
        a year of history changes at most the files straddling the
        day's edges.

        CDF: the replaced rows are recorded as ``delete`` change rows
        and the incoming rows as ``insert`` — incremental consumers
        (``change_feed()``, the CDC stream with ``readChangeFeed``)
        apply the restatement without a snapshot diff, which a plain
        overwrite can never offer.

        ``predicate`` is a SQL string, a Column, or the triple list.
        ``merge_schema`` opts into additive evolution for the incoming
        frame, as append does. Concurrency: with the triple form, a
        concurrent PURE APPEND whose files provably cannot match the
        predicate REBASES in (its rows are out of scope, Delta's
        ConcurrentAppendException check); anything else aborts.

        Reference scope: the reference's write modes are whole-table
        (database/db.go:380-396 dispatches insert/overwrite/replace);
        a predicate-scoped overwrite is Delta surface on the Spark
        side."""
        self._check_mode(mode)
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(
                f"no committed versions at {self.path}; replace_where "
                f"needs an existing table (create with overwrite)"
            )
        idmap = self._identity_at(base)
        visible_ids = {
            c: sp for c, sp in idmap.items() if not sp.get("hidden")
        }
        hidden_ids = {c: sp for c, sp in idmap.items() if sp.get("hidden")}
        if visible_ids:
            raise VersionedTableError(
                "replace_where is not supported on tables with identity "
                "columns: a slice restate would re-allocate the restated "
                "rows' identities. Use merge (updates keep the target's "
                "ids; inserts allocate)"
            )
        if hidden_ids:
            # row tracking composes with a slice restate: replaced rows
            # are NEW rows (fresh ids above the mark — Delta assigns
            # fresh row ids on replaceWhere too); boundary survivors
            # keep theirs through the rewrite below
            self._identity_supplied(df, hidden_ids, "replace_where")
        cond, candidates, triples = self._dml_condition_and_candidates(
            base, predicate
        )
        stored, tombstones = self._schema_record_at(base)
        mapping = self._mapping_at(base)
        cons = self._constraints_at(base)
        df, new_schema = self._align(
            df, stored, merge_schema, "replace_where", tombstones, mapping,
            generated=self._generated_at(base),
        )
        schema_evolved = stored is not None and self._canon_schema(
            stored
        ) != self._canon_schema(new_schema)
        # written-rows-must-match enforcement, fused into the write's own
        # scan exactly as CHECK constraints are (zero extra passes)
        enforced = df.where(
            F.coalesce(
                F.assert_true(
                    cond,
                    F.lit(
                        "replaceWhere: a written row does not satisfy "
                        "the predicate — replace_where only accepts rows "
                        "inside the slice it replaces"
                    ),
                ),
                F.lit(True),
            )
        )
        # phase 1 (the DML shape): ONE scan finds the files holding at
        # least one matching row; everything else is carried
        with self._job_label("replace_where:discovery"):
            touched, untouched, matched = self._split_touched(
                base, cond, candidates, pin=mode == "dv"
            )

        def _build(scan_t, allocate):
            # boundary rows survive; files wholly inside the predicate
            # contribute nothing and are dropped with no rewrite beyond
            # this one fused pass. On a row-tracked table the incoming
            # slice allocates fresh ids (hidden_ids is the whole idmap:
            # visible identity columns are refused above)
            ins = self._checked(allocate(enforced), cons)
            if scan_t is None:
                return _Change(None, None, insert=ins)
            return _Change(
                leave=scan_t.where(cond),
                keep=scan_t.where(~cond),
                insert=ins,
                cdf=[
                    scan_t.where(cond).withColumn(
                        "_change_type", F.lit("delete")
                    )
                ],
            )

        # insert change rows come from the COMMITTED files, not a
        # re-evaluation of the incoming plan (a non-deterministic source
        # must record exactly what it wrote)
        ins_sch = T.StructType.fromJson(new_schema)
        if hidden_ids:
            ins_sch = self._with_row_id(ins_sch)
        return self._rewrite_commit(
            "replace_where",
            base,
            touched,
            untouched,
            _build,
            matched=matched,
            params={"predicate": self._param_repr(predicate)},
            mode=mode,
            rebase_on_appends=self._phys_triples(triples, mapping),
            idmap=idmap,
            insert_cdf_schema=ins_sch,
            schema=new_schema if schema_evolved else None,
            enforced_schema=stored,
            enforced_constraints=cons,
        )

    def replace(self, df: DataFrame, merge_keys: list[str]) -> int:
        """MERGE-style upsert as a new version: kept-oldies ∪ incoming.
        Readers of prior versions are unaffected (snapshot isolation).
        On a row-tracked table kept rows keep their ids (the target side
        scans with ``_row_id``) and incoming rows allocate fresh ones —
        replaced rows are NEW rows, their predecessors' ids retire. A
        batch holding one key twice raises (the file sink's check)."""
        base = self.latest_version()
        if base is None:
            return self.overwrite(df)
        target = self.read()
        if set(target.columns) != set(df.columns):
            raise VersionedTableError(
                f"replace requires identical columns; target {target.columns} "
                f"vs incoming {df.columns}"
            )
        idmap = self._identity_at(base)
        hidden = {c: sp for c, sp in idmap.items() if sp.get("hidden")}
        if hidden:
            self._identity_supplied(df, hidden, "replace")
        incoming, _ = self._align(
            df, self._schema_at(base), False, "replace",
            generated=self._generated_at(base),
        )
        from as_etl_storage_spark.writers.writer import check_unique_keys

        check_unique_keys(incoming, merge_keys, VersionedTableError)
        pb = self._partition_by_at(base)
        mapping = self._mapping_at(base)
        pinned = None
        if hidden:
            # kept rows carry their ids through the rewrite; incoming
            # rows allocate above the mark
            target = self._scan_files(
                self._state(base),
                self._with_row_id(self._scan_schema(base)),
                self._dv_at(base),
                mapping=mapping,
                partition_by=pb,
            )
            pinned = incoming.persist()
            incoming = self._with_identity_allocation(pinned, hidden)
        kept = target.join(
            incoming.select(*merge_keys).distinct(), on=merge_keys, how="left_anti"
        )
        merged = kept.unionByName(
            self._checked(incoming, self._constraints_at(base))
        )
        try:
            new_files = self._write_data_files(merged, pb, mapping)
        finally:
            if pinned is not None:
                pinned.unpersist()
        return self._commit(
            new_files,
            "replace",
            base,
            partition_by=pb,
            # the allocation covered only incoming rows; counting every
            # written row over-advances the mark, which is gap-safe
            identity=(idmap or None) if hidden else None,
            identity_files=new_files,
            enforced_identity=(idmap or None) if hidden else None,
        )

    # -- row-level DML (file-pruned rewrite + change-data files) --------
    @staticmethod
    def _param_repr(value) -> object:
        """JSON-safe rendering of an op parameter for the manifest's
        ``params`` record (Delta's operationParameters): primitives and
        containers pass through recursively; Columns and anything else
        render via str(). Best-effort observability — never load-bearing
        for correctness."""
        if value is None or isinstance(value, (str, int, float, bool)):
            return value
        if isinstance(value, (list, tuple)):
            return [VersionedTable._param_repr(v) for v in value]
        if isinstance(value, dict):
            return {
                str(k): VersionedTable._param_repr(v)
                for k, v in value.items()
            }
        return str(value)

    @staticmethod
    def _as_condition(predicate) -> "F.Column":
        """Predicate (SQL string or Column) as a null-safe match
        condition: SQL row-level DML matches rows where the predicate is
        TRUE — a NULL outcome means "not matched", never "matched", so
        the raw expression is coalesced to false before use."""
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        return F.coalesce(cond.cast("boolean"), F.lit(False))

    def _dml_condition_and_candidates(
        self, base: int, predicate
    ) -> tuple["F.Column", list[str], list | None]:
        """Resolve a DML predicate to (null-safe condition, candidate
        files for the discovery scan). The ``[(col, op, literal), …]``
        triple form — the same shape ``read(prune=…)`` takes — gets
        MANIFEST pruning first: files whose bounds cannot match are
        candidates for nothing, so the find-touched-files scan opens
        only the possible files. At 10⁶ files a selective keyed delete
        then scans a handful of footers instead of one column of every
        file. Strings/Columns stay fully general and scan the snapshot."""
        files = self._state(base)
        if isinstance(predicate, (list, tuple)):
            triples = [tuple(t) for t in predicate]
            cond = self._as_condition(self._triples_condition(triples))
            mapping = self._mapping_at(base)
            cands = self._prune_files(
                files, self._stats_at(base), triples, mapping,
            )
            # bloom pass: a keyed DELETE/UPDATE (the CDC-apply shape)
            # probes = / IN conjuncts so the discovery scan opens only
            # files that can hold the key — min/max can't do this on
            # an unsorted high-cardinality column
            cands = self._bloom_prune(cands, triples, base, mapping)
            return cond, cands, triples
        return self._as_condition(predicate), files, None

    _DV_POS = "__vt_pos"
    # a merge pair's source row (a struct) and its clause outcome: TRUE
    # applies, FALSE carries, NULL (second pass) matched no source key
    _SRC = "__vt_src"
    _HIT = "__vt_hit"

    # names reserved for internal row identity (__vt_*) and the
    # manifest's per-file scalar slots (#rows/#bytes) — ONE definition,
    # enforced by _align (writes), add_column and rename_column
    _RESERVED_NAMES = frozenset(
        {
            "__vt_file",
            "__vt_pos",
            "__vt_upd",
            "__vt_src",
            "__vt_hit",
            # identity-allocation temp columns (_with_identity_allocation):
            # a user column by these names would be silently clobbered by
            # withColumn and then dropped from the written rows
            "__vt_id_pid",
            "__vt_id_loc",
            "__vt_id_off",
            "__vt_id_cnt",
            "#rows",
            "#bytes",
            "#nulls",
        }
    )

    # row tracking's hidden stable-id column and its re-backfill temp
    # (r16; made CONDITIONAL in r17): reserved only once row tracking is
    # ON — a pre-r16 table that legitimately owns a user column named
    # _row_id stays writable, and enable_row_tracking() is the single
    # gate that refuses the clash (with the rename path in its error).
    # On a row-tracked table the names are hard-reserved: a user column
    # would collide with the materialized ids in every file.
    _RT_RESERVED = frozenset({"_row_id", "__vt_rt_keep"})

    def _reserved_at(self, version: int | None) -> frozenset:
        """Column names a user write/DDL may not take at ``version``:
        the always-internal set, plus the row-tracking names once the
        feature is on (see _RT_RESERVED)."""
        if self._row_tracked_at(version):
            return self._RESERVED_NAMES | self._RT_RESERVED
        return self._RESERVED_NAMES

    def _scan_files(
        self,
        names: list[str],
        schema: "T.StructType | None" = None,
        dv: dict | None = None,
        keep_identity: bool = False,
        mapping: dict[str, str] | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        # basePath reconstructs partition columns from the hive directory
        # segments when the table is partitioned (harmless when flat).
        # With the log-recorded ``schema`` the scan declares it — no
        # footer is opened for schema at ALL (files missing an evolved
        # column read it as NULL, partition columns take their declared
        # types). Legacy logs without a recorded schema fall back to
        # mergeSchema, which keeps additively-evolved snapshots whole at
        # the cost of a driver-side merge over every footer.
        # ``mapping`` (logical → physical): files store PHYSICAL names,
        # so the scan declares the physical schema and renames back to
        # the logical names in one projection — RENAME COLUMN costs a
        # zero-cost alias here, never a file rewrite.
        paths = [os.path.join(self.path, f) for f in names]
        reader = self.spark.read
        if schema is not None:
            phys_schema = schema
            if mapping:
                phys_schema = T.StructType(
                    [
                        T.StructField(
                            mapping.get(f.name, f.name),
                            f.dataType,
                            f.nullable,
                        )
                        for f in schema.fields
                    ]
                )
            reader = reader.schema(phys_schema)
        else:
            reader = reader.option("mergeSchema", "true")
        internal = all(p.startswith(self.path + os.sep) for p in paths)
        if internal:
            reader = reader.option("basePath", self.path)
        df = reader.parquet(*paths)
        if partition_by and schema is not None and not internal:
            # externally-referenced files (a SHALLOW CLONE of a
            # partitioned source, possibly mixed with the clone's own
            # later hive-laid appends): Spark refuses a non-ancestor
            # basePath, so hive reconstruction cannot run — instead the
            # partition values are parsed IN-PLAN from each file's path
            # segments (``col=value``, hive-encoded), the same values the
            # source's writer rendered. Declared-schema reads null-fill
            # the missing physical columns first, then this projection
            # replaces them; partition columns are never renameable, so
            # no mapping translation applies. Pure codegen (regexp +
            # url_decode + cast), no join, no driver work.
            import re as _re

            for f in schema.fields:
                if f.name not in partition_by:
                    continue
                # greedy ".*/" prefix anchors to the LAST (innermost)
                # hive segment: a source whose ROOT happens to sit under
                # a directory named like a partition column (e.g.
                # .../order_year=archive/tbl/order_year=1995/f.parquet)
                # must not parse the enclosing directory's value
                raw = F.regexp_extract(
                    F.col("_metadata.file_path"),
                    ".*/" + _re.escape(f.name) + "=([^/]*)/",
                    1,
                )
                df = df.withColumn(
                    f.name,
                    F.when(
                        (raw == "")
                        | (raw == "__HIVE_DEFAULT_PARTITION__"),
                        F.lit(None),
                    )
                    .otherwise(F.url_decode(raw))
                    .cast(f.dataType),
                )
        if schema is not None and (
            mapping or df.columns != [f.name for f in schema.fields]
        ):
            # one projection restores logical names AND declared order
            # (Spark appends hive partition columns AFTER the data
            # columns regardless of their declared position) — zero-cost,
            # pruned away by Catalyst
            df = df.select(
                *[
                    F.col(mapping.get(f.name, f.name) if mapping else f.name)
                    .alias(f.name)
                    for f in schema.fields
                ]
            )
        names_set = set(names)
        live_dv = {f: e for f, e in (dv or {}).items() if f in names_set}
        if keep_identity:
            # the _metadata pseudo-column resolves only on the scan
            # relation itself, so the (file, position) identity must be
            # materialized HERE for callers (find-touched-files, the DML
            # kernel's vectors) that need it downstream
            df = self._with_identity(df)
        if live_dv:
            df = self._subtract_dv(df, live_dv)
        return df

    def _with_identity(self, df: DataFrame) -> DataFrame:
        """``df`` (a scan) plus each row's (file basename, position)."""
        return self._with_file_name(df).withColumn(
            self._DV_POS, F.col("_metadata.row_index")
        )

    def _subtract_dv(self, df: DataFrame, live_dv: dict) -> DataFrame:
        """Merge-on-read: drop the (file, position) pairs ``live_dv``'s
        sidecars record from a scan of their files. Small vectors (the
        common case: the churn rule rewrites a file before half its rows
        are masked) become one filter on the scan's metadata, so the
        read costs no extra job: the driver reads the positions (see
        :func:`_dv_positions`) into one 64-bit-word bitmap per file, and
        a row survives when its ``row_index`` bit is clear. All bitmaps
        travel as ONE JSON map literal that constant folding turns into
        a map once per plan, so neither analysis nor optimization walks
        a node per position, and the generated code is the same whatever
        the files and positions (the codegen cache keeps serving it).
        Past ``DV_FILTER_MAX_ROWS`` sidecar rows or bitmap words, or
        ``DV_FILTER_MAX_FILES`` vectored files, the sidecars are read
        with their declared schema (no footer-inference job) and
        anti-joined."""
        paths = sorted(
            {
                os.path.join(self.path, p)
                for e in live_dv.values()
                for p in e["files"]
            }
        )
        bitmaps: dict[str, list[int]] = {}
        if (
            len(live_dv) <= DV_FILTER_MAX_FILES
            and sum(map(_dv_rows, paths)) <= DV_FILTER_MAX_ROWS
        ):
            wanted = {os.path.basename(f) for f in live_dv}
            for p in paths:
                for bn, positions in _dv_positions(p).items():
                    if bn not in wanted:
                        continue
                    words = bitmaps.setdefault(bn, [])
                    for x in positions:
                        i = x >> 6
                        if i >= len(words):
                            words.extend([0] * (i + 1 - len(words)))
                        words[i] |= 1 << (x & 63)
        if not bitmaps or sum(map(len, bitmaps.values())) > (
            DV_FILTER_MAX_ROWS
        ):
            has_identity = self._DV_POS in df.columns
            out = (df if has_identity else self._with_identity(df)).join(
                self.spark.read.schema(_DV_SCHEMA).parquet(*paths),
                on=[self._FILE_NAME, self._DV_POS],
                how="left_anti",
            )
            return out if has_identity else out.select(*df.columns)
        literal = json.dumps(
            {
                bn: [w - (w >> 63 << 64) for w in words]  # as signed bigint
                for bn, words in bitmaps.items()
            },
            separators=(",", ":"),
        )
        word = (
            f"try_element_at(try_element_at(from_json({_sql_string(literal)}, "
            "'map<string,array<bigint>>'), _metadata.file_name), "
            "int(_metadata.row_index div 64) + 1)"
        )
        return df.where(
            F.expr(
                f"shiftright(coalesce({word}, 0L), "
                "int(_metadata.row_index % 64)) & 1L = 0L"
            )
        )

    def _scan_schema(self, version: int | None) -> "T.StructType | None":
        """The declared scan schema for files of ``version`` — the
        log-recorded table schema when present, else None (legacy
        mergeSchema fallback)."""
        if version is None:
            return None
        stored = self._schema_at(version)
        return None if stored is None else T.StructType.fromJson(stored)

    _FILE_NAME = "__vt_file"

    def _with_file_name(self, df: DataFrame) -> DataFrame:
        # basename of the hidden file-source metadata column — joins the
        # row back to its manifest entry without any data in the key
        return df.withColumn(
            self._FILE_NAME,
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        )

    def _split_touched(
        self,
        base: int,
        cond: "F.Column",
        candidates: list[str] | None = None,
        pin: bool = False,
    ) -> tuple[dict[str, int], list[str], DataFrame | None]:
        """Phase 1 of every predicate DML (Delta's find-touched-files
        scan): ONE pass over the snapshot counts the matching rows of
        each file holding at least one, and the collect is bounded by
        the file count, never the row count. Returns ({touched file:
        matching rows}, untouched files, the pinned matching rows or
        None). The counts are the rows the DML removes from each file,
        which is what the kernel's vector-or-rewrite rule needs. Files
        with no matching rows are carried into the next version
        untouched: a delete matching 3 of 10^6 files touches 3 files.
        ``candidates`` (from manifest pruning) narrows the scan itself —
        files outside it provably hold no matches and go straight to
        the untouched side.

        Unpinned (copy-on-write) the scan reads only the predicate's
        columns plus the file-name metadata: the rewrite re-reads the
        touched files whole anyway. ``pin`` (deletion-vector mode) keeps
        the matching rows with every column and their (file, position)
        in the executors' cache, built by the counting job itself: they
        are all a vectored file contributes to the kernel — positions,
        change rows and new images — so it is scanned once."""
        files = self._state(base)
        scan_set = files if candidates is None else candidates
        if not scan_set:
            return {}, files, None
        matched = self._dml_scan(base, scan_set, keep_identity=True).where(
            cond
        )
        if pin:
            matched = matched.persist()
        try:
            hits = {
                r[0]: r[1]
                for r in matched.groupBy(self._FILE_NAME).count().collect()
            }
        except BaseException:
            matched.unpersist()
            raise
        # the scan reports basenames; manifest names keep partition dirs
        # — basenames stay unique (uuid-named), so match on them
        return (
            {
                f: hits[os.path.basename(f)]
                for f in files
                if os.path.basename(f) in hits
            },
            [f for f in files if os.path.basename(f) not in hits],
            matched if pin else None,
        )

    def _dml_scan(
        self,
        base: int,
        files: list[str],
        evolved_schema: dict | None = None,
        keep_identity: bool = False,
    ) -> DataFrame:
        """The target-side scan every row-level DML reads ``files``
        through: the declared table schema, plus ``_row_id`` on a
        row-tracked table (survivors keep their ids through the rewrite;
        CDF rows name the changed ids), null-filled up to
        ``evolved_schema`` when the op evolves the schema, so rewrites,
        inserts and change rows compose under one schema.
        ``keep_identity`` keeps each row's (file, position) columns —
        what a deletion vector records."""
        tracked = self._row_tracked_at(base)
        sch = self._scan_schema(base)
        if tracked:
            sch = self._with_row_id(sch)
        df = self._scan_files(
            files, sch, self._dv_at(base),
            keep_identity=keep_identity,
            mapping=self._mapping_at(base),
            partition_by=self._partition_by_at(base),
        )
        if evolved_schema is not None:
            df, _ = self._align(
                df, evolved_schema, False, "merge",
                passthrough=(
                    ((self._ROW_ID,) if tracked else ())
                    + (
                        (self._FILE_NAME, self._DV_POS)
                        if keep_identity
                        else ()
                    )
                ),
            )
        return df

    @staticmethod
    def _check_mode(mode: str) -> None:
        if mode not in ("dv", "rewrite"):
            raise VersionedTableError(
                f"DML mode must be 'dv' or 'rewrite', got {mode!r}"
            )

    def _rewrite_commit(
        self,
        op: str,
        base: int,
        touched: dict[str, int | None],
        untouched: list[str],
        build,
        *,
        params: dict,
        matched: DataFrame | None = None,
        pairs: DataFrame | None = None,
        mode: str = "dv",
        rewrite_fraction: float = 0.5,
        rebase_on_appends: list | None = None,
        evolved_schema: dict | None = None,
        idmap: dict | None = None,
        insert_cdf_schema: "T.StructType | None" = None,
        **commit_kw,
    ) -> int | None:
        """The second half of every row-level DML (delete, update,
        replace_where, merge), in Delta's shape: mask or rewrite the
        touched files, stage new rows and change rows, commit
        add/remove/dv/cdc in one manifest. Phase 1 (finding ``touched``)
        is the caller's: it maps each touched file to the rows the op
        removes from it, or None where the op cannot count them.

        The per-file rule (Delta's deletion vectors, merge-on-read):
        with ``mode='dv'`` a touched file keeps its data and gains a
        ``_dv/`` vector masking the rows that leave, unless its
        CUMULATIVE removed rows — its existing vector plus this op's —
        reach ``rewrite_fraction`` of its ``#rows``. Such a heavily
        churned file (or one whose count is None) is rewritten: its
        survivors go to a fresh file and its vector dies with it, which
        bounds vector accumulation. Files whose manifests predate the
        ``#rows`` stat have no denominator and always take vectors.
        ``mode='rewrite'`` rewrites every touched file (copy-on-write).

        ``build(scan, allocate)`` turns the touched-file scan (None when
        nothing is touched) into a :class:`_Change`: which scanned rows
        leave (``leave``) and stay (``keep``), and which new rows arrive
        — the changed rows' new images and the inserts — plus the change
        rows. ``matched`` is phase 1's pinned scan of the rows that
        leave, with their (file, position) (None in copy-on-write mode);
        a merge passes its pinned match ``pairs`` instead, which add each
        pair's clause outcome ``__vt_hit`` and source row. The kernel
        takes either over and unpersists it: the scan ``build`` gets
        holds the rewritten files whole but only these rows of vectored
        files, whose other rows stay in place. With ``pairs``, each
        rewritten row is left-joined to its pair by (file, position)
        (Delta's second pass; NULL ``__vt_hit`` where it has none). The
        scan carries (file, position) when any file is vectored or
        ``pairs`` are given. The kernel writes the vectored files'
        leaving positions as one vector sidecar, the rewritten files'
        kept rows plus the new images and the inserts as fresh files.
        ``allocate(df)`` pins ``df`` and assigns ``idmap``'s identity
        values in-plan; only inserts allocate, so the commit advances
        the identity high-water mark by exactly the insert files' footer
        ``#rows``.

        The writes are jobs over the persisted scan, labelled
        ``vt:<op>:rewrite|insert|dv|cdf``. The change rows go first and
        build the scan's cache; the other writes then run concurrently
        (:meth:`_overlapped`). Each data-file thread reads its own
        files' footer stats, so the commit re-reads no footer; the same
        stats find the 0-row files an empty frame stages, which are
        deleted and never committed (except on a schema-less legacy
        log, where a footer is the only record of the table schema).
        ``insert_cdf_schema``: record the insert change rows from the
        COMMITTED insert files instead (one more job after staging) — a
        non-deterministic, unpinned incoming frame must record exactly
        what it wrote. ``evolved_schema``: the schema an evolving op
        (merge_schema) commits; target-side scans align to it and a
        concurrent schema change aborts the commit."""
        pb = self._partition_by_at(base)
        mapping = self._mapping_at(base)
        stored = self._schema_at(base)
        known = self._stats_at(base)
        dv_cur = self._dv_at(base)
        vectored: dict[str, int] = {}
        if mode == "dv":
            for f, n in touched.items():
                total = known.get(f, {}).get("#rows")
                if n is not None and (
                    not isinstance(total, int)
                    or total <= 0
                    or (n + int(dv_cur.get(f, {}).get("rows", 0))) / total
                    < rewrite_fraction
                ):
                    vectored[f] = n
        rewrite = [f for f in touched if f not in vectored]
        ident = (self._FILE_NAME, self._DV_POS)
        rows = matched if pairs is None else pairs
        pinned: list[DataFrame] = []

        def allocate(df: DataFrame) -> DataFrame:
            if not idmap:
                return df
            p = df.persist()
            pinned.append(p)
            return self._with_identity_allocation(p, idmap)

        def staged(phase: str, frame: DataFrame | None):
            if frame is None:
                return None

            def run():
                with self._job_label(f"{op}:{phase}"):
                    fs = self._write_data_files(
                        frame.drop(*ident), pb, mapping
                    )
                    st = self._collect_stats(fs)
                if stored is not None:
                    for f in fs:
                        if st[f]["#rows"] == 0:
                            os.remove(os.path.join(self.path, f))
                            del st[f]
                return [f for f in fs if f in st], st

            return run

        def labelled(phase: str, write, frame: DataFrame | None):
            if frame is None:
                return None

            def run():
                with self._job_label(f"{op}:{phase}"):
                    return write(frame)

            return run

        # one pinned scan: rewritten files whole, vectored files only the
        # pinned rows (their kept rows stay in place) — with nothing
        # rewritten, the pinned rows as they are
        scan_t = rows if touched else None
        if rewrite:
            scan = self._dml_scan(
                base, rewrite, evolved_schema,
                keep_identity=bool(vectored) or pairs is not None,
            )
            if pairs is not None:
                scan = scan.join(
                    pairs.drop(*self._data_columns(pairs)),
                    on=list(ident),
                    how="left",
                )
            scan_t = _union_all(
                [
                    scan,
                    rows.where(
                        F.col(self._FILE_NAME).isin(
                            [os.path.basename(f) for f in vectored]
                        )
                    )
                    if vectored
                    else None,
                ]
            ).persist()
        try:
            change = build(scan_t, allocate)
            keep = change.keep
            if keep is not None and vectored:
                # vectored files keep their rows in place: only the
                # rewritten files' survivors are written again
                keep = (
                    keep.where(
                        F.col(self._FILE_NAME).isin(
                            [os.path.basename(f) for f in rewrite]
                        )
                    )
                    if rewrite
                    else None
                )
            masked = None
            if vectored and change.leave is not None:
                masked = change.leave.where(
                    F.col(self._FILE_NAME).isin(
                        [os.path.basename(f) for f in vectored]
                    )
                ).select(*ident)
            # the change rows read the pinned scan first and so build it
            # once: started beside the other writes, each would submit
            # its own build of the not-yet-cached scan
            cdf = labelled(
                "cdf",
                lambda df: self._write_cdc_files(df, mapping),
                _union_all([c.drop(*ident) for c in change.cdf]),
            )
            cdc = cdf() if cdf is not None else None
            rw, ins, dv_files = self._overlapped(
                staged(
                    "rewrite",
                    _union_all(
                        [
                            p.drop(*ident)
                            for p in (keep, change.images)
                            if p is not None
                        ]
                    ),
                ),
                staged("insert", change.insert),
                labelled("dv", self._write_dv_files, masked),
            )
        finally:
            for p in (scan_t, rows, *pinned):
                if p is not None:
                    p.unpersist()
        rw_files, rw_stats = rw or ([], {})
        ins_files, ins_stats = ins or ([], {})
        cdc = cdc or []
        if insert_cdf_schema is not None and ins_files:
            with self._job_label(f"{op}:cdf"):
                cdc += self._write_cdc_files(
                    self._scan_files(
                        ins_files, insert_cdf_schema, mapping=mapping
                    ).withColumn("_change_type", F.lit("insert")),
                    mapping,
                )
        # files kept by name (untouched or vectored), in snapshot order;
        # a vector dies with its rewritten or dropped file and grows by
        # this op's sidecar on each vectored file
        kept_set = set(untouched) | set(vectored)
        kept = [f for f in self._state(base) if f in kept_set]
        new_dv = {f: e for f, e in dv_cur.items() if f in kept_set}
        for f, n in vectored.items():
            if n:
                e = new_dv.get(f, {"files": [], "rows": 0})
                new_dv[f] = {
                    "files": [*e["files"], *(dv_files or [])],
                    "rows": int(e["rows"]) + int(n),
                }
        if evolved_schema is not None:
            # the rows were aligned against the base's schema (on a
            # legacy log, the files' DERIVED schema — the same fallback
            # append enforces): a concurrent schema change must abort
            # the commit, never be stomped
            commit_kw.update(
                schema=evolved_schema,
                enforced_schema=(
                    stored or self._derived_schema_json(base)
                ),
                mapping=mapping,
            )
        if pinned and ins_files:
            commit_kw.update(
                identity=idmap,
                identity_files=ins_files,
                enforced_identity=idmap,
            )
        return self._commit(
            kept + rw_files + ins_files,
            op,
            base,
            cdc=cdc,
            known_stats={
                **{f: known[f] for f in kept if f in known},
                **rw_stats,
                **ins_stats,
            },
            partition_by=pb,
            dv=new_dv,
            rebase_on_appends=rebase_on_appends,
            params={**params, "mode": mode},
            **commit_kw,
        )

    def delete(
        self,
        predicate,
        mode: str = "dv",
        dv_rewrite_fraction: float = 0.5,
    ) -> int | None:
        """DELETE WHERE ``predicate`` as a new version (Delta's row-level
        delete). Two phases: find touched files (one column-pruned scan
        that also counts each file's matching rows), then mask or
        rewrite ONLY those files — untouched files are carried by name
        and their manifest stats are reused, so the write AND the
        footer-stat cost are proportional to the files actually hit, not
        the table. The deleted rows are written to ``_cdc/`` with
        ``_change_type='delete'`` (Delta CDF), so incremental consumers
        can apply the delete without a snapshot diff. NULL-predicate
        rows are kept (SQL: WHERE matches only TRUE). Returns the new
        version, or None when nothing matched (no commit — the snapshot
        is already the result).

        ``mode='dv'`` (the default; Delta's deletion vectors,
        merge-on-read): a touched file keeps its data and the matched
        rows' (file, position) pairs go to a ``_dv/`` sidecar — a
        selective delete on a 100 TB table rewrites zero data bytes, and
        readers filter the positions out. A file whose CUMULATIVE
        deleted fraction — existing vector rows plus this delete's
        matches, over its ``#rows`` — reaches ``dv_rewrite_fraction`` is
        rewritten instead (its vector purged): the churn guard against
        unbounded vector accumulation. Pass a value > 1 to force pure
        vectors. ``mode='rewrite'`` rewrites every touched file without
        its matched rows (copy-on-write). ``compact()`` (or any rewrite
        touching the file) purges a vector by materializing the
        subtraction.

        Snapshot isolation holds: prior versions still reference the
        original files and vectors; vacuum reclaims them once out of
        retention. Conflict rule (Delta's file-level OCC): with the
        triple predicate form, a concurrent PURE APPEND whose files
        provably cannot match the predicate REBASES in — the delete
        re-lists the appended files and commits; an append that may hold
        a matching row, or any non-append concurrent commit, aborts the
        delete (its touched split is stale). Generic string/Column
        predicates keep the abort-on-anything rule — disjointness is
        unprovable from stats.

        ``predicate`` is a SQL string, a Column, or the ``[(col, op,
        literal), …]`` triple list ``read(prune=…)`` takes — the triple
        form additionally MANIFEST-PRUNES the discovery scan, so a
        keyed delete on a clustered table opens only the files whose
        bounds can match instead of one column of every file."""
        self._check_mode(mode)
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        # triple-form predicates also enable file-level OCC: a concurrent
        # append whose files provably cannot match rebases in instead of
        # aborting the delete (generic predicates keep the abort rule —
        # disjointness is unprovable from stats)
        cond, candidates, triples = self._dml_condition_and_candidates(
            base, predicate
        )
        with self._job_label("delete:discovery"):
            touched, untouched, matched = self._split_touched(
                base, cond, candidates, pin=mode == "dv"
            )
        if not touched:
            if matched is not None:
                matched.unpersist()
            return None
        # survivors stay (keeping their _row_id: deleted ids leave with
        # their rows and never reissue), the matched rows leave and
        # become CDF delete rows
        return self._rewrite_commit(
            "delete",
            base,
            touched,
            untouched,
            lambda scan_t, _allocate: _Change(
                leave=scan_t.where(cond),
                keep=scan_t.where(~cond),
                cdf=[
                    scan_t.where(cond).withColumn(
                        "_change_type", F.lit("delete")
                    )
                ],
            ),
            matched=matched,
            params={"predicate": self._param_repr(predicate)},
            mode=mode,
            rewrite_fraction=dv_rewrite_fraction,
            rebase_on_appends=self._phys_triples(
                triples, self._mapping_at(base)
            ),
        )

    def update(
        self, predicate, assignments: dict, mode: str = "dv"
    ) -> int | None:
        """UPDATE SET ``assignments`` WHERE ``predicate`` as a new
        version. ``assignments`` maps existing column names to SQL
        expression strings (or Columns) evaluated against the OLD row —
        standard UPDATE semantics, so ``{"a": "b", "b": "a"}`` swaps.
        Same file-pruned two-phase plan as :meth:`delete`, including the
        manifest-pruned triple predicate form and ``mode``: with
        ``'dv'`` (the default) a lightly hit file keeps its data under a
        deletion vector masking the matched rows, whose new images land
        in fresh files (Delta's UPDATE with deletion vectors); a file
        whose cumulative masked rows would reach half its rows, or every
        touched file with ``'rewrite'``, is rewritten with its
        survivors. The change files carry both ``update_preimage`` and
        ``update_postimage`` rows (Delta CDF's update pair). Returns the
        new version, or None when nothing matched."""
        self._check_mode(mode)
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        cond, candidates, triples = self._dml_condition_and_candidates(
            base, predicate
        )
        snap_cols = self.read(version_as_of=base).columns
        bad = set(assignments) - set(snap_cols)
        if bad:
            raise VersionedTableError(
                f"UPDATE assigns to columns not in the table: {sorted(bad)}; "
                f"columns are {snap_cols}"
            )
        gen = self._generated_at(base)
        gen_assigned = sorted(
            c for c in assignments if c.lower() in {g.lower() for g in gen}
        )
        if gen_assigned:
            raise VersionedTableError(
                f"UPDATE cannot assign generated columns {gen_assigned}: "
                f"their values are defined by their expressions "
                f"({ {g: gen[g] for g in gen} })"
            )
        idmap = self._identity_at(base)
        id_assigned = sorted(
            c for c in assignments if c.lower() in {i.lower() for i in idmap}
        )
        if id_assigned:
            raise VersionedTableError(
                f"UPDATE cannot assign identity columns {id_assigned}: "
                f"the table allocates their values (GENERATED ALWAYS AS "
                f"IDENTITY)"
            )
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }

        def _updated(df: DataFrame, when) -> DataFrame:
            # all assignments see the OLD row: select() evaluates every
            # expression against the input frame, never sequentially.
            # The match outcome is materialized HERE, against the OLD
            # row, as a temp boolean — the generated-column recompute
            # below must not re-resolve the predicate against the
            # post-assignment frame (update("v = 1", {"v": "v + 10"})
            # would see the new v and skip the recompute)
            hit = "__vt_upd"
            out = df.select(
                *[
                    (
                        F.when(when, exprs[c]).otherwise(F.col(c)).alias(c)
                        if c in exprs
                        else F.col(c)
                    )
                    for c in df.columns
                ],
                when.cast("boolean").alias(hit),
            )
            # generated columns RECOMPUTE from the post-assignment row
            # (Delta's rule): updating ts must move the generated
            # CAST(ts AS DATE) with it — assignments to generated
            # columns themselves are refused above, so recomputing after
            # the assignments is well-defined
            for gname, gexpr in sorted(gen.items()):
                out = out.withColumn(
                    gname,
                    F.when(F.col(hit), F.expr(gexpr)).otherwise(
                        F.col(gname)
                    ),
                )
            return out.drop(hit)

        with self._job_label("update:discovery"):
            touched, untouched, matched = self._split_touched(
                base, cond, candidates, pin=mode == "dv"
            )
        if not touched:
            if matched is not None:
                matched.unpersist()
            return None
        cons = self._constraints_at(base)
        # derived from the idmap already in hand — no second log walk.
        # Updated rows KEEP their ids (stable row identity is the whole
        # point): _row_id rides the scan, flows through the per-column
        # select untouched (never assignable — the identity guard above
        # covers it), and passes the re-align
        tracked = any(sp.get("hidden") for sp in idmap.values())

        def _build(scan_t, _allocate):
            # the matched rows leave; their new images arrive,
            # re-aligned: an assignment whose expression drifts a
            # column's type (v = 'oops') must fail HERE, not poison
            # later declared-schema scans of the new files
            matched = scan_t.where(cond)
            images, _ = self._align(
                _updated(
                    matched.drop(self._FILE_NAME, self._DV_POS), F.lit(True)
                ),
                self._schema_at(base), False, "update",
                passthrough=(self._ROW_ID,) if tracked else (),
            )
            return _Change(
                leave=matched,
                keep=scan_t.where(~cond),
                images=self._checked(images, cons),
                cdf=[
                    matched.withColumn(
                        "_change_type", F.lit("update_preimage")
                    ),
                    _updated(matched, F.lit(True)).withColumn(
                        "_change_type", F.lit("update_postimage")
                    ),
                ],
            )

        return self._rewrite_commit(
            "update",
            base,
            touched,
            untouched,
            _build,
            matched=matched,
            params={
                "predicate": self._param_repr(predicate),
                "assignments": self._param_repr(assignments),
            },
            mode=mode,
            rebase_on_appends=self._phys_triples(
                triples, self._mapping_at(base)
            ),
        )

    def _matched_pairs(
        self, matched_t: DataFrame, source: DataFrame, on: list[str]
    ) -> tuple[DataFrame, list[str]]:
        """MERGE's match: each target row of ``matched_t`` paired with
        the source row of its key (one inner equi-join), the source row
        riding as ONE struct ``__vt_src``. Unless a table column takes
        the name (``merge`` then refuses conditions and SET maps), the
        pairs carry Delta's ``target``/``source`` aliases as structs, so
        ``source.ts > target.ts`` stays in codegen and Catalyst prunes
        the scan to the columns it reads. Flat columns (bare names) are
        the TARGET side, a (file, position) identity among them.
        Returns (pair frame, the data column list)."""
        cols = self._data_columns(matched_t)
        pair = matched_t.join(
            source.select(
                *on,
                F.struct(*[F.col(c) for c in source.columns]).alias(
                    self._SRC
                ),
            ),
            on=on,
            how="inner",
        )
        if "source" in cols or "target" in cols:
            return pair, cols
        return self._with_aliases(pair, cols), cols

    def _with_aliases(self, df: DataFrame, cols: list[str]) -> DataFrame:
        """``df`` (pairs: flat target ``cols`` plus ``__vt_src``) with
        the ``target``/``source`` struct aliases clause expressions
        reference."""
        return df.withColumn(
            "target", F.struct(*[F.col(c) for c in cols])
        ).withColumn("source", F.col(self._SRC))

    def _matched_split(
        self,
        tagged: DataFrame,
        update_set: dict[str, str] | None = None,
        generated: dict[str, str] | None = None,
        identity_cols: list[str] | None = None,
    ) -> tuple[DataFrame, DataFrame | None, DataFrame]:
        """Split the key-matched rows of a tagged merge frame (target
        rows with their pair's ``__vt_hit`` and ``__vt_src``) by the
        clause outcome, with no join: (apply_pre, updated, carry) — the
        rows the clause applies to (the CDF preimages), their
        replacements (one per target row: duplicate-key targets keep
        their multiplicity; None for a matched delete) and the
        condition-FALSE (or NULL: SQL matches only TRUE) rows carried.

        ``update_set`` (Delta's column-level ``whenMatchedUpdate(set=
        {...})``): col → SQL expression over the ``source.``/``target.``
        aliases (bare names = target side); SET columns take the
        expression's value, every other column KEEPS the target's —
        whole-row replacement (UpdateAll) when None, except identity
        columns (``_row_id`` on a row-tracked table among them), whose
        value lives on the TARGET row (the source carries NULL slots by
        contract). The (file, position) identity rides the target-side
        frames (apply_pre, carry), never the updated rows."""
        cols = self._data_columns(tagged)
        ident = (self._FILE_NAME, self._DV_POS)
        hit = F.col(self._HIT)
        applied = tagged.where(hit)
        if self._SRC not in tagged.columns:
            updated = None  # a matched delete pins no source row
        elif update_set is None:
            id_lower = {c.lower() for c in (identity_cols or ())}
            updated = applied.select(
                *[
                    (
                        F.col(c)
                        if c.lower() in id_lower
                        else F.col(self._SRC).getField(c)
                    ).alias(c)
                    for c in cols
                ]
            )
        else:
            updated = self._with_aliases(applied, cols).select(
                *[
                    F.expr(update_set[c]).alias(c)
                    if c in update_set
                    else F.col(c)
                    for c in cols
                ]
            )
            # column-level SET can change a generated column's
            # DEPENDENCY while keeping the target's stale generated
            # value — recompute from the post-SET row (Delta recomputes
            # generated columns in merge updates; assignments to them
            # are refused upstream, so this is well-defined). Whole-row
            # updates take the SOURCE's values, already validated at
            # align.
            for gname, gexpr in sorted((generated or {}).items()):
                updated = updated.withColumn(gname, F.expr(gexpr))
        return (
            applied.select(*cols, *ident),
            updated,
            tagged.where(~hit).select(*cols, *ident),
        )

    def _data_columns(self, df: DataFrame) -> list[str]:
        """``df``'s columns without the scan's (file, position) identity
        and a merge pair's source row and clause outcome."""
        internal = (self._FILE_NAME, self._DV_POS, self._SRC, self._HIT)
        return [c for c in df.columns if c not in internal]

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        *,
        when_matched: str | None = "update",
        when_not_matched: str | None = "insert",
        when_not_matched_by_source: str | None = None,
        when_matched_condition=None,
        when_not_matched_condition=None,
        when_not_matched_by_source_condition=None,
        when_matched_set: dict[str, str] | None = None,
        merge_schema: bool = False,
        mode: str = "dv",
    ) -> int | None:
        """MERGE ``source`` into the table on equi-keys ``on`` (Delta's
        MERGE INTO, the upsert/CDC-apply primitive). ``when_matched``:
        ``'update'`` replaces each matched target row with its source row,
        ``'delete'`` removes it, None leaves it. ``when_not_matched``:
        ``'insert'`` appends source rows matching no target row, None
        drops them. ``when_not_matched_by_source`` (Delta's third MERGE
        clause): ``'delete'`` removes target rows whose key matches NO
        source row — with update+insert this makes MERGE a full mirror
        of the source (the CDC-sync / retention primitive); None (the
        default) leaves them. ``replace()`` is NOT this upsert: it
        removes every target row holding an incoming key (rather than
        updating each one), retires their row ids on a row-tracked
        table, records no change files and rewrites the whole table.

        The by-source clause changes the cost shape: every target file
        may hold unmatched rows, so nothing can be carried by name —
        but files wholly OUTSIDE the source key envelope (or holding no
        key match) are dropped WHOLESALE, read once only to record
        their CDF delete rows, never rewritten; only key-matched files
        are rewritten. It also disables the append-rebase OCC path: a
        concurrent append's rows would need by-source deletion the
        merge never saw, so any concurrent commit aborts it.

        File-pruned like delete/update: touched files are those holding a
        KEY-matched target row the matched clause applies to (found by
        ONE pinned join of the source with the candidate target rows,
        whose aggregate also counts them; see :meth:`_merge_with_keys`);
        only they change, inserts land in fresh files,
        everything else is carried by name with stats reused. ``mode``
        is :meth:`delete`'s: with ``'dv'`` (the default) the matched rows
        a clause applies to are masked in place by a deletion vector and
        their updated images land in fresh files, unless a file's
        cumulative masked rows would reach half its rows — then it is
        rewritten, as every touched file is with ``'rewrite'`` and under
        a by-source clause (whose doomed rows are not counted per file).
        Change files record the full CDF story:
        update_preimage/update_postimage (or delete) for matched rows,
        insert for new rows.

        A source with duplicate keys among the matched rows raises —
        "which source row wins?" is ambiguous (Delta's multiple-source-
        rows-matched error). A TARGET with duplicate keys is legal and
        keeps its multiplicity: each matched target row is updated (or
        deleted) individually, Delta's whenMatchedUpdateAll semantics —
        two target rows with the same key become two updated rows, never
        one. The aligned source is persisted internally
        for the duration of the merge, so a NON-DETERMINISTIC source
        (rand-filtered, freshly sampled) still splits consistently
        across the discovery / rewrite / insert jobs. Returns the new
        version, or None when the merge is a complete no-op (no matches
        and nothing to insert).

        Clause CONDITIONS (Delta's ``whenMatchedUpdate(condition=...)``
        family): each ``*_condition`` is a SQL string or Column
        narrowing its clause — a row the condition does not match (FALSE
        or NULL) is left untouched instead. ``when_matched_condition``
        sees BOTH rows through ``source.<col>`` / ``target.<col>``
        struct aliases (bare names mean the target side) — the classic
        CDC guard ``source.ts > target.ts`` works verbatim;
        ``when_not_matched_condition`` sees the source row (bare names);
        ``when_not_matched_by_source_condition`` sees the target row
        (bare names). A matched condition also narrows the TOUCHED-FILE
        discovery: a file whose key matches are all condition-false is
        carried by name, never rewritten. A by-source condition disables
        the wholesale-drop optimization (an unmatched row now survives
        unless the condition says otherwise, so every file must be
        read), but files outside the candidate set still rewrite rather
        than re-derive matches.

        ``when_matched_set`` (Delta's column-level ``whenMatchedUpdate(
        set={...})``): col → SQL expression over the same ``source.``/
        ``target.`` aliases; SET columns take the expression, all other
        columns KEEP the target row's value — the partial-update form
        (``{"cnt": "target.cnt + source.cnt"}`` accumulates instead of
        replacing). None (the default) is UpdateAll. Merge keys cannot
        be SET (a key rewrite would silently reclassify the row against
        this merge's own matched/insert split).

        ``merge_schema`` (Delta's ``spark.databricks.delta.schema.
        autoMerge`` for MERGE): source-side columns not in the table
        evolve the schema additively — exactly ``append``'s
        ``merge_schema`` — so a CDC feed that adds a column mid-stream
        keeps applying. Inserted rows carry the new column; updated rows
        take the source's value (or NULL under a ``when_matched_set``
        that does not SET it); untouched rows read as NULL, like any
        additive evolution. The CDF rows are recorded under the evolved
        schema (preimages/deletes null-fill). Without the flag an extra
        source column is an error, never silent truncation."""
        self._check_mode(mode)
        if when_matched not in ("update", "delete", None):
            raise VersionedTableError(
                f"when_matched must be 'update', 'delete' or None, "
                f"got {when_matched!r}"
            )
        if when_not_matched not in ("insert", None):
            raise VersionedTableError(
                f"when_not_matched must be 'insert' or None, "
                f"got {when_not_matched!r}"
            )
        if when_not_matched_by_source not in ("delete", None):
            raise VersionedTableError(
                f"when_not_matched_by_source must be 'delete' or None, "
                f"got {when_not_matched_by_source!r}"
            )
        for cname, cval, clause in (
            ("when_matched_condition", when_matched_condition, when_matched),
            (
                "when_not_matched_condition",
                when_not_matched_condition,
                when_not_matched,
            ),
            (
                "when_not_matched_by_source_condition",
                when_not_matched_by_source_condition,
                when_not_matched_by_source,
            ),
        ):
            if cval is not None and clause is None:
                raise VersionedTableError(
                    f"{cname} given but its clause is None — a condition "
                    f"narrows a clause, it cannot replace one"
                )
        if when_matched_set is not None:
            if when_matched != "update":
                raise VersionedTableError(
                    "when_matched_set requires when_matched='update'"
                )
            keyed = [c for c in when_matched_set if c in on]
            if keyed:
                raise VersionedTableError(
                    f"when_matched_set cannot SET merge keys {keyed}: a "
                    f"key rewrite would reclassify the row against this "
                    f"merge's own matched/insert split"
                )
        base = self.latest_version()
        if base is None:
            if when_not_matched == "insert":
                # MERGE creating the table = insert everything
                return self.overwrite(source)
            raise VersionedTableError(f"no committed versions at {self.path}")
        target = self.read(version_as_of=base)
        idmap = self._identity_at(base)
        id_lower = {c.lower() for c in idmap}
        if idmap:
            # GENERATED ALWAYS AS IDENTITY: the source OMITS identity
            # columns — inserted rows allocate, updated rows keep the
            # target's value
            self._identity_supplied(source, idmap, "merge")
            bad_keys = sorted(k for k in on if k.lower() in id_lower)
            if bad_keys:
                raise VersionedTableError(
                    f"merge cannot key on identity columns {bad_keys}: "
                    f"the source cannot carry them (GENERATED ALWAYS)"
                )
        tgt_lower = {c.lower() for c in target.columns}
        extras = [c for c in source.columns if c.lower() not in tgt_lower]
        lacking = (
            tgt_lower - {c.lower() for c in source.columns} - id_lower
        )
        if lacking or (extras and not merge_schema):
            raise VersionedTableError(
                f"merge requires identical columns; target {target.columns} "
                f"vs source {source.columns}"
                + (
                    "; pass merge_schema=True to evolve the schema "
                    "additively with the source's extra columns"
                    if extras and not lacking
                    else ""
                )
            )
        missing = set(on) - set(target.columns)
        if missing:
            raise VersionedTableError(
                f"merge keys {sorted(missing)} not in columns {target.columns}"
            )
        merged_cols = list(target.columns) + extras
        if (
            when_matched_condition is not None or when_matched_set is not None
        ) and {"source", "target"} & set(merged_cols):
            raise VersionedTableError(
                "conditional merge reserves 'source'/'target' as struct "
                "aliases for clause conditions; rename those columns "
                "or use an unconditional clause"
            )
        if when_matched_set is not None:
            unknown = sorted(set(when_matched_set) - set(merged_cols))
            if unknown:
                raise VersionedTableError(
                    f"when_matched_set names unknown columns {unknown}; "
                    f"table columns are {merged_cols}"
                )
            gen = self._generated_at(base)
            gen_set = sorted(
                c
                for c in when_matched_set
                if c.lower() in {g.lower() for g in gen}
            )
            if gen_set:
                raise VersionedTableError(
                    f"when_matched_set cannot SET generated columns "
                    f"{gen_set}: their values are defined by their "
                    f"expressions"
                )
            id_set = sorted(
                c for c in when_matched_set if c.lower() in id_lower
            )
            if id_set:
                raise VersionedTableError(
                    f"when_matched_set cannot SET identity columns "
                    f"{id_set}: the table allocates their values"
                )
        # column order AND types normalized to the table schema: an
        # inserted source row with a drifted type would otherwise land in
        # fresh files that poison every later declared-schema scan. With
        # merge_schema the source's extra columns ride through _align's
        # additive-evolution path (same as append's) and the resulting
        # schema json is committed with the merge.
        stored_schema, tombstones = self._schema_record_at(base)
        if stored_schema is None:
            # pre-recording log: mirror append's legacy path — the TABLE
            # schema is the files' merged schema, not this source's.
            # Without the derivation merge_schema=True silently no-ops
            # (_align returns the frame's own schema, evolved_schema
            # stays None): matched updates would DROP the source's extra
            # columns while inserts carry them, and no schema commits.
            stored_schema = self._derived_schema_json(base)
        # identity columns are absent from the source by contract; the
        # alignment null-fills their slots (inserts then ALLOCATE over
        # them, updates take the target's value)
        src_have = {c.lower() for c in source.columns}
        source, new_schema = self._align(
            source.select(
                *[c for c in merged_cols if c.lower() in src_have]
            ),
            stored_schema,
            merge_schema,
            "merge",
            tombstones,
            self._mapping_at(base),
            generated=self._generated_at(base),
        )
        evolved_schema = (
            new_schema
            if stored_schema is not None
            and extras
            and self._canon_schema(stored_schema)
            != self._canon_schema(new_schema)
            else None
        )
        mapping = self._mapping_at(base)
        # MATERIALIZE the aligned source: merge evaluates it across
        # several jobs (envelope agg, the match, the insert anti-join) —
        # a non-deterministic source (rand-filtered, fresh sample,
        # re-read from a mutating location) re-evaluated per job could
        # classify a key "matched" in discovery and "not matched" in the
        # insert anti-join, silently losing or duplicating rows.
        # persist() pins one evaluation for every downstream job.
        source = source.persist()
        files = self._state(base)
        # bound every target-side job by the source's key envelope (one
        # small MAP-SIDE aggregate over the persisted source — no
        # distinct, no shuffle beyond the single-row combine): a target
        # file whose bounds fall outside [min, max] on any key column
        # cannot hold a KEY match, so the match never opens it. Delta's
        # merge pushes the same min/max into its target scan.
        with self._job_label("merge:envelope"):
            env = source.agg(
                *[
                    f
                    for k in on
                    for f in (
                        F.min(k).alias(f"{k}__lo"),
                        F.max(k).alias(f"{k}__hi"),
                    )
                ]
            ).collect()[0]
        triples: list[tuple[str, str, object]] = []
        for k in on:
            lo, hi = env[f"{k}__lo"], env[f"{k}__hi"]
            if lo is not None and hi is not None:
                triples += [(k, ">=", lo), (k, "<=", hi)]
        candidates = (
            self._prune_files(
                files, self._stats_at(base), triples, mapping
            )
            if triples
            else files
        )
        try:
            return self._merge_with_keys(
                source,
                on,
                when_matched,
                when_not_matched,
                base,
                files,
                candidates,
                triples,
                when_not_matched_by_source,
                mapping,
                when_matched_condition,
                when_not_matched_condition,
                when_not_matched_by_source_condition,
                when_matched_set,
                evolved_schema,
                mode,
            )
        finally:
            source.unpersist()

    def _merge_with_keys(
        self,
        source: DataFrame,
        on: list[str],
        when_matched: str | None,
        when_not_matched: str | None,
        base: int,
        files: list[str],
        candidates: list[str],
        envelope: list[tuple[str, str, object]],
        when_not_matched_by_source: str | None,
        mapping: dict[str, str],
        when_matched_condition=None,
        when_not_matched_condition=None,
        when_not_matched_by_source_condition=None,
        when_matched_set: dict[str, str] | None = None,
        evolved_schema: dict | None = None,
        mode: str = "dv",
    ) -> int | None:
        """Delta's two-pass MERGE: pin the match, classify the target
        files from it, hand them to :meth:`_rewrite_commit`. The match
        is ONE inner join of the source with the candidate target rows
        (:meth:`_matched_pairs`), pinned with each pair's (file,
        position) and clause outcome; every later step reads it. One
        aggregate counts each file's pairs and applying rows (a target
        row with two pairs is the duplicate-key violation); inserts are
        the source rows whose key no pair holds. A file whose key
        matches are all condition-false is carried by name.

        With ``when_not_matched_by_source='delete'`` nothing is carried
        by name: files with no key match hold ONLY doomed rows and are
        dropped WHOLESALE (read once for their CDF delete rows); only
        key-matched files rewrite, and a by-source CONDITION touches
        every file. Its read set is the whole table, so it commits with
        the abort-on-anything conflict rule."""
        # the schema the rewrite side lands under (an evolving merge
        # null-fills the new column for kept rows)
        eff_schema = (
            evolved_schema
            if evolved_schema is not None
            else self._schema_at(base)
        )
        idmap = self._identity_at(base)
        by_source = when_not_matched_by_source == "delete"
        bcond = (
            self._as_condition(when_not_matched_by_source_condition)
            if when_not_matched_by_source_condition is not None
            else None
        )
        upd = when_matched == "update"
        if candidates:
            pair, cols = self._matched_pairs(
                self._dml_scan(
                    base, candidates, evolved_schema, keep_identity=True
                ),
                source,
                on,
            )
            # only a file that may take a vector reads its rows from the
            # pairs; a rewritten file's come from the second pass
            vec = mode == "dv" and when_matched is not None and not by_source
            pairs = pair.select(
                *(cols if vec else on),
                self._FILE_NAME,
                self._DV_POS,
                *([self._SRC] if upd else []),
                (
                    F.lit(True)
                    if when_matched_condition is None
                    else self._as_condition(when_matched_condition)
                ).alias(self._HIT),
            )
            if when_matched is None and by_source:
                # with no matched clause the second pass only carries
                # rows: one pair per target row, whatever the source
                pairs = pairs.dropDuplicates(
                    [self._FILE_NAME, self._DV_POS]
                )
            pairs = pairs.persist()
        else:
            # no candidate file: no pair (an empty relation, no job)
            pairs = source.where(F.lit(False)).select(
                *on,
                F.lit(None).cast("string").alias(self._FILE_NAME),
                F.lit(None).cast("long").alias(self._DV_POS),
                *([F.struct(*source.columns).alias(self._SRC)] if upd else []),
                F.lit(None).cast("boolean").alias(self._HIT),
            )
        try:
            hits: dict[str, int] = {}
            if when_matched is not None or by_source:
                with self._job_label("merge:discovery"):
                    per_file = (
                        pairs.groupBy(self._FILE_NAME)
                        .agg(
                            F.count_if(self._HIT).alias("applies"),
                            F.count("*").alias("pairs"),
                            F.count_distinct(self._DV_POS).alias("rows"),
                        )
                        .collect()
                    )
                if when_matched is not None and any(
                    r["pairs"] > r["rows"] for r in per_file
                ):
                    raise VersionedTableError(
                        "merge source has duplicate keys among matched "
                        "rows — a target row would match multiple source "
                        "rows; de-duplicate the source on the merge keys "
                        "first"
                    )
                # by-source: a file with any key match also loses its
                # unmatched rows, which are not counted — it is rewritten
                hits = {
                    r[self._FILE_NAME]: None if by_source else r["applies"]
                    for r in per_file
                    if by_source or r["applies"]
                }
            if by_source and bcond is not None:
                touched, untouched, dropped = dict.fromkeys(files), [], []
            else:
                touched = {
                    f: hits[os.path.basename(f)]
                    for f in files
                    if os.path.basename(f) in hits
                }
                rest = [f for f in files if f not in touched]
                untouched, dropped = ([], rest) if by_source else (rest, [])
            inserts = None
            if when_not_matched == "insert":
                inserts = source.join(
                    pairs.select(*on), on=on, how="left_anti"
                )
                if when_not_matched_condition is not None:
                    # narrows the insert clause: source rows failing it
                    # are dropped, not inserted (bare names = source
                    # columns)
                    inserts = inserts.where(
                        self._as_condition(when_not_matched_condition)
                    )
            if not touched and not dropped and (
                inserts is None or inserts.isEmpty()
            ):
                # the isEmpty() probe (a full anti-join job) runs only
                # when it decides whether the merge commits at all:
                # beside a rewrite, an empty insert stages a 0-row file
                # the kernel drops for free
                return None  # nothing matched AND nothing new
            cons = self._constraints_at(base)
            pt = (
                (self._ROW_ID,)
                if any(sp.get("hidden") for sp in idmap.values())
                else ()
            )

            def _build(scan_t, allocate):
                # scan_t: the tagged rows — rewritten files whole (the
                # second pass), vectored files' pairs only
                cdf: list[DataFrame] = []
                leave: list[DataFrame] = []
                keep: list[DataFrame | None] = []
                images = None
                if scan_t is not None:
                    cols = self._data_columns(scan_t)
                    ident = (self._FILE_NAME, self._DV_POS)
                    kept = scan_t.where(F.col(self._HIT).isNull()).select(
                        *cols, *ident
                    )
                    if by_source:
                        # unmatched rows in touched files go — unless a
                        # by-source condition spares them
                        doomed = kept if bcond is None else kept.where(bcond)
                        leave.append(doomed)
                        cdf.append(
                            doomed.withColumn("_change_type", F.lit("delete"))
                        )
                        kept = None if bcond is None else kept.where(~bcond)
                    keep.append(kept)
                    if when_matched is None:
                        # matched rows carried as-is (their files change
                        # only because they lose doomed by-source rows)
                        keep.append(
                            scan_t.where(F.col(self._HIT).isNotNull()).select(
                                *cols, *ident
                            )
                        )
                    else:
                        # the clause applies to apply_pre; condition-false
                        # rows carry. On a row-tracked table _row_id is in
                        # the identity list, so updates keep the TARGET's id
                        apply_pre, updated, carry = self._matched_split(
                            scan_t, when_matched_set,
                            self._generated_at(base), sorted(idmap),
                        )
                        leave.append(apply_pre)
                        if when_matched == "update":
                            if when_matched_set is not None:
                                # SET expressions can drift a column's
                                # type — re-align so the new files can't
                                # poison later declared-schema scans (same
                                # rule as update()'s assignments)
                                updated, _ = self._align(
                                    updated, eff_schema, False, "merge",
                                    passthrough=pt,
                                )
                            images = self._checked(updated, cons)
                            cdf.append(
                                apply_pre.withColumn(
                                    "_change_type", F.lit("update_preimage")
                                )
                            )
                            # one postimage PER updated target row,
                            # pairing the preimages (not one per source key)
                            cdf.append(
                                updated.withColumn(
                                    "_change_type", F.lit("update_postimage")
                                )
                            )
                        else:  # delete
                            cdf.append(
                                apply_pre.withColumn(
                                    "_change_type", F.lit("delete")
                                )
                            )
                        keep.append(carry)
                ins = None
                if inserts is not None:
                    allocated = allocate(inserts)
                    ins = self._checked(allocated, cons)
                    cdf.append(
                        allocated.withColumn("_change_type", F.lit("insert"))
                    )
                if dropped:
                    # read once for the change feed only — these files are
                    # dropped from the snapshot by NAME, zero rewrite
                    cdf.append(
                        self._dml_scan(
                            base, dropped, evolved_schema
                        ).withColumn("_change_type", F.lit("delete"))
                    )
                return _Change(
                    leave=_union_all(leave),
                    keep=_union_all(keep),
                    images=images,
                    insert=ins,
                    cdf=cdf,
                )

            params = {
                "on": list(on),
                "when_matched": when_matched,
                "when_not_matched": when_not_matched,
                "when_matched_condition": self._param_repr(
                    when_matched_condition
                ),
                "when_not_matched_condition": self._param_repr(
                    when_not_matched_condition
                ),
                "when_matched_set": self._param_repr(when_matched_set),
            }
            if by_source:
                params["when_not_matched_by_source"] = "delete"
                params["when_not_matched_by_source_condition"] = (
                    self._param_repr(when_not_matched_by_source_condition)
                )
            # new_files may legitimately be EMPTY (a by-source merge
            # deleting everything, inserting nothing): the snapshot
            # commits as files: [] and read() serves it from the
            # log-recorded schema
            return self._rewrite_commit(
                "merge",
                base,
                touched,
                untouched,
                _build,
                pairs=pairs,
                params=params,
                mode=mode,
                # a concurrent append whose files cannot intersect the
                # source key envelope cannot hold a matchable key: the
                # matched/insert split is unaffected, so the merge rebases
                # over it (Delta's ConcurrentAppendException scope for
                # MERGE). Not by-source: the appended rows would need a
                # deletion it never saw
                rebase_on_appends=(
                    None
                    if by_source
                    else self._phys_triples(envelope, mapping)
                ),
                evolved_schema=evolved_schema,
                idmap=idmap,
            )
        finally:
            pairs.unpersist()

    # -- read -----------------------------------------------------------
    _PRUNE_OPS = ("=", "<", "<=", ">", ">=", "in", "isnull", "notnull")

    @staticmethod
    def _file_may_match(
        fstats: dict, col: str, op: str, val: object
    ) -> bool:
        """Can a file with these column bounds hold a row satisfying
        ``col op val``? Missing/incomparable bounds → True (cannot skip).
        NULL rows are not covered by parquet min/max, but every supported
        operator is NULL-eliminating (SQL comparison with NULL is never
        true), so skipping on bounds alone stays correct.

        NaN needs care (measured against Spark's writer, not assumed):
        Spark orders NaN GREATEST, writes ``max=NaN`` for any file
        holding one, and ``NaN > x`` is True in Spark SQL while False in
        Python — naive bound math would skip files whose NaN rows match.
        A NaN upper bound therefore means "NaN present, non-NaN ceiling
        unknown": > / >= can never skip, and = / < / <= may use only the
        lower bound (NaN rows cannot equal a non-NaN literal or sort
        below one). A NaN *literal* disables skipping outright."""
        import math

        if fstats.get("#rows") == 0:
            # a zero-row file (an empty partition Spark wrote) can
            # satisfy NO predicate — and it is exactly the file whose
            # absent column bounds would otherwise force a keep
            return False
        if op == "in":
            # an IN-list is a disjunction of equalities: the file may
            # match iff ANY listed value falls inside its bounds (an
            # empty list matches nothing — every file skips)
            return any(
                VersionedTable._file_may_match(fstats, col, "=", v)
                for v in val
            )
        if op in ("isnull", "notnull"):
            # Delta's nullCount stat: a file with zero NULLs in the
            # column cannot satisfy IS NULL; one that is all-NULL
            # cannot satisfy IS NOT NULL. Unknown count → cannot skip.
            n = fstats.get("#nulls", {}).get(col)
            rows = fstats.get("#rows")
            if not isinstance(n, int):
                return True
            if op == "isnull":
                return n > 0
            return not (isinstance(rows, int) and n >= rows)
        bounds = fstats.get(col)
        if not bounds or not isinstance(bounds, (list, tuple)):
            return True  # absent, or a reserved scalar (#rows/#bytes)
        lo, hi = bounds
        if lo is None or hi is None:
            return True
        try:
            if isinstance(val, float) and math.isnan(val):
                return True  # NaN = NaN is true in Spark; never skip
            if isinstance(hi, float) and math.isnan(hi):
                if op == "=":
                    return not val < lo
                if op == "<":
                    return lo < val
                if op == "<=":
                    return lo <= val
                return True  # > / >=: the NaN rows always match
            if op == "=":
                return lo <= val <= hi
            if op == "<":
                return lo < val
            if op == "<=":
                return lo <= val
            if op == ">":
                return hi > val
            return hi >= val  # >=
        except TypeError:
            return True  # literal not comparable to the stored bound

    def _commit_ts(self, version: int) -> float:
        """Commit wall-clock of ``version`` as epoch seconds: the
        manifest's ``ts`` field, falling back to the manifest FILE's
        mtime for logs written before the field existed (the same source
        Delta uses for its pre-InCommitTimestamp tables)."""
        memo = self._ts_memo.get(version)
        if memo is not None:
            return memo
        ts = self._manifest(version).get("ts")
        if ts is None:
            ts = self._store.mtime(
                os.path.join(self.log_dir, f"{version:08d}.json")
            )
        self._ts_memo[version] = float(ts)
        return self._ts_memo[version]

    def resolve_timestamp(self, timestamp: object) -> int:
        """Version whose snapshot was current at ``timestamp`` — the
        LATEST version committed at-or-before it (Delta's timestampAsOf
        rule). Accepts epoch seconds (int/float), a ``datetime`` (naive =
        local time, as ``datetime.timestamp()`` defines), or an ISO-8601
        string. Raises before the first commit: there is no "empty table"
        version to travel to. Commit timestamps are made monotonic with a
        running max before resolving (clock skew between committers must
        not make a LATER version win an EARLIER timestamp — Delta applies
        the same adjustment)."""
        from datetime import datetime

        if isinstance(timestamp, str):
            timestamp = datetime.fromisoformat(timestamp)
        if isinstance(timestamp, datetime):
            timestamp = timestamp.timestamp()
        t = float(timestamp)
        vs = self._versions()
        if not vs:
            raise VersionedTableError(f"no committed versions at {self.path}")
        chosen = None
        running = float("-inf")
        for v in vs:
            running = max(running, self._commit_ts(v))
            if running <= t:
                chosen = v
            else:
                break  # adjusted timestamps are monotonic: done
        if chosen is None:
            raise VersionedTableError(
                f"timestamp {t} precedes the first commit "
                f"({running}, version {vs[0]}) — no snapshot existed yet"
            )
        return chosen

    def read(
        self,
        version_as_of: int | None = None,
        prune: "list[tuple[str, str, object]] | str | None" = None,
        timestamp_as_of: object = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot read, optionally with manifest-level data skipping:
        ``prune`` is a conjunction of ``(column, op, literal)`` simple
        predicates (ops ``= < <= > >=``). Files whose stored min/max
        bounds cannot satisfy ALL predicates are dropped from the scan
        BEFORE Spark ever lists them — at 10⁶ files a selective predicate
        skips the task launch and footer read per pruned file, which row-
        group pruning inside the scan cannot do. The predicates are also
        applied as real filters, so the result is exactly the filtered
        snapshot (skipping is an optimization, never a semantic).

        ``prune`` may also be a SQL WHERE string (r15 — the same surface
        the JSON job spec's ``where`` gets): its simple AND-ed conjuncts
        (incl. LIKE prefixes) become triples via
        ``spec.prune_triples_from_where``; the FULL string is then
        applied as the semantic filter, so complex legs the extractor
        drops still filter — string-prune results equal a plain
        ``read().where(s)`` by construction.

        ``timestamp_as_of`` (exclusive with ``version_as_of``) is the
        other half of Delta's time travel: the snapshot current at that
        wall-clock instant — see :meth:`resolve_timestamp`.

        ``with_row_ids`` (row-tracked tables only): include the stable
        hidden ``_row_id`` column — the id each row has carried since
        its insert, preserved through every rewrite. Rows resurrected
        by a restore to a pre-enablement version read it as NULL (see
        :meth:`enable_row_tracking`)."""
        where_str: str | None = None
        if isinstance(prune, str):
            from as_etl_storage_spark.spec import prune_triples_from_where

            where_str = prune
            prune = prune_triples_from_where(prune)
        if timestamp_as_of is not None and version_as_of is not None:
            raise VersionedTableError(
                "pass version_as_of OR timestamp_as_of, not both"
            )
        if timestamp_as_of is not None:
            version_as_of = self.resolve_timestamp(timestamp_as_of)
        vs = self._versions()
        if not vs:
            raise VersionedTableError(f"no committed versions at {self.path}")
        version = vs[-1] if version_as_of is None else version_as_of
        if version not in vs:
            raise VersionedTableError(
                f"version {version} not found; available {vs[0]}..{vs[-1]}"
            )
        if with_row_ids and not self._row_tracked_at(version):
            raise VersionedTableError(
                f"with_row_ids needs row tracking (not enabled at "
                f"version {version}); run enable_row_tracking() first"
            )
        files = self._state(version)
        kept = files
        if prune:
            mapping = self._mapping_at(version)
            kept = self._prune_files(
                files, self._stats_at(version), prune, mapping,
            )
            # second skipping pass: bloom filters prove = / IN conjuncts
            # absent from files whose min/max bounds could not (the
            # high-cardinality unsorted-key case)
            kept = self._bloom_prune(kept, prune, version, mapping)
            if not kept:
                # every file skipped: empty result, table schema intact
                from pyspark.sql import functions as F

                return (
                    self.read(
                        version_as_of=version, with_row_ids=with_row_ids
                    )
                    .where(F.lit(False))
                    .limit(0)
                )
        files = kept
        scan_sch = self._scan_schema(version)
        if with_row_ids:
            scan_sch = self._with_row_id(scan_sch)
        if not files:
            # a legitimately EMPTY snapshot: partitionBy writes of an
            # empty frame emit zero part files, so "delete everything"
            # through a mirror merge or an all-rows DV-threshold rewrite
            # can commit files: []. With a log-recorded schema the empty
            # frame is fully typed; only a schema-less legacy manifest is
            # unrecoverable.
            if scan_sch is not None:
                return self.spark.createDataFrame([], scan_sch)
            raise VersionedTableError(
                f"version {version} references no data files; the schema "
                f"is unrecoverable from an empty manifest"
            )
        # scan under the schema RECORDED AT that version: files written
        # before an additive evolution read the added columns as NULL,
        # and a time-travel read of a pre-evolution version shows the
        # schema the table had THEN — with zero footer merging either way
        df = self._scan_files(
            files, scan_sch, self._dv_at(version),
            mapping=self._mapping_at(version),
            partition_by=self._partition_by_at(version),
        )
        if where_str is not None:
            # the FULL string filters (extracted triples only skipped)
            df = df.where(where_str)
        elif prune:
            df = df.where(self._triples_condition(prune))
        return df

    def _prune_files(
        self,
        files: list[str],
        stats: dict[str, dict],
        prune: list[tuple[str, str, object]],
        mapping: dict[str, str] | None = None,
    ) -> list[str]:
        """Manifest data skipping: the files whose stored bounds COULD
        satisfy every ``(col, op, literal)`` conjunct. Shared by
        read(prune=…) and the triple form of delete/update. Stats are
        keyed by PHYSICAL column names (footers of physically-named
        files), so ``mapping`` translates the caller's logical columns
        before the bounds lookup — pruning keeps working across
        renames."""
        self._check_triples(prune)
        if mapping:
            prune = [(mapping.get(c, c), op, v) for (c, op, v) in prune]
        return [
            f
            for f in files
            if all(
                self._file_may_match(stats.get(f, {}), c, op, v)
                for (c, op, v) in prune
            )
        ]

    @classmethod
    def _check_triples(cls, prune: list[tuple[str, str, object]]) -> None:
        """Shape validation shared by BOTH halves of the triple form
        (manifest skip and semantic filter), so read(prune=...) and the
        DML paths raise the same actionable error for the same input."""
        for _, op, _v in prune:
            if op not in cls._PRUNE_OPS:
                raise VersionedTableError(
                    f"unsupported prune op {op!r}; one of {cls._PRUNE_OPS}"
                )
            if op == "in" and not isinstance(_v, (list, tuple)):
                raise VersionedTableError(
                    f"prune op 'in' takes a list of literals, got {_v!r}"
                )
            if op in ("isnull", "notnull") and _v is not None:
                raise VersionedTableError(
                    f"prune op {op!r} takes no literal (pass None), "
                    f"got {_v!r}"
                )

    @classmethod
    def _triples_condition(
        cls, prune: list[tuple[str, str, object]]
    ) -> "F.Column":
        """The ``(col, op, literal)`` conjunction as a real filter — the
        semantic half of pruning (skipping is only ever an optimization)."""
        cls._check_triples(prune)
        cond = F.lit(True)
        for c, op, v in prune:
            col = F.col(c)
            if op == "in":
                term = col.isin(list(v)) if len(v) else F.lit(False)
            elif op == "isnull":
                term = col.isNull()
            elif op == "notnull":
                term = col.isNotNull()
            else:
                # only the named comparison is built: each Column is a
                # py4j round trip
                term = _COMPARE[op](col, F.lit(v))
            cond = cond & term
        return cond

    def _change_range(
        self,
        name: str,
        from_version: int | None,
        to_version: int | None,
        from_timestamp: object,
        vacuumed: str,
    ) -> tuple[int, list[tuple[int, dict]], dict]:
        """The version walk :meth:`changes` and :meth:`change_feed`
        share; ``name`` names the caller in each error, ``vacuumed``
        ends the error for a vacuumed version in the range. Resolves
        ``from_timestamp`` (an instant before the first commit means
        "from the beginning"), checks the range and returns
        (``to_version``, each data-changing version in the range with
        its manifest, the clone vectors). Layout-only versions (compact:
        same rows, new packing) are skipped. A CLONE's v0 may carry live
        deletion vectors (cloned from the source): its files must be
        delivered WITH the subtraction or rows deleted before the clone
        resurrect in every consumer. Only v0 can be a clone, so the
        vector map cannot collide with any later append's files."""
        if from_timestamp is not None:
            if from_version is not None:
                raise VersionedTableError(
                    "pass from_version OR from_timestamp, not both"
                )
            try:
                from_version = self.resolve_timestamp(from_timestamp)
            except VersionedTableError:
                from_version = -1  # before the first commit
        elif from_version is None:
            raise VersionedTableError(
                f"{name}() needs from_version or from_timestamp"
            )
        vs = self._versions()
        if not vs:
            raise VersionedTableError(f"no committed versions at {self.path}")
        to_version = vs[-1] if to_version is None else to_version
        if to_version not in vs:
            raise VersionedTableError(
                f"version {to_version} not found; available {vs[0]}..{vs[-1]}"
            )
        if from_version > to_version:
            raise VersionedTableError(
                f"{name} range is backwards: from {from_version} "
                f"to {to_version}"
            )
        walked: list[tuple[int, dict]] = []
        clone_dv: dict = {}
        for v in range(from_version + 1, to_version + 1):
            if v not in vs:
                raise VersionedTableError(
                    f"version {v} in the {name} range was vacuumed; "
                    f"{vacuumed}"
                )
            m = self._manifest(v)
            if _layout_only(m):
                continue
            if m.get("op") == "clone":
                clone_dv.update(m.get("dv") or {})
            walked.append((v, m))
        return to_version, walked, clone_dv

    def changes(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
        from_timestamp: object = None,
    ) -> DataFrame:
        """Rows ADDED after ``from_version`` up to and including
        ``to_version`` (default: latest) — the incremental-read primitive
        (Delta CDF for the append-only case). A 100 TB training pipeline
        re-reads the table every cycle unless it can ask "what's new since
        the version I last processed?"; this answers from the delta
        manifests alone — O(versions-in-range) metadata, a scan over only
        the NEW files, zero data shuffled or diffed. ``from_version=-1``
        reads from the very first version (a consumer bootstrapping on an
        append-created table gets version 0's rows incrementally).

        A COMPACT version in the range is skipped transparently: it is a
        pure layout rewrite (its manifest carries ``data_change: false``,
        Delta's OPTIMIZE flag) — the rows added in the range are exactly
        the append deltas regardless of how the snapshot was re-packed.
        This is what keeps incremental consumers incremental at 100 TB,
        where OPTIMIZE runs nightly: without the flag every compaction
        would force every downstream consumer into a full re-read.

        Overwrite/replace DO change data: row-level changes cannot be
        derived from their file lists, so those raise, directing the
        caller to a full re-read (the same limitation Delta CDF has when
        CDC files are disabled).

        ``from_timestamp`` (exclusive with ``from_version``; Delta CDF's
        startingTimestamp): rows added after the snapshot current at
        that instant — resolved through :meth:`resolve_timestamp`, an
        instant before the first commit meaning "from the beginning"."""
        to_version, walked, dv_for_scan = self._change_range(
            "changes", from_version, to_version, from_timestamp,
            "incremental read is impossible — full re-read required",
        )
        added: list[str] = []
        for v, m in walked:
            if "add" in m:
                added.extend(m["add"])
            elif m["op"] in ("append", "clone"):
                # an append that CREATED the table (version 0) commits a
                # full-snapshot manifest, but its "files" are exactly the
                # appended files — so it IS incremental. Without this, a
                # stream-created table (VersionedStreamWriter batch 0) has
                # no changes() range covering its first batch. A CLONE's
                # v0 is likewise its exact initial content (Delta streams
                # a cloned table from its initial snapshot).
                added.extend(m["files"])
            else:
                hint = (
                    " (its change files carry deletes/updates — read them "
                    "with change_feed())"
                    if "cdc" in m
                    else ""
                )
                raise VersionedTableError(
                    f"version {v} is {m['op']!r}, not an append: row-level "
                    f"changes cannot be derived from file lists across a "
                    f"data-changing rewrite — full re-read required{hint}"
                )
        if not added:  # from == to: empty frame with the snapshot's schema
            return self.read(version_as_of=to_version).limit(0)
        # deliver under the schema at to_version (Delta's CDF posture:
        # the consumer sees the CURRENT schema; pre-evolution add files
        # read evolved columns as NULL)
        return self._scan_files(
            added,
            self._scan_schema(to_version),
            dv_for_scan or None,
            mapping=self._mapping_at(to_version),
            partition_by=self._partition_by_at(to_version),
        )

    def change_feed(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
        from_timestamp: object = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Row-level change feed over a version range (Delta CDF's
        ``readChangeFeed``): table columns plus ``_change_type`` (insert /
        delete / update_preimage / update_postimage) and
        ``_commit_version``. Where :meth:`changes` answers "what rows are
        NEW?" and must refuse any data-changing rewrite, this answers
        "what HAPPENED?": appends become ``insert`` rows read straight
        from their data files (no change file is ever written for an
        append — Delta's optimization — so the feed costs nothing extra
        on the hot path), and delete/update/merge versions are served
        from the ``_cdc/`` files their commit recorded.

        The whole range is planned as TWO scans regardless of how many
        versions it spans: one over all insert files, one over all change
        files, each joined to a broadcast (file → version) map built from
        the manifests — never one job per version. Layout-only versions
        (compact) contribute nothing. Overwrite/replace record no change
        files (their row-level story is unknowable from file lists), so a
        range crossing one raises, directing the consumer to a snapshot
        re-read — the same contract Delta CDF has for non-CDC commits.

        ``with_row_ids`` (row-tracked tables only): add the stable
        ``_row_id`` column to every change row — update preimages and
        postimages PAIR by it (the merge-free CDC-join primitive:
        consumers key on an id stable across restatements instead of
        re-deriving row identity from payload); deleted ids never
        reappear; inserts carry their freshly allocated ids. Change rows
        from versions committed BEFORE enablement read it as NULL."""
        to_version, walked, clone_dv = self._change_range(
            "change_feed", from_version, to_version, from_timestamp,
            "the change history is gone — full re-read required",
        )
        insert_files: list[tuple[str, int]] = []
        cdc_files: list[tuple[str, int]] = []
        for v, m in walked:
            if "cdc" in m:
                cdc_files.extend((f, v) for f in m["cdc"])
            elif "add" in m:
                insert_files.extend((f, v) for f in m["add"])
            elif m["op"] in ("append", "clone"):
                insert_files.extend((f, v) for f in m["files"])
            else:
                raise VersionedTableError(
                    f"version {v} is {m['op']!r} and recorded no change "
                    f"files: its row-level changes are unknowable — "
                    f"full re-read required"
                )
        if with_row_ids and not self._row_tracked_at(to_version):
            raise VersionedTableError(
                f"with_row_ids needs row tracking (not enabled at "
                f"version {to_version}); run enable_row_tracking() first"
            )
        cols = self.read(version_as_of=to_version).columns
        if with_row_ids:
            cols = [*cols, self._ROW_ID]
        out_cols = [*cols, "_change_type", "_commit_version"]
        sch = self._scan_schema(to_version)
        if with_row_ids:
            sch = self._with_row_id(sch)
        frames: list[DataFrame] = []
        for pairs, is_cdc in ((insert_files, False), (cdc_files, True)):
            if not pairs:
                continue
            vmap = self.spark.createDataFrame(
                [(os.path.basename(f), v) for f, v in pairs],
                schema=f"{self._FILE_NAME} string, _commit_version bigint",
            )
            scan_schema = sch
            if sch is not None and is_cdc:
                # change files store their row-level _change_type IN the
                # file — the declared scan schema must carry it
                scan_schema = T.StructType(
                    [*sch.fields, T.StructField("_change_type", T.StringType())]
                )
            scan0 = self._scan_files(
                [f for f, _ in pairs],
                scan_schema,
                None if is_cdc else clone_dv,
                keep_identity=True,
                mapping=self._mapping_at(to_version),
                partition_by=self._partition_by_at(to_version),
            ).drop(self._DV_POS)
            scan = scan0.join(
                F.broadcast(vmap), on=self._FILE_NAME, how="inner"
            )
            if not is_cdc:
                scan = scan.withColumn("_change_type", F.lit("insert"))
            frames.append(scan.select(*out_cols))
        if not frames:  # range covers only layout-only versions, or empty
            return (
                self.read(
                    version_as_of=to_version, with_row_ids=with_row_ids
                )
                .limit(0)
                .withColumn("_change_type", F.lit(""))
                .withColumn("_commit_version", F.lit(0).cast("bigint"))
            )
        return _union_all(frames)

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder: list[str] | None = None,
        zorder_cells: str = "auto",
        where: "list[tuple[str, str, object]] | str | None" = None,
        cluster_mode: str = "auto",
    ) -> int:
        """Bin-pack small data files into ~``target_file_bytes`` files as
        a new version (Delta's OPTIMIZE). The append-heavy path that the
        delta log makes cheap also breeds small files — the classic
        100 TB read-amplification problem: a snapshot of 10^6 tiny files
        pays 10^6 footer reads + task launches per scan. Compaction
        rewrites the CURRENT snapshot's data into right-sized files and
        commits a full-snapshot manifest; prior versions still reference
        the old files (snapshot isolation holds), which vacuum reclaims
        once out of retention.

        ``zorder`` (Delta's OPTIMIZE ZORDER BY): rewrite clustered on the
        Morton key over the listed numeric columns instead of a plain
        coalesce. Appends cluster by ARRIVAL, so after N ingest cycles
        every file's min/max spans the whole key space and
        ``read(prune=...)`` skips nothing; the z-ordered rewrite gives
        every output file a tight bound in ALL listed dimensions, making
        the manifest stats (re-collected from the new footers at commit)
        selective again — the layout half of the data-skipping story.
        Costs one range shuffle instead of coalesce's shuffle-free
        narrowing, paid once per OPTIMIZE cycle. A zorder compaction
        always rewrites, even when the file count is already right-sized:
        its purpose is re-clustering, not packing.

        ``zorder_cells`` picks the cell scheme: ``'width'`` = equi-width
        value cells (numeric only; one min/max aggregate, zero sampling),
        ``'ranked'`` = equi-populated quantile cells from one sampled-
        boundary job (any orderable type; the skew-robust choice — force
        it on a power-law numeric column where width cells collapse into
        a handful of buckets), ``'auto'`` (default) = width when every
        z-order column is numeric, ranked otherwise.

        Conflict rule (Delta's OPTIMIZE OCC): a concurrent PURE APPEND
        composes — the compaction removes only the files it read, so it
        REBASES by re-listing the appended files into its snapshot and
        commits; under always-on streaming ingest OPTIMIZE therefore
        never starves. Any other concurrent commit (DML, rewrite,
        metadata) still aborts the compaction. The manifest
        carries ``data_change: false`` (Delta's OPTIMIZE flag):
        incremental consumers — ``changes()`` and the
        ``versioned_changes`` stream source — skip the version
        wholesale, so layout maintenance never costs consumers a
        re-read. Returns the new version. No-op (returns the current
        version) when the table already has nothing to pack (plain mode
        only).

        ``where`` (Delta's OPTIMIZE ... WHERE, the partition-scoped
        form): a ``[(col, op, literal), …]`` conjunction selecting WHICH
        files to re-pack — files whose manifest bounds cannot match are
        carried by name, untouched. At 100 TB "OPTIMIZE the whole
        table" is not a nightly operation; "OPTIMIZE yesterday's
        partition" is. Any stats-pruned subset is semantically safe to
        compact (rows never change), so the predicate may use any
        column with manifest bounds, not only partition columns;
        vectors are purged only for the files actually rewritten.

        ``cluster_mode`` (r15, Delta's incremental liquid clustering):
        how much of the scope a CLUSTERING rewrite touches.
        ``'incremental'`` sorts only the unclustered TAIL — files added
        since the last clustering commit — so steady-state maintenance
        costs ∝ ingest, not ∝ table; files the last clustering already
        ordered are carried by name. ``'full'`` rewrites the whole
        scope (the r14 behavior). ``'auto'`` (default) is incremental
        when the clustering keys came from the DECLARED ``vt.clusterBy``
        property and a prior clustering commit exists (the maintenance
        path, incl. auto-compaction), full when ``zorder`` was passed
        explicitly (a user-invoked OPTIMIZE ZORDER is a re-cluster).
        Tail-only rounds accumulate range overlap between old and new
        files; ``vt.clusterBy.fullEvery = N`` forces every Nth
        clustering round to be a full rewrite (0/absent = never).
        Correctness is unaffected either way — clustering is layout,
        and stats are re-collected from the real footers at commit."""
        base = self.latest_version()
        if base is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        if isinstance(where, str):
            # string scope (r15, same surface as the maintenance spec):
            # extracted triples select the files; compact's where is
            # SCOPE-only (rows never change), so dropped conjuncts just
            # widen the scope — but a string that extracts NOTHING would
            # silently widen to the whole table, so it is refused
            from as_etl_storage_spark.spec import prune_triples_from_where

            triples = prune_triples_from_where(where)
            if not triples:
                raise VersionedTableError(
                    f"compact where {where!r} extracts no prune triple — "
                    "the scope would silently widen to the whole table; "
                    "use simple AND-ed col-op-literal conjuncts or pass "
                    "triples directly"
                )
            where = triples
        if cluster_mode not in ("auto", "full", "incremental"):
            raise ValueError(
                "cluster_mode must be auto|full|incremental, got "
                f"{cluster_mode!r}"
            )
        declared_cluster = False
        if zorder is None:
            # declared clustering (Delta's liquid CLUSTER BY, the
            # declarative half): a plain OPTIMIZE re-clusters on the
            # table's keys — which is how auto-compaction maintains the
            # selective layout without per-call arguments. Columns a
            # later DDL dropped are skipped (layout is advisory).
            declared = [
                c.strip()
                for c in self._properties_at(base)
                .get("vt.clusterBy", "")
                .split(",")
                if c.strip()
            ]
            if declared:
                live = {
                    f.name.lower()
                    for f in (self.table_schema(base).fields or [])
                }
                declared = [c for c in declared if c.lower() in live]
            if declared:
                zorder = declared
                declared_cluster = True
        all_files = self._state(base)
        mapping = self._mapping_at(base)
        stats = self._stats_at(base)  # one log walk: prune + sizes + carry
        untouched: list[str] = []
        files = all_files
        if where:
            files = self._prune_files(all_files, stats, where, mapping)
            # bloom pass: any provably-out-of-scope file is carried by
            # name instead of rewritten (same conservatism as read)
            files = self._bloom_prune(files, where, base, mapping)
            in_scope = set(files)
            untouched = [f for f in all_files if f not in in_scope]
            if not files:
                return base  # predicate selects nothing: no-op
        cluster_scope = "full"
        if zorder and cluster_mode != "full":
            want_tail = cluster_mode == "incremental" or (
                cluster_mode == "auto" and declared_cluster
            )
            if want_tail:
                anchor, inc_run, clustered, onwrite = self._cluster_history(
                    base
                )
                try:
                    full_every = int(
                        self._properties_at(base).get(
                            "vt.clusterBy.fullEvery", "0"
                        )
                    )
                except ValueError:
                    full_every = 0  # validated at SET; hand-edited log
                cadence_due = full_every > 0 and inc_run + 1 >= full_every
                if anchor is not None and not cadence_due:
                    # the unclustered tail: files this scope holds that
                    # the last clustering run had not yet SORTED — DML
                    # rewrites since then land here too (their files
                    # were written unsorted), and so do files a clustered
                    # file's DELETION VECTOR points at (OPTIMIZE is the
                    # advertised DV purge, so a clustered-but-vectored
                    # file is rewrite-due, never carried). Already-
                    # ordered vector-free files are carried by name, so
                    # the rewrite is ∝ ingest. Files BORN sorted by
                    # cluster-on-write count as clustered, except the
                    # SMALL ones (< half the target): ingest-sorted
                    # micro-batches still need bin-packing, or the file
                    # count grows without bound — re-packing them keeps
                    # maintenance ∝ ingest either way.
                    prev = clustered if clustered is not None else set()
                    dv_live = self._dv_at(base)
                    small_ow = {
                        f
                        for f in onwrite
                        if isinstance(
                            stats.get(f, {}).get("#bytes"), int
                        )
                        and stats[f]["#bytes"] * 2 < target_file_bytes
                    }
                    tail = [
                        f
                        for f in files
                        if f not in prev or f in dv_live or f in small_ow
                    ]
                    if not tail:
                        return base  # nothing unclustered: zero-cost round
                    if (
                        len(tail) == 1
                        and tail[0] in prev
                        and tail[0] not in dv_live
                    ):
                        # a LONE small born-sorted file: re-packing one
                        # file into one file achieves nothing — without
                        # this, idle maintenance would rewrite it forever
                        return base
                    tail_set = set(tail)
                    untouched = untouched + [
                        f for f in files if f not in tail_set
                    ]
                    files = tail
                    cluster_scope = "incremental"
        pb = self._partition_by_at(base)
        sizes = []
        for f in files:
            b = stats.get(f, {}).get("#bytes")
            if isinstance(b, int):
                # planned from the log — at 10^6 files this skips 10^6
                # filesystem stat calls
                sizes.append(b)
                continue
            try:  # pre-#bytes manifest: fall back to the filesystem
                sizes.append(os.path.getsize(os.path.join(self.path, f)))
            except OSError as e:
                raise VersionedTableError(
                    f"version {base} references missing data file {f}"
                ) from e
        total = sum(sizes)
        n_target = max(1, -(-total // target_file_bytes))  # ceil
        scoped_dv = {
            f: e for f, e in self._dv_at(base).items() if f in set(files)
        }
        carry_stats = {f: stats[f] for f in untouched if f in stats}

        rewrite_sch = self._scan_schema(base)
        if self._row_tracked_at(base):
            # layout maintenance must never lose row identity: ids ride
            # the re-pack/re-cluster rewrite like any other column
            rewrite_sch = self._with_row_id(rewrite_sch)

        def _scoped_scan():
            # the files being re-packed, with THEIR vectors subtracted
            # (the rewrite is the purge) — untouched files keep theirs
            if not files:
                return self.read(version_as_of=base).limit(0)
            return self._scan_files(
                files, rewrite_sch, scoped_dv, mapping=mapping,
                partition_by=pb,
            )

        if zorder:
            from pyspark.sql.types import NumericType

            from as_etl_storage_spark.writers.layout import (
                attach_zorder_key_ranked,
                zorder_key,
            )

            if zorder_cells not in ("auto", "width", "ranked"):
                raise ValueError(
                    f"zorder_cells must be auto|width|ranked, got "
                    f"{zorder_cells!r}"
                )
            snap = _scoped_scan()
            numeric = {
                f.name
                for f in snap.schema.fields
                if isinstance(f.dataType, NumericType)
            }
            if zorder_cells == "width" and not set(zorder) <= numeric:
                raise ValueError(
                    "zorder_cells='width' needs numeric columns for "
                    "equi-width cells; non-numeric in "
                    f"{sorted(set(zorder) - numeric)} — use 'ranked'"
                )
            use_width = (
                zorder_cells == "width"
                or (zorder_cells == "auto" and set(zorder) <= numeric)
            )
            if use_width:
                # equi-width value cells: zero extra jobs beyond one
                # min/max aggregate; right when the columns are numeric
                # and roughly uniform
                row = snap.agg(
                    *[
                        f
                        for c in zorder
                        for f in (
                            F.min(c).alias(f"{c}__lo"),
                            F.max(c).alias(f"{c}__hi"),
                        )
                    ]
                ).collect()[0]
                bounds = {
                    c: (row[f"{c}__lo"], row[f"{c}__hi"]) for c in zorder
                }
                keyed = snap.withColumn("__zkey", zorder_key(zorder, bounds))
            else:
                # strings/dates (or anything the width form can't cell),
                # or zorder_cells='ranked' forcing quantile cells on a
                # skewed numeric column: equi-populated buckets from ONE
                # sampled-boundary job across all listed columns
                keyed = attach_zorder_key_ranked(snap, zorder, "__zkey")
            # on a partitioned table the range key leads with the
            # partition columns: same-partition rows land in the same
            # write tasks, so the hive write fans out to ~n_target files
            # total (per-partition clustering, Delta's OPTIMIZE ZORDER
            # scope) instead of n_target × partitions fragments
            range_cols = [*pb, "__zkey"] if pb else ["__zkey"]
            df = (
                keyed.repartitionByRange(n_target, *range_cols)
                .sortWithinPartitions(*range_cols)
                .drop("__zkey")
            )
            new_files = self._write_data_files(df, pb, mapping)
            return self._commit(
                untouched + new_files,
                "compact",
                base,
                partition_by=pb,
                known_stats=carry_stats,
                rebase_on_appends=True,
                # the cluster marker is what _cluster_history anchors on;
                # ``outputs`` records which files this rewrite actually
                # SORTED (∝ rewrite size, same order as the manifest's
                # own file list) so a where-scoped clustering's carried
                # out-of-scope files stay in the next round's tail
                # instead of being treated as clustered forever
                params={
                    "target_file_bytes": target_file_bytes,
                    "zorder": self._param_repr(zorder),
                    "where": self._param_repr(where),
                    "cluster": cluster_scope,
                    "outputs": sorted(new_files),
                },
            )
        if len(files) <= n_target and not scoped_dv:
            # already right-sized AND no live deletion vectors — with
            # vectors the rewrite is still due: OPTIMIZE is the advertised
            # purge (materialize the subtraction, free the sidecars)
            return base
        if pb:
            # hive layout: a coalesce would interleave partitions inside
            # each task and the partitionBy write would re-split them into
            # ~n_target × partitions fragments — one range exchange on the
            # partition columns keeps same-partition rows together so the
            # write lands ~n_target right-sized files.
            # read PINNED AT BASE: the rebase below re-lists concurrent
            # appends by name — reading latest here would double-count
            # any append landing between the base snapshot and this scan
            df = _scoped_scan().repartitionByRange(n_target, *pb)
        else:
            # one shuffle-free rewrite: coalesce narrows partitions
            # without an exchange — at 10^6 inputs the scan parallelism
            # stays wide and only the write fan-in narrows
            df = _scoped_scan().coalesce(n_target)
        return self._commit(
            untouched + self._write_data_files(df, pb, mapping),
            "compact",
            base,
            partition_by=pb,
            known_stats=carry_stats,
            # OPTIMIZE composes with concurrent ingest (Delta's file-level
            # OCC): it removes only the files it read, so a concurrent
            # append rebases in by name — always-on streaming ingest must
            # not starve compaction
            rebase_on_appends=True,
            params={
                "target_file_bytes": target_file_bytes,
                "zorder": self._param_repr(zorder),
                "where": self._param_repr(where),
            },
        )

    def checkpoint(self, force_full: bool = True) -> int:
        """Write a checkpoint at the CURRENT version on demand (the
        manual half of the per-CHECKPOINT_EVERY cadence — what a
        maintenance job runs after a backfill so the next cold reader
        pays one footer read instead of a manifest replay). Returns the
        checkpointed version. ``force_full=False`` lets the incremental
        (delta-shaped) form apply when the chain rules allow it."""
        v = self.latest_version()
        if v is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        self._write_checkpoint(v, force_full=force_full)
        return v

    def _cluster_history(
        self, base: int
    ) -> tuple[int | None, int, "set[str] | None", "set[str]"]:
        """(last clustering commit ≤ ``base``, consecutive incremental
        rounds ending there, the set of files those commits actually
        CLUSTERED) — what incremental clustering anchors on.
        A clustering commit is a ``compact`` manifest whose params
        record a zorder (r15+; r14-era zorder compacts recorded no
        params, so an old table's first maintenance round is a full
        re-cluster that plants the anchor). The incremental-run count
        feeds the ``vt.clusterBy.fullEvery`` cadence; a full clustering
        (or an unlabeled one) resets it.

        The clustered set composes over the incremental chain from the
        ``outputs`` each clustering commit records (r16+): at each step
        it is (previous clustered set ∩ files still live) ∪ the files
        the rewrite produced. A where-scoped clustering therefore does
        NOT mark its out-of-scope carried files as clustered — they stay
        in the tail until a later round sorts them (pre-r16 commits
        record no outputs; the fallback treats that whole snapshot as
        clustered, matching the old behavior for old tables).

        Cluster-on-write commits (r16) join the accounting: an append
        whose params record ``clusterOnWrite`` contributed files BORN
        sorted — they count as clustered (and the newest one can be the
        anchor by itself, so a purely ingest-sorted table's maintenance
        round is a no-op), returned separately as the fourth element so
        compact() can still re-pack the SMALL ones. A cluster-on-write
        OVERWRITE is a full clustering of its whole snapshot and
        terminates the walk like one. Bounded by the version list —
        manifests are small JSON, and the walk short-circuits at the
        first full clustering."""
        chain: list[tuple[int, dict]] = []  # newest-first, ends at full
        onwrite_adds: list[list[str]] = []
        anchor_ow: int | None = None
        for v in reversed(self._versions()):
            if v > base:
                continue
            m = self._manifest(v)
            params = m.get("params") or {}
            if params.get("clusterOnWrite"):
                if "add" in m:
                    onwrite_adds.append(m["add"])
                    if anchor_ow is None:
                        anchor_ow = v
                    continue
                if "files" in m:
                    chain.append(
                        (v, {"cluster": "full", "outputs": m["files"]})
                    )
                    break  # full clustering of the whole snapshot
            if m.get("op") != "compact":
                continue
            if not params.get("cluster") and not params.get("zorder"):
                continue  # plain bin-pack: not a clustering commit
            chain.append((v, params))
            if params.get("cluster") != "incremental":
                break  # full clustering ends the incremental run
        onwrite: set[str] = set()
        for adds in onwrite_adds:
            onwrite.update(adds)
        if not chain and anchor_ow is None:
            return None, 0, None, onwrite
        anchor = chain[0][0] if chain else None
        if anchor_ow is not None:
            anchor = anchor_ow if anchor is None else max(anchor, anchor_ow)
        inc_run = sum(
            1 for _, p in chain if p.get("cluster") == "incremental"
        )
        clustered: set[str] = set()
        for v, params in reversed(chain):  # oldest → newest
            outs = params.get("outputs")
            if outs is None:
                # legacy commit (pre-r16): outputs unknown — fall back to
                # the whole snapshot, the pre-r16 semantics
                clustered = set(self._state(v))
            else:
                clustered = (clustered & set(self._state(v))) | set(outs)
        return anchor, inc_run, clustered | onwrite, onwrite

    def count(
        self,
        version_as_of: int | None = None,
        timestamp_as_of: object = None,
    ) -> int:
        """COUNT(*) of a snapshot from the LOG alone when possible: every
        commit since the ``#rows`` stat records each file's row count, so
        the answer is a sum over the manifest — zero data I/O, zero tasks
        — exactly how Delta/Iceberg answer metadata-only counts. Falls
        back to a real count for snapshots containing files committed
        before the stat existed (absent metadata never means zero)."""
        if timestamp_as_of is not None and version_as_of is not None:
            raise VersionedTableError(
                "pass version_as_of OR timestamp_as_of, not both"
            )
        if timestamp_as_of is not None:
            version_as_of = self.resolve_timestamp(timestamp_as_of)
        vs = self._versions()
        if not vs:
            raise VersionedTableError(f"no committed versions at {self.path}")
        version = vs[-1] if version_as_of is None else version_as_of
        files = self._state(version)
        stats = self._stats_at(version)
        dv = self._dv_at(version)
        total = 0
        for f in files:
            n = stats.get(f, {}).get("#rows")
            if not isinstance(n, int):
                return self.read(version_as_of=version).count()
            # deletion vectors: the manifest records each file's deleted
            # row count, so merge-on-read stays metadata-only here too
            total += n - int(dv.get(f, {}).get("rows", 0))
        return total

    def restore(
        self, version: int | None = None, timestamp: object = None
    ) -> int:
        """RESTORE the table to an earlier snapshot as a NEW version
        (Delta's RESTORE TO VERSION/TIMESTAMP): commits a full-snapshot
        manifest re-listing the old version's files — zero data is read
        or written, the files are still on disk (restore only reaches as
        far back as vacuum retention, same as Delta), and the restored
        state's stats come straight from the old manifests. History is
        preserved: the bad versions stay readable, and a second restore
        can roll forward again. Data-changing for consumers (the row set
        really changed), and no change files are recorded — row-level
        diffs across a restore are unknowable without diffing snapshots,
        so ``changes()``/``change_feed()`` across it direct the consumer
        to a re-read, exactly as for overwrite."""
        if (version is None) == (timestamp is None):
            raise VersionedTableError(
                "restore takes exactly one of version or timestamp"
            )
        if timestamp is not None:
            version = self.resolve_timestamp(timestamp)
        vs = self._versions()
        if version not in vs:
            raise VersionedTableError(
                f"version {version} not found; available "
                f"{vs[0] if vs else '-'}..{vs[-1] if vs else '-'}"
            )
        files = self._state(version)
        restored_dv = self._dv_at(version)
        dv_needed = [p for e in restored_dv.values() for p in e["files"]]
        missing = [
            f
            for f in [*files, *dv_needed]
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise VersionedTableError(
                f"cannot restore to version {version}: {len(missing)} of "
                f"its files were vacuumed (first: {missing[0]}) — restore "
                f"only reaches back as far as vacuum retention"
            )
        restored_schema, restored_dropped = self._schema_record_at(version)
        if restored_schema is None:
            # legacy source version (schema never recorded): derive it
            # from the restored files once so the carry-forward can't
            # stamp a LATER schema onto pre-evolution files
            restored_schema = self._derived_schema_json(version)
        # the restored files' bloom-filter refs come back with them
        # (their sidecars are within retention — the same rule that
        # guarantees the data files above); pending wins the merge in
        # _commit's carry loop
        self._pending_filters.update(self._filters_at(version))
        # identity SPECS roll back with the schema (a spec for a column
        # the restored schema lacks would desync every later write), but
        # each surviving column keeps the LATEST high-water mark —
        # rolling the mark back could re-allocate ids still live in
        # retained history. HIDDEN specs (row tracking) never roll back
        # at all: the feature flag is monotone, so the allocator must
        # stay alive even when restoring to a pre-enablement version
        # (whose resurrected files read _row_id as NULL until a
        # re-backfill — see enable_row_tracking's caveat). Both maps
        # fetched ONCE — each _identity_at is an uncached log walk.
        latest = self.latest_version()
        latest_ids = self._identity_at(latest)
        restored_ids = {
            c: {
                **sp,
                "high": latest_ids.get(c, sp).get("high", sp.get("high")),
            }
            for c, sp in self._identity_at(version).items()
        }
        restored_ids.update(
            {c: sp for c, sp in latest_ids.items() if sp.get("hidden")}
        )
        new_v = self._commit(
            files,
            "restore",
            latest,
            known_stats=self._stats_at(version),
            partition_by=self._partition_by_at(version),
            schema=restored_schema,
            dropped=restored_dropped,
            # the restored version's OWN mapping (renames roll back with
            # the schema they rode in on)
            mapping=self._mapping_at(version),
            # the restored snapshot's OWN vectors — restoring to before a
            # dv-delete undoes the delete (carrying the current map would
            # keep rows deleted that the restored version still had)
            dv=restored_dv,
            params={"restored_version": version},
            # the restored version's OWN generated map (invariants roll
            # back with the schema they describe)
            generated=self._generated_at(version),
            identity=restored_ids,
        )
        if self.row_tracking_stale():
            # restore stays O(metadata) by contract, so the repair is
            # NOT applied here — but the sharp edge (resurrected rows
            # reading _row_id as NULL) is surfaced at the moment it is
            # created, with the scoped fix named
            import warnings

            warnings.warn(
                f"restore to version {version} resurrected files "
                f"without materialized row ids; their rows read "
                f"_row_id as NULL until enable_row_tracking() "
                f"re-backfills them (scoped: cost ∝ those files)",
                stacklevel=2,
            )
        return new_v

    def clone(
        self,
        target_path: str,
        version: int | None = None,
        timestamp: object = None,
    ) -> "VersionedTable":
        """SHALLOW CLONE (Delta's CREATE TABLE ... SHALLOW CLONE): a new
        table at ``target_path`` whose version 0 references THIS table's
        data files by absolute path — zero data copied, O(metadata)
        cost, stats/schema/mapping/constraints/deletion vectors all
        carried — the zero-copy dev/test snapshot primitive (clone a
        100 TB table in milliseconds, experiment destructively, throw it
        away). The clone's log is independent from version 0 on: writes,
        DML, DDL, compaction and vacuum on the clone never touch the
        source (its vacuum compares RELATIVE names, so external
        references are invisible to it), and vice versa — with Delta's
        own documented caveat that VACUUMING THE SOURCE can reclaim
        files the clone still references; compact() the clone to
        materialize it fully local and cut the dependency.

        ``version``/``timestamp`` clone a historical snapshot (time
        travel + clone in one step). Partitioned sources clone too: the
        external references cannot use Spark's basePath reconstruction
        (it must be an ancestor), so the clone's scans parse partition
        values in-plan from the files' hive path segments — the same
        values the source's writer rendered — and partition PRUNING
        still works from the carried stats' degenerate bounds without
        opening a file."""
        if version is not None and timestamp is not None:
            raise VersionedTableError(
                "pass version OR timestamp, not both"
            )
        if timestamp is not None:
            version = self.resolve_timestamp(timestamp)
        vs = self._versions()
        if not vs:
            raise VersionedTableError(f"no committed versions at {self.path}")
        version = vs[-1] if version is None else version
        if version not in vs:
            raise VersionedTableError(
                f"version {version} not found; available {vs[0]}..{vs[-1]}"
            )
        # the clone's log lives on the same storage: share the store
        tgt = VersionedTable(self.spark, target_path, log_store=self._store)
        if tgt.latest_version() is not None:
            raise VersionedTableError(
                f"clone target {target_path} already has a log"
            )

        def _abs(f: str) -> str:
            return (
                f
                if os.path.isabs(f)
                else os.path.abspath(os.path.join(self.path, f))
            )

        files = [_abs(f) for f in self._state(version)]
        stats = {
            _abs(f): st
            for f, st in self._stats_at(version).items()
        }
        dv = {
            _abs(f): {
                "files": [_abs(p) for p in e["files"]],
                "rows": e["rows"],
            }
            for f, e in self._dv_at(version).items()
        }
        sch, drp = self._schema_record_at(version)
        if sch is None:
            # legacy source: record the derived schema so the clone is
            # born with a declared-schema log
            sch = self._derived_schema_json(version)
        v = tgt._commit(
            files,
            "clone",
            None,
            known_stats={f: stats[f] for f in files if f in stats},
            # a partitioned source's layout carries: the clone's scans
            # parse partition values in-plan from the external paths'
            # hive segments (see _scan_files), its stats carry the
            # degenerate partition bounds (pruning works), and its own
            # later writes stay hive-laid under the clone root
            partition_by=self._partition_by_at(version),
            schema=sch,
            dropped=drp,
            mapping=self._mapping_at(version),
            dv=dv or None,
            constraints=self._constraints_at(version),
            # operational config travels with the clone (Delta clones
            # TBLPROPERTIES too)
            properties=self._properties_at(version),
            generated=self._generated_at(version),
            # the identity spec + watermark carry: the clone keeps
            # allocating above the source's mark (ids stay unique
            # within the clone; the two tables diverge from here)
            identity=self._identity_at(version) or None,
        )
        assert v == 0
        return tgt

    def history(self) -> list[dict]:
        return [self._manifest(v) for v in self._versions()]

    def describe_history(self) -> list[dict]:
        """DESCRIBE HISTORY (Delta parity): one row per retained version
        with operation metrics, computed in ONE forward pass over the
        log — the state set is accumulated incrementally, never
        reconstructed per version (O(total log size), not O(n²) walks).
        The first retained row seeds from the checkpoint-backed state so
        a vacuum-truncated log still reports absolute file counts (its
        OWN add count stays exact for an append head). Timestamps are
        monotonized with the same running-max rule resolve_timestamp
        applies, so history order and timestamp order always agree even
        under committer clock skew."""
        out: list[dict] = []
        prev: set[str] = set()
        running_ts = float("-inf")
        for i, v in enumerate(self._versions()):
            m = self._manifest(v)
            ts_raw = m.get("ts")
            if ts_raw is not None:
                # one read per manifest: _commit_ts would re-open the
                # file this loop just parsed
                self._ts_memo.setdefault(v, float(ts_raw))
            if i == 0:
                cur = set(self._state(v))
                # an append head (vacuum checkpoints it) still knows its
                # OWN delta; snapshots added everything they list
                added = len(m["add"]) if "add" in m else len(cur)
                removed = 0
            elif "files" in m:
                cur = set(m["files"])
                added = len(cur - prev)
                removed = len(prev - cur)
            else:
                new = set(m.get("add", []))
                cur = prev | new
                added, removed = len(new), 0
            running_ts = max(running_ts, self._commit_ts(v))
            out.append(
                {
                    "version": v,
                    "op": m.get("op"),
                    # Delta's operationParameters: what the commit was
                    # ASKED to do (predicate, merge clauses, compact
                    # scope), recorded by the op itself — the audit
                    # trail that answers "which delete removed these
                    # rows" without replaying anything
                    "params": dict(m.get("params", {})),
                    "timestamp": running_ts,
                    "data_change": bool(m.get("data_change", True)),
                    "num_added_files": added,
                    "num_removed_files": removed,
                    "num_files": len(cur),
                }
            )
            prev = cur
        return out

    def _created_ts(self, version: int) -> float:
        """The table's creation wall-clock, surviving vacuum: version 0's
        commit ts while its manifest lives; once vacuum truncates the
        head, the checkpoint it writes carries ``created_ts`` forward
        (Delta persists createdTime in metadata for the same reason — an
        oldest-RETAINED timestamp would silently drift forward on every
        vacuum)."""
        val, _ = self._walk_to(version, "created_ts")
        if val is not None:
            return float(val)
        return self._commit_ts(self._versions()[0])

    def detail(self, distributed: bool = False) -> dict:
        """DESCRIBE DETAIL (Delta parity): one row about the CURRENT
        snapshot. ``size_bytes`` stats every live file — a maintenance
        call, priced like VACUUM's sweep, not a planning-path call.

        ``distributed=True`` runs the per-file stat as a Spark job
        (parallelize file names → per-partition stat → sum) instead of a
        driver loop — the object-store shape, where a sequential
        million-HEAD loop on the driver is the bottleneck the measured
        ~4 µs/file local figure understates. Requires executors to see
        the table's filesystem (true for any shared FS / object store;
        trivially true on local mode)."""
        latest = self.latest_version()
        if latest is None:
            raise VersionedTableError(f"no committed versions at {self.path}")
        files = self._state(latest)
        if distributed and files:
            base_path = self.path

            def _sizes(paths):
                import os as _os

                total = 0
                for rel in paths:
                    try:
                        total += _os.path.getsize(
                            _os.path.join(base_path, rel)
                        )
                    except OSError:
                        pass  # racing vacuum/rewrite: best-effort
                yield total

            sc = self.spark.sparkContext
            size = sum(
                sc.parallelize(
                    files, max(1, min(64, len(files) // 1000 + 1))
                )
                .mapPartitions(_sizes)
                .collect()
            )
        else:
            size = 0
            for f in files:
                try:
                    size += os.path.getsize(os.path.join(self.path, f))
                except OSError:
                    pass  # racing vacuum/rewrite: best-effort
        vs = self._versions()
        return {
            "location": self.path,
            "version": latest,
            "num_files": len(files),
            "size_bytes": size,
            "partition_columns": self._partition_by_at(latest),
            "constraints": self._constraints_at(latest),
            "properties": self._properties_at(latest),
            "generated_columns": self._generated_at(latest),
            "identity_columns": self._identity_at(latest),
            "schema": self.table_schema(latest).simpleString(),
            "dropped_columns": self._dropped_at(latest),
            "column_mapping": self._mapping_at(latest),
            # dv churn observability: cumulative vector rows and DISTINCT
            # sidecar files across the snapshot — the two quantities the
            # dv_rewrite_fraction threshold bounds (monitor these before
            # relaxing it)
            "dv_rows": sum(
                int(e.get("rows", 0)) for e in self._dv_at(latest).values()
            ),
            "dv_sidecar_files": len(
                {
                    p
                    for e in self._dv_at(latest).values()
                    for p in e.get("files", [])
                }
            ),
            "created_ts": self._created_ts(latest),
            "last_modified_ts": self._commit_ts(vs[-1]),
        }

    def vacuum(
        self,
        retain_last: int = 1,
        grace_seconds: float = 600.0,
        retain_hours: float | None = None,
        distributed: bool = False,
        dry_run: bool = False,
        protect_files: "set[str] | None" = None,
    ) -> int | list[str]:
        """Delete data files unreferenced by the retained versions (and
        their manifests). Returns files removed — or, with
        ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``), the sorted
        table-relative paths of the data/sidecar files that WOULD be
        removed under the same retention + grace rules, deleting
        nothing and writing nothing (no checkpoint, no manifest
        cleanup) — the audit step before an irreversible sweep.

        Retention is version-count (``retain_last``, the sandbox-scaled
        default) or time-based (``retain_hours``, Delta's
        retentionHours): with ``retain_hours`` every version whose
        commit timestamp is within the window stays time-travelable —
        the cut resolves through the SAME commit-timestamp source as
        ``timestamp_as_of``, so "I can still read what I could still
        resolve" holds by construction. The two compose as a union
        (whatever either rule retains is kept); pass ``retain_last=1``
        with ``retain_hours`` for pure time-based retention.

        ``grace_seconds`` (Delta's retention-window idea, scaled to this
        sandbox): files younger than the grace are kept even when
        unreferenced — the commit protocol writes data files FIRST and
        references them only at the O_EXCL manifest commit, so an
        in-flight writer's fresh files are always momentarily
        unreferenced; vacuuming them would let its commit succeed while
        pointing at deleted files. Pass 0 only when no concurrent writer
        can exist.

        ``distributed=True`` runs the data-file sweep — the LIST, the
        stat, the unreferenced test and the DELETE — as one Spark job:
        top-level subtrees fan out to executors, the keep set travels as
        a broadcast, and each partition walks/stats/removes its subtree
        (Delta's own vacuum is a Spark job for exactly this reason: on
        an object store the sequential driver walk IS the cost). The
        decision logic is identical to the driver path; root-level
        files, sidecar dirs (_dv/_cdc) and manifests stay driver-side
        (bounded by version count, not file count). Requires executors
        to see the table's filesystem.

        ``protect_files``: extra table-relative paths (data files, or
        sidecars under ``_dv/``/``_cdc/``/``_filters/``) treated as
        referenced regardless of retention. The caller-supplied keep
        set for snapshots that live OUTSIDE this log: a shallow clone
        just taken from a historical version references this table's
        files by absolute path, invisibly to the retention walk — a
        maintenance job that clones then vacuums passes the cloned
        version's file set here so the sweep cannot corrupt the clone
        it just created (see writers/maintenance.py). Out-of-job
        clones remain subject to Delta's documented source-vacuum
        caveat."""
        import time as _time

        now = _time.time()

        def _old_enough(full: str) -> bool:
            try:
                return now - os.path.getmtime(full) >= grace_seconds
            except OSError:
                return False  # already gone (concurrent vacuum)

        # orphaned commit temps: a crash between os.link and
        # os.unlink(tmp) leaves a .tmp-* behind — invisible to _versions
        # (no .json suffix) so correctness holds, but nothing else ever
        # deletes it. Swept before the retain_last early-return so even a
        # single-version table gets cleaned; the grace window protects an
        # in-flight committer's temp the same way it protects its files.
        if not dry_run:
            self._store.sweep_temps(self.log_dir, _old_enough)

        vs = self._versions()
        if retain_hours is None and vs:
            # table-declared retention default (Delta's
            # delta.deletedFileRetentionDuration): callers that pass an
            # explicit retain_hours still win
            raw = self._properties_at(vs[-1]).get("vt.vacuum.retainHours")
            if raw:
                try:
                    retain_hours = float(raw)
                except ValueError:
                    pass  # validated at SET; defensive for hand-edits
        n_keep = max(1, retain_last)
        if retain_hours is not None:
            cutoff = now - retain_hours * 3600.0
            # first version still inside the window; every later one is
            # newer (commit ts is effectively monotone — resolve through
            # the same source as timestamp_as_of)
            in_window = [v for v in vs if self._commit_ts(v) >= cutoff]
            if in_window:
                n_keep = max(n_keep, len(vs) - vs.index(in_window[0]))
        if len(vs) <= n_keep:
            return [] if dry_run else 0
        keep_versions = vs[-n_keep:]
        keep_files = set()
        for v in keep_versions:
            keep_files.update(self._state(v))
        # caller-protected externals: sidecar entries route to the
        # per-directory keep sets (the main walk never descends into
        # _dv/_cdc/_filters), everything else joins the data keep set
        protect_side: dict[str, set[str]] = {
            "_dv": set(),
            "_cdc": set(),
            "_filters": set(),
        }
        for p in protect_files or ():
            top, _, rest = p.partition(os.sep)
            if rest and top in protect_side:
                protect_side[top].add(os.path.basename(rest))
            else:
                keep_files.add(p)
        if dry_run:
            # list, never touch: the same walk + grace + keep-set rules
            # as the real sweep, data files and both sidecar kinds.
            # ``distributed`` applies to the LISTING too (r16): an
            # ifReclaimable scheduler tick on a 10^6-file object-store
            # table must not pay a serial driver walk just to learn
            # there is nothing to sweep.
            doomed: list[str] = []
            if distributed:
                sub_dirs = [
                    os.path.join(self.path, d)
                    for d in os.listdir(self.path)
                    if os.path.isdir(os.path.join(self.path, d))
                    and d not in ("_log", "_cdc", "_dv", "_filters")
                    and not d.startswith("__stage__")
                ]
                if sub_dirs:
                    base_path = self.path
                    sc = self.spark.sparkContext
                    bc_keep = sc.broadcast(keep_files)
                    grace, cut_now = grace_seconds, now

                    def _list_doomed(dirs_iter):
                        import os as _os

                        for d in dirs_iter:
                            for root, _dirs, names in _os.walk(d):
                                for f in names:
                                    if not f.endswith(".parquet"):
                                        continue
                                    p = _os.path.join(root, f)
                                    rel = _os.path.relpath(p, base_path)
                                    if rel in bc_keep.value:
                                        continue
                                    try:
                                        if (
                                            cut_now
                                            - _os.path.getmtime(p)
                                            < grace
                                        ):
                                            continue
                                    except OSError:
                                        continue  # raced away already
                                    yield rel

                    doomed += (
                        sc.parallelize(sub_dirs, max(1, len(sub_dirs)))
                        .mapPartitions(_list_doomed)
                        .collect()
                    )
                # root-level files: bounded, driver-side
                for f in os.listdir(self.path):
                    if not f.endswith(".parquet") or f in keep_files:
                        continue
                    full = os.path.join(self.path, f)
                    if os.path.isfile(full) and _old_enough(full):
                        doomed.append(f)
            else:
                for root, dirs, names in os.walk(self.path):
                    if root == self.path:
                        dirs[:] = [
                            d
                            for d in dirs
                            if d not in ("_log", "_cdc", "_dv", "_filters")
                            and not d.startswith("__stage__")
                        ]
                    for f in names:
                        if not f.endswith(".parquet"):
                            continue
                        rel = os.path.relpath(
                            os.path.join(root, f), self.path
                        )
                        if rel in keep_files:
                            continue
                        if _old_enough(os.path.join(self.path, rel)):
                            doomed.append(rel)
            keep_dv = {
                os.path.basename(p)
                for v in keep_versions
                for e in self._dv_at(v).values()
                for p in e["files"]
            }
            keep_cdc = {
                os.path.basename(f)
                for v in keep_versions
                for f in self._manifest(v).get("cdc", [])
            }
            keep_flt = {
                os.path.basename(s)
                for v in keep_versions
                for s in self._filters_at(v).values()
            }
            for sub, keep in (
                ("_dv", keep_dv | protect_side["_dv"]),
                ("_cdc", keep_cdc | protect_side["_cdc"]),
                ("_filters", keep_flt | protect_side["_filters"]),
            ):
                d = os.path.join(self.path, sub)
                if not os.path.isdir(d):
                    continue
                for f in os.listdir(d):
                    if (
                        f.endswith(".parquet")
                        and f not in keep
                        and _old_enough(os.path.join(d, f))
                    ):
                        doomed.append(os.path.join(sub, f))
            return sorted(doomed)
        # Delta's log-cleanup rule: never truncate past the last full
        # snapshot. The oldest RETAINED version must stay SELF-CONTAINED
        # once the manifests and checkpoints below it are gone: an
        # append delta with no checkpoint needs one, and an INCREMENTAL
        # checkpoint is not enough — its base_cp chain reaches below the
        # truncation point — so it is compacted to a full checkpoint
        # here (force_full). Later retained incrementals whose chains
        # cross the floor stay correct via the _CheckpointChainBroken
        # fallback: their walks replay manifests down to this floor.
        oldest_kept = keep_versions[0]
        cp0 = self._find_checkpoint(oldest_kept)
        self_contained = "files" in self._manifest(oldest_kept)
        if cp0 is not None and not self_contained:
            try:
                self_contained = (
                    self._read_checkpoint(cp0, "meta").get("base_cp")
                    is None
                )
            except Exception:  # unreadable: rewrite it full below
                self_contained = False
        if not self_contained:
            self._write_checkpoint(oldest_kept, force_full=True)
        removed = 0
        if distributed:
            # fan the subtree sweeps out to executors; the driver keeps
            # only the root's direct files (no subtree) and the decision
            # inputs (keep set + grace) travel once as a broadcast
            sub_dirs = [
                os.path.join(self.path, d)
                for d in os.listdir(self.path)
                if os.path.isdir(os.path.join(self.path, d))
                and d not in ("_log", "_cdc", "_dv", "_filters")
                and not d.startswith("__stage__")
            ]
            if sub_dirs:
                base_path = self.path
                sc = self.spark.sparkContext
                bc_keep = sc.broadcast(keep_files)
                grace, cut_now = grace_seconds, now

                def _sweep(dirs_iter):
                    import os as _os

                    n = 0
                    for d in dirs_iter:
                        for root, _dirs, names in _os.walk(d):
                            for f in names:
                                if not f.endswith(".parquet"):
                                    continue
                                p = _os.path.join(root, f)
                                rel = _os.path.relpath(p, base_path)
                                if rel in bc_keep.value:
                                    continue
                                try:
                                    if (
                                        cut_now - _os.path.getmtime(p)
                                        < grace
                                    ):
                                        continue
                                    _os.remove(p)
                                    n += 1
                                except OSError:
                                    pass  # concurrent vacuum won the race
                    yield n

                removed += sum(
                    sc.parallelize(sub_dirs, max(1, len(sub_dirs)))
                    .mapPartitions(_sweep)
                    .collect()
                )
            # root-level files: bounded, driver-side
            for f in os.listdir(self.path):
                if not f.endswith(".parquet") or f in keep_files:
                    continue
                full = os.path.join(self.path, f)
                if os.path.isfile(full) and _old_enough(full):
                    try:
                        os.remove(full)
                        removed += 1
                    except OSError:
                        pass
        else:
            # recursive: partitioned tables keep data under col=value/
            # dirs; staging, log and change dirs are pruned from the walk
            for root, dirs, names in os.walk(self.path):
                if root == self.path:
                    dirs[:] = [
                        d
                        for d in dirs
                        if d not in ("_log", "_cdc", "_dv", "_filters")
                        and not d.startswith("__stage__")
                    ]
                for f in names:
                    if not f.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(os.path.join(root, f), self.path)
                    if rel in keep_files:
                        continue
                    full = os.path.join(self.path, rel)
                    if not _old_enough(full):
                        continue
                    os.remove(full)
                    removed += 1
        # sweep partition directories a removal emptied (best-effort;
        # harmless if a concurrent writer recreates one)
        for root, dirs, names in os.walk(self.path, topdown=False):
            if root != self.path and not dirs and not names:
                rel0 = os.path.relpath(root, self.path).split(os.sep)[0]
                if rel0 not in ("_log", "_cdc", "_dv", "_filters") and not rel0.startswith(
                    "__stage__"
                ):
                    try:
                        os.rmdir(root)
                    except OSError:
                        pass
        # deletion vectors are referenced by the retained versions' dv
        # maps: keep those, reclaim the rest under the same grace
        dv_dir = os.path.join(self.path, "_dv")
        if os.path.isdir(dv_dir):
            keep_dv = set(protect_side["_dv"])
            for v in keep_versions:
                for e in self._dv_at(v).values():
                    keep_dv.update(os.path.basename(p) for p in e["files"])
            for f in os.listdir(dv_dir):
                if f.endswith(".parquet") and f not in keep_dv:
                    full = os.path.join(dv_dir, f)
                    if not _old_enough(full):
                        continue
                    os.remove(full)
                    removed += 1
        # change files are referenced by their commit's manifest, not by
        # any snapshot: keep those of RETAINED versions (their change
        # feed must stay readable), reclaim the rest under the same grace
        cdc_dir = os.path.join(self.path, "_cdc")
        if os.path.isdir(cdc_dir):
            keep_cdc = set(protect_side["_cdc"])
            for v in keep_versions:
                keep_cdc.update(
                    os.path.basename(f)
                    for f in self._manifest(v).get("cdc", [])
                )
            for f in os.listdir(cdc_dir):
                if f.endswith(".parquet") and f not in keep_cdc:
                    full = os.path.join(cdc_dir, f)
                    if not _old_enough(full):
                        continue
                    os.remove(full)
                    removed += 1
        # bloom-filter sidecars are referenced by the retained versions'
        # filters maps, same lifecycle as deletion vectors
        flt_dir = os.path.join(self.path, "_filters")
        if os.path.isdir(flt_dir):
            keep_flt = set(protect_side["_filters"])
            for v in keep_versions:
                keep_flt.update(
                    os.path.basename(s)
                    for s in self._filters_at(v).values()
                )
            for f in os.listdir(flt_dir):
                if f.endswith(".parquet") and f not in keep_flt:
                    full = os.path.join(flt_dir, f)
                    if not _old_enough(full):
                        continue
                    os.remove(full)
                    removed += 1
        def _old_enough_log(p: str) -> bool:
            try:
                return now - self._store.mtime(p) >= grace_seconds
            except OSError:
                return False  # already gone (concurrent vacuum)

        for v in vs[:-n_keep]:
            # the same grace applies to manifests: deleting a young
            # version's manifest while its files are grace-protected
            # would orphan the files AND lose the version early
            mf = os.path.join(self.log_dir, f"{v:08d}.json")
            if _old_enough_log(mf):
                self._store.delete(mf)
            # a vacuumed version's checkpoint goes with its manifest
            # (either format)
            for cp in (self._checkpoint_path(v), self._checkpoint_pq_path(v)):
                if self._store.exists(cp) and _old_enough_log(cp):
                    self._store.delete(cp)
        return removed
