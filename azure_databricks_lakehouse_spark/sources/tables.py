"""Parquet-native versioned table layer: the lakehouse surface without Delta.

The reference's signature table operations are Delta Lake's
(``bronze/bronze_rx_claims_load.py:54-77``,
``gold/gold_rx_claims_load.py:211-230``): existence probe (D1),
``forPath`` handles (D2), MERGE upsert (D3,
``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` at
``gold/gold_rx_claims_load.py:216-221``), schema evolution on append (D4,
``mergeSchema`` at ``bronze/bronze_rx_claims_load.py:61``), time travel
(D5, ``README.md:36-40``), OPTIMIZE/Z-ORDER compaction (D6,
``bronze_silver_gold/readme.md:84,96,107-108``), VACUUM retention (D8,
``bronze_silver_gold/readme.md:117``).

``delta-spark`` is not available in this container, so this module
re-creates the storage contract from first principles, the same way Delta
itself does: **immutable parquet data files + an ordered log of manifest
versions**.  A manifest (`_manifest/v<NNN>.json`) lists exactly the data
files visible at that version; commits are atomic single-file renames;
readers pin a manifest and therefore see a consistent snapshot (writers
never mutate existing files).  That gives ACID-for-one-writer, versioned
reads, and O(1) rollback — the properties the medallion pattern's
idempotent re-runs depend on (``bronze_silver_gold/readme.md:68-70``).

Scale design:
- Readers load only manifest-listed files (``spark.read.parquet(*files)``
  with ``basePath``), so partition pruning and parquet pushdown work
  unchanged.
- MERGE rewrites **only the partitions the source touches** when the
  partition column is part of the merge key (partition-pruned upsert);
  untouched files carry over into the new manifest by reference.  At
  100 TB this is the difference between rewriting 1 day and 7 years.
- DELETE/UPDATE are **file-pruned and merge-on-read**: manifest footer
  stats + partition values drop files that cannot match
  (``plans/pruning``, metadata only), one column-pruned probe counts
  matches per file, and ``mode="auto"`` then picks per file: fully
  matched files are DROPPED from the manifest (metadata-only partition
  delete), heavily matched files are rewritten (copy-on-write), and
  the selective tail gets a **deletion vector** — matched row
  positions in a ``_deletion_vectors/`` sidecar, masked at read time
  by a broadcast anti-join on ``(_metadata.file_path,
  _metadata.row_index)``.  A one-row DELETE writes a KB of DV, not a
  file — Delta's DV design re-expressed Spark-natively.  Each DML
  commit also writes its exact row delta as a CDC sidecar
  (``_change_data/``), so CDF consumers — batch ``changes_between``
  and the streaming source — read changes at cost ∝ change.
- OPTIMIZE is **incremental**: plain compaction touches only partition
  groups with ≥ 2 sub-target files (re-running on a compacted table
  commits nothing) plus any DV-masked file (merge-on-read debt is
  materialized away during routine maintenance; ``purge_deletion_vectors``
  is the targeted ``REORG ... APPLY (PURGE)`` knob), ``where`` scopes
  any mode to the matching files (``OPTIMIZE ... WHERE`` parity), and
  Z-ORDER clusters with interleaved bit ranks so min/max stats prune on
  EVERY clustering column.
- ALTER TABLE is **metadata-only** (Delta column-mapping "name" mode):
  the schema holds logical names, data files keep their physical names
  forever, and ``colmap``/``retired_cols`` in the manifest translate at
  the projection layer — ADD/DROP/RENAME COLUMN never rewrite a byte,
  and a re-added name gets a fresh physical identity so dropped data
  can never resurrect.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from azure_databricks_lakehouse_spark.plans import cbo

_MANIFEST_DIR = "_manifest"
_DATA_DIR = "data"
# row tracking: the physical column rewrites materialize preserved row
# ids into (never part of the logical schema; reserved)
_ROW_ID_PHYS = "__row_id"
_CDC_DIR = "_change_data"
_DV_DIR = "_deletion_vectors"
_SIDECAR_DIR = os.path.join(_MANIFEST_DIR, "_sidecars")
_LEDGER_DIR = "_copy_ledger"
# MERGE: the whenMatchedDelete flag column the source carries into the
# rewrite join (reserved)
_MERGE_DEL = "__mrg_del"

# parsed stats/bloom sidecar files, cached by absolute path — sidecar
# files are immutable once written, so entries can never go stale.
# Bounded FIFO: a long-lived maintenance session would otherwise pin
# every superseded consolidation generation it ever read
_SIDECAR_CACHE: dict[str, tuple[dict, dict]] = {}
_SIDECAR_CACHE_MAX = 256
# a commit whose manifest would reference more sidecars than this
# consolidates them into one (log compaction): keeps the ref list —
# and the number of files a cold stats load opens — bounded while
# amortizing the O(live files) merge over many commits
_SIDECAR_CONSOLIDATE = 24

# file-URI prefix of a table's data root, derived once per root from a
# one-row probe and cached for the session (see ParquetTable._uri_prefix)
_URI_PREFIX_CACHE: dict[str, str] = {}
_CURRENT_DIR = "current"
_CATALOG_FILE = "_catalog.json"


@dataclass(frozen=True)
class Commit:
    version: int
    operation: str
    timestamp: float
    n_files: int
    # Delta operationMetrics parity: what the commit touched (rows
    # deleted/updated, files added/rewritten/dropped/DV'd) — the
    # observability a maintenance dashboard needs without replaying CDF
    metrics: dict = None


class ConcurrentModificationError(RuntimeError):
    """A concurrent commit logically conflicts with this operation —
    it removed or re-masked files this operation read/rewrote, or
    changed the schema/constraints it validated against.  The caller
    must recompute against the new snapshot (Delta's
    ``ConcurrentDeleteReadException`` family).  Disjoint concurrent
    operations do NOT raise this: they rebase and commit."""


class ConstraintViolationError(ValueError):
    """A write (or ADD CONSTRAINT over existing data) violates a table
    CHECK or NOT NULL constraint.  Carries per-constraint violation
    counts in ``violations``."""

    def __init__(self, context: str, violations: dict[str, int]):
        self.violations = violations
        detail = ", ".join(f"{k}: {v} rows" for k, v in violations.items())
        super().__init__(f"{context} violates table constraints ({detail})")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version:010d}.json")


# -- column mapping (metadata-only ALTER TABLE) ------------------------------
# Delta's column-mapping "name" mode re-expressed on the manifest: the
# SCHEMA holds logical names (the user contract), data files keep their
# PHYSICAL names forever, and `colmap` records the non-identity pairs.
# RENAME/DROP/ADD COLUMN therefore never touch a data file; reads
# translate at the projection layer (free under column pruning).
# `retired_cols` lists physical names that live files may still carry
# but that no logical column maps to (dropped columns) — reads drop
# them, and ADD COLUMN never reuses them as a physical name, so a
# re-added name can never resurrect dead data.


def _physical_name(m: dict, col: str) -> str:
    return m.get("colmap", {}).get(col, col)


def _prop_on(props: dict, key: str) -> bool:
    """Boolean table property, tolerant of the SQL path's string values
    (``TBLPROPERTIES ('x' = 'false')`` stores the STRING 'false', which
    must not read as enabled)."""
    v = props.get(key)
    if isinstance(v, str):
        return v.strip().lower() in ("true", "1", "yes", "on")
    return bool(v)


def _logical_inverse(m: dict) -> dict[str, str]:
    return {p: l for l, p in m.get("colmap", {}).items()}


def _to_logical_df(df: DataFrame, m: dict) -> DataFrame:
    """Physical file columns -> logical schema names (drop retired
    physicals FIRST so a re-added logical name cannot collide with a
    dropped column's leftover data)."""
    cmap = m.get("colmap", {})
    retired = set(m.get("retired_cols", []))
    if not cmap and not retired:
        return df
    drop = [c for c in df.columns if c in retired]
    if drop:
        df = df.drop(*drop)
    inv = _logical_inverse(m)
    renames = {c: inv[c] for c in df.columns if c in inv}
    if renames:
        df = df.withColumnsRenamed(renames)
    return df


def _to_physical_df(df: DataFrame, m: dict) -> DataFrame:
    """Logical frame -> physical column names for a data-file write."""
    cmap = m.get("colmap", {})
    renames = {l: p for l, p in cmap.items() if l in df.columns}
    return df.withColumnsRenamed(renames) if renames else df


def is_table(path: str) -> bool:
    """D1 parity: ``DeltaTable.isDeltaTable`` probe
    (``bronze/bronze_rx_claims_load.py:54``)."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    return os.path.isdir(mdir) and any(
        f.startswith("v") and f.endswith(".json") for f in os.listdir(mdir)
    )


@dataclass(frozen=True)
class CorrelatedCondition:
    """A DML condition whose predicate references DECORRELATED scalar
    lookups — the engine shape behind ``DELETE/UPDATE ... WHERE expr
    <op> (SELECT agg FROM s WHERE s.k = t.k)`` (the SQL front-end
    rewrites the correlated scalar to a ``CASE WHEN __corrN_hit THEN
    __corrN_v ELSE <empty-group literal> END`` over a key-unique
    lookup frame).

    ``lookups``: ``((frame, join_cond_sql), ...)`` — each frame is
    key-unique on its join keys (built with GROUP BY), so the left
    join can never fan a row out; ``predicate`` is boolean SQL over
    the table's columns plus the lookup columns.  The decorator
    projects the lookup columns away after stamping ``__hit``, so
    rewrite/CDC frames keep the table schema.  No metadata prune tree:
    a per-key threshold can't be ruled out from footer stats."""

    lookups: tuple
    predicate: str

    def _decorator(self):
        def dec(df: DataFrame) -> DataFrame:
            cols = list(df.columns)
            out = df
            for lk, cond_sql in self.lookups:
                out = out.join(lk, F.expr(cond_sql), "left")
            hit = F.coalesce(F.expr(self.predicate), F.lit(False))
            return out.select(*cols, hit.alias("__hit"))

        return dec


@dataclass(frozen=True)
class KeyCondition:
    """A DML condition that matches rows by key membership in ``keys``
    — the join-shaped predicate behind ``DELETE/UPDATE ... WHERE col
    [NOT] IN (SELECT ...)`` and ``WHERE [NOT] EXISTS (...)``, which a
    row-wise Column can't express.

    ``keys`` must already be distinct with NULL key rows dropped (the
    caller owns the subquery's NULL semantics: a NULL-bearing NOT IN
    subquery matches nothing and must short-circuit BEFORE building
    this spec).  ``anti=False`` (``IN`` / ``EXISTS``) marks rows whose
    key IS in ``keys``: a NULL target key never joins, so it never
    matches, as SQL ``IN`` requires.  ``anti=True`` marks rows whose
    key is NOT in ``keys``, and ``null_aware`` selects its target-side
    semantics:

    - True (``NOT IN``): a target row with a NULL key component never
      matches — SQL three-valued logic leaves it UNKNOWN;
    - False (``NOT EXISTS`` with equality correlation): a NULL-key
      target row always matches — no subquery row can equal NULL, so
      NOT EXISTS is plainly TRUE there.
    """

    cols: tuple[str, ...]
    keys: DataFrame
    anti: bool
    null_aware: bool

    def _decorator(self):
        keyset = self.keys.withColumn("__m", F.lit(True))
        cols = list(self.cols)

        def dec(df: DataFrame) -> DataFrame:
            out = df.join(keyset, cols, "left")
            hit = F.col("__m").isNotNull()
            if self.anti:
                hit = ~hit
                if self.null_aware:
                    hit = functools.reduce(
                        lambda a, b: a & b,
                        [F.col(c).isNotNull() for c in cols],
                        hit,
                    )
            # re-select in the caller's order: the USING-join moved the
            # key columns first, and rewrite files should keep the
            # manifest's column order
            return out.select(*df.columns, hit.alias("__hit"))

        return dec


class ParquetTable:
    """Handle to a versioned parquet table (D2 parity: ``forPath``)."""

    def __init__(self, spark: SparkSession, root: str):
        if not is_table(root):
            raise FileNotFoundError(f"not a table: {root}")
        self.spark = spark
        self.root = root

    # -- construction -------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        partition_by: Sequence[str] | None = None,
        mode: str = "error",
        cluster_by: Sequence[str] | None = None,
    ) -> "ParquetTable":
        """Create a table from ``df`` (S7-style overwrite creates v0).

        ``cluster_by`` is Delta liquid clustering's ``CREATE TABLE ...
        CLUSTER BY``: v0 is written z-ordered on the given columns and
        the clustering state is recorded, so every later plain
        ``optimize()`` auto-maintains the layout incrementally — the
        from-birth half of the round-6 incremental-clustering story."""
        if is_table(root):
            if mode == "error":
                raise FileExistsError(f"table exists: {root}")
            if mode == "ignore":
                return cls(spark, root)
        os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)
        part_cols = list(partition_by or ())
        props: dict = {}
        if cluster_by:
            missing = set(cluster_by) - set(df.columns)
            if missing:
                raise ValueError(f"cluster_by columns not in df: {sorted(missing)}")
            n_files = max(1, df.rdd.getNumPartitions())
            zval = _zvalue(df, list(cluster_by))
            df = (
                df.withColumn("__zval", zval)
                .repartitionByRange(n_files, *part_cols, "__zval")
                .sortWithinPartitions(*part_cols, "__zval")
                .drop("__zval")
            )
            files = _write_files(df, root, part_cols, preserve_layout=True)
            props["clustering"] = {
                "cols": list(cluster_by),
                "prefixes": sorted({_commit_prefix(f) for f in files}),
            }
        else:
            files = _write_files(df, root, part_cols)
        _commit(
            root,
            version=0,
            files=files,
            schema=df.schema.json(),
            partition_by=part_cols,
            operation="CREATE",
            merged_schema=False,
            stats=_file_stats(os.path.join(root, _DATA_DIR), files),
            props=props,
        )
        return cls(spark, root)

    @classmethod
    def for_path(cls, spark: SparkSession, root: str) -> "ParquetTable":
        return cls(spark, root)

    # -- manifest access ----------------------------------------------------

    def _versions(self) -> list[int]:
        mdir = os.path.join(self.root, _MANIFEST_DIR)
        vs = sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        if not vs:
            raise FileNotFoundError(f"no manifest versions in {self.root}")
        return vs

    def latest_version(self) -> int:
        return self._versions()[-1]

    def _manifest(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        with open(_manifest_path(self.root, v)) as fh:
            return json.load(fh)

    # -- stats / bloom sidecar access ---------------------------------------

    def _stats(self, m: dict) -> dict[str, dict]:
        """Per-file footer stats for manifest ``m`` —
        ``{file: {physical_col: [lo, hi]}}`` — assembled LAZILY from the
        manifest's parquet sidecar refs (cached per sidecar; a plain
        read never touches them).  Entries for files no longer in the
        manifest are filtered out; legacy inline manifests pass
        through."""
        inline = m.get("stats")
        if inline:
            return inline
        refs = m.get("stats_sidecars", [])
        if not refs:
            return {}
        live = set(m["files"])
        out: dict[str, dict] = {}
        for ref in refs:
            s, _b = _load_sidecar(os.path.join(self.root, _SIDECAR_DIR, ref))
            for f, cols in s.items():
                if f in live:
                    out.setdefault(f, {}).update(cols)
        return out

    def _blooms(self, m: dict) -> dict[str, dict]:
        """Per-file bloom bitmaps for manifest ``m`` —
        ``{file: {physical_col: hex}}`` — from the sidecar refs,
        filtered to the manifest's CURRENT bloom configuration (rows
        stamped with a different cfg hash are stale and ignored).
        Legacy inline manifests (logical-keyed) are translated."""
        inline = m.get("blooms")
        if inline:
            return {
                f: {_physical_name(m, c): v for c, v in cols.items()}
                for f, cols in inline.items()
            }
        cfg = _bloom_cfg_hash(m.get("props"), m.get("colmap"))
        if cfg is None:
            return {}
        live = set(m["files"])
        out: dict[str, dict] = {}
        for ref in m.get("stats_sidecars", []):
            _s, b = _load_sidecar(os.path.join(self.root, _SIDECAR_DIR, ref))
            for f, cols in b.items():
                if f not in live:
                    continue
                for c, (hex_bmp, row_cfg) in cols.items():
                    if row_cfg == cfg:
                        out.setdefault(f, {})[c] = hex_bmp
        return out

    def detail(self) -> dict:
        """Delta ``DESCRIBE DETAIL`` parity: one metadata-only dict of
        the table's current physical state — size, file count, partition
        scheme, DV debt, mapping state, properties.  Nothing is read
        but the manifest and file sizes."""
        m = self._manifest()
        data_root = os.path.join(self.root, _DATA_DIR)
        size = 0
        for f in m["files"]:
            try:
                size += os.path.getsize(os.path.join(data_root, f))
            except OSError:
                pass
        dvs = m.get("dvs", {})
        return {
            "location": os.path.abspath(self.root),
            "version": m["version"],
            "num_files": len(m["files"]),
            "size_bytes": size,
            "partition_columns": list(m["partition_by"]),
            "schema": m["schema"],
            "num_dv_masked_files": len(dvs),
            "num_dv_sidecars": len({d for v in dvs.values() for d in v}),
            "num_stats_sidecars": len(m.get("stats_sidecars", [])),
            "column_mapping": dict(m.get("colmap", {})),
            "retired_columns": list(m.get("retired_cols", [])),
            "properties": dict(m.get("props", {})),
            "created_at": self._manifest(self._versions()[0])["timestamp"],
            "last_modified": m["timestamp"],
        }

    def history(self, limit: int | None = None) -> list[Commit]:
        """D5 companion: the table's commit log, oldest first.
        ``limit`` returns only the NEWEST that many commits (Delta's
        ``DESCRIBE HISTORY ... LIMIT``) — the listing stays one
        directory read, and only the requested manifests are parsed."""
        vs = self._versions()
        if limit is not None:
            vs = vs[-limit:]
        out = []
        for v in vs:
            m = self._manifest(v)
            out.append(
                Commit(
                    v,
                    m["operation"],
                    m["timestamp"],
                    len(m["files"]),
                    m.get("metrics", {}),
                )
            )
        return out

    # -- read (incl. time travel) ------------------------------------------

    def version_at(self, timestamp) -> int:
        """Delta ``timestampAsOf`` resolution: the latest version whose
        commit time is <= ``timestamp`` (a unix float, or an ISO-8601
        string parsed as UTC when no zone is given).  Raises if the
        timestamp predates the table (same contract as Delta)."""
        if isinstance(timestamp, str):
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(timestamp)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            ts = dt.timestamp()
        else:
            ts = float(timestamp)
        best = None
        for v in self._versions():
            if self._manifest(v)["timestamp"] <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"timestamp {timestamp!r} predates the table's first "
                "available commit (VACUUMed or never existed)"
            )
        return best

    def read(
        self,
        version: int | None = None,
        timestamp=None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot read; ``version`` pins a historical manifest (D5 time
        travel — ``versionAsOf``), ``timestamp`` resolves one via
        :meth:`version_at` (``timestampAsOf``).  Applies the manifest's
        deletion vectors (merge-on-read DML) transparently.

        The result always carries every MANIFEST-declared column: if the
        last file holding an evolved column is dropped (e.g. a DELETE
        that swallowed it whole), the column still surfaces as typed
        NULLs — table schema is a metadata contract, not an accident of
        which files survive.

        ``with_row_ids`` (Delta ``delta.enableRowTracking`` /
        ``_metadata.row_id`` parity) adds ``_row_id``: a stable long
        identifying the logical row across commits — fresh rows draw
        ids from a per-file base (metadata-only, rebase-safe), rewrites
        carry preserved ids in a materialized physical column, and the
        read coalesces the two.  Requires the table property."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(timestamp)
        m = self._manifest(version)
        df = self._read_files_dv(m["files"], m, with_row_ids=with_row_ids)
        return self._fill_missing(df, m)

    def register(self, name: str, version: int | None = None) -> None:
        """S9 (session-scoped): make the table SQL-visible as a temp view.
        For a *persistent* catalog entry use :meth:`register_catalog`."""
        self.read(version).createOrReplaceTempView(name)

    def register_catalog(self, name: str) -> None:
        """S9 full parity: a persistent catalog table
        (``CREATE TABLE ... USING PARQUET LOCATION`` — the reference's
        ``bronze/bronze_rx_claims_load.py:77`` /
        ``gold/gold_rx_claims_load.py:79-232`` registration), visible to
        every session sharing the catalog, not just this one.

        A plain parquet catalog table reads a whole directory, but this
        layout keeps historical versions side by side under ``data/`` —
        so the entry points at ``current/``, a directory of hardlinks to
        exactly the latest manifest's files (hive partition structure
        preserved).  Every commit refreshes ``current/`` and, for
        partitioned tables, re-runs partition recovery, so SQL-by-name
        always sees the newest snapshot.  Hardlinks cost no data copies.

        The entry is created with the MANIFEST's explicit schema (not
        file inference): files written before a schema evolution simply
        surface the new columns as NULL, and :meth:`_post_commit`
        re-registers whenever the manifest schema changes — so columns
        added by ``merge_schema`` appends or widening MERGEs appear to
        catalog-name readers without a manual re-register (round-3
        advice)."""
        path = self._refresh_current()
        m = self._manifest()
        with open(os.path.join(self.root, _CATALOG_FILE), "w") as fh:
            json.dump({"name": name, "schema": m["schema"]}, fh)
        schema = _schema_from_json(self.spark, m["schema"])
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        ddl = f"CREATE TABLE {name} ({cols}) USING PARQUET"
        inv = _logical_inverse(m)
        part_logical = [inv.get(c, c) for c in m["partition_by"]]
        if part_logical:
            ddl += f" PARTITIONED BY ({', '.join(part_logical)})"
        self.spark.sql(f"{ddl} LOCATION '{path}'")
        if part_logical:
            self.spark.sql(f"ALTER TABLE {name} RECOVER PARTITIONS")

    def _refresh_current(self) -> str:
        """Rebuild ``current/`` as hardlinks to the latest snapshot's
        files; returns its absolute path.  Build-aside + directory swap:
        manifest-based readers never look here, and catalog readers see
        either the old or the new complete snapshot except during the
        sub-millisecond swap window (single-writer contract, like the
        rest of the DML surface)."""
        m = self._manifest()
        cur = os.path.join(self.root, _CURRENT_DIR)
        tmp = cur + f".tmp-{uuid.uuid4().hex[:8]}"
        data_root = os.path.join(self.root, _DATA_DIR)
        dvs = m.get("dvs", {})
        # a plain-parquet catalog reader can apply neither deletion
        # vectors nor column mapping, so such files are MATERIALIZED
        # into the mirror (logical names, masked rows removed) while
        # clean files stay hardlinks.  A renamed table materializes
        # everything — the price of keeping external readers correct,
        # same trade Delta's column-mapping docs call out.
        remapped = bool(m.get("colmap")) or bool(m.get("retired_cols"))
        masked = [f for f in m["files"] if remapped or f in dvs]
        masked_set = set(masked)
        for rel in m["files"]:
            if rel in masked_set:
                continue  # materialized below
            dest = os.path.join(tmp, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.link(os.path.join(data_root, rel), dest)
        if masked:
            os.makedirs(tmp, exist_ok=True)
            inv = _logical_inverse(m)
            _write_files(
                self._read_files_dv(masked, m),
                self.root,
                [inv.get(c, c) for c in m["partition_by"]],
                subdir=os.path.relpath(tmp, self.root),
            )
        os.makedirs(tmp, exist_ok=True)  # zero-file snapshot edge case
        old = cur + f".old-{uuid.uuid4().hex[:8]}"
        if os.path.isdir(cur):
            os.rename(cur, old)
        os.rename(tmp, cur)
        if os.path.isdir(old):
            shutil.rmtree(old)
        return os.path.abspath(cur)

    def _post_commit(self) -> None:
        """Keep a persistent catalog registration in sync after a commit.
        Schema changes (merge_schema append, widening MERGE) re-create
        the catalog entry — REFRESH alone keeps the CREATE-time column
        list, hiding evolved columns from catalog-name readers."""
        reg = os.path.join(self.root, _CATALOG_FILE)
        if not os.path.exists(reg):
            return
        with open(reg) as fh:
            entry = json.load(fh)
        name = entry["name"]
        if entry.get("schema") != self._manifest()["schema"]:
            self.register_catalog(name)
            return
        self._refresh_current()
        self.spark.sql(f"REFRESH TABLE {name}")
        if self._manifest()["partition_by"]:
            self.spark.sql(f"ALTER TABLE {name} RECOVER PARTITIONS")

    def scan(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping read: prune files whose footer min/max for
        ``col`` cannot overlap [lo, hi], then apply the exact filter.

        This is Delta-style file skipping rebuilt on manifest stats: after
        OPTIMIZE(zorder_by=[col]) each file covers a narrow range of the
        clustering key, so a selective scan opens a fraction of the files
        — the read-side payoff the reference's Z-ORDER guidance is about
        (``bronze_silver_gold/readme.md:107-108``).  Files without stats
        for ``col`` are always read; correctness never depends on stats.
        """
        m = self._manifest(version)
        stats = self._stats(m)
        pcol = _physical_name(m, col)
        keep = []
        for f in m["files"]:
            rng = stats.get(f, {}).get(pcol)
            if rng is not None:
                fmin, fmax = rng
                if lo is not None and fmax < lo:
                    continue
                if hi is not None and fmin > hi:
                    continue
            keep.append(f)
        df = self._read_files_dv(keep, m)
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        return df.filter(pred)

    def scan_where(self, predicate: str, version: int | None = None) -> DataFrame:
        """General data-skipping read: any prunable SQL predicate
        (col-vs-literal comparisons, IN, BETWEEN, IS NULL, AND/OR —
        the ``plans/pruning`` grammar) prunes files via manifest footer
        stats AND hive partition values before the exact filter runs.

        This completes the skipping surface beyond :meth:`scan`'s
        single-column range and :meth:`scan_eq`'s bloom point-lookup:
        ``t.scan_where("day = '2026-08-14' AND amount > 100")`` opens
        only files whose partition matches the day and whose footer
        max(amount) clears 100.  Unprunable predicate shapes degrade
        to a full (still column-pruned, still DV-masked) read —
        soundness never depends on the parser."""
        from azure_databricks_lakehouse_spark.plans.pruning import (
            parse_predicate,
        )

        m = self._manifest(version)
        keep = self._prune_files(m, parse_predicate(predicate))
        return self._read_files_dv(keep, m).filter(F.expr(predicate))

    # -- DML ---------------------------------------------------------------

    def _as_condition(self, condition):
        """(Column, prune-tree) from a condition given as a Column (no
        metadata pruning — the probe phase still narrows the rewrite) or
        a SQL string (parsed for footer-stats / partition pruning)."""
        if isinstance(condition, str):
            from azure_databricks_lakehouse_spark.plans.pruning import (
                parse_predicate,
            )

            return F.expr(condition), parse_predicate(condition)
        return condition, None

    def _row_marker(self, condition):
        """(decorate, prune-tree) for any DML condition form: decorate
        stamps a boolean ``__hit`` column (never NULL) onto any frame
        of table rows.  A Column/str condition marks row-wise; a
        :class:`KeyCondition` marks by a key-frame membership join —
        the engine shape behind ``[NOT] IN (SELECT ...)`` /
        ``[NOT] EXISTS`` DML, which a row-wise Column can't express.
        No prune tree for key specs: a key frame has no footer stats to
        rule a file out with, and under anti-membership a file with NO
        key in the probe is all hits, not no hits."""
        if isinstance(condition, (KeyCondition, CorrelatedCondition)):
            return condition._decorator(), None
        cond_col, pred = self._as_condition(condition)
        base = F.coalesce(cond_col, F.lit(False))
        return (lambda df: df.withColumn("__hit", base)), pred

    def _prune_files(self, m: dict, pred) -> list[str]:
        """Phase 1 (metadata only): files that MAY contain a matching
        row, decided from manifest footer stats and hive partition
        values — no file is opened."""
        if pred is None:
            return list(m["files"])
        from azure_databricks_lakehouse_spark.plans.pruning import (
            augment_generated_partitions,
            may_match,
        )

        stats = self._stats(m)
        part_cols = m["partition_by"]
        # footer stats and hive directories carry PHYSICAL column names;
        # the predicate speaks LOGICAL — re-key per file (identity map
        # for tables that never ran a metadata-only rename)
        inv = _logical_inverse(m)
        gen = m.get("props", {}).get("generated", {})
        if gen and part_cols:
            # Delta's generated-column partition pruning: a base-column
            # predicate implies a bound on its generated partition col
            # (enforced equal on every write), so timestamp filters
            # prune date partitions with no timestamp footer stats
            pred = augment_generated_partitions(
                pred, gen, [inv.get(c, c) for c in part_cols]
            )
        out = []
        for f in m["files"]:
            pv = (
                {
                    inv.get(c, c): v
                    for c, v in zip(part_cols, _partition_values(f, part_cols))
                }
                if part_cols
                else {}
            )
            fstats = stats.get(f, {})
            if inv:
                fstats = {inv.get(c, c): rng for c, rng in fstats.items()}
            if may_match(pred, fstats, pv):
                out.append(f)
        return out

    def _match_stats(
        self, m: dict, candidates: list[str], cond
    ) -> dict[str, tuple[int, int]]:
        """Phase 2 (one probe read): per candidate file, ``(live, hit)``
        — live (non-DV'd) row count and rows matching ``cond``.  The
        counts drive both the touched-file list and the auto DML-mode
        split (drop / rewrite / deletion-vector).  Column-pruned to the
        condition's columns (parquet pushdown applies), and the collect
        is file-count-sized, never row-sized."""
        if not candidates:
            return {}
        aligned = self._read_files_aligned(candidates, m, keep_pos=True)
        # cond is a Column, or a decorate() callable stamping __hit
        # (key-membership DML — the membership needs a join, not a row
        # expr)
        marked = (
            cond(aligned)
            if callable(cond) and not isinstance(cond, Column)
            else aligned.withColumn(
                "__hit", F.coalesce(cond, F.lit(False))
            )
        )
        probe = (
            marked.groupBy("__rel")
            .agg(
                F.count("*").alias("live"),
                F.sum(
                    F.when(F.col("__hit"), 1).otherwise(0)
                ).alias("hit"),
            )
            .collect()
        )
        # __rel is the file-URI suffix; map it back to the manifest's
        # on-disk relative path (they differ only when a hive partition
        # value needed URI escaping)
        prefix = self._uri_prefix(m)
        lookup = _rel_lookup(os.path.join(self.root, _DATA_DIR), candidates)
        out: dict[str, tuple[int, int]] = {}
        for r in probe:
            rel = lookup.get(_uri_to_path(prefix + r["__rel"]))
            if rel is not None:
                out[rel] = (r["live"], int(r["hit"] or 0))
        return out

    def _read_files_aligned(
        self,
        files: list[str],
        m: dict,
        keep_pos: bool = False,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Read a file subset (deletion vectors applied) and align it to
        the MANIFEST schema: a subset of old files can be narrower than
        the table after schema evolution, and DML expressions must still
        resolve every declared column (missing ones surface as typed
        NULLs, exactly as a full mergeSchema read would).  ``keep_pos``
        carries the ``__rel``/``__ri`` position columns through.
        ``with_row_ids`` appends the rows' stable ids under the PHYSICAL
        ``__row_id`` name — rewrite paths thread it into their output
        files so preserved rows keep their identity (row tracking)."""
        df = self._fill_missing(
            self._read_files_dv(
                files, m, keep_pos=keep_pos, with_row_ids=with_row_ids
            ),
            m,
        )
        cols: list = _schema_from_json(self.spark, m["schema"]).fieldNames()
        if with_row_ids:
            cols += [F.col("_row_id").alias(_ROW_ID_PHYS)]
        if keep_pos:
            cols += ["__rel", "__ri"]
        return df.select(*cols)

    def _split_dml_modes(
        self,
        stats: dict[str, tuple[int, int]],
        mode: str,
        dv_threshold: float,
        allow_drop: bool,
    ) -> tuple[list[str], list[str], list[str]]:
        """Per-file DML strategy from the probe's (live, hit) counts:
        ``(drop, rewrite, dv)``.  ``auto`` drops fully-matched files
        outright (metadata-only delete — the drop-a-day case), rewrites
        heavily-matched files (a DV masking most of a file just defers
        an inevitable rewrite), and deletion-vectors the long tail of
        selective matches (cost ∝ deleted rows — the 100 TB default)."""
        if mode not in ("auto", "copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown DML mode {mode!r}")
        drop, rewrite, dv = [], [], []
        for f in sorted(stats):
            live, hit = stats[f]
            if hit == 0:
                continue
            if mode == "copy-on-write":
                (drop if (allow_drop and hit == live) else rewrite).append(f)
            elif mode == "merge-on-read":
                (drop if (allow_drop and hit == live) else dv).append(f)
            else:
                if allow_drop and hit == live:
                    drop.append(f)
                elif hit >= dv_threshold * live:
                    rewrite.append(f)
                else:
                    dv.append(f)
        return drop, rewrite, dv

    def _write_dv_entries(self, pos_df: DataFrame) -> list[str]:
        """Persist deleted (file, row position) pairs as DV sidecar
        parquet under ``_deletion_vectors/``; returns the sidecar rels.
        Distributed write — DV size is ∝ matched rows."""
        return _write_files(
            pos_df.select(
                F.col("__rel").alias("__file"), F.col("__ri").alias("__row_index")
            ),
            self.root,
            [],
            preserve_layout=True,
            subdir=_DV_DIR,
        )

    def _rebase_target(self, base: dict, touched: set[str]) -> dict:
        """Delta's conflict matrix for a DML that computed against
        ``base`` and mutated ``touched`` files: walk every commit that
        landed since, RAISE :class:`ConcurrentModificationError` when
        one logically conflicts (removed / re-DV'd a touched file, or
        changed the schema, column mapping, or constraints the DML
        validated against), otherwise return the latest manifest to
        rebase onto.  Concurrent APPENDs never conflict: their new rows
        were not visible to this operation's snapshot
        (write-serializable isolation, Delta's default)."""
        latest_v = self.latest_version()
        prev = base
        for v in range(base["version"] + 1, latest_v + 1):
            cur = self._manifest(v)
            if (
                cur["schema"] != base["schema"]
                or cur.get("colmap", {}) != base.get("colmap", {})
                or cur.get("retired_cols", []) != base.get("retired_cols", [])
                or cur["partition_by"] != base["partition_by"]
            ):
                raise ConcurrentModificationError(
                    f"concurrent commit v{v} ({cur['operation']}) changed "
                    "the table schema/mapping; recompute against the new "
                    "snapshot"
                )
            bp, cp = base.get("props", {}), cur.get("props", {})
            # "bloom" is checked too: this operation's new-file bitmaps
            # were built under the BASE config, and committing them
            # stamped with a rebased config's hash would make scan_eq
            # prune real matches (positions mod the wrong m_bits)
            if any(
                bp.get(k) != cp.get(k)
                for k in (
                    "check_constraints",
                    "not_null",
                    "generated",
                    "bloom",
                    # a concurrent appendOnly enable must conflict with
                    # in-flight row-removing DML: the DML's gate
                    # validated against the base snapshot's flag
                    "delta.appendOnly",
                    "appendOnly",
                )
            ):
                raise ConcurrentModificationError(
                    f"concurrent commit v{v} ({cur['operation']}) changed "
                    "table constraints, index config, or append-only "
                    "state this operation validated/built against"
                )
            removed = set(prev["files"]) - set(cur["files"])
            overlap = removed & touched
            dv_overlap = {
                f
                for f in touched
                if cur.get("dvs", {}).get(f) != prev.get("dvs", {}).get(f)
            }
            if overlap or dv_overlap:
                raise ConcurrentModificationError(
                    f"concurrent commit v{v} ({cur['operation']}) modified "
                    f"files this operation read: "
                    f"{sorted(overlap | dv_overlap)[:5]}"
                )
            prev = cur
        return prev

    def _commit_dml_rebase(
        self,
        base: dict,
        operation: str,
        touched: set[str],
        removed_by_us: set[str],
        new_files: list[str],
        dv_dest: list[str],
        dv_rels: list[str],
        cdc_files: list[str],
        metrics: dict,
        max_retries: int = 10,
        cdc_row_ids: bool = False,
    ) -> int:
        """Publish a DELETE/UPDATE commit with logical conflict
        detection: on a version collision the loser checks the winner's
        commits via :meth:`_rebase_target` — disjoint operations (e.g.
        concurrent deletes on different partitions, any append) REBASE
        onto the new snapshot and commit without recomputing (the
        expensive file writes happened once); overlapping ones raise
        the typed error.  This is Delta's commit-conflict protocol in
        place of round-5's raise-on-any-collision."""
        data_root = os.path.join(self.root, _DATA_DIR)
        stats_new = _file_stats(data_root, new_files)
        blooms_new = self._compute_blooms(new_files, base)
        m = base
        for attempt in range(max_retries):
            carried = [f for f in m["files"] if f not in removed_by_us]
            dvs = {
                f: v
                for f, v in m.get("dvs", {}).items()
                if f not in removed_by_us
            }
            for f in dv_dest:
                dvs[f] = dvs.get(f, []) + dv_rels
            try:
                version = _commit(
                    self.root,
                    version=m["version"] + 1,
                    files=carried + new_files,
                    schema=base["schema"],
                    partition_by=base["partition_by"],
                    operation=operation,
                    merged_schema=m.get("merged_schema", False),
                    stats=stats_new,
                    props=m.get("props", {}),
                    blooms=blooms_new,
                    parent=m,
                    cdc_files=cdc_files,
                    dvs=dvs,
                    colmap=base.get("colmap", {}),
                    retired_cols=base.get("retired_cols", []),
                    metrics=metrics,
                    cdc_row_ids=cdc_row_ids,
                )
            except FileExistsError:
                time.sleep(min(0.05 * (attempt + 1), 0.5))
                m = self._rebase_target(base, touched)
                continue
            self._post_commit()
            return version
        raise ConcurrentModificationError(
            f"{operation} lost the commit race {max_retries} times at "
            f"{self.root}; extreme contention — back off and retry"
        )

    def _gate_append_only(self, op: str, m: dict) -> None:
        """Delta ``delta.appendOnly`` parity: a table marked append-only
        refuses every row-removing operation (DELETE/UPDATE/MERGE/
        overwrite forms) with a clear error; appends, OPTIMIZE
        (row-preserving by contract), and metadata commits stay
        allowed.

        Takes the PLANNING manifest ``m`` so the gate and the DML plan
        read one consistent snapshot (a separate latest-read here could
        validate a different version than the plan computes against);
        a CONCURRENT appendOnly flip is caught by the rebase walk
        (:meth:`_rebase_target` treats it as a validated-prop change)."""
        props = m.get("props", {})
        flag = props.get("delta.appendOnly", props.get("appendOnly"))
        if str(flag).lower() == "true":
            raise ValueError(
                f"{op} is not allowed on an append-only table "
                "(delta.appendOnly=true); unset the property first"
            )

    def delete(
        self,
        condition,
        mode: str = "auto",
        dv_threshold: float = 0.5,
    ) -> int:
        """Delta-DML parity: ``DELETE WHERE condition`` (a Column, or a
        SQL string to enable metadata pruning).

        File-pruned — the 100 TB path: footer stats + partition values
        drop files that cannot match (metadata only), one column-pruned
        probe counts matches per file, and each touched file takes the
        cheapest sound strategy (``mode="auto"``):

        - **drop** — every live row matches: the file leaves the
          manifest; zero bytes written (deleting a whole partition is a
          metadata operation, like Delta's partition delete).
        - **rewrite** (copy-on-write) — most rows match
          (``hit >= dv_threshold * live``): rewrite the file without
          them; a DV masking most of a file just defers the rewrite.
        - **deletion vector** (merge-on-read) — the selective tail: the
          matched row POSITIONS land in a ``_deletion_vectors/``
          sidecar and the data file is untouched; reads mask them with
          a broadcast anti-join.  A one-row DELETE writes a KB, not a
          file — Delta's deletion-vector design re-expressed on
          ``_metadata.row_index``.

        ``mode="copy-on-write"`` / ``"merge-on-read"`` force a single
        strategy.  Matched rows land as a CDC sidecar (``_change_data/``)
        in the same commit, so CDF consumers read the delta directly.
        Old files and superseded DVs remain for time travel until
        VACUUM; OPTIMIZE (or ``purge_deletion_vectors``) materializes
        DVs away.
        """
        m = self._manifest()
        self._gate_append_only("DELETE", m)
        dec, pred = self._row_marker(condition)
        hit = F.col("__hit")
        candidates = self._prune_files(m, pred)
        stats = self._match_stats(m, candidates, dec)
        drop, rewrite, dv_dest = self._split_dml_modes(
            stats, mode, dv_threshold, allow_drop=True
        )
        touched = sorted([*drop, *rewrite, *dv_dest])
        if not touched:
            # Delta `delta.skipRecordingEmptyCommits` parity (default
            # since 2.3): a zero-match DML commits nothing, so the
            # row-wise and IN-subquery twins produce IDENTICAL histories
            # and a relative `RESTORE ... VERSION AS OF v-1` composes
            # the same way after either.
            return self.latest_version()
        n_rows = sum(h for _l, h in stats.values())
        gone = set(drop) | set(rewrite)
        files: list[str] = []
        cdc_files: list[str] = []
        dv_rels: list[str] = []
        # each touched file class is READ (and its match predicate /
        # key-join evaluated) exactly ONCE: the marked frames persist
        # across the data, DV and CDC write actions instead of a fresh
        # scan per sink — the per-commit constant the bench pays, and a
        # third pass over the rewrite working set at 100 TB
        marked_rw = marked_dv = None
        schema_cols = _schema_from_json(self.spark, m["schema"]).fieldNames()
        rt = self._rt_state(m) is not None
        # row-tracked tables thread the stable id into every frame that
        # feeds the CDC sidecar, so the sidecar can serve
        # changes_between(with_row_ids=True) directly (see _commit's
        # cdc_row_ids)
        cdc_id_cols = [_ROW_ID_PHYS] if rt else []
        try:
            rw_spec = dv_spec = None
            if rewrite:
                marked_rw = dec(
                    self._read_files_aligned(rewrite, m, with_row_ids=rt)
                ).persist()
                rw_spec = (
                    _to_physical_df(
                        marked_rw.filter(~hit).drop("__hit"), m
                    ),
                    {"root": self.root, "part_cols": m["partition_by"]},
                )
            if dv_dest:
                marked_dv = dec(
                    self._read_files_aligned(
                        dv_dest, m, keep_pos=True, with_row_ids=rt
                    )
                ).persist()
                dv_spec = (
                    marked_dv.filter(hit).select(
                        F.col("__rel").alias("__file"),
                        F.col("__ri").alias("__row_index"),
                    ),
                    {
                        "root": self.root,
                        "part_cols": [],
                        "preserve_layout": True,
                        "subdir": _DV_DIR,
                    },
                )
            # CDC sidecars store LOGICAL names (they are read directly,
            # never through the mapping) — partition them logically too.
            # Deleted rows come from the cached marked frames; only
            # whole-file drops still scan.
            cdc_spec = None
            if touched:
                inv = _logical_inverse(m)
                parts: list[DataFrame] = []
                if marked_rw is not None:
                    parts.append(
                        marked_rw.filter(hit).select(
                            *schema_cols, *cdc_id_cols
                        )
                    )
                if marked_dv is not None:
                    parts.append(
                        marked_dv.filter(hit).select(
                            *schema_cols, *cdc_id_cols
                        )
                    )
                if drop:
                    parts.append(
                        self._read_files_aligned(
                            drop, m, with_row_ids=rt
                        ).select(*schema_cols, *cdc_id_cols)
                    )
                cdc_df = parts[0]
                for p in parts[1:]:
                    cdc_df = cdc_df.unionByName(p)
                if rt:
                    cdc_df = cdc_df.withColumnRenamed(
                        _ROW_ID_PHYS, "_row_id"
                    )
                cdc_spec = (
                    cdc_df.withColumn("_change_type", F.lit("delete")),
                    {
                        "root": self.root,
                        "part_cols": [
                            inv.get(c, c) for c in m["partition_by"]
                        ],
                        "subdir": _CDC_DIR,
                    },
                )
            # ALL sinks overlap in driver threads (round 13 — the r12
            # verdict's top item): the rewrite survivors and the DV
            # positions read disjoint marked frames, and the CDC frame
            # reads the same persisted frames — BlockManager's per-block
            # locks make concurrent consumers of one persisted partition
            # wait-and-read instead of recomputing, so the statement
            # pays max(sinks) wall-clock instead of cdc + max(data, dv)
            outs = _write_files_concurrent(
                *[s for s in (rw_spec, dv_spec, cdc_spec) if s is not None]
            )
            if rw_spec is not None:
                files = outs.pop(0)
            if dv_spec is not None:
                dv_rels = outs.pop(0)
            if cdc_spec is not None:
                cdc_files = outs.pop(0)
            return self._commit_dml_rebase(
                m,
                "DELETE",
                touched=set(touched),
                removed_by_us=gone,
                new_files=files,
                dv_dest=dv_dest,
                dv_rels=dv_rels,
                cdc_files=cdc_files,
                cdc_row_ids=rt,
                metrics={
                    "rows_deleted": n_rows,
                    "files_dropped": len(drop),
                    "files_rewritten": len(rewrite),
                    "files_dv_masked": len(dv_dest),
                    "files_added": len(files),
                },
            )
        finally:
            for cached in (marked_rw, marked_dv):
                if cached is not None:
                    cached.unpersist()

    def update(
        self,
        condition,
        assignments: dict,
        mode: str = "auto",
        dv_threshold: float = 0.5,
        corr_lookups: Sequence[tuple[DataFrame, str]] | None = None,
    ) -> int:
        """Delta-DML parity: ``UPDATE SET col = expr WHERE condition``
        (condition as Column, or SQL string for metadata pruning).

        ``assignments`` maps column name -> Column expression; rows not
        matching ``condition`` pass through unchanged.  SQL UPDATE
        semantics: every RHS is evaluated against the PRE-update row, so
        ``UPDATE SET a = b, b = a`` swaps — all assignment expressions are
        built from the original frame in one ``select``, never chained.

        Same file-pruned strategy split as :meth:`delete`: heavily
        matched files are rewritten in place (copy-on-write); the
        selective tail is merge-on-read — the matched rows' positions
        land in a deletion vector and their POST-images are appended as
        new files, so a one-row UPDATE writes one row plus a KB of DV
        instead of rewriting a file.  Pre/post images of the matched
        rows land as a CDC sidecar in the same commit
        (``update_preimage`` / ``update_postimage`` — Delta's CDF row
        types).

        ``corr_lookups``: decorrelated scalar-subquery lookups — each
        ``(frame, join_cond_sql)`` LEFT-joins onto the touched rows
        before assignments evaluate, so an assignment may reference
        the frame's columns (the SQL front-end's correlated UPDATE:
        ``SET c = (SELECT agg FROM s WHERE s.k = t.k)``).  Frames must
        be key-unique on their join columns (the front-end builds them
        with GROUP BY), so the join can never fan a target row out;
        the join cost rides the touched files, never the table.
        """
        m = self._manifest()
        self._gate_append_only("UPDATE", m)
        schema_cols = _schema_from_json(self.spark, m["schema"]).fieldNames()
        unknown = set(assignments) - set(schema_cols)
        if unknown:
            raise ValueError(f"UPDATE references unknown columns {sorted(unknown)}")
        ident_assigned = set(assignments) & set(
            m.get("props", {}).get("identity", {})
        )
        if ident_assigned:
            raise ValueError(
                f"UPDATE assigns identity columns {sorted(ident_assigned)}; "
                "they are GENERATED ALWAYS"
            )
        dec, pred = self._row_marker(condition)
        hit = F.col("__hit")
        candidates = self._prune_files(m, pred)
        stats = self._match_stats(m, candidates, dec)
        # an update replaces rows, so a fully-matched file is a rewrite,
        # never a drop
        _, rewrite, dv_dest = self._split_dml_modes(
            stats, mode, dv_threshold, allow_drop=False
        )
        touched = sorted([*rewrite, *dv_dest])
        if not touched:
            # skipRecordingEmptyCommits parity — see delete()
            return self.latest_version()
        n_rows = sum(h for _l, h in stats.values())
        rewrite_set = set(rewrite)
        files: list[str] = []
        cdc_files: list[str] = []
        dv_rels: list[str] = []
        # generated columns not explicitly assigned are RECOMPUTED over
        # the post-update row (Delta's semantics) — a second projection
        # so user RHSs still see pre-update values
        gen_auto = {
            c: e
            for c, e in m.get("props", {}).get("generated", {}).items()
            if c not in assignments and c in schema_cols
        }
        gtypes = {
            f.name: f.dataType
            for f in _schema_from_json(self.spark, m["schema"]).fields
        }

        # SET values live in the persisted marked frames (``_attach``)
        # as ``__set_<col>``: the data write and the CDC post-images read
        # ONE evaluation, so even current_timestamp() agrees between them
        set_cols = {c: f"__set_{c}" for c in assignments}

        def _post_image(frame: DataFrame) -> DataFrame:
            # a materialized __row_id rides through: an updated row is
            # the SAME logical row, so its post-image keeps its stable
            # id (row tracking)
            extra = (
                [F.col(_ROW_ID_PHYS)]
                if _ROW_ID_PHYS in frame.columns
                else []
            )
            out = frame.select(
                *[
                    F.col(set_cols[c]).alias(c)
                    if c in assignments
                    else F.col(c)
                    for c in schema_cols
                ],
                *extra,
            )
            if gen_auto:
                out = out.select(
                    *[
                        F.expr(gen_auto[c]).cast(gtypes[c]).alias(c)
                        if c in gen_auto
                        else F.col(c)
                        for c in schema_cols
                    ],
                    *extra,
                )
            return out

        # rewrite and DV classes are READ (and the match predicate /
        # key-join evaluated) exactly ONCE each: the marked frames
        # persist across the data, DV-sidecar and CDC write actions,
        # and the DV post-images ride the SAME write action as the
        # rewrite output — one commit pays one scan per file class and
        # one data write, not a fresh scan per sink
        rt = self._rt_state(m) is not None

        def _attach(frame: DataFrame) -> DataFrame:
            # decorrelated scalar lookups ride the touched rows: one
            # key-unique left join each (never a fan-out), evaluated
            # once thanks to the persist below
            for lk, cond_sql in corr_lookups or ():
                frame = frame.join(lk, F.expr(cond_sql), "left")
            # the SET values, on matched rows only, cast to the DECLARED
            # column type (SQL UPDATE / Delta implicit-cast semantics) —
            # without the cast, a double RHS into a decimal column would
            # commit a data file whose physical type contradicts the
            # table schema and break every later read of that file
            return frame.withColumns(
                {
                    set_cols[c]: F.when(hit, e.cast(gtypes[c]))
                    for c, e in assignments.items()
                }
            )

        marked_rw = marked_dv = matched_dv = None
        if rewrite:
            marked_rw = _attach(
                dec(self._read_files_aligned(rewrite, m, with_row_ids=rt))
            ).persist()
        if dv_dest:
            marked_dv = _attach(
                dec(
                    self._read_files_aligned(
                        dv_dest, m, keep_pos=True, with_row_ids=rt
                    )
                )
            ).persist()
            matched_dv = marked_dv.filter(hit).drop("__hit")
        try:
            # row-tracked tables keep the stable id on both images so the
            # sidecar serves changes_between(with_row_ids=True) directly
            # (see _commit's cdc_row_ids)
            cdc_id_cols = [_ROW_ID_PHYS] if rt else []
            pre_parts: list[DataFrame] = []
            if marked_rw is not None:
                pre_parts.append(
                    marked_rw.filter(hit).select(
                        *schema_cols, *set_cols.values(), *cdc_id_cols
                    )
                )
            if matched_dv is not None:
                pre_parts.append(
                    matched_dv.select(
                        *schema_cols, *set_cols.values(), *cdc_id_cols
                    )
                )
            pre = pre_parts[0]
            for p in pre_parts[1:]:
                pre = pre.unionByName(p)
            post = _post_image(pre)
            pre = pre.select(*schema_cols, *cdc_id_cols)
            # constraints are checked on the POST-update image of matched
            # rows only — the checked set stays proportional to the change
            self._enforce_current(post, m, "UPDATE")
            cdc = pre.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                post.select(*pre.columns).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
            if rt:
                cdc = cdc.withColumnRenamed(_ROW_ID_PHYS, "_row_id")
            inv = _logical_inverse(m)

            # new data = rewritten files' rows + the DV-masked rows'
            # post-images, in ONE write action
            data_parts: list[DataFrame] = []
            if marked_rw is not None:
                # the SET value is already cast to the declared type —
                # else Spark coerces the when/otherwise branch types
                # (e.g. decimal ⊔ double = double) and the rewritten
                # file's physical type contradicts the table schema
                updated = marked_rw.select(
                    *[
                        F.when(F.col("__hit"), F.col(set_cols[c]))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in assignments
                        else F.col(c)
                        for c in schema_cols
                    ],
                    "__hit",
                    *([_ROW_ID_PHYS] if rt else []),
                )
                if gen_auto:
                    updated = updated.select(
                        *[
                            F.when(
                                F.col("__hit"),
                                F.expr(gen_auto[c]).cast(gtypes[c]),
                            )
                            .otherwise(F.col(c))
                            .alias(c)
                            if c in gen_auto
                            else F.col(c)
                            for c in schema_cols
                        ],
                        "__hit",
                        *([_ROW_ID_PHYS] if rt else []),
                    )
                data_parts.append(updated.drop("__hit"))
            if matched_dv is not None:
                # post-images of the DV-masked rows append as new rows
                data_parts.append(
                    _post_image(matched_dv.drop("__rel", "__ri"))
                )
            data_df = data_parts[0]
            for p in data_parts[1:]:
                data_df = data_df.unionByName(p)
            # ALL sinks overlap in driver threads (round 13): data
            # rewrite, DV positions and the CDC sidecar read the SAME
            # persisted marked frames — BlockManager's per-block locks
            # make concurrent consumers of one persisted partition
            # wait-and-read instead of recomputing, so the statement
            # pays max(sinks) wall-clock instead of cdc + max(data, dv)
            specs = [
                (
                    _to_physical_df(data_df, m),
                    {"root": self.root, "part_cols": m["partition_by"]},
                ),
                (
                    cdc,
                    {
                        "root": self.root,
                        "part_cols": [
                            inv.get(c, c) for c in m["partition_by"]
                        ],
                        "subdir": _CDC_DIR,
                    },
                ),
            ]
            if matched_dv is not None:
                specs.append(
                    (
                        matched_dv.select(
                            F.col("__rel").alias("__file"),
                            F.col("__ri").alias("__row_index"),
                        ),
                        {
                            "root": self.root,
                            "part_cols": [],
                            "preserve_layout": True,
                            "subdir": _DV_DIR,
                        },
                    )
                )
            outs = _write_files_concurrent(*specs)
            files += outs[0]
            cdc_files = outs[1]
            if matched_dv is not None:
                dv_rels = outs[2]
            return self._commit_dml_rebase(
                m,
                "UPDATE",
                touched=set(touched),
                removed_by_us=rewrite_set,
                new_files=files,
                dv_dest=dv_dest,
                dv_rels=dv_rels,
                cdc_files=cdc_files,
                cdc_row_ids=rt,
                metrics={
                    "rows_updated": n_rows,
                    "files_rewritten": len(rewrite),
                    "files_dv_masked": len(dv_dest),
                    "files_added": len(files),
                },
            )
        finally:
            for cached in (marked_rw, marked_dv):
                if cached is not None:
                    cached.unpersist()

    def update_where_in(
        self, col: str | Sequence[str], keys: DataFrame, assignments: dict
    ) -> int:
        """Row-wise ``UPDATE ... SET ... WHERE col IN (<keys>)`` (or the
        decorrelated ``WHERE EXISTS (...)``) with the match set given as
        a DataFrame — the engine behind the SQL front-end's
        IN-subquery UPDATE (Databricks supports subquery predicates in
        DML; a row-wise Column can't express a semi-join).  ``col`` may
        be a single column or a sequence for the tuple form ``(a, b) IN
        (SELECT x, y ...)`` — a key row with ANY NULL component never
        matches (SQL tuple-IN is UNKNOWN there).

        Runs through :meth:`update` with a :class:`KeyCondition` row
        marker, so it shares everything row-wise UPDATE does: the
        per-file copy-on-write / deletion-vector split, SQL swap
        semantics (``SET a = b, b = a`` swaps), duplicate-key target
        rows each updated from their own pre-image, stable row ids and
        identity values kept, unassigned generated columns recomputed,
        the ``update_preimage`` / ``update_postimage`` CDC rows, and a
        zero-match statement committing nothing (Delta's
        ``delta.skipRecordingEmptyCommits``).  Commits as UPDATE.

        ``col`` itself cannot be assigned here (:meth:`update_where_not_in`
        allows it); use MERGE for a key-changing membership update."""
        cols = [col] if isinstance(col, str) else list(col)
        assigned_keys = set(cols) & set(assignments)
        if assigned_keys:
            raise ValueError(
                f"UPDATE ... WHERE {tuple(cols)} IN (SELECT ...) cannot "
                f"SET the membership columns {sorted(assigned_keys)}; "
                "use MERGE INTO ... WHEN MATCHED THEN UPDATE directly"
            )
        return self.update(self._key_condition(cols, keys), assignments)

    def _key_condition(
        self, col, keys: DataFrame, anti: bool = False, null_aware: bool = True
    ):
        """Shared prep for the membership DML twins: validate the
        membership columns and the subquery's arity, and return the
        row marker for :meth:`delete` / :meth:`update`.

        The positive forms (``IN`` / ``EXISTS``) always get a
        :class:`KeyCondition` over the distinct non-NULL keys and pay
        no Spark action here: an empty or NULL-only key set simply
        marks nothing.  The anti forms resolve the subquery's NULL
        semantics with ONE key-frame aggregate (never a table scan)
        and return

        - ``None`` — no row can match (``NOT IN`` with a NULL key:
          every comparison is at best UNKNOWN);
        - ``F.lit(True)`` — every row matches (empty subquery: ``x NOT
          IN ()`` is TRUE even for NULL x; ``NOT EXISTS`` against no
          usable key likewise);
        - a :class:`KeyCondition` otherwise.

        Tuple (multi-column) ``NOT IN`` raises: its three-valued logic
        is per-component (a subquery row ``(x, NULL)`` poisons only
        target rows equal on ``x``), which is NOT an anti-join — the
        explicit MERGE form exists for that.  Tuple ``NOT EXISTS``
        (equality correlation) stays a plain anti-join and is
        supported."""
        cols = [col] if isinstance(col, str) else list(col)
        if anti and null_aware and len(cols) > 1:
            raise ValueError(
                "tuple NOT IN is not supported: its three-valued NULL "
                "semantics are per-component, not an anti-join; use "
                "MERGE ... WHEN NOT MATCHED BY SOURCE, or NOT EXISTS "
                "with explicit correlation"
            )
        m = self._manifest()
        names = _schema_from_json(self.spark, m["schema"]).fieldNames()
        for c in cols:
            if c not in names:
                raise ValueError(f"DML references unknown column {c!r}")
        if len(keys.columns) != len(cols):
            raise ValueError(
                "IN-subquery must return exactly "
                f"{'one column' if len(cols) == 1 else f'{len(cols)} columns'}"
                f", got {keys.columns}"
            )
        # positional rename (toDF handles duplicate-named subquery
        # cols); no cast onto the key frame: Spark's join coercion
        # compares in the common type, exactly what IN does — casting to
        # the target column's type could overflow-wrap a wider key into
        # a spurious match
        keyset = keys.toDF(*cols)
        nn = functools.reduce(
            lambda a, b: a & b, [F.col(c).isNotNull() for c in cols]
        )
        if anti:
            # ONE aggregate answers every routing question (count,
            # per-col NULL presence, clean-row count)
            row = keyset.agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.max(F.col(c).isNull().cast("int")).alias(f"__nl_{i}")
                    for i, c in enumerate(cols)
                ],
                F.count(F.when(nn, 1)).alias("__clean"),
            ).first()
            if row["__n"] == 0:
                return F.lit(True)
            if null_aware and any(row[f"__nl_{i}"] for i in range(len(cols))):
                return None
            if not null_aware and row["__clean"] == 0:
                # NOT EXISTS: NULL-only subquery keys can equal nothing
                return F.lit(True)
        return KeyCondition(
            tuple(cols), keyset.where(nn).distinct(), anti, null_aware
        )

    def delete_where_in(
        self, col: str | Sequence[str], keys: DataFrame
    ) -> int:
        """``DELETE FROM t WHERE col IN (<keys>)`` (or the decorrelated
        ``WHERE EXISTS (...)``) with the subquery result given as a
        DataFrame; ``col`` may be a sequence for tuple-IN.  NULL keys
        on either side never match.  Runs through :meth:`delete` with a
        :class:`KeyCondition` row marker, so each touched file takes
        DELETE's cheapest strategy (drop / copy-on-write / deletion
        vector) and the commit is a DELETE."""
        return self.delete(self._key_condition(col, keys))

    def delete_where_not_in(
        self,
        col: str | Sequence[str],
        keys: DataFrame,
        null_aware: bool = True,
        mode: str = "auto",
        dv_threshold: float = 0.5,
    ) -> int:
        """``DELETE FROM t WHERE col NOT IN (<keys>)`` (``null_aware=
        True``) or ``WHERE NOT EXISTS (SELECT ... WHERE s.k = t.col)``
        (``False``) with the subquery result given as a DataFrame.

        SQL three-valued semantics, exactly (the reason NOT IN was
        historically refused rather than silently rewritten):

        - NOT IN: ANY NULL subquery key ⇒ zero matches (commit
          nothing); a NULL target key never matches; an EMPTY subquery
          matches every row, NULL keys included.
        - NOT EXISTS: NULL subquery keys are inert; NULL target keys
          DO match (nothing can equal them).

        Runs through the same file-split engine as :meth:`delete`
        (drop / copy-on-write / deletion-vector per touched file) with
        the row marker an anti-membership join instead of a Column —
        the keyset broadcasts when small (AQE), the table never
        shuffles.  No metadata pruning: absence of a key is not
        provable from footer stats."""
        cond = self._key_condition(col, keys, anti=True, null_aware=null_aware)
        if cond is None:
            return self.latest_version()
        return self.delete(cond, mode=mode, dv_threshold=dv_threshold)

    def update_where_not_in(
        self,
        col: str | Sequence[str],
        keys: DataFrame,
        assignments: dict,
        null_aware: bool = True,
        mode: str = "auto",
        dv_threshold: float = 0.5,
    ) -> int:
        """``UPDATE t SET ... WHERE col NOT IN (<keys>)`` /
        ``WHERE NOT EXISTS (...)`` — the UPDATE twin of
        :meth:`delete_where_not_in` (same NULL semantics table).
        Unlike :meth:`update_where_in`, which refuses it, the membership
        columns MAY be assigned: the anti-join marks rows on their
        PRE-update image inside :meth:`update`'s rewrite, so a changed
        key cannot dodge its own match."""
        cond = self._key_condition(col, keys, anti=True, null_aware=null_aware)
        if cond is None:
            return self.latest_version()
        return self.update(
            cond, assignments, mode=mode, dv_threshold=dv_threshold
        )

    def overwrite_where(
        self,
        df: DataFrame,
        condition,
        mode: str = "auto",
        dv_threshold: float = 0.5,
    ) -> int:
        """Delta ``replaceWhere`` parity: atomically replace exactly the
        rows matching ``condition`` with ``df`` — the idempotent
        partition/region reload (re-running a day's backfill replaces
        that day and nothing else), where a full :meth:`overwrite`
        rewrites the world and delete-then-append is two commits with a
        torn state in between.

        Same file-pruned machinery as :meth:`delete` for the removal
        side (drop whole files / copy-on-write / deletion-vector split,
        cost ∝ files the predicate can touch), plus the incoming
        frame's files, in ONE commit.  Delta's constraint is enforced:
        every incoming row must satisfy ``condition`` (otherwise the
        operation would not be idempotent — rerunning it would delete
        rows the previous run inserted outside the region); violation
        raises before anything is written.  CDF consumers get the exact
        row-level diff from the commit's CDC sidecar (deleted rows +
        inserted rows — the same sidecar contract as UPDATE).  Refused
        on identity tables (GENERATED ALWAYS columns cannot take the
        incoming frame's explicit values, and assigning fresh ids would
        break the reload-idempotence this operation exists for).

        Concurrency follows the DML conflict matrix
        (:meth:`_commit_dml_rebase`): commits touching disjoint files
        rebase and land; a concurrent writer of the replaced region
        raises ``ConcurrentModificationError``.
        """
        m = self._manifest()
        self._gate_append_only("replaceWhere/INSERT OVERWRITE", m)
        if m.get("props", {}).get("identity"):
            raise ValueError(
                "replaceWhere is not supported on tables with identity "
                "columns; use delete + append, or drop the identity "
                "property first"
            )
        df = self._apply_generated(df, m)
        df = self._apply_defaults(df, m)
        self._enforce_current(df, m, "REPLACE_WHERE")
        df = self._align_append_types(df, m)
        cond_col, pred = self._as_condition(condition)
        cond = F.coalesce(cond_col, F.lit(False))
        stray = df.filter(~cond).limit(1).count()
        if stray:
            raise ValueError(
                "replaceWhere: the incoming frame holds rows NOT matching "
                f"{condition!r}; Delta's contract requires every written "
                "row to satisfy the replacement predicate"
            )
        candidates = self._prune_files(m, pred)
        stats = self._match_stats(m, candidates, cond)
        drop, rewrite, dv_dest = self._split_dml_modes(
            stats, mode, dv_threshold, allow_drop=True
        )
        touched = sorted([*drop, *rewrite, *dv_dest])
        n_deleted = sum(h for _l, h in stats.values())
        gone = set(drop) | set(rewrite)
        files: list[str] = []
        dv_rels: list[str] = []
        new_files: list[str] = []
        schema_cols = _schema_from_json(self.spark, m["schema"]).fieldNames()
        # each touched file class is READ exactly once (persisted across
        # the data and CDC sinks, like UPDATE/DELETE), and the first
        # write wave overlaps in driver threads: the rewrite survivors,
        # the DV positions and the incoming region come from three
        # DISJOINT sources, so the concurrent cold materializations
        # never duplicate work; the CDC sidecar then reads all three
        # warm plus the whole-file drops
        marked_rw = marked_dv = None
        df = df.persist()
        try:
            specs: list[tuple[DataFrame, dict]] = []
            kinds: list[str] = []
            if rewrite:
                # kept (non-replaced) rows are the same logical rows —
                # carry their materialized row ids through the rewrite
                rt = self._rt_state(m) is not None
                marked_rw = self._read_files_aligned(
                    rewrite, m, with_row_ids=rt
                ).persist()
                specs.append(
                    (
                        _to_physical_df(marked_rw.filter(~cond), m),
                        {"root": self.root, "part_cols": m["partition_by"]},
                    )
                )
                kinds.append("rw")
            if dv_dest:
                marked_dv = self._read_files_aligned(
                    dv_dest, m, keep_pos=True
                ).persist()
                specs.append(
                    (
                        marked_dv.filter(cond).select(
                            F.col("__rel").alias("__file"),
                            F.col("__ri").alias("__row_index"),
                        ),
                        {
                            "root": self.root,
                            "part_cols": [],
                            "preserve_layout": True,
                            "subdir": _DV_DIR,
                        },
                    )
                )
                kinds.append("dv")
            specs.append(
                (
                    _to_physical_df(df, m),
                    {"root": self.root, "part_cols": m["partition_by"]},
                )
            )
            kinds.append("new")
            for kind, out in zip(kinds, _write_files_concurrent(*specs)):
                if kind == "rw":
                    files = out
                elif kind == "dv":
                    dv_rels = out
                else:
                    new_files = out
            n_inserted = _file_rows(
                os.path.join(self.root, _DATA_DIR), new_files
            )
            # one CDC sidecar carries the full row-level diff: the
            # deleted rows AND the inserted region (same contract
            # UPDATE uses); deleted rows come from the cached marked
            # frames — only whole-file drops still scan
            inv = _logical_inverse(m)
            del_parts: list[DataFrame] = []
            if marked_rw is not None:
                del_parts.append(
                    marked_rw.filter(cond).select(*schema_cols)
                )
            if marked_dv is not None:
                del_parts.append(
                    marked_dv.filter(cond).select(*schema_cols)
                )
            if drop:
                del_parts.append(
                    self._read_files_aligned(drop, m).select(*schema_cols)
                )
            cdc_df = df.select(*schema_cols).withColumn(
                "_change_type", F.lit("insert")
            )
            for p in del_parts:
                cdc_df = p.withColumn(
                    "_change_type", F.lit("delete")
                ).unionByName(cdc_df)
            cdc_files = _write_files(
                cdc_df,
                self.root,
                [inv.get(c, c) for c in m["partition_by"]],
                subdir=_CDC_DIR,
            )
        finally:
            for cached in (marked_rw, marked_dv, df):
                if cached is not None:
                    cached.unpersist()
        return self._commit_dml_rebase(
            m,
            "REPLACE_WHERE",
            touched=set(touched),
            removed_by_us=gone,
            new_files=files + new_files,
            dv_dest=dv_dest,
            dv_rels=dv_rels,
            cdc_files=cdc_files,
            metrics={
                "rows_deleted": n_deleted,
                "rows_inserted": n_inserted,
                "files_dropped": len(drop),
                "files_rewritten": len(rewrite),
                "files_dv_masked": len(dv_dest),
                "files_added": len(files) + len(new_files),
            },
        )

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Spark's dynamic partition overwrite
        (``partitionOverwriteMode=dynamic``) as a lakehouse commit:
        replace exactly the partitions PRESENT in ``df``, leave every
        other partition untouched — the common ETL reload shape when
        the caller knows the affected partitions only by what it
        computed.  Implemented as :meth:`overwrite_where` with the
        predicate derived from ``df``'s distinct partition tuples
        (partition cardinality is metadata-sized by definition — it
        names directories), so it inherits the single-commit atomicity,
        CDF sidecar, and conflict handling.  Requires a partitioned
        table."""
        m = self._manifest()
        part_cols = m["partition_by"]
        if not part_cols:
            raise ValueError(
                "overwrite_partitions needs a partitioned table; use "
                "overwrite() for full replacement"
            )
        inv = _logical_inverse(m)
        lpart = [inv.get(c, c) for c in part_cols]
        tuples = df.select(*lpart).distinct().collect()
        if not tuples:
            return m["version"]  # empty frame replaces nothing
        def _lit(v):
            # Partition values collect() as Python objects; each type
            # must render as a literal Spark SQL's parser accepts — the
            # old repr() fallback produced `datetime.date(2024, 1, 1)`
            # for date partitions, breaking the canonical day-reload.
            if v is None:
                return "NULL"
            if isinstance(v, str):
                return "'" + v.replace("'", "''") + "'"
            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            if isinstance(v, datetime.datetime):
                # match Spark's partition-dir rendering (no fraction
                # when zero) so the pruner's exact partition-string
                # compare sees identical spellings
                base = v.strftime("%Y-%m-%d %H:%M:%S")
                if v.microsecond:
                    base += f".{v.microsecond:06d}".rstrip("0")
                return f"TIMESTAMP '{base}'"
            if isinstance(v, datetime.date):
                return f"DATE '{v.isoformat()}'"
            if isinstance(v, (int, float, decimal.Decimal)):
                return str(v)
            raise TypeError(
                f"unsupported partition value type {type(v).__name__!r} "
                f"({v!r}) in dynamic partition overwrite; partition "
                "columns must be string/numeric/date/timestamp/boolean"
            )

        disjuncts = []
        for row in tuples:
            terms = [
                f"`{c}` IS NULL" if row[c] is None else f"`{c}` = {_lit(row[c])}"
                for c in lpart
            ]
            disjuncts.append("(" + " AND ".join(terms) + ")")
        return self.overwrite_where(df, " OR ".join(disjuncts))

    def restore(self, version: int) -> int:
        """Delta-parity ``RESTORE TABLE ... TO VERSION AS OF``: publish a
        new commit that references the old version's files verbatim —
        O(1) rollback, no data copied, and the rolled-back-from history
        stays intact."""
        old = self._manifest(version)
        cur = self._manifest()
        version = _commit(
            self.root,
            version=cur["version"] + 1,
            files=old["files"],
            schema=old["schema"],
            partition_by=old["partition_by"],
            operation="RESTORE",
            merged_schema=old.get("merged_schema", False),
            props=old.get("props", {}),
            parent=old,  # sidecar refs (and legacy inline) travel back
            dvs=old.get("dvs", {}),
            colmap=old.get("colmap", {}),
            retired_cols=old.get("retired_cols", []),
        )
        self._post_commit()
        return version

    def clone(
        self, dest_root: str, version: int | None = None
    ) -> "ParquetTable":
        """Delta parity: ``CREATE TABLE dest CLONE src [VERSION AS OF v]``
        — a zero-copy snapshot clone (dev/test forks, reproducible
        experiment pins).

        Delta's SHALLOW CLONE references the source's files in place,
        which couples the clone's readability to the source's VACUUM
        horizon — the classic operational foot-gun.  Here each cloned
        file is **hardlinked** into the new table's own data dir: zero
        bytes copied and O(files) metadata work (shallow-clone
        economics), but the clone owns refcounted links, so either side
        may VACUUM, OPTIMIZE, or drop files without breaking the other
        (deep-clone safety).  Filesystems without hardlink support fall
        back to a copy per file.  Stats, props (constraints, bloom
        config), and schema travel with the snapshot; the clone starts
        its own history at v0 with its lineage recorded in the manifest.
        """
        if is_table(dest_root):
            raise FileExistsError(f"table exists: {dest_root}")
        m = self._manifest(version)
        src_data = os.path.join(self.root, _DATA_DIR)
        dst_data = os.path.join(dest_root, _DATA_DIR)
        os.makedirs(os.path.join(dest_root, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(dst_data, exist_ok=True)
        for rel in m["files"]:
            dest = os.path.join(dst_data, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            try:
                os.link(os.path.join(src_data, rel), dest)
            except OSError:
                shutil.copy2(os.path.join(src_data, rel), dest)
        # DV sidecars travel with the snapshot (entries are data-root-
        # relative, so they remain valid under the clone's own root)
        dvs = m.get("dvs", {})
        dv_rels = sorted({d for rels in dvs.values() for d in rels})
        if dv_rels:
            src_dv = os.path.join(self.root, _DV_DIR)
            dst_dv = os.path.join(dest_root, _DV_DIR)
            for rel in dv_rels:
                dest = os.path.join(dst_dv, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                try:
                    os.link(os.path.join(src_dv, rel), dest)
                except OSError:
                    shutil.copy2(os.path.join(src_dv, rel), dest)
        # stats/bloom sidecars travel too (hardlinked like the data):
        # the clone's manifests reference its OWN copies, so either
        # side's VACUUM can never strand the other
        src_sc = os.path.join(self.root, _SIDECAR_DIR)
        dst_sc = os.path.join(dest_root, _SIDECAR_DIR)
        for ref in m.get("stats_sidecars", []):
            os.makedirs(dst_sc, exist_ok=True)
            try:
                os.link(os.path.join(src_sc, ref), os.path.join(dst_sc, ref))
            except OSError:
                shutil.copy2(os.path.join(src_sc, ref), os.path.join(dst_sc, ref))
        _commit(
            dest_root,
            version=0,
            files=m["files"],
            schema=m["schema"],
            partition_by=m["partition_by"],
            operation=f"CLONE {os.path.abspath(self.root)}@v{m['version']}",
            merged_schema=m.get("merged_schema", False),
            props=m.get("props", {}),
            parent=m,
            dvs=dvs,
            colmap=m.get("colmap", {}),
            retired_cols=m.get("retired_cols", []),
        )
        return ParquetTable(self.spark, dest_root)

    # -- constraints --------------------------------------------------------

    def add_check_constraint(self, name: str, expr: str) -> int:
        """Delta parity: ``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)``
        — SQL-standard semantics: a row violates only when ``expr``
        evaluates to exactly FALSE (NULL/unknown passes).  Existing data
        is validated first (one scan, one aggregate), then the constraint
        is committed into the versioned manifest props so every later
        write enforces it — and RESTORE restores it with the data."""
        m = self._manifest()
        checks, not_null = _constraint_state(m)
        if name in checks or name in m.get("props", {}).get(
            "key_constraints", {}
        ):
            raise ValueError(f"constraint {name!r} already exists")
        self._enforce(self.read(), {name: expr}, [], m, "ADD CONSTRAINT")
        props = {**m.get("props", {}), "check_constraints": {**checks, name: expr}}
        return self._commit_props(m, props, "ADD CONSTRAINT")

    def add_key_constraint(
        self,
        name: str,
        kind: str,
        cols: Sequence[str],
        ref_table: str | None = None,
        ref_cols: Sequence[str] | None = None,
    ) -> int:
        """Databricks parity: informational ``PRIMARY KEY`` / ``FOREIGN
        KEY`` constraints — NOT enforced (Databricks does not enforce
        them either; they document intent for tools and optimizers).
        One PK per table; constraint names share the CHECK namespace;
        metadata-only versioned commit, so RESTORE rolls them back with
        the data."""
        if kind not in ("pk", "fk"):
            raise ValueError(f"kind must be 'pk' or 'fk', got {kind!r}")
        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        missing = [c for c in cols if c not in schema.fieldNames()]
        if missing:
            raise ValueError(f"no such columns: {missing}")
        props = m.get("props", {})
        checks, _ = _constraint_state(m)
        keycons = dict(props.get("key_constraints", {}))
        if name in checks or name in keycons:
            raise ValueError(f"constraint {name!r} already exists")
        if kind == "pk" and any(
            v["kind"] == "pk" for v in keycons.values()
        ):
            raise ValueError("table already has a PRIMARY KEY")
        entry: dict = {"kind": kind, "cols": list(cols)}
        if kind == "fk":
            if not ref_table:
                raise ValueError("FOREIGN KEY needs REFERENCES table")
            entry["ref_table"] = ref_table
            entry["ref_cols"] = list(ref_cols or cols)
        props = {**props, "key_constraints": {**keycons, name: entry}}
        return self._commit_props(m, props, "ADD CONSTRAINT")

    def drop_constraint(self, name: str) -> int:
        m = self._manifest()
        checks, _ = _constraint_state(m)
        props = m.get("props", {})
        keycons = dict(props.get("key_constraints", {}))
        if name in checks:
            del checks[name]
            props = {**props, "check_constraints": checks}
        elif name in keycons:
            del keycons[name]
            props = {**props, "key_constraints": keycons}
        else:
            raise ValueError(f"no such constraint: {name!r}")
        return self._commit_props(m, props, "DROP CONSTRAINT")

    def set_not_null(self, col: str) -> int:
        """Delta parity: ``ALTER COLUMN col SET NOT NULL``.  Unlike CHECK,
        a NULL (or a write that omits the column entirely) violates."""
        m = self._manifest()
        checks, not_null = _constraint_state(m)
        schema = _schema_from_json(self.spark, m["schema"])
        if col not in schema.fieldNames():
            raise ValueError(f"no such column: {col!r}")
        if col in not_null:
            return m["version"]
        self._enforce(self.read(), {}, [col], m, "SET NOT NULL")
        props = {**m.get("props", {}), "not_null": not_null + [col]}
        return self._commit_props(m, props, "SET NOT NULL")

    def drop_not_null(self, col: str) -> int:
        m = self._manifest()
        _, not_null = _constraint_state(m)
        if col not in not_null:
            raise ValueError(f"column {col!r} is not NOT NULL")
        props = {
            **m.get("props", {}),
            "not_null": [c for c in not_null if c != col],
        }
        return self._commit_props(m, props, "DROP NOT NULL")

    def constraints(self) -> dict:
        """Current constraint state: ``{"check": {name: expr},
        "not_null": [col, ...]}``."""
        checks, not_null = _constraint_state(self._manifest())
        return {"check": checks, "not_null": not_null}

    def properties(self) -> dict:
        """Current table properties (Delta ``TBLPROPERTIES``) — the
        engine's reserved keys (constraints, bloom config, txn
        watermarks) live here alongside any user keys."""
        return dict(self._manifest().get("props", {}))

    def set_properties(self, props: dict) -> int:
        """Merge ``props`` into the table properties (Delta
        ``ALTER TABLE ... SET TBLPROPERTIES``) in one metadata-only
        commit — versioned like any DML, so RESTORE brings a version's
        properties back with its data.  Set a key to ``None`` to unset
        it."""
        m = self._manifest()
        merged = {**m.get("props", {}), **props}
        merged = {k: v for k, v in merged.items() if v is not None}
        rt_on = str(merged.get("delta.enableRowTracking")).lower() == "true"
        if rt_on and "row_tracking_state" not in merged:
            # enabling row tracking: seed empty state — the _commit hook
            # backfills a base id for every current file in THIS commit
            # (metadata-only; materialization only ever happens on later
            # rewrites).  The physical id column name is reserved.
            cols = _schema_from_json(self.spark, m["schema"]).fieldNames()
            if _ROW_ID_PHYS in cols or _ROW_ID_PHYS in m.get(
                "colmap", {}
            ).values():
                raise ValueError(
                    f"cannot enable row tracking: column {_ROW_ID_PHYS!r} "
                    "is reserved for materialized row ids"
                )
            merged["row_tracking_state"] = {"high_water": 0, "base": {}}
        if not rt_on:
            # disabling (or never enabling) drops the state: ids are NOT
            # stable across a disable/re-enable cycle (re-enabling
            # reallocates), matching the suspend semantics
            merged.pop("row_tracking_state", None)
        return self._commit_props(m, merged, "SETPROPERTIES")

    # -- ANALYZE TABLE (Spark/Databricks COMPUTE STATISTICS parity) ---------

    _UNANALYZABLE = ("array", "map", "struct", "binary", "variant")

    def analyze(
        self, columns: list[str] | str | None = None, *, noscan: bool = False
    ) -> int:
        """``ANALYZE TABLE ... COMPUTE STATISTICS`` — collect table-level
        (and optionally per-column) statistics and publish them in one
        metadata-only commit (operation ``ANALYZE``).  Stats live under
        the reserved ``statistics`` table property, stamped with the
        snapshot version they describe (``as_of_version``), so they are
        versioned like every property: RESTORE rolls them back with the
        data and time travel shows the stats a version carried.

        ``noscan`` is the metadata-only path — and unlike Spark's
        ``NOSCAN`` (size only), it yields an EXACT row count without
        touching a data byte: parquet footers carry per-file row counts,
        and the deletion-vector sidecars (sized ∝ deleted rows, never
        table rows) supply the masked-row correction.  Cost is O(files)
        footer opens + one tiny DV count job — 100 TB safe.

        ``columns`` (a list, or ``"all"`` for every supported column)
        adds per-column min / max / null count / approx NDV (and
        max/avg length for strings) from ONE aggregate-only scan of the
        current snapshot — a single job with map-side partials, no
        shuffle wider than the final one-row agg.  Complex-typed columns
        (array/map/struct/binary) raise when named explicitly and are
        skipped by ``"all"``, mirroring Spark's ANALYZE restrictions.
        """
        if noscan and columns:
            raise ValueError("NOSCAN collects table-level stats only — "
                             "drop noscan to analyze columns")
        m = self._manifest()
        data_root = os.path.join(self.root, _DATA_DIR)
        size = 0
        for f in m["files"]:
            try:
                size += os.path.getsize(os.path.join(data_root, f))
            except OSError:
                pass
        stats: dict = {
            "as_of_version": m["version"],
            "num_files": len(m["files"]),
            "size_bytes": size,
            "noscan": bool(noscan),
            "analyzed_at": time.time(),
        }
        schema = _schema_from_json(self.spark, m["schema"])
        if noscan:
            stats["num_rows"] = self._exact_rows(m)
        else:
            cols: list[str] = []
            if columns:
                wanted = (
                    [f.name for f in schema.fields]
                    if isinstance(columns, str) and columns.lower() == "all"
                    else list(columns)
                )
                by_name = {f.name: f for f in schema.fields}
                for c in wanted:
                    if c not in by_name:
                        raise KeyError(f"unknown column {c!r}")
                    tn = by_name[c].dataType.typeName()
                    if any(tn.startswith(u) for u in self._UNANALYZABLE):
                        if isinstance(columns, str):  # "all": skip complex
                            continue
                        raise ValueError(
                            f"ANALYZE does not support column {c!r} of "
                            f"type {tn} (as in Spark)"
                        )
                    cols.append(c)
            aggs = [F.count(F.lit(1)).alias("__rows")]
            for i, c in enumerate(cols):
                qc = F.col(f"`{c}`")
                aggs += [
                    F.min(qc).alias(f"__min_{i}"),
                    F.max(qc).alias(f"__max_{i}"),
                    (F.count(F.lit(1)) - F.count(qc)).alias(f"__null_{i}"),
                    F.approx_count_distinct(qc).alias(f"__ndv_{i}"),
                ]
                if schema[c].dataType.typeName() == "string":
                    aggs += [
                        F.max(F.length(qc)).alias(f"__maxlen_{i}"),
                        F.avg(F.length(qc)).alias(f"__avglen_{i}"),
                    ]
            # one-row driver fetch of the aggregate — metadata-sized
            row = self.read().agg(*aggs).collect()[0].asDict()
            stats["num_rows"] = int(row["__rows"])
            col_stats: dict = {}
            for i, c in enumerate(cols):
                entry = {
                    "min": _stat_scalar(row[f"__min_{i}"]),
                    "max": _stat_scalar(row[f"__max_{i}"]),
                    "null_count": int(row[f"__null_{i}"]),
                    "distinct_count_approx": int(row[f"__ndv_{i}"]),
                }
                if f"__maxlen_{i}" in row:
                    ml, al = row[f"__maxlen_{i}"], row[f"__avglen_{i}"]
                    entry["max_len"] = None if ml is None else int(ml)
                    entry["avg_len"] = None if al is None else float(al)
                col_stats[c] = entry
            if col_stats:
                stats["columns"] = col_stats
        props = {**m.get("props", {}), "statistics": stats}
        return self._commit_props(m, props, "ANALYZE")

    def statistics(self) -> dict | None:
        """The last ``ANALYZE`` result (or None) — check
        ``as_of_version`` against :meth:`latest_version` for staleness."""
        return self.properties().get("statistics")

    def _fresh_stats(self, m: dict) -> dict | None:
        """The manifest's statistics iff they still describe its data:
        stale the moment any DATA-changing commit landed after the
        analyzed snapshot; metadata-only commits (ANALYZE itself,
        SETPROPERTIES) don't invalidate.  Same rule DESCRIBE EXTENDED
        uses for its staleness flag — only the (as_of, m.version]
        slice of the commit log is walked, so the check is O(commits
        since ANALYZE), not O(table history).  Sound for HISTORICAL
        manifests too: freshness is resolved against ``m``'s OWN
        version, never the current tip (the stats prop is versioned —
        it rides each manifest — so a time-travel read sees exactly
        the stats that were current at that version)."""
        s = (m.get("props") or {}).get("statistics")
        if not s or "as_of_version" not in s:
            return None
        tail = [
            v
            for v in self._versions()
            if s["as_of_version"] < v <= m["version"]
        ]
        if any(
            self._manifest(v)["operation"]
            not in ("ANALYZE", "SETPROPERTIES")
            for v in tail
        ):
            return None
        return s

    def fresh_statistics(self, version: int | None = None) -> dict | None:
        """Snapshot statistics, or None when absent/stale — the gate
        every stats-driven plan decision reads.  ``version`` resolves
        freshness against THAT version's own history tail (D5): a
        ``SELECT MIN(col) FROM t VERSION AS OF v`` is metadata-exact
        iff v's stats were fresh AT v, regardless of what landed
        after."""
        return self._fresh_stats(self._manifest(version))

    def _file_row_counts(self, m: dict) -> dict[str, int]:
        """Per-live-file row counts: the ``__nrows`` entry the stats
        sidecar records at write time (manifest-only — zero I/O beyond
        the sidecar the caller loads anyway), falling back to a footer
        open for files that predate round 10 or whose table really has
        a ``__nrows`` DATA column (then the stats entry is that
        column's range, not a count)."""
        phys = {
            _physical_name(m, f.name)
            for f in _schema_from_json(self.spark, m["schema"]).fields
        }
        stats = self._stats(m) if "__nrows" not in phys else {}
        data_root = os.path.join(self.root, _DATA_DIR)
        out: dict[str, int] = {}
        for f in m["files"]:
            rng = stats.get(f, {}).get("__nrows")
            out[f] = (
                int(rng[0])
                if rng is not None
                else _footer_rows(data_root, f)
            )
        return out

    def _exact_rows(self, m: dict) -> int:
        """Exact row count of a manifest's snapshot from metadata only:
        sidecar-recorded per-file counts (footer opens only for
        pre-round-10 files) minus the deletion-vector cardinality for
        files a DV masks.  Cost is O(files) sidecar entries + one tiny
        DV-sidecar count job (sized ∝ deleted rows, never table rows)
        — 100 TB safe."""
        rows = sum(self._file_row_counts(m).values())
        dvs = m.get("dvs", {})
        dv = self._dv_frame(m, m["files"])
        if dv is not None:
            masked = [f for f in m["files"] if f in dvs]
            # the isin guard drops entries for rewritten files whose
            # positions a shared sidecar may still carry
            rows -= dv.filter(F.col("__file").isin(masked)).count()
        return int(rows)

    def count(self, version: int | None = None) -> int:
        """Exact row count of a snapshot without reading a data byte —
        the Databricks/Delta metadata-only ``count(*)`` answer, now
        stats-ACTIONABLE instead of display-only.

        Current snapshot: fresh ANALYZE statistics (``as_of_version``
        == current version) answer with ZERO Spark jobs — the number
        was already computed (NOSCAN: footers minus DV cardinality —
        exact) and rides the manifest the snapshot read loaded anyway.
        Stale or absent stats fall back to recomputing the same
        metadata answer live (:meth:`_exact_rows`) — still no data
        scan, so the result is exact at EVERY staleness state;
        freshness only decides whether any job runs at all.

        ``version`` counts a TIME-TRAVEL snapshot the same way (that
        version's footers minus its DV cardinality) — historical stats
        are never consulted, the answer is exact by construction."""
        if version is not None:
            return self._exact_rows(self._manifest(version))
        m = self._manifest()
        s = self._fresh_stats(m)
        if s and s.get("num_rows") is not None:
            return int(s["num_rows"])
        return self._exact_rows(m)

    def footer_range(self, col: str) -> tuple | None:
        """``(min, max)`` of ``col`` over the live files' write-time
        footer stats — manifest and stats sidecars only, no Spark job.
        None when the table has no files or a file has no stats for
        ``col`` (the stats skip non-scalar types such as DATE).  Under
        deletion vectors the pair bounds the live values rather than
        equalling their extremes."""
        m = self._manifest()
        phys = _physical_name(m, col)
        stats = self._stats(m)
        rngs = [stats.get(f, {}).get(phys) for f in m["files"]]
        if not rngs or None in rngs:
            return None
        return min(r[0] for r in rngs), max(r[1] for r in rngs)

    def partition_file_frame(self, version: int | None = None) -> DataFrame | None:
        """One metadata row per live data file: the file's typed LOGICAL
        partition values plus ``__rows`` — its exact live row count
        (parquet footer rows minus deletion-vector cardinality).  None
        for an unpartitioned table.

        The frame is the engine's OptimizeMetadataOnlyQuery substrate
        (Delta parity): a partition-only WHERE evaluated over it — by
        Spark itself, so predicate semantics match the real scan
        exactly — answers filtered ``COUNT(*)`` (sum of surviving
        files' live rows) and ``MIN/MAX(partition_col)`` (over files
        with live rows > 0: a fully-DV-masked file must not contribute
        its partition value) without reading a data byte.  Cost is
        O(files) sidecar row-count entries (footer opens only for
        pre-round-10 files) plus one DV-sidecar count job sized ∝
        deleted rows — the :meth:`_exact_rows` budget, never table
        rows."""
        m = self._manifest(version)
        part_cols = m["partition_by"]
        if not part_cols:
            return None
        inv = _logical_inverse(m)
        logical = [inv.get(c, c) for c in part_cols]
        dvs = m.get("dvs", {})
        dv_counts: dict[str, int] = {}
        dv = self._dv_frame(m, m["files"])
        if dv is not None:
            masked = [f for f in m["files"] if f in dvs]
            dv_counts = {
                r["__file"]: r["count"]
                for r in dv.filter(F.col("__file").isin(masked))
                .groupBy("__file")
                .count()
                .collect()
            }
        counts = self._file_row_counts(m)
        rows = []
        for f in m["files"]:
            vals = [
                None if v == "__HIVE_DEFAULT_PARTITION__" else v
                for v in _partition_values(f, part_cols)
            ]
            rows.append((*vals, counts[f] - dv_counts.get(f, 0)))
        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in logical]
            + [T.StructField("__rows", T.LongType())]
        )
        frame = self.spark.createDataFrame(rows, schema)
        types = {
            f.name: f.dataType
            for f in _schema_from_json(self.spark, m["schema"]).fields
        }
        # hive directory strings -> the DECLARED logical types, so the
        # WHERE predicate compares in the same type the real scan would
        return frame.select(
            *[F.col(c).cast(types[c]).alias(c) for c in logical], "__rows"
        )

    def snapshot_link_dir(self, version: int | None = None) -> str:
        """Materialize a snapshot's EXACT file set as a plain parquet
        directory of hardlinks under ``<root>/_mirror/v{N}/`` (zero
        data copy — files are immutable, so a link IS the snapshot)
        and return its path.  This is the substrate for registering
        the snapshot as a regular Spark CATALOG table (a temp view
        can't carry catalog statistics, so plain ``spark.sql`` CBO
        needs a real table over a real directory).

        Hive partition subpaths are preserved, so a partitioned mirror
        registers with ``PARTITIONED BY`` + ``MSCK REPAIR``.  Refused
        when a directory listing would LIE about the snapshot: live
        deletion vectors (the mirror would resurrect masked rows) or
        column mapping / retired columns (files carry physical names
        the catalog schema wouldn't match).  Idempotent per version;
        VACUUM-safe because links pin the inodes, not the names."""
        m = self._manifest(version)
        if any(f in m.get("dvs", {}) for f in m["files"]):
            raise ValueError(
                "snapshot has live deletion vectors; a directory mirror "
                "would resurrect masked rows — run OPTIMIZE (or "
                "purge_deletion_vectors) first"
            )
        if m.get("colmap") or m.get("retired_cols"):
            raise ValueError(
                "snapshot uses column mapping; its physical file names "
                "would not match the catalog schema — mirror before "
                "renames, or rewrite with overwrite() first"
            )
        dest = os.path.join(self.root, "_mirror", f"v{m['version']}")
        data_root = os.path.join(self.root, _DATA_DIR)
        if not os.path.isdir(dest):
            tmp = dest + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp, exist_ok=True)
            for f in m["files"]:
                link = os.path.join(tmp, f)
                os.makedirs(os.path.dirname(link), exist_ok=True)
                os.link(os.path.join(data_root, f), link)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            try:
                os.rename(tmp, dest)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner
        return dest

    # -- generated columns (Delta GENERATED ALWAYS AS parity) ---------------

    def generated_columns(self) -> dict:
        """``{col: sql_expr}`` — columns whose value is defined by an
        expression over the other columns."""
        return dict(self._manifest().get("props", {}).get("generated", {}))

    def _fill_missing(self, df: DataFrame, m: dict) -> DataFrame:
        """Surface every manifest-declared column: plain columns the
        files lack become typed NULLs; GENERATED columns are computed
        through their expression — rows in files that predate an
        ``add_generated_column`` read the derived value, not NULL.
        Two projections when both kinds are missing, so a generated
        expression may reference a just-filled plain column."""
        schema = _schema_from_json(self.spark, m["schema"])
        gen = m.get("props", {}).get("generated", {})
        missing = [f for f in schema.fields if f.name not in df.columns]
        plain = [f for f in missing if f.name not in gen]
        derived = [f for f in missing if f.name in gen]
        if plain:
            df = df.select(
                "*",
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in plain],
            )
        if derived:
            df = df.select(
                "*",
                *[
                    F.expr(gen[f.name]).cast(f.dataType).alias(f.name)
                    for f in derived
                ],
            )
        # a generated column PRESENT in some files reads as NULL from
        # the files that predate it (union schema) — coalesce through
        # the expression.  Sound under the enforced invariant (stored
        # values equal the expression): stored non-null kept, stored
        # "absent" computed, expression-NULL stays NULL either way.
        patch = {
            f.name: F.coalesce(
                F.col(f.name), F.expr(gen[f.name]).cast(f.dataType)
            )
            for f in schema.fields
            if f.name in gen and f.name not in {d.name for d in derived}
        }
        if patch:
            df = df.withColumns(patch)
        return df

    def _apply_generated(self, df: DataFrame, m: dict) -> DataFrame:
        """Fill generated columns the writer omitted (computed from the
        row's other columns — one projection).  Columns the writer DID
        provide are left alone and validated by enforcement instead:
        silently overwriting a wrong value would hide a pipeline bug."""
        gen = m.get("props", {}).get("generated", {})
        missing = {c: e for c, e in gen.items() if c not in df.columns}
        if not missing:
            return df
        schema = _schema_from_json(self.spark, m["schema"])
        types = {f.name: f.dataType for f in schema.fields}
        return df.select(
            "*",
            *[
                F.expr(e).cast(types[c]).alias(c)
                for c, e in missing.items()
                if c in types
            ],
        )

    @classmethod
    def convert(
        cls,
        spark: SparkSession,
        root: str,
        partition_by: Sequence[str] | None = None,
    ) -> "ParquetTable":
        """``CONVERT TO DELTA`` parity: adopt an existing plain-parquet
        directory (optionally hive-partitioned) as a versioned table
        WITHOUT rewriting a byte of data.  Every parquet file is
        renamed into the table's data tree preserving its partition
        subpath — a filesystem metadata operation, the local-disk
        equivalent of Delta's in-place adoption — and manifest v0
        references it; footer statistics are collected once per file
        (the same statistics scan ``CONVERT TO DELTA`` performs), so
        data skipping works from the first query.

        ``partition_by`` must name the hive layout's columns in
        directory order — each entry ``"name"`` or ``"name type"``
        (Delta's ``PARTITIONED BY (col type)`` clause on CONVERT, which
        likewise cannot infer the writer's intent: directory value
        ``part=2`` is int to partition discovery even when the writer
        meant string).  A file that does not match the declared layout
        aborts the conversion before anything moves.  Refuses a root
        that is already a table."""
        if is_table(root):
            raise FileExistsError(f"already a table: {root}")
        specs = [(p.split()[0], " ".join(p.split()[1:]) or None)
                 for p in (partition_by or ())]
        part_cols = [n for n, _t in specs]
        found: list[str] = []
        for dirpath, _dirs, fnames in os.walk(root):
            rel_dir = os.path.relpath(dirpath, root)
            rel_dir = "" if rel_dir == "." else rel_dir
            if rel_dir.split(os.sep)[0].startswith(("_", ".")):
                continue  # _SUCCESS-style metadata dirs are not data
            for fn in sorted(fnames):
                if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                    continue
                found.append(os.path.join(rel_dir, fn) if rel_dir else fn)
        if not found:
            raise ValueError(f"no parquet files under {root}")
        for rel in found:
            segs = [s for s in os.path.dirname(rel).split(os.sep) if s]
            if len(segs) != len(part_cols) or any(
                not seg.startswith(col + "=")
                for col, seg in zip(part_cols, segs)
            ):
                raise ValueError(
                    f"file {rel!r} does not match PARTITIONED BY "
                    f"{part_cols} — the declared partitioning must agree "
                    "with the hive layout (nothing was moved)"
                )
        commit_id = uuid.uuid4().hex[:12]
        data_root = os.path.join(root, _DATA_DIR)
        rels: list[str] = []
        for rel in found:
            dest_rel = os.path.join(
                os.path.dirname(rel), f"{commit_id}-{os.path.basename(rel)}"
            )
            dest = os.path.join(data_root, dest_rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(os.path.join(root, rel), dest)
            rels.append(dest_rel)
        for rel in found:  # sweep the now-empty original partition dirs
            d = os.path.dirname(rel)
            while d:
                try:
                    os.rmdir(os.path.join(root, d))
                except OSError:
                    break
                d = os.path.dirname(d)
        os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
        schema = spark.read.parquet(data_root).schema
        declared = {n: t for n, t in specs if t}
        if declared:
            from pyspark.sql.types import StructField, StructType

            types = {
                n: spark.createDataFrame([], f"x {t}").schema[0].dataType
                for n, t in declared.items()
            }
            schema = StructType(
                [
                    StructField(f.name, types[f.name], f.nullable)
                    if f.name in types
                    else f
                    for f in schema.fields
                ]
            )
        _commit(
            root,
            version=0,
            files=rels,
            schema=schema.json(),
            partition_by=part_cols,
            operation="CONVERT",
            merged_schema=False,
            stats=_file_stats(data_root, rels),
            props={},
        )
        return cls(spark, root)

    def _apply_defaults(self, df: DataFrame, m: dict) -> DataFrame:
        """Fill DEFAULT-bearing columns the writer omitted.  Explicit
        values — including explicit NULLs — always win (Delta's insert
        semantics: a default applies only when the column is absent
        from the write, never as NULL-coalescing)."""
        defaults = m.get("props", {}).get("defaults", {})
        missing = {c: e for c, e in defaults.items() if c not in df.columns}
        if not missing:
            return df
        schema = _schema_from_json(self.spark, m["schema"])
        types = {f.name: f.dataType for f in schema.fields}
        return df.select(
            "*",
            *[
                F.expr(e).cast(types[c]).alias(c)
                for c, e in missing.items()
                if c in types
            ],
        )

    def set_default(self, col: str, expr: str) -> int:
        """Delta parity: ``ALTER TABLE t ALTER COLUMN col SET DEFAULT
        expr`` — one metadata-only commit.  Writes that OMIT the column
        then store the default instead of NULL; existing rows are
        untouched (no rewrite — the default is write-time, exactly
        Delta's contract) and time travel reads history unchanged.
        The default must be a CONSTANT expression (Delta enforces
        literal defaults too): a row-dependent fill is a generated
        column — ``set_generated`` — not a default.  The registry rides
        the versioned props, so RESTORE rolls it back with the data."""
        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        if col not in schema.fieldNames():
            raise ValueError(f"no such column: {col}")
        props0 = m.get("props", {})
        if col in props0.get("generated", {}):
            raise ValueError(
                f"column {col!r} is generated; generated columns fill "
                "themselves"
            )
        if col in props0.get("identity", {}):
            raise ValueError(f"column {col!r} is an identity column")
        try:
            # constant check: resolvable with no input columns at all
            self.spark.sql(f"SELECT ({expr}) AS v").collect()
        except Exception as ex:
            raise ValueError(
                f"default for {col!r} must be a constant expression "
                f"({expr!r}): {ex}"
            ) from None
        defaults = dict(props0.get("defaults", {}))
        props = {**props0, "defaults": {**defaults, col: expr}}
        return self._commit_props(m, props, "SET DEFAULT")

    def drop_default(self, col: str) -> int:
        """Remove a column default (omitting writers go back to NULL)."""
        m = self._manifest()
        defaults = dict(m.get("props", {}).get("defaults", {}))
        if col not in defaults:
            raise ValueError(f"column {col!r} has no default")
        del defaults[col]
        props = {**m.get("props", {}), "defaults": defaults}
        return self._commit_props(m, props, "DROP DEFAULT")

    def set_generated(self, col: str, expr: str) -> int:
        """Declare an EXISTING column generated: writers may omit it
        (the expression fills it in) and stored values are enforced to
        match — Delta's ``GENERATED ALWAYS AS`` invariant.  Existing
        rows are validated first (one scan), the same contract as
        ``add_check_constraint``."""
        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        if col not in schema.fieldNames():
            raise ValueError(f"no such column: {col}")
        gen = dict(m.get("props", {}).get("generated", {}))
        if col in gen:
            raise ValueError(f"column {col!r} is already generated")
        self._enforce(
            self.read(),
            {f"generated_{col}": f"{col} <=> ({expr})"},
            [],
            m,
            "SET GENERATED",
        )
        props = {**m.get("props", {}), "generated": {**gen, col: expr}}
        return self._commit_props(m, props, "SET GENERATED")

    def add_generated_column(self, name: str, dtype: str, expr: str) -> int:
        """``ALTER TABLE ... ADD COLUMN name GENERATED ALWAYS AS (expr)``
        in ONE metadata-only commit.  Retroactive by construction: rows
        in files that predate the column read THROUGH the expression
        (not as NULLs), and every later write persists the computed
        value."""
        from pyspark.sql.types import StructType

        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        field = self.spark.range(1).select(
            F.lit(None).cast(dtype).alias(name)
        ).schema[0]
        taken = {_physical_name(m, c) for c in schema.fieldNames()} | set(
            m.get("retired_cols", [])
        )
        colmap = dict(m.get("colmap", {}))
        if name in taken:
            colmap[name] = f"{name}__r{m['version'] + 1}"
        gen = dict(m.get("props", {}).get("generated", {}))
        props = {**m.get("props", {}), "generated": {**gen, name: expr}}
        new_schema = StructType(list(schema.fields) + [field]).json()
        return self._commit_props(
            m,
            props,
            "ADD COLUMN",
            schema=new_schema,
            colmap=colmap,
        )

    # -- identity columns (GENERATED ALWAYS AS IDENTITY) --------------------

    def add_identity_column(
        self, name: str, start: int = 1, step: int = 1, always: bool = True
    ) -> int:
        """Delta parity: ``ADD COLUMN name BIGINT GENERATED ALWAYS AS
        IDENTITY (START WITH start INCREMENT BY step)`` — one
        metadata-only commit.  Every subsequent append assigns the
        column itself (a write providing explicit values refuses —
        ALWAYS means always), allocating a contiguous id range per
        commit from a high-water mark in the VERSIONED props.
        ``always=False`` is Delta's ``GENERATED BY DEFAULT``: a write
        MAY provide the column (its values land verbatim and do NOT
        advance the high water — Delta's contract; collisions are the
        writer's risk until :meth:`sync_identity`); an omitted column
        is assigned exactly like ALWAYS.  Details of assignment:

        - assignment is the distributed prefix-sum (window over
          partition TOTALS only — no global single-partition window);
        - the range is reserved at commit time through the optimistic
          commit loop: a concurrent identity append moves the high
          water, the loser detects its stale reservation on rebase and
          re-assigns, so concurrent appends get DISJOINT ids (gaps can
          exist across aborted attempts — Delta's contract too);
        - RESTORE rolls the high water back with the data (same props
          channel as constraints/txns), so a restored table resumes
          numbering consistently with its visible rows.

        Rows written BEFORE the column existed surface NULL ids (the
        `add_column` contract); Delta sidesteps this by allowing
        identity only at CREATE."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        from pyspark.sql.types import LongType, StructField, StructType

        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        taken = {_physical_name(m, c) for c in schema.fieldNames()} | set(
            m.get("retired_cols", [])
        )
        colmap = dict(m.get("colmap", {}))
        if name in taken:
            colmap[name] = f"{name}__r{m['version'] + 1}"
        ident = dict(m.get("props", {}).get("identity", {}))
        ident[name] = {
            "start": int(start),
            "step": int(step),
            "high_water": None,
            "always": bool(always),
        }
        props = {**m.get("props", {}), "identity": ident}
        new_schema = StructType(
            list(schema.fields) + [StructField(name, LongType())]
        ).json()
        return self._commit_props(
            m, props, "ADD IDENTITY COLUMN", schema=new_schema, colmap=colmap
        )

    def _refuse_explicit_identity(
        self, df: DataFrame, m: dict, op: str, strict: bool = False
    ):
        """Refuse explicit values for GENERATED ALWAYS identity columns
        (BY DEFAULT columns pass through verbatim).  ``strict=True``
        refuses ANY identity column — Delta's MERGE restriction, where
        explicit identity values in the source are unsupported in
        either mode."""
        ident = m.get("props", {}).get("identity", {})
        explicit = [
            c
            for c, cfg in ident.items()
            if c in df.columns and (strict or cfg.get("always", True))
        ]
        if explicit:
            raise ValueError(
                f"{op} provides explicit values for identity columns "
                f"{explicit}; "
                + (
                    "identity columns cannot be supplied through MERGE "
                    "(Delta parity) — omit them from the source"
                    if strict
                    else "they are GENERATED ALWAYS — omit them"
                )
            )
        return ident

    def _assign_identity(
        self, df: DataFrame, ident: dict, m: dict
    ) -> tuple[DataFrame, dict]:
        """``df`` with each ABSENT identity column assigned a contiguous
        range from its high water; returns ``(df, bases)`` where
        ``bases`` maps column -> first allocated value (the commit
        advances the high water by the written row count, for assigned
        columns only).  A BY DEFAULT identity column PRESENT in ``df``
        is left verbatim — its values neither consume nor advance the
        reservation (Delta's contract; SYNC IDENTITY reconciles)."""
        ident = {c: cfg for c, cfg in ident.items() if c not in df.columns}
        if not ident:
            return df, {}
        from azure_databricks_lakehouse_spark.operators.packing import (
            distributed_cumsum,
        )

        work = df.withColumn("_idc_one", F.lit(1)).withColumn(
            "_idc_ord", F.monotonically_increasing_id()
        )
        work = distributed_cumsum(work, "_idc_one", "_idc_ord", out_col="_idc_idx")
        bases = {}
        for c, cfg in ident.items():
            hw = cfg.get("high_water")
            base = cfg["start"] if hw is None else hw + cfg["step"]
            bases[c] = base
            work = work.withColumn(
                c,
                (
                    F.lit(base) + F.lit(cfg["step"]) * F.col("_idc_idx")
                ).cast("long"),
            )
        # select EXACTLY the intended columns: the prefix-sum keeps
        # internal helper columns (e.g. its partition offset), and any
        # stray column here would be silently written into data files
        return work.select(*df.columns, *ident.keys()), bases

    def sync_identity(self) -> int:
        """Delta parity: ``ALTER TABLE t SYNC IDENTITY`` — advance each
        identity column's high water to the furthest value actually
        present in the CURRENT snapshot, so assignment resumes past
        explicit values a BY DEFAULT writer landed above the
        reservation.  Only ever advances (a retreat could hand out
        duplicate ids against rows deleted-then-restored); the probe is
        one MIN/MAX aggregate over the identity columns — column-pruned,
        no full-width scan.  Metadata-only commit; a no-op sync (all
        waters already current) commits nothing and returns the current
        version."""
        m = self._manifest()
        ident = dict(m.get("props", {}).get("identity", {}))
        if not ident:
            raise ValueError("table has no identity columns")
        aggs = [
            (F.max(c) if cfg["step"] > 0 else F.min(c)).alias(c)
            for c, cfg in ident.items()
        ]
        row = self.read().agg(*aggs).collect()[0]  # one scalar row
        changed = False
        for c, cfg in ident.items():
            v = row[c]
            if v is None:
                continue  # empty table / all-NULL ids: nothing observed
            hw = cfg.get("high_water")
            ahead = hw is None or (
                int(v) > hw if cfg["step"] > 0 else int(v) < hw
            )
            if ahead:
                ident[c] = {**cfg, "high_water": int(v)}
                changed = True
        if not changed:
            return m["version"]
        props = {**m.get("props", {}), "identity": ident}
        return self._commit_props(m, props, "SYNC IDENTITY")

    # -- ALTER TABLE (metadata-only schema evolution) -----------------------

    def _constraint_refs(self, m: dict, col: str) -> list[str]:
        """Names of CHECK constraints whose expression mentions ``col``
        (word-boundary match — conservative: a false positive forces an
        explicit DROP CONSTRAINT, never a silent breakage)."""
        import re

        checks, _ = _constraint_state(m)
        gen = m.get("props", {}).get("generated", {})
        pat = re.compile(rf"\b{re.escape(col)}\b")
        return sorted(
            [n for n, expr in checks.items() if pat.search(expr)]
            + [
                f"generated:{c}"
                for c, expr in gen.items()
                if c != col and pat.search(expr)
            ]
        )

    def add_column(self, name: str, dtype: str) -> int:
        """Delta parity: ``ALTER TABLE ... ADD COLUMN`` — metadata-only;
        existing rows surface the new column as typed NULLs.  If the
        name was ever dropped before, the column gets a FRESH physical
        name via the column mapping, so old files' dead data can never
        resurrect under the re-added name."""
        from pyspark.sql.types import StructType

        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        # schema-only type parse (no job runs)
        field = self.spark.range(1).select(
            F.lit(None).cast(dtype).alias(name)
        ).schema[0]
        taken = {_physical_name(m, c) for c in schema.fieldNames()} | set(
            m.get("retired_cols", [])
        )
        colmap = dict(m.get("colmap", {}))
        if name in taken:
            colmap[name] = f"{name}__r{m['version'] + 1}"
        new_schema = StructType(list(schema.fields) + [field]).json()
        return self._commit_props(
            m,
            m.get("props", {}),
            "ADD COLUMN",
            schema=new_schema,
            colmap=colmap,
        )

    def drop_column(self, name: str) -> int:
        """Delta (column-mapping) parity: ``ALTER TABLE ... DROP
        COLUMN`` — metadata-only; no data file is touched.  The
        column's physical name is RETIRED so reads hide it and a later
        re-add cannot collide with it.  Refuses to drop partition
        columns or columns referenced by constraints / the bloom
        index (drop those first — explicit beats silent)."""
        from pyspark.sql.types import StructType

        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        if name not in schema.fieldNames():
            raise ValueError(f"no such column: {name}")
        inv = _logical_inverse(m)
        if name in [inv.get(c, c) for c in m["partition_by"]]:
            raise ValueError(f"cannot drop partition column {name!r}")
        refs = self._constraint_refs(m, name)
        if refs:
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraints "
                f"{refs}; drop them first"
            )
        props = dict(m.get("props", {}))
        nn = props.get("not_null", [])
        if name in nn:
            props["not_null"] = [c for c in nn if c != name]
        gen = props.get("generated", {})
        if name in gen:
            props["generated"] = {c: e for c, e in gen.items() if c != name}
        bloom = props.get("bloom")
        if bloom and name in bloom["cols"]:
            raise ValueError(
                f"column {name!r} is bloom-indexed; reconfigure the "
                "index first (set_bloom_index without it)"
            )
        clu = props.get("clustering")
        if clu and name in clu["cols"]:
            # the layout can no longer be maintained on a dropped key:
            # clear the state so the next OPTIMIZE doesn't try to
            # z-order by a column that no longer exists
            props = {k: v for k, v in props.items() if k != "clustering"}
        ident = props.get("identity", {})
        if name in ident:
            # a dropped identity column stops assigning — otherwise
            # every later append would write ghost ids into the retired
            # physical column and keep advancing the high water
            props["identity"] = {
                c: cfg for c, cfg in ident.items() if c != name
            }
        physical = _physical_name(m, name)
        colmap = {l: p for l, p in m.get("colmap", {}).items() if l != name}
        retired = list(m.get("retired_cols", [])) + [physical]
        new_schema = StructType(
            [f for f in schema.fields if f.name != name]
        ).json()
        return self._commit_props(
            m,
            props,
            "DROP COLUMN",
            schema=new_schema,
            colmap=colmap,
            retired_cols=retired,
        )

    def rename_column(self, old: str, new: str) -> int:
        """Delta (column-mapping) parity: ``ALTER TABLE ... RENAME
        COLUMN`` — metadata-only; the physical file column keeps its
        name forever and the mapping translates at read/write time.
        NOT NULL entries and bloom index state follow the rename;
        CHECK constraints referencing the column must be dropped first
        (rewriting user expressions silently is worse than refusing)."""
        from pyspark.sql.types import StructField, StructType

        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        if old not in schema.fieldNames():
            raise ValueError(f"no such column: {old}")
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        refs = self._constraint_refs(m, old)
        if refs:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraints "
                f"{refs}; drop them first"
            )
        physical = _physical_name(m, old)
        colmap = {l: p for l, p in m.get("colmap", {}).items() if l != old}
        if physical != new:
            colmap[new] = physical
        props = dict(m.get("props", {}))
        nn = props.get("not_null", [])
        if old in nn:
            props["not_null"] = [new if c == old else c for c in nn]
        gen = props.get("generated", {})
        if old in gen:
            props["generated"] = {
                (new if c == old else c): e for c, e in gen.items()
            }
        bloom = props.get("bloom")
        if bloom and old in bloom["cols"]:
            props["bloom"] = {
                **bloom, "cols": [new if c == old else c for c in bloom["cols"]]
            }
            # sidecar bitmaps are keyed by PHYSICAL name and stamped
            # with a cfg hash over physical names — both invariant under
            # a rename, so no bitmap is touched or invalidated
        clu = props.get("clustering")
        if clu and old in clu["cols"]:
            # clustering state follows the rename so incremental
            # maintenance keeps matching (the layout itself is physical
            # and unaffected)
            props["clustering"] = {
                **clu, "cols": [new if c == old else c for c in clu["cols"]]
            }
        ident = props.get("identity", {})
        if old in ident:
            # identity registry follows too: the GENERATED ALWAYS
            # refusal and assignment must key the CURRENT logical name
            props["identity"] = {
                (new if c == old else c): cfg for c, cfg in ident.items()
            }
        new_schema = StructType(
            [
                StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in schema.fields
            ]
        ).json()
        return self._commit_props(
            m,
            props,
            "RENAME COLUMN",
            schema=new_schema,
            colmap=colmap,
        )

    def alter_column_type(self, col: str, new_type: str) -> int:
        """Delta type-widening parity: ``ALTER TABLE ... ALTER COLUMN
        col TYPE new_type`` as a METADATA-ONLY commit — no data file is
        rewritten.  Only lossless widenings are allowed (tinyint →
        smallint → int → bigint, float → double, and decimal growth
        that shrinks neither the scale nor the integer digits); anything
        else raises.

        Reads after the widening use an explicit physical schema built
        from the manifest, which Spark's parquet readers honor with
        widening type promotion (int32 files read as LongType etc.) —
        the footer-merge path would refuse the int/long mix outright.
        Files written before the ALTER keep their bytes forever; files
        written after carry the new type; time travel to a pre-widen
        version reads under the old schema unchanged."""
        from pyspark.sql.types import StructField, StructType

        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        if col not in schema.fieldNames():
            raise ValueError(f"no such column: {col}")
        old_field = schema[col]
        new_field = self.spark.range(1).select(
            F.lit(None).cast(new_type).alias(col)
        ).schema[0]
        if not _widening_ok(old_field.dataType, new_field.dataType):
            raise ValueError(
                f"cannot change {col!r} from "
                f"{old_field.dataType.simpleString()} to "
                f"{new_field.dataType.simpleString()}: only lossless "
                "widenings (integral up-rank, float->double, decimal "
                "growth) are metadata-only"
            )
        inv = _logical_inverse(m)
        if col in [inv.get(c, c) for c in m["partition_by"]]:
            raise ValueError(
                f"cannot widen partition column {col!r} (values live in "
                "directory names, not parquet columns)"
            )
        props = dict(m.get("props", {}))
        widened = list(props.get("type_widened", []))
        if col not in widened:
            props["type_widened"] = widened + [col]
        new_schema = StructType(
            [
                StructField(
                    col, new_field.dataType, f.nullable, f.metadata
                )
                if f.name == col
                else f
                for f in schema.fields
            ]
        ).json()
        return self._commit_props(
            m, props, "ALTER COLUMN TYPE", schema=new_schema
        )

    def _commit_props(
        self,
        m: dict,
        props: dict,
        operation: str,
        schema: str | None = None,
        colmap: dict | None = None,
        retired_cols: list | None = None,
    ) -> int:
        """Metadata-only commit: same files/stats/DVs; new props and —
        for ALTER TABLE — a new schema/column mapping.  A schema change
        flips ``merged_schema`` on: files written before and after an
        ALTER carry different physical column sets, and a sampled-footer
        read would non-deterministically hide one generation's columns."""
        version = _commit(
            self.root,
            version=m["version"] + 1,
            files=m["files"],
            schema=m["schema"] if schema is None else schema,
            partition_by=m["partition_by"],
            operation=operation,
            merged_schema=m.get("merged_schema", False) or schema is not None,
            props=props,
            parent=m,
            cdc_files=[],
            dvs=m.get("dvs", {}),
            colmap=m.get("colmap", {}) if colmap is None else colmap,
            retired_cols=(
                m.get("retired_cols", [])
                if retired_cols is None
                else retired_cols
            ),
        )
        self._post_commit()
        return version

    def _enforce(
        self,
        df: DataFrame,
        checks: dict[str, str],
        not_null: Sequence[str],
        m: dict,
        context: str,
    ) -> None:
        """Validate ``df`` against the given constraints in ONE aggregate
        job (all violation counts in a single pass — cost proportional to
        the rows being written, never the table).  Columns the incoming
        frame lacks are evaluated as typed NULLs: SQL-correct for CHECK
        (unknown passes) and a violation for NOT NULL (Delta requires the
        column on write)."""
        if not checks and not not_null:
            return
        schema = _schema_from_json(self.spark, m["schema"])
        missing = [f for f in schema.fields if f.name not in df.columns]
        probe = df.select(
            "*",
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in missing],
        )
        aggs = []
        for name, expr in checks.items():
            aggs.append(
                F.sum(F.when(~F.expr(expr), F.lit(1)).otherwise(F.lit(0)))
                .alias(f"check::{name}")
            )
        for col in not_null:
            aggs.append(
                F.sum(F.isnull(F.col(col)).cast("long"))
                .alias(f"not_null::{col}")
            )
        row = probe.agg(*aggs).collect()[0]
        violations = {k: int(v) for k, v in row.asDict().items() if v}
        if violations:
            raise ConstraintViolationError(context, violations)

    def _generated_checks(self, m: dict) -> dict[str, str]:
        """Generated-column invariants as pseudo CHECK constraints:
        a stored value must NULL-safely equal its expression."""
        gen = m.get("props", {}).get("generated", {})
        return {f"generated_{c}": f"{c} <=> ({e})" for c, e in gen.items()}

    def _enforce_current(self, df: DataFrame, m: dict, context: str) -> None:
        checks, not_null = _constraint_state(m)
        self._enforce(
            df, {**checks, **self._generated_checks(m)}, not_null, m, context
        )

    # -- bloom-filter file skipping -----------------------------------------

    def set_bloom_index(
        self, cols: Sequence[str], m_bits: int = 8192, k: int = 6
    ) -> int:
        """Delta parity: bloom-filter index for **equality** data
        skipping on high-cardinality key columns — the case min/max
        stats can't prune (after enough appends every file's [min, max]
        spans the whole key domain, but each file still holds only a
        sliver of the *values*).

        Per (file, column) a ``m_bits``-bit bloom bitmap is stored in
        the manifest; :meth:`scan_eq` opens only files whose bloom
        *might* contain the probed value.  Defaults give ~1% false
        positives at ~1k distinct values/file; false negatives are
        impossible, and a file with no bloom is always read, so
        correctness never depends on the index.  Blooms are keyed by
        immutable data-file name, so a stale entry cannot exist — a
        rewrite produces new file names whose blooms are computed at
        commit time.

        The build is distributed: each of the ``k`` probe positions is a
        codegen md5 expression, and per-file position sets are
        ``collect_set`` aggregates bounded by ``m_bits`` entries — never
        by row count.  Cost is one scan of the indexed columns; at
        100 TB you'd set the index once and every write thereafter only
        blooms its own new files.  (Manifest-inline bitmaps keep
        single-file commit atomicity; ~2 KB/file/column means ~20 MB at
        10k files — beyond that Delta-style sidecar index files would be
        the next step.)
        """
        m = self._manifest()
        schema = _schema_from_json(self.spark, m["schema"])
        unknown = set(cols) - set(schema.fieldNames())
        if unknown:
            raise ValueError(f"no such columns: {sorted(unknown)}")
        cfg = {"cols": list(cols), "m": int(m_bits), "k": int(k)}
        props = {**m.get("props", {}), "bloom": cfg}
        version = _commit(
            self.root,
            version=m["version"] + 1,
            files=m["files"],
            schema=m["schema"],
            partition_by=m["partition_by"],
            operation="SET BLOOM INDEX",
            merged_schema=m.get("merged_schema", False),
            props=props,
            blooms=self._compute_blooms(m["files"], {**m, "props": props}),
            parent=m,
            dvs=m.get("dvs", {}),
            colmap=m.get("colmap", {}),
            retired_cols=m.get("retired_cols", []),
        )
        self._post_commit()
        return version

    def scan_eq(self, col: str, value, version: int | None = None) -> DataFrame:
        """Point-lookup read: prune files via min/max stats AND the bloom
        index (when ``col`` is bloom-indexed), then apply the exact
        equality filter.  ``value`` must be non-NULL (NULL never equals)."""
        if value is None:
            raise ValueError("scan_eq probes equality; NULL never matches")
        m = self._manifest(version)
        cfg = m.get("props", {}).get("bloom")
        blooms = self._blooms(m)
        stats = self._stats(m)
        pos = None
        if cfg and col in cfg["cols"]:
            pos = _bloom_positions(_bloom_canon(value), cfg["m"], cfg["k"])
        pcol = _physical_name(m, col)
        keep = []
        for f in m["files"]:
            rng = stats.get(f, {}).get(pcol)
            if rng is not None:
                try:
                    if value < rng[0] or value > rng[1]:
                        continue
                except TypeError:  # incomparable stat type: stats can't prune
                    pass
            if pos is not None:
                bmp = blooms.get(f, {}).get(pcol)
                if bmp is not None:
                    bits = int(bmp, 16) if bmp else 0
                    if not all((bits >> p) & 1 for p in pos):
                        continue
            keep.append(f)
        # DV-aware: a bloom/stats hit whose rows were all merge-on-read
        # deleted must still return nothing
        return self._read_files_dv(keep, m).filter(F.col(col) == F.lit(value))

    def _compute_blooms(self, files: list[str], m: dict) -> dict[str, dict]:
        """Distributed bloom build for ``files``; returns
        ``{rel_file: {col: hex_bitmap}}``.  One scan of the indexed
        columns; agg state bounded by ``k × cols × m_bits`` per file."""
        cfg = m.get("props", {}).get("bloom")
        if not cfg or not files:
            return {}
        m_bits, k, cols = cfg["m"], cfg["k"], cfg["cols"]
        data_root = os.path.join(self.root, _DATA_DIR)
        # the shared read path handles column mapping AND widened types
        # (explicit-schema promotion); input_file_name() resolves through
        # its projections because it binds to the scan, not a column
        df = self._read_files(files, m)
        present = [c for c in cols if c in df.columns]
        if not present:
            return {}
        aggs = []
        for c in present:
            s = F.col(c).cast("string")
            for i in range(k):
                # 15 hex digits = 60 bits, exact in conv()'s u64 space;
                # same formula replayed driver-side in _bloom_positions
                pos = (
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit(f"{i}:"), s)), 1, 15),
                        16,
                        10,
                    ).cast("long")
                    % m_bits
                )
                aggs.append(F.collect_set(pos).alias(f"b{len(aggs)}"))
        rows = (
            df.select(F.input_file_name().alias("__file"), *present)
            .groupBy("__file")
            .agg(*aggs)
            .collect()
        )
        # input_file_name() yields a URI (scheme + possible %-escapes);
        # map back to manifest rel paths by FULL path — basenames are
        # NOT unique across the partition directories of one commit
        # (dynamic partition writes reuse the task's part-file name in
        # every directory it touches)
        lookup = _rel_lookup(data_root, files)
        out: dict[str, dict] = {}
        for r in rows:
            vals = list(r)  # [file_uri, then k sets per column, in order]
            rel = lookup.get(_uri_to_path(vals[0]))
            if rel is None:
                continue
            per_col: dict[str, str] = {}
            for ci, c in enumerate(present):
                bits = 0
                for i in range(k):
                    for p in vals[1 + ci * k + i]:
                        bits |= 1 << p
                per_col[c] = format(bits, "x")
            out[rel] = per_col
        return out

    # -- write paths --------------------------------------------------------

    def last_txn_version(self, txn_app: str) -> int | None:
        """Latest committed ``txn_version`` for ``txn_app`` (Delta's
        ``txnVersion(appId)``), or None if the app never committed."""
        v = self._manifest().get("props", {}).get("txns", {}).get(txn_app)
        return int(v) if v is not None else None

    def append(
        self,
        df: DataFrame,
        merge_schema: bool = False,
        max_retries: int = 20,
        txn_app: str | None = None,
        txn_version: int | None = None,
        props_update=None,
    ) -> int:
        """S6/D4 parity: append; new columns allowed iff ``merge_schema``
        (``.option("mergeSchema","true")`` on the reference's Bronze
        append, ``bronze/bronze_rx_claims_load.py:58-63``).

        ``txn_app``/``txn_version`` make the append IDEMPOTENT — Delta's
        ``txnAppId``/``txnVersion`` contract: the commit records the
        app's high-water version in the versioned props, and an append
        whose ``txn_version`` is <= the recorded watermark is skipped
        (no files written, no commit, current version returned).  This
        is the exactly-once streaming-sink primitive: a replayed
        micro-batch re-appends into a no-op at METADATA cost, where a
        MERGE-based sink pays a target-side rewrite to get the same
        guarantee.  Watermarks ride the same props channel as
        constraints, so they survive every DML and RESTORE rolls them
        back with the data (a post-restore replay legitimately
        re-applies batches the restore rolled away).  Versions must be
        monotonically increasing per app (micro-batch ids are).

        Multi-writer safe: appends are purely additive, so on a commit
        collision (another writer published our target version first) the
        append **rebases** — re-reads the latest manifest, re-validates the
        schema against it, and retries with its file list plus ours.  The
        expensive part (writing the parquet files) happens exactly once;
        only the metadata commit loops.  DELETE/UPDATE apply Delta's
        conflict matrix instead (see `_commit_dml_rebase`): disjoint
        concurrent commits rebase and land, overlapping ones raise
        ConcurrentModificationError.  MERGE/OVERWRITE/OPTIMIZE raise
        the typed error on any collision — they read the whole logical
        snapshot, so a sound automatic rebase would amount to
        recomputing, which is the caller's decision."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version must be set together")

        def _txn_seen(m: dict) -> bool:
            if txn_app is None:
                return False
            seen = m.get("props", {}).get("txns", {}).get(txn_app)
            return seen is not None and int(seen) >= txn_version

        files = None
        data_root = os.path.join(self.root, _DATA_DIR)
        m0 = self._manifest()
        # the replay-skip check runs BEFORE constraint enforcement: a
        # replayed batch is already committed data, so (a) the skip must
        # cost metadata, not a batch scan, and (b) a constraint added
        # AFTER the batch landed must not be able to wedge the replay in
        # a permanent enforcement failure
        if _txn_seen(m0):
            return m0["version"]
        df = self._apply_generated(df, m0)
        df = self._apply_defaults(df, m0)
        self._refuse_explicit_identity(df, m0, "APPEND")
        self._enforce_current(df, m0, "APPEND")
        df = self._align_append_types(df, m0)
        hw_used: dict | None = None
        id_bases: dict = {}
        n_written = 0
        for attempt in range(max_retries):
            m = self._manifest()
            if _txn_seen(m):
                # a CONCURRENT duplicate replay won the commit race after
                # we already wrote our files — they are unreferenced by
                # any manifest, so reclaim them now instead of leaking
                # disk until a VACUUM walk
                for f in files or ():
                    try:
                        os.unlink(os.path.join(data_root, f))
                    except OSError:
                        pass
                return m["version"]  # replay of a committed batch
            old = _schema_from_json(self.spark, m["schema"])
            new_cols = set(df.schema.fieldNames()) - set(old.fieldNames())
            if new_cols and not merge_schema:
                raise ValueError(
                    f"schema mismatch (new columns {sorted(new_cols)}); "
                    "pass merge_schema=True to evolve"
                )
            # a new logical name colliding with a live PHYSICAL name or a
            # retired (dropped) column would make old files' data bleed
            # into the new column — route through add_column, which
            # assigns a fresh physical identity
            shadow = new_cols & (
                set(m.get("colmap", {}).values())
                | set(m.get("retired_cols", []))
            )
            if shadow:
                raise ValueError(
                    f"columns {sorted(shadow)} collide with renamed/"
                    "dropped physical columns; use add_column() first"
                )
            ident = m.get("props", {}).get("identity", {})
            hw_now = {c: cfg.get("high_water") for c, cfg in ident.items()}
            if files is not None and ident and hw_now != hw_used:
                # a concurrent identity append consumed our reserved id
                # range: the written files carry stale ids — reclaim
                # them and re-assign from the rebased high water (the
                # only rebase case that must re-write; plain appends
                # never loop here)
                for f in files:
                    try:
                        os.unlink(os.path.join(data_root, f))
                    except OSError:
                        pass
                files = None
            if files is None:
                out_df = df
                if ident:
                    out_df, id_bases = self._assign_identity(df, ident, m)
                    hw_used = hw_now
                files = _write_files(
                    _to_physical_df(out_df, m),
                    self.root,
                    m["partition_by"],
                    optimize_write=_optimize_write_target(m.get("props")),
                )
                stats = _file_stats(data_root, files)
                new_blooms = self._compute_blooms(files, m)
                if ident:
                    n_written = _file_rows(data_root, files)
            if new_cols:
                # UNION with the re-read manifest schema, not df.schema
                # alone: a rebase after another writer's schema evolution
                # must keep THEIR new columns too (committing df.schema
                # verbatim would silently drop them from the manifest)
                from pyspark.sql.types import StructType

                old_names = set(old.fieldNames())
                commit_schema = StructType(
                    list(old.fields)
                    + [f for f in df.schema.fields if f.name not in old_names]
                ).json()
            else:
                commit_schema = m["schema"]
            props = m.get("props", {})
            if txn_app is not None:
                # merge into the REBASED manifest's txn map so a
                # concurrent writer's watermark (different app) survives
                props = {
                    **props,
                    "txns": {**props.get("txns", {}), txn_app: txn_version},
                }
            if id_bases and n_written:
                # advance each ASSIGNED identity high water to the last
                # id this commit allocated — the reservation becomes
                # durable exactly when the commit does (verbatim BY
                # DEFAULT columns never move it)
                props = {
                    **props,
                    "identity": {
                        c: (
                            {
                                **cfg,
                                "high_water": id_bases[c]
                                + cfg["step"] * (n_written - 1),
                            }
                            if c in id_bases
                            else cfg
                        )
                        for c, cfg in ident.items()
                    },
                }
            if props_update is not None:
                # a FUNCTION of the rebased props, not a static dict:
                # rebase-safe prop mutation (e.g. copy_into appending its
                # ledger shard must append to the list a concurrent
                # winner committed, not the one this writer first read)
                props = props_update(props)
            try:
                version = _commit(
                    self.root,
                    version=m["version"] + 1,
                    files=m["files"] + files,
                    schema=commit_schema,
                    partition_by=m["partition_by"],
                    operation="APPEND",
                    merged_schema=bool(new_cols) or m.get("merged_schema", False),
                    stats=stats,
                    props=props,
                    blooms=new_blooms,
                    parent=m,
                    dvs=m.get("dvs", {}),
                    colmap=m.get("colmap", {}),
                    retired_cols=m.get("retired_cols", []),
                    metrics={"files_added": len(files)},
                )
            except FileExistsError:
                time.sleep(min(0.05 * (attempt + 1), 0.5))
                continue
            self._post_commit()
            self._maybe_auto_compact(files)
            return version
        raise FileExistsError(
            f"append lost the commit race {max_retries} times at {self.root}; "
            "extreme contention — back off and retry"
        )

    _INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
    _FLOAT_RANK = {"float": 0, "double": 1}

    def _align_append_types(self, df: DataFrame, m: dict) -> DataFrame:
        """Write-side type guard: a frame column whose type differs from
        the manifest's declared type is CAST when the promotion is
        lossless (integer widening, float→double, integer→double —
        files then carry the declared type) and REFUSED otherwise.
        Without this, an append could write e.g. date-typed parquet
        under a string-declared column — every later read of that file
        fails with a parquet type mismatch, which is silent corruption
        deferred to the reader (found via COPY INTO, where CSV schema
        inference drifts run to run)."""
        declared = {
            f.name: f.dataType
            for f in _schema_from_json(self.spark, m["schema"]).fields
        }
        out = []
        changed = False
        for f in df.schema.fields:
            want = declared.get(f.name)
            if want is None or f.dataType == want:
                out.append(F.col(f.name))
                continue
            have_s = f.dataType.simpleString()
            want_s = want.simpleString()
            ok = (
                (
                    have_s in self._INT_RANK
                    and want_s in self._INT_RANK
                    and self._INT_RANK[have_s] <= self._INT_RANK[want_s]
                )
                or (
                    have_s in self._FLOAT_RANK
                    and want_s in self._FLOAT_RANK
                    and self._FLOAT_RANK[have_s] <= self._FLOAT_RANK[want_s]
                )
                or (have_s in self._INT_RANK and want_s == "double")
            )
            if not ok:
                raise ValueError(
                    f"column {f.name!r} arrives as {have_s} but the table "
                    f"declares {want_s}; no lossless promotion exists — "
                    "cast explicitly (or ALTER COLUMN TYPE to widen)"
                )
            out.append(F.col(f.name).cast(want))
            changed = True
        return df.select(*out) if changed else df

    def copy_into(
        self,
        source_dir: str,
        *,
        fileformat: str = "parquet",
        pattern: str | None = None,
        format_options: dict | None = None,
        merge_schema: bool = False,
        force: bool = False,
    ) -> dict:
        """Databricks ``COPY INTO`` parity: idempotent batch file
        ingestion — load files from ``source_dir`` into the table,
        skipping every file a previous COPY INTO already loaded, so
        re-running the same statement over a growing landing directory
        ingests exactly the new files (the batch counterpart of the
        engine's streaming file source; the reference's bronze job
        re-reads its whole landing glob every run,
        ``bronze/bronze_rx_claims_load.py:38-42``, and relies on
        append-only landing semantics — COPY INTO removes that
        reliance).

        Idempotency keys on the file PATH (Delta's contract: a
        re-uploaded file under the same name is NOT reloaded;
        ``force=True`` is the documented escape hatch that loads every
        match regardless, accepting duplicates).  Paths are
        ``os.path.realpath``-normalized before both the ledger write
        and the skip anti-join, so the same landing directory reached
        via a relative spelling or a symlink still skips.  Upgrade
        caveat handled: ledger shards written before this
        normalization existed may key on the as-given spelling, so the
        skip check matches EITHER spelling (realpath or as-given) —
        new shards always record the realpath.  Size and
        mtime ride in the ledger for audit.  Caveat (shared with
        Delta): two COPY INTO runs racing over the same directory can
        both pass the skip check and double-load — the rebase-safe
        commit keeps both ledger shards, so ``detect_copy_overlap()``
        can audit for it after the fact; serialize COPY INTO per table
        when exact-once matters.

        The loaded-file ledger is NOT stored in the manifest props —
        that would re-introduce the O(loaded-files) manifest growth the
        stats sidecars were moved out for.  Each COPY INTO commit
        writes ONE parquet ledger shard under ``_copy_ledger/`` listing
        the files it loaded, and the props carry only the shard NAMES
        (O(#copy runs)); the skip check reads the shards distributed
        and anti-joins on path, so per-run cost is ∝ listing + change,
        never ∝ table.  Ledger shard + data files + props land in ONE
        commit via the rebase-safe ``props_update`` hook (a crash
        before the commit leaves an unreferenced shard that VACUUM
        sweeps).  ``pattern`` is an fnmatch glob over the path relative
        to ``source_dir``.

        Returns ``{"version", "files_loaded", "files_skipped",
        "rows_loaded"}`` (version unchanged when nothing new matched).
        """
        import fnmatch
        import uuid

        fmt = fileformat.lower()
        listing: list[tuple[str, str, int, int]] = []
        for dirpath, _dirs, fnames in os.walk(source_dir):
            for fname in sorted(fnames):
                if fname.startswith((".", "_")):
                    continue  # Spark's own hidden/metadata convention
                # realpath so the ledger key is spelling-independent:
                # the same landing dir referenced relatively, absolutely
                # or through a symlink must hit the same skip-check rows
                full = os.path.realpath(os.path.join(dirpath, fname))
                # the as-given (non-symlink-resolved) spelling rides
                # along for the skip check only: ledgers written by
                # pre-realpath versions of this method keyed on it, and
                # matching EITHER spelling keeps those files skipped
                # instead of silently re-loading them after an upgrade
                asgiven = os.path.abspath(os.path.join(dirpath, fname))
                rel = os.path.relpath(os.path.join(dirpath, fname), source_dir)
                if pattern is not None and not fnmatch.fnmatch(rel, pattern):
                    continue
                st = os.stat(full)
                listing.append((full, asgiven, st.st_size, st.st_mtime_ns))
        m = self._manifest()
        shards = m.get("props", {}).get("copy_ledger", [])
        n_total = len(listing)
        if listing and shards and not force:
            cand = self.spark.createDataFrame(
                listing, "path string, asgiven string, size long, mtime_ns long"
            )
            ledger = self.spark.read.parquet(
                *[os.path.join(self.root, _LEDGER_DIR, s) for s in shards]
            )
            # skip when EITHER spelling appears in any ledger shard
            # (old shards may key on the as-given path — see above)
            cand_keys = cand.select(
                "path",
                F.explode(
                    F.array_distinct(F.array("path", "asgiven"))
                ).alias("__k"),
            )
            hit = (
                cand_keys.join(
                    ledger.select(F.col("path").alias("__k")), on="__k"
                )
                .select("path")
                .distinct()
            )
            new_paths = {
                r["path"]
                for r in cand.join(hit, on="path", how="anti").collect()
            }
            listing = [t for t in listing if t[0] in new_paths]
        if not listing:
            return {
                "version": m["version"],
                "files_loaded": 0,
                "files_skipped": n_total,
                "rows_loaded": 0,
            }
        reader = self.spark.read.options(**(format_options or {}))
        df = reader.format(fmt).load([t[0] for t in listing])
        # COPY INTO casts to the TARGET schema (Delta's contract): CSV/
        # JSON schema inference drifts run to run (a date-looking string
        # column infers DATE one day), and without the cast those files
        # would land with a type the declared schema cannot read back
        declared = {
            f.name: f.dataType
            for f in _schema_from_json(self.spark, m["schema"]).fields
        }
        df = df.select(
            *[
                F.col(c).cast(declared[c]).alias(c) if c in declared
                else F.col(c)
                for c in df.columns
            ]
        )
        rows = df.count()  # one pass over the NEW files only
        shard_name = f"ledger-{uuid.uuid4().hex}.parquet"
        shard_dir = os.path.join(self.root, _LEDGER_DIR, shard_name)
        loaded_at = time.time()
        self.spark.createDataFrame(
            [(p, s, mt, loaded_at) for p, _asgiven, s, mt in listing],
            "path string, size long, mtime_ns long, loaded_at double",
        ).coalesce(1).write.mode("overwrite").parquet(shard_dir)
        try:
            version = self.append(
                df,
                merge_schema=merge_schema,
                props_update=lambda props: {
                    **props,
                    "copy_ledger": [
                        *props.get("copy_ledger", []),
                        shard_name,
                    ],
                },
            )
        except BaseException:
            shutil.rmtree(shard_dir, ignore_errors=True)
            raise
        return {
            "version": version,
            "files_loaded": len(listing),
            "files_skipped": n_total - len(listing),
            "rows_loaded": rows,
        }

    def detect_copy_overlap(self) -> DataFrame:
        """Audit for the concurrent-COPY INTO race: two racing runs can
        both pass the skip anti-join and double-load the same files
        (both ledger shards survive the rebase-safe commit, making the
        duplication durable).  Returns the source paths loaded by more
        than one shard with their load count — empty means no overlap.
        Distributed ledger-shard read; cost ∝ files ever copied, never
        ∝ table rows."""
        shards = self._manifest().get("props", {}).get("copy_ledger", [])
        if not shards:
            return self.spark.createDataFrame(
                [], "path string, load_count long"
            )
        ledger = self.spark.read.parquet(
            *[os.path.join(self.root, _LEDGER_DIR, s) for s in shards]
        )
        return (
            ledger.groupBy("path")
            .agg(F.count(F.lit(1)).alias("load_count"))
            .filter(F.col("load_count") > 1)
        )

    def _maybe_auto_compact(self, written_files: Sequence[str]) -> None:
        """Delta ``autoCompact`` parity: when the table property
        ``autoCompact`` is set (``True`` or ``{"target_file_mb": M,
        "min_small_files": K}``), an append checks the small-file debt of
        the partition directories IT touched — stat cost ∝ those dirs,
        never the table — and, past ``min_small_files`` small files in
        any of them, runs an incremental OPTIMIZE scoped to exactly
        those dirs as a separate follow-up commit (Delta's auto
        compaction is likewise a post-write OPTIMIZE transaction).  On a
        clustered table the scoped optimize auto-routes to incremental
        re-clustering, so auto-compact composes with liquid clustering
        instead of shredding the layout.  Best-effort by design: a
        commit collision with a concurrent writer abandons the
        compaction (the data is already durable; the next append will
        retry the debt) and never fails the write that triggered it."""
        m = self._manifest()
        ac = m.get("props", {}).get("autoCompact")
        if not ac:
            return
        cfg = ac if isinstance(ac, dict) else {}
        target_mb = int(cfg.get("target_file_mb", 128))
        min_small = int(cfg.get("min_small_files", 4))
        data_root = os.path.join(self.root, _DATA_DIR)
        threshold = target_mb * 1024 * 1024
        dirs = {os.path.dirname(f) for f in written_files}
        debt: dict[str, int] = {}
        for f in m["files"]:
            d = os.path.dirname(f)
            if d in dirs:
                try:
                    small = (
                        os.path.getsize(os.path.join(data_root, f))
                        < threshold
                    )
                except OSError:
                    continue
                if small:
                    debt[d] = debt.get(d, 0) + 1
        hot = sorted(d for d, n in debt.items() if n >= min_small)
        if not hot:
            return
        try:
            self.optimize(target_file_mb=target_mb, partitions=hot)
        except (ConcurrentModificationError, FileExistsError):
            pass  # another writer owns the layout right now; debt keeps

    def overwrite(self, df: DataFrame, extra_props: dict | None = None) -> int:
        """S7 parity: replace table contents (old files stay on disk for
        time travel until VACUUM).  ``extra_props`` merge into the table
        properties IN THE SAME COMMIT — the atomicity a consumer needs to
        couple data with a watermark (e.g. the incremental-refresh
        "refreshed-through version": data and marker must never be
        observable separately, or a crash between two commits
        double-applies the next delta).

        CDC: by default an OVERWRITE writes no sidecar (a snapshot
        replacement has no cheap row delta, and the streaming CDF source
        refuses the commit accordingly).  Set table property
        ``"cdf_overwrite": True`` for Delta's enableChangeDataFeed
        behavior: the commit records delete rows for the OLD snapshot
        and insert rows for the new one — cost ∝ old+new size, which is
        exactly why it's opt-in — making overwrites streamable."""
        m = self._manifest()
        self._gate_append_only("OVERWRITE", m)
        df = self._apply_generated(df, m)
        df = self._apply_defaults(df, m)
        ident = self._refuse_explicit_identity(df, m, "OVERWRITE")
        self._enforce_current(df, m, "OVERWRITE")
        df, id_bases = self._assign_identity(df, ident, m)
        if ident and _prop_on(m.get("props", {}), "cdf_overwrite"):
            # ids feed two write jobs (data + CDC sidecar) and must not
            # re-roll between them
            df = df.localCheckpoint()
        files = _write_files(
            _to_physical_df(df, m),
            self.root,
            m["partition_by"],
            optimize_write=_optimize_write_target(m.get("props")),
        )
        cdc_files: list[str] = []
        if _prop_on(m.get("props", {}), "cdf_overwrite"):
            inv = _logical_inverse(m)
            old = self._read_files_dv(m["files"], m)
            cdc_df = (
                old.withColumn("_change_type", F.lit("delete"))
                .unionByName(
                    df.withColumn("_change_type", F.lit("insert")),
                    allowMissingColumns=True,
                )
                .select(*df.columns, "_change_type")
            )
            cdc_files = _write_files(
                cdc_df,
                self.root,
                [inv.get(c, c) for c in m["partition_by"]],
                subdir=_CDC_DIR,
            )
        id_props = {}
        if id_bases:
            # numbering continues past replaced rows (Delta's contract:
            # identity never reuses values)
            n = _file_rows(os.path.join(self.root, _DATA_DIR), files)
            if n:
                id_props["identity"] = {
                    c: (
                        {
                            **cfg,
                            "high_water": id_bases[c]
                            + cfg["step"] * (n - 1),
                        }
                        if c in id_bases
                        else cfg
                    )
                    for c, cfg in ident.items()
                }
        version = _commit_typed(
            "OVERWRITE",
            root=self.root,
            version=m["version"] + 1,
            files=files,
            schema=df.schema.json(),
            partition_by=m["partition_by"],
            operation="OVERWRITE",
            merged_schema=False,
            stats=_file_stats(os.path.join(self.root, _DATA_DIR), files),
            props={**m.get("props", {}), **(extra_props or {}), **id_props},
            cdc_files=cdc_files,
            # no parent: nothing carries over, so dead-file sidecar refs
            # are dropped here (old versions keep their own manifests)
            blooms=self._compute_blooms(files, m),
            colmap=m.get("colmap", {}),
            retired_cols=m.get("retired_cols", []),
            metrics={
                "files_added": len(files),
                "files_removed": len(m["files"]),
            },
        )
        self._post_commit()
        return version

    def _merge_dup_abort(self, dup_keys, target, keys) -> None:
        """Raise Delta's multiple-source-rows-match error with the
        offending key — the DETAILED path, reached only after the cheap
        guard (folded into the touched-file probe, or the pruned path's
        eager check) says a duplicate source key exists."""
        hit = (
            dup_keys.join(target.select(*keys), keys, "left_semi")
            .limit(1)
            .collect()
        )
        if hit:
            raise ValueError(
                "MERGE aborted: multiple source rows match the "
                f"same target row for key {tuple(hit[0])!r} on "
                f"{keys} — the update would be nondeterministic "
                "(Delta raises the same way). De-duplicate the "
                "source on the merge keys first, or pass "
                "validate_source_keys=False to accept "
                "last-writer-undefined duplicates."
            )

    def merge(
        self,
        source: DataFrame,
        on: Sequence[str],
        when_matched_delete=None,
        source_meta_cols: Sequence[str] = (),
        validate_source_keys: bool = True,
        evolve_schema: bool = False,
        extra_props: dict | None = None,
    ) -> int:
        """D3 parity: keyed upsert with
        ``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` semantics
        (``gold/gold_rx_claims_load.py:216-221``): target rows matching a
        source row by ``on`` are replaced; unmatched source rows are
        inserted; unmatched target rows are kept.  Idempotent: merging the
        same source twice yields byte-identical table state
        (``bronze_silver_gold/readme.md:68-70``).

        ``when_matched_delete`` (a Column predicate over SOURCE rows, the
        ``whenMatchedDelete`` clause) turns the merge into a CDC apply:
        source rows satisfying it DELETE their matched target rows and
        are never inserted themselves (an unmatched delete row is a
        no-op, Delta's semantics); a NULL predicate value counts as not
        matched-for-delete.  ``source_meta_cols`` names source-only
        columns (op flags, sequence numbers) consumed by the predicate
        but excluded from the stored payload — without it a CDC ``_op``
        column would schema-evolve INTO the table.

        One core (Delta's MERGE shape, which writes CDF from the output
        of its single rewrite join): the rewrite files' rows, grouped by
        key (``__t``), FULL OUTER JOIN the source grouped by key
        (``__s``, the delete flag kept as a field).  That joined frame is
        persisted once and every output is a projection of it: the
        stored rows (a key's non-delete source rows if it has any source
        row, else its target rows), the CDC sidecar
        (``update_preimage`` / ``delete`` from ``__t``,
        ``update_postimage`` / ``insert`` from the stored source rows),
        and the matched rows' inherited ``_row_id`` / identity values.
        Invariant: every CDC row equals the row this commit stores (or
        removed) — the data and CDC writes read one evaluation of the
        source, so even ``current_timestamp()`` agrees between them.
        Grouping by key keeps a source row stored once however many
        target rows share its key (a duplicate-key target group
        collapses to the source rows), and keeps each target row's
        pre-image single.

        When every partition column is part of ``on``, only partitions
        present in the source are rewritten — untouched data files carry
        over by reference (partition-pruned MERGE; the 100 TB path).
        Otherwise a touched-file key scan (Delta's findTouchedFiles
        shape) limits the rewrite to files actually containing matched
        keys — merge never degenerates into a full-table rewrite.

        Identity tables merge under Delta's contract: the source OMITS
        the identity column, matched rows inherit their target row's
        identity, and inserts draw a fresh range that advances the high
        water with this commit.

        ``validate_source_keys`` (default on, Delta parity): multiple
        source rows matching the SAME target row make the update
        nondeterministic, so Delta aborts the merge
        (DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET); without the check
        this engine would silently store BOTH source rows.  Duplicate
        keys that match no target row stay legal — they are plain
        multi-row inserts, exactly Delta's behavior.  Cost: the
        duplicate-key flag rides the touched-file probe's own collect
        (no extra Spark action — round 12); the partition-pruned path
        pays a dedicated source count-aggregate, and the detailed
        target-side check runs only when a duplicate actually exists.

        ``evolve_schema`` (Delta's ``withSchemaEvolution()`` / SQL
        ``MERGE WITH SCHEMA EVOLUTION``): opt-in — a source carrying
        columns the target lacks widens the table schema through this
        commit (carried-over narrow files read NULL-filled via
        mergeSchema; the CDC sidecar carries the widened schema so CDF
        consumers see the new column).  Without the flag a wider source
        raises, mirroring the append path's ``merge_schema=True``
        contract.
        """
        m = self._manifest()
        self._gate_append_only("MERGE", m)
        ident = m.get("props", {}).get("identity", {})
        if ident:
            # Delta's contract: the source OMITS identity columns
            # (GENERATED ALWAYS forbids explicit values).  Matched rows
            # INHERIT their target row's identity; inserts draw a fresh
            # contiguous range and advance the high water in this
            # commit.  Identity keys as merge keys make no sense (the
            # source can't carry them) — refused implicitly by the
            # key-column check below.
            self._refuse_explicit_identity(source, m, "MERGE", strict=True)
            bad_keys = set(on) & set(ident)
            if bad_keys:
                raise ValueError(
                    f"merge keys {sorted(bad_keys)} are identity columns; "
                    "the source cannot carry them (GENERATED ALWAYS) — "
                    "merge on a business key instead"
                )
        keys = list(on)
        part_cols = m["partition_by"]
        inv = _logical_inverse(m)
        lpart = [inv.get(c, c) for c in part_cols]
        pruned = bool(part_cols) and set(lpart) <= set(keys)
        # row tracking: read the target WITH ids so matched rows keep
        # their stable identity through the rewrite (inserts stay NULL
        # and draw fresh ids from the commit's base allocation)
        rt = self._rt_state(m) is not None
        target = self.read(with_row_ids=rt)
        # duplicate-source-key guard (Delta
        # DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET): the duplicate-KEY
        # frame is built lazily here over the FULL source (delete rows
        # included) and FOLDED INTO the touched-file probe's one collect
        # on the findTouchedFiles path (round 12 — one fewer Spark
        # action per validated MERGE); the partition-pruned path, whose
        # probe is a partition-value collect, validates eagerly.
        dup_keys = None
        if validate_source_keys:
            dup_keys = (
                source.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .drop("__n")
            )
        # the whenMatchedDelete flag rides as a column, not a filter:
        # delete rows drive the probe, the partition split and the
        # rewrite join like upserts do, and are just never stored.
        # Meta columns are contract-excluded from the payload.
        source = source.withColumn(
            _MERGE_DEL,
            F.lit(False)
            if when_matched_delete is None
            else F.coalesce(when_matched_delete, F.lit(False)),
        )
        if source_meta_cols:
            source = source.drop(*source_meta_cols)
        source = self._apply_defaults(self._apply_generated(source, m), m)
        upserts = source.filter(~F.col(_MERGE_DEL)).drop(_MERGE_DEL)
        extra = (
            set(target.columns)
            - set(upserts.columns)
            - set(ident)
            - ({"_row_id"} if rt else set())
        )
        if extra:
            # whenMatchedUpdateAll replaces whole rows: a source missing
            # target columns would silently drop them from carried rows.
            # (identity columns are exempt — the source MUST omit them;
            # they are attached below.)
            raise ValueError(
                f"merge source is missing target columns {sorted(extra)}; "
                "align schemas (or evolve the source) before merging"
            )
        # A WIDER source is schema evolution (Delta autoMerge semantics):
        # the manifest schema widens and merged_schema flips on, so reads
        # of carried-over narrow files stay deterministic via mergeSchema
        # instead of depending on which footer Spark samples.  OPT-IN
        # (Delta's withSchemaEvolution / MERGE WITH SCHEMA EVOLUTION):
        # without the flag, an unexpected source column is a pipeline
        # bug surfaced loudly, not a silent DDL — exactly the append
        # path's merge_schema=True contract.
        widened = set(upserts.columns) - set(target.columns)
        if widened and not evolve_schema:
            raise ValueError(
                f"merge source carries new columns {sorted(widened)}; "
                "pass evolve_schema=True (SQL: MERGE WITH SCHEMA "
                "EVOLUTION INTO ...) to widen the table, or list them "
                "in source_meta_cols to consume without storing"
            )
        shadow = widened & (
            set(m.get("colmap", {}).values()) | set(m.get("retired_cols", []))
        )
        if shadow:
            raise ValueError(
                f"merge would evolve columns {sorted(shadow)} that collide "
                "with renamed/dropped physical columns; use add_column() first"
            )
        # enforce on the upsert payload only (delete rows and meta
        # columns already stripped): cost ∝ source, never the table
        self._enforce_current(upserts, m, "MERGE")

        if pruned:
            if dup_keys is not None and dup_keys.limit(1).count() > 0:
                self._merge_dup_abort(dup_keys, target, keys)
            # Source partitions are typically few (e.g. days in a batch):
            # collect their values (scalar metadata, not row data) and
            # split target files by whether their partition is touched.
            # Comparison happens in hive-directory space: parsed dir
            # values are URL-unescaped and source values rendered the way
            # Spark renders them (true/false, __HIVE_DEFAULT_PARTITION__
            # for null) so escaping/typing can never misclassify a
            # touched partition as untouched.  Delete-flagged rows
            # rewrite their partitions too.
            touched = [
                tuple(r) for r in source.select(*lpart).distinct().collect()
            ]
            touched_set = {tuple(_hive_value(v) for v in t) for t in touched}
            rewrite_files = [
                f
                for f in m["files"]
                if _partition_values(f, part_cols) in touched_set
            ]
        else:
            # Delta's touched-file scan (findTouchedFiles): even when the
            # merge keys don't subsume the partition columns, only files
            # actually CONTAINING matched keys need rewriting.  The probe
            # is a column-pruned scan of the key columns semi-joined with
            # the distinct source keys (AQE broadcasts the small side —
            # a streaming micro-batch's keys are KBs); the collected hit
            # list is file metadata, not row data, bounded by the file
            # count.  Untouched files carry over by reference, so merge
            # cost is O(key-column scan) + O(files with matches) +
            # O(inserts) — never a full-table rewrite.  DV-aware on both
            # sides: masked rows neither mark a file touched nor get
            # resurrected by the rewrite.
            probe_keys = source.select(*keys).distinct()
            if dup_keys is not None:
                # ride the dup flag on the probe keys so the guard and
                # the touched-file scan share ONE collect; a flagged key
                # that reaches a target file IS a duplicate matching a
                # target row (the detailed abort re-derives the key)
                probe_keys = probe_keys.join(
                    dup_keys.withColumn("__dup", F.lit(True)), keys, "left"
                )
            probe = self._read_files_aligned(m["files"], m, keep_pos=True)
            # Stats-driven side choice (CBO): when THIS snapshot's
            # ANALYZE column stats bound the target's key projection
            # under the broadcast threshold (a dim table maintained by
            # MERGE — the _scoped_dim_refresh shape), broadcast the
            # TARGET key scan and probe it with the source keys: the
            # source side — potentially a 100 TB batch — never
            # shuffles.  left-semi can only build its RIGHT side, so
            # the small-target form is the equivalent inner-join +
            # distinct-file projection.  No fresh stats, or a large
            # target -> the existing shape (AQE broadcasts the source
            # keys when the micro-batch is small).
            fresh = self._fresh_stats(m)
            est = cbo.estimated_size(fresh, list(keys))
            if est is not None:
                # the broadcast frame is (keys, __rel): a file-path
                # STRING rides every row and typically dominates the
                # key width — a ~1.3M-bigint-key table just under the
                # 10 MiB key estimate would otherwise ship 100+ MB to
                # every executor.  Use the measured average path length
                # over this manifest's own files.
                avg_path = (
                    sum(len(f) for f in m["files"]) / len(m["files"])
                    if m["files"]
                    else 0.0
                )
                rows = (fresh or {}).get("num_rows") or 0
                est += int(rows * (avg_path + cbo._STRING_OVERHEAD))
            sel = ["__rel"] + (["__dup"] if dup_keys is not None else [])
            if est is not None and est <= cbo.DEFAULT_BROADCAST_THRESHOLD:
                hit = (
                    probe_keys.join(
                        F.broadcast(probe.select(*keys, "__rel")),
                        keys,
                        "inner",
                    )
                    .select(*sel)
                    .distinct()
                    .collect()
                )
            else:
                # inner (not left_semi) so the __dup flag can ride; the
                # probe keys are DISTINCT, so output cardinality equals
                # the semi join's (one row per matching target row,
                # bounded by the distinct projection)
                hit = (
                    probe.select(*keys, "__rel")
                    .join(probe_keys, keys, "inner")
                    .select(*sel)
                    .distinct()
                    .collect()
                )
            if dup_keys is not None and any(r["__dup"] for r in hit):
                self._merge_dup_abort(dup_keys, target, keys)
            rewrite_files = sorted({r["__rel"] for r in hit})
        carried = [f for f in m["files"] if f not in set(rewrite_files)]

        if not rewrite_files and not widened and upserts.isEmpty():
            # skipRecordingEmptyCommits parity: no target file contains
            # a matched key and the upsert payload is empty (a
            # pure-delete source that matched nothing) — nothing can
            # change, so commit nothing, exactly as the zero-match
            # delete()/update() paths do.  The isEmpty probe
            # only runs on the already-rare zero-touched-file path.
            return m["version"]

        # DV-aware read: merge must not resurrect rows a merge-on-read
        # DELETE already masked in the rewrite files
        target = (
            self._read_files_dv(rewrite_files, m, with_row_ids=rt)
            if rewrite_files
            else target.limit(0)
        )
        # stored column order: the payload, then the inherited ids
        src_cols = upserts.columns
        out_cols = src_cols + (["_row_id"] if rt else []) + list(ident)
        tgt = target.groupBy(*keys).agg(
            F.collect_list(
                F.struct(
                    *[
                        F.col(c)
                        if c in target.columns
                        else F.lit(None)
                        .cast(upserts.schema[c].dataType)
                        .alias(c)
                        for c in out_cols
                    ]
                )
            ).alias("__t")
        )
        src = source.groupBy(*keys).agg(
            F.collect_list(F.struct(*src_cols, _MERGE_DEL)).alias("__s")
        )
        # the ONE frame both writes read: persisted so the data rewrite
        # and the CDC sidecar see one evaluation of the source and one
        # scan of the rewrite files.  try/finally below: a commit
        # conflict must not leak the cache.
        joined = tgt.join(src, keys, "full_outer").persist()
        try:
            return self._merge_publish(
                m,
                joined,
                src_cols,
                out_cols,
                carried,
                widened,
                rt,
                ident,
                lpart,
                part_cols,
                extra_props,
            )
        finally:
            joined.unpersist()

    def _merge_publish(
        self,
        m,
        joined,
        src_cols,
        out_cols,
        carried,
        widened,
        rt,
        ident,
        lpart,
        part_cols,
        extra_props,
    ) -> int:
        """The write-and-commit tail of :meth:`merge`: project the stored
        rows and the CDC rows from the persisted one-row-per-key
        ``joined`` frame (``__t`` target rows, ``__s`` source rows), write
        both, commit.  Split out so ``joined`` is released by a
        try/finally even when the commit loses a conflict race."""
        matched = F.col("__t").isNotNull()
        has_src = F.col("__s").isNotNull()
        ups = F.filter("__s", lambda x: ~x[_MERGE_DEL])
        id_cols = out_cols[len(src_cols):]

        def _stored(x, i):
            # a stored source row inherits the ids of the target row at
            # its position in the key group (a key-unique target has one;
            # an unvalidated source's duplicate-key groups pair row for
            # row);
            # rows past the group's end and inserts get NULL ids
            tx = F.try_element_at(F.col("__t"), i + 1)
            return F.struct(
                *[x[c].alias(c) for c in src_cols],
                *[tx[c].alias(c) for c in id_cols],
            )

        # ONE projection yields the stored rows (so the data write keeps
        # the joined frame's partitioning): a key with source rows
        # stores its non-delete source rows, a key without keeps __t
        rows = joined.select(
            F.explode(
                F.when(has_src, F.transform(ups, _stored)).otherwise(
                    F.col("__t")
                )
            ).alias("__r"),
            matched.alias("__m"),
            has_src.alias("__new"),
        ).select("__r.*", "__m", "__new")
        id_bases: dict = {}
        n_fresh = 0
        if ident:
            # stored rows with no inherited identity draw a fresh
            # contiguous range from the high water, which this commit
            # advances.  A concurrent identity append aborts this merge
            # on version collision (_commit_typed), so the reservation
            # can never double-allocate.  localCheckpoint pins the drawn
            # ids: the data and CDC writes both read them, and
            # monotonically_increasing_id would re-roll between the two
            need = F.col(next(iter(ident))).isNull()
            fresh_src = rows.filter(need).drop(*ident)
            n_fresh = fresh_src.count()
            fresh, id_bases = self._assign_identity(fresh_src, ident, m)
            rows = rows.filter(~need).unionByName(fresh.localCheckpoint())
        merged = rows.drop("__m", "__new")
        if rt:
            merged = merged.withColumnRenamed("_row_id", _ROW_ID_PHYS)
        data_root = os.path.join(self.root, _DATA_DIR)
        # CDC sidecar (Delta CDF parity for MERGE), projected from the
        # same frame: matched target rows are update_preimage (or delete
        # when their key stores no source row), stored source rows are
        # update_postimage (key matched) or insert.  Row-tracked tables
        # keep ``_row_id`` on every sidecar row so the sidecar can serve
        # changes_between(with_row_ids=True) — see _commit's cdc_row_ids
        pre = joined.filter(matched & has_src).select(
            F.explode("__t").alias("__r"),
            F.when(F.size(ups) > 0, F.lit("update_preimage"))
            .otherwise(F.lit("delete"))
            .alias("_change_type"),
        ).select("__r.*", "_change_type")
        post = rows.filter(F.col("__new")).select(
            *out_cols,
            F.when(F.col("__m"), F.lit("update_postimage"))
            .otherwise(F.lit("insert"))
            .alias("_change_type"),
        )
        cdc_df = pre.unionByName(post)
        if not part_cols:
            # AQE never coalesces inside a cached plan, so the joined
            # frame keeps every shuffle partition: let each write's own
            # AQE rebalance size its files (partitioned writes already
            # rebalance by partition value) — else a small MERGE lands
            # one file per shuffle partition
            merged, cdc_df = merged.hint("rebalance"), cdc_df.hint("rebalance")
        # row-level operation metrics ride the CDC write action itself
        # (observe = CollectMetrics, zero extra Spark actions): the CDC
        # frame already enumerates exactly the updated / inserted /
        # deleted rows, so counting them here replaces the separate
        # post-commit count jobs callers used to pay (round 12 — the
        # per-action DML commit floor)
        from pyspark.sql import Observation

        cdc_obs = Observation()
        cdc_df = cdc_df.observe(
            cdc_obs,
            *[
                F.sum((F.col("_change_type") == t).cast("long")).alias(a)
                for t, a in (
                    ("update_postimage", "__u"),
                    ("insert", "__i"),
                    ("delete", "__d"),
                )
            ],
        )
        # two independent actions over the persisted joined frame,
        # overlapped in driver threads instead of paying two serial
        # plan/codegen/schedule floors
        files, cdc_files = _write_files_concurrent(
            (
                _to_physical_df(merged, m),
                {"root": self.root, "part_cols": part_cols},
            ),
            (
                cdc_df,
                {"root": self.root, "part_cols": lpart, "subdir": _CDC_DIR},
            ),
        )
        cdc_counts = cdc_obs.get  # the write above ran the action
        # insert rows' stable ids are assigned by the data write (file
        # base + row index, _rt_advance) and are NULL in the sidecar —
        # only an insert-free merge sidecar can serve
        # changes_between(with_row_ids=True); the observed counts make
        # that check free
        cdc_ids_ok = rt and int(cdc_counts.get("__i") or 0) == 0
        commit_props = m.get("props", {})
        if extra_props:
            # caller-supplied props land in the SAME commit as the data
            # (e.g. a materialized view's refresh cursor — crash-atomic
            # exactly like overwrite's extra_props)
            commit_props = {**commit_props, **extra_props}
        if id_bases and n_fresh:
            # the inserts' reserved identity range becomes durable with
            # this commit, exactly like append's reservation
            commit_props = {
                **commit_props,
                "identity": {
                    c: (
                        {
                            **cfg,
                            "high_water": id_bases[c]
                            + cfg["step"] * (n_fresh - 1),
                        }
                        if c in id_bases
                        else cfg
                    )
                    for c, cfg in ident.items()
                },
            }
        version = _commit_typed(
            "MERGE",
            root=self.root,
            version=m["version"] + 1,
            files=carried + files,
            schema=(
                merged.drop(_ROW_ID_PHYS).schema.json()
                if widened
                else m["schema"]
            ),
            partition_by=part_cols,
            operation="MERGE",
            merged_schema=bool(widened) or m.get("merged_schema", False),
            stats=_file_stats(data_root, files),
            props=commit_props,
            blooms=self._compute_blooms(files, m),
            parent=m,
            cdc_files=cdc_files,
            cdc_row_ids=cdc_ids_ok,
            dvs={
                f: v
                for f, v in m.get("dvs", {}).items()
                if f in set(carried)
            },
            colmap=m.get("colmap", {}),
            retired_cols=m.get("retired_cols", []),
            metrics={
                "files_added": len(files),
                "files_removed": len(m["files"]) - len(carried),
                "files_carried": len(carried),
                # Delta's numTargetRows{Updated,Inserted,Deleted} —
                # observed during the CDC write, never a separate job
                "rows_updated": int(cdc_counts.get("__u") or 0),
                "rows_inserted": int(cdc_counts.get("__i") or 0),
                "rows_deleted": int(cdc_counts.get("__d") or 0),
            },
        )
        self._post_commit()
        return version

    # -- maintenance --------------------------------------------------------

    def optimize(
        self,
        target_file_mb: int = 128,
        zorder_by: Sequence[str] | None = None,
        n_files: int | None = None,
        where: str | None = None,
        incremental: bool = False,
        boundary_below_mb: float | None = None,
        partitions: Sequence[str] | None = None,
    ) -> int:
        """D6/D7 parity: compact small files toward ``target_file_mb`` and
        optionally cluster by ``zorder_by`` columns with TRUE interleaved
        Z-ordering (``bronze_silver_gold/readme.md:107-108`` prescribes
        Z-ORDER on member/provider/date): each clustering column is
        quantile-bucketed into 2^bits ranks, the rank bits are interleaved
        into a z-value, and files are range-clustered + sorted on that
        z-value.  Unlike a lexical multi-column sort (tight min/max on the
        leading column only), every z-ordered file covers a narrow range
        of EVERY clustering column, so selective filters on the second and
        third columns also prune files.

        Incremental by default — routine maintenance must cost the
        CHANGE, not the table: plain compaction touches only partition
        groups holding ≥ 2 files below ``target_file_mb`` (everything
        else carries into the new manifest by reference), so re-running
        OPTIMIZE on an already-compacted table is a no-op that commits
        nothing.  ``where`` (``OPTIMIZE ... WHERE`` parity) scopes any
        mode to the files its prunable predicate may touch — the knob
        that z-orders yesterday's partition instead of 7 years; an
        unprunable predicate raises rather than silently rewriting the
        world.  Explicit ``n_files`` (or ``zorder_by`` without
        ``incremental``) requests a deliberate layout and rewrites the
        full scope.

        **Incremental clustering** (Delta liquid-clustering's core
        trick): every z-order commit records its clustering columns and
        the commit prefixes of the files it wrote in the versioned
        props.  ``optimize(zorder_by=..., incremental=True)`` then
        rewrites ONLY in-scope files NOT produced by a recorded
        clustered commit (new appends / DML rewrites) plus any
        DV-masked file — rolling maintenance costs the change, never
        the layout.  ``boundary_below_mb`` additionally folds in
        already-clustered files below that size (boundary merges, so
        many small incremental layers re-merge instead of accumulating);
        re-running with nothing new is a no-op.  A plain ``optimize()``
        on a table with clustering state auto-routes here — routine
        compaction must never silently destroy a clustered layout
        (Delta's OPTIMIZE on a ``CLUSTER BY`` table behaves the same)."""
        m = self._manifest()
        part_cols = m["partition_by"]
        data_root = os.path.join(self.root, _DATA_DIR)
        pred = None
        if where is not None:
            from azure_databricks_lakehouse_spark.plans.pruning import (
                parse_predicate,
            )

            pred = parse_predicate(where)
            if pred is None:
                raise ValueError(
                    f"OPTIMIZE WHERE predicate is not prunable: {where!r} "
                    "(supported: col-vs-literal comparisons, IN, BETWEEN, "
                    "IS NULL, AND/OR)"
                )
        cluster_state = m.get("props", {}).get("clustering")
        if zorder_by is None and n_files is None and cluster_state:
            # plain compaction on a clustered table: re-cluster the new
            # files into the existing layout instead of shredding it
            zorder_by = list(cluster_state["cols"])
            incremental = True
        scope = self._prune_files(m, pred)
        if partitions is not None:
            # restrict to the given hive partition directories (relative;
            # '' = unpartitioned root) — the auto-compact hook, which
            # already knows WHICH dirs a write touched and must not pay
            # a predicate parse or a full-table stat to scope to them
            pdirs = {p.rstrip("/") for p in partitions}
            scope = [f for f in scope if os.path.dirname(f) in pdirs]
        size = {f: os.path.getsize(os.path.join(data_root, f)) for f in scope}
        threshold = target_file_mb * 1024 * 1024
        dvs_map = m.get("dvs", {})
        incr_compatible = bool(
            zorder_by
            and incremental
            and cluster_state
            and list(cluster_state["cols"]) == list(zorder_by)
        )
        if incr_compatible:
            prefixes = set(cluster_state.get("prefixes", []))
            clustered = {f for f in scope if _commit_prefix(f) in prefixes}
            boundary = (
                {
                    f
                    for f in clustered
                    if size[f] < boundary_below_mb * 1024 * 1024
                }
                if boundary_below_mb
                else set()
            )
            rewrite = sorted(
                {f for f in scope if f not in clustered}
                # merge-on-read debt inside the layout is folded away too
                | {f for f in clustered if f in dvs_map}
                | boundary
            )
        elif zorder_by or n_files is not None:
            rewrite = list(scope)
        else:
            by_dir: dict[str, list[str]] = {}
            for f in scope:
                if size[f] < threshold:
                    by_dir.setdefault(os.path.dirname(f), []).append(f)
            rewrite = [
                f
                for group in by_dir.values()
                if len(group) >= 2
                for f in group
            ]
            # any in-scope file masked by a deletion vector is rewritten
            # too: OPTIMIZE is where merge-on-read debt is materialized
            # away (Delta's REORG ... APPLY (PURGE) folded into routine
            # compaction)
            rewrite = sorted(set(rewrite) | {f for f in scope if f in dvs_map})
        if not rewrite:
            return m["version"]  # already compact — idempotent no-op
        rewrite_set = set(rewrite)
        carried = [f for f in m["files"] if f not in rewrite_set]
        # compaction is row-preserving by contract — materialize row ids
        # so OPTIMIZE never changes a row's stable identity
        df = self._read_files_aligned(
            rewrite, m, with_row_ids=self._rt_state(m) is not None
        )
        if n_files is None:
            n_files = max(
                1, round(sum(size[f] for f in rewrite) / threshold)
            )
        if zorder_by:
            # preserve_layout stops _write_files' REBALANCE from
            # re-shuffling (and thereby destroying) exactly this clustering.
            inv = _logical_inverse(m)
            lpart = [inv.get(c, c) for c in part_cols]
            zval = _zvalue(df, list(zorder_by))
            df = (
                df.withColumn("__zval", zval)
                .repartitionByRange(n_files, *lpart, "__zval")
                .sortWithinPartitions(*lpart, "__zval")
                .drop("__zval")
            )
            files = _write_files(
                _to_physical_df(df, m), self.root, part_cols, preserve_layout=True
            )
        elif part_cols:
            # REBALANCE on the partition columns merges each partition's
            # small files in one parallel pass
            files = _write_files(_to_physical_df(df, m), self.root, part_cols)
        else:
            files = _write_files(
                _to_physical_df(df.coalesce(n_files), m),
                self.root,
                part_cols,
                preserve_layout=True,
            )
        props = dict(m.get("props", {}))
        if zorder_by:
            # clustering state: the commit prefixes whose files ARE the
            # clustered layout.  Prefixes are O(maintenance runs),
            # pruned to those still owning a live file — never
            # O(files).  Any same-column z-order KEEPS the surviving
            # carried prefixes: a `where`-scoped full re-cluster
            # rewrote only its scope, and forgetting the out-of-scope
            # files' clustered status would make the next routine
            # optimize() rewrite the rest of the table — the O(table)
            # surprise the incremental contract exists to prevent.
            # Changing the clustering COLUMNS resets the state.
            new_prefix = {_commit_prefix(f) for f in files}
            if cluster_state and list(cluster_state["cols"]) == list(
                zorder_by
            ):
                alive = {_commit_prefix(f) for f in carried}
                kept = set(cluster_state.get("prefixes", [])) & alive
            else:
                kept = set()
            props["clustering"] = {
                "cols": list(zorder_by),
                "prefixes": sorted(kept | new_prefix),
            }
        elif cluster_state is not None:
            # explicit n_files rewrite WITHOUT z-ordering on a clustered
            # table: the layout is deliberately shredded — drop the
            # state instead of leaving it stale
            props.pop("clustering", None)
        version = _commit_typed(
            "OPTIMIZE",
            root=self.root,
            version=m["version"] + 1,
            files=carried + files,
            schema=m["schema"],
            partition_by=m["partition_by"],
            operation="OPTIMIZE",
            merged_schema=m.get("merged_schema", False),
            stats=_file_stats(data_root, files),
            props=props,
            blooms=self._compute_blooms(files, m),
            parent=m,
            dvs={f: v for f, v in dvs_map.items() if f not in rewrite_set},
            colmap=m.get("colmap", {}),
            retired_cols=m.get("retired_cols", []),
            metrics={
                "files_compacted": len(rewrite),
                "files_added": len(files),
            },
        )
        self._post_commit()
        return version

    def purge_deletion_vectors(self, where: str | None = None) -> int:
        """Delta parity: ``REORG TABLE ... APPLY (PURGE)`` — rewrite
        EXACTLY the files carrying deletion vectors (optionally scoped by
        a prunable ``where``), materializing merge-on-read deletes into
        clean files.  No-op returning the current version when nothing
        is masked.  Routine OPTIMIZE also purges; this is the targeted
        knob when compaction isn't otherwise due."""
        m = self._manifest()
        pred = None
        if where is not None:
            from azure_databricks_lakehouse_spark.plans.pruning import (
                parse_predicate,
            )

            pred = parse_predicate(where)
            if pred is None:
                raise ValueError(f"predicate is not prunable: {where!r}")
        dvs_map = m.get("dvs", {})
        scope = set(self._prune_files(m, pred))
        rewrite = sorted(f for f in dvs_map if f in scope)
        if not rewrite:
            return m["version"]
        rewrite_set = set(rewrite)
        carried = [f for f in m["files"] if f not in rewrite_set]
        files = _write_files(
            _to_physical_df(
                self._read_files_aligned(
                    rewrite, m, with_row_ids=self._rt_state(m) is not None
                ),
                m,
            ),
            self.root,
            m["partition_by"],
        )
        version = _commit_typed(
            "OPTIMIZE",
            root=self.root,
            version=m["version"] + 1,
            files=carried + files,
            schema=m["schema"],
            partition_by=m["partition_by"],
            operation="OPTIMIZE",  # data-preserving: CDF skips it
            merged_schema=m.get("merged_schema", False),
            stats=_file_stats(os.path.join(self.root, _DATA_DIR), files),
            props=m.get("props", {}),
            blooms=self._compute_blooms(files, m),
            parent=m,
            dvs={f: v for f, v in dvs_map.items() if f not in rewrite_set},
            colmap=m.get("colmap", {}),
            retired_cols=m.get("retired_cols", []),
            metrics={
                "files_compacted": len(rewrite),
                "files_added": len(files),
            },
        )
        self._post_commit()
        return version

    def vacuum(
        self,
        keep_versions: int = 1,
        staging_ttl_seconds: float = 86400.0,
        dry_run: bool = False,
    ) -> int:
        """D8 parity: delete data files unreferenced by the newest
        ``keep_versions`` manifests, and drop older manifests.  Time travel
        earlier than that horizon becomes impossible — same contract as
        Delta's retention-bounded VACUUM.

        Also sweeps orphaned ``_staging_*`` write directories older than
        ``staging_ttl_seconds`` — a writer that crashed between
        ``_write_files`` and its commit leaves one behind, referenced by
        nothing (the TTL protects a concurrent in-flight write; Delta's
        VACUUM applies the same uncommitted-file retention logic).

        ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) counts what a
        real run would remove — same walk, zero deletions, no manifest
        dropped — so an operator can see the blast radius before
        shrinking the time-travel horizon."""
        vs = self._versions()
        keep = vs[-keep_versions:]
        referenced: set[str] = set()
        referenced_cdc: set[str] = set()
        referenced_dv: set[str] = set()
        referenced_sc: set[str] = set()
        referenced_ledger: set[str] = set()
        for v in keep:
            m = self._manifest(v)
            referenced.update(m["files"])
            referenced_cdc.update(m.get("cdc_files", []))
            referenced_sc.update(m.get("stats_sidecars", []))
            referenced_ledger.update(
                m.get("props", {}).get("copy_ledger", [])
            )
            for dv_rels in m.get("dvs", {}).values():
                referenced_dv.update(dv_rels)
        removed = 0

        def _sweep(root_dir: str, keep_rels: set[str]) -> int:
            n = 0
            if not os.path.isdir(root_dir):
                return 0
            for dirpath, _dirs, fnames in os.walk(root_dir, topdown=False):
                for fname in fnames:
                    full = os.path.join(dirpath, fname)
                    if os.path.relpath(full, root_dir) not in keep_rels:
                        if not dry_run:
                            os.remove(full)
                        n += 1
                if (
                    not dry_run
                    and dirpath != root_dir
                    and not os.listdir(dirpath)
                ):
                    os.rmdir(dirpath)
            return n

        removed += _sweep(os.path.join(self.root, _DATA_DIR), referenced)
        # CDC sidecars age out with their commit's manifest, same horizon
        removed += _sweep(os.path.join(self.root, _CDC_DIR), referenced_cdc)
        # DV sidecars likewise: superseded by OPTIMIZE/purge or rewrites
        removed += _sweep(os.path.join(self.root, _DV_DIR), referenced_dv)
        # stats/bloom sidecars: kept iff a surviving manifest points at
        # them (consolidation + expired versions orphan the rest)
        removed += _sweep(os.path.join(self.root, _SIDECAR_DIR), referenced_sc)
        # COPY INTO ledger shards are parquet DIRECTORIES; one survives
        # iff a kept manifest's props still list it (a crash between
        # shard write and commit orphans one — swept here)
        ledger_root = os.path.join(self.root, _LEDGER_DIR)
        if os.path.isdir(ledger_root):
            for name in os.listdir(ledger_root):
                if name not in referenced_ledger:
                    if not dry_run:
                        shutil.rmtree(
                            os.path.join(ledger_root, name),
                            ignore_errors=True,
                        )
                    removed += 1
        if not dry_run:
            for v in vs[:-keep_versions]:
                os.remove(_manifest_path(self.root, v))
        now = time.time()
        for name in os.listdir(self.root):
            if not name.startswith("_staging_"):
                continue
            full = os.path.join(self.root, name)
            try:
                if (
                    os.path.isdir(full)
                    and now - os.path.getmtime(full) > staging_ttl_seconds
                ):
                    if not dry_run:
                        shutil.rmtree(full)
                    removed += 1
            except OSError:
                pass  # concurrent writer finished its move mid-sweep
        return removed

    def fsck(self, dry_run: bool = False) -> dict:
        """Delta ``FSCK REPAIR TABLE`` parity: drop manifest references
        to data files that no longer exist on storage (out-of-band
        deletion, partial restore, storage loss) so reads stop failing
        on the missing tail.  Metadata-only: one stat per referenced
        file, one commit; DV entries and (via parent-ref consolidation)
        stats for the dropped references go with them.  ``dry_run``
        reports without committing.  Returns ``{"missing_files",
        "version"}``."""
        m = self._manifest()
        data_root = os.path.join(self.root, _DATA_DIR)
        missing = [
            f
            for f in m["files"]
            if not os.path.exists(os.path.join(data_root, f))
        ]
        if dry_run or not missing:
            return {"missing_files": missing, "version": m["version"]}
        gone = set(missing)
        version = _commit(
            self.root,
            version=m["version"] + 1,
            files=[f for f in m["files"] if f not in gone],
            schema=m["schema"],
            partition_by=m["partition_by"],
            operation="FSCK",
            merged_schema=m.get("merged_schema", False),
            props=m.get("props", {}),
            parent=m,
            dvs={
                f: v for f, v in m.get("dvs", {}).items() if f not in gone
            },
            colmap=m.get("colmap", {}),
            retired_cols=m.get("retired_cols", []),
            metrics={"files_removed": len(missing)},
        )
        self._post_commit()
        return {"missing_files": missing, "version": version}

    def cache(self) -> DataFrame:
        """D9 parity: cached snapshot of the current version."""
        return self.read().cache()

    # -- change data feed ---------------------------------------------------

    def changes_between(
        self,
        start_version: int,
        end_version: int | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Row-level changes committed in ``(start_version, end_version]``
        — the CDF read (Delta's ``table_changes``) that lets a downstream
        pipeline process only what moved instead of re-reading the
        snapshot.  Returns the table schema plus ``_change_type``
        (``insert`` / ``delete``), ``_commit_version``, and
        ``_commit_timestamp`` (the commit's wall-clock instant — Delta's
        CDF column of the same name); an UPDATE surfaces as its
        delete + insert pair.

        Reconstruction is from the manifest file-sets, per version:

        - **Append-shaped commits** (CREATE/APPEND — no files removed):
          read exactly the added files, tag ``insert``.  Zero shuffle,
          cost proportional to the change, not the table — the path that
          matters at 100 TB, where CDC consumers poll every few minutes
          and the delta is a few files.
        - **Rewrite commits** (DELETE/UPDATE/MERGE/OVERWRITE/RESTORE):
          rewritten files hold a mix of changed and carried-over rows, so
          the exact diff is ``added EXCEPT ALL removed`` (inserts) and
          ``removed EXCEPT ALL added`` (deletes).  One shuffle over the
          touched files only — the same backfill Delta runs for tables
          that enabled CDF after the fact.  For partition-pruned MERGEs
          (our implementation rewrites only touched partitions) the
          touched-file set is already narrow.
        - **OPTIMIZE** commits are data-preserving by contract
          (compaction/clustering) and are skipped outright.

        Versions older than the VACUUM horizon raise FileNotFoundError
        (their manifests are gone) — same retention contract as reads.

        ``with_row_ids`` (row tracking × CDF — the composition Delta
        built row tracking for) adds ``_row_id`` to every change row:
        an UPDATE's delete+insert pair SHARES its id, so a consumer can
        maintain row-level state (e.g. a projection MV) by keying on
        the id instead of guessing multiset membership.  Requires
        ``delta.enableRowTracking`` across the whole window; CDC
        sidecars carry no ids, so every commit takes the file-diff
        reconstruction (cost ∝ the commit's touched files).
        """
        end = self.latest_version() if end_version is None else end_version
        if start_version > end:
            raise ValueError(
                f"start_version {start_version} is after end_version {end}"
            )
        have = set(self._versions())
        missing = [
            v for v in range(max(start_version, 0), end + 1) if v not in have
        ]
        if missing:
            raise FileNotFoundError(
                f"manifests for versions {missing} are gone (VACUUMed?) — "
                "cannot reconstruct changes across a missing base snapshot"
            )
        # every slice is delivered under the END version's LOGICAL names:
        # physical file columns are immutable, so the end colmap resolves
        # files from every commit in the range, and a rename inside the
        # range must not split one column into two union branches
        end_m = self._manifest(end if end in have else None)
        end_naming = {
            "colmap": end_m.get("colmap", {}),
            "retired_cols": end_m.get("retired_cols", []),
        }
        inv_end = _logical_inverse(end_m)

        def _renamed(m_v: dict, df: DataFrame) -> DataFrame:
            """CDC sidecar columns (logical at commit time v) -> logical
            at the end version, via the shared physical identity."""
            cmap_v = m_v.get("colmap", {})
            renames = {}
            for c in df.columns:
                phys = cmap_v.get(c, c)
                now = inv_end.get(phys, phys)
                if now != c:
                    renames[c] = now
            return df.withColumnsRenamed(renames) if renames else df

        def _at_end(m_v: dict) -> dict:
            """Manifest ``m_v`` with the END version's naming: colmap /
            retired_cols replaced, and schema field names translated
            logical-at-v -> logical-at-end (same physical identity), so
            even empty-file-list frames carry current names."""
            cmap_v = m_v.get("colmap", {})
            schema = json.loads(m_v["schema"])
            for f in schema.get("fields", []):
                phys = cmap_v.get(f["name"], f["name"])
                f["name"] = inv_end.get(phys, phys)
            return {**m_v, **end_naming, "schema": json.dumps(schema)}

        def _commit_ts(man: dict):
            # Delta CDF's _commit_timestamp: the commit's wall-clock
            # instant, from the manifest (microsecond-truncated)
            ts = man.get("timestamp")
            if ts is None:
                return F.lit(None).cast("timestamp")
            return F.timestamp_micros(F.lit(int(ts * 1e6)))

        slices: list[DataFrame] = []
        for v in range(start_version + 1, end + 1):
            m_v = self._manifest(v)
            m = _at_end(m_v)
            if with_row_ids and self._rt_state(m_v) is None:
                raise ValueError(
                    f"changes_between(with_row_ids=True): version {v} "
                    "has no row-tracking state — enable "
                    "delta.enableRowTracking before the window starts"
                )
            if m["operation"] == "OPTIMIZE":
                continue
            if m["operation"] == "FSCK":
                # the removed rows' bytes are LOST — reconstructing the
                # delete half of the diff is impossible, and silently
                # skipping would hand consumers a stream missing real
                # deletions.  Same stance as Delta: repair breaks CDF
                # continuity across the repaired version.
                raise ValueError(
                    f"version {v} is an FSCK repair; its removed rows "
                    "cannot be reconstructed — restart the CDF consumer "
                    "from a snapshot at or after this version"
                )
            cdc = m.get("cdc_files", [])
            if cdc and (not with_row_ids or m_v.get("cdc_row_ids")):
                # DELETE/UPDATE commits record their exact row deltas as
                # a CDC sidecar — read it directly (cost ∝ changed rows,
                # zero shuffle) instead of the EXCEPT ALL reconstruction.
                # Delta's update_pre/postimage row types map onto this
                # API's delete/insert contract (an UPDATE is its
                # delete + insert pair).  One visible difference from
                # the reconstruction: an identity update (post == pre)
                # surfaces both rows instead of cancelling — Delta's CDF
                # behaves the same way.  Row-tracked DML sidecars carry
                # ``_row_id`` (manifest ``cdc_row_ids``), so the
                # with_row_ids read takes the same zero-shuffle path;
                # sidecars without ids (or pre-row-tracking history)
                # fall back to the file-diff reconstruction below, and
                # non-id readers drop the column to keep the CDF schema.
                ct = F.col("_change_type")
                cdc_df = _renamed(m_v, self._read_cdc_files(cdc))
                if not with_row_ids and "_row_id" in cdc_df.columns:
                    cdc_df = cdc_df.drop("_row_id")
                slices.append(
                    cdc_df.withColumn(
                        "_change_type",
                        F.when(ct == "update_preimage", F.lit("delete"))
                        .when(ct == "update_postimage", F.lit("insert"))
                        .otherwise(ct),
                    )
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                    .withColumn("_commit_timestamp", _commit_ts(m_v))
                )
                continue
            # start_version = -1 includes v0: everything since creation
            prev = (
                _at_end(self._manifest(v - 1))
                if v > 0
                else {"files": [], "dvs": {}}
            )
            prev_files = set(prev["files"])
            cur_files = set(m["files"])
            # a carried file whose deletion-vector state changed (e.g.
            # RESTORE across a merge-on-read DELETE) contributes a row
            # diff without a file diff: treat it as removed+re-added and
            # let EXCEPT ALL find the row-level change under each side's
            # own DV mask
            dv_changed = {
                f
                for f in cur_files & prev_files
                if m.get("dvs", {}).get(f) != prev.get("dvs", {}).get(f)
            }
            added = sorted((cur_files - prev_files) | dv_changed)
            removed = sorted((prev_files - cur_files) | dv_changed)
            added_df = self._read_files_dv(
                added, m, with_row_ids=with_row_ids
            )
            removed_df = self._read_files_dv(
                removed, prev if removed else m, with_row_ids=with_row_ids
            )
            if removed:
                # align on the union of columns so EXCEPT ALL compares
                # row VALUES even across a schema-evolution boundary
                inserts = added_df.unionByName(
                    removed_df.limit(0), allowMissingColumns=True
                ).exceptAll(
                    removed_df.unionByName(
                        added_df.limit(0), allowMissingColumns=True
                    )
                )
                deletes = removed_df.unionByName(
                    added_df.limit(0), allowMissingColumns=True
                ).exceptAll(
                    added_df.unionByName(
                        removed_df.limit(0), allowMissingColumns=True
                    )
                )
            else:
                inserts, deletes = added_df, None
            slices.append(
                inserts.withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
                .withColumn("_commit_timestamp", _commit_ts(m))
            )
            if deletes is not None:
                slices.append(
                    deletes.withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                    .withColumn("_commit_timestamp", _commit_ts(m))
                )
        if not slices:
            empty = self.read(
                end if end in have else None, with_row_ids=with_row_ids
            ).limit(0)
            return (
                empty.withColumn("_change_type", F.lit(""))
                .withColumn("_commit_version", F.lit(0).cast("long"))
                .withColumn(
                    "_commit_timestamp", F.lit(None).cast("timestamp")
                )
            )
        out = slices[0]
        for s in slices[1:]:
            out = out.unionByName(s, allowMissingColumns=True)
        return out

    def _read_cdc_files(self, files: list[str]) -> DataFrame:
        """Read a commit's CDC sidecar files (table columns +
        ``_change_type``; hive partition values recovered from the
        directory layout like any data read)."""
        base = os.path.join(self.root, _CDC_DIR)
        return self.spark.read.option("basePath", base).parquet(
            *[os.path.join(base, f) for f in files]
        )

    def _read_files(
        self,
        files: list[str],
        manifest: dict,
        logical: bool = True,
        extra_fields: Sequence | None = None,
    ) -> DataFrame:
        """Read an explicit file subset under ``manifest``'s schema rules
        (empty list -> empty frame with the manifest schema).  RAW read:
        deletion vectors are NOT applied — snapshot-consistent callers
        go through :meth:`_read_files_dv`.  ``logical=False`` keeps the
        files' PHYSICAL column names (needed when ``_metadata`` must
        stay resolvable — projections hide it).  ``extra_fields`` appends
        physical-only fields to the read schema (e.g. the materialized
        ``__row_id`` column row tracking writes on rewrites) — files
        lacking one surface it as typed NULLs."""
        if not files:
            return self.spark.createDataFrame(
                [], schema=_schema_from_json(self.spark, manifest["schema"])
            )
        reader = self.spark.read.option(
            "basePath", os.path.join(self.root, _DATA_DIR)
        )
        # ALWAYS read under the manifest's explicit (physical-named)
        # schema — never footer sampling or partition-value inference:
        # - partition columns get their DECLARED types (inference would
        #   silently read a string partition value "2" back as int,
        #   diverging from the manifest schema — found via CONVERT,
        #   latent for every numeric-looking string partition);
        # - a widened table mixes parquet physical types per file
        #   generation (int32 beside int64): the footer-merge path
        #   refuses that, an explicit schema applies type promotion;
        # - files from before a schema evolution / rename lack columns
        #   the manifest declares — they surface as typed NULLs, which
        #   subsumes mergeSchema (and `_fill_missing`'s coalesce patch
        #   computes generated columns through their expression);
        # - retired physical columns are simply never read.
        from pyspark.sql.types import StructField, StructType

        schema = _schema_from_json(self.spark, manifest["schema"])
        cmap = manifest.get("colmap", {})
        reader = reader.schema(
            StructType(
                [
                    StructField(
                        cmap.get(f.name, f.name),
                        f.dataType,
                        f.nullable,
                        f.metadata,
                    )
                    for f in schema.fields
                ]
                + list(extra_fields or ())
            )
        )
        df = reader.parquet(
            *[os.path.join(self.root, _DATA_DIR, f) for f in files]
        )
        return _to_logical_df(df, manifest) if logical else df

    def _uri_prefix(self, m: dict) -> str:
        """The exact ``_metadata.file_path`` URI prefix Spark reports for
        this table's data root (e.g. ``file:/abs/path/to/data/``).

        Derived empirically from a one-row probe of a manifest file and
        cached per root for the session — hardcoding the scheme rendering
        would silently break the DV anti-join if a Spark version changed
        URI formatting, and a silent mismatch here would RESURRECT
        deleted rows.  The probe verifies the prefix round-trips."""
        data_root = os.path.abspath(os.path.join(self.root, _DATA_DIR))
        cached = _URI_PREFIX_CACHE.get(data_root)
        if cached is not None:
            return cached
        # one-row probe over the whole file list (individual files can be
        # empty); whichever file the row came from, its URI ends with a
        # relative path we know — prefix = uri minus that suffix
        row = (
            self.spark.read.parquet(
                *[os.path.join(data_root, f) for f in m["files"]]
            )
            .select(F.col("_metadata.file_path").alias("fp"))
            .first()
        )
        if row is None:
            # zero-row snapshot: no DV can mask anything, so the exact
            # rendering is moot — return the format Spark emits for
            # local paths WITHOUT caching it (a later probe with real
            # rows re-derives and verifies)
            return "file:" + data_root.replace(os.sep, "/") + "/"
        fp = row["fp"]
        # identify the file by decoded PATH, not by raw-suffix match:
        # a hive partition value that is percent-encoded on disk (':'
        # -> '%3A') is double-encoded in the URI ('%253A'), so
        # fp.endswith(rel) would miss and the probe would fail
        # nondeterministically depending on which file the row came
        # from.  _uri_to_path unquotes exactly once, matching the
        # on-disk rendering.
        rel = _rel_lookup(data_root, m["files"]).get(_uri_to_path(fp))
        if rel is None:
            raise RuntimeError(
                f"cannot derive file-URI prefix: {fp!r} resolves to no "
                "manifest file"
            )
        # the prefix boundary is a path-segment count, valid whatever
        # escaping the segments carry ('/' itself is always encoded)
        n_segments = rel.count(os.sep) + 1
        prefix = fp.rsplit("/", n_segments)[0] + "/"
        _URI_PREFIX_CACHE[data_root] = prefix
        return prefix

    def _dv_frame(self, m: dict, files: list[str]) -> DataFrame | None:
        """The distinct deleted (``__file``, ``__row_index``) positions
        masking any of ``files`` under manifest ``m`` — None when none.
        ``__file`` is the data-root-relative path as it appears in the
        file URI suffix, so entries survive CLONE/relocation."""
        dvs = m.get("dvs", {})
        rels = sorted({d for f in files for d in dvs.get(f, [])})
        if not rels:
            return None
        dv_root = os.path.join(self.root, _DV_DIR)
        return (
            self.spark.read.parquet(*[os.path.join(dv_root, r) for r in rels])
            .select("__file", "__row_index")
            .distinct()
        )

    def _read_files_dv(
        self,
        files: list[str],
        m: dict,
        keep_pos: bool = False,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot-consistent read of a file subset: applies manifest
        ``m``'s deletion vectors (merge-on-read) via a BROADCAST
        anti-join on (file, row position) — DV size is ∝ deleted rows,
        never table rows, so the mask always broadcasts.  Zero overhead
        when no file in the subset carries a DV.

        ``keep_pos`` keeps ``__rel`` (data-root-relative file path) and
        ``__ri`` (physical row index) columns — the DML probe's handle
        for attributing matches to files and writing new DV entries.

        ``with_row_ids`` adds the stable ``_row_id`` column (row
        tracking): ``coalesce(materialized __row_id, file base id +
        physical row index)`` — see :meth:`read`."""
        dvs = m.get("dvs", {})
        need_dv = any(f in dvs for f in files)
        if not files:
            df = self.spark.createDataFrame(
                [], schema=_schema_from_json(self.spark, m["schema"])
            )
            if with_row_ids:
                df = df.withColumn("_row_id", F.lit(None).cast("long"))
            if keep_pos:
                df = df.withColumns(
                    {
                        "__rel": F.lit(None).cast("string"),
                        "__ri": F.lit(None).cast("long"),
                    }
                )
            return df
        if not (need_dv or keep_pos or with_row_ids):
            return self._read_files(files, m)
        # grab _metadata BEFORE any logical rename: the hidden metadata
        # column resolves only against the file-source relation
        extra = (
            [T.StructField(_ROW_ID_PHYS, T.LongType(), True)]
            if with_row_ids
            else None
        )
        base = self._read_files(files, m, logical=False, extra_fields=extra)
        prefix = self._uri_prefix(m)
        df = base.select(
            F.expr(f"substring(_metadata.file_path, {len(prefix) + 1})").alias(
                "__rel"
            ),
            F.col("_metadata.row_index").alias("__ri"),
            "*",
        )
        if need_dv:
            dv = self._dv_frame(m, files)
            df = df.join(
                F.broadcast(dv),
                (df["__rel"] == dv["__file"])
                & (df["__ri"] == dv["__row_index"]),
                "left_anti",
            )
        if with_row_ids:
            df = self._rt_attach(df, m)
        if not keep_pos:
            df = df.drop("__rel", "__ri")
        return _to_logical_df(df, m)

    # -- row tracking (Delta delta.enableRowTracking parity) ----------------

    def _rt_state(self, m: dict) -> dict | None:
        """Row-tracking state iff the feature is ON for manifest ``m``:
        ``{"high_water": int, "base": {rel_file: base_row_id}}``.  The
        state rides the versioned props, so RESTORE/time travel sees
        each version's own id assignment."""
        props = m.get("props", {})
        if str(props.get("delta.enableRowTracking")).lower() != "true":
            return None
        return props.get("row_tracking_state")

    def _rt_attach(self, df: DataFrame, m: dict) -> DataFrame:
        """Attach ``_row_id`` to a position-carrying frame (``__rel`` /
        ``__ri``, plus the physical ``__row_id`` column when selected):
        a row's stable id is its MATERIALIZED id when a rewrite carried
        it, else ``file base id + physical row index`` (fresh rows —
        Delta's exact coalesce).  The base map joins as a broadcast
        frame sized by the FILE COUNT, never rows."""
        rt = self._rt_state(m)
        if rt is None:
            raise ValueError(
                "row tracking is not enabled on this table — set "
                "TBLPROPERTIES ('delta.enableRowTracking' = 'true') first"
            )
        base = rt.get("base", {})
        base_df = self.spark.createDataFrame(
            [(f, int(b)) for f, b in base.items()] or [(None, None)],
            "__rt_rel string, __rt_base long",
        )
        mat = (
            F.col(_ROW_ID_PHYS)
            if _ROW_ID_PHYS in df.columns
            else F.lit(None).cast("long")
        )
        out = (
            df.join(
                F.broadcast(base_df),
                F.col("__rel") == F.col("__rt_rel"),
                "left",
            )
            .withColumn(
                "_row_id", F.coalesce(mat, F.col("__rt_base") + F.col("__ri"))
            )
            .drop("__rt_rel", "__rt_base")
        )
        return out.drop(_ROW_ID_PHYS) if _ROW_ID_PHYS in df.columns else out


# -- internals --------------------------------------------------------------

_ZORDER_BITS = 4  # quantile ranks per clustering column (16 buckets)


def _column_cuts(df: DataFrame, col: str, n_buckets: int) -> list | None:
    """Quantile cut points (n_buckets - 1 of them) for one clustering
    column.  Numeric/date/timestamp columns use the t-digest sketch
    (``approxQuantile`` — one scan, no shuffle, driver receives a handful
    of doubles, valid at any scale).  Other orderable types (strings) use
    a bounded random sample, the same estimation RangePartitioner does.
    Returns None when the column has < 2 distinct values (no clustering
    signal)."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    dtype = dict(df.dtypes)[col]
    if dtype in ("date", "timestamp", "timestamp_ntz"):
        num = df.select(F.col(col).cast("timestamp").cast("double").alias(col))
        cuts = num.stat.approxQuantile(col, probs, 0.01)
    elif dtype in ("string",):
        n = df.select(col).na.drop().count()
        if n == 0:
            return None
        frac = min(1.0, 20000 / n)
        sample = sorted(
            r[0] for r in df.select(col).na.drop().sample(frac, seed=7).collect()
        )
        if not sample:
            return None
        cuts = [sample[int(len(sample) * p)] for p in probs]
    else:
        cuts = df.stat.approxQuantile(col, probs, 0.01)
    uniq = sorted(set(cuts))
    return uniq or None


def _zvalue(df: DataFrame, zorder_cols: list[str], bits: int = _ZORDER_BITS) -> F.Column:
    """Interleaved Morton z-value over ``zorder_cols``.

    Per column: bucket id = #cut-points the value exceeds (an ``aggregate``
    fold over a literal array — B comparisons in codegen, no join, no
    shuffle; nulls sort to bucket 0).  The ids' bits are then interleaved
    MSB-first across columns, so sorting by the z-value gives every file a
    narrow range of *each* column simultaneously."""
    dtypes = dict(df.dtypes)
    n_buckets = 1 << bits
    bucket_ids = []
    for c in zorder_cols:
        cuts = _column_cuts(df, c, n_buckets)
        if cuts is None:
            bucket_ids.append(F.lit(0))
            continue
        v = F.col(c)
        if dtypes[c] in ("date", "timestamp", "timestamp_ntz"):
            v = v.cast("timestamp").cast("double")
        arr = F.array(*[F.lit(x) for x in cuts])
        bucket_ids.append(
            F.aggregate(
                arr,
                F.lit(0),
                lambda acc, cut: acc
                + F.when(v.isNotNull() & (v > cut), 1).otherwise(0),
            )
        )
    z = F.lit(0)
    for bit in range(bits - 1, -1, -1):
        for b in bucket_ids:
            z = F.shiftleft(z, 1) + F.shiftright(b, bit).bitwiseAND(F.lit(1))
    return z


def _widening_ok(old_dt, new_dt) -> bool:
    """True iff ``old_dt -> new_dt`` is a lossless widening Spark's
    parquet readers promote natively: integral up-rank, float->double,
    or decimal growth losing neither scale nor integer digits.
    (bigint->double is deliberately excluded: longs past 2^53 lose
    precision — Delta's type-widening table draws the same line.)"""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ranks = {ByteType: 0, ShortType: 1, IntegerType: 2, LongType: 3}
    ro, rn = ranks.get(type(old_dt)), ranks.get(type(new_dt))
    if ro is not None and rn is not None:
        return rn > ro
    if isinstance(old_dt, FloatType) and isinstance(new_dt, DoubleType):
        return True
    if isinstance(old_dt, DecimalType) and isinstance(new_dt, DecimalType):
        return (
            new_dt.scale >= old_dt.scale
            and new_dt.precision - new_dt.scale
            >= old_dt.precision - old_dt.scale
            and (new_dt.precision, new_dt.scale)
            != (old_dt.precision, old_dt.scale)
        )
    return False


def _commit_prefix(rel_file: str) -> str:
    """The commit id a data file was written under (`_write_files`
    names every file ``<commit_id>-<task_file>``) — the unit the
    incremental-clustering state tracks."""
    return os.path.basename(rel_file).split("-", 1)[0]


def _uri_to_path(uri: str) -> str:
    """Local filesystem path from an ``input_file_name()`` URI (scheme
    stripped, %-escapes undone once — the on-disk name keeps its own
    hive escaping, which the URI double-encodes)."""
    from urllib.parse import unquote, urlparse

    return os.path.abspath(unquote(urlparse(uri).path))


def _rel_lookup(root_dir: str, rels: Sequence[str]) -> dict[str, str]:
    """Absolute-path → manifest-relative-path map for a file list."""
    return {os.path.abspath(os.path.join(root_dir, f)): f for f in rels}


def _hive_value(v) -> str:
    """Render a Python value the way it appears in an (unescaped) hive
    partition directory name."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _partition_values(rel_file: str, part_cols: Sequence[str]) -> tuple[str, ...]:
    """Hive-style partition values from a relative file path, in
    ``part_cols`` order, URL-unescaped (Spark percent-encodes special
    characters such as ':' in directory names)."""
    from urllib.parse import unquote

    vals = dict(
        seg.split("=", 1) for seg in rel_file.split(os.sep)[:-1] if "=" in seg
    )
    return tuple(unquote(vals.get(c, "")) for c in part_cols)


def _optimize_write_target(props: dict | None) -> float | None:
    """Target file MB when the ``optimizeWrite`` table property is set
    (``True`` -> 128, or ``{"target_file_mb": M}``); None when off."""
    ow = (props or {}).get("optimizeWrite")
    if not ow:
        return None
    if isinstance(ow, dict):
        return float(ow.get("target_file_mb", 128))
    return 128.0


def _write_files(
    df: DataFrame,
    root: str,
    part_cols: Sequence[str],
    preserve_layout: bool = False,
    subdir: str = _DATA_DIR,
    optimize_write: float | None = None,
) -> list[str]:
    """Write ``df`` into ``<subdir>/`` (``data/`` for snapshot files,
    ``_change_data/`` for CDC sidecars) as immutable uniquely-named
    parquet files; return paths relative to the subdir.

    Spark writes a self-contained directory; files are then hard-moved into
    the shared ``data/`` tree under a commit-unique prefix so concurrent
    historical versions can coexist (nothing is ever overwritten).

    ``optimize_write`` (Delta ``delta.autoOptimize.optimizeWrite``
    parity, target file MB): pre-write AQE REBALANCE sized so the files
    land near the target — bounding small-file debt at the SOURCE,
    where autoCompact pays a follow-up commit to fix it afterwards.
    Partitioned writes already rebalance by partition value (below);
    the property extends the rebalance to UNpartitioned writes (an
    N-task append otherwise lands N files) and sizes both via the AQE
    advisory partition size, scaled 4x for parquet's shuffle-bytes ->
    encoded-bytes compression (Delta's optimized writes apply the same
    class of inflation factor to its bin size).
    """
    commit_id = uuid.uuid4().hex[:12]
    staging = os.path.join(root, f"_staging_{commit_id}")
    if part_cols and not preserve_layout:
        # Cluster rows by partition value first: otherwise every write
        # task opens a file in every partition and an N-task x P-partition
        # write shatters into N*P small files (the classic dynamic
        # partition write explosion).  REBALANCE (AQE) both coalesces
        # small partition groups and *splits* skewed ones, so a
        # single-day ingest still writes in parallel while a 100-month
        # fact lands ~one file per partition.  preserve_layout skips this
        # for callers (OPTIMIZE) that already produced a deliberate
        # clustering.
        df = df.hint("rebalance", *part_cols)
    elif optimize_write and not preserve_layout:
        df = df.hint("rebalance")
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    # VARIANT columns land UNSHREDDED ({value, metadata} binary pair,
    # Spark's pre-shredding layout): the streaming CDF source reads
    # data/CDC files executor-side through pyarrow (parquet_compat
    # strips the VARIANT footer annotation pyarrow can't parse), and a
    # VariantVal rebuilds directly from the pair — reconstructing the
    # SHREDDED form (typed_value subtrees) would mean reimplementing
    # the shredding spec in Python.  The trade is variant-subfield
    # parquet pushdown, which the engine's JVM batch reads never
    # relied on.
    spark = df.sparkSession
    shred_key = "spark.sql.variant.writeShredding.enabled"
    shred_old = None
    has_variant = any(
        "variant" in f.dataType.simpleString() for f in df.schema.fields
    )
    if has_variant:
        shred_old = spark.conf.get(shred_key, None)
        spark.conf.set(shred_key, "false")
    try:
        if optimize_write and not preserve_layout:
            key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
            old = spark.conf.get(key, None)
            spark.conf.set(key, f"{max(1, int(optimize_write * 4))}MB")
            try:
                writer.parquet(staging)
            finally:
                if old is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, old)
        else:
            writer.parquet(staging)
    finally:
        if has_variant:
            if shred_old is None:
                spark.conf.unset(shred_key)
            else:
                spark.conf.set(shred_key, shred_old)
    data_root = os.path.join(root, subdir)
    rels: list[str] = []
    for dirpath, _dirs, fnames in os.walk(staging):
        for fname in fnames:
            if not fname.endswith(".parquet"):
                continue
            rel_dir = os.path.relpath(dirpath, staging)
            rel_dir = "" if rel_dir == "." else rel_dir
            dest_dir = os.path.join(data_root, rel_dir)
            os.makedirs(dest_dir, exist_ok=True)
            dest_name = f"{commit_id}-{fname}"
            os.replace(
                os.path.join(dirpath, fname), os.path.join(dest_dir, dest_name)
            )
            rels.append(os.path.join(rel_dir, dest_name) if rel_dir else dest_name)
    shutil.rmtree(staging)
    return sorted(rels)


def _write_files_concurrent(
    *specs: tuple[DataFrame, dict],
) -> list[list[str]]:
    """Run several independent :func:`_write_files` calls CONCURRENTLY
    (one driver thread each) and return their rels in call order.

    A DML commit pays one Spark action per sink (data rewrite, CDC
    sidecar, DV sidecar) and each tiny action costs a near-constant
    plan/codegen/schedule floor (~0.3–0.5 s, PERF.md round-11 §1);
    the sinks read the SAME persisted/checkpointed parents, so the
    actions are independent and overlap almost fully (measured ~3×
    per pair).  Safe because each call stages into its own
    uuid-unique ``_staging_*`` directory and Spark schedules
    concurrent jobs from separate threads as a matter of course; the
    ONE shared-state hazard is `_write_files`' session-conf mutation
    (variant shredding / optimize-write advisory size), so any spec
    whose frame carries a VARIANT column or whose kwargs set
    ``optimize_write`` demotes the whole batch to the sequential
    path.  Callers must pass frames derived from ONE persisted parent
    (the DML marked scans, MERGE's joined frame): then every sink reads
    the same evaluation — a nondeterministic column agrees across
    sinks — and no sink recomputes another's input."""
    safe = all(
        not kw.get("optimize_write")
        and not any(
            "variant" in f.dataType.simpleString()
            for f in df.schema.fields
        )
        for df, kw in specs
    )
    if len(specs) < 2 or not safe:
        return [_write_files(df, **kw) for df, kw in specs]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(specs)) as ex:
        futs = [ex.submit(_write_files, df, **kw) for df, kw in specs]
        return [f.result() for f in futs]


def _bloom_cfg_hash(props: dict | None, colmap: dict | None) -> str | None:
    """Identity of a bloom-index configuration, over the PHYSICAL column
    names — so a metadata-only RENAME (same physical identity) keeps
    every existing bitmap valid, while re-configuring the index (cols /
    m / k changed) invalidates stale sidecar rows at load time."""
    cfg = (props or {}).get("bloom")
    if not cfg:
        return None
    import hashlib

    phys = sorted((colmap or {}).get(c, c) for c in cfg["cols"])
    return hashlib.md5(
        f"{cfg['m']}:{cfg['k']}:{','.join(phys)}".encode()
    ).hexdigest()[:12]


def _write_sidecar(
    root: str,
    stats: dict[str, dict],
    bloom_rows: dict[str, dict],
) -> str:
    """Persist per-file stats and bloom bitmaps as ONE immutable parquet
    sidecar under ``_manifest/_sidecars/``; returns its file name.

    ``stats``: ``{file: {physical_col: [lo, hi]}}``; ``bloom_rows``:
    ``{file: {physical_col: (hex_bitmap, cfg_hash)}}``.  lo/hi are
    JSON-encoded per cell so heterogeneous column types round-trip
    exactly.  Driver-side pyarrow write — the payload is metadata the
    driver already holds, sized ∝ THIS COMMIT's new files, never the
    table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {"file": [], "column": [], "lo": [], "hi": [], "bloom": [], "bloom_cfg": []}
    for f in sorted(stats):
        for c in sorted(stats[f]):
            lo, hi = stats[f][c]
            cols["file"].append(f)
            cols["column"].append(c)
            cols["lo"].append(json.dumps(lo))
            cols["hi"].append(json.dumps(hi))
            cols["bloom"].append(None)
            cols["bloom_cfg"].append(None)
    for f in sorted(bloom_rows):
        for c in sorted(bloom_rows[f]):
            hex_bmp, cfg = bloom_rows[f][c]
            cols["file"].append(f)
            cols["column"].append(c)
            cols["lo"].append(None)
            cols["hi"].append(None)
            cols["bloom"].append(hex_bmp)
            cols["bloom_cfg"].append(cfg)
    sdir = os.path.join(root, _SIDECAR_DIR)
    os.makedirs(sdir, exist_ok=True)
    name = f"sc-{uuid.uuid4().hex[:12]}.parquet"
    tmp = os.path.join(sdir, f".tmp-{name}")
    pq.write_table(
        pa.table({k: pa.array(v, type=pa.string()) for k, v in cols.items()}),
        tmp,
    )
    os.replace(tmp, os.path.join(sdir, name))
    return name


def _load_sidecar(path: str) -> tuple[dict, dict]:
    """Parse (with per-path cache) one sidecar parquet back into
    ``(stats, bloom_rows)`` in the `_write_sidecar` shapes."""
    path = os.path.abspath(path)
    cached = _SIDECAR_CACHE.get(path)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    stats: dict[str, dict] = {}
    bloom_rows: dict[str, dict] = {}
    for f, c, lo, hi, b, cfg in zip(
        *(t.column(n).to_pylist() for n in ("file", "column", "lo", "hi", "bloom", "bloom_cfg"))
    ):
        if lo is not None:
            stats.setdefault(f, {})[c] = [json.loads(lo), json.loads(hi)]
        if b is not None:
            bloom_rows.setdefault(f, {})[c] = (b, cfg)
    while len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
        _SIDECAR_CACHE.pop(next(iter(_SIDECAR_CACHE)))
    _SIDECAR_CACHE[path] = (stats, bloom_rows)
    return stats, bloom_rows


def _jvm_footer_rows(path: str) -> int | None:
    """Row count from the parquet footer via Spark's OWN (JVM) parquet
    reader — the fallback for files carrying logical types the
    installed pyarrow predates (VARIANT: parquet-java writes a Thrift
    LogicalType pyarrow's parser rejects at OPEN, so every
    footer-metadata path would fail on a variant-bearing file).
    Metadata-only: reads the footer blocks, never a data page.
    Returns None when no active session exists or the JVM read fails —
    callers keep their original error path."""
    try:
        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        hif = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(os.path.abspath(path)), conf
        )
        rd = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hif)
        try:
            blocks = rd.getFooter().getBlocks()
            return int(
                sum(blocks.get(i).getRowCount() for i in range(blocks.size()))
            )
        finally:
            rd.close()
    except Exception:  # noqa: BLE001 - fallback is advisory
        return None


def _footer_rows(data_root: str, rel: str) -> int:
    """One file's footer row count: pyarrow fast path, JVM fallback for
    logical types pyarrow cannot parse (VARIANT)."""
    import pyarrow.parquet as pq

    path = os.path.join(data_root, rel)
    try:
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 - e.g. OSError: unknown LogicalType
        n = _jvm_footer_rows(path)
        if n is None:
            raise
        return n


def _file_rows(data_root: str, rels: list[str]) -> int:
    """Total row count of written files, from parquet footers (no data
    read) — how an identity commit learns its allocation size."""
    return sum(_footer_rows(data_root, r) for r in rels)


def _stat_scalar(v):
    """JSON-safe rendering of an ANALYZE min/max value: native JSON
    scalars pass through, temporal/decimal values become their ISO /
    exact string forms (round-trippable, engine-neutral)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _file_stats(data_root: str, rels: list[str]) -> dict[str, dict]:
    """Per-file column min/max from the parquet footers (no data read).

    The same metadata Delta mines for data skipping: footer row-group
    statistics, aggregated to file level, for numeric/string leaf
    columns.  Stats are advisory — a column absent from a file's stats
    simply never prunes that file.
    """
    try:
        import pyarrow.parquet as pq
    except ImportError:  # stats become a no-op, reads stay correct
        return {}

    out: dict[str, dict] = {}
    for rel in rels:
        try:
            meta = pq.ParquetFile(os.path.join(data_root, rel)).metadata
        except Exception:  # noqa: BLE001 - logical type pyarrow predates
            # a VARIANT-bearing file: pyarrow rejects the footer at
            # open, so min/max stats are unavailable (the file simply
            # never prunes) — but the row count still lands via the
            # JVM footer so metadata COUNT stays exact and zero-scan
            n = _jvm_footer_rows(os.path.join(data_root, rel))
            if n is not None:
                out[rel] = {"__nrows": [n, n]}
            continue
        cols: dict[str, list] = {}
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                try:
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo, hi = st.min, st.max
                except Exception:  # noqa: BLE001 - stats unsupported for type
                    continue
                if isinstance(lo, bytes):
                    try:
                        lo, hi = lo.decode(), hi.decode()
                    except UnicodeDecodeError:
                        continue
                if not isinstance(lo, (int, float, str)):
                    continue
                name = col.path_in_schema
                if name in cols:
                    cols[name] = [min(cols[name][0], lo), max(cols[name][1], hi)]
                else:
                    cols[name] = [lo, hi]
        # per-file row count, stored as a degenerate range under a
        # reserved pseudo-column so the sidecar shape stays uniform:
        # metadata counts and the partition-file frame read it from the
        # manifest instead of re-opening O(files) footers per query
        # (Delta stores numRecords in each AddFile the same way).  No
        # predicate ever references "__nrows", so pruning ignores it;
        # a (pathological) DATA column of that name keeps its real
        # range and consumers fall back to footer opens.
        if "__nrows" not in cols:
            cols["__nrows"] = [meta.num_rows, meta.num_rows]
        out[rel] = cols
    return out


def _consolidate_sidecars(
    root: str, refs: list[str], live_files: set[str]
) -> str:
    """Merge ``refs`` into one sidecar holding only entries for
    ``live_files`` (all bloom configs preserved — staleness is decided
    at load time); returns the new sidecar's name.  O(live entries),
    run every ~`_SIDECAR_CONSOLIDATE` commits — the log-compaction
    moment that keeps both the ref list and dead-file garbage bounded."""
    stats: dict[str, dict] = {}
    bloom_rows: dict[str, dict] = {}
    for ref in refs:
        s, b = _load_sidecar(os.path.join(root, _SIDECAR_DIR, ref))
        for f, cols in s.items():
            if f in live_files:
                stats.setdefault(f, {}).update(cols)
        for f, cols in b.items():
            if f in live_files:
                bloom_rows.setdefault(f, {}).update(cols)
    return _write_sidecar(root, stats, bloom_rows)


def _rt_advance(
    root: str,
    props: dict | None,
    files: list[str],
    stats: dict | None,
    parent: dict | None,
) -> dict | None:
    """Row-tracking bookkeeping for one commit (runs INSIDE ``_commit``
    so every path — create/append/DML/MERGE/OPTIMIZE/RESTORE/prop
    commits — maintains it without per-path wiring):

    - prune base entries for files leaving the table;
    - allocate a base id for every live file without one, spaced by the
      file's ROW COUNT (footer-exact), advancing the high water.

    Fresh rows therefore get ids purely from metadata — a commit that
    rebases after losing a race simply re-allocates from the winner's
    high water, no file rewrite (Delta's base_row_id reconciliation).
    Preserved ids ride the materialized column and are never touched
    here.  RESTORE re-commits an old file list WITH its old props, so
    restored files keep their original base entries (the ``f in base``
    guard) and ids time-travel with the data."""
    rt = (props or {}).get("row_tracking_state")
    if rt is None:
        return props
    live = set(files)
    base = {f: int(b) for f, b in rt.get("base", {}).items() if f in live}
    hw = int(rt.get("high_water", 0))
    need = [f for f in sorted(live) if f not in base]
    side: dict | None = None
    for f in need:
        rng = ((stats or {}).get(f) or {}).get("__nrows")
        if rng is None and parent is not None:
            if side is None:  # parent sidecars, loaded at most once
                side = {}
                for ref in parent.get("stats_sidecars", []):
                    s, _b = _load_sidecar(os.path.join(root, _SIDECAR_DIR, ref))
                    for sf, cols in s.items():
                        side.setdefault(sf, cols)
            rng = side.get(f, {}).get("__nrows")
        n = (
            int(rng[0])
            if rng is not None
            else _footer_rows(os.path.join(root, _DATA_DIR), f)
        )
        base[f] = hw + 1
        hw += n
    return {**props, "row_tracking_state": {"high_water": hw, "base": base}}


def _commit_typed(op_label: str, **kwargs) -> int:
    """`_commit`, with a version collision surfaced as the typed
    :class:`ConcurrentModificationError` — for snapshot-wide operations
    (MERGE/OVERWRITE/OPTIMIZE) where a sound automatic rebase would
    amount to recomputing, which is the caller's decision."""
    try:
        return _commit(**kwargs)
    except FileExistsError as e:
        raise ConcurrentModificationError(
            f"{op_label} collided with a concurrent commit; recompute "
            "against the new snapshot and retry"
        ) from e


def _commit(
    root: str,
    version: int,
    files: list[str],
    schema: str,
    partition_by: list[str],
    operation: str,
    merged_schema: bool,
    stats: dict[str, dict] | None = None,
    props: dict | None = None,
    blooms: dict[str, dict] | None = None,
    cdc_files: list[str] | None = None,
    dvs: dict[str, list[str]] | None = None,
    colmap: dict[str, str] | None = None,
    retired_cols: list[str] | None = None,
    metrics: dict | None = None,
    parent: dict | None = None,
    cdc_row_ids: bool = False,
) -> int:
    """Atomically publish a manifest version (write-temp + rename — the
    commit point, mirroring Delta's `_delta_log` JSON commit).

    ``props`` carries versioned table properties (CHECK / NOT NULL
    constraints, bloom-index config) — the equivalent of Delta's
    ``metaData.configuration``; every DML path threads the current
    manifest's props through so properties survive any commit, and
    RESTORE brings a version's properties back with its data.

    ``stats`` / ``blooms`` are THIS COMMIT's new-file entries only
    (stats keyed by physical column from the footers; blooms keyed
    logical as `_compute_blooms` builds them — translated to physical
    here).  They land in a parquet sidecar under ``_manifest/_sidecars``
    sized ∝ the change; entries for files carried from ``parent`` ride
    its sidecar refs untouched.  The manifest itself holds only the
    file list + sidecar pointers, so the per-commit JSON payload — and
    every reader's manifest parse — stays bounded by the file list,
    never by per-file statistics (the round-5 O(table) driver cost)."""
    props = _rt_advance(root, props, files, stats, parent)
    cmap = colmap or {}
    refs: list[str] = []
    fold_stats: dict[str, dict] = {}
    fold_blooms: dict[str, dict] = {}
    live = set(files)
    if parent is not None:
        refs = list(parent.get("stats_sidecars", []))
        # legacy manifests (pre-sidecar) carried stats/blooms inline:
        # fold the still-live entries forward into this commit's sidecar
        # once, after which the table is fully on the sidecar format
        pmap = parent.get("colmap", {}) or {}
        pcfg = _bloom_cfg_hash(parent.get("props"), pmap)
        for f, cols in (parent.get("stats") or {}).items():
            if f in live:
                fold_stats[f] = dict(cols)
        for f, cols in (parent.get("blooms") or {}).items():
            if f in live:
                fold_blooms[f] = {
                    pmap.get(c, c): (v, pcfg) for c, v in cols.items()
                }
    cfg = _bloom_cfg_hash(props, cmap)
    bloom_rows = dict(fold_blooms)
    for f, cols in (blooms or {}).items():
        merged = dict(bloom_rows.get(f, {}))
        merged.update({cmap.get(c, c): (v, cfg) for c, v in cols.items()})
        bloom_rows[f] = merged
    new_stats = dict(fold_stats)
    for f, cols in (stats or {}).items():
        merged = dict(new_stats.get(f, {}))
        merged.update(cols)
        new_stats[f] = merged
    if new_stats or bloom_rows:
        refs.append(_write_sidecar(root, new_stats, bloom_rows))
    if len(refs) > _SIDECAR_CONSOLIDATE:
        refs = [_consolidate_sidecars(root, refs, live)]
    manifest = {
        "version": version,
        "operation": operation,
        "timestamp": time.time(),
        "files": files,
        "schema": schema,
        "partition_by": partition_by,
        "merged_schema": merged_schema,
        # per-file min/max stats and bloom bitmaps live in parquet
        # sidecars (see docstring); these are the pointers
        "stats_sidecars": refs,
        "props": props or {},
        "cdc_files": cdc_files or [],
        # True when the CDC sidecar rows carry the stable ``_row_id``
        # column (row-tracked tables): changes_between(with_row_ids=True)
        # can then read the sidecar directly (cost ∝ changed rows, zero
        # shuffle) instead of the added-EXCEPT ALL-removed file-diff
        # reconstruction (two shuffles of every touched file per commit)
        **({"cdc_row_ids": True} if (cdc_row_ids and cdc_files) else {}),
        # merge-on-read deletion vectors: data file -> the DV sidecar
        # parquet files (under _deletion_vectors/) holding its deleted
        # row positions.  A file absent from the map has no masked rows.
        "dvs": dvs or {},
        # column mapping (metadata-only ALTER TABLE): logical name ->
        # physical file column name (non-identity pairs only), plus the
        # physical names retired by DROP COLUMN (never reused)
        "colmap": colmap or {},
        "retired_cols": retired_cols or [],
        # operation metrics (rows/files touched) — observability only,
        # never read by the engine itself
        "metrics": metrics or {},
    }
    final = _manifest_path(root, version)
    tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        # link(2) fails with EEXIST if the version was already published —
        # the atomic optimistic-concurrency check (a rename would silently
        # last-win and lose the other writer's commit).
        os.link(tmp, final)
    except FileExistsError:
        raise FileExistsError(
            f"concurrent commit detected at version {version}: another "
            "writer published this version first; re-read and retry"
        ) from None
    finally:
        os.unlink(tmp)
    return version


def _bloom_canon(value) -> str:
    """Canonical string form of a probed value — must agree with the
    build side's ``CAST(col AS STRING)`` (exact for integral and string
    key columns, the bloom-index use case)."""
    if isinstance(value, bool):  # Spark renders booleans lowercase
        return "true" if value else "false"
    return str(value)


def _bloom_positions(canon: str, m_bits: int, k: int) -> list[int]:
    """Driver-side replay of the build's md5 position formula."""
    import hashlib

    return [
        int(hashlib.md5(f"{i}:{canon}".encode()).hexdigest()[:15], 16) % m_bits
        for i in range(k)
    ]


def _constraint_state(m: dict) -> tuple[dict[str, str], list[str]]:
    props = m.get("props", {})
    return (
        dict(props.get("check_constraints", {})),
        list(props.get("not_null", [])),
    )


def _schema_from_json(spark: SparkSession, schema_json: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(schema_json))
