"""Parquet lakehouse catalog with Iceberg-style snapshot semantics.

The reference's storage model is Iceberg tables in S3 discovered through
AWS Glue, with **two access paths to the same data** — manually-declared
external tables (`scripts/10_external_tables.sql:45-88`) and an
auto-discovered catalog-linked database
(`scripts/11_catalog_linked_database.sql:50-55`) — plus snapshot appends
(`scripts/05_append_campaigns.py:112-123`) and metadata-only replication
for DR (`scripts/20_failover_groups_primary.sql:109-172`).

No Iceberg runtime jar ships in this environment (offline), so this module
provides the same *semantics* over parquet + JSON manifests, pure PySpark:

- a **table** is a directory of immutable snapshot data dirs plus a
  versioned manifest listing snapshots (id, timestamp, operation, row
  counts, schema, data dirs) — append = write a new dir + manifest
  version, exactly Iceberg's append-only metadata model;
- **commits are optimistic-concurrency safe**: each commit publishes
  ``_manifest.v{N}.json`` via an exclusive hard-link (atomic create), so
  two concurrent appenders serialize — the loser re-reads and retries
  with the winner's snapshot included (Iceberg's metadata-file CAS);
- **schema evolution**: each snapshot records its own column list and
  each data dir its parquet file schema; reads merge the recorded
  schemas when dirs differ (Spark never infers one, so planning a read
  launches no job), so appending a frame with a new column works and old
  snapshots read back their own schema (the CLD "automatic sync on
  refresh" observation, `scripts/11_catalog_linked_database.sql:163-170`);
- **reads** union the data dirs visible at a snapshot → time travel =
  ``load(..., snapshot_id=N)`` (Iceberg ``VERSION AS OF``);
- **catalogs** are views over one shared warehouse: the namespace listing
  IS the catalog (CLD-style auto-discovery), while :class:`ExternalTables`
  holds an explicit name→table registry (EXT-style manual registration);
- **replication** copies only view/table *definitions* between catalogs
  (`docs/TALK_TRACK.md:201-218` zero-copy insight): data files are shared,
  so RPO=0 for data by construction.

Scale: data dirs are written by ``df.write.parquet`` with optional
``partitionBy`` (the reference partitions facts by ``date_key``,
`scripts/03_load_iceberg_aws.py:87,106,127`), so partition pruning works
through the normal Spark file-source path; the manifest holds only
directory names (O(snapshots), never O(files)).  Row counts come from
``df.observe`` during the write itself — the commit path scans the data
exactly once (no post-write re-read).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

MANIFEST = "_manifest.json"
#: manifest versions retained alongside the current one (history window for
#: concurrent readers; old versions are pruned after each commit)
VERSION_HISTORY = 8
#: optimistic-concurrency retry budget for one commit
COMMIT_RETRIES = 20
#: string min/max bounds longer than this are truncated Iceberg-style
#: (lower = prefix, upper = prefix with last char incremented)
STATS_MAX_STRING = 64

#: column type prefixes that get min/max bounds in the manifest
_STATS_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")

#: manifest families keyed by data/delete dir name (``{dir: entry}``).
#: Every path that carries, filters or remaps dirs goes through this one
#: tuple, so a new per-dir field cannot be missed.  ``dir_schemas`` and
#: ``delete_dir_schemas`` hold each dir's parquet FILE schema
#: (``StructType.json()``): reads pass it to Spark instead of inferring
#: it, which would cost one Spark job per dir (Iceberg readers likewise
#: take the schema from table metadata).  ``dir_layout`` holds a data
#: dir's hive partition fields (its spec, as an Iceberg data file
#: carries its spec id): reads scan all dirs of one layout together.
DIR_FAMILIES = (
    "dir_columns",
    "dir_schemas",
    "dir_layout",
    "dir_stats",
    "dir_rows",
    "dir_blooms",
    "file_stats",
    "delete_dir_cols",
    "delete_dir_schemas",
    "delete_dir_scope",
)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable — the shape
    Spark gives any parquet schema it reads back."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _file_schema(schema: StructType, partition_cols: list[str] = ()) -> str:
    """Manifest entry for a dir written from a frame with ``schema``: the
    nullable schema minus the hive partition columns, which live in the
    path.  Partition columns must stay out of it: given a schema, Spark
    would type them from it instead of discovering them from the path."""
    return _nullable(
        StructType([f for f in schema.fields if f.name not in partition_cols])
    ).json()


def _schema_of(entry: str) -> StructType:
    """The StructType a ``dir_schemas``/``delete_dir_schemas`` entry holds."""
    return StructType.fromJson(json.loads(entry))


def _merged_schema(schemas: list[StructType]) -> StructType | None:
    """Union of per-dir file schemas by name, first-seen order (the read
    side of append-with-new-column evolution); None when two dirs give
    one column different types — those dirs are read one by one and
    ``unionByName`` widens the types."""
    fields: dict[str, StructField] = {}
    for s in schemas:
        for f in s.fields:
            if fields.setdefault(f.name, f).dataType != f.dataType:
                return None
    return StructType(list(fields.values()))


def _truncated_bounds(lo: str, hi: str, limit: int = STATS_MAX_STRING):
    """Iceberg-style string-bound truncation (SortOrder/Metrics semantics):
    a truncated *lower* bound is sound as-is (prefix <= original); a
    truncated *upper* bound must be bumped above every string sharing the
    prefix — increment the last codepoint, dropping trailing U+10FFFF.
    Returns None when no sound upper bound exists (all-max prefix)."""
    lo_t = lo[:limit]
    if len(hi) <= limit:
        return lo_t, hi
    prefix = hi[:limit]
    chars = list(prefix)
    while chars:
        cp = ord(chars[-1])
        if cp < 0x10FFFF:
            chars[-1] = chr(cp + 1)
            return lo_t, "".join(chars)
        chars.pop()
    return None


#: Iceberg partition transforms supported in a partition spec entry.
#: ``parse_partition_spec`` turns ``["months(ship_date)", "bucket(8, id)",
#: "region"]`` into field descriptors; identity entries pass through.
_TRANSFORM_RE = re.compile(
    r"^\s*(years|months|days|hours|bucket|truncate)\s*\(\s*(?:(\d+)\s*,\s*)?([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$"
)


def parse_partition_spec(spec: list[str]) -> list[dict]:
    """Parse partition-spec entries into field descriptors:
    ``{"transform", "col", "param", "field"}`` where ``field`` is the
    physical partition column (the source column itself for identity,
    a derived ``_p_…`` column for transforms — Iceberg hidden
    partitioning: queries never mention the derived field)."""
    out = []
    for entry in spec or []:
        m = _TRANSFORM_RE.match(entry)
        if not m:
            out.append({"transform": "identity", "col": entry, "param": None, "field": entry})
            continue
        t, param, col = m.group(1), m.group(2), m.group(3)
        if t in ("bucket", "truncate") and param is None:
            raise ValueError(f"{t}() requires a width/count parameter: {entry!r}")
        out.append(
            {
                "transform": t,
                "col": col,
                "param": int(param) if param else None,
                "field": f"_p_{t}_{col}",
            }
        )
    return out


def transform_expr(transform: str, param: int | None, source, integral: bool = False):
    """The derived-partition-value expression for one transform, applied
    to any column/literal expression (Iceberg transform semantics:
    temporal transforms count units since 1970; bucket hashes; truncate
    floors).  Used identically at write time (derive the partition
    column) and at read time (fold a filter literal through the
    transform for partition pruning).  ``integral`` selects integer
    truncate (floor to a multiple of W) over string truncate (W-char
    prefix)."""
    d = F.to_date(source)
    if transform == "years":
        return F.year(d) - 1970
    if transform == "months":
        return (F.year(d) - 1970) * 12 + F.month(d) - 1
    if transform == "days":
        return F.datediff(d, F.lit("1970-01-01"))
    if transform == "hours":
        return F.floor(F.unix_timestamp(F.to_timestamp(source)) / 3600).cast("int")
    if transform == "bucket":
        return F.pmod(F.xxhash64(source), F.lit(param)).cast("int")
    if transform == "truncate":
        if integral:
            return source - F.pmod(source, F.lit(param))
        return F.substring(source, 1, param)
    raise ValueError(f"unknown transform {transform!r}")


#: transforms where the derived value is monotone in the source value →
#: range predicates fold through (with <,> relaxed to <=,>=); bucket is
#: hash-based, so only equality/IN prune.
_MONOTONE_TRANSFORMS = {"years", "months", "days", "hours", "truncate"}

#: column types eligible for a manifest Bloom filter: the filter hashes
#: ``md5(cast(col as string))``, and only integral/string casts render
#: identically in Spark (write side) and Python ``str()`` (probe side).
#: Matched EXACTLY (not by prefix) — e.g. ANSI ``interval day`` starts with
#: "int" but renders differently in the two runtimes, which would make an
#: equality probe unsoundly skip dirs.
_BLOOM_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "string"})


def _string_rank_projection(col):
    """Order-preserving numeric projection of a string: its first 6
    UTF-8 bytes as an integer (UTF-8 byte order IS codepoint order, and
    right-padding keeps prefixes below their extensions), so quantile
    bucketing on the projection clusters lexicographically.  48 bits
    fits a double exactly."""
    return F.conv(F.rpad(F.substring(F.hex(col), 1, 12), 12, "0"), 16, 10).cast(
        "double"
    )


def _quantile_bucket(source, cuts: list[float]):
    """Rank-normalized bucket index of ``source`` against sorted quantile
    ``cuts``: the count of cutpoints <= value (0..len(cuts)).  Quantile
    (not uniform-width) buckets make Z-ordering robust to skewed value
    distributions; NULLs land in bucket 0.  Pure JVM: one scan of a
    literal array per row, inside whole-stage codegen."""
    if not cuts:
        return F.lit(0)
    arr = F.array(*[F.lit(float(c)) for c in cuts])
    return F.size(F.filter(arr, lambda c: c <= source.cast("double")))


def _zorder_value(buckets: list, bits: int):
    """Interleave the low ``bits`` bits of each bucket index into one
    Z-value (Morton code): bit ``i`` of bucket ``j`` becomes output bit
    ``i * n_cols + j``.  Range-partitioning + sorting by this value
    co-locates rows that are close in EVERY clustered dimension, so
    per-file min/max bounds become tight on all of them at once —
    multi-column data skipping from a single sort order."""
    terms = []
    for i in range(bits):
        for j, b in enumerate(buckets):
            terms.append(
                F.shiftright(b, i).bitwiseAND(F.lit(1))
                * F.lit(1 << (i * len(buckets) + j))
            )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def _all_spec_fields(manifest: dict) -> list[dict]:
    """Partition fields of the CURRENT spec plus every retired spec
    (partition-spec evolution): reads must strip the derived ``_p_…``
    columns of all eras, not just the current one."""
    fields = parse_partition_spec(manifest["partition_by"])
    seen = {f["field"] for f in fields}
    for h in manifest.get("partition_specs", []):
        for f in parse_partition_spec(h.get("spec", [])):
            if f["field"] not in seen:
                seen.add(f["field"])
                fields.append(f)
    return fields


def _bloom_probe_positions(value, m: int, k: int) -> list[int]:
    """The ``k`` bit positions a value sets/probes, from ONE md5 via
    Kirsch-Mitzenmacher double hashing — computable identically in Spark
    SQL (write side) and pure Python (manifest probe side)."""
    import hashlib

    h = hashlib.md5(str(value).encode()).hexdigest()
    h1, h2 = int(h[:8], 16), int(h[8:16], 16)
    return [(h1 + i * h2) % m for i in range(k)]


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: int
    committed_at: float
    operation: str
    row_count: int  # cumulative rows visible at this snapshot (Iceberg total-records)
    data_dirs: tuple[str, ...]
    added_rows: int = 0  # rows written by this commit alone
    columns: tuple[str, ...] = ()  # evolved column order at this snapshot
    batch_id: int | None = None  # streaming micro-batch id, for idempotent sinks
    branch: str | None = None  # staged WAP-branch commit (None = on main)


class CommitConflictError(RuntimeError):
    """Raised when a commit loses the optimistic-concurrency race more than
    ``COMMIT_RETRIES`` times (sustained contention) or when two writers race
    to *create* the same table."""


class LakehouseCatalog:
    """One catalog over a shared warehouse directory.

    Namespaces are first-level dirs, tables second-level; every catalog
    instance pointed at the same warehouse sees the same tables (the
    CLD shared-storage model).

    Concurrency contract: concurrent ``append`` commits are safe
    (optimistic retry, like Iceberg); ``create_table(mode='overwrite')``
    assumes no concurrent readers/writers of that table — it replaces the
    whole table directory.
    """

    def __init__(self, spark: SparkSession, warehouse: str, name: str = "cld") -> None:
        self.spark = spark
        self.warehouse = warehouse
        self.name = name
        os.makedirs(warehouse, exist_ok=True)
        # Partition values keep their declared type (the reference stores
        # date_key as STRING, `03:59-60`); without this Spark would
        # re-infer "2024-01-03" partition dirs as DATE on read.
        spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Iceberg forbids INT96: micros-encoded timestamps carry real
        # parquet column statistics (INT96 has none), which file-level
        # skipping and footer-derived metrics depend on.
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Reads name their dirs from the manifest.  Past 32 paths (or
        # partition subdirs) Spark would list them in a Spark job; on the
        # driver the listing is cheaper than the job's fixed cost.
        spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # opt-in engine-enforced RBAC: (GrantRegistry, active role) or
        # None = unenforced (the default — backward compatible)
        self._rbac: tuple | None = None

    # -- RBAC enforcement --------------------------------------------------
    def enable_rbac(self, registry, role: str) -> None:
        """Turn ON engine-side access enforcement for this catalog
        handle: every table read (:meth:`load` — the choke point for
        time travel, filters and branches too) requires ``SELECT`` and
        every commit (:meth:`_publish_manifest` — the single CAS point
        all write paths publish through) requires ``WRITE`` (or
        ``ALL``) on ``{namespace}.{table}`` for the ACTIVE role, checked
        against a :class:`..jobs.grants.GrantRegistry` with the full
        Snowflake-style role-hierarchy + wildcard (future-grant)
        semantics the registry models.  This closes the gap between the
        reference's engine-enforced RBAC (`00_prereqs_rbac.sql:22-44`)
        and a registry that was previously audit-only: with enforcement
        on, a direct ``catalog.load()`` by an ungranted role raises
        ``PermissionError`` instead of succeeding.

        Scope (honest): enforcement is per CATALOG HANDLE, not per JVM —
        code holding a different (or un-enabled) handle to the same
        warehouse path bypasses it, exactly like any library-level
        guard; the reference's cloud engine enforces at the service
        boundary, which Spark does not have (SURVEY.md §1.1)."""
        self._rbac = (registry, role)

    def set_role(self, role: str) -> None:
        """Switch the active role (Snowflake ``USE ROLE``).  Requires
        enforcement to be enabled."""
        if self._rbac is None:
            raise ValueError("set_role: enable_rbac first")
        self._rbac = (self._rbac[0], role)

    def disable_rbac(self) -> None:
        self._rbac = None

    def _check_privilege(self, namespace: str, table: str, privilege: str) -> None:
        if self._rbac is None:
            return
        registry, role = self._rbac
        obj = f"{namespace}.{table}"
        if registry.has_privilege(role, "TABLE", obj, privilege) or (
            privilege != "ALL"
            and registry.has_privilege(role, "TABLE", obj, "ALL")
        ):
            return
        raise PermissionError(
            f"role '{role}' lacks {privilege} on TABLE {obj} "
            f"(catalog '{self.name}' enforces the grant registry)"
        )

    # -- paths -----------------------------------------------------------
    def _table_path(self, namespace: str, table: str) -> str:
        return os.path.join(self.warehouse, namespace, table)

    def _manifest_path(self, namespace: str, table: str) -> str:
        return os.path.join(self._table_path(namespace, table), MANIFEST)

    def _version_path(self, namespace: str, table: str, version: int) -> str:
        return os.path.join(self._table_path(namespace, table), f"_manifest.v{version}.json")

    def _latest_version(self, namespace: str, table: str) -> int:
        """Highest committed manifest version, 0 if none."""
        pattern = os.path.join(self._table_path(namespace, table), "_manifest.v*.json")
        best = 0
        for p in _glob.glob(pattern):
            tail = os.path.basename(p)[len("_manifest.v") : -len(".json")]
            if tail.isdigit():
                best = max(best, int(tail))
        return best

    def _read_manifest_versioned(self, namespace: str, table: str) -> tuple[dict, int]:
        """(manifest, version-it-was-read-at).  The highest version file
        wins; plain ``_manifest.json`` is the back-compat/convenience copy
        (version 0).  Committers MUST publish at read-version + 1: version
        numbers advance strictly one at a time, so a commit built on a
        stale read always collides with the interleaving commit's version
        file and retries — the CAS invariant."""
        v = self._latest_version(namespace, table)
        path = self._version_path(namespace, table, v) if v else self._manifest_path(namespace, table)
        with open(path) as f:
            return json.load(f), v

    def _read_manifest(self, namespace: str, table: str) -> dict:
        return self._read_manifest_versioned(namespace, table)[0]

    def _publish_manifest(self, namespace: str, table: str, manifest: dict, version: int) -> None:
        """Atomically publish manifest ``version`` — fails with
        FileExistsError if another writer already committed it (the CAS).
        ALSO the RBAC write gate: every mutation path (create, append,
        merge, delete CoW/MoR, compaction, branch ops) commits through
        here, so one check covers them all."""
        self._check_privilege(namespace, table, "WRITE")
        vpath = self._version_path(namespace, table, version)
        tmp = vpath + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        try:
            os.link(tmp, vpath)  # atomic create-exclusive: the commit point
        finally:
            os.unlink(tmp)
        # convenience copy + prune old versions (readers use version files)
        tmp2 = self._manifest_path(namespace, table) + ".tmp"
        with open(tmp2, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp2, self._manifest_path(namespace, table))
        for old in range(max(1, version - VERSION_HISTORY * 4), version - VERSION_HISTORY):
            try:
                os.unlink(self._version_path(namespace, table, old))
            except FileNotFoundError:
                pass

    # -- namespace / table listing (S7, S9) ------------------------------
    def create_namespace(self, namespace: str) -> None:
        os.makedirs(os.path.join(self.warehouse, namespace), exist_ok=True)

    def list_namespaces(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d)) and not d.startswith("_")
        )

    def list_tables(self, namespace: str) -> list[str]:
        ns_path = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(ns_path):
            return []
        return sorted(
            t
            for t in os.listdir(ns_path)
            if os.path.isfile(os.path.join(ns_path, t, MANIFEST))
        )

    def table_exists(self, namespace: str, table: str) -> bool:
        return os.path.isfile(self._manifest_path(namespace, table))

    def table_uuid(self, namespace: str, table: str) -> str:
        """Stable identity of the current table incarnation; changes when
        the table is re-created (``mode='overwrite'``), so incremental
        readers can detect lineage resets (see
        :func:`...streaming.events.incremental_snapshot_read`)."""
        return self._read_manifest(namespace, table).get("table_uuid", "")

    # -- DDL / DML (S5, S6) ----------------------------------------------
    def create_table(
        self,
        namespace: str,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        mode: str = "error",
        batch_id: int | None = None,
        bloom_filter_cols: list[str] | None = None,
        bloom_m: int = 8192,
        bloom_k: int = 4,
        write_distribution: str | None = None,
        writer_id: str | None = None,
    ) -> Snapshot:
        """Create (or replace with ``mode='overwrite'``) a table from a
        DataFrame — the S5 `CREATE TABLE … USING iceberg PARTITIONED BY`
        analog (`03_load_iceberg_aws.py:201-260`).

        ``bloom_filter_cols`` opts the table into per-data-dir Bloom
        filters (the analog of Iceberg's ``write.parquet.bloom-filter-
        enabled.column.X`` table property): every commit records an
        ``m``-bit filter per listed column, and equality/IN scans skip
        dirs the filter proves cannot contain the probe value — the
        point-lookup complement to min/max bounds, which cannot prune
        when dirs have overlapping value ranges (e.g. unordered
        high-cardinality ids).

        ``write_distribution='hash'`` (Iceberg
        ``write.distribution-mode``) shuffles each commit's rows onto
        their partition values before the write, so P partitions get P
        files instead of writer-tasks × P — the small-file guard for
        wide clusters writing many-partition tables."""
        if self.table_exists(namespace, table):
            if mode == "error":
                raise FileExistsError(f"{namespace}.{table} exists")
            if mode == "ignore":
                return self.current_snapshot(namespace, table)
            if mode == "overwrite":
                # drop the whole previous incarnation: without this, data
                # dirs from the replaced table's later snapshots would be
                # orphaned on disk while the manifest resets
                self.drop_table(namespace, table)
        self.create_namespace(namespace)
        os.makedirs(self._table_path(namespace, table), exist_ok=True)
        manifest = {
            "table": f"{namespace}.{table}",
            "table_uuid": uuid.uuid4().hex,
            "partition_by": partition_by or [],
            "columns": list(df.columns),
            "dir_columns": {},
            "snapshots": [],
        }
        if write_distribution is not None:
            if write_distribution not in ("hash",):
                raise ValueError(
                    f"unknown write_distribution {write_distribution!r} "
                    "(supported: 'hash')"
                )
            manifest["write_distribution"] = write_distribution
        if bloom_filter_cols:
            bad = [
                c
                for c in bloom_filter_cols
                if dict(df.dtypes).get(c, "") not in _BLOOM_TYPES
            ]
            if bad:
                raise ValueError(
                    f"bloom_filter_cols must be integral/string columns; got {bad}"
                )
            manifest["bloom"] = {
                "cols": list(bloom_filter_cols), "m": bloom_m, "k": bloom_k,
            }
        return self._commit(
            namespace, table, manifest, df, "create",
            batch_id=batch_id, writer_id=writer_id,
        )

    def append(
        self,
        namespace: str,
        table: str,
        df: DataFrame,
        batch_id: int | None = None,
        branch: str | None = None,
        writer_id: str | None = None,
        legacy_batch_guard: bool = True,
    ) -> Snapshot:
        """Append a new snapshot — `05_append_campaigns.py:119-123`.

        ``batch_id`` makes the append idempotent for streaming sinks:
        if a snapshot with ``batch_id >= current`` is already committed
        (restart after crash-between-append-and-checkpoint), the append is
        skipped and the current snapshot returned.  ``writer_id`` scopes
        that guard to one stream lineage (Delta ``txnAppId`` style):
        batch ids restart at 0 for a NEW checkpoint, so without a writer
        identity a fresh stream pointed at an existing table would be
        silently no-op'd by a previous stream's batch numbers.

        ``branch`` stages the commit on a named branch (Iceberg
        write-audit-publish): main readers don't see it until
        :meth:`publish_branch` fast-forwards; branch readers use
        ``load(..., ref=branch)``."""
        manifest = self._read_manifest(namespace, table)
        if batch_id is not None and self._batch_already_committed(
            manifest, batch_id, writer_id, legacy_batch_guard
        ):
            return self.current_snapshot(namespace, table)
        return self._commit(
            namespace, table, manifest, df, "append",
            batch_id=batch_id, branch=branch, writer_id=writer_id,
            legacy_batch_guard=legacy_batch_guard,
        )

    # -- maintenance (Iceberg MERGE / rewrite_data_files / expire_snapshots
    # analogs) ------------------------------------------------------------
    def merge_upsert(
        self, namespace: str, table: str, source: DataFrame, key_cols: list[str]
    ) -> Snapshot:
        """``MERGE INTO`` with copy-on-write semantics: source rows replace
        current rows sharing their key, unmatched source rows insert,
        everything else carries over.  One anti-join + union + full
        rewrite into a fresh ``replace`` snapshot — history (and time
        travel to the pre-merge state) is preserved.

        Scale: copy-on-write rewrites the table, which is exactly what
        Iceberg CoW MERGE does; the anti-join shuffles on the merge key.
        For partitioned tables Spark's dynamic partition pruning limits
        the rewrite read to partitions the source touches only when the
        caller pre-filters — document-level engines should merge per
        partition batch."""
        current = self.load(namespace, table)
        keys = source.select(*key_cols).distinct()
        remaining = current.join(keys, key_cols, "left_anti")
        merged = remaining.unionByName(source, allowMissingColumns=True)
        manifest = self._read_manifest(namespace, table)
        return self._commit(namespace, table, manifest, merged, "replace")

    def replace_table(self, namespace: str, table: str, df: DataFrame) -> Snapshot:
        """Full-content replace as a HISTORY-PRESERVING ``replace``
        snapshot — unlike ``create_table(mode="overwrite")``, which
        resets lineage and reclaims the old data dirs immediately.  The
        table's partition spec carries over; time travel to the previous
        contents keeps working until :meth:`expire_snapshots`.

        The whole-artifact swap primitive: an ANN index rebuild
        (`operators.similarity.rebuild_ann_index`) or any derived-table
        recompute swaps in its new contents while readers pinned to the
        old snapshot stay consistent."""
        manifest = self._read_manifest(namespace, table)
        return self._commit(namespace, table, manifest, df, "replace")

    def replace_partitions(
        self, namespace: str, table: str, df: DataFrame, partition_col: str, values: list
    ) -> Snapshot:
        """Partition-scoped copy-on-write (Iceberg dynamic partition
        overwrite): current rows whose ``partition_col`` is in ``values``
        are replaced by ``df``; every other partition carries over into a
        fresh ``replace`` snapshot (time travel preserved).

        The incremental-MV refresh primitive: callers recompute only the
        partitions their source deltas touched and swap them in.  Scale:
        the carried-over side is a pruned scan (``partition_col NOT IN``)
        of an aggregate-sized table; the expensive fact aggregation was
        already limited to the changed partitions by the caller."""
        from pyspark.sql import functions as F

        current = self.load(namespace, table)
        # NOT IN evaluates to NULL (→ dropped) for NULL-keyed rows; a
        # NULL partition must carry over unless explicitly replaced, to
        # match what a full refresh would keep.
        pcol = F.col(partition_col)
        has_null_value = any(v is None for v in values)
        kept = current.filter(
            (pcol.isNull() & F.lit(not has_null_value)) | ~pcol.isin(values)
        )
        merged = kept.unionByName(df, allowMissingColumns=False)
        manifest = self._read_manifest(namespace, table)
        return self._commit(namespace, table, manifest, merged, "replace")

    def compact(
        self,
        namespace: str,
        table: str,
        target_file_partitions: int | None = None,
        cluster_by: list[str] | None = None,
        zorder_bits: int = 4,
        target_file_mb: int | None = None,
        exact: bool = False,
    ) -> Snapshot:
        """Small-file compaction (Iceberg ``rewrite_data_files``): rewrite
        the current snapshot's accumulated data dirs into one ``replace``
        snapshot.  Logical content unchanged; readers of the new head scan
        one dir instead of one per historical append.

        ``cluster_by`` runs the rewrite as a **Z-order clustering**
        (Iceberg ``rewrite_data_files(strategy => 'sort', sort_order =>
        'zorder(a, b)')``): each column is rank-normalized into
        ``2**zorder_bits`` quantile buckets (one driver-sized
        ``approxQuantile`` pass — skew-proof, unlike uniform-width
        binning), the bucket bits are Morton-interleaved, and the data is
        range-partitioned + sorted by the interleaved value.  Per-FILE
        min/max bounds for the clustered columns are then read from the
        written parquet footers into the manifest, so a filter on ANY of
        the clustered dimensions skips most files of the dir —
        multi-column data skipping from one layout, the standard answer
        to "which files can hold user_id=X AND day=Y" at 100 TB.
        Numeric/date/timestamp columns bucket on their values; string
        columns bucket on an order-preserving 7-byte prefix projection
        (lexicographic order survives, so range predicates still prune).
        Nulls sort into the lowest bucket.

        ``exact=True`` swaps the quantile bucketing for the EXACT affine
        integer quantization of :func:`operators.layout.zorder_keys`
        (``(x - min) * 2**bits div (max - min + 1)``): no sampling, no
        floating point — the key derivation is bit-reproducible and
        hash-certified by the ``zorder_cells`` oracle query, the layout
        contract an auditor can replay.  Requires integral cluster
        columns (the price of exactness); uniform-width bins also mean a
        heavily skewed key can crowd the curve — prefer the default
        quantile path for skewed production data.

        ``target_file_mb`` sizes the rewrite from the snapshot's actual
        on-disk bytes (Iceberg ``target-file-size-bytes``): output
        partitions = ceil(current bytes / target) — the ops-friendly
        alternative to guessing a partition count."""
        df = self.load(namespace, table)
        if target_file_mb is not None and target_file_partitions is None:
            snap = self.current_snapshot(namespace, table)
            total = sum(
                os.path.getsize(os.path.join(root, f))
                for d in snap.data_dirs
                for root, _, files in os.walk(
                    os.path.join(self._table_path(namespace, table), d)
                )
                for f in files
                if f.endswith(".parquet")
            )
            target_file_partitions = max(
                1, -(-total // (target_file_mb * 1024 * 1024))
            )
        file_stats_cols = None
        if cluster_by and exact:
            from ..operators.layout import zorder_keys

            integral = {"tinyint", "smallint", "int", "bigint"}
            dtypes = dict(df.dtypes)
            bad = [c for c in cluster_by if dtypes.get(c) not in integral]
            if bad:
                raise ValueError(
                    f"compact: exact=True requires integral cluster columns; "
                    f"{bad} are {[dtypes.get(c) for c in bad]} "
                    "(use exact=False for strings/timestamps/doubles)"
                )
            n = target_file_partitions or self.spark.sparkContext.defaultParallelism
            keyed = zorder_keys(df, cluster_by, bits=zorder_bits)
            df = (
                keyed.repartitionByRange(n, "zvalue")
                .sortWithinPartitions("zvalue")
                .select(*df.columns)
            )
            file_stats_cols = list(cluster_by)
        elif cluster_by:
            n = target_file_partitions or self.spark.sparkContext.defaultParallelism
            nb = 1 << zorder_bits
            probs = [i / nb for i in range(1, nb)]
            dtypes = dict(df.dtypes)

            def _proj(c: str):
                t = dtypes.get(c, "")
                if t == "string":
                    return _string_rank_projection(F.col(c))
                if t.startswith("timestamp"):
                    return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
                if t == "date":
                    return F.unix_date(F.col(c)).cast("double")
                return F.col(c).cast("double")

            proj = {c: _proj(c) for c in cluster_by}
            ranked = df.select(
                *[proj[c].alias(f"_zr_{i}") for i, c in enumerate(cluster_by)]
            )
            quantiles = ranked.approxQuantile(
                [f"_zr_{i}" for i in range(len(cluster_by))], probs, 1.0 / (4 * nb)
            )
            buckets = [
                _quantile_bucket(proj[c], sorted(set(cs)))
                for c, cs in zip(cluster_by, quantiles)
            ]
            z = _zorder_value(buckets, zorder_bits)
            df = df.repartitionByRange(n, z).sortWithinPartitions(z)
            file_stats_cols = list(cluster_by)
        elif target_file_partitions is not None:
            df = df.repartition(target_file_partitions)
        manifest = self._read_manifest(namespace, table)
        return self._commit(
            namespace, table, manifest, df, "replace",
            file_stats_cols=file_stats_cols,
        )

    def expire_snapshots(
        self,
        namespace: str,
        table: str,
        keep_last: int = 1,
        older_than: float | None = None,
    ) -> dict:
        """Iceberg ``expire_snapshots``: mark all but the newest
        ``keep_last`` snapshots expired and delete data dirs no retained
        snapshot references.  Snapshot ids stay stable (history is marked,
        not renumbered); time travel to an expired id raises clearly.

        ``older_than`` (epoch seconds — Iceberg's ``older_than``
        timestamp) additionally RETAINS every snapshot committed at or
        after it, regardless of ``keep_last``: age is the retention
        contract ops teams actually set ("keep 7 days"), count is the
        floor.

        The current MAIN head is always retained — Iceberg never expires
        the current snapshot, even at ``keep_last=0`` — so the default
        read path and ``describe_table`` always agree on a live head."""
        import shutil

        for _ in range(COMMIT_RETRIES):
            manifest, base_version = self._read_manifest_versioned(namespace, table)
            snaps = manifest["snapshots"]
            retained = snaps[-keep_last:] if keep_last > 0 else []
            main = [s for s in snaps if not s.get("branch")]
            if main:
                retained = retained + [main[-1]]
            if older_than is not None:
                retained = retained + [
                    s for s in snaps if s["committed_at"] >= older_than
                ]
            # snapshots pinned by a branch/tag ref stay live regardless of
            # the retention window (Iceberg ref-aware expiry)
            ref_sids = {
                r["snapshot_id"] for r in manifest.get("refs", {}).values()
            }
            retained = retained + [s for s in snaps if s["snapshot_id"] in ref_sids]
            live = {
                d
                for s in retained
                for d in [*s["data_dirs"], *s.get("delete_dirs", [])]
            }
            retained_ids = {s["snapshot_id"] for s in retained}
            expired_ids = [
                s["snapshot_id"]
                for s in snaps[:-keep_last or len(snaps)]
                if not s.get("expired") and s["snapshot_id"] not in retained_ids
            ]
            dead_dirs = sorted(
                {
                    d
                    for s in snaps
                    for d in [*s["data_dirs"], *s.get("delete_dirs", [])]
                }
                - live
            )
            candidate = dict(manifest)
            candidate["snapshots"] = [
                {**s, "expired": True} if s["snapshot_id"] in expired_ids or s.get("expired") else s
                for s in snaps
            ]
            for fam in DIR_FAMILIES:
                candidate[fam] = {
                    d: v for d, v in manifest.get(fam, {}).items() if d in live
                }
            try:
                self._publish_manifest(namespace, table, candidate, version=base_version + 1)
            except FileExistsError:
                continue  # concurrent commit: re-read and retry
            for d in dead_dirs:
                shutil.rmtree(
                    os.path.join(self._table_path(namespace, table), d), ignore_errors=True
                )
            return {"expired_snapshots": expired_ids, "deleted_dirs": dead_dirs}
        raise CommitConflictError(f"expire_snapshots on {namespace}.{table} kept losing races")

    # -- per-dir column bounds (Iceberg manifest file stats analog) -------
    @staticmethod
    def _stats_exprs(df: DataFrame) -> tuple[Column, dict[str, str]]:
        """(one observe-metric struct, col→kind) for every stats-worthy
        column.  The struct is ``(count(1), lo, hi, nulls, lo, hi, nulls,
        …)`` in ``kinds`` order, written as ONE SQL expression: the
        driver cost of building it is a single call whatever the width.
        Bounds ride the write job's Observation — zero extra scans.
        Temporal types are normalized to epoch integers so the manifest
        stays JSON-native and comparisons are total-ordered."""
        fields, kinds = ["count(1)"], {}
        for name, dtype in df.dtypes:
            c = "`" + name.replace("`", "``") + "`"
            # kind, and the SQL that maps the min/max aggregate ``{}`` to
            # the manifest's bound domain
            if dtype.startswith("decimal"):
                kind, bound = "num", "CAST({} AS DOUBLE)"
            elif dtype.startswith(_STATS_NUMERIC):
                kind, bound = "num", "{}"
            elif dtype == "string":
                kind, bound = "str", "{}"
            elif dtype == "timestamp":
                kind, bound = "num", "unix_micros({})"
            elif dtype == "timestamp_ntz":
                # wall-clock micros, the domain naive filter literals
                # normalize to (unix_micros takes no TIMESTAMP_NTZ)
                kind = "num"
                bound = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {})"
            elif dtype == "date":
                kind, bound = "num", "unix_date({})"
            else:
                continue  # arrays/maps/structs/binary/boolean: no bounds
            kinds[name] = kind
            # null count makes bounds usable for PROOFS OF FULL MATCH
            # (metadata-only aggregates): [lo, hi] describes only the
            # non-null rows, so "every row satisfies col >= v" needs
            # nulls == 0 on top of lo >= v
            fields += [
                bound.format(f"min({c})"),
                bound.format(f"max({c})"),
                f"sum(CAST(({c} IS NULL) AS BIGINT))",
            ]
        return F.expr(f"struct({', '.join(fields)})"), kinds

    @staticmethod
    def _stats_from_metrics(metrics: dict, kinds: dict[str, str], dtypes: dict[str, str]) -> dict:
        """manifest ``dir_stats`` entry: col → [lower, upper] (conservative;
        decimals widened one ULP outward to absorb the double cast)."""
        import math

        stats = {}
        for name, kind in kinds.items():
            lo, hi = metrics.get(f"lo__{name}"), metrics.get(f"hi__{name}")
            if lo is None or hi is None:
                continue  # all-null column in this dir: no bounds
            if kind == "str":
                bounds = _truncated_bounds(str(lo), str(hi))
                if bounds is None:
                    continue
                lo, hi = bounds
            elif dtypes.get(name, "").startswith("decimal"):
                lo = math.nextafter(float(lo), -math.inf)
                hi = math.nextafter(float(hi), math.inf)
            entry = [lo, hi]
            nulls = metrics.get(f"nulls__{name}")
            if nulls is not None:
                entry.append(int(nulls))
            stats[name] = entry
        return stats

    @staticmethod
    def _batch_already_committed(
        manifest: dict,
        batch_id: int,
        writer_id: str | None = None,
        legacy_guard: bool = True,
    ) -> bool:
        # the guard is scoped per WRITER (Delta's txnAppId discipline):
        # micro-batch ids restart at 0 for every new checkpoint, so a
        # fresh stream writing to an existing table must not be no-op'd
        # by a previous stream's batch numbers.  Snapshots written
        # BEFORE writer scoping existed (batch_id present, writer_id
        # absent) guard ANY writer: a stream whose checkpoint predates
        # the upgrade replays its last batch with a writer_id its own
        # earlier snapshots lack, and requiring equality there would
        # double-append.  The residual cost is the legacy one — a
        # genuinely fresh checkpoint writing to a table with unscoped
        # snapshots may be no-op'd until those are superseded.
        # ``legacy_guard=False`` opts a writer OUT of that crossover:
        # correct for writer families that postdate scoping (takedown
        # deltas — r12 review: a takedown's consumed delta must not be
        # swallowed by a legacy stream's batch numbers) and can never
        # have unscoped snapshots of their own.
        committed = [
            s["batch_id"]
            for s in manifest["snapshots"]
            if s.get("batch_id") is not None
            and (
                writer_id is None  # legacy probe: the unscoped guard
                or (legacy_guard and s.get("writer_id") is None)
                or s.get("writer_id") == writer_id
            )
        ]
        return bool(committed) and max(committed) >= batch_id

    def batch_committed(
        self,
        namespace: str,
        table: str,
        batch_id: int,
        writer_id: str | None = None,
    ) -> bool:
        """Whether a streaming micro-batch with id >= ``batch_id`` has
        already committed to ``table`` by the SAME writer (``writer_id``
        — a stable identity of the stream lineage, e.g. a hash of its
        checkpoint dir; None = the legacy unscoped guard).  Lets
        foreachBatch sinks that fan one decision out to several tables
        detect a crash-replay and re-derive the remaining appends from a
        staged artifact instead of recomputing decisions against state
        the first attempt already mutated (see
        ``streaming.curation.stream_curated_admission``)."""
        if not self.table_exists(namespace, table):
            return False
        return self._batch_already_committed(
            self._read_manifest(namespace, table), batch_id, writer_id
        )

    def adopt_legacy_batches(
        self, namespace: str, table: str, writer_id: str
    ) -> int:
        """Retire the legacy ANY-writer batch guard for one table: stamp
        every pre-writer-scoping snapshot (``batch_id`` present,
        ``writer_id`` absent) with the given writer identity —
        manifest-only, no data moves, CAS-committed.

        The legacy crossover exists so a stream whose checkpoint
        predates writer scoping can replay its last batch without
        double-appending; its cost is that a genuinely fresh writer may
        be no-op'd by the legacy snapshots' batch numbers.  Once the
        operator KNOWS which lineage wrote the unscoped snapshots
        (there is exactly one per table in practice — batch ids are a
        single checkpoint's), adopting them under that lineage's
        ``writer_id`` keeps its replay protection via the normal
        equality guard while freeing every other writer.  Deliberately
        an explicit maintenance call, not an automatic stamp on first
        scoped commit: with two historic unscoped lineages an automatic
        adoption would guess the owner.

        Returns the number of snapshots stamped (0 = nothing legacy)."""
        for _ in range(COMMIT_RETRIES):
            manifest, base_version = self._read_manifest_versioned(namespace, table)
            todo = [
                s
                for s in manifest["snapshots"]
                if s.get("batch_id") is not None and s.get("writer_id") is None
            ]
            if not todo:
                return 0
            candidate = dict(manifest)
            candidate["snapshots"] = [
                {**s, "writer_id": writer_id}
                if s.get("batch_id") is not None and s.get("writer_id") is None
                else s
                for s in manifest["snapshots"]
            ]
            try:
                self._publish_manifest(
                    namespace, table, candidate, version=base_version + 1
                )
            except FileExistsError:
                continue
            return len(todo)
        raise CommitConflictError(
            f"adopt_legacy_batches({namespace}.{table}): lost the manifest "
            f"CAS {COMMIT_RETRIES} times to concurrent writers"
        )

    def _claim_data_dir(self, namespace: str, table: str, sid: int) -> str:
        """Reserve a unique data dir name (atomic mkdir) so concurrent
        writers never write into the same directory."""
        base = f"data-{sid:05d}"
        name = base
        while True:
            try:
                os.makedirs(os.path.join(self._table_path(namespace, table), name))
                return name
            except FileExistsError:
                name = f"{base}-{uuid.uuid4().hex[:8]}"

    def current_snapshot(self, namespace: str, table: str) -> Snapshot:
        """The MAIN head: the latest snapshot not staged on a WAP branch."""
        main = [s for s in self.snapshots(namespace, table) if s.branch is None]
        if not main:
            raise ValueError(f"{namespace}.{table} has no snapshots")
        return main[-1]

    def _write_data_dir(
        self, namespace: str, table: str, manifest: dict, df: DataFrame
    ) -> tuple[str, int, dict]:
        """Write ``df`` into a freshly claimed data dir with the table's
        (hidden) partition layout; returns (dir name, row count, the dir's
        :data:`DIR_FAMILIES` entries).  The row count and stats ride the
        write job itself via ``df.observe`` — no second scan; the file
        schema is ``df.schema``, known without a job.  A zero-row
        partitioned write leaves a dir with no parquet file: see
        :meth:`_keep_empty`."""
        sid_guess = len(manifest["snapshots"]) + 1
        data_dir = self._claim_data_dir(namespace, table, sid_guess)
        out = os.path.join(self._table_path(namespace, table), data_dir)
        obs = Observation()
        stats, stat_kinds = self._stats_exprs(df)
        observed = df.observe(obs, stats.alias("stats"))
        # Hidden partitioning: derive transform partition columns (months/
        # days/bucket/truncate specs) on the fly; identity specs partition
        # on the source column directly.  Derived `_p_…` columns live only
        # in the physical layout — load() strips them.
        pcols = []
        dtypes = dict(df.dtypes)
        for fld in parse_partition_spec(manifest["partition_by"]):
            if fld["transform"] == "identity":
                pcols.append(fld["field"])
            else:
                integral = dtypes.get(fld["col"], "").startswith(_STATS_NUMERIC)
                observed = observed.withColumn(
                    fld["field"],
                    transform_expr(
                        fld["transform"], fld["param"], F.col(fld["col"]), integral
                    ),
                )
                pcols.append(fld["field"])
        if pcols and manifest.get("write_distribution") == "hash":
            # Iceberg write.distribution-mode=hash: co-locate each
            # partition value into one task before the write, so a
            # P-partition commit from W writer tasks produces P files,
            # not W×P small files — THE small-file guard at 100 TB
            # (one extra hash shuffle per commit, bought deliberately).
            observed = observed.repartition(*[F.col(c) for c in pcols])
        # "append" into the claimed dir: "overwrite" would delete and
        # re-create it, and a concurrent claim in that gap would get the
        # same name (two rewrites in one dir)
        writer = observed.write.mode("append")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(out)
        values = iter(obs.get["stats"])
        added = int(next(values))
        metrics = {
            f"{key}__{name}": next(values)
            for name in stat_kinds
            for key in ("lo", "hi", "nulls")
        }
        return data_dir, added, {
            "dir_columns": list(df.columns),
            "dir_schemas": _file_schema(df.schema, pcols),
            "dir_layout": pcols,
            "dir_stats": (
                self._stats_from_metrics(metrics, stat_kinds, dtypes) if added else {}
            ),
            "dir_rows": added,
        }

    def _keep_empty(
        self, namespace: str, table: str, data_dir: str, entries: dict, schema
    ) -> None:
        """Make a zero-row data dir readable.  A zero-row partitioned
        write materializes no partition dirs (and hence no schema-bearing
        parquet file); an empty create/replace keeps one explicit empty,
        unpartitioned file so the table schema survives.  A zero-row
        unpartitioned write already left that file (Spark's first task
        always writes one)."""
        out = os.path.join(self._table_path(namespace, table), data_dir)
        if not _glob.glob(os.path.join(out, "*.parquet")):
            self.spark.createDataFrame([], schema).repartition(1).write.mode(
                "append"
            ).parquet(out)
        entries["dir_schemas"] = _file_schema(schema)
        entries["dir_layout"] = []

    def _write_delete_dir(
        self, namespace: str, table: str, sid: int, keys: DataFrame
    ) -> tuple[str, str, int, str]:
        """Write a merge-on-read equality-delete key set into a fresh
        delete dir; returns (dir name, path, key count, file schema)."""
        ddir = f"deletes-{sid:05d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self._table_path(namespace, table), ddir)
        obs = Observation()
        keys.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(out)
        return ddir, out, int(obs.get["rows"]), _file_schema(keys.schema)

    @staticmethod
    def _add_dir_entries(candidate: dict, d: str, entries: dict) -> None:
        """Record dir ``d``'s family entries in a candidate manifest (each
        family dict is copied: the candidate shares them with its base)."""
        for fam, v in entries.items():
            candidate[fam] = {**candidate.get(fam, {}), d: v}

    def _collect_file_stats(self, out_path: str, cols: list[str]) -> dict:
        """Per-file min/max bounds for ``cols`` from the just-written
        parquet FOOTERS (pyarrow metadata read — no data scan; this is
        exactly where Iceberg writers get their file-level metrics).
        Bounds land in the manifest normalized to the same domain as
        :meth:`_stats_exprs` (temporal → epoch integers, strings
        Iceberg-truncated), so :meth:`_dir_survives` evaluates dir- and
        file-level entries with one code path."""
        import pyarrow.parquet as pq

        stats: dict[str, dict] = {}
        want = set(cols)
        for fp in sorted(
            _glob.glob(os.path.join(out_path, "**", "*.parquet"), recursive=True)
        ):
            md = pq.ParquetFile(fp).metadata
            per: dict[str, list | None] = {}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    cmd = row.column(ci)
                    name = cmd.path_in_schema
                    if name not in want or per.get(name, 0) is None:
                        continue
                    st = cmd.statistics
                    if st is None or not st.has_min_max:
                        per[name] = None  # unknowable → no bounds for col
                        continue
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode(), hi.decode()
                        except UnicodeDecodeError:
                            per[name] = None
                            continue
                    cur = per.get(name)
                    per[name] = (
                        [min(cur[0], lo), max(cur[1], hi)]
                        if isinstance(cur, list)
                        else [lo, hi]
                    )
            entry = {}
            for name, v in per.items():
                if not isinstance(v, list):
                    continue
                lo, hi = self._norm_filter_value(v[0]), self._norm_filter_value(v[1])
                if isinstance(lo, str):
                    b = _truncated_bounds(lo, hi)
                    if b is None:
                        continue
                    lo, hi = b
                entry[name] = [lo, hi]
            if entry:
                stats[os.path.relpath(fp, out_path)] = entry
        return stats

    def _build_dir_blooms(
        self, out_path: str, bcfg: dict, dtypes: dict, file_schema: str
    ) -> dict:
        """Build one Bloom filter per configured column over the rows of a
        just-written data dir: a column-pruned scan (given the dir's
        recorded ``file_schema``, so no inference job) of only the indexed
        columns computes the k distinct bit positions per value
        (md5-based double hashing, :func:`_bloom_probe_positions`), and
        the driver packs them into an m-bit bitset (m/8 bytes per column
        per dir in the manifest).  Columns absent from this commit's
        schema or of non-integral/string type are skipped (their absence
        reads as "always survive" — sound)."""
        import base64

        m, k = bcfg.get("m", 8192), bcfg.get("k", 4)
        cols = [
            c
            for c in bcfg.get("cols", [])
            if dtypes.get(c, "") in _BLOOM_TYPES
        ]
        if not cols:
            return {}
        written = self.spark.read.schema(_schema_of(file_schema)).parquet(out_path)
        cols = [c for c in cols if c in written.columns]
        aggs = []
        for c in cols:
            s = F.md5(F.col(c).cast("string"))
            h1 = F.conv(F.substring(s, 1, 8), 16, 10).cast("long")
            h2 = F.conv(F.substring(s, 9, 8), 16, 10).cast("long")
            for i in range(k):
                aggs.append(
                    F.collect_set(F.pmod(h1 + F.lit(i) * h2, F.lit(m))).alias(
                        f"{c}__{i}"
                    )
                )
        if not aggs:
            return {}
        row = written.agg(*aggs).collect()[0]
        out = {}
        for c in cols:
            bits = 0
            for i in range(k):
                for p in row[f"{c}__{i}"]:
                    bits |= 1 << int(p)
            out[c] = base64.b64encode(bits.to_bytes((m + 7) // 8, "big")).decode()
        return out

    def _commit(
        self,
        namespace: str,
        table: str,
        manifest: dict,
        df: DataFrame,
        op: str,
        batch_id: int | None = None,
        carry_dirs: list[str] | None = None,
        base_snapshot_id: int | None = None,
        extra_dir_rows: dict[str, int] | None = None,
        branch: str | None = None,
        file_stats_cols: list[str] | None = None,
        writer_id: str | None = None,
        legacy_batch_guard: bool = True,
    ) -> Snapshot:
        """Write ``df`` as a new data dir and publish a snapshot.

        ``file_stats_cols`` additionally records per-FILE min/max bounds
        for the named columns (read from the just-written parquet footers
        — metadata only, no data scan), enabling file-granularity skipping
        inside the dir; clustered rewrites (:meth:`compact` with
        ``cluster_by``) use it so the sort order actually pays off.

        ``op='rewrite'`` is file-level copy-on-write (row-level DELETE/
        UPDATE/MERGE): ``carry_dirs`` are the untouched data dirs carried
        into the new snapshot by reference — metadata only, no data moves
        — while ``df`` holds the rewritten content of the touched dirs.
        ``base_snapshot_id`` pins the snapshot the rewrite was planned
        against; if a concurrent commit advanced the table past it, the
        rewrite ABORTS with :class:`CommitConflictError` (Iceberg's
        serializable validation) instead of silently dropping the
        concurrent rows — the caller re-plans against the new head."""
        # 1. write the data exactly once, outside the retry loop; the row
        # count rides along on the write job itself (no second scan —
        # `df.observe` attaches a metric to the existing action)
        data_dir, added, entries = self._write_data_dir(namespace, table, manifest, df)
        out = os.path.join(self._table_path(namespace, table), data_dir)
        if added == 0:
            # Iceberg semantics: an empty append adds no data files (the
            # snapshot still commits — cursors advance, batch ids are
            # recorded)
            if op == "append" or (op == "rewrite" and carry_dirs):
                import shutil

                shutil.rmtree(out, ignore_errors=True)
                data_dir = None
            else:
                self._keep_empty(namespace, table, data_dir, entries, df.schema)
        else:
            extra = {
                "file_stats": file_stats_cols
                and self._collect_file_stats(out, file_stats_cols),
                "dir_blooms": manifest.get("bloom")
                and self._build_dir_blooms(
                    out, manifest["bloom"], dict(df.dtypes), entries["dir_schemas"]
                ),
            }
            # an empty file-stats entry would read as "every file pruned"
            entries.update({fam: v for fam, v in extra.items() if v})

        # 2. commit the manifest with optimistic-concurrency retry: the
        # exclusive version-file create is the CAS; losers re-read the
        # winner's manifest and re-apply their snapshot on top.  Content
        # and base version are read TOGETHER each attempt — a fresher
        # version paired with staler content could otherwise publish
        # successfully and drop the interleaving commit's snapshot.
        base_version = self._latest_version(namespace, table)
        for _ in range(COMMIT_RETRIES):
            if op != "create":
                manifest, base_version = self._read_manifest_versioned(namespace, table)
            sid = len(manifest["snapshots"]) + 1
            if op == "rewrite" and manifest["snapshots"] and (
                manifest["snapshots"][-1]["snapshot_id"] != base_snapshot_id
            ):
                # a concurrent commit landed between plan and publish: the
                # rewrite's carried/rewritten split no longer reflects the
                # table — abort rather than drop the concurrent snapshot
                import shutil

                if data_dir is not None:
                    shutil.rmtree(
                        os.path.join(self._table_path(namespace, table), data_dir),
                        ignore_errors=True,
                    )
                raise CommitConflictError(
                    f"rewrite of {namespace}.{table} planned at snapshot "
                    f"{base_snapshot_id} but head advanced to "
                    f"{manifest['snapshots'][-1]['snapshot_id']}; re-plan and retry"
                )
            prev = None
            if op in ("append", "rewrite") and manifest["snapshots"]:
                # an append's parent is the branch head when writing to a
                # WAP branch, else the MAIN head (last unstaged snapshot) —
                # staged branch commits never leak into main's lineage
                if branch and branch in manifest.get("refs", {}):
                    ref = manifest["refs"][branch]
                    if ref.get("type") == "tag":
                        raise ValueError(f"cannot append to tag {branch!r}")
                    prev = manifest["snapshots"][ref["snapshot_id"] - 1]
                else:
                    prev = next(
                        (s for s in reversed(manifest["snapshots"]) if not s.get("branch")),
                        None,
                    )
            if prev is not None:
                prev_dirs = list(prev["data_dirs"])
                # the manifest's column list is the CURRENT logical schema
                # (alter_table may have renamed/dropped since the previous
                # snapshot committed) — prefer it over the snapshot's
                prev_cols = list(manifest.get("columns") or prev.get("columns") or [])
                prev_total = prev.get("row_count", 0)
            else:
                prev_dirs, prev_cols, prev_total = [], [], 0
            evolved = prev_cols + [c for c in df.columns if c not in prev_cols]
            if op == "rewrite":
                # carried rows ride the manifest's per-dir counts — the
                # rewrite commit never re-scans untouched data
                # (``extra_dir_rows`` backfills pre-dir_rows-era dirs the
                # caller had to count once)
                dir_rows = {**manifest.get("dir_rows", {}), **(extra_dir_rows or {})}
                carried_rows = sum(dir_rows.get(d, 0) for d in carry_dirs or [])
            if batch_id is not None and self._batch_already_committed(
                manifest, batch_id, writer_id, legacy_batch_guard
            ):
                # a concurrent/restarted writer already committed this batch
                return self.current_snapshot(namespace, table)
            snap = {
                "snapshot_id": sid,
                "committed_at": time.time(),
                "operation": op,
                # an append inherits outstanding MoR delete dirs: the new
                # data dir is outside every delete's scope, so re-inserted
                # rows survive while old matches stay deleted
                **(
                    {"delete_dirs": prev.get("delete_dirs", [])}
                    if op == "append" and prev is not None and prev.get("delete_dirs")
                    else {}
                ),
                "row_count": (
                    carried_rows + added if op == "rewrite" else prev_total + added
                ),
                "added_rows": added,
                "data_dirs": (
                    [*prev_dirs, *([data_dir] if data_dir else [])]
                    if op == "append"
                    else [*(carry_dirs or []), *([data_dir] if data_dir else [])]
                    if op == "rewrite"
                    else [data_dir]
                ),
                "columns": evolved,
                "batch_id": batch_id,
                **({"writer_id": writer_id} if writer_id is not None else {}),
            }
            if branch:
                snap["branch"] = branch
                snap["parent_id"] = prev["snapshot_id"] if prev else None
            candidate = dict(manifest)
            candidate["snapshots"] = [*manifest["snapshots"], snap]
            if branch:
                candidate["refs"] = {
                    **manifest.get("refs", {}),
                    branch: {"type": "branch", "snapshot_id": sid},
                }
            candidate["columns"] = evolved
            if extra_dir_rows:
                candidate["dir_rows"] = {**manifest.get("dir_rows", {}), **extra_dir_rows}
            if data_dir is not None:
                self._add_dir_entries(candidate, data_dir, entries)
            try:
                # publish at base+1: versions advance independently of
                # snapshot ids (expire_snapshots bumps versions without
                # adding snapshots), and a stale base always collides
                self._publish_manifest(namespace, table, candidate, version=base_version + 1)
            except FileExistsError:
                if op == "create":
                    raise CommitConflictError(
                        f"concurrent create of {namespace}.{table}"
                    ) from None
                continue  # loop re-reads manifest + base version together
            return Snapshot(
                sid,
                snap["committed_at"],
                op,
                snap["row_count"],
                tuple(snap["data_dirs"]),
                added,
                tuple(evolved),
                batch_id,
                branch,
            )
        raise CommitConflictError(
            f"append to {namespace}.{table} lost {COMMIT_RETRIES} commit races"
        )

    def remove_orphan_files(
        self, namespace: str, table: str, older_than_s: float = 3600.0
    ) -> dict:
        """Iceberg ``remove_orphan_files``: delete data dirs on disk that
        no snapshot (live or expired) references — the residue of writers
        that wrote their data dir but then lost every commit retry
        (:meth:`_commit` writes data BEFORE the manifest CAS, exactly like
        Iceberg, so a crashed/raced writer can strand a dir).

        ``older_than_s`` is the safety grace period (default 1 h): dirs
        younger than it are kept because an in-flight writer may be about
        to commit them.  Returns the deleted and kept-young dir lists."""
        import shutil

        manifest = self._read_manifest(namespace, table)
        referenced = {
            d
            for s in manifest["snapshots"]
            for d in [*s["data_dirs"], *s.get("delete_dirs", [])]
        }
        base = self._table_path(namespace, table)
        now = time.time()
        deleted, kept_young = [], []
        for entry in sorted(os.listdir(base)):
            path = os.path.join(base, entry)
            if not os.path.isdir(path) or not entry.startswith(("data-", "deletes-")):
                continue
            if entry in referenced:
                continue
            if now - os.path.getmtime(path) < older_than_s:
                kept_young.append(entry)
                continue
            shutil.rmtree(path, ignore_errors=True)
            deleted.append(entry)
        return {"deleted": deleted, "kept_young": kept_young}

    def rollback_to_snapshot(self, namespace: str, table: str, snapshot_id: int) -> Snapshot:
        """Iceberg ``rollback_to_snapshot``: make an earlier snapshot the
        current table state by committing a NEW head snapshot that
        references the old snapshot's data dirs — metadata-only (no data
        is read or written), history is preserved, and the rollback is
        itself time-travelable."""
        for _ in range(COMMIT_RETRIES):
            manifest, base_version = self._read_manifest_versioned(namespace, table)
            target = self._resolve_snapshot(manifest, namespace, table, snapshot_id)
            sid = len(manifest["snapshots"]) + 1
            snap = {
                "snapshot_id": sid,
                "committed_at": time.time(),
                "operation": "rollback",
                "row_count": target["row_count"],
                "added_rows": 0,
                **(
                    {"delete_dirs": list(target["delete_dirs"])}
                    if target.get("delete_dirs")
                    else {}
                ),
                "data_dirs": list(target["data_dirs"]),
                "columns": list(target.get("columns") or manifest.get("columns") or []),
                "batch_id": None,
            }
            candidate = dict(manifest)
            candidate["snapshots"] = [*manifest["snapshots"], snap]
            candidate["columns"] = snap["columns"]
            try:
                self._publish_manifest(namespace, table, candidate, version=base_version + 1)
            except FileExistsError:
                continue
            return Snapshot(
                sid, snap["committed_at"], "rollback", snap["row_count"],
                tuple(snap["data_dirs"]), 0, tuple(snap["columns"]), None,
            )
        raise CommitConflictError(
            f"rollback of {namespace}.{table} lost {COMMIT_RETRIES} commit races"
        )

    def purge_rows(
        self, namespace: str, table: str, filters: list[tuple]
    ) -> dict:
        """Right-to-be-forgotten purge: physically remove every row
        matching ``filters`` from EVERY live snapshot — including
        history, so time travel can no longer resurrect the data (the
        gap ordinary DELETE leaves open: copy-on-write only rewrites the
        head; old snapshots still reference the original files).

        Mechanics: every dir referenced by a non-expired snapshot whose
        bounds cannot RULE OUT a match is rewritten without the matching
        rows (rows where the predicate is NULL are kept); bounds-cleared
        dirs are untouched.  All snapshots are remapped to the rewritten
        dirs and their row counts adjusted; the purge is recorded in the
        manifest's ``purges`` audit list; old dirs are deleted after the
        CAS publish.  Run quiesced — a concurrent commit aborts the
        purge with :class:`CommitConflictError` (no partial state: the
        rewritten dirs are cleaned up).

        Scale: bounds skip untouched dirs entirely; each affected dir is
        one read + filtered write, run CONCURRENTLY across dirs on a
        thread pool (Spark's scheduler interleaves the per-dir jobs, so
        a purge touching N dirs costs ~N/pool sequential job latencies,
        not N — dir claims are atomic mkdirs, so writers never collide)."""
        import shutil
        from concurrent.futures import ThreadPoolExecutor

        manifest, base_version = self._read_manifest_versioned(namespace, table)
        snaps = manifest["snapshots"]
        if not snaps:
            raise ValueError(f"{namespace}.{table} has no snapshots")
        if any(s.get("delete_dirs") for s in snaps if not s.get("expired")):
            raise ValueError(
                "purge requires materialized MoR deletes — run compact() first"
            )
        head_id = snaps[-1]["snapshot_id"]
        live = sorted(
            {d for s in snaps if not s.get("expired") for d in s["data_dirs"]}
        )
        dir_stats = manifest.get("dir_stats", {})
        dir_rows = manifest.get("dir_rows", {})
        cond = self._filters_to_column(filters)
        keep = ~F.coalesce(cond, F.lit(False))
        mapping: dict[str, str] = {}
        removed: dict[str, int] = {}
        new_entries: dict[str, dict] = {}
        tpath = self._table_path(namespace, table)
        affected = [
            d
            for d in live
            if all(
                self._dir_survives(dir_stats.get(d, {}), c, op, v)
                for c, op, v in filters
            )  # bounds could not rule the dir out
        ]

        def rewrite(d: str):
            """Rewrite one dir without the matching rows; returns None
            when nothing matched (rewrite discarded)."""
            df = self._read_dirs_clean(namespace, table, [d], manifest)
            old_n = dir_rows.get(d)
            if old_n is None:
                old_n = df.count()
            nd, added, entries = self._write_data_dir(
                namespace, table, manifest, df.filter(keep)
            )
            if added == old_n:
                shutil.rmtree(os.path.join(tpath, nd), ignore_errors=True)
                return None  # nothing matched in this dir
            if added == 0:
                self._keep_empty(namespace, table, nd, entries, df.schema)
            elif manifest.get("bloom"):
                entries["dir_blooms"] = self._build_dir_blooms(
                    os.path.join(tpath, nd), manifest["bloom"], dict(df.dtypes),
                    entries["dir_schemas"],
                )
            return nd, old_n, entries

        pool = min(8, len(affected)) or 1
        with ThreadPoolExecutor(max_workers=pool) as ex:
            futures = [ex.submit(rewrite, d) for d in affected]
            results, first_err = [], None
            for f in futures:
                try:
                    results.append(f.result())
                except Exception as exc:  # noqa: BLE001
                    first_err = first_err or exc
                    results.append(None)
        if first_err is not None:
            # no partial state: discard every dir the successful
            # rewrites claimed, then surface the first failure
            for res in results:
                if res:
                    shutil.rmtree(os.path.join(tpath, res[0]), ignore_errors=True)
            raise first_err
        for d, res in zip(affected, results):
            if res is None:
                continue
            nd, old_n, entries = res
            mapping[d] = nd
            removed[d] = old_n - entries["dir_rows"]
            new_entries[nd] = entries
        if not mapping:
            return {"removed_rows": 0, "rewritten_dirs": 0, "unchanged_dirs": len(live)}

        fresh, fresh_version = self._read_manifest_versioned(namespace, table)
        if fresh["snapshots"][-1]["snapshot_id"] != head_id:
            for nd in mapping.values():
                shutil.rmtree(os.path.join(tpath, nd), ignore_errors=True)
            raise CommitConflictError(
                f"purge of {namespace}.{table} raced a concurrent commit; re-run"
            )
        candidate = dict(fresh)
        candidate["snapshots"] = [
            {
                **s,
                "data_dirs": [mapping.get(d, d) for d in s["data_dirs"]],
                "row_count": s["row_count"]
                - sum(removed.get(d, 0) for d in s["data_dirs"]),
            }
            for s in fresh["snapshots"]
        ]
        # the replaced dirs' entries go; rewritten dirs carry no file-level
        # stats (sound: their files changed)
        for fam in DIR_FAMILIES:
            candidate[fam] = {
                d: v for d, v in fresh.get(fam, {}).items() if d not in mapping
            }
        for nd, entries in new_entries.items():
            self._add_dir_entries(candidate, nd, entries)
        total = sum(removed.values())
        candidate["purges"] = [
            *fresh.get("purges", []),
            {
                "at": time.time(),
                "filters": [[c, op, v] for c, op, v in filters],
                "removed_rows": total,
                "rewritten_dirs": len(mapping),
            },
        ]
        try:
            self._publish_manifest(
                namespace, table, candidate, version=fresh_version + 1
            )
        except FileExistsError:
            for nd in mapping.values():
                shutil.rmtree(os.path.join(tpath, nd), ignore_errors=True)
            raise CommitConflictError(
                f"purge of {namespace}.{table} lost the manifest CAS; re-run"
            ) from None
        for d in mapping:
            shutil.rmtree(os.path.join(tpath, d), ignore_errors=True)
        return {
            "removed_rows": total,
            "rewritten_dirs": len(mapping),
            "unchanged_dirs": len(live) - len(mapping),
        }

    # -- branches / tags / write-audit-publish (Iceberg refs analog) ------
    def _update_manifest_cas(self, namespace: str, table: str, mutate) -> dict:
        """Apply a metadata-only manifest mutation under the optimistic
        CAS: ``mutate(manifest) -> manifest'`` re-runs against the fresh
        manifest on every conflict.  Returns the published manifest."""
        for _ in range(COMMIT_RETRIES):
            manifest, base_version = self._read_manifest_versioned(namespace, table)
            candidate = mutate(dict(manifest))
            try:
                self._publish_manifest(namespace, table, candidate, version=base_version + 1)
            except FileExistsError:
                continue
            return candidate
        raise CommitConflictError(
            f"metadata update on {namespace}.{table} kept losing races"
        )

    def create_tag(
        self, namespace: str, table: str, name: str, snapshot_id: int | None = None
    ) -> dict:
        """Immutable named pointer to a snapshot (Iceberg ``create_tag``)
        — release labels, audit pins.  Defaults to the main head."""

        def mutate(m):
            refs = dict(m.get("refs", {}))
            if name in refs:
                raise ValueError(f"ref {name!r} already exists")
            sid = (
                snapshot_id
                if snapshot_id is not None
                else self._resolve_snapshot(m, namespace, table, None)["snapshot_id"]
            )
            self._resolve_snapshot(m, namespace, table, sid)  # validates range/expiry
            refs[name] = {"type": "tag", "snapshot_id": sid}
            m["refs"] = refs
            return m

        return self._update_manifest_cas(namespace, table, mutate)["refs"][name]

    def create_branch(
        self, namespace: str, table: str, name: str, snapshot_id: int | None = None
    ) -> dict:
        """Mutable named pointer (Iceberg ``create_branch``): later
        ``append(..., branch=name)`` commits advance it without touching
        main — the write-audit-publish staging area."""

        def mutate(m):
            refs = dict(m.get("refs", {}))
            if name in refs:
                raise ValueError(f"ref {name!r} already exists")
            sid = (
                snapshot_id
                if snapshot_id is not None
                else self._resolve_snapshot(m, namespace, table, None)["snapshot_id"]
            )
            self._resolve_snapshot(m, namespace, table, sid)
            refs[name] = {"type": "branch", "snapshot_id": sid}
            m["refs"] = refs
            return m

        return self._update_manifest_cas(namespace, table, mutate)["refs"][name]

    def list_refs(self, namespace: str, table: str) -> dict[str, dict]:
        return dict(self._read_manifest(namespace, table).get("refs", {}))

    def drop_ref(self, namespace: str, table: str, name: str) -> None:
        """Remove a branch/tag pointer.  An unpublished branch's staged
        snapshots stay in history (marked with their branch) until
        ``expire_snapshots`` reclaims their dirs."""

        def mutate(m):
            refs = dict(m.get("refs", {}))
            if name not in refs:
                raise ValueError(f"no ref named {name!r}")
            del refs[name]
            m["refs"] = refs
            return m

        self._update_manifest_cas(namespace, table, mutate)

    def publish_branch(self, namespace: str, table: str, name: str) -> Snapshot:
        """Fast-forward main to a WAP branch head (Iceberg
        ``fast_forward`` / the publish step of write-audit-publish): the
        branch's staged snapshots become main history — metadata only, no
        data moves.  Fails if main advanced past the branch's fork point
        (diverged history is not fast-forwardable; re-stage instead)."""

        def mutate(m):
            refs = dict(m.get("refs", {}))
            if name not in refs or refs[name].get("type") != "branch":
                raise ValueError(f"no branch named {name!r}")
            head_sid = refs[name]["snapshot_id"]
            chain = [
                s
                for s in m["snapshots"]
                if s.get("branch") == name and s["snapshot_id"] <= head_sid
            ]
            if not chain:
                raise ValueError(f"branch {name!r} has no staged commits to publish")
            main_head = next(
                (s for s in reversed(m["snapshots"]) if not s.get("branch")), None
            )
            fork_parent = chain[0].get("parent_id")
            if main_head is not None and fork_parent != main_head["snapshot_id"]:
                raise CommitConflictError(
                    f"branch {name!r} forked at snapshot {fork_parent} but main "
                    f"is at {main_head['snapshot_id']}; not fast-forwardable"
                )
            published = {s["snapshot_id"] for s in chain}
            m["snapshots"] = [
                {k: v for k, v in s.items() if k != "branch"}
                if s["snapshot_id"] in published
                else s
                for s in m["snapshots"]
            ]
            del refs[name]
            m["refs"] = refs
            return m

        self._update_manifest_cas(namespace, table, mutate)
        return self.current_snapshot(namespace, table)

    def alter_table(
        self,
        namespace: str,
        table: str,
        add_columns: dict[str, str] | None = None,
        drop_columns: list[str] | None = None,
        rename_columns: dict[str, str] | None = None,
    ) -> dict:
        """Schema-evolution DDL (Iceberg ``ALTER TABLE`` analog) — all
        three operations are METADATA-ONLY; no data file is touched:

        - ``add_columns``: name → Spark type; existing rows read the new
          column as NULL until a write fills it.
        - ``drop_columns``: the column disappears from every read
          (including historical snapshots' physical files).  Re-adding a
          dropped name is rejected — without Iceberg's field ids the old
          physical values would resurrect under the new column.
        - ``rename_columns``: old → new; files written before the rename
          are mapped at read time.  Manifest column bounds stay keyed by
          the physical name, so data skipping on the renamed column
          resumes with post-rename files (pre-rename dirs are scanned —
          sound, just unskipped; documented trade of name-based mapping).

        Returns the new logical column list."""
        add_columns = add_columns or {}
        drop_columns = drop_columns or []
        rename_columns = rename_columns or {}

        def mutate(m):
            cols = list(m.get("columns") or [])
            dropped = set(m.get("dropped_columns", []))
            renames = list(m.get("column_renames", []))
            for old, new in rename_columns.items():
                if old not in cols:
                    raise ValueError(f"rename: unknown column {old!r}")
                if new in cols:
                    raise ValueError(f"rename: column {new!r} already exists")
                cols[cols.index(old)] = new
                renames.append([old, new])
            for c in drop_columns:
                if c not in cols:
                    raise ValueError(f"drop: unknown column {c!r}")
                cols.remove(c)
                dropped.add(c)
            for c, dtype in add_columns.items():
                if c in cols:
                    raise ValueError(f"add: column {c!r} already exists")
                if c in dropped:
                    raise ValueError(
                        f"add: {c!r} was previously dropped; re-adding would "
                        "resurrect old physical values (no field ids) — use "
                        "a fresh name"
                    )
                cols.append(c)
                m.setdefault("column_types", {})[c] = dtype
            m["columns"] = cols
            m["dropped_columns"] = sorted(dropped)
            m["column_renames"] = renames
            return m

        out = self._update_manifest_cas(namespace, table, mutate)
        return {"columns": list(out["columns"])}

    def alter_partition_spec(
        self, namespace: str, table: str, partition_by: list[str]
    ) -> dict:
        """Partition-spec evolution (Iceberg ``ALTER TABLE … ADD/DROP
        PARTITION FIELD``) — METADATA-ONLY: no existing data file is
        rewritten.  Dirs written before the change keep their old
        physical layout (each data dir is self-describing); commits from
        now on use the new spec; reads union the eras, resolving layout
        differences exactly like schema evolution.  Hidden-partition
        predicate folding stays sound across eras: on a multi-spec table
        the fold relaxes to ``field IS NULL OR field = …`` so rows from
        dirs without the derived field pass through to the row-level
        filter, while new-era hive dirs still prune.

        At 100 TB this is the feature that lets a table move from daily
        to hourly partitioning as it grows without a petabyte rewrite."""
        parse_partition_spec(partition_by)  # validate before committing

        def mutate(m):
            if list(m.get("partition_by", [])) == list(partition_by):
                return m
            hist = list(m.get("partition_specs", []))
            hist.append(
                {
                    "spec": list(m.get("partition_by", [])),
                    "until_snapshot": len(m["snapshots"]),
                }
            )
            m["partition_specs"] = hist
            m["partition_by"] = list(partition_by)
            return m

        out = self._update_manifest_cas(namespace, table, mutate)
        return {
            "partition_by": list(out["partition_by"]),
            "n_specs": len(out.get("partition_specs", [])) + 1,
        }

    def _apply_schema_evolution(self, df: DataFrame, manifest: dict, cols: list[str]):
        """Read-time schema resolution: renames (coalescing when files
        from both eras are in the scan), drops, and null-filled added
        columns."""
        for old, new in manifest.get("column_renames", []):
            if old in df.columns and new in df.columns:
                df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
            elif old in df.columns:
                df = df.withColumnRenamed(old, new)
        dropped = set(manifest.get("dropped_columns", []))
        keep = [c for c in df.columns if c not in dropped]
        if len(keep) != len(df.columns):
            df = df.select(*keep)
        types = manifest.get("column_types", {})
        for c in cols:
            if c not in df.columns and c in types:
                df = df.withColumn(c, F.lit(None).cast(types[c]))
        return df

    def changelog(
        self,
        namespace: str,
        table: str,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Row-level changes between two snapshots (Iceberg
        ``create_changelog_view`` analog): each row tagged ``insert`` or
        ``delete`` in ``_change_type``; an update surfaces as
        delete(old) + insert(new).

        Scale: data dirs PRESENT IN BOTH snapshots contribute identical
        rows to both sides, so they cancel by metadata — only the
        symmetric-difference dirs are read at all.  Append-only ranges
        (no dirs removed) need ZERO comparison: the new dirs are the
        inserts, one narrow scan.  Rewrite ranges diff with exceptAll
        (one hash shuffle over only the touched dirs' rows)."""
        manifest = self._read_manifest(namespace, table)
        f = self._resolve_snapshot(manifest, namespace, table, from_snapshot_id)
        t = self._resolve_snapshot(manifest, namespace, table, to_snapshot_id)
        if f.get("delete_dirs", []) != t.get("delete_dirs", []):
            # merge-on-read deletes changed between the endpoints: dir
            # identity no longer implies row identity, so diff the two
            # delete-applied views directly (each side reads only its
            # snapshot's dirs; the exceptAll is one hash shuffle)
            a = self.load(namespace, table, snapshot_id=t["snapshot_id"])
            b = self.load(namespace, table, snapshot_id=f["snapshot_id"])
            return a.exceptAll(b).withColumn(
                "_change_type", F.lit("insert")
            ).unionByName(
                b.exceptAll(a).withColumn("_change_type", F.lit("delete"))
            )
        fd, td = set(f["data_dirs"]), set(t["data_dirs"])
        only_f = [d for d in f["data_dirs"] if d not in td]
        only_t = [d for d in t["data_dirs"] if d not in fd]
        cols = list(
            dict.fromkeys(
                [*(t.get("columns") or []), *(f.get("columns") or [])]
            )
        ) or list(manifest.get("columns") or [])

        any_dirs = only_t or only_f or list(t["data_dirs"]) or list(f["data_dirs"])
        if not any_dirs:
            raise ValueError(
                f"{namespace}.{table}: changelog needs at least one data dir"
            )
        raw_ins = self._read_dirs_clean(namespace, table, only_t or any_dirs, manifest)
        if not only_t:
            raw_ins = raw_ins.limit(0)
        raw_dels = self._read_dirs_clean(namespace, table, only_f or any_dirs, manifest)
        if not only_f:
            raw_dels = raw_dels.limit(0)
        dtypes = {**dict(raw_dels.dtypes), **dict(raw_ins.dtypes)}
        cols = [c for c in cols if c in dtypes]

        def align(df):
            return df.select(
                *[
                    (
                        F.col(c) if c in df.columns else F.lit(None).cast(dtypes[c])
                    ).alias(c)
                    for c in cols
                ]
            )

        ins, dels = align(raw_ins), align(raw_dels)
        if not only_f:
            diff_ins, diff_dels = ins, dels  # pure append: no diff needed
        elif not only_t:
            diff_ins, diff_dels = ins, dels  # pure removal
        else:
            diff_ins = ins.exceptAll(dels)
            diff_dels = dels.exceptAll(ins)
        return diff_ins.withColumn("_change_type", F.lit("insert")).unionByName(
            diff_dels.withColumn("_change_type", F.lit("delete"))
        )

    def metadata_table(self, namespace: str, table: str, kind: str = "snapshots") -> DataFrame:
        """Iceberg metadata tables as DataFrames (``table$snapshots`` /
        ``$files`` / ``$history`` / ``$partitions`` analogs) — queryable
        operational metadata without touching data files.  Driver-sized by
        construction: the manifest is O(snapshots), never O(files)."""
        manifest = self._read_manifest(namespace, table)
        snaps = manifest["snapshots"]
        if kind == "snapshots":
            rows = [
                (
                    s["snapshot_id"],
                    float(s["committed_at"]),
                    s["operation"],
                    s["row_count"],
                    s.get("added_rows", s["row_count"]),
                    len(s["data_dirs"]),
                    s.get("batch_id"),
                    bool(s.get("expired", False)),
                )
                for s in snaps
            ]
            schema = (
                "snapshot_id int, committed_at double, operation string, "
                "total_rows bigint, added_rows bigint, n_data_dirs int, "
                "batch_id long, expired boolean"
            )
        elif kind == "files":
            stats = manifest.get("dir_stats", {})
            rows = [
                (d, list(cols), json.dumps(stats.get(d, {}), sort_keys=True))
                for d, cols in sorted(manifest.get("dir_columns", {}).items())
            ]
            schema = "data_dir string, columns array<string>, column_bounds string"
        elif kind == "history":
            current = snaps[-1]["snapshot_id"] if snaps else None
            rows = [
                (float(s["committed_at"]), s["snapshot_id"], s["snapshot_id"] == current)
                for s in snaps
            ]
            schema = "made_current_at double, snapshot_id int, is_current boolean"
        elif kind == "partitions":
            specs = [
                *[h.get("spec", []) for h in manifest.get("partition_specs", [])],
                manifest["partition_by"],
            ]
            rows = [
                (i, f["field"], f["transform"], f["col"], f["param"], i == len(specs) - 1)
                for i, spec in enumerate(specs)
                for f in parse_partition_spec(spec)
            ]
            schema = (
                "spec_id int, field string, transform string, "
                "source_column string, param int, is_current boolean"
            )
        elif kind == "refs":
            refs = manifest.get("refs", {})
            main = next(
                (s for s in reversed(snaps) if not s.get("branch")), None
            )
            rows = [
                ("main", "branch", main["snapshot_id"]) if main else None,
                *[
                    (name, r["type"], r["snapshot_id"])
                    for name, r in sorted(refs.items())
                ],
            ]
            rows = [r for r in rows if r is not None]
            schema = "name string, type string, snapshot_id int"
        elif kind == "purges":
            rows = [
                (
                    float(p["at"]),
                    json.dumps(p["filters"]),
                    p["removed_rows"],
                    p["rewritten_dirs"],
                )
                for p in manifest.get("purges", [])
            ]
            schema = (
                "purged_at double, filters string, removed_rows bigint, "
                "rewritten_dirs int"
            )
        else:
            raise ValueError(
                f"unknown metadata table {kind!r} "
                "(expected snapshots|files|history|partitions|refs|purges)"
            )
        return self.spark.createDataFrame(rows, schema)

    def describe_table(self, namespace: str, table: str) -> dict:
        """``DESCRIBE TABLE EXTENDED`` analog: one metadata-only call
        returning schema, partition spec (current + retired), ref/bloom/
        distribution configuration, size facts, and lifecycle counters —
        what an operator checks before touching a table."""
        manifest = self._read_manifest(namespace, table)
        snaps = manifest["snapshots"]
        head = next(
            (
                s
                for s in reversed(snaps)
                if not s.get("branch") and not s.get("expired")
            ),
            None,
        )
        live_dirs = list(head["data_dirs"]) if head else []
        tpath = self._table_path(namespace, table)
        size_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for d in live_dirs
            for root, _, files in os.walk(os.path.join(tpath, d))
            for f in files
            if f.endswith(".parquet")
        )
        return {
            "table": manifest["table"],
            "table_uuid": manifest.get("table_uuid", ""),
            "columns": list(manifest.get("columns") or []),
            "partition_by": list(manifest["partition_by"]),
            "retired_specs": [
                h.get("spec", []) for h in manifest.get("partition_specs", [])
            ],
            "current_snapshot_id": head["snapshot_id"] if head else None,
            "row_count": head["row_count"] if head else 0,
            "n_snapshots": len(snaps),
            "n_expired": sum(1 for s in snaps if s.get("expired")),
            "n_data_dirs": len(live_dirs),
            "size_bytes": size_bytes,
            "refs": sorted(manifest.get("refs", {})),
            "bloom_filter_cols": list(manifest.get("bloom", {}).get("cols", [])),
            "write_distribution": manifest.get("write_distribution"),
            "pending_mor_deletes": len(head.get("delete_dirs", [])) if head else 0,
            "n_purges": len(manifest.get("purges", [])),
        }

    def drop_table(self, namespace: str, table: str) -> None:
        import shutil

        shutil.rmtree(self._table_path(namespace, table), ignore_errors=True)

    # -- reads (S8/S9 scans, time travel, stats-pruned scans) -------------
    @staticmethod
    def _norm_filter_value(v):
        """Normalize a filter literal to the manifest-bound domain
        (temporal → epoch integers, matching :meth:`_stats_exprs`)."""
        import calendar
        import datetime as _dt
        import decimal

        if isinstance(v, _dt.datetime):
            return calendar.timegm(v.utctimetuple()) * 1_000_000 + v.microsecond
        if isinstance(v, _dt.date):
            return (v - _dt.date(1970, 1, 1)).days
        if isinstance(v, decimal.Decimal):
            return float(v)
        return v

    @classmethod
    def _dir_survives(cls, stats: dict, col: str, op: str, value) -> bool:
        """False only when the dir's [lower, upper] bounds PROVE no row can
        satisfy ``col op value`` — missing stats always survive (sound)."""
        if col not in stats:
            return True
        lo, hi = stats[col][:2]
        vals = [cls._norm_filter_value(x) for x in value] if op == "in" else [
            cls._norm_filter_value(value)
        ]
        str_bounds = isinstance(lo, str)
        if any(isinstance(v, str) != str_bounds for v in vals):
            return True  # type mismatch with the recorded bounds: keep
        if op in ("=", "==") or op == "in":
            # an empty IN list matches no row → the dir can be skipped
            return any(lo <= x <= hi for x in vals)
        v = vals[0]
        if op == ">=":
            return hi >= v
        if op == ">":
            return hi > v
        if op == "<=":
            return lo <= v
        if op == "<":
            return lo < v
        raise ValueError(f"unsupported filter op {op!r}")

    def prune_preview(
        self,
        namespace: str,
        table: str,
        filters: list[tuple],
        snapshot_id: int | None = None,
    ) -> dict:
        """Which data dirs a filtered scan would read vs skip — the
        EXPLAIN-side of manifest pruning, for tests and ops visibility.

        Three skipping tiers, most → least coarse: (1) per-dir min/max
        bounds, (2) per-dir Bloom filters for =/IN probes on indexed
        columns, (3) per-file min/max bounds where a clustered rewrite
        recorded them (``kept_files``/``skipped_files``, keyed by dir;
        dirs without file stats read whole)."""
        manifest = self._read_manifest(namespace, table)
        snap = self._resolve_snapshot(manifest, namespace, table, snapshot_id)
        dir_stats = manifest.get("dir_stats", {})
        blooms = manifest.get("dir_blooms", {})
        bcfg = manifest.get("bloom", {})
        fstats = manifest.get("file_stats", {})
        kept, skipped = [], []
        kept_files: dict[str, list[str]] = {}
        skipped_files: dict[str, list[str]] = {}
        for d in snap["data_dirs"]:
            ok = all(
                self._dir_survives(dir_stats.get(d, {}), col, op, val)
                for col, op, val in filters
            ) and self._bloom_survives(blooms.get(d, {}), bcfg, filters)
            if not ok:
                skipped.append(d)
                continue
            kept.append(d)
            if d in fstats:
                kf, sf = [], []
                for rel, st in sorted(fstats[d].items()):
                    f_ok = all(
                        self._dir_survives(st, col, op, val)
                        for col, op, val in filters
                    )
                    (kf if f_ok else sf).append(rel)
                kept_files[d], skipped_files[d] = kf, sf
        return {
            "kept": kept,
            "skipped": skipped,
            "kept_files": kept_files,
            "skipped_files": skipped_files,
        }

    @classmethod
    def _dir_full_match(cls, stats: dict, col: str, op: str, value) -> bool:
        """True only when the dir's bounds PROVE every row satisfies
        ``col op value`` — the dual of :meth:`_dir_survives`, used for
        metadata-only aggregates.  Requires a recorded null count of zero
        (bounds describe only non-null rows); entries without one (written
        before null tracking) can never prove a full match — sound.
        String-truncated bounds stay sound: the stored lower is a prefix
        (<= true min) and the stored upper is bumped (>= true max), so
        ``lo >= v`` / ``hi <= v`` comparisons only under-claim."""
        entry = stats.get(col)
        if not entry or len(entry) < 3 or entry[2] != 0:
            return False
        lo, hi = entry[:2]
        vals = (
            [cls._norm_filter_value(x) for x in value]
            if op == "in"
            else [cls._norm_filter_value(value)]
        )
        str_bounds = isinstance(lo, str)
        if any(isinstance(v, str) != str_bounds for v in vals):
            return False
        if op in ("=", "=="):
            return lo == hi == vals[0]
        if op == "in":
            return lo == hi and lo in vals
        v = vals[0]
        return {">=": lo >= v, ">": lo > v, "<=": hi <= v, "<": hi < v}[op]

    def count_where(
        self,
        namespace: str,
        table: str,
        filters: list[tuple] | None = None,
        snapshot_id: int | None = None,
    ) -> dict:
        """Metadata-accelerated ``COUNT(*) WHERE …`` (Iceberg's
        aggregate-pushdown-to-manifest): each visible dir is classified as
        *no-match* (pruned — contributes 0), *full-match* (bounds prove
        every row qualifies — contributes its manifest row count, NO
        scan), or *boundary* (scanned with the residual filter).  On a
        range predicate over sorted/partitioned data only the two edge
        dirs are read; at 100 TB that's the difference between a count
        answered in milliseconds from metadata and a full scan.

        Returns ``{"count", "metadata_dirs", "scanned_dirs"}``.  Tables
        with outstanding merge-on-read deletes fall back to a full
        filtered scan (delete applications are row-level)."""
        manifest = self._read_manifest(namespace, table)
        snap = self._resolve_snapshot(manifest, namespace, table, snapshot_id)
        filters = list(filters or [])
        if snap.get("delete_dirs"):
            n = self.load(
                namespace, table, snapshot_id=snap["snapshot_id"], filters=filters
            ).count()
            return {
                "count": n, "metadata_dirs": [],
                "scanned_dirs": list(snap["data_dirs"]),
            }
        if not filters:
            return {
                "count": snap["row_count"],
                "metadata_dirs": list(snap["data_dirs"]),
                "scanned_dirs": [],
            }
        dir_stats = manifest.get("dir_stats", {})
        dir_rows = manifest.get("dir_rows", {})
        preview = self.prune_preview(namespace, table, filters, snap["snapshot_id"])
        meta_dirs, scan_dirs, total = [], [], 0
        for d in preview["kept"]:
            if d in dir_rows and all(
                self._dir_full_match(dir_stats.get(d, {}), c, op, v)
                for c, op, v in filters
            ):
                meta_dirs.append(d)
                total += dir_rows[d]
            else:
                scan_dirs.append(d)
        if scan_dirs:
            df = self._read_dirs_clean(namespace, table, scan_dirs, manifest)
            total += df.filter(self._filters_to_column(filters)).count()
        return {"count": total, "metadata_dirs": meta_dirs, "scanned_dirs": scan_dirs}

    @staticmethod
    def _bloom_survives(dir_blooms: dict, bcfg: dict, filters: list[tuple]) -> bool:
        """False only when a dir's Bloom filter PROVES an =/IN probe value
        set cannot occur in the dir (no false negatives by construction);
        dirs/columns without a filter always survive."""
        if not dir_blooms:
            return True
        import base64

        m, k = bcfg.get("m", 8192), bcfg.get("k", 4)
        for col, op, val in filters:
            if op not in ("=", "==", "in") or col not in dir_blooms:
                continue
            bits = int.from_bytes(base64.b64decode(dir_blooms[col]), "big")
            vals = list(val) if op == "in" else [val]
            if not any(
                all((bits >> p) & 1 for p in _bloom_probe_positions(v, m, k))
                for v in vals
            ):
                return False
        return True

    def _resolve_snapshot(
        self,
        manifest: dict,
        namespace: str,
        table: str,
        snapshot_id: int | None,
        as_of_timestamp: float | None = None,
    ) -> dict:
        snaps = manifest["snapshots"]
        if not snaps:
            raise ValueError(f"{namespace}.{table} has no snapshots")
        if as_of_timestamp is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR as_of_timestamp, not both")
            eligible = [
                s
                for s in snaps
                if s["committed_at"] <= as_of_timestamp and not s.get("branch")
            ]
            if not eligible:
                raise ValueError(
                    f"{namespace}.{table}: no snapshot committed at or before "
                    f"{as_of_timestamp} (earliest: {snaps[0]['committed_at']})"
                )
            snap = eligible[-1]
            if snap.get("expired"):
                raise ValueError(
                    f"{namespace}.{table}: snapshot {snap['snapshot_id']} at that "
                    "timestamp has been expired"
                )
            return snap
        if snapshot_id is None:
            main = [s for s in snaps if not s.get("branch")]
            if not main:
                raise ValueError(f"{namespace}.{table} has no main snapshots")
            # the head can only be expired in legacy manifests written
            # before expire_snapshots pinned it; prefer the newest live
            # main snapshot so reads agree with describe_table
            live = [s for s in main if not s.get("expired")]
            return (live or main)[-1]
        if not 1 <= snapshot_id <= len(snaps):
            raise ValueError(
                f"{namespace}.{table}: snapshot_id {snapshot_id} out of range "
                f"(valid: 1..{len(snaps)})"
            )
        snap = snaps[snapshot_id - 1]
        if snap.get("expired"):
            raise ValueError(
                f"{namespace}.{table}: snapshot {snapshot_id} has been expired "
                "(its data files were removed by expire_snapshots)"
            )
        return snap

    def _recorded_schemas(
        self,
        namespace: str,
        table: str,
        manifest: dict,
        dirs: list[str],
        family: str = "dir_schemas",
    ) -> dict[str, StructType]:
        """{dir: file schema} from the manifest (``family`` names the data
        or delete family).  A manifest written before schemas were
        recorded is upgraded once, metadata-only: each missing dir's
        schema is read from one of its parquet footers and published
        through the CAS, so every later read takes the recorded path.  A
        handle without WRITE uses what it read and leaves the upgrade to
        a writer."""
        recorded = manifest.get(family, {})
        missing = [d for d in dirs if d not in recorded]
        if missing:
            tpath = self._table_path(namespace, table)
            found = {}
            for d in missing:
                # one file read alone: its parent dir is the base path, so
                # no partition column joins the file's own schema
                leaf = min(
                    _glob.glob(os.path.join(tpath, d, "**", "*.parquet"), recursive=True)
                )
                found[d] = _file_schema(self.spark.read.parquet(leaf).schema)

            def mutate(m):
                m[family] = {**m.get(family, {}), **found}
                return m

            try:
                self._update_manifest_cas(namespace, table, mutate)
            except PermissionError:
                pass
            recorded = manifest[family] = {**recorded, **found}
        return {d: _schema_of(recorded[d]) for d in dirs}

    @staticmethod
    def _dir_layout(tpath: str, d: str, manifest: dict) -> tuple[str, ...]:
        """The hive partition fields of data dir ``d``, outermost first
        (``()``: its files sit at the dir root).  Recorded at commit
        (``dir_layout``).  A dir committed before that is listed: the
        spec history cannot say which spec wrote it, because a purge
        rewrites an old-era dir under the current spec in place, and a
        commit can race :meth:`alter_partition_spec`."""
        layout = manifest.get("dir_layout", {}).get(d)
        if layout is not None:
            return tuple(layout)
        root = os.path.join(tpath, d)
        leaf = min(_glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
        rel = os.path.relpath(os.path.dirname(leaf), root)
        return tuple(p.split("=", 1)[0] for p in rel.split(os.sep) if p != ".")

    def _read_dir_paths(
        self,
        namespace: str,
        table: str,
        read_dirs: list[str],
        manifest: dict,
        file_lists: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Read an explicit list of data dirs with read-time schema merge
        (shared by :meth:`load` and the row-level rewrite ops): ONE
        parquet scan per partition layout over all its dirs' files, so
        the plan and its task count do not grow with history (an Iceberg
        scan is planned from all of a snapshot's manifests at once).
        Schemas and layouts come from the manifest, so planning launches
        no Spark job; hive partition columns are still discovered from
        the ``k=v`` segments below each dir.  ``file_lists`` narrows a
        dir to an explicit surviving-file subset (file-level data
        skipping after a clustered rewrite)."""
        from functools import reduce

        tpath = self._table_path(namespace, table)

        def paths_for(d: str) -> list[str]:
            p = os.path.join(tpath, d)
            if file_lists and d in file_lists:
                return [os.path.join(p, rel) for rel in file_lists[d]]
            return [p]

        schemas = self._recorded_schemas(namespace, table, manifest, read_dirs)
        # a zero-row dir is one empty file at its root, which a scan of
        # partitioned dirs would silently skip: leave it out, keeping the
        # columns only it has (NULL in every row; its schema also holds
        # the identity partition columns, which the paths give)
        rows = manifest.get("dir_rows", {})
        live = [d for d in read_dirs if rows.get(d, 1)] or read_dirs
        groups: dict[tuple, list[str]] = {}
        for d in live:
            groups.setdefault(self._dir_layout(tpath, d, manifest), []).append(d)
        seen = {f for layout in groups for f in layout}
        seen |= {f.name for d in live for f in schemas[d]}
        extra = list(
            {f.name: f for d in read_dirs for f in schemas[d] if f.name not in seen}.values()
        )
        # dirs that give one column different types are read one by one;
        # ``unionByName`` widens them, and joins the layouts (a partition
        # field one layout lacks reads as NULL in the others)
        parts = []
        for layout, dirs in groups.items():
            merged = _merged_schema([schemas[d] for d in dirs])
            for ds, schema in (
                [(dirs, merged)] if merged is not None else [([d], schemas[d]) for d in dirs]
            ):
                reader = self.spark.read.schema(StructType([*schema, *extra]))
                reader = reader.option("basePath", tpath)
                if layout:
                    # skips only the check that all paths share one
                    # partition root: the data-dir level above the `k=v`
                    # segments is none
                    reader = reader.option("ignoreInvalidPartitionPaths", "true")
                parts.append(reader.parquet(*[p for d in ds for p in paths_for(d)]))
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    def _read_dirs_clean(
        self, namespace: str, table: str, read_dirs: list[str], manifest: dict
    ) -> DataFrame:
        """:meth:`_read_dir_paths` + strip hidden-partition columns,
        apply schema-evolution DDL, and restore the declared column order
        — rewrite-op input frames (a rewrite thus MATERIALIZES renames/
        drops/adds into its output dir, like an Iceberg rewrite)."""
        df = self._read_dir_paths(namespace, table, read_dirs, manifest)
        df = self._apply_schema_evolution(
            df, manifest, list(manifest.get("columns") or [])
        )
        derived_names = {
            f["field"]
            for f in _all_spec_fields(manifest)
            if f["transform"] != "identity"
        }
        cols = list(manifest.get("columns") or [])
        ordered = [c for c in cols if c in df.columns]
        extras = [
            c for c in df.columns if c not in cols and c not in derived_names
        ]
        return df.select(*ordered, *extras)

    @staticmethod
    def _filters_to_column(filters: list[tuple]):
        """Conjunction of ``(col, op, value)`` triples as a Column (the
        same grammar :meth:`load` accepts)."""
        from functools import reduce

        def one(col, op, val):
            c = F.col(col)
            return (
                c.isin(list(val))
                if op == "in"
                else {"=": c == val, "==": c == val, "<": c < val, "<=": c <= val,
                      ">": c > val, ">=": c >= val}[op]
            )

        return reduce(lambda a, b: a & b, [one(*f) for f in filters])

    def _plan_rewrite(
        self, namespace: str, table: str, filters: list[tuple]
    ) -> tuple[dict, dict, list[str], list[str], dict[str, int]]:
        """(manifest, head snapshot, touched dirs, carried dirs, row-count
        backfill) for a row-level rewrite gated by ``filters``: dirs whose
        manifest bounds PROVE no row can match carry over by reference —
        the Iceberg file-level CoW planning step, O(dirs) metadata work."""
        manifest = self._read_manifest(namespace, table)
        snap = self._resolve_snapshot(manifest, namespace, table, None)
        if snap.get("delete_dirs"):
            raise ValueError(
                f"{namespace}.{table} has outstanding merge-on-read deletes; "
                "run compact() to materialize them before a copy-on-write "
                "rewrite (or keep using delete_where_mor)"
            )
        pruned = self.prune_preview(
            namespace, table, filters, snap["snapshot_id"]
        )
        touched, carried = pruned["kept"], pruned["skipped"]
        dir_rows = manifest.get("dir_rows", {})
        missing = [d for d in carried if d not in dir_rows]
        backfill: dict[str, int] = {}
        if missing:
            # pre-dir_rows-era dirs: count once, then the count lives in
            # the manifest forever
            backfill = {
                d: self._read_dir_paths(namespace, table, [d], manifest).count()
                for d in missing
            }
        return manifest, snap, touched, carried, backfill

    # -- row-level DELETE / UPDATE / MERGE (file-level copy-on-write) -----
    def delete_where(self, namespace: str, table: str, filters: list[tuple]) -> Snapshot:
        """Row-level ``DELETE WHERE`` with Iceberg copy-on-write semantics
        at data-dir granularity: dirs whose column bounds prove no match
        carry into the new snapshot untouched (metadata only); only dirs
        that may contain matching rows are rewritten without them.

        ``filters`` is the same ``[(col, op, value), ...]`` conjunction
        grammar as :meth:`load`.  SQL DELETE semantics: rows where the
        predicate is NULL (e.g. a NULL column compared with ``<``) are
        KEPT, not deleted.  History is preserved — time travel to the
        pre-delete snapshot still works.

        Scale: the rewrite reads/writes only the touched dirs, so a
        delete keyed on the partition/sort column of a 100 TB table moves
        only the affected partitions' bytes; the carried side is pure
        manifest metadata."""
        manifest, snap, touched, carried, backfill = self._plan_rewrite(
            namespace, table, filters
        )
        if not touched:
            return self.current_snapshot(namespace, table)  # metadata no-op
        pred = self._filters_to_column(filters)
        keep = self._read_dirs_clean(namespace, table, touched, manifest).filter(
            ~pred.eqNullSafe(F.lit(True))
        )
        return self._commit(
            namespace, table, manifest, keep, "rewrite",
            carry_dirs=carried, base_snapshot_id=snap["snapshot_id"],
            extra_dir_rows=backfill,
        )

    def delete_where_mor(
        self,
        namespace: str,
        table: str,
        filters: list[tuple],
        equality_cols: list[str] | None = None,
    ) -> Snapshot:
        """Row-level DELETE with **merge-on-read** semantics (Iceberg v2
        equality deletes): instead of rewriting touched data dirs
        (:meth:`delete_where`'s copy-on-write), the commit writes a tiny
        *delete dir* holding the distinct ``equality_cols`` tuples of the
        matched rows; readers anti-join it until :meth:`compact`
        materializes the deletes and clears them.

        The CoW/MoR trade: MoR makes deletes O(matched keys) writes (a
        streaming CDC sink's friend at 100 TB — no partition rewrite per
        trickle delete) and moves the cost to reads (one anti-join per
        outstanding delete dir, broadcast-sized until compaction).
        ``equality_cols`` defaults to all columns (full-row equality).

        Scale: the matched-keys scan is manifest-pruned to the dirs that
        can contain matches; the anti-join key set is distinct-reduced.
        Run compaction when outstanding delete dirs grow."""
        manifest = self._read_manifest(namespace, table)
        snap = self._resolve_snapshot(manifest, namespace, table, None)
        cols = list(snap.get("columns") or manifest.get("columns") or [])
        eq = list(equality_cols or cols)
        unknown = [c for c in eq if c not in cols]
        if unknown:
            raise ValueError(f"delete_where_mor: unknown equality cols {unknown}")
        current = self.load(namespace, table, filters=filters)
        pred = self._filters_to_column(filters)
        matched = current.filter(pred.eqNullSafe(F.lit(True)))
        keys = matched.select(*eq).distinct()
        for _ in range(COMMIT_RETRIES):
            manifest, base_version = self._read_manifest_versioned(namespace, table)
            head = manifest["snapshots"][-1]
            if head["snapshot_id"] != snap["snapshot_id"]:
                raise CommitConflictError(
                    f"MoR delete on {namespace}.{table} planned at snapshot "
                    f"{snap['snapshot_id']} but head advanced to "
                    f"{head['snapshot_id']}; re-plan and retry"
                )
            sid = len(manifest["snapshots"]) + 1
            ddir, out, n_keys, key_schema = self._write_delete_dir(
                namespace, table, sid, keys
            )
            if n_keys == 0:
                import shutil

                shutil.rmtree(out, ignore_errors=True)
                return self.current_snapshot(namespace, table)
            # exact surviving-row count WITHOUT re-reading the corpus
            # (r12 review: the old full-table anti-join made every
            # trickle delete an O(corpus) read in the mode that exists
            # to be O(matched keys)).  The head snapshot already records
            # the visible total, so only the rows the NEW key set erases
            # need counting — and that count scans only dirs whose
            # manifest bounds/Blooms admit a key.  Read-side deletes
            # match with eqNullSafe, so a bounds filter is sound only
            # for eq cols whose key set is NULL-free (a NULL key matches
            # NULL rows, which bounds can't locate).
            kdf = self.spark.read.schema(_schema_of(key_schema)).parquet(out)
            total = head.get("row_count")
            if total is None:  # pre-row_count-era manifest: exact fallback
                remaining = self.load(namespace, table).join(
                    kdf, eq, "left_anti"
                ).count()
            else:
                aggs = []
                for c in eq:
                    aggs += [
                        F.min(c).alias(f"__mn_{c}"),
                        F.max(c).alias(f"__mx_{c}"),
                        F.sum(F.col(c).isNull().cast("long")).alias(f"__nu_{c}"),
                    ]
                st = kdf.agg(*aggs).first()
                key_bounds: list[tuple] = []
                for c in eq:
                    if not st[f"__nu_{c}"] and st[f"__mn_{c}"] is not None:
                        key_bounds += [
                            (c, ">=", st[f"__mn_{c}"]),
                            (c, "<=", st[f"__mx_{c}"]),
                        ]
                cand = self.load(namespace, table, filters=key_bounds or None)
                kj = kdf.select(*[F.col(c).alias(f"__k_{c}") for c in eq])
                if n_keys <= 1_000_000:  # delete sets are broadcast-sized
                    kj = F.broadcast(kj)
                from functools import reduce

                cond = reduce(
                    lambda a, b: a & b,
                    [cand[c].eqNullSafe(F.col(f"__k_{c}")) for c in eq],
                )
                remaining = total - cand.join(kj, cond, "left_semi").count()
            new_snap = {
                "snapshot_id": sid,
                "committed_at": time.time(),
                "operation": "delete",
                "row_count": remaining,
                "added_rows": 0,
                "data_dirs": list(head["data_dirs"]),
                "delete_dirs": [*head.get("delete_dirs", []), ddir],
                "columns": list(head.get("columns") or cols),
                "batch_id": None,
            }
            candidate = dict(manifest)
            candidate["snapshots"] = [*manifest["snapshots"], new_snap]
            # Iceberg sequence-number semantics: the delete applies ONLY
            # to data files that existed when it was committed — a row
            # re-inserted later must survive.  Record the scope.
            self._add_dir_entries(candidate, ddir, {
                "delete_dir_cols": eq,
                "delete_dir_schemas": key_schema,
                "delete_dir_scope": list(head["data_dirs"]),
            })
            try:
                self._publish_manifest(namespace, table, candidate, version=base_version + 1)
            except FileExistsError:
                import shutil

                shutil.rmtree(out, ignore_errors=True)
                continue
            return Snapshot(
                sid, new_snap["committed_at"], "delete", remaining,
                tuple(new_snap["data_dirs"]), 0, tuple(new_snap["columns"]), None,
            )
        raise CommitConflictError(
            f"MoR delete on {namespace}.{table} kept losing races"
        )

    def upsert_mor(
        self,
        namespace: str,
        table: str,
        source: DataFrame,
        equality_cols: list[str],
        delete_condition: object | None = None,
        batch_id: int | None = None,
        writer_id: str | None = None,
    ) -> Snapshot:
        """Merge-on-read UPSERT: ONE snapshot referencing an equality-
        delete dir (every incoming key, scoped to the pre-commit data
        dirs) plus a new data dir (the incoming rows, minus any matching
        ``delete_condition`` — CDC delete markers).  Readers see the old
        version of each key anti-joined away and the new version from the
        fresh dir; nothing is rewritten.

        This is the streaming-CDC fast path at 100 TB: per batch it
        writes O(batch) bytes regardless of table size or how many dirs
        the keys touch (contrast :meth:`merge_into`'s CoW, which rewrites
        every touched dir); compaction amortizes the read-side merge.
        ``batch_id`` gives exactly-once under foreachBatch replay.

        The commit ABORTS if the head advanced since planning (the delete
        scope depends on it) — callers retry the whole upsert."""
        manifest = self._read_manifest(namespace, table)
        if batch_id is not None and self._batch_already_committed(
            manifest, batch_id, writer_id
        ):
            return self.current_snapshot(namespace, table)
        head = self._resolve_snapshot(manifest, namespace, table, None)
        cols = list(head.get("columns") or manifest.get("columns") or [])
        unknown = [c for c in equality_cols if c not in cols]
        if unknown:
            raise ValueError(f"upsert_mor: unknown equality cols {unknown}")
        keys = source.select(*equality_cols).distinct()
        inserts = source
        if delete_condition is not None:
            cond = (
                F.expr(delete_condition)
                if isinstance(delete_condition, str)
                else delete_condition
            )
            inserts = source.filter(~cond.eqNullSafe(F.lit(True)))
        tgt_dtypes = dict(self.load(namespace, table).dtypes)
        inserts = inserts.select(
            *[
                (F.col(c) if c in inserts.columns else F.lit(None))
                .cast(tgt_dtypes.get(c, "string"))
                .alias(c)
                for c in cols
            ]
        )
        # exact post-upsert row count: rows the keys displace, counted
        # with the key-bounds manifest pruning load() provides
        bounds_row = keys.agg(
            *[F.min(k).alias(f"lo_{k}") for k in equality_cols],
            *[F.max(k).alias(f"hi_{k}") for k in equality_cols],
        ).first()
        bfilters = []
        for k in equality_cols:
            if bounds_row[f"lo_{k}"] is not None:
                bfilters.append((k, ">=", bounds_row[f"lo_{k}"]))
            if bounds_row[f"hi_{k}"] is not None:
                bfilters.append((k, "<=", bounds_row[f"hi_{k}"]))
        displaced = (
            self.load(namespace, table, filters=bfilters or None)
            .join(keys, equality_cols, "left_semi")
            .count()
            if bfilters
            else 0
        )
        for _ in range(COMMIT_RETRIES):
            manifest, base_version = self._read_manifest_versioned(namespace, table)
            cur_head = manifest["snapshots"][-1]
            if cur_head["snapshot_id"] != head["snapshot_id"]:
                raise CommitConflictError(
                    f"MoR upsert on {namespace}.{table} planned at snapshot "
                    f"{head['snapshot_id']} but head advanced to "
                    f"{cur_head['snapshot_id']}; re-plan and retry"
                )
            sid = len(manifest["snapshots"]) + 1
            data_dir, added, entries = self._write_data_dir(
                namespace, table, manifest, inserts
            )
            ddir, dout, n_keys, key_schema = self._write_delete_dir(
                namespace, table, sid, keys
            )
            new_snap = {
                "snapshot_id": sid,
                "committed_at": time.time(),
                "operation": "upsert",
                "row_count": head["row_count"] - displaced + added,
                "added_rows": added,
                "data_dirs": [*head["data_dirs"], *( [data_dir] if added else [] )],
                "delete_dirs": [
                    *head.get("delete_dirs", []),
                    *([ddir] if n_keys else []),
                ],
                "columns": cols,
                "batch_id": batch_id,
                **({"writer_id": writer_id} if writer_id is not None else {}),
            }
            candidate = dict(manifest)
            candidate["snapshots"] = [*manifest["snapshots"], new_snap]
            if added:
                self._add_dir_entries(candidate, data_dir, entries)
            if n_keys:
                self._add_dir_entries(candidate, ddir, {
                    "delete_dir_cols": list(equality_cols),
                    "delete_dir_schemas": key_schema,
                    "delete_dir_scope": list(head["data_dirs"]),
                })
            import shutil

            if added == 0:
                shutil.rmtree(
                    os.path.join(self._table_path(namespace, table), data_dir),
                    ignore_errors=True,
                )
            if n_keys == 0:
                shutil.rmtree(dout, ignore_errors=True)
                if added == 0:
                    return self.current_snapshot(namespace, table)
            try:
                self._publish_manifest(namespace, table, candidate, version=base_version + 1)
            except FileExistsError:
                shutil.rmtree(
                    os.path.join(self._table_path(namespace, table), data_dir),
                    ignore_errors=True,
                )
                shutil.rmtree(dout, ignore_errors=True)
                continue
            return Snapshot(
                sid, new_snap["committed_at"], "upsert", new_snap["row_count"],
                tuple(new_snap["data_dirs"]), added, tuple(cols), batch_id,
            )
        raise CommitConflictError(
            f"MoR upsert on {namespace}.{table} kept losing races"
        )

    def update_where(
        self,
        namespace: str,
        table: str,
        assignments: dict[str, object],
        filters: list[tuple],
    ) -> Snapshot:
        """Row-level ``UPDATE … SET … WHERE`` (copy-on-write, dir
        granularity like :meth:`delete_where`).  ``assignments`` maps
        column name → Column expression or SQL string (may reference any
        column of the row).  Only rows where the predicate is TRUE are
        updated; NULL-predicate rows pass through unchanged."""
        manifest, snap, touched, carried, backfill = self._plan_rewrite(
            namespace, table, filters
        )
        if not touched:
            return self.current_snapshot(namespace, table)
        pred = self._filters_to_column(filters).eqNullSafe(F.lit(True))
        df = self._read_dirs_clean(namespace, table, touched, manifest)
        dtypes = dict(df.dtypes)
        for col, expr in assignments.items():
            if col not in df.columns:
                raise ValueError(f"update_where: unknown column {col!r}")
            new_val = F.expr(expr) if isinstance(expr, str) else expr
            df = df.withColumn(
                col, F.when(pred, new_val.cast(dtypes[col])).otherwise(F.col(col))
            )
        return self._commit(
            namespace, table, manifest, df, "rewrite",
            carry_dirs=carried, base_snapshot_id=snap["snapshot_id"],
            extra_dir_rows=backfill,
        )

    def merge_into(
        self,
        namespace: str,
        table: str,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict[str, object] | None = None,
        when_matched_delete: object | None = None,
        when_not_matched_insert: bool = True,
        matched_condition: object | None = None,
        validate_unique_keys: bool = True,
        insert_condition: object | None = None,
        batch_id: int | None = None,
        writer_id: str | None = None,
    ) -> Snapshot:
        """Full ``MERGE INTO`` (Iceberg/Delta-style) with file-level
        copy-on-write: target dirs whose key bounds cannot overlap the
        source's key range carry over by reference; only overlapping dirs
        join the source and rewrite.

        - ``when_matched_update``: column → expression over the joined row
          (source columns visible as ``s.<col>``, target as ``t.<col>``;
          bare names resolve to the target).  SQL strings or Columns.
        - ``when_matched_delete``: ``True`` or a boolean SQL string /
          Column — matched rows satisfying it are dropped.
        - ``when_not_matched_insert``: source rows with no target match
          insert (columns matched by name; missing target columns → NULL).
        - ``matched_condition``: extra predicate gating the update clause.
        - ``validate_unique_keys``: raise if two source rows share a key
          (a target row may only merge with one source row — the ambiguity
          Iceberg rejects at runtime).
        - ``insert_condition``: predicate over bare source columns gating
          the insert clause (``WHEN NOT MATCHED AND <cond> THEN INSERT`` —
          a CDC apply must not insert delete-markers).
        - ``batch_id``: streaming idempotence — a replayed micro-batch
          whose id is already recorded returns the current snapshot
          without re-planning the merge.

        Scale: the source is scanned twice (bounds + join) — cache it if
        it's expensive; the join shuffles only the touched target dirs,
        and a merge keyed on the partition column of a date-partitioned
        fact rewrites only the partitions the source touches."""
        if not (when_matched_update or when_matched_delete or when_not_matched_insert):
            raise ValueError("merge_into: no clauses given")
        if batch_id is not None and self._batch_already_committed(
            self._read_manifest(namespace, table), batch_id, writer_id
        ):
            # replayed streaming micro-batch: the merge already committed —
            # skip the whole plan, not just the manifest publish
            return self.current_snapshot(namespace, table)
        if validate_unique_keys:
            dup = (
                source.groupBy(*on).agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1).limit(1).count()
            )
            if dup:
                raise ValueError(
                    f"merge_into: source has duplicate keys on {on} — each "
                    "target row must match at most one source row"
                )
        # source key bounds → dir-level pruning filters (min <= key <= max)
        bounds_row = source.agg(
            *[F.min(k).alias(f"lo_{k}") for k in on],
            *[F.max(k).alias(f"hi_{k}") for k in on],
        ).first()
        filters: list[tuple] = []
        for k in on:
            lo, hi = bounds_row[f"lo_{k}"], bounds_row[f"hi_{k}"]
            if lo is not None:
                filters.append((k, ">=", lo))
            if hi is not None:
                filters.append((k, "<=", hi))
        if not filters:
            # empty / all-NULL-key source: nothing can match; inserts of
            # NULL-keyed rows are rejected like engines reject NULL merge keys
            return self.current_snapshot(namespace, table)
        manifest, snap, touched, carried, backfill = self._plan_rewrite(
            namespace, table, filters
        )
        t = self._read_dirs_clean(namespace, table, touched, manifest) if touched else None
        target_cols = (
            list(t.columns) if t is not None
            else list(manifest.get("columns") or [])
        )
        pieces = []
        if t is not None:
            s_marked = source.withColumn("__s_matched", F.lit(True)).alias("s")
            joined = t.alias("t").join(
                s_marked, on=[F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on],
                how="left",
            )
            matched = F.col("s.__s_matched").isNotNull()
            if matched_condition is not None:
                cond = (
                    F.expr(matched_condition)
                    if isinstance(matched_condition, str)
                    else matched_condition
                )
                matched = matched & cond.eqNullSafe(F.lit(True))
            if when_matched_delete is not None:
                del_cond = (
                    matched
                    if when_matched_delete is True
                    else matched
                    & (
                        F.expr(when_matched_delete)
                        if isinstance(when_matched_delete, str)
                        else when_matched_delete
                    ).eqNullSafe(F.lit(True))
                )
                joined = joined.filter(~del_cond.eqNullSafe(F.lit(True)))
            dtypes = dict(t.dtypes)
            out_cols = []
            for c in target_cols:
                base = F.col(f"t.{c}")
                if when_matched_update and c in when_matched_update:
                    expr = when_matched_update[c]
                    new_val = F.expr(expr) if isinstance(expr, str) else expr
                    base = F.when(matched, new_val.cast(dtypes[c])).otherwise(base)
                out_cols.append(base.alias(c))
            pieces.append(joined.select(*out_cols))
        if when_not_matched_insert:
            # anti-join against the WHOLE table (carried dirs included):
            # a source key living in a carried dir must not re-insert
            full = self.load(namespace, table)
            tgt_dtypes = dict(full.dtypes)
            inserts = source.join(full.select(*on).distinct(), on, "left_anti")
            if insert_condition is not None:
                cond = (
                    F.expr(insert_condition)
                    if isinstance(insert_condition, str)
                    else insert_condition
                )
                inserts = inserts.filter(cond.eqNullSafe(F.lit(True)))
            projected = inserts.select(
                *[
                    (F.col(c) if c in inserts.columns else F.lit(None))
                    .cast(tgt_dtypes[c])
                    .alias(c)
                    for c in target_cols
                ]
            )
            pieces.append(projected)
        if not pieces:
            return self.current_snapshot(namespace, table)
        from functools import reduce

        merged = reduce(lambda a, b: a.unionByName(b), pieces)
        return self._commit(
            namespace, table, manifest, merged, "rewrite",
            batch_id=batch_id, carry_dirs=carried,
            base_snapshot_id=snap["snapshot_id"], extra_dir_rows=backfill,
            writer_id=writer_id,
        )

    def load(
        self,
        namespace: str,
        table: str,
        snapshot_id: int | None = None,
        filters: list[tuple] | None = None,
        as_of_timestamp: float | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Read a table at the current (or a historical) snapshot.

        ``ref`` reads a named branch or tag head (Iceberg
        ``VERSION AS OF 'ref'``) — mutually exclusive with
        ``snapshot_id`` / ``as_of_timestamp``.

        Schema evolution: when the snapshot's data dirs were written with
        different column sets, the read merges schemas (missing columns
        read as NULL for older files) and returns the snapshot's evolved
        column order — Iceberg's read-time schema resolution.

        ``filters`` — optional ``[(col, op, value), ...]`` with op in
        ``= == < <= > >= in`` — enables **manifest-level data skipping**:
        data dirs whose recorded column bounds prove the conjunction can't
        match are dropped from the read path entirely (Iceberg's
        manifest-entry pruning), before Spark lists a single file; the
        same predicates are then applied as normal ``filter`` calls, so
        results never depend on stats and Spark still pushes them to the
        parquet row-group level (the second pruning tier)."""
        # RBAC read gate: every read shape (current, time travel,
        # branch/tag, filtered) resolves through this method
        self._check_privilege(namespace, table, "SELECT")
        manifest = self._read_manifest(namespace, table)
        if ref is not None:
            if snapshot_id is not None or as_of_timestamp is not None:
                raise ValueError("pass ref OR snapshot_id/as_of_timestamp, not both")
            refs = manifest.get("refs", {})
            if ref not in refs:
                raise ValueError(f"{namespace}.{table}: no branch/tag named {ref!r}")
            snapshot_id = refs[ref]["snapshot_id"]
        snap = self._resolve_snapshot(
            manifest, namespace, table, snapshot_id, as_of_timestamp
        )
        snapshot_id = snap["snapshot_id"]
        read_dirs = list(snap["data_dirs"])
        file_lists: dict[str, list[str]] | None = None
        if filters:
            preview = self.prune_preview(namespace, table, filters, snapshot_id)
            # file-granularity skipping: a kept dir with per-file stats
            # reads only its surviving files; a dir whose every file is
            # pruned drops out entirely
            file_lists = {d: fl for d, fl in preview["kept_files"].items() if fl}
            read_dirs = [
                d
                for d in preview["kept"]
                if d not in preview["kept_files"] or preview["kept_files"][d]
            ]
            if not read_dirs:
                # every dir pruned: empty frame with the snapshot's schema
                # (the CURRENT logical schema once DDL evolution exists)
                cols = (
                    list(manifest.get("columns") or [])
                    if (
                        manifest.get("column_renames")
                        or manifest.get("dropped_columns")
                        or manifest.get("column_types")
                    )
                    else list(snap.get("columns") or manifest.get("columns") or [])
                )
                empty = self._read_dir_paths(
                    namespace, table, snap["data_dirs"][:1], manifest
                ).limit(0)
                empty = self._apply_schema_evolution(
                    empty, manifest, list(manifest.get("columns") or [])
                )
                return empty.select(*[c for c in cols if c in empty.columns])
        df = self._read_dir_paths(namespace, table, read_dirs, manifest, file_lists)
        # Schema-evolution DDL resolution (renames / drops / null-filled
        # adds) happens FIRST so user-facing filters and column ordering
        # see the CURRENT logical schema (Iceberg reads every snapshot
        # through the current schema).  No-op unless alter_table ran.
        evolved_ddl = bool(
            manifest.get("column_renames")
            or manifest.get("dropped_columns")
            or manifest.get("column_types")
        )
        if evolved_ddl:
            df = self._apply_schema_evolution(
                df, manifest, list(manifest.get("columns") or [])
            )
        # Transform-aware partition pruning (hidden partitioning): fold
        # each filter literal through the spec's transform so the derived
        # `_p_…` partition column gets a constant predicate — Spark turns
        # it into a PartitionFilter and skips whole partition dirs.  Range
        # ops fold only through monotone transforms (< and > relax to the
        # coarse <= / >=); bucket is hash-based, so only = / IN prune.
        spec_fields = parse_partition_spec(manifest["partition_by"])
        derived = {f["col"]: f for f in spec_fields if f["transform"] != "identity"}
        # multi-spec table (partition evolution): dirs from other eras
        # carry NULL in this era's derived field after the union — the
        # fold must let those rows through (the row-level filter below
        # still applies), while new-era hive dirs prune as usual
        multi_spec = bool(manifest.get("partition_specs"))
        for col, op, val in filters or []:
            fld = derived.get(col)
            if fld is None or fld["field"] not in df.columns:
                continue

            # cast the literal to the source column's exact type first:
            # bucket's xxhash64 is type-sensitive (int 7 and bigint 7
            # hash differently), and integer truncate needs integral math
            src_type = dict(df.dtypes)[col]

            def tv(v, _fld=fld, _t=src_type):
                lit = F.lit(v).cast(_t)
                return transform_expr(
                    _fld["transform"], _fld["param"], lit, _t.startswith(_STATS_NUMERIC)
                )

            field = F.col(fld["field"])
            mono = fld["transform"] in _MONOTONE_TRANSFORMS

            def fold(cond):
                return (field.isNull() | cond) if multi_spec else cond

            if op in ("=", "=="):
                df = df.filter(fold(field == tv(val)))
            elif op == "in":
                from functools import reduce as _reduce

                if val:
                    df = df.filter(
                        fold(_reduce(lambda a, b: a | b, [field == tv(v) for v in val]))
                    )
                elif not multi_spec:
                    # empty IN list prunes everything, matching the
                    # row-level isin([]) path below
                    df = df.filter(F.lit(False))
            elif mono and op in ("<", "<="):
                df = df.filter(fold(field <= tv(val)))
            elif mono and op in (">", ">="):
                df = df.filter(fold(field >= tv(val)))
        # partitionBy moves partition columns to the end on read; restore
        # the snapshot's declared column order and strip derived partition
        # fields of EVERY spec era (hidden partitioning: they never reach
        # the user).
        derived_names = {
            f["field"]
            for f in _all_spec_fields(manifest)
            if f["transform"] != "identity"
        }
        cols = (
            list(manifest.get("columns") or [])
            if evolved_ddl
            else list(snap.get("columns") or manifest.get("columns") or [])
        )
        ordered = [c for c in cols if c in df.columns]
        extras = [c for c in df.columns if c not in cols and c not in derived_names]
        if list(df.columns) != ordered + extras:
            df = df.select(*ordered, *extras)
        for col, op, val in filters or []:
            c = F.col(col)
            df = df.filter(
                c.isin(list(val))
                if op == "in"
                else {"=": c == val, "==": c == val, "<": c < val, "<=": c <= val,
                      ">": c > val, ">=": c >= val}[op]
            )
        # merge-on-read: anti-join the snapshot's outstanding equality-
        # delete dirs (written by delete_where_mor, cleared by compact).
        # Each anti-join is SCOPED to the data dirs that existed when the
        # delete committed (Iceberg sequence-number semantics: a row
        # re-inserted afterwards survives) by tagging rows with their
        # source dir.  Delete sets are key-distinct and broadcast-sized in
        # practice; AQE picks BroadcastHashJoin from runtime stats.
        ddc = manifest.get("delete_dir_cols", {})
        scopes = manifest.get("delete_dir_scope", {})
        del_dirs = snap.get("delete_dirs", [])
        if del_dirs:
            from functools import reduce

            df = df.withColumn(
                "__dir", F.regexp_extract(F.input_file_name(), r"/(data-[^/]+)/", 1)
            )
            key_schemas = self._recorded_schemas(
                namespace, table, manifest, del_dirs, "delete_dir_schemas"
            )
            for ddir in del_dirs:
                dpath = os.path.join(self._table_path(namespace, table), ddir)
                keys = self.spark.read.schema(key_schemas[ddir]).parquet(dpath)
                eq = ddc[ddir]
                keys = keys.select(
                    *[F.col(c).alias(f"__k_{c}") for c in eq]
                )
                cond = reduce(
                    lambda a, b: a & b,
                    [F.col(c).eqNullSafe(F.col(f"__k_{c}")) for c in eq],
                )
                scope = scopes.get(ddir)
                if scope is not None:
                    cond = cond & F.col("__dir").isin(scope)
                df = df.join(keys, cond, "left_anti")
            df = df.drop("__dir")
        return df

    def snapshots(self, namespace: str, table: str) -> list[Snapshot]:
        """Snapshot history — the `table.snapshots()` metadata view
        (`05_append_campaigns.py:115,131-137`)."""
        manifest = self._read_manifest(namespace, table)
        return [
            Snapshot(
                s["snapshot_id"],
                s["committed_at"],
                s["operation"],
                s["row_count"],
                tuple(s["data_dirs"]),
                s.get("added_rows", s["row_count"]),
                tuple(s.get("columns", ())),
                s.get("batch_id"),
                s.get("branch"),
            )
            for s in manifest["snapshots"]
        ]

    def schema_history(self, namespace: str, table: str) -> list[dict]:
        """Per-snapshot schema-evolution log: which columns each commit
        added or stopped writing — the observable form of the CLD's
        "automatic sync on refresh" schema tracking
        (`11_catalog_linked_database.sql:163-170`)."""
        manifest = self._read_manifest(namespace, table)
        dir_cols = manifest.get("dir_columns", {})
        events = []
        prev_written: set[str] = set()
        for s in manifest["snapshots"]:
            new_dirs = [d for d in s["data_dirs"] if d in dir_cols]
            written = set(dir_cols[new_dirs[-1]]) if new_dirs else set()
            events.append(
                {
                    "snapshot_id": s["snapshot_id"],
                    "operation": s["operation"],
                    "columns": list(s.get("columns", ())),
                    "added_columns": sorted(written - prev_written) if prev_written else [],
                    "dropped_columns": sorted(prev_written - written) if prev_written else [],
                }
            )
            prev_written = written
        return events

    def partition_spec(self, namespace: str, table: str) -> list[str]:
        return list(self._read_manifest(namespace, table)["partition_by"])

    # -- health (S10) -----------------------------------------------------
    def link_status(self, namespace: str) -> dict:
        """`SYSTEM$CATALOG_LINK_STATUS` analog
        (`11_catalog_linked_database.sql:71,130`): probe listing + one
        table read; structured status dict."""
        try:
            tables = self.list_tables(namespace)
            probe: str | None = None
            if tables:
                probe = tables[0]
                self.load(namespace, probe).schema  # cheap metadata read
            return {
                "catalog": self.name,
                "namespace": namespace,
                "status": "LINK_ACTIVE",
                "table_count": len(tables),
                "probe_table": probe,
                "failure_details": None,
            }
        except Exception as exc:  # noqa: BLE001 — health probe reports, never raises
            return {
                "catalog": self.name,
                "namespace": namespace,
                "status": "LINK_FAILED",
                "table_count": 0,
                "probe_table": None,
                "failure_details": str(exc),
            }

    def refresh(self, namespace: str) -> list[str]:
        """`ALTER DATABASE … REFRESH` analog (`11:127-130`) — shared
        storage means re-listing IS the refresh."""
        return self.list_tables(namespace)


class ExternalTables:
    """EXT-style manual registration (`10_external_tables.sql:45-88`):
    an explicit registry of EXT_NAME → (namespace, table) bindings over a
    :class:`LakehouseCatalog` — the second access path to the same data."""

    def __init__(self, catalog: LakehouseCatalog, registry_name: str = "ext") -> None:
        self.catalog = catalog
        self._path = os.path.join(catalog.warehouse, f"_registry_{registry_name}.json")

    def _read(self) -> dict[str, list[str]]:
        if not os.path.isfile(self._path):
            return {}
        with open(self._path) as f:
            return json.load(f)

    def _write(self, reg: dict[str, list[str]]) -> None:
        tmp = self._path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(reg, f, indent=1)
        os.replace(tmp, self._path)

    def register(self, ext_name: str, namespace: str, table: str) -> None:
        if not self.catalog.table_exists(namespace, table):
            raise KeyError(f"catalog table {namespace}.{table} not found")
        reg = self._read()
        reg[ext_name] = [namespace, table]
        self._write(reg)

    def names(self) -> list[str]:
        return sorted(self._read())

    def load(self, ext_name: str) -> DataFrame:
        namespace, table = self._read()[ext_name]
        return self.catalog.load(namespace, table)

    def unregister(self, ext_name: str) -> None:
        reg = self._read()
        reg.pop(ext_name, None)
        self._write(reg)


class ViewRegistry:
    """Persisted SQL view definitions for a logical database — the PROD
    view layer (`15_create_prod_database.sql:53-242`) and the unit of
    metadata-only replication/drift detection (`33_schema_sync_task.sql`).

    Definitions are stored as SQL text in one JSON file per (catalog,
    database); :meth:`apply` replays them as temp views each session —
    exactly how the reference's sync task re-creates PROD views
    (`16_sync_task_primary.sql:190-215`)."""

    def __init__(self, warehouse: str, database: str) -> None:
        self.database = database
        self._path = os.path.join(warehouse, f"_views_{database}.json")

    def _read(self) -> dict[str, str]:
        if not os.path.isfile(self._path):
            return {}
        with open(self._path) as f:
            return json.load(f)

    def _write(self, views: dict[str, str]) -> None:
        tmp = self._path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(views, f, indent=1)
        os.replace(tmp, self._path)

    def create_or_replace(self, name: str, sql: str) -> None:
        views = self._read()
        views[name] = sql
        self._write(views)

    def drop(self, name: str) -> None:
        views = self._read()
        views.pop(name, None)
        self._write(views)

    def definitions(self) -> dict[str, str]:
        return self._read()

    def definition_hashes(self, spark: SparkSession) -> DataFrame:
        """(object_name, object_definition, object_hash) with sha2-256 —
        the drift-detection export (`33:87,105`)."""
        views = self._read()
        if not views:
            return spark.createDataFrame(
                [], "object_name string, object_definition string, object_hash string"
            )
        df = spark.createDataFrame(
            [(k, v) for k, v in sorted(views.items())],
            "object_name string, object_definition string",
        )
        return df.withColumn("object_hash", F.sha2(F.col("object_definition"), 256))

    def apply(self, spark: SparkSession, prefix: str | None = None) -> list[str]:
        """Replay every definition as `{prefix}_{name}` temp views."""
        created = []
        for name, sql in sorted(self._read().items()):
            view_name = f"{prefix}_{name}" if prefix else name
            spark.sql(f"CREATE OR REPLACE TEMP VIEW {view_name} AS {sql}")
            created.append(view_name)
        return created
