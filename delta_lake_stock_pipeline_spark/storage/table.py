"""Versioned partitioned parquet tables with a manifest log.

Re-expresses the reference's Delta lifecycle on plain parquet (SURVEY.md
§7.4 risk 2 fallback): each write lands an immutable version directory
``v0000, v0001, ...`` under the table path and appends one JSONL manifest
entry ``{version, timestamp, operation, operationMetrics, snapshot,
schema, partitionStats}`` -- the shape ``DeltaTable.history()`` exposes
(``maintenance.py:87-91``).

The manifest is the only thing a read consults, as Delta readers take a
snapshot from the log rather than the file system: ``snapshot`` maps each
partition's relative dir (Hive-style, escaped the way Spark names it) to
the version dir holding its files; ``schema`` is the written frame's
schema JSON (Delta's ``metaData.schemaString``); ``partitionStats`` gives
``{numRecords, numFiles, sizeBytes}`` per partition the commit wrote (the
per-file stats of Delta's ``add`` actions, summed per partition). Only
commits that write a version dir carry the last two; metadata-only commits
(RESTORE, partition DELETE) carry just the snapshot, and a partition's
schema and stats are looked up on the entry of the version that wrote it.

Metadata-only operations run no Spark job:

* opening a snapshot (no footer-inference or listing job per version dir;
  entries without a schema -- older manifests -- fall back to inference);
* a DELETE whose condition is deterministic and references partition
  columns only: the condition is evaluated over the snapshot's partition
  keys, held as a LocalRelation, and matching partitions drop out of the
  snapshot -- nothing read, nothing written;
* ``history``, and (in ``register_external``) the catalog table's
  columns and partitions;
* ``maintenance.health_check`` row and key counts, while the recorded
  stats still agree with the files on disk.

Isolation model: readers resolve a version directory once and only ever see
its immutable files; writers only add new directories. That is the essential
snapshot-isolation property of Delta's log, minus multi-writer commit
arbitration (out of scope for a single-driver engine; the seam to swap in
delta-spark is ``session.have_delta()``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_manifest.jsonl"
# Non-version directory a CLONE of an emptied table uses to carry the
# source schema (hard-linked files read limit(0) only; never table data).
SCHEMA_CARRIER = "_schema"

# Reference partition layout: stock_harvester.py:172,180.
DEFAULT_PARTITION_COLS = ("ticker", "trade_date")


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def _read_manifest(path: str) -> list[dict]:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return []
    with open(mp) as f:
        return [json.loads(line) for line in f if line.strip()]


def _append_manifest(path: str, entry: dict) -> None:
    with open(_manifest_path(path), "a") as f:
        f.write(json.dumps(entry) + "\n")


def _commit(
    path: str, version: int, operation: str, metrics: dict, snapshot: dict, **extra
) -> int:
    """Append ``version``'s manifest entry; ``extra`` adds ``schema`` /
    ``partitionStats`` for commits that wrote a version dir."""
    _append_manifest(
        path,
        {
            "version": version,
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "operation": operation,
            "operationMetrics": metrics,
            "snapshot": snapshot,
            **extra,
        },
    )
    return version


def _version_dir(path: str, version: int) -> str:
    return os.path.join(path, f"v{version:04d}")


def _partition_stats(root: str, rows: bool = True) -> dict[str, dict]:
    """``{rel: {numRecords, numFiles, sizeBytes}}`` for every directory
    under ``root`` holding parquet files, keyed by its path relative to
    ``root`` (``ticker=T00/trade_date=...``; ``""`` for a flat layout).
    Row counts come from the parquet footers; ``rows=False`` skips them
    (``numRecords`` is then None) and only lists and stats the files --
    the reference's local walk (``maintenance.py:55-62``)."""
    import pyarrow.parquet as pq

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        parquet = [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
        if parquet:
            rel = os.path.relpath(dirpath, root)
            out["" if rel == "." else rel] = {
                "numRecords": sum(pq.read_metadata(f).num_rows for f in parquet)
                if rows
                else None,
                "numFiles": len(parquet),
                "sizeBytes": sum(os.path.getsize(f) for f in parquet),
            }
    return dict(sorted(out.items()))


def _totals(stats: dict[str, dict]) -> dict:
    """Sum per-partition stats (``numRecords`` stays None if any is)."""
    rows = [s["numRecords"] for s in stats.values()]
    return {
        "numRecords": None if None in rows else sum(rows),
        "numFiles": sum(s["numFiles"] for s in stats.values()),
        "sizeBytes": sum(s["sizeBytes"] for s in stats.values()),
    }


# Spark's ExternalCatalogUtils.escapePathName set: ASCII controls plus
# these characters are written as %XX in partition dir names.
_ESCAPED = {chr(c) for c in range(1, 0x20)} | set("\"#%'*/:=?\\\x7f{[]^")
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in s)


def _unescape(s: str) -> str:
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s)


def _rel_dir(key: dict) -> str:
    """Hive-style relative dir for a partition key, named as ``partitionBy``
    names it: names and values escaped, NULL and empty strings as
    ``__HIVE_DEFAULT_PARTITION__``, booleans lower-case."""

    def text(v) -> str:
        if v is None or v == "":
            return _NULL_PARTITION
        return _escape(str(v).lower() if isinstance(v, bool) else str(v))

    return "/".join(f"{_escape(c)}={text(v)}" for c, v in key.items())


def _parse_rel(rel: str) -> dict[str, str | None]:
    """Inverse of :func:`_rel_dir`: ``{column: raw value}`` in layout
    order, None for the default (NULL) partition; ``{}`` for ``""``."""
    out = {}
    for seg in rel.split("/") if rel else []:
        c, v = seg.split("=", 1)
        out[_unescape(c)] = None if v == _NULL_PARTITION else _unescape(v)
    return out


def _entries(path: str) -> dict[int, dict]:
    """Manifest entries by version."""
    return {e.get("version"): e for e in _read_manifest(path)}


def _recorded_schema(entries: dict[int, dict], versions) -> StructType | None:
    """Union of the schemas the commits of ``versions`` recorded, fields in
    first-seen order by version; None if any of them recorded none."""
    fields: dict = {}
    for v in sorted(set(versions)):
        schema = entries.get(v, {}).get("schema")
        if schema is None:
            return None
        for f in StructType.fromJson(json.loads(schema)).fields:
            fields.setdefault(f.name, f)
    return StructType(list(fields.values()))


def _snapshot_stats(entries: dict[int, dict], snap: dict[str, int]) -> dict[str, dict | None]:
    """Each snapshot partition's recorded stats, looked up on the entry of
    the version that wrote it; None where that entry recorded none."""
    return {
        rel: entries.get(sv, {}).get("partitionStats", {}).get(rel)
        for rel, sv in snap.items()
    }


def _sql_str(v) -> str:
    """``v`` as a Spark SQL string literal; NULL for None."""
    if v is None:
        return "NULL"
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _local_relation(
    spark: SparkSession, fields: Sequence[tuple[str, str]], rows: list[list]
) -> DataFrame:
    """Inline ``VALUES`` of ``rows`` -- each value given as text or None --
    cast to ``fields``' ``(name, SQL type)``. The result is a
    LocalRelation, which Spark filters, projects and collects on the
    driver without a job (a ``range`` scan or a pickled-RDD
    ``createDataFrame`` runs one). No rows give the empty frame of the
    same schema."""
    values = ", ".join(
        "(" + ", ".join(f"CAST({_sql_str(v)} AS {t})" for v, (_, t) in zip(row, fields)) + ")"
        for row in rows or [[None] * len(fields)]
    )
    names = ", ".join(f"`{n}`" for n, _ in fields)
    df = spark.sql(f"SELECT * FROM VALUES {values} AS t({names})")
    return df if rows else df.limit(0)


# Column of _partition_keys holding each partition's relative dir.
_REL = "__rel"


def _partition_keys(
    spark: SparkSession, entries: dict[int, dict], snap: dict[str, int]
) -> DataFrame | None:
    """The snapshot's partition keys as a LocalRelation: one row per
    partition, its relative dir in ``_REL`` and each partition column typed
    from the recorded schema. None when the snapshot is empty or flat, or
    no recorded schema types its partition columns."""
    keys = {rel: _parse_rel(rel) for rel in snap}
    cols = list(next(iter(keys.values()), {}))
    schema = _recorded_schema(entries, snap.values())
    if (
        not cols
        or schema is None
        or not set(cols) <= set(schema.names)
        or any(list(k) != cols for k in keys.values())
    ):
        return None
    return _local_relation(
        spark,
        [(_REL, "string")] + [(c, schema[c].dataType.simpleString()) for c in cols],
        [[rel, *k.values()] for rel, k in keys.items()],
    )


def _entry_for(path: str, version: int) -> dict | None:
    for e in _read_manifest(path):
        if e.get("version") == version:
            return e
    return None


def snapshot_of(path: str, version: int) -> dict[str, int]:
    """The table snapshot at ``version``: map of partition-relative dir ->
    version whose directory physically holds that partition's files. Full
    writes map every partition to their own version; pruned MERGE/DELETE
    snapshots reference untouched partitions from earlier versions (the
    Delta-log model: a commit lists files, most carried over by reference).
    Manifests written before snapshots existed fall back to "everything
    lives in this version's dir"."""
    entry = _entry_for(path, version)
    if entry and "snapshot" in entry:
        return {k: int(v) for k, v in entry["snapshot"].items()}
    return {rel: version for rel in _partition_stats(_version_dir(path, version), rows=False)}


def snapshot_dirs(path: str, version: int) -> list[str]:
    """Absolute partition directories making up ``version``'s snapshot."""
    return [
        os.path.join(_version_dir(path, v), rel) if rel else _version_dir(path, v)
        for rel, v in snapshot_of(path, version).items()
    ]


def current_version(path: str) -> int | None:
    entries = [e for e in _read_manifest(path) if "version" in e]
    return max((e["version"] for e in entries), default=None)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = DEFAULT_PARTITION_COLS,
    operation: str = "WRITE",
    base_snapshot: dict[str, int] | None = None,
    replaced: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
    codec: str | None = None,
    distribute_by_partition: bool = False,
) -> int:
    """Write a new table version partitioned by ``partition_cols`` (S4/S5,
    ``stock_harvester.py:170-181``) and log it. Returns the new version.

    The manifest entry records ``df``'s schema, which later reads of this
    version dir declare instead of inferring it from parquet footers, and
    ``partitionStats``: rows, files and bytes per written partition, the
    rows read from the new files' parquet footers on the driver -- no
    second scan over the data and no extra Spark job (at 100 TB a metrics
    ``count()`` would double the job).

    ``max_records_per_file`` is the file-size governor (the "~1 GB not
    1 KB" target the reference motivates, ``DESIGN.md:20``): writers roll
    to a new file at the cap, bounding the other direction of the
    small-file problem -- files too LARGE to parallelize a read over.
    ``codec`` picks the parquet compression (e.g. ``zstd`` for cold data,
    ``snappy``/default for hot).

    ``distribute_by_partition`` is Iceberg's ``write.distribution-mode =
    hash`` (guide §6): shuffle rows onto the partition columns before the
    ``partitionBy`` write so each partition value is written by ONE task
    -- without it, every upstream task holding rows of a partition opens
    its own file there, and a commit fans out to (tasks x partitions)
    small files (measured on the streaming MERGE paths: 92 files per
    150-row commit across 30 day-partitions; 30 after). Opt-in because
    callers that pre-arrange their own layout (OPTIMIZE's
    repartition + sortWithinPartitions z-ordering) must not be
    re-shuffled. The shuffle width follows spark.sql.shuffle.partitions
    + AQE coalescing, so it stays scale-adaptive."""
    from pyspark.sql import functions as F

    if distribute_by_partition and partition_cols:
        df = df.repartition(*[F.col(c) for c in partition_cols])
    os.makedirs(path, exist_ok=True)
    cur = current_version(path)
    version = 0 if cur is None else cur + 1
    out = _version_dir(path, version)
    writer = df.write.mode("error").partitionBy(*partition_cols)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if codec is not None:
        writer = writer.option("compression", codec)
    writer.parquet(out)
    stats = _partition_stats(out)
    own = {rel: version for rel in stats}
    if base_snapshot is None:
        snapshot = own
    else:
        # Pruned commit: carry forward unaffected partitions by reference,
        # override/add the partitions this version rewrote, drop the ones
        # it emptied (``replaced`` that produced no output dir).
        snapshot = {
            rel: v
            for rel, v in base_snapshot.items()
            if rel not in set(replaced or ())
        }
        snapshot.update(own)
    total = _totals(stats)
    metrics = {
        "numOutputRows": total["numRecords"],
        "numFiles": total["numFiles"],
        "sizeBytes": total["sizeBytes"],
        "partitionBy": list(partition_cols),
        "numRewrittenPartitions": len(own),
        "numReferencedPartitions": len(snapshot) - len(own),
    }
    return _commit(
        path,
        version,
        operation,
        metrics,
        snapshot,
        schema=df.schema.json(),
        partitionStats=stats,
    )


def _parse_ts(ts: str):
    """ISO-8601 -> aware datetime (naive inputs assumed UTC). Parsing --
    not string comparison -- so sub-second or no-'Z' inputs resolve
    correctly against the manifest's second-granularity 'Z' format."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def version_at_timestamp(path: str, timestamp: str) -> int:
    """Delta ``timestampAsOf`` resolution: the last version committed at or
    before ``timestamp`` (ISO-8601; naive strings are taken as UTC).
    Raises if the table has no version that old."""
    want = _parse_ts(timestamp)
    candidates = [
        e["version"]
        for e in _read_manifest(path)
        if _parse_ts(e["timestamp"]) <= want
    ]
    if not candidates:
        raise ValueError(f"no version at or before {timestamp} in {path}")
    return max(candidates)


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp: str | None = None,
) -> DataFrame:
    """Scan a table version (S7; default latest). ``version`` (Delta
    ``versionAsOf``) or ``timestamp`` (``timestampAsOf``, resolved against
    manifest commit times) is time travel: old version dirs are immutable
    until VACUUM removes them.

    Resolves the version's SNAPSHOT from the manifest: after a pruned
    MERGE/DELETE the live table is a union of partition dirs across version
    dirs, one read per contributing version (see ``_read_rels``). Each read
    declares the schema its commit recorded, so building the frame runs no
    Spark job."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(path, timestamp)
    v = current_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versions at {path}")
    snap = snapshot_of(path, v)
    if not snap:
        # A DELETE can empty every partition: the table is legitimately
        # zero-row, not unreadable. Synthesize the empty frame with the
        # schema of the most recent non-empty snapshot; a clone born from an
        # empty source has no such version and carries its schema in the
        # non-version ``_schema/`` dir instead (see clone_table).
        for pv in range(v - 1, -1, -1):
            if snapshot_of(path, pv):
                return read_table(spark, path, version=pv).limit(0)
        carrier = os.path.join(path, SCHEMA_CARRIER)
        if os.path.isdir(carrier):
            return spark.read.option("basePath", carrier).parquet(carrier).limit(0)
        raise FileNotFoundError(f"no data in any version at {path}")
    return _read_rels(spark, path, snap, set(snap))


def restore(path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION (Delta ``RESTORE``,
    reference maintenance surface extension): roll the LIVE table back to
    ``version``'s snapshot as a NEW commit -- pure manifest metadata, zero
    bytes copied (the old version dirs are immutable until VACUUM), and
    the rolled-back versions stay readable, so a bad restore is itself
    restorable. Returns the new version number."""
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versions at {path}")
    if _entry_for(path, version) is None and not os.path.isdir(
        _version_dir(path, version)
    ):
        # Without this, snapshot_of falls back to an EMPTY snapshot and the
        # bad restore would commit an unreadable table.
        raise ValueError(f"cannot restore {path} to nonexistent version {version}")
    target = snapshot_of(path, version)
    # A manifest entry can outlive its data (VACUUM removes version dirs,
    # not history): every directory the target snapshot references must
    # still exist, or the restore would commit an unreadable table.
    missing = [
        d
        for rel, sv in target.items()
        if not os.path.isdir(
            d := (os.path.join(_version_dir(path, sv), rel) if rel else _version_dir(path, sv))
        )
    ]
    if missing:
        raise ValueError(
            f"cannot restore {path} to version {version}: "
            f"{len(missing)} referenced dirs were vacuumed (e.g. {missing[0]})"
        )
    return _commit(
        path,
        cur + 1,
        "RESTORE",
        {
            "restoredVersion": version,
            "numReferencedPartitions": len(target),
            "numRewrittenPartitions": 0,
        },
        target,
    )


def _read_rels(
    spark: SparkSession, path: str, snap: dict[str, int], rels: set[str]
) -> DataFrame | None:
    """Scan only ``rels`` partitions of a snapshot; None when the snapshot
    holds none of them.

    One read per contributing version dir, each with its own ``basePath``
    (so partition columns materialize, and filters on them still prune
    because every listed path carries its partition values) and with the
    schema its writing commit recorded -- so an ``evolve_schema`` MERGE or
    a RESTORE reads every dir with the columns it was written with, and no
    footer is inferred. A version whose whole dir is wanted is read by its
    root."""
    by_ver: dict[int, list[str]] = {}
    for rel in rels:
        if rel in snap:
            by_ver.setdefault(snap[rel], []).append(rel)
    if not by_ver:
        return None
    entries = _entries(path)
    frames = []
    for sv, vrels in sorted(by_ver.items()):
        vdir = _version_dir(path, sv)
        entry = entries.get(sv, {})
        reader = spark.read.option("basePath", vdir)
        if "schema" in entry:
            reader = reader.schema(StructType.fromJson(json.loads(entry["schema"])))
        own = {rel for rel, v in entry.get("snapshot", {}).items() if int(v) == sv}
        if set(vrels) == own:
            paths = [vdir]
        else:
            paths = [os.path.join(vdir, rel) if rel else vdir for rel in sorted(vrels)]
        frames.append(reader.parquet(*paths))
    df = frames[0]
    for p in frames[1:]:
        # allowMissingColumns = schema evolution on read: a snapshot can mix
        # versions written before/after an added column (Delta reads such
        # tables the same way -- absent columns are NULL).
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change Data Feed emulation (Delta ``table_changes`` /
    ``readChangeFeed``): every row inserted or deleted in versions
    ``[from_version, to_version]`` (both inclusive, Delta CDF's
    semantics), tagged ``_change_type`` in {'insert','delete'} and
    ``_commit_version``. Updates surface as a delete+insert pair --
    exactly how Delta reconstructs changes for commits without per-row
    CDC files (add/remove file diffing).

    Scale shape: the snapshot diff identifies the partitions each commit
    touched (manifest metadata, no data read), and only THOSE partitions
    are scanned -- the analogue of Delta reading just the add/remove files
    of a commit. Row-level changes come from ``exceptAll`` (multiset
    semantics, so duplicate rows diff correctly), one shuffle per changed
    commit over changed partitions only. Snapshots that straddle a MERGE
    schema evolution are NULL-aligned before diffing, mirroring how
    ``read_table`` unions mixed-schema snapshots.
    """
    from pyspark.sql import functions as F

    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versions at {path}")
    to_v = cur if to_version is None else to_version
    if to_v > cur:
        raise ValueError(f"to_version {to_v} is beyond latest version {cur}")
    if from_version > to_v:
        # A silent empty feed here would read as "no changes" to a consumer
        # resuming from a stale bookmark -- fail loudly instead.
        raise ValueError(
            f"from_version {from_version} is beyond to_version {to_v}"
        )

    def _align(df: DataFrame, other: DataFrame) -> DataFrame:
        """Add ``other``'s missing columns as typed NULLs (schema evolution
        on read, same contract as read_table's allowMissingColumns)."""
        have = set(df.columns)
        for f in other.schema.fields:
            if f.name not in have:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    frames: list[DataFrame] = []
    for v in range(from_version, to_v + 1):
        snap_new = snapshot_of(path, v)
        snap_old = snapshot_of(path, v - 1) if v > 0 else {}
        changed = {
            rel
            for rel in set(snap_old) | set(snap_new)
            if snap_old.get(rel) != snap_new.get(rel)
        }
        if not changed:
            continue
        old_df = _read_rels(spark, path, snap_old, changed)
        new_df = _read_rels(spark, path, snap_new, changed)

        def _tag(df: DataFrame, kind: str) -> DataFrame:
            return df.withColumn("_change_type", F.lit(kind)).withColumn(
                "_commit_version", F.lit(v)
            )

        if old_df is None and new_df is not None:
            frames.append(_tag(new_df, "insert"))
        elif new_df is None and old_df is not None:
            frames.append(_tag(old_df, "delete"))
        elif old_df is not None and new_df is not None:
            old_a = _align(old_df, new_df)
            new_a = _align(new_df, old_df).select(*old_a.columns)
            frames.append(_tag(new_a.exceptAll(old_a), "insert"))
            frames.append(_tag(old_a.exceptAll(new_a), "delete"))
    if not frames:
        empty = read_table(spark, path, version=to_v).limit(0)
        return (
            empty.withColumn("_change_type", F.lit(None).cast("string"))
            .withColumn("_commit_version", F.lit(None).cast("int"))
        )
    df = frames[0]
    for p in frames[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def clone_table(src_path: str, dst_path: str) -> int:
    """CREATE TABLE CLONE: materialize the source's CURRENT snapshot as a
    brand-new self-contained table at ``dst_path`` without copying data --
    every parquet file is hard-linked (falling back to copy across
    filesystems). Delta's shallow clone gets zero-copy by referencing the
    source's files in its log; hard links give the same property while
    keeping the clone's metadata self-contained, so the two tables then
    version, MERGE, VACUUM, and RESTORE fully independently (and immutable
    version files make sharing the inodes safe).
    """
    src_cur = current_version(src_path)
    if src_cur is None:
        raise FileNotFoundError(f"no versions at {src_path}")
    if os.path.exists(_manifest_path(dst_path)):
        raise FileExistsError(f"{dst_path} is already a table")
    os.makedirs(dst_path, exist_ok=True)
    n_files = size = 0
    snap = snapshot_of(src_path, src_cur)
    src_empty = not snap
    if src_empty:
        # Cloning a fully-emptied table: its CURRENT snapshot references no
        # files, but the clone must still read back as a ZERO-ROW frame with
        # the source's schema (same contract read_table gives the source).
        # Link the most recent non-empty snapshot into the NON-version
        # ``_schema/`` dir -- read_table's empty-snapshot fallback reads it
        # limit(0) for the schema only, so v0 stays faithfully empty:
        # time travel to v0 returns zero rows, the manifest reports zero
        # files, and VACUUM (which touches only version dirs) leaves the
        # carrier alone.
        carrier = next(
            (pv for pv in range(src_cur - 1, -1, -1) if snapshot_of(src_path, pv)),
            None,
        )
        if carrier is None:
            raise ValueError(
                f"cannot clone {src_path}: no version ever held data, so the "
                "clone would have no schema to read back"
            )
        snap = snapshot_of(src_path, carrier)
        out = os.path.join(dst_path, SCHEMA_CARRIER)
    else:
        out = _version_dir(dst_path, 0)
    for rel, sv in snap.items():
        src_dir = os.path.join(_version_dir(src_path, sv), rel)
        dst_dir = os.path.join(out, rel)
        os.makedirs(dst_dir, exist_ok=True)
        for fn in os.listdir(src_dir):
            if not fn.endswith(".parquet"):
                continue
            s, d = os.path.join(src_dir, fn), os.path.join(dst_dir, fn)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)
            n_files += 1
            size += os.path.getsize(s)
    # The source entries' schema and stats carry over, so the clone reads
    # without footer inference and its health checks stay metadata-only.
    entries = _entries(src_path)
    schema = _recorded_schema(entries, snap.values())
    extra = {} if schema is None else {"schema": schema.json()}
    if not src_empty:
        extra["partitionStats"] = {
            rel: st for rel, st in _snapshot_stats(entries, snap).items() if st
        }
    _commit(
        dst_path,
        0,
        "CLONE",
        {
            "sourceTable": src_path,
            "sourceVersion": src_cur,
            # Metrics describe the cloned STATE: zero files for an
            # empty source (the schema carrier is not table data).
            "numFiles": 0 if src_empty else n_files,
            "sizeBytes": 0 if src_empty else size,
        },
        {} if src_empty else {rel: 0 for rel in snap},
        **extra,
    )
    return 0


class ExpectationError(ValueError):
    """Raised when a ``fail``-mode expectation is violated; carries the
    per-rule violation counts."""

    def __init__(self, violations: dict[str, int]):
        super().__init__(f"expectations violated: {violations}")
        self.violations = violations


def write_with_expectations(
    df: DataFrame,
    path: str,
    expectations: dict[str, str],
    on_violation: str = "fail",
    partition_cols: Sequence[str] = DEFAULT_PARTITION_COLS,
    **write_kwargs,
) -> tuple[int | None, dict[str, int]]:
    """Data-quality-gated write (Delta CHECK constraints / DLT
    expectations): each rule is a SQL boolean that every row must satisfy.

    Violation counts are measured with ``observe`` DURING the write job --
    no second scan at any scale. ``on_violation``:

    * ``"fail"``  -- constraint semantics: if any rule is violated the
      just-written version is rolled back (version dir removed, manifest
      entry popped -- the commit never becomes visible) and
      :class:`ExpectationError` raises.
    * ``"track"`` -- DLT-style monitoring: the write commits regardless and
      the counts are returned for the caller's quality dashboard.

    Returns ``(version, violations)``; version is None only on failure.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if on_violation not in ("fail", "track"):
        raise ValueError(f"on_violation must be fail|track, got {on_violation}")
    obs = Observation("expectations")
    observed = df.observe(
        obs,
        *[
            F.sum(F.when(~F.expr(rule), 1).otherwise(0)).alias(name)
            for name, rule in expectations.items()
        ],
    )
    version = write_partitioned(
        observed, path, partition_cols, operation="WRITE", **write_kwargs
    )
    violations = {k: int(v or 0) for k, v in obs.get.items()}
    if on_violation == "fail" and any(violations.values()):
        entries = [e for e in _read_manifest(path) if e["version"] != version]
        with open(_manifest_path(path), "w") as fh:
            for e in entries:
                fh.write(json.dumps(e) + "\n")
        shutil.rmtree(_version_dir(path, version), ignore_errors=True)
        raise ExpectationError({k: v for k, v in violations.items() if v})
    return version, violations


def history(spark: SparkSession, path: str) -> DataFrame:
    """Manifest as a DataFrame -- version/timestamp/operation/metrics ordered
    by version (M4, ``maintenance.py:87-91``).

    The rows are an inline ``VALUES`` LocalRelation (see
    ``_local_relation``), so collecting it runs no Spark job; a manifest
    with no entries gives zero rows of the same four columns."""
    entries = sorted(_read_manifest(path), key=lambda e: e["version"])
    return _local_relation(
        spark,
        [
            ("version", "int"),
            ("timestamp", "string"),
            ("operation", "string"),
            ("operationMetrics", "string"),
        ],
        [
            [
                e["version"],
                e["timestamp"],
                e["operation"],
                json.dumps(e.get("operationMetrics", {})),
            ]
            for e in entries
        ],
    )


def _partition_pred(keys: list[dict]):
    """``struct(<partition cols>) IN (<struct literals>)`` selecting the
    listed partition keys -- one flat expression however many keys (an
    OR chain of equalities overflows the analyzer's stack at a few hundred
    partitions), and it references only partition columns, so Catalyst
    still prunes non-matching partition dirs at planning."""
    from pyspark.sql import functions as F

    cols = list(keys[0])
    return F.struct(*cols).isin(
        [F.struct(*[F.lit(k[c]).alias(c) for c in cols]) for k in keys]
    )


def merge_into(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_cols: Sequence[str] = DEFAULT_PARTITION_COLS,
    evolve_schema: bool = False,
) -> int:
    """MERGE (upsert): rows in ``updates`` replace current rows with the
    same key; unmatched update rows are inserted. The Delta-class operation
    the reference's storage layer implies but never calls (its writes are
    full overwrites, ``stock_harvester.py:170-181``).

    Partition-pruned copy-on-write, the shape that survives 100 TB: only
    partitions actually containing update keys are rewritten --

        rewritten = updates ∪ (current ⋂ affected-partitions ⟕anti updates)

    -- and every untouched partition enters the new snapshot by manifest
    REFERENCE, zero bytes moved. The affected-partition list is
    partition-granular metadata (collected to the driver exactly like
    Delta reads its log); the kept-rows scan carries a static partition
    predicate so pruning happens at planning time, and the anti join's
    build side is just the update keys (broadcast when small). Requires
    ``updates`` to carry the partition columns; Delta's MERGE needs the
    same to prune.

    Matching is TABLE-WIDE, like Delta MERGE: the affected set is the
    partitions the updates land in PLUS any partition currently holding a
    matching key -- so an update that moves a key to a new partition value
    (a corrected trade_date) deletes the old row rather than leaving a
    duplicate behind. Finding those partitions costs one column-pruned
    scan of (keys, pcols) semi-joined to the update keys; when the caller
    KNOWS partition values are key-determined, that scan returns nothing
    new and AQE makes it cheap."""
    from pyspark.sql import functions as F

    current = read_table(spark, path)
    keys = list(key_cols)
    pcols = list(partition_cols)
    cur_v = current_version(path)
    upd_keys = updates.select(*keys).distinct()
    # Landing partitions (from the updates) and matching partitions (from
    # the current table, semi-joined to the update keys) are ONE unioned
    # collect: two separate jobs cost a full scheduler round-trip each for
    # a few metadata rows (round-10 optimization; measured ~0.5-1.0 s per
    # MERGE at local[32] -- at cluster scale one job also lists/plans the
    # table read once instead of twice).
    affected_rows = (
        updates.select(*pcols)
        .distinct()
        .unionByName(
            current.join(F.broadcast(upd_keys), keys, "left_semi")
            .select(*pcols)
            .distinct()
        )
        .distinct()
        .collect()
    )
    landing_matching = [r.asDict() for r in affected_rows]
    affected = {tuple(sorted(d.items())): d for d in landing_matching}
    affected = list(affected.values())
    if not affected:
        return cur_v
    pred = _partition_pred(affected)
    kept = current.filter(pred).join(upd_keys, keys, "left_anti")
    if evolve_schema:
        # Delta autoMerge semantics: updates may ADD columns; kept rows
        # (and, via read_table's allowMissingColumns union, every untouched
        # partition) surface NULL for them.
        merged = updates.unionByName(kept, allowMissingColumns=True)
    else:
        merged = updates.select(*current.columns).unionByName(kept)
    return write_partitioned(
        merged,
        path,
        pcols,
        operation="MERGE",
        base_snapshot=snapshot_of(path, cur_v),
        replaced=[_rel_dir(k) for k in affected],
        # One file per rewritten partition instead of (tasks x partitions)
        # -- the incremental MERGE trickle is the commit-amplified path
        # (guide §6 small-files; see write_partitioned).
        distribute_by_partition=True,
    )


def delete_where(
    spark: SparkSession,
    path: str,
    condition: str,
    partition_cols: Sequence[str] = DEFAULT_PARTITION_COLS,
) -> int:
    """DELETE: remove rows matching ``condition`` (Delta ``DELETE FROM``).

    A deterministic condition on partition columns only is answered from
    the manifest, as Delta answers it from its log: the condition is
    evaluated over the snapshot's partition keys (``_partition_keys``, a
    LocalRelation, so no Spark job) and the matching partitions drop out
    of the new snapshot. That commit reads no row, writes no file and
    creates no version dir; its ``operationMetrics`` give
    ``numRemovedPartitions``, ``numRemovedFiles`` and ``numDeletedRows``
    from the partitions' recorded stats (footers where none were
    recorded).

    Any other condition -- one that reads a data column (it fails to
    resolve against the keys) or is non-deterministic -- is a
    partition-pruned copy-on-write commit: only partitions that contain at
    least one matching row are rewritten (minus their matching rows; a
    partition emptied entirely just drops out of the snapshot); all other
    partitions carry over by reference. Either way a condition that
    matches nothing commits nothing and returns the current version."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    cur_v = current_version(path)
    entries = _entries(path)
    snap = snapshot_of(path, cur_v) if cur_v is not None else {}
    keys = _partition_keys(spark, entries, snap)
    matched = None
    if keys is not None:
        try:
            matched = keys.filter(condition)
        except AnalysisException:  # references a data column
            pass
    if matched is not None and matched._jdf.queryExecution().analyzed().condition().deterministic():
        dropped = {r[0]: snap[r[0]] for r in matched.select(_REL).collect()}
        if not dropped:
            return cur_v
        recorded = _snapshot_stats(entries, dropped)
        removed = _totals(
            {
                rel: recorded[rel]
                or _totals(_partition_stats(os.path.join(_version_dir(path, sv), rel)))
                for rel, sv in dropped.items()
            }
        )
        kept = {rel: v for rel, v in snap.items() if rel not in dropped}
        return _commit(
            path,
            cur_v + 1,
            "DELETE",
            {
                "numRemovedPartitions": len(dropped),
                "numRemovedFiles": removed["numFiles"],
                "numDeletedRows": removed["numRecords"],
                "numRewrittenPartitions": 0,
                "numReferencedPartitions": len(kept),
            },
            kept,
        )

    current = read_table(spark, path)
    pcols = list(partition_cols)
    cond = F.expr(condition)
    affected = [
        r.asDict()
        for r in current.filter(cond).select(*pcols).distinct().collect()
    ]
    if not affected:
        return cur_v
    pred = _partition_pred(affected)
    remaining = current.filter(pred).filter(~cond)
    return write_partitioned(
        remaining,
        path,
        pcols,
        operation="DELETE",
        base_snapshot=snap,
        replaced=[_rel_dir(k) for k in affected],
        distribute_by_partition=True,
    )


def register_external(
    spark: SparkSession, name: str, path: str, version: int | None = None
) -> str:
    """External-table DDL over a version directory (D1-D3,
    ``external_table.py:135-140``): DROP IF EXISTS, CREATE ... USING
    parquet PARTITIONED BY ... LOCATION, then one ALTER TABLE ... ADD
    PARTITION naming the snapshot's partitions. Columns and partitions
    both come from the manifest -- the recorded schema and the snapshot --
    so the catalog infers no footer and lists no directory (``MSCK REPAIR
    TABLE`` would run a partition-stats job, and register every dir under
    LOCATION, including ones the snapshot dropped). Dropping later removes
    only the catalog entry; data files are untouched (the external-table
    ownership semantics the reference documents, ``DESIGN.md:69-78``).
    Falls back to a temp view when catalog DDL is unavailable (D4,
    ``external_table.py:83-86``)."""
    v = current_version(path) if version is None else version
    snap = snapshot_of(path, v)
    homes = set(snap.values())
    if len(homes) != 1:
        # The snapshot spans version dirs (pruned MERGE since the last full
        # write) or is empty -- no single LOCATION holds it, so register
        # the view form (D4 fallback, ``external_table.py:83-86``).
        # OPTIMIZE collapses the snapshot back into one dir, re-enabling D3.
        read_table(spark, path, v).createOrReplaceTempView(name)
        return "view"
    home = homes.pop()
    schema = _recorded_schema(_entries(path), [home])
    if schema is None:  # a manifest from before schemas were recorded
        schema = read_table(spark, path, v).schema
    parts = [_parse_rel(rel) for rel in snap]
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    pcols = list(parts[0])
    parted = f" PARTITIONED BY ({', '.join(f'`{c}`' for c in pcols)})" if pcols else ""
    specs = " ".join(
        "PARTITION (" + ", ".join(f"`{c}` = {_sql_str(x)}" for c, x in p.items()) + ")"
        for p in parts
    )
    try:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet{parted} "
            f"LOCATION '{_version_dir(path, home)}'"
        )
        if pcols:
            spark.sql(f"ALTER TABLE {name} ADD {specs}")
        return "table"
    except Exception:
        read_table(spark, path, v).createOrReplaceTempView(name)
        return "view"


def analyze_table(
    spark: SparkSession, name: str, columns: Sequence[str] | None = None
) -> dict:
    """ANALYZE TABLE: record table (and optionally column) statistics in
    the catalog for cost-based optimization -- the optimizer-level
    analogue of the reference's ``DESCRIBE DETAIL`` file statistics (D5,
    ``maintenance.py:42-46``). With stats present (and CBO enabled in
    ``session.py``), Catalyst reorders multi-way joins and picks
    broadcast sides from real row counts rather than file-size guesses --
    at 100 TB the difference between a plan that broadcasts a filtered
    dimension and one that shuffles it.

    Returns the recorded statistics parsed back from DESCRIBE EXTENDED
    (``sizeInBytes``, ``rowCount``)."""
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
    stats_line = next(
        (
            r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            if r["col_name"] == "Statistics"
        ),
        "",
    )
    out: dict = {"raw": stats_line}
    for part in stats_line.split(","):
        part = part.strip()
        if part.endswith("bytes"):
            out["sizeInBytes"] = int(part.split()[0])
        elif part.endswith("rows"):
            out["rowCount"] = int(part.split()[0])
    return out


def remove_versions_before(path: str, keep_from: int) -> list[int]:
    """Delete version dirs below ``keep_from``; used by VACUUM (M2).

    A version dir is retained even below the cutoff while any RETAINED
    version's snapshot still references partitions inside it (the Delta
    VACUUM rule: eligibility is "unreferenced by the retained log", not
    age alone -- deleting by age would tear partitions out from under a
    pruned-merge snapshot)."""
    entries = _read_manifest(path)
    referenced: set[int] = set()
    for e in entries:
        v = e.get("version")
        if v is not None and v >= keep_from:
            referenced.update(snapshot_of(path, v).values())
    removed = []
    for e in entries:
        v = e.get("version")
        if v is not None and v < keep_from and v not in referenced:
            d = _version_dir(path, v)
            if os.path.exists(d):
                shutil.rmtree(d)
                removed.append(v)
    return removed
