"""Manifest-based versioned parquet table — the jar-free Delta twin.

Closes the last declared Delta-parity boundary *semantically*: the
reference stores Gold tables as Delta (silver_to_gold_on_minio.py:
127-144; delta-spark wired in mnt/spark-conf/spark-defaults.conf:16-18),
which buys four things plain parquet lacks — atomic commits, versioned
snapshot reads (time travel), RESTORE, and VACUUM. This module
re-expresses all four over plain parquet plus a JSON manifest log, the
same design Delta/Iceberg use underneath (an append-only metadata log
naming exactly which data files each version comprises).

Layout::

    <table>/
      _manifest/v00000000.json     one file per committed version
      data/<commit-id>/part-*.parquet
      _dv/dv-*.bin                 roaring-bitmap deletion-vector
                                   sidecars (large DVs; small ones
                                   stay inline in the manifest JSON)

Commit protocol (optimistic concurrency, Delta's model):

1. Write the new data files FIRST, into a fresh ``data/<commit-id>/``
   directory. Unreferenced files are invisible — no manifest names
   them, so no reader can observe a half-written commit.
2. Publish ``_manifest/v{n}.json`` atomically: serialize to a private
   temp file, fsync, then ``os.link(tmp, final)`` — link(2) fails with
   EEXIST when the target exists, so the publish is put-if-absent AND
   all-or-nothing (a crash or ENOSPC mid-serialization leaves only the
   invisible temp file — version n stays claimable, readers never see
   a truncated manifest). Exactly one writer wins version n; the loser
   gets :class:`ConcurrentCommitError` and retries against the new
   latest. (On a local/HDFS filesystem link IS put-if-absent; on S3
   the same protocol needs the conditional-PUT header or a
   commit-coordinator, which is precisely what delta-spark's LogStore
   abstraction provides — the protocol here is identical.)
3. A writer that crashes between 1 and 2 leaves only orphaned data
   files; readers never see them and :func:`vacuum_versioned` removes
   them once older than its retention window (younger unreferenced
   files might be a LIVE writer's step 1, so they are kept).

Readers (:func:`read_version`) list the manifest directory (metadata
only), pick version n (or the max), and scan exactly the files that
manifest names — snapshot isolation by construction.

File sharing — why this survives 100 TB: an *append* commit
re-references every file of the previous version plus the new ones
(zero rewrite — commit cost is proportional to the appended data, not
the table); *overwrite*/*merge* commits reference only the fresh
snapshot; *restore* is metadata-only (a new manifest re-pointing at an
old version's files). Multiple manifests referencing one physical file
is the Delta/Iceberg model, not copy-on-write of the table per commit.

Write amplification, by op: appends re-reference (zero rewrite);
MERGE on a partitioned table rewrites only the partitions its updates
touch (:func:`merge_versioned`); DELETE / UPDATE rewrite only the
files that CONTAIN matching rows (:func:`delete_versioned` /
:func:`update_versioned` — Delta's file-finding scan); OPTIMIZE takes
a ``partition_filter`` to compact just the hot partition; and
``delete_versioned(mode="dv")`` goes below file granularity with
deletion vectors — matched row positions recorded in the manifest,
ZERO data rewrite, applied at read time by a broadcast anti-join on
the hidden ``_metadata`` columns (with Delta's tombstone economics:
mostly-dead files get rewritten, not tombstoned, and an oversized DV
payload degrades to the rewrite path).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .upsert import merge_upsert_df

_MANIFEST_DIR = "_manifest"
_DATA_DIR = "data"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — reread latest and
    retry (the optimistic-concurrency loser path)."""


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR, f"v{version:08d}.json")


def list_versions(table: str) -> list[int]:
    """Committed version numbers, ascending. One directory listing."""
    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for nm in os.listdir(mdir):
        if nm.startswith("v") and nm.endswith(".json"):
            out.append(int(nm[1:-5]))
    return sorted(out)


def latest_version(table: str) -> int | None:
    vs = list_versions(table)
    return vs[-1] if vs else None


def read_manifest(table: str, version: int) -> dict:
    with open(_manifest_path(table, version)) as f:
        return json.load(f)


def _write_snapshot_files(
    df: DataFrame, table: str, partition_by: list[str] | None = None
) -> list[str]:
    """Write df into a fresh data/<commit-id>/ dir; return the data
    file paths RELATIVE to the table root (what manifests store, so
    the table directory is relocatable). With ``partition_by``, files
    land under Hive-style ``col=value`` subdirs (Delta's
    partitionValues-per-file, encoded in the path) so commits can
    re-reference untouched partitions' files without rewriting them."""
    commit_id = uuid.uuid4().hex[:12]
    rel_dir = os.path.join(_DATA_DIR, commit_id)
    out_dir = os.path.join(table, rel_dir)
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_dir)
    files = []
    for root, _dirs, names in os.walk(out_dir):
        rel_root = os.path.relpath(root, table)
        for nm in names:
            if nm.endswith(".parquet") and not nm.startswith(("_", ".")):
                files.append(os.path.join(rel_root, nm))
    return sorted(files)


def _file_partition_values(rel_path: str, partition_by: list[str]) -> tuple:
    """Partition values of one data file, decoded from its Hive-style
    path segments (``data/<cid>/col=val/.../part-*.parquet``) — the
    manifest-side half of partition pruning. Values come back as the
    RAW directory strings (``__HIVE_DEFAULT_PARTITION__`` for NULL),
    compared against :func:`_partition_dir_value` of the probe."""
    vals = {}
    for seg in rel_path.split(os.sep)[2:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            vals[k] = v
    return tuple(vals.get(c) for c in partition_by)


#: Characters Hive/Spark escape in partition directory values
#: (ExternalCatalogUtils.escapePathName): control chars plus the shell/
#: path metacharacters, each written as ``%XX`` uppercase hex.
_HIVE_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^\x7f') | frozenset(
    chr(i) for i in range(0x20)
)


def _escape_path_name(s: str) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPE_CHARS else c for c in s
    )


def _partition_dir_value(v) -> str:
    """How Spark's Hive-style writer encodes a partition VALUE as a
    directory string, for the scalar partition column types this table
    supports (validated at :func:`create_versioned`): ints and dates
    via ``str`` (ISO dates match the directory form), strings through
    Hive's ``escapePathName`` (``:`` → ``%3A`` etc. — verified against
    Spark's own writer output in tests/test_versioned.py), NULL and
    the empty string as ``__HIVE_DEFAULT_PARTITION__`` (Spark folds ""
    into the default partition)."""
    if v is None or v == "":
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, str):
        return _escape_path_name(v)
    return str(v)


def _check_partition_types(df: DataFrame, partition_by: list[str]) -> None:
    """Refuse partition column types whose directory encoding this
    module does not reproduce bit-exactly (floats, timestamps,
    booleans, decimals, binaries) — a silent encoding mismatch would
    classify a touched partition as untouched in merge_versioned and
    duplicate keys. Ints / strings / dates cover every partitioning
    the engine uses (and the reference's month partitions)."""
    from pyspark.sql.types import (
        ByteType,
        DateType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    allowed = (ByteType, ShortType, IntegerType, LongType, StringType, DateType)
    for c in partition_by:
        dt = df.schema[c].dataType
        if not isinstance(dt, allowed):
            raise TypeError(
                f"partition column {c!r} has type {dt.simpleString()}: "
                "versioned tables support int / string / date partition "
                "columns (other types' Hive directory encodings are not "
                "reproduced here — partition on a derived int/string/"
                "date column instead)"
            )


def _scan_files(
    spark: SparkSession,
    table: str,
    files: list[str],
    schema,
    partition_by: list[str] | None,
    dv: dict | None = None,
    with_metadata: bool = False,
    col_map: dict | None = None,
) -> DataFrame:
    """Scan an explicit manifest file list. Unpartitioned: one reader
    over all paths. Partitioned: partition VALUES live in the path, so
    each commit directory is read with its own ``basePath`` (partition
    columns recovered, cast through the manifest schema) and the
    per-commit scans union — the union width is bounded by commit
    count (metadata), never file count.

    ``dv`` is the manifest's deletion-vector map ({rel_path: [row
    indices]}): deleted positions are filtered out with ONE broadcast
    anti-join on ``(_metadata.file_path, _metadata.row_index)`` — the
    hidden file-source metadata columns, so the filter is pure
    Catalyst (no UDF) and files without DV entries pay nothing. The
    metadata columns are materialized INSIDE each file scan (as
    ``__file__`` / ``__idx__``) because ``_metadata`` only resolves
    directly on a file-source relation, never through the partitioned
    path's union. ``with_metadata=True`` keeps them in the output —
    the DML file-finding/tombstoning scans need the provenance.

    ``col_map`` (logical → physical, column-mapped tables only): the
    files are scanned through the PHYSICAL schema and the result
    renamed back to logical names, so files written before a column
    rename read correctly under the new name."""
    from pyspark.sql import functions as F

    if not files:
        # Empty snapshot (an empty batch committed — the degenerate
        # fixtures hit this): a typed empty relation, same posture as
        # read_version's empty branch.
        df = spark.createDataFrame([], schema)
        if with_metadata:
            df = df.withColumn("__file__", F.lit(None).cast("string")).withColumn(
                "__idx__", F.lit(None).cast("long")
            )
        return df
    present = set(files)
    dv = {
        f: _dv_entry_positions(table, e)
        for f, e in (dv or {}).items()
        if f in present and _dv_entry_count(e)
    }
    need_meta = with_metadata or bool(dv)
    scan_schema = schema
    if col_map and schema is not None:
        from pyspark.sql.types import StructField, StructType

        scan_schema = StructType(
            [
                StructField(
                    col_map.get(f.name, f.name), f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )

    def _tag(scan):
        if not need_meta:
            return scan
        return scan.select(
            "*",
            F.col("_metadata.file_path").alias("__file__"),
            F.col("_metadata.row_index").alias("__idx__"),
        )

    if not partition_by:
        reader = (
            spark.read.schema(scan_schema)
            if scan_schema is not None
            else spark.read
        )
        df = _tag(reader.parquet(*[os.path.join(table, f) for f in files]))
    else:
        from functools import reduce

        by_commit: dict[str, list[str]] = {}
        for f in files:
            parts = f.split(os.sep)
            by_commit.setdefault(os.sep.join(parts[:2]), []).append(f)
        scans = []
        for base_rel, group in sorted(by_commit.items()):
            reader = spark.read.option("basePath", os.path.join(table, base_rel))
            if scan_schema is not None:
                reader = reader.schema(scan_schema)
            scans.append(
                _tag(reader.parquet(*[os.path.join(table, f) for f in group]))
            )
        df = reduce(lambda a, b: a.unionByName(b), scans)
    if col_map and schema is not None:
        # Physical → logical rename (metadata columns ride along).
        df = df.select(
            *[
                F.col(col_map.get(f.name, f.name)).alias(f.name)
                for f in schema.fields
            ],
            *(["__file__", "__idx__"] if need_meta else []),
        )
    if dv:
        import pandas as pd

        pairs = pd.DataFrame(
            {
                "__dv_path__": pd.Series(
                    [
                        _file_uri(table, f)
                        for f, idxs in dv.items()
                        for _ in idxs
                    ],
                    dtype="object",
                ),
                "__dv_idx__": pd.Series(
                    [i for idxs in dv.values() for i in idxs], dtype="int64"
                ),
            }
        )
        dv_df = spark.createDataFrame(pairs)
        df = df.join(
            F.broadcast(dv_df),
            (F.col("__file__") == F.col("__dv_path__"))
            & (F.col("__idx__") == F.col("__dv_idx__")),
            "left_anti",
        )
    if need_meta and not with_metadata:
        df = df.drop("__file__", "__idx__")
    return df


#: Characters java.net.URI leaves raw in a path component (RFC 2396
#: unreserved marks plus the path-legal punctuation) — what Spark's
#: Path.toUri / input_file_name / _metadata.file_path encoding keeps.
_URI_SAFE = "/-_.!~*'()=+,:;@&$"


def _file_uri(table: str, rel_path: str) -> str:
    """The exact string ``_metadata.file_path`` yields for a data
    file — the join key between manifest DV entries (rel paths) and
    the scan's hidden metadata column. Spark URL-encodes the path
    (space → ``%20``, ``%`` → ``%25``; RFC 2396 path characters kept
    raw), so the join key must too — pinned against Spark's own
    output on a metacharacter-laden table path in
    tests/test_versioned.py."""
    from urllib.parse import quote

    return "file:" + quote(
        os.path.abspath(os.path.join(table, rel_path)), safe=_URI_SAFE
    )


def _rel_from_uri(table: str, uri: str) -> str:
    """Shared inverse of :func:`_file_uri` for BOTH of Spark's file-
    provenance spellings — ``input_file_name()`` returns
    ``file://<encoded>`` while ``_metadata.file_path`` returns
    ``file:<encoded>`` — URL-decoding before the relpath so table
    paths containing encodable characters map back to manifest
    rel-paths correctly."""
    from urllib.parse import unquote

    p = uri
    if p.startswith("file://"):
        p = p[7:]
    elif p.startswith("file:"):
        p = p[5:]
    return os.path.relpath(
        os.path.abspath(unquote(p)), os.path.abspath(table)
    )


# --------------------------------------------------------------------------
# Deletion-vector storage: inline positions for small vectors, roaring-
# bitmap sidecar files for large ones — Delta's dual encoding (its add
# action stores tiny DVs inline and larger ones as RoaringBitmapArray
# sidecar files referenced by path + size + checksum). The manifest
# entry is either a plain sorted position list (inline) or
# ``{"sidecar": "_dv/dv-….bin", "cardinality": n, "crc32": c}``.
# Sidecars keep the JSON log O(1) per DV regardless of tombstone count,
# which is what lets a scattered 0.1% delete of a billion-row table
# stay zero-rewrite instead of demoting to the rewrite path.
# --------------------------------------------------------------------------

#: Positions at or under this count stay inline in the manifest JSON;
#: larger vectors go to a sidecar file (when the DML call allows it).
DV_INLINE_MAX_ROWS = 1024

_DV_DIR = "_dv"

#: Roaring container switch-over: a 64Ki-position chunk with more than
#: this many values stores an 8 KiB bitmap instead of a u16 array
#: (4096 × 2 bytes == 8192 bytes — the classic roaring break-even).
_DV_ARRAY_MAX = 4096


def _dv_encode(positions) -> bytes:
    """Serialize sorted row positions as a roaring bitmap: chunked by
    ``pos >> 16``, each container either a sorted u16 array (sparse)
    or an 8 KiB bitmap (dense), whichever is smaller — the standard
    roaring layout (Chambi et al. 2016), written with numpy (no
    per-position Python loop)."""
    import struct

    import numpy as np

    arr = np.unique(np.asarray(list(positions), dtype=np.int64))
    if arr.size and arr[0] < 0:
        raise ValueError("deletion-vector positions must be non-negative")
    keys = arr >> 16
    lows = (arr & 0xFFFF).astype(np.uint16)
    buf = bytearray()
    n_containers = 0
    bounds = np.flatnonzero(np.diff(keys)) + 1
    for lo_i, hi_i in zip(np.r_[0, bounds], np.r_[bounds, arr.size]):
        lo_i, hi_i = int(lo_i), int(hi_i)
        if hi_i == lo_i:
            continue
        key = int(keys[lo_i])
        vals = lows[lo_i:hi_i]
        card = int(vals.size)
        if card <= _DV_ARRAY_MAX:
            buf += struct.pack("<qBI", key, 0, card) + vals.tobytes()
        else:
            bitmap = np.zeros(8192, dtype=np.uint8)
            np.bitwise_or.at(
                bitmap,
                vals >> 3,
                np.left_shift(1, (vals & 7).astype(np.int64)).astype(np.uint8),
            )
            buf += struct.pack("<qBI", key, 1, card) + bitmap.tobytes()
        n_containers += 1
    return b"RDV1" + struct.pack("<IQ", n_containers, arr.size) + bytes(buf)


def _dv_decode(data: bytes) -> list[int]:
    """Inverse of :func:`_dv_encode`; validates magic and the recorded
    total cardinality."""
    import struct

    import numpy as np

    if data[:4] != b"RDV1":
        raise ValueError("not a DV sidecar (bad magic)")
    n_containers, total = struct.unpack_from("<IQ", data, 4)
    off = 16
    chunks = []
    for _ in range(n_containers):
        key, kind, card = struct.unpack_from("<qBI", data, off)
        off += 13
        if kind == 0:
            vals = np.frombuffer(data, dtype=np.uint16, count=card, offset=off)
            off += 2 * card
        elif kind == 1:
            bitmap = np.frombuffer(data, dtype=np.uint8, count=8192, offset=off)
            off += 8192
            vals = np.flatnonzero(
                np.unpackbits(bitmap, bitorder="little")
            ).astype(np.uint16)
        else:
            raise ValueError(f"unknown DV container kind {kind}")
        chunks.append((key << 16) | vals.astype(np.int64))
    out = np.concatenate(chunks) if chunks else np.empty(0, dtype=np.int64)
    if out.size != total:
        raise ValueError(
            f"DV sidecar cardinality mismatch: header says {total}, "
            f"containers hold {out.size}"
        )
    return out.tolist()


def _dv_store_entry(
    table: str,
    positions,
    sidecar: bool = True,
    inline_max: int | None = None,
):
    """Persist one file's deletion vector: inline position list when
    small (or when ``sidecar=False`` — the caller is then responsible
    for capping, see ``dv_max_rows``), else a roaring-bitmap sidecar
    under ``<table>/_dv/`` referenced by (path, cardinality, crc32).
    The sidecar is written to a private temp name then os.replace'd
    BEFORE the manifest publish, so a manifest never references a
    half-written sidecar; a losing commit's orphaned sidecar is
    vacuum-cleanable like any orphaned data file."""
    import zlib

    if inline_max is None:
        inline_max = DV_INLINE_MAX_ROWS
    positions = sorted({int(p) for p in positions})
    if not sidecar or len(positions) <= inline_max:
        return positions
    payload = _dv_encode(positions)
    rel = os.path.join(_DV_DIR, f"dv-{uuid.uuid4().hex[:16]}.bin")
    path = os.path.join(table, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    return {
        "sidecar": rel,
        "cardinality": len(positions),
        "crc32": zlib.crc32(payload) & 0xFFFFFFFF,
    }


def _dv_entry_count(entry) -> int:
    """Tombstone count of a manifest DV entry (inline list or sidecar
    ref) WITHOUT reading any sidecar — the accounting the economics
    thresholds use."""
    if entry is None:
        return 0
    if isinstance(entry, dict):
        return int(entry["cardinality"])
    return len(entry)


def _dv_entry_positions(table: str, entry) -> list[int]:
    """Resolve a manifest DV entry to its sorted position list,
    verifying the sidecar checksum + cardinality on the way (a corrupt
    or truncated sidecar raises instead of silently un-deleting
    rows)."""
    if entry is None:
        return []
    if not isinstance(entry, dict):
        return list(entry)
    import zlib

    path = os.path.join(table, entry["sidecar"])
    with open(path, "rb") as f:
        data = f.read()
    if zlib.crc32(data) & 0xFFFFFFFF != entry["crc32"]:
        raise ValueError(
            f"DV sidecar {entry['sidecar']} failed its checksum — "
            "refusing to apply a corrupt deletion vector"
        )
    positions = _dv_decode(data)
    if len(positions) != entry["cardinality"]:
        raise ValueError(
            f"DV sidecar {entry['sidecar']} cardinality mismatch"
        )
    return positions


def _stats_jsonable(v):
    """Footer statistic → JSON-storable, ORDER-PRESERVING encoding:
    dates/timestamps to ISO strings (lexicographic == chronological),
    bytes decoded, numbers kept numeric. None = not encodable (the
    file is then never pruned on that column — safe).

    Timestamps are normalized to NAIVE UTC before isoformat: footer
    stats come back tz-aware (Spark writes TIMESTAMP_MICROS as
    UTC-adjusted) while probe bounds are typically naive datetimes —
    mixing the two encodings ('…T00:00:00+00:00' vs '…T00:00:00')
    breaks lexicographic comparison exactly at equal instants, so a
    file whose min equals the probe's inclusive upper bound would be
    unsoundly pruned. Applied identically to stats and probe values,
    one encoding for both sides."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v
    return None


def _collect_file_stats(table: str, files: list[str]) -> dict:
    """Per-file column min/max from the parquet FOOTERS (metadata-only
    driver reads, like Delta computing add-action stats at write):
    {rel_path: {col: [min, max]}}. Row-group stats aggregate per file;
    columns without usable stats are simply absent (never pruned).
    Parquet writers truncate long string bounds with VALID bounds
    (max's last byte incremented), so interval checks stay safe."""
    import pyarrow.parquet as pq

    out = {}
    for rel in files:
        per: dict[str, list] = {}
        meta = pq.ParquetFile(os.path.join(table, rel)).metadata
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                st = col.statistics
                name = col.path_in_schema
                if st is None or not st.has_min_max or "." in name:
                    continue
                mn, mx = _stats_jsonable(st.min), _stats_jsonable(st.max)
                if mn is None or mx is None:
                    continue
                if name in per:
                    per[name] = [min(per[name][0], mn), max(per[name][1], mx)]
                else:
                    per[name] = [mn, mx]
        out[rel] = per
    return out


def _commit_manifest(
    table: str,
    version: int,
    op: str,
    files: list[str],
    schema_json: str | None = None,
    extra: dict | None = None,
    dv: dict | None = None,
) -> dict:
    """Step 2 of the protocol: put-if-absent on v{n}.json. The
    manifest carries the snapshot SCHEMA (like Delta's metaData
    action) so an empty snapshot — zero data files — still reads back
    with its correct shape. ``extra`` fields (e.g. the streaming
    ``batch_id``) ride in the SAME atomic write — a manifest is never
    visible without them.

    ``dv`` (deletion vectors, {rel_path: [row indices]}): ``None``
    auto-carries the previous manifest's entries for every
    RE-REFERENCED file (rewritten/new files start DV-free — the right
    default for append/merge/optimize/update); pass an explicit dict
    to set them (delete's DV mode, restore)."""
    os.makedirs(os.path.join(table, _MANIFEST_DIR), exist_ok=True)
    # Per-file column min/max stats (Delta add-action stats): carried
    # forward for re-referenced files from the previous manifest, read
    # from parquet footers (metadata-only) for files new to the log —
    # what read_version_pruned skips files with.
    prev = {}
    if version > 0:
        try:
            prev = read_manifest(table, version - 1)
        except (FileNotFoundError, json.JSONDecodeError):
            prev = {}
    prev_stats = prev.get("stats") or {}
    stats = {f: prev_stats[f] for f in files if f in prev_stats}
    stats.update(
        _collect_file_stats(table, [f for f in files if f not in stats])
    )
    if dv is None:
        prev_dv = prev.get("dv") or {}
        dv = {f: prev_dv[f] for f in files if _dv_entry_count(prev_dv.get(f))}
    else:
        present = set(files)
        # Entries may be inline position lists (stored sorted) or
        # sidecar references (stored verbatim — the sidecar file
        # already exists, written before this publish).
        dv = {
            f: (e if isinstance(e, dict) else sorted(e))
            for f, e in dv.items()
            if f in present and _dv_entry_count(e)
        }
    manifest = {
        "version": version,
        "op": op,
        "files": files,
        "n_files": len(files),
        "schema": schema_json,
        "stats": stats,
        "ts": time.time(),
        **({"dv": dv} if dv else {}),
        **(extra or {}),
    }
    path = _manifest_path(table, version)
    # Atomic publish: serialize to a private temp file, fsync it, then
    # os.link(tmp, final) — link(2) fails with EEXIST if the target
    # exists, so it IS put-if-absent, and the published manifest is
    # always a complete, durable JSON document. A writer crash (or
    # ENOSPC) mid-serialization leaves only the invisible temp file:
    # version n stays claimable and readers never see a truncated
    # manifest. (open('x') + json.dump lacked this: a crash mid-dump
    # both wedged version n and crashed every reader.)
    tmp = f"{path}.{uuid.uuid4().hex[:12]}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version {version} of {table} was committed concurrently"
            ) from e
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    # The manifest is durably published above — the commit HAS
    # succeeded. The checkpoint is derived, recoverable metadata (the
    # next multiple-of-CHECKPOINT_EVERY commit rewrites it), so a
    # failed checkpoint write (ENOSPC, permissions) must not surface
    # as a commit failure: a retry-loop caller would re-apply the same
    # logical change as a brand-new version (e.g. a double-appended
    # batch).
    try:
        _maybe_write_checkpoint(table, version)
    except OSError as e:
        import warnings

        warnings.warn(
            f"manifest checkpoint write failed for {table} v{version} "
            f"({e}); readers fall back to a longer log-tail replay "
            "until the next checkpoint commit",
            RuntimeWarning,
            stacklevel=2,
        )
    return manifest


#: Write a manifest checkpoint every N commits (Delta's
#: checkpointInterval, default 10 there too).
CHECKPOINT_EVERY = 10


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR, f"checkpoint-v{version:08d}.json")


def latest_checkpoint(table: str) -> dict | None:
    """The newest manifest checkpoint, or None. One directory listing
    plus one JSON read — never O(commit count)."""
    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return None
    cks = sorted(
        nm for nm in os.listdir(mdir)
        if nm.startswith("checkpoint-v") and nm.endswith(".json")
    )
    if not cks:
        return None
    with open(os.path.join(mdir, cks[-1])) as f:
        return json.load(f)


def _history_entries(table: str) -> list[dict]:
    """(version, op, n_files, batch_id) for every COMMITTED version,
    ascending — reading the latest checkpoint plus only the manifests
    newer than it (Delta's checkpoint + log-tail replay), so the read
    cost is O(CHECKPOINT_EVERY), not O(commit count). Versions whose
    manifests were dropped by :func:`vacuum_versioned` retention are
    filtered out even when an old checkpoint still records them."""
    live = set(list_versions(table))
    ck = latest_checkpoint(table)
    entries: dict[int, dict] = {}
    ck_v = -1
    if ck is not None:
        ck_v = ck["version"]
        for e in ck["history"]:
            if e["version"] in live:
                entries[e["version"]] = e
    for v in sorted(live):
        if v > ck_v:
            m = read_manifest(table, v)
            entries[v] = {
                "version": v,
                "op": m["op"],
                "n_files": m["n_files"],
                "batch_id": m.get("batch_id"),
                "ts": m.get("ts"),
            }
    return [entries[v] for v in sorted(entries)]


def _maybe_write_checkpoint(table: str, version: int) -> None:
    """Every :data:`CHECKPOINT_EVERY` commits, aggregate the history
    into one checkpoint JSON. Derived, idempotent metadata: written to
    a temp file then os.replace'd (atomic; a concurrent duplicate
    write produces identical content), and losing it only degrades the
    next reader to a longer log-tail replay."""
    if version == 0 or version % CHECKPOINT_EVERY != 0:
        return
    ck = {"version": version, "history": _history_entries(table)}
    path = _checkpoint_path(table, version)
    tmp = f"{path}.{uuid.uuid4().hex[:12]}.tmp"
    with open(tmp, "w") as f:
        json.dump(ck, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _carried_props(prev: dict) -> dict:
    """Table properties every commit carries forward in its manifest:
    the partition layout, the CHECK constraints, and the column
    mapping (Delta's metaData / table-properties persistence)."""
    extra = {}
    if prev.get("partition_by"):
        extra["partition_by"] = prev["partition_by"]
    if prev.get("constraints"):
        extra["constraints"] = prev["constraints"]
    if prev.get("col_map"):
        extra["col_map"] = prev["col_map"]
    return extra


# --------------------------------------------------------------------------
# Column mapping (Delta's name-mode column mapping): the manifest's
# ``col_map`` is a list of {id, logical, physical} entries giving every
# column a stable field ID and a PHYSICAL name (what parquet files
# store) decoupled from its LOGICAL name (what readers see). Rename =
# one metadata-only commit flipping the logical name; drop = one
# metadata-only commit removing the entry (the physical bytes stay,
# unreadable); old files remain readable under the new names because
# every read maps physical → logical through the manifest. Tables
# without a ``col_map`` behave exactly as before (logical == physical).
# --------------------------------------------------------------------------


def _col_mapping(m: dict) -> dict | None:
    """logical → physical name map from a manifest, or None when the
    table has no column mapping (the common case — zero overhead)."""
    cm = m.get("col_map")
    if not cm:
        return None
    return {e["logical"]: e["physical"] for e in cm}


def _to_physical(df: DataFrame, mapping: dict | None) -> DataFrame:
    """Rename a logical-schema batch to physical column names before
    writing data files — all files of a column-mapped table uniformly
    store physical names, whatever renames happened between their
    commits."""
    if not mapping:
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _extend_col_map(prev: dict, schema_json: str | None):
    """The col_map for a commit whose (merged) schema may introduce
    NEW columns: existing entries keep their IDs; new columns get the
    next IDs with a physical name of ``c{id}_{name}`` — NEVER the bare
    logical name, so a column dropped and later re-added under the
    same name cannot resurrect the dropped column's bytes from old
    files (Delta's field-ID guarantee). Returns None when the table
    has no column mapping."""
    cm = prev.get("col_map")
    if not cm or not schema_json:
        return cm
    from pyspark.sql.types import StructType

    known = {e["logical"] for e in cm}
    next_id = max(e["id"] for e in cm) + 1
    out = list(cm)
    for f in StructType.fromJson(json.loads(schema_json)).fields:
        if f.name not in known:
            out.append(
                {
                    "id": next_id,
                    "logical": f.name,
                    "physical": f"c{next_id}_{f.name}",
                }
            )
            next_id += 1
    return out


def create_versioned(
    df: DataFrame, table: str, partition_by: list[str] | None = None
) -> dict:
    """Commit version 0 (or a full overwrite as the next version).
    ``partition_by`` declares the table's partition columns (recorded
    in the manifest, carried by every later commit): data files land
    under Hive-style ``col=value`` dirs, which is what lets
    :func:`merge_versioned` rewrite only touched partitions.

    An overwrite on an EXISTING table keeps its CHECK constraints AND
    its partition layout (both table properties, Delta semantics —
    partition columns are table metadata, not per-write options):
    ``partition_by=None`` inherits the table's layout; pass an
    explicit list (``[]`` to un-partition) to change it. The fresh
    snapshot is validated against the constraints before publishing."""
    prev_v = latest_version(table)
    if prev_v is not None and partition_by is None:
        partition_by = read_manifest(table, prev_v).get("partition_by")
    if partition_by:
        _check_partition_types(df, partition_by)
    extra = {"partition_by": partition_by} if partition_by else {}
    if prev_v is not None:
        prev = read_manifest(table, prev_v)
        if prev.get("constraints"):
            _validate_constraints(df, prev["constraints"])
            extra["constraints"] = prev["constraints"]
    next_v = prev_v + 1 if prev_v is not None else 0
    files = _write_snapshot_files(df, table, partition_by)
    return _commit_manifest(
        table, next_v, "overwrite", files, df.schema.json(), extra or None
    )


def _merged_schema_json(prev_json: str | None, df: DataFrame) -> str:
    """Additive schema evolution (Delta ``mergeSchema`` on append):
    the committed table schema is the previous schema plus any NEW
    columns the batch introduces, in arrival order. A same-name column
    with a different type raises — silent coercion is how evolving
    tables rot."""
    if not prev_json:
        return df.schema.json()
    from pyspark.sql.types import StructType

    prev = StructType.fromJson(json.loads(prev_json))
    by_name = {f.name: f for f in prev.fields}
    merged = list(prev.fields)
    for f in df.schema.fields:
        old = by_name.get(f.name)
        if old is None:
            merged.append(f)
        elif old.dataType != f.dataType:
            raise TypeError(
                f"append changes column {f.name!r} from "
                f"{old.dataType.simpleString()} to "
                f"{f.dataType.simpleString()} — rewrite (overwrite/"
                "merge) for type changes"
            )
    return StructType(merged).json()


def append_versioned(df: DataFrame, table: str) -> dict:
    """Append commit: new manifest = previous files + the fresh ones.

    Zero rewrite — the previous version's physical files are
    re-referenced, so commit cost scales with the appended batch, not
    the table. This is the property that makes incremental loads on a
    100 TB table affordable.

    Additive schema evolution is allowed (new columns union into the
    committed schema, :func:`_merged_schema_json`); readers apply the
    manifest schema to every file, so pre-evolution files yield NULL
    for the new columns — Delta's mergeSchema-append contract.
    """
    prev_v = latest_version(table)
    if prev_v is None:
        return create_versioned(df, table)
    prev = read_manifest(table, prev_v)
    _validate_constraints(df, prev.get("constraints") or {})
    schema_json = _merged_schema_json(prev.get("schema"), df)
    cm = _extend_col_map(prev, schema_json)
    new_files = _write_snapshot_files(
        _to_physical(df, _col_mapping({"col_map": cm})),
        table,
        prev.get("partition_by"),
    )
    extra = _carried_props(prev)
    if cm:
        extra["col_map"] = cm
    return _commit_manifest(
        table,
        prev_v + 1,
        "append",
        prev["files"] + new_files,
        schema_json,
        extra or None,
    )


def _commit_changed_files(prev_m: dict | None, cur_m: dict) -> set[str]:
    """The files a commit touched relative to its predecessor: added,
    removed, or re-tombstoned (a deletion-vector change on a
    carried-over file is a row-level change to that file)."""
    prev_files = set(prev_m["files"]) if prev_m else set()
    cur_files = set(cur_m["files"])
    changed = prev_files ^ cur_files
    prev_dv = (prev_m or {}).get("dv") or {}
    cur_dv = cur_m.get("dv") or {}
    for f in prev_files & cur_files:
        if (prev_dv.get(f) or []) != (cur_dv.get(f) or []):
            changed.add(f)
    return changed


def _commit_or_rebase(
    table: str,
    base: dict,
    op: str,
    replaced_files: list[str],
    new_files: list[str],
    schema_json: str | None,
    extra: dict | None,
    touched_parts: set,
    pby: list[str],
) -> dict:
    """Publish a partition-scoped DML commit (``new_files`` replacing
    ``replaced_files`` on top of the ``base`` manifest), REBASING over
    concurrent winners instead of re-executing when they are provably
    disjoint — Delta's conflict checker distinguishing a safe rebase
    from a serialization failure:

    - every intervening commit's changed files (added / removed /
      DV-changed, :func:`_commit_changed_files`) must live in
      partitions DISJOINT from this DML's ``touched_parts``, and it
      must not alter table metadata (schema / constraints / layout);
    - if so, the loser's already-written files are re-pointed onto the
      winner's manifest (untouched partitions now come from the
      winner, which may include its appends) and the commit retries —
      the expensive DML computation is NOT re-run, because on disjoint
      partitions both orders produce the same table (serializable);
    - any overlap or metadata change raises
      :class:`ConcurrentCommitError`, and :func:`commit_with_retry`
      callers re-execute against the new snapshot (current, always-
      correct behavior).

    Deletion vectors on files the winner carried are inherited from
    the winner via :func:`_commit_manifest`'s auto-carry (the rebase
    must not clobber a concurrent DV change on an untouched
    partition), so this path is only used by commits whose own DV map
    equals the auto-carry (rewrite-mode DML)."""
    prev = base
    replaced = set(replaced_files)
    while True:
        files = [f for f in prev["files"] if f not in replaced] + new_files
        try:
            return _commit_manifest(
                table, prev["version"] + 1, op, files, schema_json, extra
            )
        except ConcurrentCommitError:
            latest_v = latest_version(table)
            step = prev
            for v in range(prev["version"] + 1, latest_v + 1):
                m = read_manifest(table, v)
                if (
                    m.get("schema") != base.get("schema")
                    or (m.get("constraints") or {})
                    != (base.get("constraints") or {})
                    or m.get("partition_by") != pby
                ):
                    raise  # metadata changed concurrently: re-execute
                changed = _commit_changed_files(step, m)
                if {
                    _file_partition_values(f, pby) for f in changed
                } & touched_parts:
                    raise  # same-partition conflict: re-execute
                step = m
            prev = step  # all winners disjoint — rebase and retry


def merge_versioned(
    spark: SparkSession,
    updates: DataFrame,
    table: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> dict:
    """MERGE commit — Delta's whenMatchedUpdateAll/whenNotMatchedInsertAll
    over the manifest log (reference semantics: S2G:127-144, including
    the create-if-absent branch at S2G:132).

    **Unpartitioned table**: reads the current snapshot, applies
    :func:`merge_upsert_df` (updates ∪ target⟕anti updates — one
    key-shuffled anti-join), and writes the result as a NEW snapshot
    directory. Full-snapshot write amplification — fine for dimension
    tables, wrong for a 100 TB fact table with selective updates.

    **Partitioned table** (created with ``partition_by``, or pass it
    here): Delta's file-pruned MERGE — the reference merges
    month-partitioned fact tables (silver_to_gold_on_minio.py:195-223)
    and this is the path that keeps those affordable. The distinct
    partition tuples present in ``updates`` (one tiny distinct —
    bounded by partitions touched, not rows) select which partitions
    are rewritten; every other partition's physical files are
    RE-REFERENCED unchanged in the new manifest, so merge cost scales
    with the touched partitions, never the table.

    Contract (same as Delta's partition-pruned merge with a partition
    predicate): a matched key must live in the partition its update
    names — i.e. partition columns are stable under the key
    (functionally determined by it, e.g. month-of-order-date keyed by
    order id). A key whose existing row sits in an UNtouched partition
    would not be matched there and would be inserted again.

    Either way the plan reads old files and writes different files, so
    no checkpoint / staging is needed: the old version stays intact
    (that is what time travel reads) and the commit is the manifest
    put-if-absent.
    """
    prev_v = latest_version(table)
    if prev_v is None:
        return create_versioned(updates, table, partition_by)
    prev = read_manifest(table, prev_v)
    # Old rows satisfied the constraints at their own commits; the
    # only fresh data a merge writes comes from the updates batch.
    _validate_constraints(updates, prev.get("constraints") or {})
    pby = partition_by or prev.get("partition_by")
    schema = None
    if prev.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(prev["schema"]))
    if not pby:
        target = read_version(spark, table, prev_v)
        merged = merge_upsert_df(target, updates, keys)
        cm = _extend_col_map(prev, merged.schema.json())
        files = _write_snapshot_files(
            _to_physical(merged, _col_mapping({"col_map": cm})), table
        )
        extra = _carried_props(prev)
        if cm:
            extra["col_map"] = cm
        return _commit_manifest(
            table,
            prev_v + 1,
            "merge",
            files,
            merged.schema.json(),
            extra or None,
        )
    # Partition-scoped path: split the previous manifest's files into
    # touched (their partition tuple appears in updates) vs untouched.
    _check_partition_types(updates, pby)
    touched = {
        tuple(_partition_dir_value(r[c]) for c in pby)
        for r in updates.select(*pby).distinct().collect()
    }
    touched_files, untouched_files = [], []
    for f in prev["files"]:
        (touched_files if _file_partition_values(f, pby) in touched
         else untouched_files).append(f)
    target = (
        _scan_files(spark, table, touched_files, schema, pby, prev.get("dv"),
                    col_map=_col_mapping(prev))
        if touched_files
        else spark.createDataFrame([], schema or updates.schema)
    )
    merged = merge_upsert_df(target, updates, keys)
    cm = _extend_col_map(prev, merged.schema.json())
    new_files = _write_snapshot_files(
        _to_physical(merged, _col_mapping({"col_map": cm})), table, pby
    )
    extra = {**_carried_props(prev), "partition_by": pby}
    if cm:
        extra["col_map"] = cm
    # Publish with conflict REBASE: a concurrent commit on disjoint
    # partitions re-points this merge's files onto the winner's
    # manifest instead of re-running the merge (Delta's conflict
    # checker); overlapping commits raise for re-execution.
    return _commit_or_rebase(
        table,
        prev,
        "merge",
        touched_files,
        new_files,
        merged.schema.json(),
        extra,
        touched,
        pby,
    )


def _touched_rel_files(
    spark: SparkSession, table: str, m: dict, predicate_sql: str
) -> list[str]:
    """Which of manifest ``m``'s files contain at least one row
    matching ``predicate_sql`` — Delta's DML file-finding scan: one
    distributed pass over the snapshot tagged with
    ``input_file_name()``, aggregated to the distinct matching file
    set (bounded by file count — metadata-sized, never rows). The
    predicate is pushed into the scan, so with a clustered layout
    (optimize_versioned sort/zorder) parquet row-group stats already
    skip most files' rows before the aggregate."""
    from pyspark.sql import functions as F

    schema = None
    if m.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(m["schema"]))
    df = _scan_files(
        spark, table, m["files"], schema, m.get("partition_by"), m.get("dv"),
        col_map=_col_mapping(m),
    )
    uris = [
        r.f
        for r in df.filter(F.expr(predicate_sql))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    return sorted(_rel_from_uri(table, u) for u in uris)


def delete_versioned(
    spark: SparkSession,
    table: str,
    predicate_sql: str,
    mode: str = "rewrite",
    dv_rewrite_threshold: float = 0.10,
    dv_max_rows: int = 1_000_000,
    dv_sidecar: bool = True,
    dv_inline_max: int | None = None,
) -> dict | None:
    """Delta ``DELETE FROM table WHERE predicate`` over the manifest
    log, file-pruned exactly like Delta's: one scan finds the files
    that CONTAIN matching rows (:func:`_touched_rel_files`); only
    those are rewritten (keeping their non-matching rows) and every
    other file is re-referenced unchanged — delete cost scales with
    the files the predicate touches, never the table. On a clustered
    layout (optimize sort/zorder on the predicate column) a selective
    delete rewrites a handful of files out of a 100 TB snapshot.

    ``mode="dv"`` is Delta's deletion-vector DELETE — sub-file
    granularity, ZERO data rewrite: the matching rows' file positions
    (``_metadata.row_index``) are recorded in the manifest's ``dv``
    map and every read anti-joins them out (:func:`_scan_files`).
    Two self-tuning guards mirror Delta's tombstone economics:

    - a file whose LIVE-row deleted fraction exceeds
      ``dv_rewrite_threshold`` is rewritten instead (a mostly-dead
      file should be compacted, not tombstoned — reads pay the DV
      anti-join forever, a rewrite pays once);
    - vectors over :data:`DV_INLINE_MAX_ROWS` positions
      (``dv_inline_max`` overrides the threshold) are written
      as roaring-bitmap SIDECAR files under ``<table>/_dv/``
      (referenced from the manifest by path + cardinality + crc32 —
      Delta's dual inline/sidecar encoding), so the JSON log stays
      O(1) per file however many rows die and a scattered delete of
      millions of rows remains zero-rewrite;
    - with ``dv_sidecar=False`` every vector must stay inline, so the
      ``dv_max_rows`` cap applies: counting BOTH this commit's new
      tombstones and the positions carried from previous versions,
      the largest contributors are demoted to rewrite until the cap
      holds — a huge delete then degrades to the rewrite path instead
      of bloating the log.

    OPTIMIZE rewrites drop DV entries naturally (rewritten files are
    fresh); appends/merges carry them for re-referenced files
    (:func:`_commit_manifest` auto-carry).

    Returns the new manifest, or ``None`` when no row matches (no-op,
    no version committed — Delta's empty-DML behavior). Prior
    versions keep reading the original files (time travel across the
    delete works; VACUUM retires them later)."""
    from pyspark.sql import functions as F

    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")
    prev_v = latest_version(table)
    if prev_v is None:
        raise FileNotFoundError(f"{table} has no committed versions")
    prev = read_manifest(table, prev_v)
    touched = _touched_rel_files(spark, table, prev, predicate_sql)
    if not touched:
        return None
    touched_set = set(touched)
    untouched = [f for f in prev["files"] if f not in touched_set]
    schema = None
    if prev.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(prev["schema"]))
    pby = prev.get("partition_by")
    prev_dv = prev.get("dv") or {}
    rewrite_files = touched
    dv_out: dict[str, list[int]] = {}
    if mode == "dv":
        import pyarrow.parquet as pq

        # Matched-row count per touched file (one aggregate, result
        # bounded by file count) sizes the per-file DV-vs-rewrite call.
        counts = {
            _rel_from_uri(table, r.f): r.n
            for r in _scan_files(
                spark, table, touched, schema, pby, prev_dv,
                with_metadata=True, col_map=_col_mapping(prev),
            )
            .filter(F.expr(predicate_sql))
            .groupBy(F.col("__file__").alias("f"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        dv_files, rewrite_files = [], []
        for f in touched:
            total = pq.ParquetFile(os.path.join(table, f)).metadata.num_rows
            live = total - _dv_entry_count(prev_dv.get(f))
            n = counts.get(f, 0)
            (rewrite_files if live and n / live > dv_rewrite_threshold
             else dv_files).append(f)
        if not dv_sidecar:
            # Inline-only storage: cap the manifest's JSON DV payload.
            # A file's inline entry holds its new tombstones PLUS the
            # positions carried from previous versions (they merge
            # into one list), so both count toward the cap — else
            # repeated small deletes would accumulate payload past it.
            def _payload(f):
                return counts.get(f, 0) + _dv_entry_count(prev_dv.get(f))

            while dv_files and sum(map(_payload, dv_files)) > dv_max_rows:
                worst = max(dv_files, key=_payload)
                dv_files.remove(worst)
                rewrite_files.append(worst)
        if dv_files:
            hits = (
                _scan_files(
                    spark, table, dv_files, schema, pby, prev_dv,
                    with_metadata=True, col_map=_col_mapping(prev),
                )
                .filter(F.expr(predicate_sql))
                .select(
                    F.col("__file__").alias("f"),
                    F.col("__idx__").alias("i"),
                )
                .collect()
            )
            for r in hits:
                dv_out.setdefault(_rel_from_uri(table, r.f), []).append(r.i)
    new_files: list[str] = []
    if rewrite_files:
        kept = _scan_files(
            spark, table, rewrite_files, schema, pby, prev_dv,
            col_map=_col_mapping(prev),
        ).filter(~F.coalesce(F.expr(predicate_sql), F.lit(False)))
        new_files = _write_snapshot_files(
            _to_physical(kept, _col_mapping(prev)), table, pby
        )
    dropped = set(rewrite_files)
    # Re-referenced files keep their previous manifest order (pure-DV
    # deletes leave the file list byte-identical).
    final_files = [f for f in prev["files"] if f not in dropped] + new_files
    # Explicit DV map: carried entries (inline or sidecar refs,
    # verbatim) for every re-referenced file; files gaining fresh
    # tombstones get them unioned with any existing positions and
    # re-stored (inline or a new sidecar, by size).
    dv_final = {
        f: prev_dv[f]
        for f in final_files
        if _dv_entry_count(prev_dv.get(f))
    }
    for f, idxs in dv_out.items():
        merged = set(_dv_entry_positions(table, dv_final.get(f))) | set(idxs)
        dv_final[f] = _dv_store_entry(
            table, merged, sidecar=dv_sidecar, inline_max=dv_inline_max
        )
    if mode == "rewrite" and pby:
        # Partitioned rewrite-mode DELETE: publish with conflict
        # rebase (its DV map is exactly the auto-carry, the
        # _commit_or_rebase precondition — no fresh tombstones).
        return _commit_or_rebase(
            table,
            prev,
            "delete",
            rewrite_files,
            new_files,
            prev.get("schema"),
            _carried_props(prev) or None,
            {_file_partition_values(f, pby) for f in rewrite_files},
            pby,
        )
    return _commit_manifest(
        table,
        prev_v + 1,
        "delete" if mode == "rewrite" else "delete_dv",
        final_files,
        prev.get("schema"),
        _carried_props(prev) or None,
        dv=dv_final,
    )


def update_versioned(
    spark: SparkSession,
    table: str,
    predicate_sql: str,
    assignments: dict[str, str],
    mode: str = "rewrite",
    dv_rewrite_threshold: float = 0.10,
    dv_max_rows: int = 1_000_000,
    dv_sidecar: bool = True,
    dv_inline_max: int | None = None,
) -> dict | None:
    """Delta ``UPDATE table SET col = expr, ... WHERE predicate`` over
    the manifest log — the same file-pruned rewrite as
    :func:`delete_versioned`: only files containing matching rows are
    rewritten (matching rows get the ``assignments`` applied — SQL
    expressions that may reference any column; non-matching rows in
    those files are copied through unchanged), every other file is
    re-referenced. Assignment expressions are CAST to the column's
    existing type (ANSI store-assignment: the table schema never
    drifts through an UPDATE; an unrepresentable value raises under
    ANSI mode instead of silently corrupting). The updated rows are
    validated against the table's CHECK constraints before the commit
    publishes. Returns the new manifest, or ``None`` when no row
    matches.

    ``mode="dv"`` is Delta's deletion-vector UPDATE: the matched
    rows' positions are TOMBSTONED (manifest ``dv`` map) and the
    updated rows are APPENDED as fresh files — write cost
    O(matched rows), not O(touched files); every previous file is
    re-referenced unchanged. All-or-nothing economics: if any touched
    file's live-row matched fraction exceeds ``dv_rewrite_threshold``,
    the whole UPDATE falls back to the rewrite path (same result,
    different physical plan — pinned equivalent in
    tests/test_versioned.py). Large vectors are stored as
    roaring-bitmap sidecar files (see :func:`delete_versioned`);
    with ``dv_sidecar=False`` everything must stay inline, so
    exceeding ``dv_max_rows`` total matched + carried rows also
    triggers the rewrite fallback."""
    from pyspark.sql import functions as F

    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")
    prev_v = latest_version(table)
    if prev_v is None:
        raise FileNotFoundError(f"{table} has no committed versions")
    prev = read_manifest(table, prev_v)
    touched = _touched_rel_files(spark, table, prev, predicate_sql)
    if not touched:
        return None
    touched_set = set(touched)
    untouched = [f for f in prev["files"] if f not in touched_set]
    schema = None
    if prev.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(prev["schema"]))
    pby = prev.get("partition_by")
    prev_dv = prev.get("dv") or {}
    base = _scan_files(spark, table, touched, schema, pby, prev_dv,
                       col_map=_col_mapping(prev))
    bad = set(assignments) - set(base.columns)
    if bad:
        raise ValueError(f"assignments target unknown columns: {sorted(bad)}")
    match = F.coalesce(F.expr(predicate_sql), F.lit(False))
    set_cols = {
        c: F.expr(e).cast(base.schema[c].dataType)
        for c, e in assignments.items()
    }
    if mode == "dv":
        import pyarrow.parquet as pq

        def _rel(uri):
            return _rel_from_uri(table, uri)

        tagged = _scan_files(
            spark, table, touched, schema, pby, prev_dv, with_metadata=True,
            col_map=_col_mapping(prev),
        )
        counts = {
            _rel(r.f): r.n
            for r in tagged.filter(match)
            .groupBy(F.col("__file__").alias("f"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        ok = dv_sidecar or (
            sum(
                n + _dv_entry_count(prev_dv.get(f))
                for f, n in counts.items()
            )
            <= dv_max_rows
        )
        for f, n in counts.items() if ok else ():
            total = pq.ParquetFile(os.path.join(table, f)).metadata.num_rows
            live = total - _dv_entry_count(prev_dv.get(f))
            if live and n / live > dv_rewrite_threshold:
                ok = False
                break
        if ok:
            matched = tagged.filter(match)
            hits = matched.select(
                F.col("__file__").alias("f"),
                F.col("__idx__").alias("i"),
            ).collect()
            updated = matched.withColumns(set_cols).drop("__file__", "__idx__")
            _validate_constraints(updated, prev.get("constraints") or {})
            new_files = _write_snapshot_files(
                _to_physical(updated, _col_mapping(prev)), table, pby
            )
            dv_final = {
                f: prev_dv[f]
                for f in prev["files"]
                if _dv_entry_count(prev_dv.get(f))
            }
            new_tombs: dict[str, set[int]] = {}
            for r in hits:
                new_tombs.setdefault(_rel(r.f), set()).add(r.i)
            for f, idxs in new_tombs.items():
                merged = set(
                    _dv_entry_positions(table, dv_final.get(f))
                ) | idxs
                dv_final[f] = _dv_store_entry(
                    table, merged, sidecar=dv_sidecar,
                    inline_max=dv_inline_max,
                )
            return _commit_manifest(
                table,
                prev_v + 1,
                "update_dv",
                prev["files"] + new_files,
                prev.get("schema"),
                _carried_props(prev) or None,
                dv=dv_final,
            )
        # else: fall through to the rewrite path (same result).
    rewritten = base.withColumns(
        {c: F.when(match, e).otherwise(F.col(c)) for c, e in set_cols.items()}
    )
    _validate_constraints(rewritten, prev.get("constraints") or {})
    new_files = _write_snapshot_files(
        _to_physical(rewritten, _col_mapping(prev)), table, pby
    )
    return _commit_manifest(
        table,
        prev_v + 1,
        "update",
        untouched + new_files,
        prev.get("schema"),
        _carried_props(prev) or None,
    )


def restore_versioned(table: str, version: int) -> dict:
    """Delta RESTORE: commit a NEW version whose file list is an old
    version's — metadata-only (no data read or written), and the
    intervening history remains readable. The restored files' layout
    (partition_by) comes from the OLD manifest; CHECK constraints are
    a table property and carry from the CURRENT latest — and, matching
    Delta, the restored data is NOT re-validated against constraints
    added after it was written. Deletion vectors restore WITH their
    version (explicit, not the auto-carry — the old snapshot's row
    visibility is part of what RESTORE restores)."""
    old = read_manifest(table, version)
    latest = read_manifest(table, latest_version(table))
    extra = {}
    if old.get("partition_by"):
        extra["partition_by"] = old["partition_by"]
    if old.get("col_map"):
        # Column mapping restores WITH its version: the old snapshot's
        # logical names are part of the state RESTORE restores.
        extra["col_map"] = old["col_map"]
    if latest.get("constraints"):
        extra["constraints"] = latest["constraints"]
    next_v = latest["version"] + 1
    return _commit_manifest(
        table,
        next_v,
        f"restore({version})",
        old["files"],
        old.get("schema"),
        extra or None,
        dv=old.get("dv") or {},
    )


def version_at_timestamp(table: str, ts) -> int:
    """``TIMESTAMP AS OF`` resolution — the latest committed version
    whose manifest ``ts`` is at or before ``ts`` (Delta's
    timestamp-to-version rule: each version covers the half-open time
    interval from its commit until the next). ``ts`` is an epoch float
    or a (naive-UTC or tz-aware) datetime. A timestamp BEFORE the
    first commit raises ``ValueError``, exactly Delta's posture (there
    is no table state to name there — contrast with a timestamp after
    the last commit, which simply resolves to latest).

    Cost: the checkpointed history walk (:func:`_history_entries`) —
    O(CHECKPOINT_EVERY) manifest opens, not O(commit count); commit
    timestamps ride in checkpoint entries since they were added, with
    a per-version manifest fallback for checkpoints predating the
    field."""
    import datetime

    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        ts = ts.timestamp()
    best = None
    for e in _history_entries(table):
        e_ts = e.get("ts")
        if e_ts is None:  # pre-field checkpoint entry: one manifest read
            e_ts = read_manifest(table, e["version"]).get("ts")
        if e_ts is not None and e_ts <= ts:
            if best is None or e["version"] > best:
                best = e["version"]
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the first commit of {table} — "
            "no version existed then (Delta raises here too)"
        )
    return best


def read_version(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    timestamp=None,
) -> DataFrame:
    """Time travel: scan exactly the files manifest ``version`` names
    (default: latest). Equivalent to Delta's
    ``.option("versionAsOf", n)``; snapshot-isolated by construction
    because manifests are immutable once committed. ``timestamp``
    (epoch float or datetime, mutually exclusive with ``version``) is
    Delta's ``TIMESTAMP AS OF``: the version resolved by
    :func:`version_at_timestamp`.

    The manifest's schema (when recorded) is APPLIED to the scan, like
    Delta reading files through the table schema: after an additive
    schema-evolution append, pre-evolution files yield NULL for the
    new columns instead of the read schema depending on which file the
    reader sampled first."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(table, timestamp)
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no committed versions")
    m = read_manifest(table, v)
    schema = None
    if m.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(m["schema"]))
    if not m["files"]:
        # Empty snapshot (e.g. an empty batch committed): the manifest
        # carries the schema, so the read is a typed empty relation —
        # the engine's empty-relation posture, not an error.
        return spark.createDataFrame([], schema)
    return _scan_files(
        spark, table, m["files"], schema, m.get("partition_by"), m.get("dv"),
        col_map=_col_mapping(m),
    )


class ConstraintViolation(ValueError):
    """A batch (or the existing snapshot, when adding a constraint)
    contains rows failing a CHECK constraint — the commit is refused
    and no version is published."""


def _validate_constraints(df: DataFrame, constraints: dict) -> None:
    """Enforce CHECK constraints on a batch before its commit (Delta's
    write-path constraint enforcement). SQL-standard semantics: a row
    violates only when the predicate is FALSE — NULL/unknown passes
    (add an explicit ``col IS NOT NULL`` constraint for NOT NULL).
    One combined scan of the BATCH (never the table): all predicates
    checked in a single pass, first violating constraint reported."""
    if not constraints:
        return
    from pyspark.sql import functions as F

    flags = [
        F.max(
            F.when(F.expr(pred) == F.lit(False), F.lit(1)).otherwise(F.lit(0))
        ).alias(name)
        for name, pred in constraints.items()
    ]
    row = df.agg(*flags).first()
    for name, pred in constraints.items():
        if row[name] == 1:
            raise ConstraintViolation(
                f"CHECK constraint {name!r} ({pred}) violated by the batch"
            )


def add_constraint(
    spark: SparkSession, table: str, name: str, predicate_sql: str
) -> dict:
    """Delta ``ALTER TABLE ... ADD CONSTRAINT ... CHECK (...)`` over
    the manifest log: validates the CURRENT snapshot satisfies the
    predicate (one scan), then commits a metadata-only version (same
    files) whose manifest carries the constraint; every later
    append / merge / streaming append validates its batch against all
    recorded constraints before publishing, and a violating commit
    raises :class:`ConstraintViolation` with nothing published."""
    prev_v = latest_version(table)
    if prev_v is None:
        raise FileNotFoundError(f"{table} has no committed versions")
    prev = read_manifest(table, prev_v)
    constraints = dict(prev.get("constraints") or {})
    if name in constraints:
        raise ValueError(f"constraint {name!r} already exists")
    _validate_constraints(
        read_version(spark, table, prev_v), {name: predicate_sql}
    )
    constraints[name] = predicate_sql
    extra = {"constraints": constraints}
    if prev.get("partition_by"):
        extra["partition_by"] = prev["partition_by"]
    return _commit_manifest(
        table,
        prev_v + 1,
        f"add_constraint({name})",
        prev["files"],
        prev.get("schema"),
        extra,
    )


def _constraint_mentions(constraints: dict, col: str) -> str | None:
    """Name of the first CHECK constraint whose predicate references
    ``col`` as a word, or None — renames/drops of constrained columns
    are refused (Delta requires dropping the constraint first)."""
    import re

    pat = re.compile(rf"\b{re.escape(col)}\b", re.IGNORECASE)
    for name, pred in (constraints or {}).items():
        if pat.search(pred):
            return name
    return None


def _require_col_map(prev: dict) -> list[dict]:
    """The table's col_map, materializing the identity mapping (id per
    field, physical == logical) on first use — Delta's 'upgrade to
    column mapping' step, here implicit in the first rename/drop."""
    if prev.get("col_map"):
        return list(prev["col_map"])
    from pyspark.sql.types import StructType

    if not prev.get("schema"):
        raise ValueError(
            "table manifest records no schema — cannot establish a "
            "column mapping"
        )
    fields = StructType.fromJson(json.loads(prev["schema"])).fields
    return [
        {"id": i, "logical": f.name, "physical": f.name}
        for i, f in enumerate(fields)
    ]


def rename_column(table: str, old: str, new: str) -> dict:
    """Delta ``ALTER TABLE ... RENAME COLUMN`` via name-mode column
    mapping: a METADATA-ONLY commit (same files, zero data rewrite)
    that flips the column's LOGICAL name in the manifest's ``col_map``
    while its stable field ID and PHYSICAL parquet name stay put —
    every file ever written, before or after the rename, reads back
    under the new name through the physical→logical mapping
    (:func:`_scan_files`), and time travel to pre-rename versions
    still shows the old name (the mapping is part of each manifest).
    Partition columns (their physical name is baked into directory
    paths) and columns referenced by CHECK constraints are refused,
    matching Delta's restrictions."""
    prev_v = latest_version(table)
    if prev_v is None:
        raise FileNotFoundError(f"{table} has no committed versions")
    prev = read_manifest(table, prev_v)
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(prev["schema"]))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if old in (prev.get("partition_by") or []):
        raise ValueError(
            f"{old!r} is a partition column — its name is baked into "
            "Hive directory paths; repartition the table to rename it"
        )
    hit = _constraint_mentions(prev.get("constraints"), old)
    if hit:
        raise ValueError(
            f"column {old!r} is referenced by CHECK constraint "
            f"{hit!r} — drop the constraint first (Delta's rule)"
        )
    cm = [
        dict(e, logical=new) if e["logical"] == old else e
        for e in _require_col_map(prev)
    ]
    new_schema = StructType(
        [
            StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    extra = {**_carried_props(prev), "col_map": cm}
    return _commit_manifest(
        table,
        prev_v + 1,
        f"rename_column({old}->{new})",
        prev["files"],
        new_schema.json(),
        extra,
    )


def drop_column(table: str, col: str) -> dict:
    """Delta ``ALTER TABLE ... DROP COLUMN`` via column mapping: a
    METADATA-ONLY commit removing the field from the schema and the
    ``col_map`` — the physical bytes stay in the files but no read
    ever projects them, and time travel to pre-drop versions still
    sees the column. A column later re-ADDED under the same name gets
    a fresh field ID and a distinct physical name
    (:func:`_extend_col_map`), so the dropped column's old bytes can
    never resurface under it. Partition / constrained columns are
    refused like :func:`rename_column`."""
    prev_v = latest_version(table)
    if prev_v is None:
        raise FileNotFoundError(f"{table} has no committed versions")
    prev = read_manifest(table, prev_v)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(prev["schema"]))
    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(f"no column {col!r} (have {names})")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    if col in (prev.get("partition_by") or []):
        raise ValueError(f"{col!r} is a partition column")
    hit = _constraint_mentions(prev.get("constraints"), col)
    if hit:
        raise ValueError(
            f"column {col!r} is referenced by CHECK constraint "
            f"{hit!r} — drop the constraint first"
        )
    cm = [e for e in _require_col_map(prev) if e["logical"] != col]
    new_schema = StructType([f for f in schema.fields if f.name != col])
    extra = {**_carried_props(prev), "col_map": cm}
    return _commit_manifest(
        table,
        prev_v + 1,
        f"drop_column({col})",
        prev["files"],
        new_schema.json(),
        extra,
    )


def drop_constraint(table: str, name: str) -> dict:
    """Metadata-only commit removing a CHECK constraint."""
    prev_v = latest_version(table)
    prev = read_manifest(table, prev_v)
    constraints = dict(prev.get("constraints") or {})
    constraints.pop(name)
    extra = {"constraints": constraints}
    if prev.get("partition_by"):
        extra["partition_by"] = prev["partition_by"]
    return _commit_manifest(
        table,
        prev_v + 1,
        f"drop_constraint({name})",
        prev["files"],
        prev.get("schema"),
        extra,
    )


def prune_files_by_stats(manifest: dict, conds: dict) -> list[str]:
    """The file-skipping decision, exposed for tests/inspection: which
    of the manifest's files can contain a row satisfying ``conds``
    ({col: (lo, hi)}, either bound None for open). A file is skipped
    only when its recorded [min, max] interval provably misses the
    probe interval; files with no stats for a probed column are kept —
    pruning is always a sound over-approximation."""
    stats = manifest.get("stats") or {}
    cmap = _col_mapping(manifest) or {}
    out = []
    for f in manifest["files"]:
        s = stats.get(f) or {}
        keep = True
        for col, (lo, hi) in conds.items():
            # Footer stats are keyed by the PHYSICAL column name on
            # column-mapped tables; probes use logical names.
            col = cmap.get(col, col)
            if col not in s:
                continue
            mn, mx = s[col]
            lo_j, hi_j = _stats_jsonable(lo), _stats_jsonable(hi)
            if (lo_j is not None and mx < lo_j) or (
                hi_j is not None and mn > hi_j
            ):
                keep = False
                break
        if keep:
            out.append(f)
    return out


def read_version_pruned(
    spark: SparkSession,
    table: str,
    conds: dict,
    version: int | None = None,
) -> DataFrame:
    """Data-skipping read — Delta's stats-based file pruning over the
    manifest log: ``conds`` maps column → (lo, hi) range (inclusive;
    either bound None for open, lo == hi for equality). Files whose
    footer-recorded [min, max] provably miss the range are never
    scanned — on a clustered layout (optimize_versioned
    ``sort_within_by``/``zorder_by``) a selective predicate reads a
    handful of files out of a 100 TB table. The surviving files then
    get the EXACT predicate as a normal Catalyst filter (pushed to the
    parquet row-group scan as well), so results are identical to
    filtering the full snapshot — pruning is pure I/O avoidance,
    pinned in tests/test_versioned.py.
    """
    from pyspark.sql import functions as F

    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table} has no committed versions")
    m = read_manifest(table, v)
    schema = None
    if m.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(m["schema"]))
    candidates = prune_files_by_stats(m, conds)
    if not candidates:
        df = spark.createDataFrame([], schema)
    else:
        df = _scan_files(
            spark, table, candidates, schema, m.get("partition_by"),
            m.get("dv"), col_map=_col_mapping(m),
        )
    pred = F.lit(True)
    for col, (lo, hi) in conds.items():
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
    return df.filter(pred)


def commit_with_retry(commit_fn, retries: int = 3):
    """Optimistic-concurrency retry loop — the caller-side half of the
    put-if-absent protocol (Delta's ``OptimisticTransaction`` retry):
    ``commit_fn()`` attempts one commit against the CURRENT latest
    version (re-reading it each attempt, so the rebased write sees the
    winner's rows); a :class:`ConcurrentCommitError` loser re-runs up
    to ``retries`` times before surfacing.

    Safe only for commits that re-derive their content from the table
    state each attempt (merge/append re-read latest internally);
    idempotent-by-batch-id streaming appends prefer
    :func:`append_versioned_stream`, which no-ops instead of retrying
    a batch another writer already landed.
    """
    attempt = 0
    while True:
        try:
            return commit_fn()
        except ConcurrentCommitError:
            attempt += 1
            if attempt > retries:
                raise


def last_committed_batch(table: str) -> int | None:
    """Highest ``batch_id`` recorded across committed manifests, or
    None. Reads the latest checkpoint plus the log tail
    (:func:`_history_entries`) — O(CHECKPOINT_EVERY) manifest opens
    regardless of commit count, so a long-lived streaming table at one
    commit/minute stays cheap to resume."""
    best = None
    for e in _history_entries(table):
        b = e.get("batch_id")
        if b is not None and (best is None or b > best):
            best = b
    return best


def append_versioned_stream(
    df: DataFrame, table: str, batch_id: int
) -> dict | None:
    """Exactly-once streaming append — Delta's ``txnAppId``/
    ``txnVersion`` idempotence model over the manifest log: the commit
    records ``batch_id``; a replayed foreachBatch (same batch_id, as
    Structured Streaming redelivers after a crash) is detected and
    SKIPPED, so retries never duplicate rows. Returns the manifest, or
    None when the batch was already committed.

    The race window is closed by the commit primitive, not the check:
    two racing retries can both pass the batch-id test, but only one
    wins the put-if-absent manifest; the loser's
    :class:`ConcurrentCommitError` surfaces to the caller, whose retry
    then sees the batch committed and no-ops. Orphaned data files from
    the losing attempt are vacuum-cleanable, invisible to readers.
    """
    last = last_committed_batch(table)
    if last is not None and batch_id <= last:
        return None
    extra = {"batch_id": batch_id}
    if not list_versions(table):
        files = _write_snapshot_files(df, table)
        return _commit_manifest(
            table, 0, "append", files, df.schema.json(), extra
        )
    prev_v = latest_version(table)
    prev = read_manifest(table, prev_v)
    _validate_constraints(df, prev.get("constraints") or {})
    extra.update(_carried_props(prev))
    schema_json = _merged_schema_json(prev.get("schema"), df)
    cm = _extend_col_map(prev, schema_json)
    if cm:
        extra["col_map"] = cm
    files = _write_snapshot_files(
        _to_physical(df, _col_mapping({"col_map": cm})),
        table,
        prev.get("partition_by"),
    )
    # Same additive schema evolution as batch appends: merge with the
    # previous manifest's schema so a narrower micro-batch never
    # silently drops columns a prior append/batch evolution added.
    return _commit_manifest(
        table,
        prev_v + 1,
        "append",
        prev["files"] + files,
        schema_json,
        extra,
    )


def zorder_column(df: DataFrame, cols: list[str], bits: int = 8):
    """Morton (Z-order) interleave of ``cols``, each min-max quantized
    to ``bits`` bits — the locality key behind Delta's
    ``OPTIMIZE ZORDER BY``: range-partitioning on it gives every
    output file a tight bounding BOX over all the dims at once, so
    selective predicates on ANY of them prune files, where a plain
    sort only prunes on its leading column.

    One tiny bounds aggregate (2·|cols| scalars to the driver) sizes
    the quantizers; the interleave itself is a pure Catalyst bit
    expression (shiftleft/&/+ — codegen'd, no UDF). Returns a Column.

    Date / timestamp dims quantize through their epoch integer
    (``unix_date`` / ``unix_micros``) — a direct ``cast("double")``
    on temporal types is not a valid Spark cast.
    """
    from functools import reduce
    from operator import add
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    def _as_double(c):
        dt = df.schema[c].dataType
        if isinstance(dt, DateType):
            return F.unix_date(F.col(c)).cast("double")
        if isinstance(dt, (TimestampType, TimestampNTZType)):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        return F.col(c).cast("double")

    bounds = df.agg(
        *[F.min(_as_double(c)).alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(_as_double(c)).alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).first()
    n = len(cols)
    terms = []
    for i, c in enumerate(cols):
        lo, hi = bounds[f"lo_{i}"], bounds[f"hi_{i}"]
        if lo is None or hi is None:
            # Entirely-NULL column or empty snapshot: no bounds to
            # quantize against — constant quantizer (all rows land in
            # cell 0 for this dim), so the rewrite degrades to a plain
            # repartition instead of raising TypeError on None - None.
            lo, hi = 0.0, 0.0
        span = (hi - lo) or 1.0
        q = F.least(
            F.lit((1 << bits) - 1),
            F.floor(
                (_as_double(c) - F.lit(lo)) / F.lit(span)
                * F.lit(float((1 << bits) - 1))
            ).cast("long"),
        )
        for b in range(bits):
            # dim i's bit b lands at interleaved position b*n + i
            terms.append(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return reduce(add, terms).alias("__zorder__")


def optimize_versioned(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    partition_filter: dict | None = None,
) -> dict:
    """Delta ``OPTIMIZE`` over the manifest log: rewrite the LATEST
    snapshot into ``ceil(bytes / target_file_bytes)`` files and commit
    the rewrite as a new version (op ``optimize``) — same rows, fewer
    files; prior versions keep reading their original files until
    :func:`vacuum_versioned` retires them.

    Unlike :func:`~.upsert.compact_small_files` (the plain-parquet
    compactor), no checkpoint staging is needed: the rewrite
    lands in a fresh ``data/<commit-id>/`` directory, never
    overwriting the files it reads — the manifest swap IS the commit.

    Layout options (mutually exclusive):
    - ``sort_within_by`` — the write_clustered property: files own
      disjoint ranges of the leading sort key.
    - ``zorder_by`` — ``OPTIMIZE ZORDER BY`` parity: range-partition
      on :func:`zorder_column`, giving every file a tight bounding
      box over ALL the named dims, so predicates on any of them prune
      files (verified against parquet footer statistics in
      tests/test_versioned.py).

    ``partition_filter`` (``{col: value}``, partitioned tables only) is
    Delta's ``OPTIMIZE ... WHERE``: compact only the matching
    partitions — the compaction-under-ingest pattern at 100 TB, where
    the hot ingest partition accretes small files while cold
    partitions are already compacted and must be RE-REFERENCED, not
    rewritten.
    """
    import math

    if sort_within_by and zorder_by:
        raise ValueError("pass sort_within_by OR zorder_by, not both")
    prev_v = latest_version(table)
    if prev_v is None:
        raise FileNotFoundError(f"{table} has no committed versions")
    m = read_manifest(table, prev_v)
    untouched_files: list[str] = []
    target_files = m["files"]
    if partition_filter:
        pby = m.get("partition_by")
        if not pby:
            raise ValueError(
                "partition_filter requires a partitioned table"
            )
        probe = {
            c: _partition_dir_value(v) for c, v in partition_filter.items()
        }

        def _matches(f):
            vals = dict(zip(pby, _file_partition_values(f, pby)))
            return all(vals.get(c) == v for c, v in probe.items())

        target_files = [f for f in m["files"] if _matches(f)]
        untouched_files = [f for f in m["files"] if not _matches(f)]
        if not target_files:
            raise ValueError(
                f"no files match partition_filter {partition_filter!r}"
            )
    total = sum(
        os.path.getsize(os.path.join(table, f)) for f in target_files
    )
    n_target = max(1, math.ceil(total / target_file_bytes))
    schema = None
    if m.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(m["schema"]))
    df = (
        _scan_files(
            spark, table, target_files, schema, m.get("partition_by"),
            m.get("dv"), col_map=_col_mapping(m),
        )
        if partition_filter
        else read_version(spark, table, prev_v)
    )
    if zorder_by:
        keyed = df.withColumn("__zorder__", zorder_column(df, zorder_by))
        out = (
            keyed.repartitionByRange(n_target, "__zorder__")
            .sortWithinPartitions("__zorder__")
            .drop("__zorder__")
        )
    elif sort_within_by:
        out = df.repartitionByRange(
            n_target, *sort_within_by
        ).sortWithinPartitions(*sort_within_by)
    else:
        out = df.repartition(n_target)
    files = _write_snapshot_files(
        _to_physical(out, _col_mapping(m)), table, m.get("partition_by")
    )
    op = "optimize" if not zorder_by else f"optimize_zorder({','.join(zorder_by)})"
    manifest = _commit_manifest(
        table,
        prev_v + 1,
        op,
        untouched_files + files,
        m.get("schema"),
        _carried_props(m) or None,
    )
    manifest["files_before"] = len(m["files"])
    return manifest


def read_version_diff(
    spark: SparkSession, table: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Incremental read: the rows ADDED between version ``v_from``
    (exclusive) and ``v_to`` (inclusive, default latest) — Delta
    change-data-feed semantics for the append-only case, and the scan
    an incremental downstream consumer wants: it reads ONLY the new
    files, cost proportional to the appended data, never the table.

    Only valid across file-ACCRETIVE lineage. The check is the actual
    invariant, not op names: every manifest in ``(v_from, v_to]`` must
    reference a SUPERSET of its predecessor's files — true for appends
    and same-state restores, false for merge/overwrite/optimize
    rewrites AND for a restore to an earlier version (which removes
    rows a file-level diff would silently miss). A deletion-vector
    change on a carried-over file is a row REMOVAL with an unchanged
    file set, so DV entries must also be IDENTICAL across the lineage
    — checked per version step. Violations raise ``ValueError`` and
    callers diff the snapshots relationally instead (anti-join on the
    key, or :func:`version_changes`).
    """
    v_to_resolved = latest_version(table) if v_to is None else v_to
    m_from = read_manifest(table, v_from)
    base = set(m_from["files"])
    m_to = read_manifest(table, v_to_resolved)
    prev_files = base
    prev_dv = m_from.get("dv") or {}
    for v in range(v_from + 1, v_to_resolved + 1):
        m = read_manifest(table, v)
        cur_files = set(m["files"])
        if not cur_files >= prev_files:
            raise ValueError(
                f"version {v} ({m['op']!r}) drops files of version "
                f"{v - 1}: file-level diff only equals row-level diff "
                "across file-accretive commits — anti-join the "
                "snapshots instead (see version_changes)"
            )
        cur_dv = m.get("dv") or {}
        changed = [
            f for f in prev_files
            if (cur_dv.get(f) or []) != (prev_dv.get(f) or [])
        ]
        if changed:
            raise ValueError(
                f"version {v} ({m['op']!r}) changes deletion vectors "
                f"on {len(changed)} carried-over file(s): rows were "
                "removed without a file-set change — use "
                "version_changes for the row-level feed"
            )
        prev_files, prev_dv = cur_files, cur_dv
    new_files = [f for f in m_to["files"] if f not in base]
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(m_to["schema"]))
    if not new_files:
        return spark.createDataFrame([], schema)
    # Target version's schema applied, matching read_version: an
    # increment read across a schema-evolution append carries the
    # evolved shape (older columns NULL-padded consistently). New
    # files can't have DV entries mid-append-lineage (checked above),
    # but pass the map anyway for belt-and-braces.
    return _scan_files(
        spark, table, new_files, schema, m_to.get("partition_by"),
        m_to.get("dv"), col_map=_col_mapping(m_to),
    )


def version_changes(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Row-level change feed between two versions — Delta CDF
    semantics (``_change_type`` column) for the lineages
    :func:`read_version_diff` refuses: merge / overwrite / restore
    commits rewrite or drop files, so the change set is computed
    RELATIONALLY from the two snapshots, never from file sets.

    With ``keys`` (Delta CDF shape — merge lineage has key identity):

    - ``insert`` — key in ``v_to`` only (the emitted row is the new row)
    - ``delete`` — key in ``v_from`` only (the emitted row is the old row)
    - ``update_preimage`` / ``update_postimage`` — key in both with any
      non-key column changed (NULL-safe struct comparison), emitting
      the old and new row respectively, exactly Delta's two-row update
      encoding.

    Without ``keys``: a full-row multiset diff (``exceptAll`` both
    ways) → ``insert`` / ``delete`` only — the right shape when rows
    have no key identity.

    Cost: two snapshot scans + one key-shuffled join (or two
    exceptAll shuffles) — proportional to the two snapshots. On a pure
    append lineage prefer :func:`read_version_diff`, which reads ONLY
    the appended files; the two agree there (every change is an
    ``insert``), pinned in tests/test_versioned.py.

    Schema evolution between the versions is handled by NULL-padding
    the missing columns on the narrower side (a column added between
    the versions shows as old=NULL → new=value inside an update pair).
    """
    from functools import reduce

    from pyspark.sql import functions as F

    v_to_resolved = latest_version(table) if v_to is None else v_to
    df_from = read_version(spark, table, v_from)
    df_to = read_version(spark, table, v_to_resolved)
    # Align the two snapshots on the union of their columns (to-side
    # order first) so evolution between versions diffs cleanly.
    cols = list(df_to.columns) + [
        c for c in df_from.columns if c not in df_to.columns
    ]

    def align(df):
        have = set(df.columns)
        return df.select(
            *[
                F.col(c) if c in have else F.lit(None).alias(c)
                for c in cols
            ]
        )

    df_from, df_to = align(df_from), align(df_to)
    if keys is None:
        ins = df_to.exceptAll(df_from).withColumn(
            "_change_type", F.lit("insert")
        )
        dels = df_from.exceptAll(df_to).withColumn(
            "_change_type", F.lit("delete")
        )
        return ins.unionByName(dels)
    non_key = [c for c in cols if c not in keys]
    old, new = df_from.alias("__old__"), df_to.alias("__new__")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"__old__.{k}").eqNullSafe(F.col(f"__new__.{k}")) for k in keys],
    )
    ins = new.join(old, cond, "left_anti").withColumn(
        "_change_type", F.lit("insert")
    )
    dels = old.join(new, cond, "left_anti").withColumn(
        "_change_type", F.lit("delete")
    )
    changed = (
        ~F.struct(*[F.col(f"__old__.{c}") for c in non_key]).eqNullSafe(
            F.struct(*[F.col(f"__new__.{c}") for c in non_key])
        )
        if non_key
        else F.lit(False)
    )
    both = old.join(new, cond, "inner").where(changed)
    pre = both.select(
        *[F.col(f"__old__.{c}").alias(c) for c in cols]
    ).withColumn("_change_type", F.lit("update_preimage"))
    post = both.select(
        *[F.col(f"__new__.{c}").alias(c) for c in cols]
    ).withColumn("_change_type", F.lit("update_postimage"))
    return ins.unionByName(dels).unionByName(pre).unionByName(post)


def version_history(
    spark: SparkSession, table: str, with_ts: bool = False
) -> DataFrame:
    """DESCRIBE HISTORY twin: one row per committed version (version,
    op, n_files — plus the commit timestamp as ``ts`` when
    ``with_ts``, the column ``TIMESTAMP AS OF`` resolves against).
    Reads checkpoint + log tail (:func:`_history_entries`):
    O(CHECKPOINT_EVERY) manifest opens, not O(commit count) — the
    driver-side list stays metadata-bounded even on a 500k-commit
    streaming table."""
    entries = _history_entries(table)
    if with_ts:
        rows = [
            (e["version"], e["op"], e["n_files"], e.get("ts"))
            for e in entries
        ]
        return spark.createDataFrame(
            rows, "version int, op string, n_files int, ts double"
        )
    rows = [(e["version"], e["op"], e["n_files"]) for e in entries]
    return spark.createDataFrame(
        rows, "version int, op string, n_files int"
    )


def vacuum_versioned(
    table: str,
    keep_versions: int | None = None,
    retention_seconds: float = 3600.0,
) -> int:
    """Delta VACUUM: delete physical files no retained manifest
    references — orphans from crashed writers, and (when
    ``keep_versions`` trims history) files only old versions used.
    Returns the number of files deleted.

    Version retention is by count here rather than Delta's
    retention-hours; the invariant is the same — every RETAINED
    version remains fully readable, enforced by computing the live set
    as the union of retained manifests' file lists before touching
    anything.

    ``retention_seconds`` is the in-flight-writer guard (Delta's
    VACUUM retention-hours): a file referenced by NO manifest at all
    is indistinguishable from commit-protocol step 1 of a LIVE writer
    whose manifest hasn't landed yet, so never-referenced files
    younger than the window (file mtime) are kept — vacuuming them
    would let the racing writer commit a manifest naming deleted
    files. Files a *dropped* manifest referenced are known-committed
    history (no writer will re-reference them) and are deleted
    regardless of age. Pass ``retention_seconds=0`` only when no
    writer can be in flight. Default 1h — comfortably above any
    single-commit duration.
    """
    def _sidecar_rels(m: dict) -> set[str]:
        return {
            e["sidecar"]
            for e in (m.get("dv") or {}).values()
            if isinstance(e, dict)
        }

    versions = list_versions(table)
    retired = set()
    if keep_versions is not None and keep_versions < len(versions):
        drop, keep = versions[:-keep_versions], versions[-keep_versions:]
        for v in drop:
            m = read_manifest(table, v)
            retired.update(m["files"])
            retired.update(_sidecar_rels(m))
            os.remove(_manifest_path(table, v))
        versions = keep
    live = set()
    for v in versions:
        m = read_manifest(table, v)
        live.update(m["files"])
        # DV sidecar files referenced by a retained manifest are part
        # of that version's readable state — as live as its data files.
        live.update(_sidecar_rels(m))
    retired -= live
    deleted = 0
    now = time.time()
    data_root = os.path.join(table, _DATA_DIR)
    if not os.path.isdir(data_root):
        return 0
    for commit_dir in sorted(os.listdir(data_root)):
        cdir = os.path.join(data_root, commit_dir)
        # Recursive walk: partitioned commits nest data files under
        # Hive-style col=value subdirectories, so a flat listing would
        # miss retired files (and trip over the directories).
        remaining = 0
        for root, _dirs, names in os.walk(cdir):
            for nm in sorted(names):
                if nm.startswith(("_", ".")):
                    # Spark success markers / CRCs: drop alongside the
                    # last data file in the commit dir.
                    continue
                path = os.path.join(root, nm)
                rel = os.path.relpath(path, table)
                if rel in live:
                    remaining += 1
                    continue
                if rel not in retired:
                    # Never referenced: possible in-flight commit —
                    # only delete past the retention window.
                    try:
                        age = now - os.path.getmtime(path)
                    except FileNotFoundError:
                        continue
                    if age < retention_seconds:
                        remaining += 1
                        continue
                os.remove(path)
                deleted += 1
        if remaining == 0:
            import shutil

            shutil.rmtree(cdir)
    # DV sidecars: same liveness rules as data files — referenced by a
    # retained manifest → keep; referenced only by dropped manifests →
    # delete; never referenced (a racing writer's step-1 sidecar whose
    # manifest hasn't landed) → delete only past the retention window.
    dv_root = os.path.join(table, _DV_DIR)
    if os.path.isdir(dv_root):
        for nm in sorted(os.listdir(dv_root)):
            path = os.path.join(dv_root, nm)
            rel = os.path.relpath(path, table)
            if rel in live:
                continue
            if rel not in retired:
                try:
                    age = now - os.path.getmtime(path)
                except FileNotFoundError:
                    continue
                if age < retention_seconds:
                    continue
            os.remove(path)
            deleted += 1
    return deleted
