"""Snapshot-versioned table store: atomic manifest commits, time
travel, merge-on-read deletes, partition-pruned compaction, GC.

The on-disk lifecycle ops (functions/index_store) mutate partition
directories in place — crash-safe locally via a two-rename swap, but a
reader that lists directories DURING a swap can still observe a
partition mid-flight, there is no history, and object-store directory
listings are the scalability anti-pattern every table format exists to
kill. This module is the architecture-level answer, the same shape as
Iceberg/Delta's metadata layer (Armbrust et al., VLDB 2020, "Delta
Lake: High-Performance ACID Table Storage over Cloud Object Stores";
the segment/manifest-list split follows Iceberg's manifest design)
reduced to its load-bearing core:

* **Immutable data files** — every commit writes a fresh
  ``data/c{N}_{attempt}/`` directory; nothing under ``data/`` is ever
  modified or renamed afterwards (vacuum deletes, never rewrites).
* **Segmented metadata, O(files-touched) commits** — a commit writes
  ONE immutable manifest SEGMENT (``manifests/seg-{uuid}.json``
  holding just the file entries this commit adds, with per-file row
  counts, min/max column stats and optional Bloom words) plus one
  small snapshot HEADER (``manifests/v{N}.json``) listing segment
  REFS. A child snapshot carries the parent's segment refs by
  reference — never by copying file entries — so commit metadata cost
  is O(files-touched), not O(total-files): a streaming writer's
  10⁶-file table appends with the same tiny header write as an empty
  one (measured flat in ``tools/bench_manifest.py``). Each ref records
  a per-partition ``{part: [n_files, rows]}`` summary, so partition
  REMOVAL (compaction, rebalance) is header math — shrink the ref's
  included-part map — with no segment rewrite and no entry copying.
* **Atomic header commit** — publication is ``os.link(tmp, final)``,
  which atomically fails if the version already exists — optimistic
  concurrency: the loser of a race gets :class:`SnapshotConflict` (or
  retries with ``retries=N``: data files and segment are written
  once; only the header re-publishes against the new parent). A crash
  at ANY point before the link leaves the store exactly at its
  previous version (orphaned data files / segments are reclaimed by
  vacuum); there is no crash window in which a reader can observe a
  partial commit.
* **Readers pin a snapshot** — :func:`snapshot_read` resolves one
  header, streams its segments, and reads exactly their files; a
  concurrent compaction or append is invisible (old files are
  retained until vacuum), so maintenance never races serving. Time
  travel is reading an older version number.
* **Merge-on-read deletes** — :func:`snapshot_delete` commits
  tombstone files (O(|ids|), no data rewrite); reads anti-join them.
  :func:`snapshot_compact` folds tombstones by rewriting ONLY the
  partitions that contain tombstoned rows (untouched partitions'
  files are carried by segment ref — same paths, byte-identical by
  construction).
* **Manifest compaction** — :func:`snapshot_rewrite_manifests` folds
  the accumulated segment refs into consolidated segments (metadata
  only, empty change feed by construction), bounding header width
  after long streaming-ingest histories the same way
  :func:`snapshot_optimize` bounds the reader's file-union width.
* **Manifest-level pruning** — the reader never lists a directory:
  partition pruning (``parts=[...]``; value TUPLES for multi-column
  date/hour-style layouts), min/max stat pruning
  (``between=("col", lo, hi)`` — numerics AND date/timestamp columns,
  encoded to sortable ints) and Bloom point lookups
  (``point=("col", v)``) select file entries from the manifest before
  Spark sees a path. Partition VALUES are canonicalized through the
  same Hive escaping Spark uses for directory names (NULL and '' →
  ``__HIVE_DEFAULT_PARTITION__``, specials %XX-escaped), so
  NULL-partition rows compact/optimize/prune correctly.

At 100 TB: commits are O(files-touched) metadata + one atomic link;
reads are O(manifest) planning with zero listing round-trips; deletes
are O(|ids|); compaction rewrites only affected partitions; GC derives
its deletion set from manifest diffs (the directory walk survives only
as an age-guarded orphan sweep for aborted commits). The reference has
no persistence lifecycle at all (its sink is a fire-and-forget
TextOutput, ``utils/package.scala:418-427``); this is a pure
capability extension for the retained-corpus posture.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

__all__ = [
    "SnapshotConflict",
    "snapshot_create",
    "snapshot_append",
    "snapshot_delete",
    "snapshot_compact",
    "snapshot_restore",
    "snapshot_vacuum",
    "snapshot_read",
    "snapshot_log",
    "snapshot_versions",
    "snapshot_replace_partitions",
    "snapshot_changes",
    "snapshot_optimize",
    "snapshot_upsert",
    "snapshot_rewrite_manifests",
    "snapshot_version_as_of",
]


class SnapshotConflict(RuntimeError):
    """Another writer published this version first (optimistic
    concurrency): retry against the new latest."""


# ------------------------------------------- partition-value canon


# Spark names partition directories with Hive's escaping
# (ExternalCatalogUtils.escapePathName): ASCII control chars, DEL and
# "#%'*/:=?\\{[]^ become %XX; NULL **and the empty string** both map to
# __HIVE_DEFAULT_PARTITION__ (verified against Spark's own output in
# tests/test_manifest.py). Manifest entries record the DIRECTORY token,
# so every comparison against collected VALUES must go through this
# canonicalization — comparing str(value) resurrected tombstoned rows
# for NULL/escaped partition values before this existed.
_HIVE_DEFAULT_PART = "__HIVE_DEFAULT_PARTITION__"
_HIVE_ESCAPE = (
    {chr(c) for c in range(1, 0x20)}
    | set('"#%\'*/:=?\\{[]^')
    | {chr(0x7F)}
)


def _part_token(value) -> str:
    """Partition VALUE → the directory-name token Spark writes."""
    if value is None:
        return _HIVE_DEFAULT_PART
    s = str(value)
    if s == "":
        return _HIVE_DEFAULT_PART
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in s
    )


def _part_untoken(token: str) -> "str | None":
    """Directory token → string value (None for the default partition,
    which covers both NULL and '')."""
    if token == _HIVE_DEFAULT_PART:
        return None
    out, i = [], 0
    while i < len(token):
        ch = token[i]
        if ch == "%" and i + 3 <= len(token):
            try:
                out.append(chr(int(token[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(ch)
        i += 1
    return "".join(out)


def _part_cols(header_or_col) -> "list[str]":
    """Normalize the table's partitioning to a column list. ``part_col``
    is stored as given — a string for single-column tables (the common
    case and the round-9 format), a list for multi-column (date/hour)
    tables."""
    pc = (
        header_or_col.get("part_col")
        if isinstance(header_or_col, dict)
        else header_or_col
    )
    if pc is None:
        return []
    return [pc] if isinstance(pc, str) else list(pc)


def _part_value_token(value, n_cols: int) -> str:
    """Partition VALUE(S) → the entry token: a bare value token for a
    single-column table, a '/'-joined token path (in partition-column
    order) for multi-column."""
    if n_cols <= 1:
        return _part_token(value)
    vals = list(value) if isinstance(value, (list, tuple)) else [value]
    if len(vals) != n_cols:
        raise ValueError(
            f"expected {n_cols} partition values, got {vals!r}"
        )
    return "/".join(_part_token(v) for v in vals)


def _one_col_filter(col: str, tokens: "set[str]"):
    plain = [
        _part_untoken(t) for t in tokens if t != _HIVE_DEFAULT_PART
    ]
    cond = None
    if plain:
        cond = F.col(col).cast("string").isin(plain)
    if _HIVE_DEFAULT_PART in tokens:
        null_cond = F.col(col).isNull() | (
            F.col(col).cast("string") == ""
        )
        cond = null_cond if cond is None else (cond | null_cond)
    return F.lit(False) if cond is None else cond


def _part_filter(part_cols: "list[str]", tokens: "set[str]"):
    """A Column predicate keeping rows whose partition value(s) map to
    one of the entry ``tokens`` — the write-side twin of entry-token
    pruning. Multi-column tokens are '/'-joined paths; the predicate
    is the OR over wanted paths of the per-level AND."""
    if len(part_cols) == 1:
        return _one_col_filter(part_cols[0], tokens)
    cond = None
    for tok in sorted(tokens):
        levels = tok.split("/")
        if len(levels) != len(part_cols):
            continue
        c = None
        for col, lv in zip(part_cols, levels):
            lc = _one_col_filter(col, {lv})
            c = lc if c is None else (c & lc)
        cond = c if cond is None else (cond | c)
    return F.lit(False) if cond is None else cond


# part_stats keys are JSON object keys (strings); entries of an
# UNPARTITIONED commit carry part=None, keyed as "".
def _part_key(part: "str | None") -> str:
    return "" if part is None else part


# ---------------------------------------------------------------- I/O


def _manifest_dir(base: str) -> str:
    return os.path.join(base, "manifests")


def _data_dir(base: str) -> str:
    return os.path.join(base, "data")


def _manifest_path(base: str, version: int) -> str:
    return os.path.join(_manifest_dir(base), f"v{version:06d}.json")


def snapshot_versions(base: str) -> "list[int]":
    """All published snapshot versions, ascending."""
    mdir = _manifest_dir(base)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            out.append(int(f[1:-5]))
    return sorted(out)


def _now_us() -> int:
    return int(time.time() * 1_000_000)


def _ts_arg_us(value) -> int:
    """Normalize a timestamp ARGUMENT (``as_of_ts=``, retention
    cutoffs) to epoch microseconds: a datetime (naive = UTC, matching
    the recorded wall-clock) or a numeric epoch-seconds value."""
    import datetime

    if isinstance(value, datetime.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=datetime.timezone.utc)
        # exact integer micros (float .timestamp() loses sub-µs
        # precision at current epoch magnitudes, which would make an
        # exact boundary probe resolve one version early)
        delta = value - datetime.datetime(
            1970, 1, 1, tzinfo=datetime.timezone.utc
        )
        return (
            delta.days * 86_400_000_000
            + delta.seconds * 1_000_000
            + delta.microseconds
        )
    return round(float(value) * 1_000_000)


def snapshot_version_as_of(base: str, ts) -> int:
    """Resolve a wall-clock timestamp to the NEWEST retained version
    whose commit timestamp is ≤ ``ts`` (datetime — naive is UTC — or
    epoch seconds): the ``AS OF TIMESTAMP`` resolution rule of the
    table formats. Commit timestamps are recorded monotonically
    (``max(parent_ts + 1µs, now)``), so clock skew between writers can
    never reorder history and the resolution is well-defined. Raises
    ``FileNotFoundError`` when every retained commit is newer than
    ``ts`` (the history before it was vacuumed, or the table did not
    exist yet). O(V) header reads, no segment or data file opened."""
    target = _ts_arg_us(ts)
    best = None
    for v in snapshot_versions(base):
        h = _load_header(base, v)
        t = h.get("ts_us")
        if t is not None and int(t) <= target:
            best = v if best is None else max(best, v)
    if best is None:
        raise FileNotFoundError(
            f"no snapshot at or before {ts!r} at {base} — the table may "
            "not have existed yet, or that history was vacuumed"
        )
    return best


def _load_header(base: str, version: "int | None" = None) -> dict:
    """One snapshot HEADER (segment refs, no file entries) — the
    O(segments) metadata unit every commit reads and writes. An
    explicit ``version`` opens its file directly (no directory
    listing — ``snapshot_log`` over a long history stays O(V), not
    O(V²) listings); the listing happens only to resolve LATEST or to
    build the not-found message."""
    if version is not None:
        try:
            with open(_manifest_path(base, int(version))) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"snapshot v{int(version)} not found at {base} "
                f"(have {snapshot_versions(base)}) — it may have been "
                "vacuumed"
            ) from None
    versions = snapshot_versions(base)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {base}")
    with open(_manifest_path(base, max(versions))) as fh:
        return json.load(fh)


def _seg_path(base: str, name: str) -> str:
    return os.path.join(_manifest_dir(base), name)


def _seg_write(base: str, entries: "list[dict]") -> "dict | None":
    """Write one immutable manifest SEGMENT holding ``entries`` and
    return its ref: ``{"seg", "n", "rows", "part_stats"}`` where
    ``part_stats`` maps included partition token → [n_files, rows].
    The ref summary is what keeps partition removal and
    :func:`snapshot_log` header-only. Returns None for no entries."""
    if not entries:
        return None
    os.makedirs(_manifest_dir(base), exist_ok=True)
    name = f"seg-{uuid.uuid4().hex}.json"
    tmp = _seg_path(base, f".{name}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"entries": entries}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, _seg_path(base, name))  # immutable once named
    part_stats: dict[str, list[int]] = {}
    part_bytes: dict[str, int] = {}
    for e in entries:
        k = _part_key(e.get("part"))
        st = part_stats.setdefault(k, [0, 0])
        st[0] += 1
        st[1] += int(e["rows"])
        part_bytes[k] = part_bytes.get(k, 0) + int(e.get("bytes", 0))
    return {
        "seg": name,
        "n": len(entries),
        "rows": sum(int(e["rows"]) for e in entries),
        "part_stats": part_stats,
        # per-partition byte totals: the header-level signal size-aware
        # OPTIMIZE targeting (small_file_bytes=) reads without opening
        # a segment — kept separate from part_stats so the [n, rows]
        # summary format (and every consumer unpacking it) is stable
        "part_bytes": part_bytes,
        # the commit dirs this segment's entries live in — one for a
        # commit-born segment, the folded set for a rewrite-
        # consolidated one. Vacuum's segment-level diff uses it to
        # open ONLY retained segments that could share files with the
        # deletion candidates, and to keep the orphan sweep away from
        # live commit dirs without enumerating their files.
        "commits": sorted({e["commit"] for e in entries}),
    }


def _ref_exclude(ref: dict, tokens: "set[str]") -> "dict | None":
    """Drop the listed partition tokens from a segment ref — pure
    header math (the segment file is immutable and untouched): the
    included-part map shrinks and n/rows recompute from the per-part
    summary. Returns None when nothing remains."""
    keys = {_part_key(t) for t in tokens}
    if not any(k in ref["part_stats"] for k in keys):
        return dict(ref, part_stats=dict(ref["part_stats"]))
    kept = {
        k: list(v) for k, v in ref["part_stats"].items() if k not in keys
    }
    if not kept:
        return None
    out = dict(ref)  # preserve commits/src-style metadata keys
    out["n"] = sum(v[0] for v in kept.values())
    out["rows"] = sum(v[1] for v in kept.values())
    out["part_stats"] = kept
    if "part_bytes" in ref:
        out["part_bytes"] = {
            k: v for k, v in ref["part_bytes"].items() if k in kept
        }
    return out


def _seg_entries(base: str, ref: dict) -> "list[dict]":
    """Materialize a ref's entries: read the immutable segment and keep
    only partitions still in the ref's included-part map."""
    with open(_seg_path(base, ref["seg"])) as fh:
        entries = json.load(fh)["entries"]
    included = ref["part_stats"]
    out = [e for e in entries if _part_key(e.get("part")) in included]
    ab = ref.get("applies_before")
    if ab is not None:
        out = [dict(e, applies_before=int(ab)) for e in out]
    return out


def _materialize(base: str, header: dict) -> dict:
    """Header + resolved ``files`` / ``tombstones`` entry lists — the
    read-path (and test-introspection) view of a snapshot."""
    m = dict(header)
    m["files"] = [
        e for ref in header["file_segs"] for e in _seg_entries(base, ref)
    ]
    m["tombstones"] = [
        e for ref in header["tomb_segs"] for e in _seg_entries(base, ref)
    ]
    return m


def _load_manifest(base: str, version: "int | None" = None) -> dict:
    return _materialize(base, _load_header(base, version))


def _publish(base: str, header: dict) -> int:
    """Atomically publish ``header`` as its version. The header is
    fully written and fsynced to a temp name first; ``os.link`` then
    either creates the final name or fails with EEXIST — the only two
    outcomes. No reader can ever see a partial manifest."""
    os.makedirs(_manifest_dir(base), exist_ok=True)
    header = {
        k: v for k, v in header.items() if k not in ("files", "tombstones")
    }
    # every header records its commit wall-clock (AS OF <timestamp>
    # resolution and age-based vacuum retention); _child stamps it
    # monotonically against the parent — this is only the fallback for
    # direct _publish callers
    header.setdefault("ts_us", _now_us())
    v = int(header["version"])
    final = _manifest_path(base, v)
    tmp = os.path.join(_manifest_dir(base), f".v{v}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(header, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise SnapshotConflict(
            f"snapshot v{v} at {base} was published by a concurrent writer"
        ) from None
    finally:
        os.unlink(tmp)
    return v


def _apply_with_retry(base: str, apply_fn, retries: int = 0) -> int:
    """Optimistic-concurrency loop: resolve the latest header, let
    ``apply_fn(parent)`` build the child header (or return an int to
    short-circuit, e.g. an already-seen batch tag), publish; on
    :class:`SnapshotConflict` re-resolve and reapply up to ``retries``
    times with bounded backoff. Data files and segments are written
    ONCE by the caller before this loop — a retry re-publishes
    metadata only, so conflict recovery is O(header) regardless of
    commit size."""
    attempt = 0
    while True:
        parent = _load_header(base)
        built = apply_fn(parent)
        if isinstance(built, int):
            return built
        try:
            return _publish(base, built)
        except SnapshotConflict:
            attempt += 1
            if attempt > retries:
                raise
            time.sleep(min(0.05 * (2 ** (attempt - 1)), 1.0))


# Per-file Bloom parameters: k probes via double hashing over the md5
# of the value's canonical string form, into m bits packed in 64-bit
# words. m is sized PER FILE from its row count at 1024 bits per 100
# values (10.24 bits/value: false-positive rate ≈ 0.86% at k=5 whatever
# the file's size), rounded up to whole words and never below 16 words.
# A false positive only costs reading one file. The probe reads m back
# as 64·len(words), so a 16-word (m=1024) entry written before the
# per-file sizing probes exactly as it always did.
_BLOOM_BITS_PER_100 = 1024
_BLOOM_MIN_WORDS = 16
_BLOOM_K = 5


def _bloom_n_words(n_rows: int) -> int:
    """64-bit word count of a Bloom over a file of ``n_rows`` rows."""
    return max(_BLOOM_MIN_WORDS, -(-n_rows * _BLOOM_BITS_PER_100 // (100 * 64)))


def _bloom_canon(value) -> "str | None":
    """Canonical string form hashed on BOTH the write side and the
    read-side probe, so a type-mismatched but equal probe (5.0 against
    an int column, Decimal('5'), numpy int64) still hits: integral
    floats/Decimals normalize to the int form, numpy scalars unwrap,
    bools stay distinct from 0/1, NaN and None are unindexed (a NaN
    probe finds nothing; parquet nulls surface as either through
    pandas, so both must hash nowhere for the executor- and
    driver-side builders to agree byte-for-byte)."""
    if value is None:
        return None
    if isinstance(value, bool):
        return f"bool:{value}"
    item = getattr(value, "item", None)
    if item is not None and not isinstance(value, (str, bytes, int, float)):
        try:
            value = value.item()  # numpy scalar → Python
        except Exception:
            pass
    if isinstance(value, float):
        if value != value:  # NaN
            return None
        if value.is_integer():
            return str(int(value))
        return repr(value)
    import decimal

    if isinstance(value, decimal.Decimal):
        if value.is_nan():
            return None
        if value == value.to_integral_value():
            return str(int(value))
        return str(value.normalize())
    return str(value)


def _bloom_hashes(canon: str, m: int) -> "list[int]":
    """The k bit positions in an ``m``-bit filter for a canonical value
    string."""
    import hashlib

    h = hashlib.md5(canon.encode()).digest()
    h1 = int.from_bytes(h[:8], "big")
    h2 = int.from_bytes(h[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_add(words: "list[int]", values) -> None:
    """Set ``values``' bits in ``words`` in place (m = 64·len(words))."""
    m = 64 * len(words)
    for v in values:
        canon = _bloom_canon(v)
        if canon is None:
            continue
        for pos in _bloom_hashes(canon, m):
            words[pos // 64] |= 1 << (pos % 64)


def _bloom_words(values) -> "list[int]":
    """Bloom words over ``values``, one whole file's rows, sized from
    ``len(values)``."""
    words = [0] * _bloom_n_words(len(values))
    _bloom_add(words, values)
    return words


def _bloom_maybe_contains(words: "list[int]", value) -> bool:
    canon = _bloom_canon(value)
    if canon is None:
        return True  # null/NaN probes are unindexed — keep the file
    return all(
        words[pos // 64] >> (pos % 64) & 1
        for pos in _bloom_hashes(canon, 64 * len(words))
    )


def _bloom_words_spark(
    spark: SparkSession,
    files: "list[str]",
    col: str,
    n_words_by_file: "dict[str, int]",
) -> "dict[str, list[int]]":
    """EXECUTOR-SIDE Bloom construction: one Spark job reads the listed
    parquet files' single column and hashes it per Arrow batch (exact
    types — no pandas int→float widening) into ONE word array per
    (task, file), ORed across all of the task's batches and emitted
    after its last batch; the driver OR-merges those partials (the OR
    of partial Blooms IS the file's Bloom — bitwise OR is the only
    aggregation). A file not split across tasks therefore sends one
    Bloom. Every partial is sized from its FILE's row count
    (``n_words_by_file``, keyed like ``files``), never from the
    values the task saw, so the partials of one file share one m; a
    file whose path does not resolve in the map emits nothing and
    takes the caller's local fallback. The driver receives about one
    file-sized Bloom per file, never column data, so
    ``snapshot_create(bloom_cols=...)`` over a large initial table
    scales with the cluster. Byte-equal with the driver-side fallback
    by construction (unit-pinned)."""

    def _path(uri: str) -> str:
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path)

    def build(batches):
        import pyarrow as pa

        words_by_f: dict[str, list[int]] = {}
        for batch in batches:
            fnames = batch.column("_f").to_pylist()
            vals = batch.column("_v").to_pylist()
            per_file: dict[str, list] = {}
            for f, v in zip(fnames, vals):
                per_file.setdefault(f, []).append(v)
            for f, vs in per_file.items():
                words = words_by_f.get(f)
                if words is None:
                    n_words = n_words_by_file.get(_path(f))
                    if n_words is None:
                        continue
                    words = words_by_f[f] = [0] * n_words
                _bloom_add(words, vs)
        yield pa.RecordBatch.from_pydict(
            {
                "_f": list(words_by_f),
                "words": [json.dumps(w) for w in words_by_f.values()],
            },
            schema=pa.schema([("_f", pa.string()), ("words", pa.string())]),
        )

    df = (
        spark.read.parquet(*files)
        .select(
            F.input_file_name().alias("_f"), F.col(col).alias("_v")
        )
        .mapInArrow(build, "_f string, words string")
    )
    merged: dict[str, list[int]] = {}
    for r in df.collect():  # ≈ one row per file (one per task it spans)
        path = _path(r["_f"])
        words = json.loads(r["words"])
        cur = merged.get(path)
        if cur is None:
            merged[path] = words
        elif len(cur) != len(words):
            raise ValueError(
                f"Bloom partials for {path} differ in size "
                f"({len(cur)} vs {len(words)} words); OR-merging them "
                "would drop bits"
            )
        else:
            merged[path] = [a | b for a, b in zip(cur, words)]
    return merged


def _stats_encode(v):
    """Zone-map value encoding: temporal types map to sortable ints
    (dates → proleptic ordinal, timestamps → epoch microseconds), so
    date/timestamp columns get min/max pruning alongside numerics.
    Strings stay excluded (parquet writers may truncate string
    min/max — an understated max would make the superset prune wrongly
    skip a file; Blooms are the string path). Applied identically at
    scan time and probe time. The encodings are PER-KIND integer
    scales (an ordinal is not an epoch-micro), so every comparison
    goes through :func:`_stats_admits`, which keeps the file unless
    the probe's kind matches the recorded kind. Note Spark's default
    INT96 timestamps carry NO parquet min/max — set
    spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS (the
    non-deprecated type) for timestamp zone maps; without it files
    are conservatively kept."""
    import datetime

    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return int((v - epoch).total_seconds() * 1_000_000)
    if isinstance(v, datetime.date):
        return v.toordinal()
    return v


def _stats_kind(v) -> str:
    """Coarse kind of a zone-map bound. Temporal kinds encode on their
    own integer scales (date → ordinal, timestamp → epoch-micros), so
    a probe may only compare against stats of the SAME kind: a
    datetime bound probed at a date column — or any temporal bound at
    a plain numeric column — would otherwise compare unrelated ints
    and could silently prune a file that holds matching rows. The kind
    rides as the optional third element of each recorded stats range;
    absent means numeric (the pre-round-11 manifest format, which only
    ever compared like scales for numerics)."""
    import datetime

    if isinstance(v, datetime.datetime):
        return "ts"
    if isinstance(v, datetime.date):
        return "date"
    return "num"


def _stats_admits(st: list, lo, hi) -> bool:
    """Does a recorded ``[min, max(, kind)]`` range possibly overlap
    the probe range [lo, hi] (raw, un-encoded values)? Conservative on
    ANY kind mismatch — mixed-kind probe bounds, probe kind differing
    from the recorded kind, or a non-numeric comparison — the file is
    kept and the row-level filter stays the source of truth.

    Legacy note: stats recorded by PRE-kind manifests (2-element, no
    kind tag) read as numeric, so a temporal probe against a
    temporal column recorded by an old writer degrades to
    keep-everything — pruning on those columns silently pauses (never
    wrong results, just no skipping) until the files are rewritten
    with current stats (``snapshot_optimize`` on the affected
    partitions restores it)."""
    kinds = {_stats_kind(lo), _stats_kind(hi)}
    if len(kinds) != 1:
        return True
    if (st[2] if len(st) > 2 else "num") != kinds.pop():
        return True
    try:
        return st[0] <= _stats_encode(hi) and _stats_encode(lo) <= st[1]
    except TypeError:
        return True  # non-orderable probe: stay conservative


def _scan_files(
    commit_dir: str,
    part_col: "str | None",
    stats_cols: "list[str]",
    bloom_cols: "list[str] | None" = None,
    spark: "SparkSession | None" = None,
) -> "tuple[list[dict], int]":
    """Enumerate the parquet files Spark just wrote under
    ``commit_dir`` and read row counts + min/max stats for
    ``stats_cols`` from the footers (pyarrow metadata only — no data
    pages touched). ``bloom_cols`` additionally builds a per-file
    Bloom filter over each listed column — the ONE write-side step
    that reads data — sized from the file's footer row count (1024
    bits per 100 rows, ≥ 16 words; see ``_BLOOM_BITS_PER_100``), so
    its false-positive rate stays ≈ 0.86% however large the file.
    With ``spark`` (every real commit path passes
    it) the hashing runs EXECUTOR-SIDE via :func:`_bloom_words_spark`;
    the driver-side pyarrow loop survives only as the sparkless
    fallback and the byte-equality oracle for the unit test. Returns
    (entries, total_rows)."""
    import pyarrow.parquet as pq

    commit = os.path.basename(commit_dir.rstrip("/"))
    pcs = _part_cols(part_col)
    entries: list[dict] = []
    file_cols: dict[str, list[str]] = {}
    total = 0
    for root, _dirs, files in os.walk(commit_dir):
        part = None
        if pcs:
            rel = os.path.relpath(root, commit_dir)
            levels = rel.split(os.sep) if rel != "." else []
            if len(levels) == len(pcs) and all(
                lv.startswith(f"{c}=") for lv, c in zip(levels, pcs)
            ):
                part = "/".join(lv.split("=", 1)[1] for lv in levels)
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            full = os.path.join(root, fname)
            md = pq.ParquetFile(full).metadata
            rows = md.num_rows
            total += rows
            stats: dict[str, list] = {}
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            file_cols[full] = names
            for col in stats_cols:
                if col not in names:
                    continue
                ci = names.index(col)
                lo = hi = None
                ok = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                # numerics + temporal (encoded to sortable ints by
                # _stats_encode, kind-tagged so probes never compare
                # across scales); strings excluded — see _stats_encode.
                if ok:
                    kind = _stats_kind(lo)
                    lo, hi = _stats_encode(lo), _stats_encode(hi)
                    if (
                        isinstance(lo, (int, float))
                        and isinstance(hi, (int, float))
                        and not isinstance(lo, bool)
                        and not isinstance(hi, bool)
                    ):
                        stats[col] = (
                            [lo, hi] if kind == "num" else [lo, hi, kind]
                        )
            entries.append(
                {
                    "commit": commit,
                    "path": os.path.relpath(full, commit_dir),
                    "part": part,
                    "rows": rows,
                    "bytes": os.path.getsize(full),
                    "_full": full,
                    **({"stats": stats} if stats else {}),
                }
            )
    n_words_by_file = {e["_full"]: _bloom_n_words(e["rows"]) for e in entries}

    def local_words(full: str, col: str) -> "list[int]":
        return _bloom_words(pq.read_table(full, columns=[col])[col].to_pylist())

    for col in bloom_cols or []:
        with_col = [
            e["_full"] for e in entries if col in file_cols[e["_full"]]
        ]
        if not with_col:
            continue
        if spark is not None:
            words_by_file = _bloom_words_spark(
                spark, with_col, col, n_words_by_file
            )
            for full in with_col:
                if full not in words_by_file:
                    # a zero-row file produces no Arrow batch (its Bloom
                    # is all-zeros: prunes every probe — correct for an
                    # empty file); a file with rows but no returned
                    # words means path normalization drifted — read
                    # THAT file locally rather than mis-assign
                    words_by_file[full] = local_words(full, col)
        else:
            words_by_file = {full: local_words(full, col) for full in with_col}
        for e in entries:
            words = words_by_file.get(e["_full"])
            if words is not None:
                e.setdefault("bloom", {})[col] = words
    for e in entries:
        del e["_full"]
    return entries, total


def _next_commit_dir(base: str, version: int) -> str:
    """Unique per ATTEMPT, not just per version: two writers racing for
    the same version must never share a data directory (the manifest
    link decides the winner; the loser's orphaned files wait for
    vacuum). The version prefix keeps the tombstone-scope parse
    (:func:`_commit_version`) and human debuggability."""
    return os.path.join(
        _data_dir(base), f"c{version:06d}_{uuid.uuid4().hex[:8]}"
    )


# ------------------------------------------------------------ commits


def snapshot_create(
    df: DataFrame,
    base: str,
    part_col: "str | list[str] | None" = None,
    id_col: str = "id",
    stats_cols: "list[str] | None" = None,
    bloom_cols: "list[str] | None" = None,
    meta: "dict | None" = None,
) -> int:
    """Commit v1 of a new snapshot store at ``base``. ``part_col``
    becomes the table's physical partitioning (compaction unit and
    ``parts=`` pruning key) — a column name, or a LIST of columns for
    hierarchical date/hour-style layouts, in which case ``parts=``
    takes value TUPLES and every maintenance op addresses leaf
    partitions; ``id_col`` is the key tombstones match on;
    ``stats_cols`` get per-file min/max recorded in every future
    manifest (the zone map); ``bloom_cols`` get a per-file Bloom
    filter for ``point=`` lookups on columns the layout is NOT sorted
    by. Returns the version (1)."""
    if snapshot_versions(base):
        raise SnapshotConflict(f"snapshot store already exists at {base}")
    stats_cols = list(stats_cols or [])
    bloom_cols = list(bloom_cols or [])
    commit_dir = _next_commit_dir(base, 1)
    shutil.rmtree(commit_dir, ignore_errors=True)
    w = df.write.mode("overwrite")
    if part_col is not None:
        w = w.partitionBy(*_part_cols(part_col))
    w.parquet(commit_dir)
    entries, rows = _scan_files(
        commit_dir, part_col, stats_cols, bloom_cols, spark=df.sparkSession
    )
    ref = _seg_write(base, entries)
    return _publish(
        base,
        {
            "version": 1,
            "parent": None,
            "op": "create",
            "ts_us": _now_us(),
            "part_col": part_col,
            "id_col": id_col,
            "stats_cols": stats_cols,
            "bloom_cols": bloom_cols,
            "schema": df.schema.json(),
            "file_segs": [ref] if ref else [],
            "tomb_segs": [],
            "batch_tags": [],
            "txns": {},
            "rows_added": rows,
            "rows_removed": 0,
            "meta": meta or {},
        },
    )


def _child(parent: dict, op: str) -> dict:
    """Child header from a parent header (or a materialized manifest —
    the segment-ref keys are authoritative either way): segment refs
    carry over BY REFERENCE, so this is O(segments), never
    O(files)."""
    return {
        "version": int(parent["version"]) + 1,
        "parent": int(parent["version"]),
        "op": op,
        # monotonic commit timestamp: never behind the parent even
        # under wall-clock skew between writers, so AS-OF-timestamp
        # resolution can never see history out of order
        "ts_us": max(int(parent.get("ts_us", 0)) + 1, _now_us()),
        "part_col": parent["part_col"],
        "id_col": parent["id_col"],
        "stats_cols": parent["stats_cols"],
        "bloom_cols": parent.get("bloom_cols", []),
        "schema": parent["schema"],
        "file_segs": [dict(r) for r in parent["file_segs"]],
        "tomb_segs": [dict(r) for r in parent["tomb_segs"]],
        "tomb_schema": parent.get("tomb_schema"),
        "batch_tags": list(parent["batch_tags"]),
        "txns": dict(parent.get("txns", {})),
        # column-mapping metadata (rename/drop are header-only ops):
        # each rename records the version it happened at, so readers
        # reverse-map a file's physical column names from its commit
        # version; dropped_names bans resurrection (old files still
        # carry the physical column)
        "renames": [dict(r) for r in parent.get("renames", [])],
        "dropped_names": list(parent.get("dropped_names", [])),
        "rows_added": 0,
        "rows_removed": 0,
        "meta": dict(parent.get("meta", {})),
    }


def _txn_seen(header: dict, txn) -> bool:
    """Delta-style per-writer idempotency: ``txn=(app, version)`` with
    a MONOTONIC version per app (Structured Streaming's batch-id
    contract). The header stores one max version per app —
    O(#writers) forever — where ``batch_tag`` stores every tag ever
    used, O(#batches): a year-long foreachBatch ingest should use
    ``txn``."""
    if txn is None:
        return False
    app, ver = txn
    cur = header.get("txns", {}).get(str(app))
    return cur is not None and int(ver) <= int(cur)


def _schema_evolve(
    parent: dict, df_schema: StructType, merge_schema: bool, op: str
) -> "str | None":
    """Validate a write's schema against the table's recorded schema
    and return the evolved schema JSON (or None when unchanged).
    ADD-COLUMN evolution only, gated on ``merge_schema``; a type
    change is always rejected — accepting one would not fail here but
    at some future READ, deep inside a Spark task (the recorded-schema
    scan meets an incompatible page), which is the worst place to
    learn about it."""
    recorded = StructType.fromJson(json.loads(parent["schema"]))
    by_name = {f.name: f for f in recorded.fields}
    # resurrection guard: a dropped column's physical data still sits
    # in old files, and a rename's old name is still the PHYSICAL name
    # inside pre-rename files — re-adding either name would make those
    # files' stale values reappear under the new logical column
    banned = set(parent.get("dropped_names", [])) | {
        r["from"] for r in parent.get("renames", [])
    }
    new_fields = []
    for f in df_schema.fields:
        old = by_name.get(f.name)
        if old is None:
            if f.name in banned:
                raise ValueError(
                    f"{op}: column '{f.name}' was previously dropped or "
                    "renamed away — old data files still carry a physical "
                    "column by that name, so re-adding it would resurrect "
                    "their stale values; pick a different name or rewrite "
                    "the table"
                )
            new_fields.append(f)
        elif old.dataType != f.dataType:
            raise ValueError(
                f"{op}: column '{f.name}' is {old.dataType} in the table "
                f"but {f.dataType} in the write — type changes are a "
                "rewrite, not an incremental commit"
            )
    if not new_fields:
        return None
    if not merge_schema:
        raise ValueError(
            f"{op}: new columns {[f.name for f in new_fields]} — pass "
            "merge_schema=True to evolve the table schema"
        )
    return StructType(list(recorded.fields) + new_fields).json()


def snapshot_append(
    df: DataFrame,
    base: str,
    batch_tag: "str | None" = None,
    meta: "dict | None" = None,
    merge_schema: bool = False,
    retries: int = 0,
    txn: "tuple | None" = None,
) -> int:
    """Append ``df`` as a new snapshot. ``batch_tag`` makes the append
    IDEMPOTENT: a tag already present in the lineage is a no-op
    returning the current version — so a streaming ``foreachBatch``
    writer that tags each micro-batch with its batch id gets
    exactly-once table contents under Structured Streaming's
    batch-replay recovery, the standard idempotent-sink discipline.

    ``merge_schema=True`` enables ADD-COLUMN evolution: new fields in
    ``df`` extend the recorded table schema (appended after the
    existing fields); readers of any version fill the columns missing
    from older data files with NULL — the explicit-schema parquet read
    does this for free, so no old file is ever rewritten. Changing an
    existing column's type is rejected (that is a rewrite, not an
    append); without the flag a schema mismatch is an error rather
    than a silent drift.

    ``retries=N`` turns a publish race into bounded-backoff retry:
    data files and the manifest segment are written exactly once; each
    retry re-resolves the latest parent, re-validates the schema and
    batch tag against it, and re-publishes the (tiny) header.

    ``txn=(app, version)`` is the SCALE form of idempotency (Delta's
    txnAppId/txnVersion): versions are monotonic per app, the header
    keeps one max per app — O(#writers) metadata forever, where
    ``batch_tag`` accumulates one string per batch. A replay (version
    ≤ recorded max) is a no-op returning the current version."""
    parent0 = _load_header(base)
    if batch_tag is not None and batch_tag in parent0["batch_tags"]:
        return int(parent0["version"])
    if _txn_seen(parent0, txn):
        return int(parent0["version"])
    commit_dir = _next_commit_dir(base, int(parent0["version"]) + 1)
    shutil.rmtree(commit_dir, ignore_errors=True)
    w = df.write.mode("overwrite")
    if parent0["part_col"] is not None:
        w = w.partitionBy(*_part_cols(parent0))
    w.parquet(commit_dir)
    entries, rows = _scan_files(
        commit_dir,
        parent0["part_col"],
        parent0["stats_cols"],
        parent0.get("bloom_cols", []),
        spark=df.sparkSession,
    )
    ref = _seg_write(base, entries)

    def apply(parent: dict):
        if batch_tag is not None and batch_tag in parent["batch_tags"]:
            return int(parent["version"])
        if _txn_seen(parent, txn):
            return int(parent["version"])
        m = _child(parent, "append")
        evolved = _schema_evolve(
            parent, df.schema, merge_schema, "snapshot_append"
        )
        if evolved is not None:
            m["schema"] = evolved
        if ref:
            m["file_segs"].append(dict(ref))
        m["rows_added"] = rows
        if batch_tag is not None:
            m["batch_tags"].append(batch_tag)
        if txn is not None:
            m["txns"][str(txn[0])] = int(txn[1])
        if meta:
            m["meta"].update(meta)
        return m

    return _apply_with_retry(base, apply, retries)


def _check_isolation(isolation: str) -> None:
    if isolation not in ("lww", "strict"):
        raise ValueError(
            f"isolation must be 'lww' or 'strict', got {isolation!r}"
        )


def _probe_vals_from_commit(
    commit_dir: str, entries: "list[dict]", rows: int, id_col: str
):
    """The id values a delete/upsert just wrote, read back from its own
    tombstone parquet (driver-side, bounded) for the strict-isolation
    admission check — None when the set is too large to collect, which
    strict mode treats as 'cannot clear any concurrent data commit'."""
    if rows > _CHANGES_PRUNE_MAX_IDS:
        return None
    import pyarrow.parquet as pq

    vals: list = []
    for e in entries:
        vals += pq.read_table(
            os.path.join(commit_dir, e["path"]), columns=[id_col]
        )[id_col].to_pylist()
    return vals


def _strict_rebase_check(
    base: str, from_v: int, to_v: int, id_col: str, probe_vals
) -> None:
    """Strict-isolation gate for delete/upsert rebase — Delta's
    WriteSerializable conflict detection, metadata-bounded: walk the
    versions committed between the snapshot this write was PREPARED
    against and the rebase parent and raise :class:`SnapshotConflict`
    if any could change the visibility of rows this write's ids
    address. Physical/metadata-only ops (optimize, compact,
    rewrite_manifests — they fold or re-bin what already existed)
    never conflict; a concurrent delete/upsert/restore/replace (or any
    unknown op) always does, since its id scope is not provable from
    headers; a concurrent APPEND conflicts only if one of its new file
    entries ADMITS one of our ids by per-file stats/Bloom —
    conservative in the safe direction: a false positive aborts a
    rebase that would have been harmless, never the reverse. O(versions
    raced × their own segments) metadata, zero data reads."""
    for v in range(int(from_v) + 1, int(to_v) + 1):
        h = _load_header(base, v)
        op = h["op"]
        if op in ("optimize", "compact", "rewrite_manifests"):
            continue
        if op != "append" or probe_vals is None:
            raise SnapshotConflict(
                f"strict isolation: concurrent v{v} ({op}) may change "
                "the visibility of rows this write addresses — "
                "re-prepare against the current snapshot, or use "
                "isolation='lww' for last-writer-wins rebase"
            )
        prev_segs = {r["seg"] for r in _load_header(base, v - 1)["file_segs"]}
        for ref in h["file_segs"]:
            if ref["seg"] in prev_segs:
                continue
            for e in _seg_entries(base, ref):
                if any(_entry_admits(e, id_col, p) for p in probe_vals):
                    raise SnapshotConflict(
                        f"strict isolation: concurrent v{v} (append) may "
                        "contain ids this write addresses (per-file "
                        "stats/Bloom admit one) — re-prepare against the "
                        "current snapshot, or use isolation='lww'"
                    )


def snapshot_delete(
    ids: DataFrame,
    base: str,
    retries: int = 0,
    isolation: str = "lww",
    batch_tag: "str | None" = None,
    txn: "tuple | None" = None,
) -> int:
    """Merge-on-read delete: commit ``ids`` (any one-column frame) as
    tombstone files — O(|ids|), no data rewrite. Reads anti-join the
    tombstones until :func:`snapshot_compact` folds them in. Time
    travel to the pre-delete version still serves the rows (erasure of
    HISTORY is :func:`snapshot_vacuum` retention policy, the same
    split GDPR tooling makes).

    ``batch_tag`` / ``txn=(app, version)`` give the same replay
    idempotency as :func:`snapshot_append` — a CDF consumer cascading
    deletes downstream (q300's shape) tags the leg with the delivered
    version so a crash-redelivery is a no-op instead of a duplicate
    tombstone commit.

    Rebase contract (``retries=N``): the default ``isolation='lww'``
    is LAST-WRITER-WINS — a rebased delete's tombstone scope moves
    past commits published during the race, so matching ids a
    concurrent writer just appended are deleted too (the intended
    CDC-apply semantics). ``isolation='strict'`` instead aborts the
    rebase (:class:`SnapshotConflict`) when any raced commit could
    touch this delete's ids (:func:`_strict_rebase_check`);
    ``retries=0`` aborts on ANY race."""
    _check_isolation(isolation)
    parent0 = _load_header(base)
    if batch_tag is not None and batch_tag in parent0["batch_tags"]:
        return int(parent0["version"])
    if _txn_seen(parent0, txn):
        return int(parent0["version"])
    commit_dir = _next_commit_dir(base, int(parent0["version"]) + 1)
    shutil.rmtree(commit_dir, ignore_errors=True)
    keyed = ids.select(F.col(ids.columns[0]).alias(parent0["id_col"]))
    keyed.write.mode("overwrite").parquet(commit_dir)
    entries, rows = _scan_files(commit_dir, None, [])
    ref = _seg_write(base, entries)
    tomb_schema = keyed.schema.json()
    probe_vals = (
        _probe_vals_from_commit(commit_dir, entries, rows, parent0["id_col"])
        if isolation == "strict"
        else None
    )

    def apply(parent: dict):
        if batch_tag is not None and batch_tag in parent["batch_tags"]:
            return int(parent["version"])
        if _txn_seen(parent, txn):
            return int(parent["version"])
        if isolation == "strict" and int(parent["version"]) != int(
            parent0["version"]
        ):
            _strict_rebase_check(
                base,
                parent0["version"],
                parent["version"],
                parent0["id_col"],
                probe_vals,
            )
        m = _child(parent, "delete")
        if ref:
            # applies only to data commits older than this delete: a
            # same-id row appended LATER is a new row, not a deleted one
            m["tomb_segs"].append(dict(ref, applies_before=m["version"]))
        m["tomb_schema"] = m.get("tomb_schema") or tomb_schema
        m["rows_removed"] = rows
        if batch_tag is not None:
            m["batch_tags"].append(batch_tag)
        if txn is not None:
            m["txns"][str(txn[0])] = int(txn[1])
        return m

    return _apply_with_retry(base, apply, retries)


def snapshot_delete_where(
    spark: SparkSession,
    base: str,
    where: "str | None" = None,
    between: "tuple | None" = None,
    point: "tuple | None" = None,
    retries: int = 0,
    isolation: str = "lww",
    batch_tag: "str | None" = None,
    txn: "tuple | None" = None,
) -> int:
    """DELETE WHERE — the retention job's surface: resolve the ids
    matching a predicate via a MANIFEST-PRUNED scan, then tombstone
    them through the ordinary :func:`snapshot_delete` path (no data
    rewrite; fold later with compact/optimize).

    The predicate comes in two forms that compose (AND):
    ``between=(col, lo, hi)`` / ``point=(col, value)`` ride
    :func:`snapshot_read`'s zone-map / Bloom file admission, so the
    resolving scan reads only the files whose recorded stats admit the
    range — O(matching-partition scan), not O(table), whenever the
    stats can prune (the age-based ``delete_where(between=("ts", 0,
    cutoff))`` a retention schedule runs against a ts-clustered
    table); ``where="<sql>"`` is an arbitrary row predicate applied on
    top (alone it scans the table once — exactly what the equivalent
    DELETE in any table format costs). The scan projects ONLY the id
    column, so Spark's parquet reader never touches the other columns'
    pages. Returns the new version — or the CURRENT version without
    committing anything when no row matches (a no-op retention tick
    must not burn a version per schedule fire).

    ``batch_tag`` / ``txn`` / ``retries`` / ``isolation`` carry the
    same contracts as :func:`snapshot_delete`. Note the ids are
    resolved against the snapshot CURRENT AT CALL TIME; under
    ``isolation='lww'`` a rebased publish keeps exactly that id set
    (rows appended during the race are NOT re-matched — predicate
    re-evaluation would need ``isolation='strict'`` + retry at the
    caller, the same contract Delta's DELETE rebase has)."""
    parent0 = _load_header(base)
    if batch_tag is not None and batch_tag in parent0["batch_tags"]:
        return int(parent0["version"])
    if _txn_seen(parent0, txn):
        return int(parent0["version"])
    scan = snapshot_read(spark, base, between=between, point=point)
    if where is not None:
        scan = scan.filter(where)
    ids = scan.select(parent0["id_col"])
    if ids.isEmpty():
        return int(parent0["version"])
    return snapshot_delete(
        ids, base, retries=retries, isolation=isolation,
        batch_tag=batch_tag, txn=txn,
    )


def snapshot_upsert(
    df: DataFrame,
    base: str,
    batch_tag: "str | None" = None,
    retries: int = 0,
    txn: "tuple | None" = None,
    isolation: str = "lww",
    merge_schema: bool = False,
) -> int:
    """MERGE-shaped UPSERT in ONE atomic commit: every row of ``df``
    REPLACES any existing row with the same id (tombstone on the
    batch's ids — merge-on-read, no data rewrite) and is appended as
    the new current version of that key. Because both the tombstone
    files and the data files ride a single manifest publication, no
    reader can ever observe the delete without the insert (the
    delete-then-append two-version sequence has exactly that torn
    state between commits). New ids insert, existing ids update —
    MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT, the CDC-apply
    operation every warehouse sink runs. ``batch_tag`` gives the same
    exactly-once replay discipline as :func:`snapshot_append`.
    Tombstones fold at the next :func:`snapshot_compact` as usual.

    Subtlety a naive upsert gets wrong: the batch's OWN rows must not
    be anti-joined away by the tombstones they shipped with — the
    read path applies tombstones only to files from STRICTLY OLDER
    commits (each file entry knows its commit; the tombstone commit
    id rides the tombstone entries).

    Rebase contract (``retries=N``): the default ``isolation='lww'``
    is LAST-WRITER-WINS — a rebased upsert's tombstone scope covers
    matching ids from the commits it raced (CDC-apply semantics);
    ``isolation='strict'`` aborts the rebase when any raced commit
    could touch this batch's ids (:func:`_strict_rebase_check`).

    Schema discipline matches :func:`snapshot_append`: new columns
    require ``merge_schema=True`` (ADD-COLUMN evolution; old files
    read back with NULL), and a type change is rejected up front —
    without the check the store would accept the files and then fail
    at some future read, inside a Spark task."""
    return _merge_shaped_commit(
        df,
        None,
        base,
        "upsert",
        batch_tag=batch_tag,
        retries=retries,
        txn=txn,
        isolation=isolation,
        merge_schema=merge_schema,
    )


def _merge_shaped_commit(
    df: DataFrame,
    tomb_ids: "DataFrame | None",
    base: str,
    op: str,
    batch_tag: "str | None" = None,
    retries: int = 0,
    txn: "tuple | None" = None,
    isolation: str = "lww",
    merge_schema: bool = False,
    prepared_version: "int | None" = None,
) -> int:
    """The upsert/merge commit engine: append ``df``'s rows AND
    tombstone ``tomb_ids`` (default: ``df``'s own ids) in ONE atomic
    manifest publication, with the rows scoped to survive the
    tombstones they shipped with (``applies_before`` = this commit's
    version). :func:`snapshot_upsert` passes ``tomb_ids=None``
    (replace-by-id); :func:`snapshot_merge` passes the union of its
    matched-update and matched-delete ids, which may exceed or
    undercut the row batch's own ids — and pins ``prepared_version``
    to the snapshot its matched-row reads were planned against, so the
    strict-isolation rebase check covers the whole prepare→publish
    window, not just the publish race."""
    _check_isolation(isolation)
    parent0 = _load_header(base)
    if batch_tag is not None and batch_tag in parent0["batch_tags"]:
        return int(parent0["version"])
    if _txn_seen(parent0, txn):
        return int(parent0["version"])
    commit_dir = _next_commit_dir(base, int(parent0["version"]) + 1)
    shutil.rmtree(commit_dir, ignore_errors=True)
    id_col = parent0["id_col"]
    recorded = StructType.fromJson(json.loads(parent0["schema"]))
    id_field = next(f for f in recorded.fields if f.name == id_col)
    w = df.write.mode("overwrite")
    if parent0["part_col"] is not None:
        w = w.partitionBy(*_part_cols(parent0))
    w.parquet(os.path.join(commit_dir, "rows"))
    if tomb_ids is None:
        tomb_ids = df.select(id_col)
    # cast to the RECORDED id type so the tombstone parquet always
    # reads back under the one tomb_schema the manifest records
    tomb_ids.select(
        F.col(tomb_ids.columns[0]).cast(id_field.dataType).alias(id_col)
    ).distinct().write.mode("overwrite").parquet(
        os.path.join(commit_dir, "tomb")
    )
    row_entries, rows = _scan_files(
        os.path.join(commit_dir, "rows"),
        parent0["part_col"],
        parent0["stats_cols"],
        parent0.get("bloom_cols", []),
        spark=df.sparkSession,
    )
    tomb_entries, removed = _scan_files(
        os.path.join(commit_dir, "tomb"), None, []
    )
    if rows == 0:
        row_entries = []  # delete-only merge: no empty data segment
    if removed == 0:
        tomb_entries = []  # insert-only merge: no empty tombstone seg
    tomb_schema = StructType([id_field]).json()
    probe_vals = (
        _probe_vals_from_commit(
            os.path.join(commit_dir, "tomb"), tomb_entries, removed, id_col
        )
        if isolation == "strict"
        else None
    )

    # The upsert invariant ties the batch's rows to its tombstones'
    # scope through the commit-dir VERSION: rows tagged _cv=V with
    # applies_before=V survive their own tombstones while every
    # strictly-older commit's matching rows are replaced. A publish
    # race moves V, so a retry must RENAME the (not-yet-referenced)
    # commit dir to the new version and re-issue the segments — the
    # data files themselves are written exactly once; metadata retry
    # stays O(files-touched). A plain _apply_with_retry would leave
    # the rows at the old _cv and the batch's own tombstones (rebased
    # to the new version) would erase them.
    prep_v = int(
        parent0["version"] if prepared_version is None else prepared_version
    )
    attempt = 0
    while True:
        parent = _load_header(base)
        if batch_tag is not None and batch_tag in parent["batch_tags"]:
            return int(parent["version"])
        if _txn_seen(parent, txn):
            return int(parent["version"])
        if isolation == "strict" and int(parent["version"]) != prep_v:
            _strict_rebase_check(
                base, prep_v, parent["version"], id_col, probe_vals,
            )
        evolved = _schema_evolve(
            parent, df.schema, merge_schema, f"snapshot_{op}"
        )
        target_v = int(parent["version"]) + 1
        if _commit_version(os.path.basename(commit_dir)) != target_v:
            new_dir = _next_commit_dir(base, target_v)
            os.rename(commit_dir, new_dir)
            commit_dir = new_dir
        commit_name = os.path.basename(commit_dir)
        for e in row_entries:
            e["commit"] = f"{commit_name}/rows"
        for e in tomb_entries:
            e["commit"] = f"{commit_name}/tomb"
        # segments are immutable: each attempt issues fresh ones (a
        # loser's segment is an orphan vacuum reclaims)
        row_ref = _seg_write(base, row_entries)
        tomb_ref = _seg_write(base, tomb_entries)
        m = _child(parent, op)
        if evolved is not None:
            m["schema"] = evolved
        if row_ref:
            m["file_segs"].append(dict(row_ref))
        if tomb_ref:
            m["tomb_segs"].append(dict(tomb_ref, applies_before=target_v))
        m["tomb_schema"] = m.get("tomb_schema") or tomb_schema
        m["rows_added"] = rows
        m["rows_removed"] = removed
        if batch_tag is not None:
            m["batch_tags"].append(batch_tag)
        if txn is not None:
            m["txns"][str(txn[0])] = int(txn[1])
        try:
            return _publish(base, m)
        except SnapshotConflict:
            attempt += 1
            if attempt > retries:
                raise
            time.sleep(min(0.05 * (2 ** (attempt - 1)), 1.0))


def snapshot_merge(
    source: DataFrame,
    base: str,
    when_matched_update: "list[str] | str | None" = "all",
    when_matched_delete=None,
    when_not_matched_insert: bool = True,
    batch_tag: "str | None" = None,
    retries: int = 0,
    txn: "tuple | None" = None,
    isolation: str = "lww",
    merge_schema: bool = False,
) -> int:
    """Conditional MERGE — the CDC-apply surface (Delta ``MERGE``,
    Iceberg ``MERGE INTO``), in ONE atomic commit. ``source`` rows
    match target rows on the table's id column; per row:

    * ``when_matched_delete=<condition>`` (a Column or SQL string
      evaluated on the SOURCE row — e.g. ``"op = 'd'"``): matching
      source rows DELETE their target row (merge-on-read tombstone)
      and contribute nothing else.
    * ``when_matched_update``: what a matched (non-delete) source row
      does — ``"all"`` (default) replaces the whole target row with
      the source row (upsert semantics, no target read needed);
      ``["colA", "colB"]`` updates ONLY those columns, keeping every
      other column from the CURRENT target row (``UPDATE SET
      <subset>``); ``None`` leaves matched rows untouched
      (insert-only merge).
    * ``when_not_matched_insert=True`` inserts unmatched source rows
      (columns the source lacks fill with NULL); ``False`` drops them.

    All three effects ride ONE manifest publication (tombstones for
    matched-update/delete ids + the projected insert/update rows
    scoped to survive them) — no reader can observe the delete without
    the insert. An op-coded CDC batch (mixed I/U/D with op codes, the
    q300 feed shape) therefore applies in a single commit::

        snapshot_merge(batch, base, when_matched_update=["val"],
                       when_matched_delete="op = 'd'",
                       txn=("apply", batch_id))

    Matched rows are resolved against the snapshot CURRENT AT CALL
    TIME, with the scan bounded by per-file stats/Bloom admission of
    the source ids when the id set is small (≤ ``_CHANGES_PRUNE_MAX_IDS``)
    — the same metadata pruning the change feed uses, so a trickle
    merge against a huge table reads O(admitting files), not O(table);
    conservative admission (never a false negative) keeps matched-ness
    exact. Source columns the table lacks (e.g. the op code) are
    DROPPED unless ``merge_schema=True``, which ADD-COLUMN-evolves
    them into the table like :func:`snapshot_append` — drop the op
    column first if evolution is on. For partial-column updates the
    source must be unique per id (multiple matches per target row make
    the update ambiguous — the same precondition Delta's MERGE
    enforces).

    ``batch_tag`` / ``txn`` give exactly-once replay;
    ``isolation='strict'`` + ``retries`` aborts the rebase when any
    commit raced between prepare and publish could touch this batch's
    ids, covering the matched-row read window too."""
    spark = source.sparkSession
    parent0 = _load_header(base)
    if batch_tag is not None and batch_tag in parent0["batch_tags"]:
        return int(parent0["version"])
    if _txn_seen(parent0, txn):
        return int(parent0["version"])
    id_col = parent0["id_col"]
    recorded = StructType.fromJson(json.loads(parent0["schema"]))
    table_cols = [f.name for f in recorded.fields]
    upd = when_matched_update
    if isinstance(upd, str):
        if upd != "all":
            raise ValueError(
                "when_matched_update must be 'all', a column list, or "
                f"None — got {upd!r}"
            )
    elif upd is not None:
        upd = list(upd)
        if id_col in upd:
            raise ValueError(
                f"when_matched_update cannot include the merge key "
                f"'{id_col}'"
            )
        missing = [c for c in upd if c not in source.columns]
        if missing:
            raise ValueError(
                f"when_matched_update columns {missing} absent from the "
                "source"
            )
    if id_col not in source.columns:
        raise ValueError(f"source lacks the merge key column '{id_col}'")

    if when_matched_delete is not None:
        cond = (
            F.expr(when_matched_delete)
            if isinstance(when_matched_delete, str)
            else when_matched_delete
        )
        del_ids = source.filter(cond).select(id_col)
        rest = source.filter(~F.coalesce(cond, F.lit(False)))
    else:
        del_ids = None
        rest = source

    def _target():
        """The current snapshot, its scan bounded (when the source id
        set is small) to files whose stats/Bloom admit a source id —
        matched-ness stays exact because admission has no false
        negatives."""
        m = _load_manifest(base, int(parent0["version"]))
        entries = m["files"]
        probe = (
            rest.select(id_col)
            .distinct()
            .limit(_CHANGES_PRUNE_MAX_IDS + 1)
            .collect()
        )  # bounded: ≤ _CHANGES_PRUNE_MAX_IDS + 1 rows
        if (
            len(probe) <= _CHANGES_PRUNE_MAX_IDS
            and len(entries) * max(1, len(probe))
            <= _PROBE_ADMISSION_MAX_CHECKS
        ):
            vals = [r[0] for r in probe]
            entries = [
                e
                for e in entries
                if any(_entry_admits(e, id_col, v) for v in vals)
            ]
        scoped = bool(m["tombstones"])
        tgt = _read_entries(
            spark, base, entries, m["schema"], m["part_col"],
            tag_commit_version=scoped, renames=m.get("renames"),
        )
        if scoped:
            tgt = _anti_tombstones(tgt, _tomb_frame(spark, base, m), id_col)
        return tgt

    out_fields = list(recorded.fields)
    if merge_schema:
        out_fields += [
            f for f in source.schema.fields if f.name not in table_cols
        ]

    def _project(df: DataFrame) -> DataFrame:
        # every leg projects to the SAME output fields (NULL-filled
        # when a leg lacks one) so the legs union cleanly; columns the
        # table lacks are dropped here unless merge_schema evolves them
        return df.select(
            *[
                F.col(f.name)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in out_fields
            ]
        )

    legs: "list[DataFrame]" = []
    tomb_frames: "list[DataFrame]" = (
        [del_ids] if del_ids is not None else []
    )
    if upd == "all":
        if when_not_matched_insert:
            legs.append(_project(rest))
            tomb_frames.append(rest.select(id_col))
        else:
            matched = rest.join(
                _target().select(id_col).distinct(), on=id_col,
                how="left_semi",
            )
            legs.append(_project(matched))
            tomb_frames.append(matched.select(id_col))
    elif upd is not None:
        tgt = _target()
        srcu = rest.select(id_col, *upd)
        upd_rows = (
            tgt.alias("t")
            .join(srcu.alias("s"), F.col(f"t.{id_col}") == F.col(f"s.{id_col}"))
            .select(
                *[
                    F.col(f"s.{c}").alias(c)
                    if c in upd
                    else F.col(f"t.{c}").alias(c)
                    for c in tgt.columns
                ]
            )
        )
        legs.append(_project(upd_rows))
        tomb_frames.append(upd_rows.select(id_col))
        if when_not_matched_insert:
            legs.append(
                _project(
                    rest.join(
                        tgt.select(id_col).distinct(), on=id_col,
                        how="left_anti",
                    )
                )
            )
    else:  # matched rows untouched: insert-only merge
        if when_not_matched_insert:
            legs.append(
                _project(
                    rest.join(
                        _target().select(id_col).distinct(), on=id_col,
                        how="left_anti",
                    )
                )
            )

    if legs:
        body = legs[0]
        for other in legs[1:]:
            body = body.unionByName(other)
    else:
        body = spark.createDataFrame([], recorded)
    if tomb_frames:
        tomb = tomb_frames[0]
        for other in tomb_frames[1:]:
            tomb = tomb.unionByName(
                other.toDF(*tomb.columns), allowMissingColumns=False
            )
    else:
        tomb = spark.createDataFrame([], StructType([recorded[id_col]]))
    return _merge_shaped_commit(
        body,
        tomb,
        base,
        "merge",
        batch_tag=batch_tag,
        retries=retries,
        txn=txn,
        isolation=isolation,
        merge_schema=merge_schema,
        prepared_version=int(parent0["version"]),
    )


def snapshot_restore(base: str, version: int) -> int:
    """Roll back by rolling FORWARD: publish a new snapshot whose
    listing is a copy of ``version``'s segment refs — O(segments),
    nothing is read or rewritten. History stays linear and
    append-only; nothing is deleted."""
    parent = _load_header(base)
    old = _load_header(base, version)
    m = _child(parent, "restore")
    m["file_segs"] = [dict(r) for r in old["file_segs"]]
    m["tomb_segs"] = [dict(r) for r in old["tomb_segs"]]
    m["meta"] = dict(old.get("meta", {}))
    m["restored_from"] = int(version)
    return _publish(base, m)


def _mapping_guard(parent: dict, col: str, op: str) -> None:
    """Shared validation for the header-only column ops: the id column
    and partition columns are load-bearing in file paths, tombstone
    schemas and entry keys — renaming or dropping them would need a
    data rewrite, so both are rejected with that story (the same
    restriction the table formats place on partition columns)."""
    if col == parent["id_col"]:
        raise ValueError(
            f"snapshot_{op}: '{col}' is the table's id column — "
            "tombstone files and merge keys are bound to its name; "
            "this is a table rewrite, not a metadata operation"
        )
    if parent["part_col"] is not None and col in _part_cols(parent):
        raise ValueError(
            f"snapshot_{op}: '{col}' is a partition column — its name "
            "is baked into every data file path; this is a table "
            "rewrite, not a metadata operation"
        )


def snapshot_rename_column(
    base: str, old: str, new: str, retries: int = 0
) -> int:
    """RENAME a column as a HEADER-ONLY commit — no data file is
    touched (Iceberg renames via field-id indirection; here the header
    records ``{from, to, at: version}`` and readers reverse-map each
    file's physical column names from its commit version, which the
    per-commit read grouping makes free). Old snapshots time-travel
    with their old names; files written after the rename use the new
    physical name; zone-map stats and Blooms keep pruning across the
    boundary (probes resolve each entry's physical key the same way).
    Rejected with a clear story: renaming the id column or a partition
    column (their names are load-bearing in paths/tombstones — that is
    a rewrite), renaming onto an existing column, and renaming onto
    any DROPPED or previously-renamed-away name (old files still carry
    that physical column — its stale values would resurrect)."""

    def apply(parent: dict):
        schema = StructType.fromJson(json.loads(parent["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise KeyError(f"snapshot_rename_column: no column '{old}'")
        if new in names:
            raise ValueError(
                f"snapshot_rename_column: column '{new}' already exists"
            )
        banned = set(parent.get("dropped_names", [])) | {
            r["from"] for r in parent.get("renames", [])
        }
        if new in banned:
            raise ValueError(
                f"snapshot_rename_column: '{new}' was previously dropped "
                "or renamed away — old data files still carry a physical "
                "column by that name; reusing it would resurrect their "
                "stale values"
            )
        _mapping_guard(parent, old, "rename_column")
        m = _child(parent, "rename_column")
        m["schema"] = StructType(
            [
                StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in schema.fields
            ]
        ).json()
        m["renames"].append({"from": old, "to": new, "at": m["version"]})
        m["stats_cols"] = [new if c == old else c for c in m["stats_cols"]]
        m["bloom_cols"] = [new if c == old else c for c in m["bloom_cols"]]
        return m

    return _apply_with_retry(base, apply, retries)


def snapshot_drop_column(base: str, col: str, retries: int = 0) -> int:
    """DROP a column as a HEADER-ONLY commit — the recorded schema
    shrinks and every reader simply stops selecting the column (the
    explicit-schema parquet read never touches the dropped pages:
    column pruning makes the drop free at read time too). The physical
    data stays in the files — time travel to pre-drop versions still
    serves it, and vacuum retention governs its erasure, the same
    DATA-vs-HISTORY split as deletes. Re-adding the name is REJECTED
    (the resurrection guard in schema evolution): without field-id
    indirection the old files' stale values would reappear under the
    new column. Dropping the id or a partition column is rejected —
    that is a rewrite."""

    def apply(parent: dict):
        schema = StructType.fromJson(json.loads(parent["schema"]))
        names = [f.name for f in schema.fields]
        if col not in names:
            raise KeyError(f"snapshot_drop_column: no column '{col}'")
        _mapping_guard(parent, col, "drop_column")
        m = _child(parent, "drop_column")
        m["schema"] = StructType(
            [f for f in schema.fields if f.name != col]
        ).json()
        m["dropped_names"].append(col)
        m["stats_cols"] = [c for c in m["stats_cols"] if c != col]
        m["bloom_cols"] = [c for c in m["bloom_cols"] if c != col]
        return m

    return _apply_with_retry(base, apply, retries)


def _physical_name(renames, logical: str, cv: int) -> str:
    """The PHYSICAL column name inside files of commit version ``cv``
    for the current logical name: walk the rename history newest-first
    and un-apply every rename that happened AFTER the file was written
    (rename is a header-only op — no file is ever rewritten). Chained
    renames (A→B at v5, B→C at v9) resolve transitively: a v3 file
    stores C's data under A."""
    name = logical
    for r in sorted(renames or (), key=lambda r: -int(r["at"])):
        if int(r["at"]) > cv and name == r["to"]:
            name = r["from"]
    return name


def _read_entries(
    spark: SparkSession,
    base: str,
    entries: "list[dict]",
    schema_json: str,
    part_col: "str | None",
    tag_commit_version: bool = False,
    renames: "list[dict] | None" = None,
) -> DataFrame:
    """Materialize a manifest file listing as one DataFrame. Files are
    grouped per commit so Spark's partition-value resolution sees each
    commit's own basePath; groups are unioned by name and projected to
    the recorded schema's column order (deterministic regardless of
    which commits survive pruning). The RECORDED schema is handed to
    every reader — planning never opens a footer for inference, so the
    plan cost is O(manifest), not O(files) of metadata round-trips
    (at 100 TB on an object store, inference is thousands of GETs)."""
    schema = StructType.fromJson(json.loads(schema_json))
    cols = [f.name for f in schema.fields]
    if tag_commit_version:
        cols = cols + ["_cv"]
    if not entries:
        out = spark.createDataFrame([], schema)
        if tag_commit_version:
            out = out.withColumn("_cv", F.lit(0).cast("long"))
        return out.select(*cols)
    by_commit: dict[str, list[str]] = {}
    for e in entries:
        by_commit.setdefault(e["commit"], []).append(e["path"])
    parts_frames = []
    for commit, paths in sorted(by_commit.items()):
        cdir = os.path.join(_data_dir(base), commit)
        read_schema, aliases = schema, None
        if renames:
            cv = _commit_version(commit)
            phys = {
                f.name: _physical_name(renames, f.name, cv)
                for f in schema.fields
            }
            if any(phys[n] != n for n in phys):
                # read this commit's files under their PHYSICAL names,
                # then alias back to the current logical names — the
                # per-commit grouping makes rename a pure metadata op
                read_schema = StructType(
                    [
                        StructField(phys[f.name], f.dataType, f.nullable)
                        for f in schema.fields
                    ]
                )
                aliases = [
                    F.col(phys[f.name]).alias(f.name) for f in schema.fields
                ]
        reader = spark.read.schema(read_schema)
        if part_col is not None:
            reader = reader.option("basePath", cdir)
        grp = reader.parquet(*[os.path.join(cdir, p) for p in paths])
        if aliases is not None:
            grp = grp.select(*aliases)
        if tag_commit_version:
            grp = grp.withColumn(
                "_cv", F.lit(_commit_version(commit)).cast("long")
            )
        parts_frames.append(grp)
    df = parts_frames[0]
    for other in parts_frames[1:]:
        df = df.unionByName(other)
    return df.select(*cols)


def _commit_version(commit: str) -> int:
    """'c000004_ab12cd34' or 'c000004_ab12cd34/rows' → 4."""
    import re

    return int(re.match(r"c(\d+)", commit).group(1))


# Tombstones apply only to data files from commits STRICTLY OLDER than
# their applies_before bound: a delete at version V must not erase a
# same-id row appended at V+1, and an upsert's own rows must survive
# the tombstones they shipped with. Entries without a bound (none are
# written anymore, kept for robustness) apply to everything.
_AB_UNBOUNDED = 1 << 62


def _tomb_frame(spark: SparkSession, base: str, m: dict) -> DataFrame:
    """Tombstones of manifest ``m`` as (id_col, _ab) — grouped by their
    applies_before bound so each group carries its bound as a literal."""
    schema_json = m.get("tomb_schema") or StructType().add(
        m["id_col"], "long"
    ).json()
    by_ab: dict[int, list[dict]] = {}
    for e in m["tombstones"]:
        by_ab.setdefault(int(e.get("applies_before", _AB_UNBOUNDED)), []).append(e)
    frames = []
    for ab, entries in sorted(by_ab.items()):
        frames.append(
            _read_entries(spark, base, entries, schema_json, None).withColumn(
                "_ab", F.lit(ab).cast("long")
            )
        )
    if not frames:
        return _read_entries(spark, base, [], schema_json, None).withColumn(
            "_ab", F.lit(_AB_UNBOUNDED).cast("long")
        )
    df = frames[0]
    for other in frames[1:]:
        df = df.unionByName(other)
    return df


def _anti_tombstones(df: DataFrame, tomb: DataFrame, id_col: str) -> DataFrame:
    """Scoped merge-on-read anti-join: drop rows whose id matches a
    tombstone whose bound admits the row's commit (_cv < _ab). The
    equality key keeps the join hash-based; the bound is a residual
    condition. Input ``df`` must carry _cv; it is dropped on the way
    out."""
    t = tomb.select(F.col(id_col).alias("_tid"), "_ab")
    return df.join(
        t, (df[id_col] == t["_tid"]) & (df["_cv"] < t["_ab"]), "left_anti"
    ).drop("_cv")


def snapshot_read(
    spark: SparkSession,
    base: str,
    version: "int | None" = None,
    parts: "list | None" = None,
    between: "tuple | None" = None,
    point: "tuple | None" = None,
    apply_tombstones: bool = True,
    parts_escaped: bool = False,
    as_of_ts=None,
) -> DataFrame:
    """Read one snapshot (latest by default; ``version=N`` is time
    travel, ``as_of_ts=<datetime | epoch-seconds>`` resolves to the
    newest commit at or before that wall-clock via
    :func:`snapshot_version_as_of`). Planning is manifest-only — no
    directory listing:

    * ``parts=[v, ...]`` keeps only entries of those partition VALUES
      (canonicalized through Hive dir-name escaping, so ``None``
      selects the NULL partition; ``parts_escaped=True`` is the
      internal path for callers already holding directory tokens).
    * ``between=(col, lo, hi)`` keeps files whose recorded [min, max]
      for ``col`` overlaps [lo, hi] — zone-map skipping; files without
      stats for ``col`` are conservatively kept. The predicate is ALSO
      applied row-level (the manifest prunes files, the filter prunes
      rows), so the result is exact, not file-granular.
    * ``point=(col, value)`` is the POINT-LOOKUP path: files are kept
      only if the recorded [min, max] admits the value AND the
      per-file Bloom filter (``bloom_cols`` at create time) possibly
      contains it — on a column the layout is NOT sorted by, min/max
      spans the domain in every file and the Bloom is what turns
      "scan the table" into "read ~1 file": each file's Bloom is sized
      from its row count (1024 bits per 100 rows), so a file that
      lacks the value is kept with probability ≈ 0.86% at any file
      size (false positives only cost reading one extra file; the
      row-level equality filter keeps the result exact). Files
      without a Bloom are conservatively kept.
    * tombstones (if any, and ``apply_tombstones``) are anti-joined on
      the table's id column — merge-on-read.
    """
    if as_of_ts is not None:
        if version is not None:
            raise ValueError(
                "snapshot_read: pass version= OR as_of_ts=, not both"
            )
        version = snapshot_version_as_of(base, as_of_ts)
    m = _load_manifest(base, version)
    renames = m.get("renames")
    entries = m["files"]
    if parts is not None:
        n_pc = len(_part_cols(m))
        want = (
            {str(p) for p in parts}
            if parts_escaped
            else {_part_value_token(p, n_pc) for p in parts}
        )
        entries = [e for e in entries if e["part"] in want]
    if between is not None:
        col, lo, hi = between

        def _overlaps(e):
            # per-entry PHYSICAL key: a renamed column's old files
            # recorded their stats under the old name — pruning keeps
            # working across the rename boundary
            pc = (
                _physical_name(renames, col, _commit_version(e["commit"]))
                if renames
                else col
            )
            st = e.get("stats", {}).get(pc)
            return st is None or _stats_admits(st, lo, hi)

        entries = [e for e in entries if _overlaps(e)]
    if point is not None:
        col, value = point

        def _admits(e):
            pc = (
                _physical_name(renames, col, _commit_version(e["commit"]))
                if renames
                else col
            )
            return _entry_admits(e, pc, value)

        entries = [e for e in entries if _admits(e)]
    scoped = bool(apply_tombstones and m["tombstones"])
    df = _read_entries(
        spark, base, entries, m["schema"], m["part_col"],
        tag_commit_version=scoped, renames=renames,
    )
    if between is not None:
        col, lo, hi = between
        df = df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
    if point is not None:
        col, value = point
        df = df.filter(F.col(col) == value)
    if scoped:
        df = _anti_tombstones(df, _tomb_frame(spark, base, m), m["id_col"])
    return df


def _entry_admits(e: dict, col: str, value) -> bool:
    """Manifest-level point admission: min/max stats AND Bloom, each
    conservative when absent or when the probe's kind differs from
    the recorded stats kind (see :func:`_stats_admits`)."""
    st = e.get("stats", {}).get(col)
    if st is not None and not _stats_admits(st, value, value):
        return False
    bl = e.get("bloom", {}).get(col)
    if bl is not None and not _bloom_maybe_contains(bl, value):
        return False
    return True


def snapshot_compact(spark: SparkSession, base: str) -> int:
    """Fold tombstones into the data by rewriting ONLY the partitions
    that contain tombstoned rows, as a NEW commit: survivors of the
    affected partitions are scanned partition-pruned (``parts=``
    manifest pruning, so the scan reads only those partitions' files)
    and written to a fresh commit dir; the new manifest carries every
    unaffected partition's file entries by SEGMENT REF (same immutable
    paths — byte-identical by construction, no copy, no rename, no
    entry rewrite) and drops the tombstones. The affected-partition
    probe is file-pruned by per-file stats/Bloom admission against the
    tombstoned ids when that set is small, so the probe's I/O is
    O(admitting files), not O(table). Affected-partition matching
    canonicalizes collected values through Hive dir-name escaping, so
    NULL-partition rows fold correctly instead of resurrecting. The pre-compaction snapshot remains readable until
    vacuum. No-op (returns current version) when there is nothing to
    fold."""
    parent_h = _load_header(base)
    if not parent_h["tomb_segs"]:
        return int(parent_h["version"])
    parent = _materialize(base, parent_h)
    part_col, id_col = parent["part_col"], parent["id_col"]
    tomb = _tomb_frame(spark, base, parent)
    t = tomb.select(F.col(id_col).alias("_tid"), "_ab")

    def read_tagged(tokens=None):
        return _read_entries(
            spark,
            base,
            parent["files"]
            if tokens is None
            else [e for e in parent["files"] if e["part"] in set(tokens)],
            parent["schema"],
            part_col,
            tag_commit_version=True,
            renames=parent.get("renames"),
        )

    if part_col is None:
        affected_tokens: "list[str] | None" = None
        survivors = _anti_tombstones(read_tagged(), tomb, id_col)
        keep_refs = []
    else:
        # column-pruned: the affected-partition probe only needs
        # (id, part, _cv) — Spark's scan reads just those columns.
        # The probe is also FILE-pruned with the same stats/Bloom
        # admission machinery the change feed uses: when the
        # outstanding tombstone id set is small (the ref summaries
        # bound it — tombstone deltas are O(|ids|)), only files whose
        # zone map / Bloom admits at least one tombstoned id can hold
        # a tombstoned row (admission is conservative, never a false
        # negative), so folding a 1-id delete on a stats-covered id
        # column reads ~1 admitting file, not the table. Above the
        # threshold the full probe remains the fallback.
        pcs = _part_cols(parent_h)
        probe_entries = parent["files"]
        n_tomb_rows = sum(int(r["rows"]) for r in parent_h["tomb_segs"])
        if (
            n_tomb_rows <= _CHANGES_PRUNE_MAX_IDS
            and len(probe_entries) * max(1, n_tomb_rows)
            <= _PROBE_ADMISSION_MAX_CHECKS
        ):
            tomb_ids = [
                r[0] for r in tomb.select(id_col).distinct().collect()
            ]  # bounded: ≤ n_tomb_rows ≤ _CHANGES_PRUNE_MAX_IDS
            probe_entries = [
                e
                for e in probe_entries
                if any(_entry_admits(e, id_col, v) for v in tomb_ids)
            ]
        if probe_entries:
            probe = _read_entries(
                spark, base, probe_entries, parent["schema"], part_col,
                tag_commit_version=True, renames=parent.get("renames"),
            ).select(id_col, *pcs, "_cv")
            hit = probe.join(
                t, (probe[id_col] == t["_tid"]) & (probe["_cv"] < t["_ab"]),
                "left_semi",
            )
            part_rows = hit.select(*pcs).distinct().collect()  # ≤ n_parts
        else:
            part_rows = []
        affected_tokens = sorted(
            {"/".join(_part_token(r[c]) for c in pcs) for r in part_rows}
        )
        if not affected_tokens:
            # every tombstoned id misses the table: just retire them
            m = _child(parent_h, "compact")
            m["tomb_segs"] = []
            return _publish(base, m)
        survivors = _anti_tombstones(
            read_tagged(affected_tokens), tomb, id_col
        )
        keep_refs = [
            r
            for r in (
                _ref_exclude(ref, set(affected_tokens))
                for ref in parent_h["file_segs"]
            )
            if r is not None
        ]
    m = _child(parent_h, "compact")
    commit_dir = _next_commit_dir(base, m["version"])
    shutil.rmtree(commit_dir, ignore_errors=True)
    w = survivors.write.mode("overwrite")
    if part_col is not None:
        w = w.partitionBy(*_part_cols(part_col))
    w.parquet(commit_dir)
    entries, rows = _scan_files(
        commit_dir, part_col, m["stats_cols"], m["bloom_cols"], spark=spark
    )
    new_ref = _seg_write(base, entries)
    m["file_segs"] = (keep_refs if part_col is not None else []) + (
        [new_ref] if new_ref else []
    )
    m["tomb_segs"] = []
    m["compacted_parts"] = affected_tokens
    return _publish(base, m)


def snapshot_replace_partitions(
    df: DataFrame,
    base: str,
    parts: "list",
    op: str = "replace",
    meta: "dict | None" = None,
    parts_escaped: bool = False,
) -> int:
    """MAINTENANCE AS A COMMIT: publish a new snapshot in which the
    listed partitions' contents are exactly ``df`` (which must hold
    only rows of those partitions — enforced by filter) and every
    other partition's file entries carry over by segment ref. This is
    the versioned replacement for the in-place two-rename directory
    swap (functions/index_store._swap_partitions): a rebalance,
    hot-cell split or small-file compaction becomes ordinary history —
    pinned readers are isolated, the pre-maintenance snapshot stays
    readable, and a bad rebalance is one :func:`snapshot_restore`
    away from undone. ``meta`` updates the manifest's side-model
    metadata (e.g. the refreshed coarse centroids riding along with
    the cells they describe, so model and membership version
    TOGETHER — the atomicity the sidecar-file layout cannot give).
    The metadata cost is O(segments + files-written): dropped
    partitions are header math on the carried refs, never an entry
    copy.

    Contract: ``df`` is the listed partitions' new FULL contents. The
    rewritten rows land in a NEW commit, outside the applies_before
    scope of any OUTSTANDING tombstone — so if deletes are pending on
    these partitions, the caller must provide post-delete contents
    (read with tombstones applied, as :func:`snapshot_optimize` does)
    or compact first; including a tombstoned row here resurrects it."""
    parent = _load_header(base)
    part_col = parent["part_col"]
    if part_col is None:
        raise ValueError("snapshot_replace_partitions needs a partitioned table")
    pcs = _part_cols(parent)
    want = (
        {str(p) for p in parts}
        if parts_escaped
        else {_part_value_token(p, len(pcs)) for p in parts}
    )
    m = _child(parent, op)
    commit_dir = _next_commit_dir(base, m["version"])
    shutil.rmtree(commit_dir, ignore_errors=True)
    df.filter(_part_filter(pcs, want)).write.mode(
        "overwrite"
    ).partitionBy(*pcs).parquet(commit_dir)
    entries, rows = _scan_files(
        commit_dir, part_col, m["stats_cols"], m["bloom_cols"],
        spark=df.sparkSession,
    )
    new_ref = _seg_write(base, entries)
    m["file_segs"] = [
        r
        for r in (_ref_exclude(ref, want) for ref in parent["file_segs"])
        if r is not None
    ] + ([new_ref] if new_ref else [])
    m["rows_added"] = rows
    m["replaced_parts"] = sorted(want)
    if meta:
        m["meta"].update(meta)
    return _publish(base, m)


# snapshot_changes prunes the common-file scan with per-file stats and
# Blooms against the flipped-tombstone id set, but only when that set
# is small enough for driver-side admission checks to stay cheap.
_CHANGES_PRUNE_MAX_IDS = 1024

# Driver-side stats/Bloom admission is ~µs per (entry, id) check; the
# prunes that loop entries × ids (compact's affected-file probe,
# merge's matched-read bound) cap the PRODUCT so a huge manifest can
# never spend longer deciding whether to prune than the pruned scan
# would save — above the cap they skip straight to the full scan.
_PROBE_ADMISSION_MAX_CHECKS = 4_000_000


def snapshot_changes(
    spark: SparkSession, base: str, v_from: int, v_to: int
) -> DataFrame:
    """ROW-LEVEL CHANGE FEED between two snapshots — what an
    incremental downstream consumer (a training-data pipeline
    re-sharding only what moved, a derived index, a cache) reads
    instead of re-scanning the table. Because data files are
    immutable, rows can only change visibility through (a) the file
    diff — entries present in one manifest and not the other — and
    (b) the tombstone diff over files common to both. The scan is
    therefore bounded by the files that actually differ, plus — only
    when the tombstone SET changed (header-level segment-ref check) —
    the common files whose per-file min/max stats or Bloom admit at
    least one flipped tombstone id: a 1-id delete on a stats-covered
    id column reads the one admitting file, never the table. A row
    hidden in BOTH versions (doubly-tombstoned ids across a partial
    restore) is no change: flip candidates are re-checked against the
    other side's FULL tombstone set before being emitted. Returns the
    ``v_to`` schema plus a ``_change`` column ('insert' | 'delete');
    a row rewritten byte-identically into a new file (compaction
    survivor) cancels out via EXCEPT ALL and does not appear. Across
    a SCHEMA EVOLUTION boundary both sides are read in ``v_to``'s
    schema — old files fill the added columns with NULL (the same
    rule the plain read applies), so the diff is well-typed and an
    unchanged row still cancels."""
    mf_h = _load_header(base, v_from)
    mt_h = _load_header(base, v_to)
    key = lambda e: (e["commit"], e["path"])  # noqa: E731
    # SEGMENT-LEVEL diff: a ref carried unchanged between the two
    # headers contributes only common files, so its segment is never
    # opened — the metadata cost of the diff is O(segments that
    # differ), not O(table): changes(v, v+1) after one append on a
    # 10⁴-segment table reads ONE segment file. Shared segments with
    # differing included-part maps read only the differing parts.
    # A manifest rewrite renames every segment; entries it re-states
    # land in both added_raw and removed_raw and are reconciled back
    # to common by (commit, path) below — still metadata-only.
    from_refs = {r["seg"]: r for r in mf_h["file_segs"]}
    to_refs = {r["seg"]: r for r in mt_h["file_segs"]}
    added_raw: "list[dict]" = []
    removed_raw: "list[dict]" = []
    common_refs: "list[dict]" = []
    for seg, rt in to_refs.items():
        rf = from_refs.get(seg)
        if rf is None:
            added_raw += _seg_entries(base, rt)
            continue
        new_parts = {
            k: v for k, v in rt["part_stats"].items()
            if k not in rf["part_stats"]
        }
        if new_parts:
            added_raw += _seg_entries(base, dict(rt, part_stats=new_parts))
        shared = {
            k: v for k, v in rt["part_stats"].items()
            if k in rf["part_stats"]
        }
        if shared:
            common_refs.append(dict(rt, part_stats=shared))
    for seg, rf in from_refs.items():
        rt = to_refs.get(seg)
        gone = {
            k: v for k, v in rf["part_stats"].items()
            if rt is None or k not in rt["part_stats"]
        }
        if gone:
            removed_raw += _seg_entries(base, dict(rf, part_stats=gone))
    added_k = {key(e) for e in added_raw}
    removed_k = {key(e) for e in removed_raw}
    both = added_k & removed_k
    added = [e for e in added_raw if key(e) not in both]
    removed = [e for e in removed_raw if key(e) not in both]
    common_extra = [e for e in added_raw if key(e) in both]
    part_col = mt_h["part_col"]
    id_col = mt_h["id_col"]
    tomb_schema = mf_h.get("tomb_schema") or mt_h.get("tomb_schema")
    mf = {
        "id_col": id_col,
        "tomb_schema": tomb_schema,
        "tombstones": [
            e for ref in mf_h["tomb_segs"] for e in _seg_entries(base, ref)
        ],
    }
    mt = {
        "id_col": id_col,
        "tomb_schema": mt_h.get("tomb_schema") or tomb_schema,
        "schema": mt_h["schema"],
        "tombstones": [
            e for ref in mt_h["tomb_segs"] for e in _seg_entries(base, ref)
        ],
    }
    tf = _tomb_frame(spark, base, mf)
    tt = _tomb_frame(spark, base, mt)
    renames = mt_h.get("renames")
    vis_to = _anti_tombstones(
        _read_entries(
            spark, base, added, mt["schema"], part_col,
            tag_commit_version=True, renames=renames,
        ),
        tt,
        id_col,
    )
    vis_from = _anti_tombstones(
        _read_entries(
            spark, base, removed, mt["schema"], part_col,
            tag_commit_version=True, renames=renames,
        ),
        tf,
        id_col,
    )
    inserted = vis_to.exceptAll(vis_from)
    deleted = vis_from.exceptAll(vis_to)
    # visibility flips on UNCHANGED files: net-new tombstones delete,
    # net-dropped tombstones (a restore) resurrect — each within its
    # applies_before scope, and each re-checked against the OTHER
    # side's remaining tombstones (a row still hidden there is not a
    # change). The whole block is gated on the tombstone SET differing
    # at the header level — identical tomb_segs means zero flips and
    # zero extra reads.
    tombs_changed = mf_h["tomb_segs"] != mt_h["tomb_segs"]
    common = (
        common_extra
        + [e for ref in common_refs for e in _seg_entries(base, ref)]
        if tombs_changed and (common_refs or common_extra)
        else []
    )  # common segments are opened ONLY when the tombstone set changed
    if common and tombs_changed:
        new_t = tt.exceptAll(tf).distinct()
        dropped_t = tf.exceptAll(tt).distinct()
        flipped = [
            r[0]
            for r in new_t.select(id_col)
            .union(dropped_t.select(id_col))
            .distinct()
            .limit(_CHANGES_PRUNE_MAX_IDS + 1)
            .collect()  # bounded: tombstone DELTAS are O(|ids|)
        ]
        scan = common
        if (
            len(flipped) <= _CHANGES_PRUNE_MAX_IDS
            and len(common) * max(1, len(flipped))
            <= _PROBE_ADMISSION_MAX_CHECKS
        ):
            # the entries×ids cap (round-11 ADVICE, mirrored from the
            # compact/merge probes): on a table with ~10^6 file entries
            # an unbounded per-id admission sweep is ~10^9 driver-side
            # checks — worse than the scan it prunes
            scan = [
                e
                for e in common
                if any(_entry_admits(e, id_col, v) for v in flipped)
            ]

        def scoped_semi(rows: DataFrame, bounds: DataFrame) -> DataFrame:
            b = bounds.select(F.col(id_col).alias("_tid"), "_ab")
            return rows.join(
                b, (rows[id_col] == b["_tid"]) & (rows["_cv"] < b["_ab"]),
                "left_semi",
            )

        def scoped_anti(rows: DataFrame, bounds: DataFrame) -> DataFrame:
            b = bounds.select(F.col(id_col).alias("_tid"), "_ab")
            return rows.join(
                b, (rows[id_col] == b["_tid"]) & (rows["_cv"] < b["_ab"]),
                "left_anti",
            )

        if scan:
            common_rows = _read_entries(
                spark, base, scan, mt["schema"], part_col,
                tag_commit_version=True, renames=renames,
            )
            deleted = deleted.unionByName(
                scoped_anti(scoped_semi(common_rows, new_t), tf).drop("_cv")
            )
            inserted = inserted.unionByName(
                scoped_anti(scoped_semi(common_rows, dropped_t), tt).drop("_cv")
            )
    return inserted.withColumn("_change", F.lit("insert")).unionByName(
        deleted.withColumn("_change", F.lit("delete"))
    )


_ZORDER_BITS = 8  # 256 buckets/column; k·bits ≤ 62 caps k at 7 columns


def _zorder_sort_key(df: DataFrame, cols: "list[str]"):
    """The Z-order sort key for a multi-column ``cluster_by`` rewrite:
    equal-width bucket ids (``width_bucket`` against a min/max census
    of ``df`` — ONE agg job over the partitions being rewritten, the
    same shape Delta's Z-ORDER pays for its range ids) interleaved via
    :func:`layout.zorder_key_n`. Returns None when any column's type
    has no numeric order (strings — caller falls back to lexical) or
    when more than 7 columns are asked for (62-bit key budget).
    Dates/timestamps/booleans bucket through their numeric casts, so
    temporal retention keys cluster fine."""
    from .layout import zorder_key_n

    if len(cols) * _ZORDER_BITS > 62:
        return None
    numeric = []
    for c in cols:
        dt = df.schema[c].dataType.typeName()
        if dt in ("date", "timestamp", "timestamp_ntz"):
            numeric.append(F.col(c).cast("timestamp").cast("double"))
        elif dt in (
            "byte", "short", "integer", "long", "float", "double",
            "decimal", "boolean",
        ) or dt.startswith("decimal"):
            numeric.append(F.col(c).cast("double"))
        else:
            return None
    row = df.agg(
        *[F.min(nc).alias(f"mn{i}") for i, nc in enumerate(numeric)],
        *[F.max(nc).alias(f"mx{i}") for i, nc in enumerate(numeric)],
    ).first()
    n_bk = 1 << _ZORDER_BITS
    buckets = []
    for i, nc in enumerate(numeric):
        mn, mx = row[f"mn{i}"], row[f"mx{i}"]
        if mn is None or mx is None or mn == mx:
            buckets.append(F.lit(0).cast("long"))
        else:
            # width_bucket: 0 below, n_bk+1 above, NULL in → clamp to
            # [0, n_bk-1]; NULLs sort first (bucket 0), like NULLS FIRST
            buckets.append(
                F.coalesce(
                    F.least(
                        F.greatest(
                            F.width_bucket(nc, F.lit(mn), F.lit(mx), F.lit(n_bk))
                            - F.lit(1),
                            F.lit(0),
                        ),
                        F.lit(n_bk - 1),
                    ),
                    F.lit(0),
                ).cast("long")
            )
    return zorder_key_n(buckets, bits=_ZORDER_BITS)


def snapshot_optimize(
    spark: SparkSession,
    base: str,
    min_files: int = 2,
    parts: "list | None" = None,
    max_records_per_file: "int | None" = None,
    cluster_by: "list[str] | None" = None,
    small_file_bytes: "int | None" = None,
) -> int:
    """SMALL-FILE COMPACTION (the OPTIMIZE of the table formats) as an
    ordinary commit: every partition holding at least ``min_files``
    files (all of them, or just ``parts``) is rewritten as ONE file per
    partition via :func:`snapshot_replace_partitions`; partitions
    already at one file carry over by segment ref, and the change feed
    between the two versions is EMPTY by construction — a physical
    rewrite with zero logical change (pinned in tests through
    :func:`snapshot_changes`). Target selection is pure header math on
    the refs' per-partition summaries — no segment file is opened. The
    streaming-ingest counterpart of compaction: a ``foreachBatch``
    writer commits one small file per partition per micro-batch, and
    read amplification grows with every batch until this folds them.
    Returns the new version (or the current one when nothing
    qualifies). At 100 TB, run per hot partition on a schedule; the
    rewrite budget is the listed partitions' bytes, never table size —
    and set ``max_records_per_file`` so a hot partition bin-packs into
    several right-sized files instead of serializing into one giant
    one (the writer splits at that row count; "one file per partition"
    is the small-table default, not the scale posture). Folding
    commits also bounds the reader's union width: every optimized
    partition's files land in ONE commit directory.

    ``cluster_by=[cols]`` additionally SORTS the rewritten rows within
    each partition by those columns before the writer splits files —
    stats-clustered OPTIMIZE (the sort-order rewrite of the table
    formats; linear order, since the zone map records per-column
    min/max). Combined with ``max_records_per_file``, a hot
    partition's files get near-disjoint ranges on the cluster columns,
    so ``between=``/``point=`` probes admit ~1 file instead of all of
    them — streaming ingest interleaves arrival order; this is the op
    that restores scan-time locality on a schedule.

    ``small_file_bytes=N`` makes targeting SIZE-aware from the refs'
    per-partition byte census (header math, no segment opened): a
    partition qualifies only when its average file size is under N, so
    a scheduled OPTIMIZE never churns partitions that are already
    right-sized — the header-level analog of Iceberg's binpack
    file-size filter."""
    parent = _load_header(base)
    part_col = parent["part_col"]
    if part_col is None:
        raise ValueError("snapshot_optimize needs a partitioned table")
    counts: dict[str, int] = {}
    part_bytes: dict[str, int] = {}
    bytes_known: dict[str, bool] = {}
    for ref in parent["file_segs"]:
        pb = ref.get("part_bytes")
        for k, (n, _rows) in ref["part_stats"].items():
            counts[k] = counts.get(k, 0) + n
            if pb is None or k not in pb:
                bytes_known[k] = False  # legacy ref: no byte census
            else:
                bytes_known.setdefault(k, True)
                part_bytes[k] = part_bytes.get(k, 0) + int(pb[k])
    pcs = _part_cols(parent)
    want = (
        None
        if parts is None
        else {_part_value_token(p, len(pcs)) for p in parts}
    )
    # size-aware targeting (Iceberg binpack's header-level analog):
    # with small_file_bytes set, a partition qualifies only when its
    # AVERAGE file size is below the threshold — right-sized
    # partitions are never churned by the schedule. Partitions whose
    # refs predate the byte census stay count-targeted (conservative).
    targets = sorted(
        p
        for p, n in counts.items()
        if n >= min_files
        and (want is None or p in want)
        and (
            small_file_bytes is None
            or not bytes_known.get(p, False)
            or part_bytes[p] / n < small_file_bytes
        )
    )
    if not targets:
        return int(parent["version"])
    # survivors only: rewritten rows land in a NEW commit, OUTSIDE the
    # scope of outstanding tombstones (applies_before < new version) —
    # carrying a tombstoned row into the rewrite would RESURRECT it.
    # Optimize therefore folds deletes for the partitions it touches
    # (the tombstones stay on the manifest for every other partition).
    packed = snapshot_read(
        spark, base, parts=targets, apply_tombstones=True, parts_escaped=True
    ).repartition(*pcs)
    if cluster_by:
        # partition cols lead the sort so each partition's rows form
        # one contiguous sorted run within its task — the writer then
        # splits that run into range-disjoint files. With ONE cluster
        # column the run is a linear sort; with 2+ it is a Z-ORDER
        # sort (bucketize each column equal-width from a min/max
        # census of the targeted partitions — one cheap agg job —
        # then bit-interleave the bucket ids), so the zone maps
        # tighten on EVERY cluster column instead of only the first:
        # a lexical 2-col sort leaves the second column's per-file
        # range as wide as the domain. Falls back to lexical when a
        # column's type has no numeric order (strings).
        zkey = (
            _zorder_sort_key(packed, cluster_by)
            if len(cluster_by) >= 2
            else None
        )
        if zkey is not None:
            packed = (
                packed.withColumn("_zkey", zkey)
                .sortWithinPartitions(*pcs, "_zkey")
                .drop("_zkey")
            )
        else:
            packed = packed.sortWithinPartitions(*pcs, *cluster_by)
    if max_records_per_file is None:
        return snapshot_replace_partitions(
            packed, base, targets, op="optimize", parts_escaped=True
        )
    prior = spark.conf.get("spark.sql.files.maxRecordsPerFile", None)
    spark.conf.set(
        "spark.sql.files.maxRecordsPerFile", str(int(max_records_per_file))
    )
    try:
        return snapshot_replace_partitions(
            packed, base, targets, op="optimize", parts_escaped=True
        )
    finally:
        # restore, don't clobber: a pre-existing session value (or a
        # concurrent job's) survives this writer
        if prior is None:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        else:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", prior)


# Delta-parity default for the orphan sweep: a week, not an hour — a
# long-running write whose files age past the grace while its header is
# still unlinked would otherwise lose data to a scheduled vacuum.
_ORPHAN_GRACE_DEFAULT = 7 * 24 * 3600.0


def snapshot_vacuum(
    base: str,
    retain_last: int = 1,
    orphan_grace_seconds: "float | None" = _ORPHAN_GRACE_DEFAULT,
    retain_hours: "float | None" = None,
) -> "dict[str, int]":
    """Garbage-collect: delete every data/tombstone file and manifest
    segment referenced ONLY by manifests outside the retention set —
    the newest ``retain_last`` versions, plus (with ``retain_hours=``,
    the production policy every table format ships: "keep 7 days")
    every version whose commit timestamp is within that window — then
    drop those manifests. The deletion set is
    derived from MANIFEST DIFFS (referenced-by-dropped minus
    referenced-by-retained) computed at SEGMENT-REF level: a segment
    is opened only when it can contribute — dropped segments whose
    partitions are gone from every same-named retained ref, and
    retained segments whose recorded commit set intersects the
    candidates' commits (rewrite re-statements, restores) — so the
    happy path (appends, carried refs) opens ZERO segments and a
    maintenance drop opens O(dropped), not O(table). No
    data-directory listing either way, which on an object store is
    exactly the walk the manifest exists to avoid. A directory walk survives only as the ORPHAN
    sweep for aborted commits (files no manifest ever referenced),
    and it is age-guarded at COMMIT granularity: a commit directory's
    orphans are reclaimed only once its NEWEST file is older than
    ``orphan_grace_seconds`` (default 7 days, Delta parity), so an
    IN-FLIGHT commit — data being written, header not yet linked —
    keeps ALL its files as long as the writer keeps writing, however
    long the write phase runs. Pass ``orphan_grace_seconds=None`` to
    skip the orphan walk entirely. Deletion ORDER is crash-safe:
    dropped manifests first, then their segments, then data files — a
    crash at any point leaves only unreferenced orphans for the next
    sweep, never a retained manifest pointing at a deleted segment.
    This is the ONLY operation that deletes anything; until it runs,
    every retained snapshot (and any pinned reader on one) is fully
    intact. Returns ``{"files_deleted": n, "manifests_deleted": n,
    "segments_deleted": n, "tmp_deleted": n}``."""
    versions = snapshot_versions(base)
    if not versions:
        return {
            "files_deleted": 0,
            "manifests_deleted": 0,
            "segments_deleted": 0,
            "tmp_deleted": 0,
        }
    retained = versions[-max(1, int(retain_last)) :]
    if retain_hours is not None:
        # age-based retention joins count-based: any version committed
        # within the window survives (headers without a recorded ts
        # predate timestamp recording and get no age protection — the
        # count floor still keeps the newest)
        cutoff = _now_us() - int(float(retain_hours) * 3600 * 1_000_000)
        kept = set(retained)
        for v in versions:
            if v in kept:
                continue
            ts = _load_header(base, v).get("ts_us")
            if ts is not None and int(ts) >= cutoff:
                kept.add(v)
        retained = sorted(kept)
    dropped = [v for v in versions if v not in retained]

    # SEGMENT-LEVEL diff (round-11 directive #5): the deletion set is
    # computed at ref granularity first, and a segment is opened only
    # when it can actually contribute — the happy path (appends,
    # carried refs, rewrites whose segments survive) opens ZERO
    # retained segments and only the dropped-side segments whose
    # partitions are gone.
    def _ref_maps(vs):
        out: "dict[str, dict]" = {}
        for v in vs:
            h = _load_header(base, v)
            for ref in h["file_segs"] + h["tomb_segs"]:
                d = out.setdefault(
                    ref["seg"], {"parts": set(), "commits": set(), "legacy": False}
                )
                d["parts"] |= set(ref["part_stats"])
                if "commits" in ref:
                    d["commits"] |= set(ref["commits"])
                else:
                    d["legacy"] = True  # pre-round-11 ref: commits unknown
        return out

    kept_map = _ref_maps(retained)
    drop_map = _ref_maps(dropped)
    keep_segs = set(kept_map)
    drop_segs = set(drop_map)

    def _open(seg: str, parts: "set[str]") -> "list[dict]":
        return _seg_entries(
            base, {"seg": seg, "part_stats": {k: None for k in parts}}
        )

    # deletion CANDIDATES: per dropped segment, the partitions gone
    # from every same-named retained ref (a segment whose retained
    # part maps cover its dropped ones contributes nothing and is
    # never opened)
    drop_files: set[str] = set()
    cand_commits: set[str] = set()
    for seg, d in drop_map.items():
        gone = d["parts"] - kept_map.get(seg, {"parts": set()})["parts"]
        if not gone:
            continue
        try:
            entries = _open(seg, gone)
        except FileNotFoundError:
            # a prior vacuum crashed between deleting this segment and
            # its manifest: the files it listed are unreferenced
            # orphans the age-guarded sweep owns
            continue
        for e in entries:
            drop_files.add(os.path.join(e["commit"], e["path"]))
            cand_commits.add(e["commit"])
    # KEEP check: a candidate can only be referenced by a retained ref
    # whose commit set intersects the candidates' commits (a rewrite
    # re-stated it, or a restore resurrected its commit-born segment) —
    # open exactly those, plus legacy refs whose commits are unknown.
    # The keep-set must be complete, so a missing segment HERE raises.
    keep_files: set[str] = set()
    live_commits: set[str] = set()
    for seg, d in kept_map.items():
        live_commits |= d["commits"]
        if not d["legacy"] and not (d["commits"] & cand_commits):
            continue
        for e in _open(seg, d["parts"]):
            keep_files.add(os.path.join(e["commit"], e["path"]))
            live_commits.add(e["commit"])
    # crash-safe order: manifests, then segments, then data files — the
    # reverse (segments before manifests) leaves a crash window where a
    # surviving dropped manifest references deleted segments and every
    # later vacuum's drop-set pass hits FileNotFoundError
    manifests_deleted = 0
    for v in dropped:
        os.unlink(_manifest_path(base, v))
        manifests_deleted += 1
    segments_deleted = 0
    for seg in sorted(drop_segs - keep_segs):
        try:
            os.unlink(_seg_path(base, seg))
            segments_deleted += 1
        except FileNotFoundError:
            pass
    ddir = _data_dir(base)
    files_deleted = 0
    for rel in sorted(drop_files - keep_files):
        full = os.path.join(ddir, rel)
        try:
            os.unlink(full)
            files_deleted += 1
        except FileNotFoundError:
            pass  # excluded-partition entries may already be gone
        d = os.path.dirname(full)
        while len(d) > len(ddir) and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
            d = os.path.dirname(d)
    tmp_deleted = 0
    if orphan_grace_seconds is not None:
        now = time.time()
        if os.path.isdir(ddir):
            # group candidates by commit dir and gate on the commit's
            # NEWEST mtime: an in-flight writer's earliest files stay
            # protected while its latest file is still fresh. LIVE
            # commit dirs (referenced by any retained ref — known from
            # the refs' commit lists without opening segments) are
            # skipped wholesale: their files are governed by manifest
            # diffs, never by the orphan walk.
            by_commit: dict[str, list[str]] = {}
            newest: dict[str, float] = {}
            for root, _dirs, files in os.walk(ddir):
                for fname in files:
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, ddir)
                    levels = rel.split(os.sep)
                    commit = levels[0]
                    # upsert commits record "cN_x/rows" and "cN_x/tomb"
                    if (
                        commit in live_commits
                        or "/".join(levels[:2]) in live_commits
                        or rel in keep_files
                    ):
                        continue
                    try:
                        mt = os.path.getmtime(full)
                    except FileNotFoundError:
                        continue
                    by_commit.setdefault(commit, []).append(full)
                    newest[commit] = max(newest.get(commit, 0.0), mt)
            for commit, cand in by_commit.items():
                if now - newest[commit] < orphan_grace_seconds:
                    continue
                for full in cand:
                    try:
                        os.unlink(full)
                        files_deleted += 1
                    except FileNotFoundError:
                        continue
            for root, _dirs, _files in os.walk(ddir, topdown=False):
                if root != ddir and not os.listdir(root):
                    os.rmdir(root)
        mdir = _manifest_dir(base)
        for fname in os.listdir(mdir):
            is_seg = fname.startswith("seg-")
            # crashed writers leave dot-prefixed temp files behind
            # (_seg_write's '.seg-*.json.tmp', _publish's '.v*.tmp') —
            # reclaim them under the same age guard
            is_tmp = fname.startswith(".") and fname.endswith(".tmp")
            if not (is_seg or is_tmp):
                continue
            if fname in keep_segs:
                continue
            full = _seg_path(base, fname)
            try:
                if now - os.path.getmtime(full) < orphan_grace_seconds:
                    continue
                os.unlink(full)
                if is_seg:
                    segments_deleted += 1
                else:
                    tmp_deleted += 1
            except FileNotFoundError:
                continue
    return {
        "files_deleted": files_deleted,
        "manifests_deleted": manifests_deleted,
        "segments_deleted": segments_deleted,
        "tmp_deleted": tmp_deleted,
    }


def snapshot_rewrite_manifests(
    base: str, max_entries_per_seg: int = 100_000
) -> int:
    """MANIFEST COMPACTION (Iceberg's ``rewrite_manifests``): every
    commit appends one segment ref to the header, so after 10⁴
    streaming micro-batches the header carries 10⁴ refs — still tiny
    next to the old complete-listing layout, but linear in commit
    count. This op bin-packs SMALL refs (fewer than
    ``max_entries_per_seg`` entries) into fresh consolidated segments;
    already-consolidated segments carry over BY REF, untouched —
    Iceberg's small-manifest compaction — so the driver materializes
    only the entries of the refs it folds: memory and I/O are
    O(folded subset), never O(total-files), and repeated maintenance
    on a 10⁸-file table re-bins only the new small refs since last
    time. Tombstone refs group by their applies_before bound (scope is
    ref-level); a bound with a single small ref carries as-is. The
    result publishes as an ordinary snapshot — METADATA ONLY: zero
    data files are read, written, moved, or re-stated, the change feed
    across it is empty by construction, and pinned readers of prior
    versions are untouched. Old segments stay on disk for those
    readers until vacuum retires them with their manifests. Run it on
    the same schedule as :func:`snapshot_optimize`; together they
    bound BOTH the reader's file-union width and the header's ref
    width. No-op (returns the current version) when nothing would
    fold."""
    parent = _load_header(base)
    small_f = [r for r in parent["file_segs"] if r["n"] < max_entries_per_seg]
    big_f = [r for r in parent["file_segs"] if r["n"] >= max_entries_per_seg]
    by_ab: "dict[object, list[dict]]" = {}
    big_t: "list[dict]" = []
    for ref in parent["tomb_segs"]:
        if ref["n"] < max_entries_per_seg:
            by_ab.setdefault(ref.get("applies_before"), []).append(ref)
        else:
            big_t.append(ref)
    fold_files = len(small_f) > 1
    fold_abs = {ab for ab, refs in by_ab.items() if len(refs) > 1}
    if not fold_files and not fold_abs:
        return int(parent["version"])
    m = _child(parent, "rewrite_manifests")
    if fold_files:
        files = [e for ref in small_f for e in _seg_entries(base, ref)]
        m["file_segs"] = [dict(r) for r in big_f] + [
            ref
            for i in range(0, max(len(files), 1), max_entries_per_seg)
            if (ref := _seg_write(base, files[i : i + max_entries_per_seg]))
        ]
    tomb_refs = [dict(r) for r in big_t]
    for ab, refs in sorted(
        by_ab.items(), key=lambda kv: (kv[0] is None, kv[0] or 0)
    ):
        if ab not in fold_abs:
            tomb_refs += [dict(r) for r in refs]
            continue
        entries = [
            e
            for r in refs
            for e in _seg_entries(base, dict(r, applies_before=None))
        ]
        for i in range(0, len(entries), max_entries_per_seg):
            ref = _seg_write(base, entries[i : i + max_entries_per_seg])
            if ref:
                tomb_refs.append(
                    dict(ref, applies_before=ab) if ab is not None else ref
                )
    m["tomb_segs"] = tomb_refs
    return _publish(base, m)


def snapshot_log(spark: SparkSession, base: str) -> DataFrame:
    """The snapshot history as a DataFrame — one row per retained
    version: (version, op, parent, rows_added, rows_removed, n_files,
    n_tombstone_files, visible_rows). Answered from snapshot HEADERS
    alone: every count is summed from the segment refs' summaries —
    no segment file, let alone a data file, is opened, which is
    exactly what makes the manifest the 100 TB bookkeeping layer.
    While tombstones are OUTSTANDING the visible count is not knowable
    from metadata (a tombstoned id may miss the table or match several
    rows), so it is NULL until the next compaction folds them in —
    merge-on-read defers that work by design. ``ts`` is the commit
    wall-clock (UTC; NULL only for headers that predate timestamp
    recording) — the column AS-OF-timestamp reads and age-based vacuum
    retention resolve against."""
    import datetime

    rows = []
    for v in snapshot_versions(base):
        h = _load_header(base, v)
        ts_us = h.get("ts_us")
        rows.append(
            (
                v,
                h["op"],
                h["parent"],
                None
                if ts_us is None
                else datetime.datetime.fromtimestamp(
                    int(ts_us) / 1_000_000, tz=datetime.timezone.utc
                ),
                int(h.get("rows_added", 0)),
                int(h.get("rows_removed", 0)),
                int(sum(ref["n"] for ref in h["file_segs"])),
                int(sum(ref["n"] for ref in h["tomb_segs"])),
                None
                if h["tomb_segs"]
                else int(sum(ref["rows"] for ref in h["file_segs"])),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, op string, parent int, ts timestamp, "
        "rows_added long, rows_removed long, n_files int, "
        "n_tombstone_files int, visible_rows long",
    )
