"""SnapshotLakeTable — a minimal Iceberg-style table format over parquet.

Why this exists: the north rule targets Iceberg ``MERGE INTO``, but this
sandbox image ships no Iceberg runtime jar. The engine therefore talks to a
tiny table-format abstraction with Iceberg's load-bearing properties:

- **atomic snapshot commits with optimistic concurrency**: a snapshot is an
  immutable JSON manifest (data-file list + schema + summary); commit =
  stage the manifest, publish ``v{N}.json`` via an atomic create-if-absent
  (a CAS — a concurrent writer's commit at the same version raises
  ``CommitConflictError``, nothing clobbered), then advance an advisory
  version-hint file. Readers resolve the hint, never see partial state.
  Maintenance rewrites validate per-bucket against their planning snapshot
  and retry on conflict (``_commit_rewrite``); a conflicted merge surfaces
  the broken single-writer invariant. (Iceberg: metadata.json + snapshot
  log + CommitFailedException retry discipline.)
- **log-structured manifests + periodic checkpoints**: a steady-state commit
  persists only its CHANGES against the previous snapshot (replaced bucket
  file lists, appended delta files, added/removed filestats), with a full
  self-contained checkpoint manifest forced every ``CHECKPOINT_INTERVAL``
  commits — the Delta-Lake transaction-log/checkpoint discipline. Without
  this, every commit rewrites the whole file inventory: at the 10^10-row
  geometry (~16k buckets × ~6 files) that is ~25 MB of JSON *per commit*
  (~72 GB/day of metadata at 30s microbatches) and ~0.2s of driver-side
  serial dump time that neither batch size nor executor count amortizes. A
  delta record is O(files this commit touched); readers materialize the
  current snapshot by replaying ≤ interval records onto the last checkpoint
  (cached thereafter), and ``expire_snapshots`` checkpoints the oldest
  retained version before dropping the records it depended on.
- **bucket partitioning + file pruning**: data files are hash-bucketed on
  ``conv_id`` (``pmod(xxhash64(conv_id), n_buckets)``); a MERGE rewrites only
  the buckets its batch touches and carries every other file forward —
  copy-on-write at file granularity, like Iceberg's partition-scoped
  overwrite. At 10^10 rows the bucket count is raised so each file stays
  ~128-512 MB; the merge cost is O(touched buckets), not O(table).
- **merge-on-read deltas + amortized compaction**: with Zipf-skewed feeds
  every batch touches nearly every bucket, so pure copy-on-write rewrites
  ~the whole table per batch — write amplification that grows with table
  size at 10^10 rows (VERDICT r1). Each bucket therefore holds *base* files
  (key-unique, LWW-folded) plus an ordered list of *delta* files (per-batch
  LWW-deduped upserts/tombstones); readers fold base ∪ deltas with the same
  ``max_by(_ts, _event_seq)`` aggregate the merge uses. A bucket is
  compacted (base ∪ deltas → new base) when its pending delta rows reach
  ``ratio`` of its base rows or its delta-file count hits a cap — amortized
  write cost per batch is O(batch · (2 + 1/ratio)), independent of table
  size. (Iceberg v2 merge-on-read / Hudi MOR semantics.) When a batch rivals
  the bucket's base size (bootstrap, small tables) the policy degenerates to
  inline compaction = the old copy-on-write plan, with no extra delta write.
- **exactly-once via commit metadata**: the snapshot summary records the last
  committed streaming batch id (and per-source-partition offsets); replaying
  an already-committed batch is a no-op. (Iceberg: snapshot summary props —
  the standard foreachBatch idempotence pattern.)

On a real cluster with the Iceberg jar, ``merge.py`` swaps this for
``MERGE INTO`` SQL; the surrounding pipeline is unchanged.
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VERSION_HINT = "version-hint.txt"

log = logging.getLogger(__name__)

# process-wide count of driver-side commit rebases (lost CAS races recovered
# WITHOUT re-running Spark jobs) — observability for benches/tests; merge
# metrics report per-batch deltas as ``commit_rebases``
REBASE_COUNT = 0


def _rebase_summary(ours: dict, theirs: dict) -> dict:
    """Merge a commit's summary onto the summary of a snapshot that landed
    concurrently (commit_merge rebase): monotone fields take the max —
    including per-key in the txn watermark map, since ``ours`` carries the
    plan-time (possibly stale) view of OTHER writers' entries and must not
    regress an entry the competitor just advanced. Per-batch advisory
    fields (batch_lineage/batch_events) stay ``ours`` — so a
    MAINTENANCE rebase (whose ``summary`` is a validation-time copy of an
    OLDER snapshot's, not a new batch's) must pass the competitor's summary
    as ``ours`` or it would regress the advisory fields the next merge's
    path planning reads (see ``commit_merge(maintenance=True)``)."""
    out = dict(ours)
    offsets = dict(theirs.get("offsets", {}))
    for p, off in ours.get("offsets", {}).items():
        offsets[p] = max(int(offsets.get(p, -1)), int(off))
    out["offsets"] = offsets
    txn = dict(theirs.get("txn", {}))
    for w, b in ours.get("txn", {}).items():
        txn[w] = max(int(txn.get(w, -1)), int(b))
    out["txn"] = txn
    out["last_batch_id"] = max(
        int(ours.get("last_batch_id", -1)), int(theirs.get("last_batch_id", -1))
    )
    out["n_source_partitions"] = max(
        int(ours.get("n_source_partitions", 0)),
        int(theirs.get("n_source_partitions", 0)),
    )
    return out


class CommitConflictError(RuntimeError):
    """A concurrent writer published the same snapshot version first
    (Iceberg's CommitFailedException). The losing commit published nothing;
    re-read the table state and re-derive the commit (maintenance ops like
    ``compact`` retry automatically — a lost merge means the single-writer
    invariant is broken and is surfaced to the caller)."""


# engine-internal columns stored in the table alongside the public schema:
# LWW version + tombstone flag (kept so out-of-order events arriving in later
# batches can never resurrect a deleted row).
META_COLS = ("_bucket", "_ts", "_event_seq", "_deleted")

KEY_COLS = ("conv_id", "turn_idx")

# Compaction policy, shared by plan_compaction (merge-time split) and the
# delta-first overflow sweep in merge.py so the two sites can never drift:
# compact a bucket once pending delta rows reach COMPACT_RATIO of its base,
# or once its delta-file fan-in would exceed COMPACT_MAX_DELTA_FILES.
COMPACT_RATIO = 0.5
COMPACT_MAX_DELTA_FILES = 8
# Compaction output sizing floor: never split a bucket's fold into files
# smaller than this many records (guards the small-file cliff; tests lower
# it to exercise multi-file-per-bucket layouts at toy scale).
COMPACT_MIN_RECORDS_PER_FILE = 10_000

# Manifest log-structuring: at most this many consecutive delta records
# before a commit is forced to write a full (self-contained) checkpoint
# manifest. Bounds the chain a cold reader must replay to materialize the
# current snapshot (≤ interval JSON reads, each O(commit changes)).
CHECKPOINT_INTERVAL = 20


# XXH64 primes (public-domain xxHash spec; the same constants Spark's
# catalyst XxHash64 expression uses)
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _xxh_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh_round(acc: int, inp: int) -> int:
    return (_xxh_rotl((acc + inp * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Driver-side XXH64, bit-identical to Spark's ``F.xxhash64`` on a
    string column (UTF-8 bytes, default seed 42; signed-64 result like
    Spark's LongType). Lets a point lookup compute its bucket ids without
    launching a Spark job — hashing a handful of literal conversation ids
    through ``createDataFrame(...).collect()`` cost ~1s of driver latency
    per lookup, ~10x the pruned scan itself. Parity with the JVM expression
    is pinned by ``tests/test_table_properties.py`` over random unicode
    strings."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _U64
        v2 = (seed + _XXH_P2) & _U64
        v3 = seed & _U64
        v4 = (seed - _XXH_P1) & _U64
        while i <= n - 32:
            v1 = _xxh_round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        acc = (
            _xxh_rotl(v1, 1) + _xxh_rotl(v2, 7)
            + _xxh_rotl(v3, 12) + _xxh_rotl(v4, 18)
        ) & _U64
        for v in (v1, v2, v3, v4):
            acc ^= _xxh_round(0, v)
            acc = (acc * _XXH_P1 + _XXH_P4) & _U64
    else:
        acc = (seed + _XXH_P5) & _U64
    acc = (acc + n) & _U64
    while i + 8 <= n:
        acc ^= _xxh_round(0, int.from_bytes(data[i:i + 8], "little"))
        acc = (_xxh_rotl(acc, 27) * _XXH_P1 + _XXH_P4) & _U64
        i += 8
    if i + 4 <= n:
        acc ^= (int.from_bytes(data[i:i + 4], "little") * _XXH_P1) & _U64
        acc = (_xxh_rotl(acc, 23) * _XXH_P2 + _XXH_P3) & _U64
        i += 4
    while i < n:
        acc ^= (data[i] * _XXH_P5) & _U64
        acc = (_xxh_rotl(acc, 11) * _XXH_P1) & _U64
        i += 1
    acc ^= acc >> 33
    acc = (acc * _XXH_P2) & _U64
    acc ^= acc >> 29
    acc = (acc * _XXH_P3) & _U64
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def bucket_of(conv_id: str, n_buckets: int) -> int:
    """The bucket id the merge path assigns to ``conv_id`` — driver-side
    twin of ``pmod(xxhash64(conv_id), n_buckets)`` (Python ``%`` on a
    positive modulus matches Spark's ``pmod`` for signed longs)."""
    return xxhash64(conv_id.encode("utf-8")) % n_buckets


def lww_fold(df: DataFrame, cols: list[str]) -> DataFrame:
    """Last-writer-wins reduce per ``KEY_COLS`` key via ``max_by`` over the
    version struct ``(_ts, _event_seq)``. Deliberately an *aggregate*, not a
    window ``row_number``: Catalyst's hash aggregate does map-side partial
    combine, so hot keys collapse before the shuffle (the skew-immune LWW).
    The one fold of the engine: the merge's in-batch dedup and CoW rewrite,
    the live read (``SnapshotLakeTable._live``), compaction, rebucketing and
    ``timetravel`` all call it — associativity of max_by is what makes
    merge-on-read equal to eager copy-on-write. ``cols`` names every column
    of ``df`` in order; callers take it from a driver-side schema, so
    building the fold costs no schema round trip. Output: the key columns,
    then the others in ``cols`` order."""
    return (
        df.groupBy(*KEY_COLS)
        .agg(
            F.max_by(
                F.struct(*[c for c in cols if c not in KEY_COLS]),
                F.struct(F.col("_ts"), F.col("_event_seq")),
            ).alias("_r")
        )
        .select(*KEY_COLS, "_r.*")
    )


def suggest_n_buckets(est_table_bytes: int, target_bucket_bytes: int = 256 << 20) -> int:
    """Bucket count sized to the table (power of two ≥ bytes/target): keeps
    base files in the 128-512 MB sweet spot as the table grows, so compaction
    granularity and scan parallelism track data volume — at 10^10 rows
    (~5 TB of transcript text) this yields ~16k buckets instead of a fixed
    16. Used by the runner CLI when ``--buckets 0`` (auto)."""
    import math

    need = max(est_table_bytes // target_bucket_bytes, 1)
    return max(1 << math.ceil(math.log2(need)), 4)


def _pq_ts_range(md) -> tuple[int | None, int | None]:
    """(min, max) epoch-microseconds of the ``ts`` column from parquet
    row-group statistics (``md``: a pyarrow ``FileMetaData``) — footer
    metadata only, no data pages."""
    import datetime

    try:
        idx = md.schema.names.index("ts")
    except ValueError:
        return None, None
    lo = hi = None
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        stats = group.column(idx).statistics
        if stats is None:
            return None, None  # unknown voids the zone map
        if not stats.has_min_max:
            if stats.null_count == group.num_rows:
                # all-null group: null ts never matches a range predicate,
                # so it constrains nothing — the group is prunable
                continue
            return None, None
        mn, mx = stats.min, stats.max
        if isinstance(mn, datetime.datetime):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=mn.tzinfo)
            us = datetime.timedelta(microseconds=1)
            mn = (mn - epoch) // us
            mx = (mx - epoch) // us
        if not isinstance(mn, int):
            return None, None
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    if lo is None:
        return 0, -1  # every ts is null: the empty range, prunable by any query
    return lo, hi


def _pq_str_range(md, col: str = "conv_id") -> tuple[str | None, str | None]:
    """(min, max) of a string column from parquet row-group statistics
    (``md``: a pyarrow ``FileMetaData``). Parquet stats are conservative
    bounds when truncated (parquet-mr pads/increments the max), so the
    returned range may be wider than the true one but never narrower —
    exactly the zone-map contract (false keeps allowed, false skips not).
    Any group with unusable stats voids the map (None, None) → file kept."""
    try:
        idx = md.schema.names.index(col)
    except ValueError:
        return None, None
    lo = hi = None
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        stats = group.column(idx).statistics
        if stats is None or not stats.has_min_max:
            return None, None
        mn, mx = stats.min, stats.max
        if isinstance(mn, bytes):
            try:
                mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
            except UnicodeDecodeError:
                return None, None
        if not isinstance(mn, str):
            return None, None
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return lo, hi


def _pq_footer(path: str):
    """Parsed parquet footer metadata — one driver-side read powering row
    count + every zone map (no data pages, no Spark job)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata


class SnapshotLakeTable:
    def __init__(self, root: str, n_buckets: int = 16, sort_order: str = "ts"):
        if sort_order not in ("ts", "key"):
            raise ValueError(f"sort_order must be 'ts' or 'key', got {sort_order!r}")
        self.root = root
        self.n_buckets = n_buckets
        # Compaction layout (Iceberg SortOrder analog), TABLE metadata like
        # n_buckets: "ts" time-slices each bucket's base files (read_ts_range
        # skips whole files), "key" clusters them on (conv_id, turn_idx)
        # (read_conv skips whole base files via the cv_* zone maps — the
        # point-lookup-heavy workload's choice). Affects only future
        # compactions/rebuckets, so it may be altered any time
        # (alter_sort_order); the next rewrite adopts the new layout.
        self.sort_order = sort_order
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        # The bucket count is TABLE metadata, not a caller opinion: a reader
        # hashing point lookups with a different count than the writer would
        # silently scan the wrong bucket's files. For an existing table the
        # persisted value wins over the constructor argument (which then only
        # seeds brand-new tables); it changes only via rebucket().
        if self.current_version() > 0:
            # one manifest read serves both property peeks (a checkpoint
            # manifest is filestats-heavy — parsing it twice per table open
            # is pure duplicated driver time)
            peeked = self._peek_meta_keys("n_buckets", "sort_order")
            try:
                persisted = int(peeked.get("n_buckets") or 0)
            except ValueError:
                persisted = 0
            if persisted:
                self.n_buckets = persisted
            ps = peeked.get("sort_order")
            if ps in ("ts", "key"):
                self.sort_order = ps
        # Snapshots are immutable once committed, so parsed manifests are
        # cached by version. At steady state a merge consults the manifest
        # ~6x per batch (idempotence gate, summary, compaction plan, scan,
        # write, commit); re-parsing a filestats-heavy JSON each time is
        # per-batch driver-side SERIAL cost that caps N→4N scaling. Bounded
        # LRU-ish: only the latest few versions stay resident.
        self._snap_cache: dict[int, dict] = {}
        # per-version delta-chain length (0 = full checkpoint on disk),
        # tracked so commit() knows when to force the next checkpoint;
        # populated on every manifest load/write, advisory only (an unknown
        # chain length just forces an early checkpoint — never incorrect)
        self._chain_len: dict[int, int] = {}

    # -- snapshot bookkeeping -------------------------------------------------

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, VERSION_HINT)

    def _advance_hint(self, new_v: int) -> None:
        """Move the advisory version hint forward to ``new_v`` — never
        backward. Skipping the rename when the hint already holds a higher
        version prevents two racing winners' last-writer-wins renames from
        permanently regressing it. The check-then-rename is still a narrow
        TOCTOU window, but a momentarily stale hint is harmless:
        :meth:`current_version` probes forward past it."""
        try:
            with open(self._hint_path()) as f:
                if int(f.read().strip()) >= new_v:
                    return
        except (FileNotFoundError, ValueError):
            pass
        hint_tmp = self._hint_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(hint_tmp, "w") as f:
            f.write(str(new_v))
            f.flush()
            os.fsync(f.fileno())
        os.rename(hint_tmp, self._hint_path())

    def refresh_properties(self, snap: dict | None = None) -> None:
        """Sync this process's table-property attributes (``n_buckets``,
        ``sort_order``) from a snapshot. A long-lived writer object otherwise
        keeps hashing bucket ids with a count another process's ``rebucket()``
        has already evolved — its next merge would route keys to the wrong
        buckets. Merge planning calls this with its planning snapshot, so a
        re-plan after a rebucket conflict adopts the new universe."""
        snap = snap if snap is not None else self.snapshot()
        nb = int(snap.get("n_buckets") or 0)
        if nb > 0:
            self.n_buckets = nb
        so = snap.get("sort_order")
        if so in ("ts", "key"):
            self.sort_order = so

    def _peek_meta_keys(self, *keys: str) -> dict:
        """Table-property keys read directly off the current raw manifest in
        ONE open+parse (full or delta record — both carry the property keys;
        no snapshot cache, callable from __init__)."""
        try:
            with open(os.path.join(self.meta_dir, f"v{self.current_version()}.json")) as f:
                m = json.load(f)
            return {k: m.get(k) for k in keys}
        except (FileNotFoundError, ValueError):
            return {}

    def current_version(self) -> int:
        """Latest committed snapshot version.

        The version hint is advisory: with concurrent cross-process writers
        two winners' hint renames can land out of order (last-writer-wins
        rename), leaving the hint pointing at an older-but-valid snapshot.
        Probe forward from the hint for higher v{N}.json manifests so a
        regressed/stale hint self-heals — otherwise every later commit would
        derive new_v from the stale hint, hit EEXIST, and wedge the table
        for writes. O(gap+1) stat calls; gap is 0 in the steady state."""
        try:
            with open(self._hint_path()) as f:
                v = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            v = 0
        while os.path.exists(os.path.join(self.meta_dir, f"v{v + 1}.json")):
            v += 1
        return v

    @staticmethod
    def _empty_snapshot() -> dict:
        return {
            "version": 0,
            "files": {},
            "deltas": {},
            "filestats": {},
            "schema": None,
            "summary": {"last_batch_id": -1, "offsets": {}},
        }

    def _load_manifest(self, v: int) -> dict:
        """Raw on-disk record for version ``v`` — a full checkpoint manifest
        or a ``kind: delta`` change record; no chain replay."""
        try:
            with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot v{v} does not exist (current={self.current_version()}); "
                "it may have been expired by timetravel.expire_snapshots"
            ) from None

    @staticmethod
    def _apply_delta(base: dict, rec: dict) -> dict:
        """Materialize ``base`` + one delta record into a full snapshot dict
        (exact inverse of ``_encode_commit``'s delta form). Builds NEW
        top-level containers (the snapshot-cache invariant: sub-structures
        are shared frozen across versions, never mutated).

        Per-bucket change forms: ``{"a": [...]}`` appends delta files (base
        list untouched — the steady-state MoR commit); ``{"f": [...],
        "d": [...]}`` replaces both lists (compaction / CoW), implicitly
        dropping the filestats of paths no longer referenced — a path lives
        in exactly one bucket's lists, so the drop set is derivable and
        never serialized."""
        files = dict(base["files"])
        deltas = dict(base["deltas"])
        fs = dict(base["filestats"])
        for b, ch in rec.get("buckets", {}).items():
            if "a" in ch:
                deltas[b] = deltas.get(b, []) + ch["a"]
                continue
            nf, nd = ch.get("f", []), ch.get("d", [])
            dropped = set(files.get(b, ())) | set(deltas.get(b, ()))
            dropped.difference_update(nf)
            dropped.difference_update(nd)
            for p in dropped:
                fs.pop(p, None)
            files[b] = nf
            deltas[b] = nd
        for b in rec.get("del_buckets", ()):
            for p in list(files.pop(b, [])) + list(deltas.pop(b, [])):
                fs.pop(p, None)
        for p in rec.get("del_stats", ()):
            fs.pop(p, None)
        fs.update(rec.get("add_stats", {}))
        out = {
            "version": rec["version"],
            "files": files,
            "deltas": deltas,
            "filestats": fs,
            "schema": rec.get("schema"),
            "summary": rec.get("summary"),
        }
        for k in ("committed_at", "n_buckets", "sort_order", "rebucketed_from"):
            if rec.get(k) is not None:
                out[k] = rec[k]
        return out

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return self._empty_snapshot()
        cached = self._snap_cache.get(v)
        if cached is not None:
            # Shallow top-level copy: callers may rebind keys without
            # corrupting the cache. INVARIANT (shared sub-structures): the
            # files/deltas/filestats/summary values are shared by reference
            # across cached versions for speed — treat them as frozen; build
            # new containers when deriving the next snapshot (commit_merge /
            # compact / _fold_summary all do: dict(prev[...]) + rebind,
            # never in-place mutation).
            return dict(cached)
        # walk the delta chain back to a cached version or a full checkpoint
        # (bounded by CHECKPOINT_INTERVAL records), then replay forward
        records: list[dict] = []
        w = v
        snap: dict
        while True:
            c = self._snap_cache.get(w)
            if c is not None:
                snap = c
                break
            raw = self._load_manifest(w)
            if raw.get("kind") != "delta":
                raw.setdefault("deltas", {})
                raw.setdefault("filestats", {})
                self._chain_len[w] = 0
                snap = raw
                if not records:  # direct full-manifest read: cache and go
                    self._cache_snapshot(w, snap)
                    return dict(snap)
                break
            records.append(raw)
            w = int(raw["base"])
            if w == 0:
                snap = self._empty_snapshot()
                break
        for rec in reversed(records):
            snap = self._apply_delta(snap, rec)
            rv = int(rec["version"])
            # unknown base chain → assume the worst so the next commit
            # checkpoints early (never the reverse: an undercount could let
            # a chain grow without bound)
            self._chain_len[rv] = (
                self._chain_len.get(int(rec["base"]), CHECKPOINT_INTERVAL) + 1
            )
            self._cache_snapshot(rv, snap)
        return dict(snap)

    def _cache_snapshot(self, v: int, snap: dict) -> None:
        self._snap_cache[v] = snap
        for old in [k for k in self._snap_cache if k <= v - 4]:
            del self._snap_cache[old]

    def invalidate_cache(self) -> None:
        """Drop cached manifests (call after expiring snapshots on disk)."""
        self._snap_cache.clear()
        self._chain_len.clear()

    def commit(self, snap: dict, expect_version: int | None = None) -> int:
        """Atomically publish a new snapshot.

        **Optimistic concurrency** (Iceberg snapshot-commit coordination):
        the manifest is staged to a tmp file then published with
        ``os.link`` — an atomic create-if-absent, unlike ``rename`` which
        silently clobbers. If another writer committed ``v{N}.json`` first,
        this commit loses the race and raises :class:`CommitConflictError`
        with nothing published; the caller re-reads the new current snapshot
        and re-derives its commit (``compact`` retries this way; a merge
        treats it as a broken single-writer invariant and surfaces it). The
        version-hint update after a won race is advisory — readers that see
        a stale hint read an older but fully valid snapshot.

        ``expect_version`` turns the publish into a true compare-and-swap:
        the commit lands at exactly ``expect_version + 1`` or conflicts —
        closing the window where a writer lands between a caller's
        validation read and this publish (the maintenance-rewrite path).

        **What hits the disk** is a delta record (the changes vs the previous
        snapshot) unless the chain since the last full checkpoint has reached
        ``CHECKPOINT_INTERVAL``, the bucket count changed (rebucket — every
        bucket differs anyway), or the previous chain length is unknown —
        then a full manifest. The published file is the atomic CAS unit
        either way; in-memory snapshots are always materialized."""
        new_v = (
            expect_version if expect_version is not None else self.current_version()
        ) + 1
        snap = dict(snap, version=new_v, committed_at=time.time())
        snap.setdefault("deltas", {})
        snap.setdefault("filestats", {})
        # Table properties (n_buckets / sort_order) ride every manifest so
        # readers can never hash point lookups with a different count than
        # the files were written under. They are inherited from the PREVIOUS
        # snapshot, not this process's attributes: a long-lived writer whose
        # object predates another process's rebucket()/alter_sort_order()
        # must not revert the committed property (only those two methods set
        # the keys explicitly). First commit falls back to the constructor.
        if "n_buckets" not in snap or "sort_order" not in snap:
            prev_props = self.snapshot(new_v - 1) if new_v > 1 else {}
            snap.setdefault(
                "n_buckets", prev_props.get("n_buckets") or self.n_buckets
            )
            so = prev_props.get("sort_order")
            snap.setdefault(
                "sort_order", so if so in ("ts", "key") else self.sort_order
            )
        record, chain = self._encode_commit(new_v, snap)
        path = os.path.join(self.meta_dir, f"v{new_v}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            # dumps-then-write: json.dump's streaming path falls back to the
            # pure-Python encoder (~5x slower on MB-scale manifests)
            f.write(json.dumps(record))
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # atomic publish-if-absent (EEXIST on race)
        except FileExistsError:
            os.unlink(tmp)
            # fast-forward the hint past the winner so the caller's retry
            # (which re-reads current_version) starts from fresh state even
            # if the winner's own hint rename hasn't landed yet
            self._advance_hint(new_v)
            raise CommitConflictError(
                f"snapshot v{new_v} was committed concurrently by another "
                f"writer; re-read the table and re-derive this commit"
            ) from None
        os.unlink(tmp)
        self._advance_hint(new_v)
        self._chain_len[new_v] = chain
        self._cache_snapshot(new_v, snap)
        return new_v

    def _encode_commit(self, new_v: int, snap: dict) -> tuple[dict, int]:
        """On-disk record for ``snap`` at version ``new_v``: ``(record,
        chain_len)`` where the record is either the full manifest (chain 0)
        or a ``kind: delta`` change set against version ``new_v - 1``.

        The diff is identity-shortcut dict compares (callers derive the next
        snapshot by rebinding only touched buckets, so untouched values
        compare by reference) — O(total buckets) pointer checks, but only
        O(touched files) gets serialized and fsynced. At the 10^10 geometry
        that is ~25 MB/commit → ~O(batch) KB-MB/commit."""
        prev_v = new_v - 1
        prev_chain = self._chain_len.get(prev_v)
        if (
            prev_v == 0
            or prev_chain is None
            or prev_chain + 1 > CHECKPOINT_INTERVAL
        ):
            return snap, 0
        prev = self.snapshot(prev_v)
        if int(prev.get("n_buckets") or 0) != int(snap.get("n_buckets") or 0):
            return snap, 0  # rebucket: every bucket changed, delta ≈ full
        pf, pd, pfs = prev["files"], prev["deltas"], prev["filestats"]
        sf = snap.get("files", {})
        sd = snap.get("deltas", {})
        sfs = snap.get("filestats", {})
        buckets: dict[str, dict] = {}
        inferred_drops: set[str] = set()
        for b in sf.keys() | sd.keys():
            of, od = pf.get(b, []), pd.get(b, [])
            nf, nd = sf.get(b, []), sd.get(b, [])
            if of is nf or of == nf:
                if od is nd or od == nd:
                    continue  # untouched bucket (the identity check is the
                    # common fast path: callers rebind only touched buckets)
                if len(nd) > len(od) and nd[: len(od)] == od:
                    # pure delta append — the steady-state MoR form: encode
                    # only the appended suffix, not the accumulated list
                    buckets[b] = {"a": nd[len(od):]}
                    continue
            buckets[b] = {"f": nf, "d": nd}
            inferred_drops.update(of)
            inferred_drops.update(od)
            inferred_drops.difference_update(nf)
            inferred_drops.difference_update(nd)
        del_buckets = [b for b in pf.keys() | pd.keys() if b not in sf and b not in sd]
        for b in del_buckets:
            inferred_drops.update(pf.get(b, ()))
            inferred_drops.update(pd.get(b, ()))
        rec = {
            "kind": "delta",
            "base": prev_v,
            "version": new_v,
            "committed_at": snap.get("committed_at"),
            "n_buckets": snap.get("n_buckets"),
            "sort_order": snap.get("sort_order"),
            "schema": snap.get("schema"),
            "summary": snap.get("summary"),
            "buckets": buckets,
            "add_stats": {
                p: s for p, s in sfs.items()
                if pfs.get(p) is not s and pfs.get(p) != s
            },
            # stats drops are inferred from list changes at apply time; the
            # explicit list covers only drops with no list-change witness
            # (shouldn't occur — kept so encode∘apply is exactly identity)
            "del_stats": [
                p for p in pfs
                if p not in sfs and p not in inferred_drops
            ],
        }
        if del_buckets:
            rec["del_buckets"] = del_buckets
        if snap.get("rebucketed_from") is not None:
            rec["rebucketed_from"] = snap["rebucketed_from"]
        return rec, prev_chain + 1

    def checkpoint_manifest(self, version: int) -> bool:
        """Rewrite ``v{version}.json`` as a full self-contained manifest if it
        is currently a delta record — logically the identical snapshot, so
        the atomic in-place replace is safe for concurrent readers. Used by
        ``expire_snapshots`` before it drops the older records a retained
        delta would otherwise depend on. Returns True if rewritten."""
        raw = self._load_manifest(version)
        if raw.get("kind") != "delta":
            return False
        snap = self.snapshot(version)
        path = os.path.join(self.meta_dir, f"v{version}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(json.dumps(snap))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        self._chain_len[version] = 0
        return True

    def last_batch_id(self, writer_id: str | None = None) -> int:
        """Idempotence watermark. With ``writer_id``, the per-writer
        transaction version (the Delta-lake ``txn`` appId analog): each
        writer's applied batch ids advance independently, so N CDC shards
        can ingest one table without one writer's high batch id making
        another writer skip its own batches. ``None`` = the legacy global
        single-writer watermark."""
        summary = self.snapshot()["summary"]
        if writer_id is not None:
            return int(summary.get("txn", {}).get(writer_id, -1))
        return int(summary.get("last_batch_id", -1))

    # -- reads ---------------------------------------------------------------
    # Each public read (``read``, ``read_conv``, ``read_ts_range``) only
    # chooses files from the manifest and hands them to ``_live``, the one
    # live-read rule. ``read_raw`` is the unfolded scan that the merge,
    # compaction and the change feed fold themselves.

    def schema(self, version: int | None = None) -> T.StructType | None:
        s = self.snapshot(version).get("schema")
        return T.StructType.fromJson(s) if s else None

    def _paths(self, snap: dict, buckets: list[int] | None = None) -> list[str]:
        """Relative base + delta file paths of ``buckets`` (default: every
        bucket) in ``snap``. A time-travel read uses the bucket universe of
        THAT snapshot — after rebucket() the current count no longer
        describes old manifests."""
        sel = range(int(snap.get("n_buckets") or self.n_buckets)) if buckets is None else buckets
        return [
            p for b in sel
            for p in snap["files"].get(str(b), []) + snap["deltas"].get(str(b), [])
        ]

    def _live(
        self, spark: SparkSession, snap: dict, paths: list[str], key_filter=None
    ) -> DataFrame:
        """Live rows of ``paths`` (relative, chosen from ``snap``): read with
        the snapshot's own schema, ``key_filter`` applied BEFORE the fold,
        the LWW fold only if one of ``paths`` is a delta file, tombstones
        dropped AFTER the fold, public columns in schema order. With no
        paths: the typed empty public frame, so an absent-key lookup still
        fits unionByName/fixed-schema sinks downstream.

        ``key_filter`` must be a predicate on the fold key: the fold is per
        key, so dropping other keys' rows up front is exact, and as a scan
        predicate it reaches the parquet reader (row-group min/max skipping
        inside kept files). The tombstone filter must stay post-fold: a
        delete may be the newest version, and filtering it first would
        resurrect the older row."""
        full = T.StructType.fromJson(snap["schema"]) if snap.get("schema") else T.StructType([])
        public = [f for f in full.fields if f.name not in META_COLS]
        if not paths:
            return spark.createDataFrame([], T.StructType(public))
        df = spark.read.schema(full).parquet(*[os.path.join(self.root, p) for p in paths])
        if key_filter is not None:
            df = df.filter(key_filter)
        if not {p for ps in snap["deltas"].values() for p in ps}.isdisjoint(paths):
            df = lww_fold(df, full.fieldNames())
        return df.filter(~F.col("_deleted")).select(*[f.name for f in public])

    def read_raw(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        version: int | None = None,
    ) -> DataFrame | None:
        """Scan base + delta files of the given buckets (file pruning), WITHOUT
        the LWW fold — a key may appear once per delta file, and tombstones
        and meta columns are kept. Callers fold. ``version`` time-travels to
        an older snapshot (Iceberg snapshot-id read); snapshots are immutable
        manifests, so an old read is just the old file list — provided the
        files haven't been vacuumed (``timetravel.expire_snapshots``)."""
        snap = self.snapshot(version)
        paths = self._paths(snap, buckets)
        if not paths:
            return None
        return spark.read.schema(T.StructType.fromJson(snap["schema"])).parquet(
            *[os.path.join(self.root, p) for p in paths]
        )

    def has_deltas(self, version: int | None = None) -> bool:
        return any(ps for ps in self.snapshot(version)["deltas"].values())

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Table state as of ``version`` (default: current), restricted to
        ``buckets`` (default: all). Public view: tombstones filtered, meta
        hidden; the LWW fold runs only when a delta file is scanned
        (merge-on-read)."""
        snap = self.snapshot(version)
        return self._live(spark, snap, self._paths(snap, buckets))

    def read_conv(
        self,
        spark: SparkSession,
        conv_ids: list[str],
        version: int | None = None,
    ) -> DataFrame:
        """Point lookup: current state of the given conversations, scanning
        ONLY their hash buckets' files (the Iceberg bucket-transform
        file-skipping path). At 10^10 rows a conversation fetch touches
        1/n_buckets of the table instead of all of it; the bucket ids come
        from ``bucket_of`` — the driver-side twin of the merge path's
        ``pmod(xxhash64(conv_id), n_buckets)`` partitioning expression —
        so planning the lookup launches NO Spark job (hashing the literal
        ids through a collect cost ~1s/lookup, ~10x the pruned scan).
        Within those buckets ``_conv_prune`` skips files by zone map; the
        fold runs only if a kept file is a delta, so a lookup over
        compacted (or delta-pruned) buckets skips the groupBy shuffle even
        while other buckets still carry deltas."""
        snap = self.snapshot(version)
        nb = int(snap.get("n_buckets") or self.n_buckets)
        buckets = sorted({bucket_of(c, nb) for c in conv_ids})
        paths, _skipped = self._conv_prune(snap, buckets, conv_ids)
        return self._live(spark, snap, paths, F.col("conv_id").isin(conv_ids))

    def _conv_prune(
        self, snap: dict, buckets: list[int], conv_ids: list[str]
    ) -> tuple[list[str], int]:
        """Sub-bucket file skipping for point lookups: within the candidate
        buckets, drop every file whose [cv_min, cv_max] footer zone map
        contains none of the requested conversation ids. SAFE UNDER
        MERGE-ON-READ, unlike ts pruning: conv_id is the fold KEY, so a file
        holding none of the requested keys contributes nothing to their LWW
        fold — the rule applies to base AND delta files alike (a delta file
        covers only its batch's conversations, so lookups skip most deltas
        even under the default ts sort order; base-file skipping needs
        sort_order="key" clustering). Files without a map are kept.
        Returns (paths_to_read, files_skipped)."""
        import bisect

        want = sorted(set(conv_ids))
        fstats = snap.get("filestats", {})

        def _hit(rel: str) -> bool:
            st = fstats.get(rel, {})
            lo, hi = st.get("cv_min"), st.get("cv_max")
            if lo is None or hi is None:
                return True  # no zone map: must read
            i = bisect.bisect_left(want, lo)
            return i < len(want) and want[i] <= hi

        paths, skipped = [], 0
        for b in buckets:
            for rel in snap["files"].get(str(b), []) + snap["deltas"].get(str(b), []):
                if _hit(rel):
                    paths.append(rel)
                else:
                    skipped += 1
        if skipped:
            log.debug("[read_conv] zone-map skipped %d files, reading %d",
                      skipped, len(paths))
        return paths, skipped

    def read_ts_range(
        self,
        spark: SparkSession,
        ts_from,
        ts_to,
        version: int | None = None,
    ) -> DataFrame:
        """Rows whose (LWW-final) ``ts`` falls in [ts_from, ts_to], skipping
        base files whose footer zone map does not overlap the range.

        Pruning is only applied to buckets with NO pending deltas: under
        merge-on-read, dropping a file that holds a key's NEWEST version
        (outside the range) while keeping an older in-range version would
        resurrect the old row — so delta-carrying buckets are read whole and
        folded, and the range filter runs after the fold. Compaction
        therefore also restores full skipping power.
        ``ts_from``/``ts_to`` are datetimes or epoch-micro ints."""
        import datetime

        def _us(v):
            if isinstance(v, datetime.datetime):
                epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
                # exact integer micros: total_seconds() is a float64 and can
                # round a boundary microsecond
                return (v - epoch) // datetime.timedelta(microseconds=1)
            return int(v)

        lo, hi = _us(ts_from), _us(ts_to)
        snap = self.snapshot(version)
        fstats = snap.get("filestats", {})
        paths = []
        for b in range(int(snap.get("n_buckets") or self.n_buckets)):
            deltas = snap["deltas"].get(str(b), [])
            base = snap["files"].get(str(b), [])
            if deltas:
                paths += base + deltas  # no pruning: fold needs every version
                continue
            for rel in base:
                st = fstats.get(rel, {})
                zmin, zmax = st.get("ts_min"), st.get("ts_max")
                if zmin is not None and (zmax < lo or zmin > hi):
                    continue  # file skipped by zone map
                paths.append(rel)
        live = self._live(spark, snap, paths)
        if not paths:
            return live  # typed empty frame; a schema-less table has no ts
        ts_col = F.col("ts")
        return live.filter(
            (ts_col >= F.timestamp_micros(F.lit(lo)))
            & (ts_col <= F.timestamp_micros(F.lit(hi)))
        )

    # -- writes ---------------------------------------------------------------

    def write_files(
        self, df: DataFrame, buckets: list[int], max_records_per_file: int = 0
    ) -> tuple[str, dict, dict]:
        """Materialize ``df`` (must contain ``_bucket``) as uncommitted data
        files, laid out per bucket. Returns ``(out_rel, files_by_bucket,
        filestats)`` where filestats maps each new relpath to its
        ``{"bytes", "rows"}`` (parquet-footer metadata, driver-side, no job).
        Nothing is visible to readers until a commit — the write/commit split
        lets an optimistic merge validate the batch (e.g. the schema-anomaly
        observation) AFTER the files exist and abort without a trace
        (Iceberg's uncommitted-snapshot discipline)."""
        prev = self.snapshot()
        out_rel = os.path.join("data", f"w{prev['version'] + 1}-{uuid.uuid4().hex[:8]}")
        out_abs = os.path.join(self.root, out_rel)
        t_j0 = time.perf_counter()
        # partition the write by a *copy* of the bucket column: partitionBy
        # strips its column from the files, and we need _bucket readable when
        # scanning leaf files directly (no basePath reconstruction).
        writer = df.withColumn("_bp", F.col("_bucket")).write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy("_bp").parquet(out_abs)
        t_j1 = time.perf_counter()
        new_files: dict[str, list[str]] = {str(b): [] for b in buckets}
        stats: dict[str, dict] = {}
        rels = []
        for bdir in os.listdir(out_abs):
            if not bdir.startswith("_bp="):
                continue
            b = bdir.split("=", 1)[1]
            for fn in os.listdir(os.path.join(out_abs, bdir)):
                if fn.endswith(".parquet"):
                    rel = os.path.join(out_rel, bdir, fn)
                    new_files.setdefault(b, []).append(rel)
                    rels.append(rel)
        # footer reads in a driver thread pool: a salted/rebalanced write
        # lands 1-2 files per bucket (64-128 files); reading them serially
        # was ~0.5-1.5s of driver time PER BATCH — a fixed cost that caps
        # scaling efficiency (it doesn't shrink with executor count)
        from concurrent.futures import ThreadPoolExecutor

        def _stat(rel: str) -> tuple[str, dict]:
            ap = os.path.join(self.root, rel)
            md = _pq_footer(ap)
            st = {"bytes": os.path.getsize(ap), "rows": md.num_rows}
            zmin, zmax = _pq_ts_range(md)
            if zmin is not None:
                # zone map: per-file ts range from parquet footer statistics
                # (no data read) — powers read_ts_range file skipping
                st["ts_min"], st["ts_max"] = zmin, zmax
            cmin, cmax = _pq_str_range(md, "conv_id")
            if cmin is not None:
                # key zone map — powers read_conv sub-bucket file skipping.
                # Discriminating on base files only under sort_order="key"
                # (ts-sorted bases span all convs); always useful on delta
                # files, which cover only their batch's conversations.
                st["cv_min"], st["cv_max"] = cmin, cmax
            return rel, st

        with ThreadPoolExecutor(max_workers=min(16, max(len(rels), 1))) as ex:
            stats.update(dict(ex.map(_stat, rels)))
        log.debug("[write_files] sparkjob=%.2fs liststats=%.2fs files=%d",
                  t_j1 - t_j0, time.perf_counter() - t_j1, len(rels))
        return out_rel, new_files, stats

    def abort_files(self, out_rel: str) -> None:
        """Discard an uncommitted write (never referenced by any snapshot)."""
        import shutil

        shutil.rmtree(os.path.join(self.root, out_rel), ignore_errors=True)

    # -- merge-on-read ----------------------------------------------------------

    def bucket_stats(self) -> dict[int, dict]:
        """Per-bucket ``{base_rows, delta_rows, delta_files}`` from the
        manifest — the compaction policy's inputs, zero I/O."""
        snap = self.snapshot()
        fs = snap["filestats"]
        out: dict[int, dict] = {}
        for b in range(self.n_buckets):
            base = snap["files"].get(str(b), [])
            deltas = snap["deltas"].get(str(b), [])
            out[b] = {
                "base_rows": sum(fs.get(p, {}).get("rows", 0) for p in base),
                "delta_rows": sum(fs.get(p, {}).get("rows", 0) for p in deltas),
                "delta_files": len(deltas),
            }
        return out

    def plan_compaction(
        self,
        batch_rows_by_bucket: dict[int, int],
        ratio: float = COMPACT_RATIO,
        max_delta_files: int = COMPACT_MAX_DELTA_FILES,
        incoming_delta: bool = True,
    ) -> tuple[list[int], list[int]]:
        """Split the batch's buckets into (compact-inline, merge-on-read).

        Compact bucket ``b`` now iff pending rows (this batch + accumulated
        deltas) ≥ ``ratio`` · base rows, or the delta-file count would exceed
        ``max_delta_files`` (bounds read fan-in). Amortized analysis: a
        compaction costing O(base + delta) runs only once per ≥ ratio·base
        delta rows, so per-delta-row cost ≤ 1 + 1/ratio — write amplification
        is a constant, independent of table size. Small tables / bootstrap
        (base ≈ 0) always compact inline, which IS the copy-on-write plan —
        no delta write, no extra shuffle.

        ``incoming_delta`` models the one delta file the CURRENT batch would
        add to ``b`` if it goes merge-on-read. The merge-time split keeps the
        default True; the 0-row overflow sweep (merge.py) passes False so a
        probe with no incoming batch asks exactly "do the ACCUMULATED files
        alone exceed the cap?" — without it the sweep fires one file early
        (at 8 where the policy says >8), a silent tightening."""
        stats = self.bucket_stats()
        cow: list[int] = []
        mor: list[int] = []
        would_add = 1 if incoming_delta else 0
        for b, n in sorted(batch_rows_by_bucket.items()):
            s = stats.get(b) or {"base_rows": 0, "delta_rows": 0, "delta_files": 0}
            pending = n + s["delta_rows"]
            if (
                s["base_rows"] == 0
                or pending >= ratio * s["base_rows"]
                or s["delta_files"] + would_add > max_delta_files
            ):
                cow.append(b)
            else:
                mor.append(b)
        return cow, mor

    # -- maintenance claims ---------------------------------------------------

    def try_claim(self, name: str, ttl_sec: float = 900.0) -> bool:
        """Advisory maintenance claim via atomic create-if-absent (the same
        primitive the commit CAS uses, so it needs nothing beyond a
        rename-atomic store). Concurrent writers use claims to avoid running
        DUPLICATE maintenance jobs — without them, two writers observing the
        same overflowing bucket both run the full fold and the loser's
        output is dropped by rewrite validation (measured: two writers
        replaying into one shared table ran ~2x the compaction events of
        the same feeds in separate tables). Claims
        are advisory (correctness never depends on them — validation still
        gates the commit) and self-expire after ``ttl_sec`` so a crashed
        holder cannot wedge maintenance."""
        path = os.path.join(self.meta_dir, "claims", name + ".lock")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        for _ in range(2):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return True
            except FileExistsError:
                try:
                    age = time.time() - os.stat(path).st_mtime
                except OSError:
                    continue  # holder released between open and stat: retry
                if age <= ttl_sec:
                    return False
                try:
                    os.unlink(path)  # stale (crashed holder): break and retry
                except OSError:
                    pass
        return False

    def release_claim(self, name: str) -> None:
        try:
            os.unlink(os.path.join(self.meta_dir, "claims", name + ".lock"))
        except OSError:
            pass

    def compact(self, spark: SparkSession, buckets: list[int] | None = None) -> int:
        """Maintenance compaction: fold base ∪ deltas of the given buckets
        (default: every bucket holding deltas) into fresh key-unique base
        files. State-preserving (same LWW fold the readers apply); tombstones
        are kept so late out-of-order events still cannot resurrect rows.

        Buckets another process currently holds a maintenance claim on are
        skipped (they stay uncompacted until the holder finishes or next
        maintenance) — see ``try_claim``."""
        snap = self.snapshot()
        # default: only delta-holding buckets need folding; an EXPLICIT
        # bucket list forces a rewrite even without deltas (Iceberg's
        # rewrite_data_files — re-sorts/re-splits base files so zone maps
        # regain skipping power after the layout degrades)
        todo = [
            b for b in (range(self.n_buckets) if buckets is None else buckets)
            if snap["deltas"].get(str(b))
            or (buckets is not None and snap["files"].get(str(b)))
        ]
        todo = [b for b in todo if self.try_claim(f"compact-b{b}")]
        if not todo:
            return self.current_version()
        try:
            return self._compact_claimed(spark, snap, todo)
        finally:
            for b in todo:
                self.release_claim(f"compact-b{b}")

    def _sort_cols(self) -> tuple[str, ...]:
        """Within-bucket compaction sort columns for the table's sort order:
        "ts" time-slices (narrow ts_min/ts_max footer zone maps →
        read_ts_range file skipping), "key" clusters conversations (narrow
        cv_min/cv_max maps → read_conv base-file skipping, plus parquet
        row-group pruning on the merge join key)."""
        return (
            ("_bucket", "conv_id", "turn_idx")
            if self.sort_order == "key"
            else ("_bucket", "ts")
        )

    def alter_sort_order(self, sort_order: str) -> int:
        """Change the table's compaction sort order (Iceberg `ALTER TABLE ..
        WRITE ORDERED BY` analog): a metadata-only commit — existing files
        keep their layout and stay correct (zone maps are conservative);
        each bucket adopts the new layout at its next compaction/rebucket.
        Force it table-wide immediately with ``compact(spark,
        buckets=range(n_buckets))``."""
        if sort_order not in ("ts", "key"):
            raise ValueError(f"sort_order must be 'ts' or 'key', got {sort_order!r}")
        prev = self.snapshot()
        self.sort_order = sort_order
        if prev.get("sort_order") == sort_order:
            return prev["version"]
        return self.commit(
            dict(prev, sort_order=sort_order), expect_version=prev["version"]
        )

    def _compact_claimed(
        self, spark: SparkSession, snap: dict, todo: list[int]
    ) -> int:
        raw = self.read_raw(spark, todo, version=snap["version"])
        # sorted, size-split output (Iceberg sort-order discipline): each
        # bucket's base lands as one-or-more files with NARROW footer zone
        # maps on the sort column — whole-file skipping for the matching
        # read path (_sort_cols) instead of re-reading all history
        folded = (
            lww_fold(raw, T.StructType.fromJson(snap["schema"]).fieldNames())
            .hint("rebalance", "_bucket")
            .sortWithinPartitions(*self._sort_cols())
        )
        bstats = self.bucket_stats()
        rows = sum(
            bstats.get(b, {}).get("base_rows", 0)
            + bstats.get(b, {}).get("delta_rows", 0)
            for b in todo
        )
        per_file = max(rows // max(len(todo) * 4, 1), COMPACT_MIN_RECORDS_PER_FILE)
        _, new_files, stats = self.write_files(
            folded, todo, max_records_per_file=per_file
        )
        return self._commit_rewrite(todo, new_files, stats, snap)

    def _commit_rewrite(
        self, buckets: list[int], new_files: dict, stats: dict, planned: dict
    ) -> int:
        """Commit a maintenance rewrite with Iceberg-style conflict
        validation (``rewrite_data_files`` vs concurrent writers).

        A rewrite is only a *perf* change, so the safe reaction to any
        concurrency is to shrink it: before committing, every bucket whose
        plan-time files were REPLACED since the PLANNING snapshot is dropped
        from the commit (the concurrent CoW folded rows our fold never saw —
        its bucket simply stays uncompacted until next maintenance). Buckets
        that only gained APPENDED delta files stay in: the new base replaces
        exactly what the fold read and the appended files are carried
        forward over it by ``commit_merge``'s rebase (Iceberg semantics —
        concurrent appends never conflict with rewrite_data_files; without
        this, a steadily-appending writer starves maintenance forever and
        every compaction job's output is thrown away). The commit carries
        the CURRENT summary so the winner's exactly-once bookkeeping is
        preserved, and the plan's schema is swapped to the current one —
        folding old-schema rows stays valid after evolution (readers
        union-widen), so a schema move must not invalidate a rewrite. The
        version-race guard in ``commit`` (atomic create-if-absent) backstops
        writers on other nodes whose table view is stale; on that conflict
        we re-read and re-validate, bounded."""
        buckets = list(buckets)
        for _attempt in range(5):
            cur = self.snapshot()
            safe = []
            for b in buckets:
                pf = planned["files"].get(str(b), [])
                pd = planned["deltas"].get(str(b), [])
                cf = cur["files"].get(str(b), [])
                cd = cur["deltas"].get(str(b), [])
                if cf == pf and cd[: len(pd)] == pd:
                    safe.append(b)
            dropped = {str(b) for b in set(buckets) - set(safe)}
            for b in dropped:
                for rel in new_files.get(b, []):
                    stats.pop(rel, None)
                    try:
                        os.unlink(os.path.join(self.root, rel))
                    except OSError:
                        pass
            new_files = {b: ps for b, ps in new_files.items() if b not in dropped}
            buckets = safe
            if not buckets:
                return cur["version"]
            try:
                return self.commit_merge(
                    buckets, new_files, {}, stats, cur["schema"], cur["summary"],
                    base_snapshot=dict(planned, schema=cur["schema"]),
                    maintenance=True,
                )
            except CommitConflictError:
                continue
        raise CommitConflictError(
            "maintenance rewrite lost the commit race 5 times in a row; the "
            "table is under sustained concurrent writes — rerun it later"
        )

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> int:
        """Bucket-count evolution (Iceberg partition-spec-evolution analog,
        `ALTER TABLE ... REPLACE PARTITION FIELD bucket(N, conv_id)` + a
        `rewrite_data_files`): one full-table rewrite into ``new_n_buckets``
        hash buckets, committed as a single snapshot whose manifest carries
        the new count. Grow the count as the table grows so base files stay
        in the 128-512 MB sweet spot (``suggest_n_buckets``); at 10^10 rows
        that's ~16k buckets, not the toy default.

        Point lookups, merges, and compaction all derive bucket ids from the
        CURRENT manifest's count; time-travel reads of pre-rebucket versions
        keep using those manifests' own persisted count. Tombstones are kept
        (same rule as compact: a late out-of-order event must not resurrect
        a deleted row). Pending deltas are folded in — a rebucket is also a
        full compaction."""
        if new_n_buckets < 1:
            raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
        snap = self.snapshot()
        old_n = self.n_buckets
        if new_n_buckets == old_n:
            return self.current_version()
        raw = self.read_raw(spark, version=snap["version"])
        self.n_buckets = new_n_buckets
        try:
            new_buckets = list(range(new_n_buckets))
            if raw is None:
                new_files: dict[str, list[str]] = {}
                stats: dict = {}
            else:
                folded = (
                    lww_fold(raw, T.StructType.fromJson(snap["schema"]).fieldNames())
                    .withColumn(
                        "_bucket",
                        F.pmod(F.xxhash64("conv_id"), F.lit(new_n_buckets)).cast("int"),
                    )
                    .hint("rebalance", "_bucket")
                    .sortWithinPartitions(*self._sort_cols())
                )
                rows = sum(int(s.get("rows", 0)) for s in snap["filestats"].values())
                per_file = max(rows // max(new_n_buckets * 4, 1), COMPACT_MIN_RECORDS_PER_FILE)
                _, new_files, stats = self.write_files(
                    folded, new_buckets, max_records_per_file=per_file
                )
            # CAS against the planning snapshot: a rebucket folds the WHOLE
            # table, so ANY concurrent commit invalidates it — surface the
            # conflict (rerun maintenance) rather than dropping the
            # interloper's rows
            return self.commit(
                {
                    "files": new_files,
                    "deltas": {},
                    "filestats": stats,
                    "schema": snap["schema"],
                    "summary": snap["summary"],
                    "n_buckets": new_n_buckets,
                    "rebucketed_from": old_n,
                },
                expect_version=snap["version"],
            )
        except Exception:
            self.n_buckets = old_n
            raise

    def commit_merge(
        self,
        cow_buckets: list[int],
        cow_files: dict,
        mor_files: dict,
        filestats: dict,
        schema_json: dict,
        summary: dict,
        base_snapshot: dict | None = None,
        rebase_attempts: int = 20,
        maintenance: bool = False,
    ) -> int:
        """One atomic commit for a mixed merge: ``cow_buckets`` get their base
        replaced and deltas cleared (they were folded into the new base);
        ``mor_files`` are APPENDED to their buckets' delta lists. The commit
        is a CAS against the snapshot it was derived from (``base_snapshot``
        when the caller validated one, else the current).

        **Conflict rebase** (the multi-writer fast path, Delta/Iceberg-style
        logical conflict detection): losing the CAS does NOT force the caller
        to re-run its Spark jobs when the written files are still valid on
        the new snapshot —

        - a pure MoR commit (delta appends) commutes with ANY concurrent
          commit: a competitor's append lands in other delta files, and a
          competitor's compaction/CoW folded only files that existed in ITS
          snapshot, never these — so the manifest merge is simply re-derived
          against the fresh snapshot (driver-side, milliseconds) and retried;
        - a CoW commit rebases when its buckets' plan-time files are intact
          and the delta lists only GREW (Iceberg: appends never conflict
          with a rewrite): the new base replaces exactly what the fold read,
          and the competitor's appended delta files are carried forward over
          it — read-time LWW applies them as usual. Only a competitor that
          REPLACED the bucket (its own CoW/compaction) forces a re-plan, as
          does a schema move (the schema this merge decoded with is stale).

        A non-rebasable conflict raises CommitConflictError — the merge layer
        re-plans the whole batch against the fresh snapshot."""
        plan = base_snapshot if base_snapshot is not None else self.snapshot()
        prev = plan
        for _ in range(max(rebase_attempts, 1)):
            files = dict(prev["files"])
            deltas = dict(prev["deltas"])
            fs = dict(prev["filestats"])
            for b in cow_buckets:
                pf = plan["files"].get(str(b), [])
                pd = plan["deltas"].get(str(b), [])
                cf = prev["files"].get(str(b), [])
                cd = prev["deltas"].get(str(b), [])
                if cf != pf or cd[: len(pd)] != pd:
                    raise CommitConflictError(
                        f"bucket {b}: a concurrent commit replaced files this "
                        f"CoW rewrite folded — re-plan on the fresh snapshot"
                    )
                for p in pf + pd:
                    fs.pop(p, None)
                files[str(b)] = cow_files.get(str(b), [])
                # delta files appended by a competitor AFTER this rewrite was
                # planned stay live over the new base
                deltas[str(b)] = cd[len(pd):]
            for b, ps in mor_files.items():
                if ps:
                    deltas[str(b)] = deltas.get(str(b), []) + ps
            fs.update(filestats)
            merged_summary = summary
            if prev is not plan:
                # A merge commit's advisory per-batch fields describe ITS
                # batch — keep ours. A maintenance rewrite's summary is a
                # validation-time COPY of an older snapshot's, so the
                # competitor's (current) summary must win the advisory
                # fields or the published snapshot regresses batch_events/
                # batch_lineage and the next merge plans off stale estimates.
                if maintenance:
                    merged_summary = _rebase_summary(prev["summary"], summary)
                else:
                    merged_summary = _rebase_summary(summary, prev["summary"])
            try:
                return self.commit(
                    {"files": files, "deltas": deltas, "filestats": fs,
                     "schema": schema_json, "summary": merged_summary},
                    expect_version=prev["version"],
                )
            except CommitConflictError:
                cur = self.snapshot()
                if base_snapshot is not None and cur.get("schema") != plan.get(
                    "schema"
                ):
                    raise  # schema moved under us: re-plan with the new schema
                if int(cur.get("n_buckets") or 0) != int(plan.get("n_buckets") or 0):
                    # a concurrent rebucket() evolved the bucket universe:
                    # this merge's files were hashed with the OLD count, so
                    # carrying them forward would route keys to the wrong
                    # buckets — never rebasable, re-plan on the fresh snapshot
                    raise
                global REBASE_COUNT
                REBASE_COUNT += 1
                prev = cur  # rebase: re-derive the manifest merge and re-CAS
        raise CommitConflictError(
            f"commit_merge could not land after {rebase_attempts} rebases"
        )
